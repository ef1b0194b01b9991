package graft.sources

import graft.pipeline.Similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

/** The IVF family's STORED cell index — the third application of the
  * stored-layout recipe (edit grams q106, MinHash bands q107; this
  * closes q99's "batch probes the history-trained index, recomputed
  * only because the harness is stateless"):
  *
  *  - `centroids/` — the deterministic Lloyd coarse quantizer
  *    (cid, centroid), nlist rows, trained on the corpus at write
  *    time exactly as `ivfAppendTopK` trains it;
  *  - `cells/`     — the corpus vectors parquet-PARTITIONED by their
  *    assigned cell (same fixed-point distance, same smaller-cid tie
  *    rule as the search path): a probe reads ONLY its nprobe cells'
  *    directories.
  *
  * [[probe]] returns the IDENTICAL result to `ivfAppendTopK` (the
  * partition filter removes only vectors whose cell the query never
  * probes — cell assignment is a pure function of vector and stored
  * centroids — and the exact-cosine rerank is the shared
  * `ivfSearch`), so q108 shares q99's oracle.
  */
object CellIndexLayout {

  /** Land the centroids/cells pair for `history`. Returns `dir`. */
  def write(history: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int = 16, rounds: Int = 2): String = {
    val spark = history.sparkSession
    import spark.implicits._
    val hbase = Similarity.vectors(history, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Similarity.lloydCentroids(hbase, nlist, rounds)
    cents.toSeq.toDF("cid", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val bc = spark.sparkContext.broadcast(cents)
    val assign = udf { (vd: Array[Double]) =>
      // min by (dist, cid) — the cellsOf sortBy(identity) tie rule
      var best = Long.MaxValue; var bid = Long.MaxValue
      bc.value.foreach { case (cid, c) =>
        val d = Similarity.distFpJvm(vd, c)
        if (d < best || (d == best && cid < bid)) { best = d; bid = cid }
      }
      bid
    }
    hbase.withColumn("cell", assign(col("vd")))
      .repartition(col("cell"))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    hbase.unpersist(blocking = false)
    dir
  }

  /** Fold landed vectors into the stored index WITHOUT retraining —
    * exactly how a production IVF grows (FAISS `add` after `train`):
    * new vectors are assigned by the FROZEN stored quantizer and
    * append into the existing cell directories. The quantizer drifts
    * from what fresh training on the grown corpus would produce —
    * that is inherent to IVF-add semantics, so the equivalence a spec
    * can pin is against `ivfSearch` with THESE centroids over the
    * grown corpus (CellIndexLayoutSpec does), not against a
    * retrained `ivfAppendTopK`; periodic retraining is a rebuild
    * ([[write]]), the maintenance path.
    */
  def append(vectors: DataFrame, idCol: String, vecCol: String,
      dir: String): String = {
    val spark = vectors.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("cid")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(cents)
    val assign = udf { (vd: Array[Double]) =>
      var best = Long.MaxValue; var bid = Long.MaxValue
      bc.value.foreach { case (cid, c) =>
        val d = Similarity.distFpJvm(vd, c)
        if (d < best || (d == best && cid < bid)) { best = d; bid = cid }
      }
      bid
    }
    Similarity.vectors(vectors, idCol, vecCol)
      .withColumn("cell", assign(col("vd")))
      .repartition(col("cell"))
      .sortWithinPartitions(col("id"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    dir
  }

  /** Stored form of `Similarity.ivfAppendTopK`: the batch's queries
    * probe the landed index — the probed-cell set (≤ nlist ids,
    * bounded driver state) becomes a literal partition predicate, so
    * only those cells' directories are read; the batch's own vectors
    * join the corpus side on the fly (they are searchable, q99
    * semantics); the exact rerank is the shared `ivfSearch` against
    * the stored centroids.
    */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, queryPred: Column => Column, k: Int,
      nprobe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("cid")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(cents)
    val probeCells = udf { (vd: Array[Double]) =>
      bc.value.map { case (cid, c) => (Similarity.distFpJvm(vd, c), cid) }
        .sortBy(identity).take(nprobe).map(_._2)
    }
    val probed = batch.filter(queryPred(col(idCol)))
      .select(explode(probeCells(col(vecCol).cast("array<double>")))
        .as("pcell"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val stored = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probed: _*))
      .select(col("id").as(idCol), col("vd").as(vecCol))
    val corpus = stored.unionByName(batch
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as(vecCol)))
    Similarity.ivfSearch(corpus, batch.filter(queryPred(col(idCol))),
      cents, idCol, vecCol, k, nprobe)
  }

  private val layouts = TrieMap.empty[String, String]

  /** The embeddings history cell index (vec_id % 3 != 0 — q99's
    * split) for a scale-factor dir, built on first use per JVM.
    */
  def embeddingsHistory(spark: SparkSession, dir: String): String =
    layouts.getOrElseUpdate(s"$dir/embeddings-cells", {
      val out = Files.createTempDirectory("graft-cellindex-").toString
      write(graft.Tables(spark, dir, "embeddings")
          .filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", out)
    })
}
