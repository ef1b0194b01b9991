package graft.sources

import graft.pipeline.Dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Paths

/** The STORED component labeling — the continuous-dedup counterpart of
  * the stored candidate indexes ([[GramIndexLayout]] grams,
  * [[BandIndexLayout]] bands, [[CellIndexLayout]] cells): those make
  * PAIR DISCOVERY incremental; this makes the CLUSTER STATE
  * incremental. The labeling (node, canon) lives as a parquet table
  * partitioned by `pb` = pmod(canon, nBuckets) and sorted within files
  * by node; each batch's verified pairs FOLD in via
  * [[Dedup.incrementalComponents]] semantics with storage I/O
  * proportional to the TOUCHED partitions, not the corpus:
  *
  *  1. the batch's nodes look up their stored canons — honestly: ONE
  *     full scan of the (node, canon) projection per fold. That table
  *     is 16 B/row — LABEL-sized, not corpus-sized (a 10^10-doc corpus
  *     is ~160 GB of labels vs ~100 TB of text) — and a deployment
  *     folding high-rate batches would add a node-bucketed twin of the
  *     projection as the lookup index (the same storage trade the band
  *     index makes); join keys do not push down as parquet row-group
  *     filters, so the node-sorted files do NOT make this semi-join
  *     skip row groups;
  *  2. affected canons' pb set (bounded: ≤ nBuckets ints) prunes the
  *     read of affected component rows at the directory level;
  *  3. the affected star edges ∪ new pairs relabel through
  *     [[Dedup.connectedComponents]];
  *  4. ONLY the touched partitions rewrite — dynamic partition
  *     overwrite of (surviving rows ∪ relabeled rows) for the old ∪
  *     new pb set; untouched directories are never written (and never
  *     read by steps 2-4).
  *
  * A partition whose every component merged away (possible only in
  * toy corpora) would be absent from the dynamic-overwrite frame and
  * keep stale files; [[fold]] deletes such directories explicitly.
  *
  * Exactness: identical argument to [[Dedup.incrementalComponents]] —
  * stars preserve connectivity, merges always pass through a new
  * pair, the merged canon is the min over the union — so after any
  * sequence of folds the stored labeling equals a from-scratch
  * [[Dedup.connectedComponents]] over ALL pairs ever folded
  * (spec-pinned, including multi-fold lifecycles).
  */
object LabelStoreLayout {

  private def withPb(labels: DataFrame, nBuckets: Int): DataFrame =
    labels
      .select(col("node").cast("long").as("node"),
        col("canon").cast("long").as("canon"))
      .withColumn("pb", pmod(col("canon"), lit(nBuckets)).cast("int"))

  /** Land a labeling (columns node, canon) at `dir`. Returns `dir`.
    * `nBuckets = 0` (the default) derives the bucket count from the
    * labeling's measured size and records it in the layout sidecar
    * ([[LayoutMeta]]); an explicit value is honored and recorded.
    */
  def write(labels: DataFrame, dir: String, nBuckets: Int = 0): String = {
    val cached = labels
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n =
      if (nBuckets > 0) nBuckets else LayoutMeta.nBucketsFor(cached.count())
    withPb(cached, n)
      .repartition(col("pb"))
      .sortWithinPartitions(col("node"))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$dir/labels")
    LayoutMeta.writeNBuckets(dir, n)
    cached.unpersist(blocking = false)
    dir
  }

  /** The stored labeling, as (node, canon). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/labels").select(col("node"), col("canon"))

  /** Fold a batch of verified pairs into the stored labeling.
    * `nBuckets = 0` reads the layout's recorded bucket count — the
    * pmod pruning below must match the store as built.
    */
  def fold(spark: SparkSession, dir: String, newPairs: DataFrame,
      aCol: String, bCol: String, nBuckets0: Int = 0): String = {
    val nBuckets =
      if (nBuckets0 > 0) nBuckets0 else LayoutMeta.readNBuckets(dir)
    val np = newPairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (np.count() == 0L) { np.unpersist(blocking = false); return dir }
    val stored = spark.read.parquet(s"$dir/labels")
    val touched = np.select(col("a").as("node"))
      .union(np.select(col("b").as("node"))).distinct()
    val affCanons = stored.join(touched, Seq("node"), "left_semi")
      .select(col("canon")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pbOld = affCanons
      .select(pmod(col("canon"), lit(nBuckets)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // affected component rows: canon-keyed lookup, directory-pruned
    val affRows = stored.filter(col("pb").isin(pbOld: _*))
      .join(affCanons, Seq("canon"), "left_semi")
      .select(col("node"), col("canon"))
    val sub = affRows.select(col("node").as("a"), col("canon").as("b"))
      .filter(col("a") =!= col("b"))
      .union(np)
    val relabeled = Dedup.connectedComponents(sub, "a", "b")
    val pbNew = relabeled
      .select(pmod(col("canon"), lit(nBuckets)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pbTouched = (pbOld ++ pbNew).distinct
    val keep = stored.filter(col("pb").isin(pbTouched: _*))
      .join(affCanons, Seq("canon"), "left_anti")
      .select(col("node"), col("canon"))
    val content = withPb(keep.union(relabeled), nBuckets)
      .repartition(col("pb"))
      .sortWithinPartitions(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val presentPbs = content.select(col("pb")).distinct()
        .collect().map(_.getInt(0)).toSet
      // per-WRITER dynamic overwrite: mutating the session conf here
      // would race a concurrent fold/write on the same session (its
      // restore could flip an in-flight overwrite to static mode,
      // deleting every untouched partition)
      content.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(s"$dir/labels")
      // a touched partition that ended up empty keeps stale files
      // under dynamic overwrite — remove the directory outright
      pbTouched.filterNot(presentPbs).foreach(pb =>
        graft.streaming.Parts.deleteTree(Paths.get(s"$dir/labels/pb=$pb")))
    } finally {
      // unpersist in finally: a failed write must not leak a full
      // labeling copy (plus the pair/canon frames) per retry
      content.unpersist(blocking = false)
      affCanons.unpersist(blocking = false)
      np.unpersist(blocking = false)
    }
    dir
  }

  // one stored labeling per (source dir, split) per JVM — the
  // BandIndexLayout memoization pattern. Re-running a query that
  // folds the same batch into the memoized store is safe: folding an
  // already-folded pair set relabels the affected components to the
  // labels they already carry (CC over current stars ∪ the same
  // pairs), so the store is a fixpoint under replay.
  private val layouts =
    new scala.collection.concurrent.TrieMap[String, String]()

  /** The documents history labeling (doc_id % 3 != 0 — the q110
    * split, clustered from its MinHash pairs), built on first use per
    * JVM.
    */
  def documentsHistory(spark: SparkSession, dir: String): String =
    layouts.getOrElseUpdate(s"$dir/documents-labels", {
      val out = java.nio.file.Files
        .createTempDirectory("graft-labelstore-").toString
      val hist = graft.Tables(spark, dir, "documents")
        .filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(3)) =!= 0)
      write(Dedup.connectedComponents(
        Dedup.minhashNearDups(hist, "text", "doc_id", 0.5), "a", "b"), out)
    })
}
