package graft.streaming

import graft.bind.Binding
import graft.proto.{PMessage, ProtoRows}
import org.apache.hadoop.fs.{Path => FsPath}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.lit

import java.nio.file.{Files, Path}

/** The landed table of a streaming ingest drain (D5): the sink every
  * landing micro-batch writes through, and the consumer-side read and
  * maintenance of what it wrote.
  *
  * Topology (mirrors reference server.go:79-99 wiring): producer →
  * [[graft.sources.QueueSource]] admission (D1/D7) → Structured
  * Streaming micro-batch, one slice per writer (D3), flushed on the
  * table's interval (D4) → [[QueueIngest.transcoded]] (S3+S4, P1-P10)
  * → [[sinkBatch]].
  *
  * The sink is the Spark analog of the reference's transactional
  * batched INSERT (clickhouse_table_writer.go:115-149): each
  * micro-batch is staged whole, then renamed into its own
  * batchId-keyed partition, so a micro-batch replay is idempotent.
  */
object LandingIngest {

  /** D5 sink: one micro-batch = one `p_batch=<batchId>` partition,
    * written by at most `numWriters` tasks (D3; `coalesce` is narrow,
    * so a source that already reads one partition per writer lands in
    * a single stage). The batch is written whole into a hidden staging
    * dir, then one directory rename publishes it. A replay after a
    * crash replaces the staged leftovers and any partition the crashed
    * attempt already published, so it lands exactly once — actually
    * idempotent, not by convention (ADVICE r2 #3). The staging name
    * starts with `.`: Spark's file listing skips such paths, while a
    * `_`-prefixed name containing `=` would be read as a partition.
    */
  def sinkBatch(df: DataFrame, batchId: Long, outDir: String,
      numWriters: Int): Unit = {
    val out = new FsPath(outDir)
    val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new FsPath(out, s".staging-p_batch=$batchId")
    val part = new FsPath(out, s"p_batch=$batchId")
    fs.delete(staging, true)
    df.coalesce(numWriters).write.parquet(staging.toString)
    fs.delete(part, true)
    if (!fs.rename(staging, part))
      throw new java.io.IOException(s"could not rename $staging to $part")
  }

  /** Consumer-side read of a landed table: the user-facing rows
    * without the sink's `p_batch` bookkeeping partition column (the
    * idempotence key). Partition discovery still prunes on it when a
    * caller filters before this drop.
    */
  def readLanded(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("p_batch")

  /** Part consolidation for the landed raw table — the MergeTree
    * background-merge analog for data parts (RollupSink.compact is
    * the summing variant): every p_batch part is rewritten into one
    * consolidated part and swapped in atomically. The per-batch sink
    * necessarily writes many small parts (one per micro-batch x
    * writer — correct for durability, pathological for scan fan-out
    * at 100 TB); periodic consolidation restores healthy file sizes.
    * Maintenance-path only: must not race an active stream, and a
    * batch replayed after its part was folded would double-append —
    * stop the query first, exactly like RollupSink.compact.
    */
  def compact(spark: SparkSession, outDir: String, files: Int = 8): Unit = {
    val folded = spark.read.parquet(outDir)
      .drop("p_batch")
      .repartition(files)
      .withColumn("p_batch", lit(-1L))
    Parts.swapIn(outDir, tmp =>
      folded.write.mode("overwrite").partitionBy("p_batch").parquet(tmp))
  }

  /** The landed table at `out` — or, when nothing landed (everything
    * shed/rejected, a legitimate admission outcome), an empty frame of
    * the binding's sink schema instead of a missing-path crash.
    */
  private[streaming] def landedOrEmpty(spark: SparkSession, out: Path,
      message: PMessage, binding: Binding): DataFrame =
    if (Files.exists(out)) readLanded(spark, out.toString)
    else binding.transcode(ProtoRows.decode(
      spark.emptyDataset(Encoders.BINARY), message))
}
