package graft.streaming

import graft.bind.Binding
import graft.proto.{PMessage, ProtoRows}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter

import java.nio.file.Path

/** The landed table of a streaming ingest drain (D5): how a landing
  * micro-batch writes it, and the consumer-side read and maintenance of
  * what it wrote.
  *
  * Topology (mirrors reference server.go:79-99 wiring): producer →
  * [[graft.sources.QueueSource]] admission (D1/D7) → Structured
  * Streaming micro-batch, one slice per writer (D3), flushed on the
  * table's interval (D4) → [[QueueIngest.transcoded]] (S3+S4, P1-P10)
  * → the [[LandingSinkProvider]] DataSourceV2 sink ([[landTo]]).
  *
  * The sink is the Spark analog of the reference's transactional
  * batched INSERT (clickhouse_table_writer.go:115-149): the micro-batch's
  * own tasks stage its part files, and its epoch commit renames them
  * into the batchId-keyed partition, so a micro-batch replay is
  * idempotent.
  */
object LandingIngest {

  private val Sink = classOf[LandingSinkProvider].getName

  /** `stream` landing under `outDir` through the [[LandingSinkProvider]]
    * sink: each micro-batch's tasks write its part files, and its epoch
    * commit publishes them as `p_batch=<batchId>`.
    */
  def landTo[T](stream: DataStreamWriter[T], outDir: String): DataStreamWriter[T] =
    stream.format(Sink).option("path", outDir)

  /** D5 for one frame: lands `df` as micro-batch `batchId` of the table
    * at `outDir`, through the same sink and epoch commit as a streaming
    * drain (a DSv2 batch write), written by at most `numWriters` tasks
    * (D3; `coalesce` is narrow, so a source that already reads one
    * partition per writer lands in a single stage). A replay lands
    * exactly once; a frame with no rows publishes nothing.
    */
  def sinkBatch(df: DataFrame, batchId: Long, outDir: String,
      numWriters: Int): Unit =
    df.coalesce(numWriters).write.format(Sink).option("path", outDir)
      .option("epoch", batchId).mode("append").save()

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

  /** The landed table at `out` — or, when no micro-batch published a
    * partition there (everything shed or rejected, or only empty
    * micro-batches: legitimate admission outcomes), an empty frame of the
    * binding's sink schema instead of a missing-path crash.
    */
  private[streaming] def landedOrEmpty(spark: SparkSession, out: Path,
      message: PMessage, binding: Binding): DataFrame =
    if (Option(out.toFile.list()).exists(_.exists(_.startsWith("p_batch="))))
      readLanded(spark, out.toString)
    else binding.transcode(ProtoRows.decode(
      spark.emptyDataset(Encoders.BINARY), message))
}
