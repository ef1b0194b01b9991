package graft.streaming

import graft.bind.Binding
import graft.proto.{PMessage, ProtoRows, Wire}
import org.apache.hadoop.fs.{Path => FsPath}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

/** Streaming ingest (D1-D5), file-landing flavor — the
  * SURVEY-sanctioned shim for the reference's gRPC surface: identical
  * admission and flush semantics, different wire transport.
  *
  * Topology (mirrors reference server.go:79-99 wiring):
  *
  *   producer → [IngestShim: RowBuffer admission (D1) + timed flush
  *   (D4) → framed blob files]  →  Structured Streaming: binaryFile
  *   source → decodeFramed (S3+S4) → Binding.transcode (P1-P10) →
  *   foreachBatch parquet sink (D5) with at most numWriters tasks (D3)
  *
  * The foreachBatch sink is the Spark analog of the reference's
  * transactional batched INSERT (clickhouse_table_writer.go:115-149):
  * each micro-batch is staged whole, then renamed into its own
  * batchId-keyed partition, so a micro-batch replay is idempotent.
  */
object LandingIngest {

  /** Admission front-end: accepts encoded message batches, applies the
    * buffer policy, and periodically (or explicitly) flushes the
    * buffer as one varint-framed blob file into the landing dir. File
    * writes are tmp+atomic-rename so the streaming source never sees
    * a partial frame (the durability boundary the reference's acked-
    * but-unflushed window sits behind, SURVEY §3.1).
    */
  final class IngestShim(landingDir: Path, maxBufferSize: Int,
      onFull: RowBuffer.OnFull, maxBatchSize: Int = 10000,
      maxInFlight: Int = 12) {
    val buffer = new RowBuffer[Array[Byte]](maxBufferSize, onFull)
    private val seq = new AtomicLong(0)
    private val inFlight = new java.util.concurrent.Semaphore(maxInFlight)
    Files.createDirectories(landingDir)

    def writeBatch(messages: Seq[Array[Byte]]): RowBuffer.WriteResult =
      buffer.writeBatch(messages)

    /** D7 admission for the streaming path: a session processes at
      * most `maxInFlight` batches concurrently; an excess write is
      * rejected immediately (never queued), mirroring the reference's
      * TryAcquire on a 12-permit semaphore
      * (ingest_service.go:185,219-227).
      */
    def tryBeginStreamingWrite(): Boolean = inFlight.tryAcquire()
    def endStreamingWrite(): Unit = inFlight.release()
    def inFlightNow: Int = maxInFlight - inFlight.availablePermits()

    /** Streaming-path write: admission-checked, processed
      * asynchronously like the reference's per-batch goroutine
      * (ingest_service.go:224-227); the future completes with the
      * buffer-policy result.
      */
    def writeBatchAsync(messages: Seq[Array[Byte]])(
        implicit ec: scala.concurrent.ExecutionContext)
        : scala.concurrent.Future[RowBuffer.WriteResult] =
      if (!tryBeginStreamingWrite())
        scala.concurrent.Future.successful(RowBuffer.TooManyInFlight)
      else scala.concurrent.Future {
        try buffer.writeBatch(messages) finally endStreamingWrite()
      }

    /** Drain one flush chunk (≤ maxBatchSize rows, D2) to a landing
      * file; returns rows flushed.
      */
    def flush(): Int = {
      val msgs = buffer.flushBatch(maxBatchSize)
      if (msgs.nonEmpty) land(msgs)
      msgs.size
    }

    /** Drain everything (used at shutdown / test barriers). */
    def flushAll(): Int = {
      var total = 0
      var n = flush()
      while (n > 0) { total += n; n = flush() }
      total
    }

    private def land(msgs: Seq[Array[Byte]]): Unit = {
      val blob = Wire.joinFrames(msgs)
      val tmp = Files.createTempFile(landingDir, ".tmp-", ".part")
      Files.write(tmp, blob)
      Files.move(tmp, landingDir.resolve(
        f"batch-${System.currentTimeMillis()}%d-${seq.getAndIncrement()}%06d.bin"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The streaming transcode pipeline: landing dir → decoded → sink
    * projection → parquet append. `flushIntervalMs` maps the
    * reference's writer flush_interval to Trigger.ProcessingTime;
    * `availableNow` processes the current backlog then stops (used by
    * the synchronous driver query and tests). A custom `sink`
    * replaces the parquet foreachBatch body — the JDBC landing flavor
    * passes `(df, id) => JdbcSink.sinkBatch(df, id, url, table)` to
    * land the SAME decoded/transcoded stream into a SQL engine with
    * the reference's transactional INSERT semantics (JdbcSinkSpec
    * runs it end to end against Derby).
    */
  def start(spark: SparkSession, message: PMessage, binding: Binding,
      landingDir: String, outDir: String, checkpointDir: String,
      numWriters: Int = 2, flushIntervalMs: Long = 1000,
      availableNow: Boolean = false,
      sink: Option[(DataFrame, Long) => Unit] = None): StreamingQuery = {
    val frames = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(landingDir)
      .select(col("content"))
      .as[Array[Byte]](Encoders.BINARY)

    val decoded = ProtoRows.decodeFramed(frames, message)
    val transcoded = binding.transcode(decoded)

    transcoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(flushIntervalMs))
      .foreachBatch(sink.getOrElse { (df: DataFrame, batchId: Long) =>
        sinkBatch(df, batchId, outDir, numWriters)
      })
      .start()
  }

  /** D6 writer-group lifecycle with hot drain-and-swap (reference
    * server.go:79-99,101-123: on reload, old writers are drained, new
    * ones started atomically). Spark analog: the writer count is a
    * property of the running StreamingQuery, so a reconfigure is
    * drain (flush the admission buffer, finish the backlog) → stop →
    * restart from the SAME checkpoint with the new writer count. The
    * checkpoint plus the batchId-idempotent sink guarantee the swap
    * neither loses nor duplicates rows (StreamingSpec proves it).
    */
  final class WriterGroup(spark: SparkSession, message: PMessage,
      binding: Binding, val shim: IngestShim, landingDir: String,
      outDir: String, checkpointDir: String,
      @volatile private var writers: Int, flushIntervalMs: Long = 100) {
    private var query: StreamingQuery =
      start(spark, message, binding, landingDir, outDir, checkpointDir,
        numWriters = writers, flushIntervalMs = flushIntervalMs)

    def numWriters: Int = writers

    /** Land everything admitted so far and wait until the stream has
      * processed it (the reference's drain barrier). Synchronized so a
      * concurrent reload()/stop() can't swap the query out from under
      * the barrier (both hold the same reentrant lock).
      */
    def drain(): Unit = synchronized {
      shim.flushAll()
      query.processAllAvailable()
    }

    /** Drain-and-swap to a new writer count. */
    def reload(newWriters: Int): Unit = synchronized {
      drain()
      query.stop()
      query.awaitTermination()
      writers = newWriters
      query = start(spark, message, binding, landingDir, outDir,
        checkpointDir, numWriters = writers, flushIntervalMs = flushIntervalMs)
    }

    def stop(): Unit = synchronized {
      drain()
      query.stop()
      query.awaitTermination()
    }
  }

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
    * without the sink's bookkeeping partition columns — `p_batch`
    * (idempotence key, always present) and `e` (the drain-incarnation
    * epoch `ServerMain` adds under `data/e=<k>/`, present only for
    * server-landed dirs). Partition discovery still prunes on them
    * when a caller filters before this drop; after it, consumers see
    * one logical table regardless of how many incarnations landed it.
    */
  def readLanded(spark: SparkSession, outDir: String): DataFrame = {
    val df = spark.read.parquet(outDir)
    df.drop(Seq("p_batch", "e").filter(df.columns.contains): _*)
  }

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

  /** Synchronous end-to-end run over a fixed set of message batches:
    * admit through the shim (applying the buffer policy), flush all,
    * stream the backlog with AvailableNow, and return the landed
    * table. This is the batch-equivalence surface the driver verifies.
    */
  def runOnce(spark: SparkSession, message: PMessage, binding: Binding,
      batches: Seq[Seq[Array[Byte]]], maxBufferSize: Int,
      onFull: RowBuffer.OnFull, numWriters: Int = 2): DataFrame = {
    val base = Files.createTempDirectory("graft-ingest-")
    val landing = base.resolve("landing")
    val shim = new IngestShim(landing, maxBufferSize, onFull)
    batches.foreach(b => shim.writeBatch(b))
    shim.flushAll()
    val q = start(spark, message, binding, landing.toString,
      base.resolve("out").toString, base.resolve("ckpt").toString,
      numWriters = numWriters, availableNow = true)
    q.awaitTermination()
    landedOrEmpty(spark, base.resolve("out"), message, binding)
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
