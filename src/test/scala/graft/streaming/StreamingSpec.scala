package graft.streaming

import graft.SparkSpec
import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import org.apache.spark.sql.functions._

/** D1-D5 semantics: buffer policy parity with the reference
  * (memory_row_buffer.go:47-107) and batch/stream equivalence of the
  * transcode pipeline.
  */
class StreamingSpec extends SparkSpec {
  import RowBuffer._

  private def buf(size: Int, p: OnFull) = new RowBuffer[Int](size, p)

  test("oversize batch rejected whole (TOO_BIG)") {
    val b = buf(4, Block)
    assert(b.writeBatch(1 to 5) == TooBig)
    assert(b.size == 0)
  }

  test("drop-oldest evicts the front of the buffer") {
    val b = buf(4, DropOldest)
    assert(b.writeBatch(Seq(1, 2, 3)) == Ok)
    assert(b.writeBatch(Seq(4, 5, 6)) == Ok)
    // needs 2 more slots → evicts 1, 2; buffer = [3, 4, 5, 6]
    assert(b.drainAll() == Seq(3, 4, 5, 6))
  }

  test("drop-newest keeps the TAIL of the incoming batch (head-drop quirk)") {
    val b = buf(4, DropNewest)
    assert(b.writeBatch(Seq(1, 2, 3)) == Ok)
    assert(b.writeBatch(Seq(4, 5, 6)) == Ok)
    // spareRoom=1: reference keeps batch[2:] = [6] — drops the HEAD
    // of the new batch, not its tail (memory_row_buffer.go:79-80)
    assert(b.drainAll() == Seq(1, 2, 3, 6))
  }

  test("block returns FULL and buffers nothing") {
    val b = buf(4, Block)
    assert(b.writeBatch(Seq(1, 2, 3)) == Ok)
    assert(b.writeBatch(Seq(4, 5)) == Full)
    assert(b.drainAll() == Seq(1, 2, 3))
  }

  test("exact-fit batch needs no policy") {
    val b = buf(4, Block)
    assert(b.writeBatch(Seq(1, 2)) == Ok)
    assert(b.writeBatch(Seq(3, 4)) == Ok)
    assert(b.size == 4)
  }

  test("flush drains FIFO in chunks (D2)") {
    val b = buf(10, Block)
    b.writeBatch(1 to 7)
    assert(b.flushBatch(3) == Seq(1, 2, 3))
    assert(b.flushBatch(3) == Seq(4, 5, 6))
    assert(b.flushBatch(3) == Seq(7))
    assert(b.flushBatch(3).isEmpty)
  }

  test("streaming pipeline lands exactly what batch transcode produces") {
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val batches = TranscodeE2E.fixtures.grouped(8)
      .map(_.map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues)))
      .toSeq

    val streamed = LandingIngest.runOnce(spark, TranscodeE2E.message, binding,
      batches, maxBufferSize = 1000, onFull = Block)

    import spark.implicits._
    val batch = binding.transcode(ProtoRows.decodeFramed(
      spark.createDataset(TranscodeE2E.frames), TranscodeE2E.message))

    // exact row-set equality both directions (arrays joined: exceptAll
    // needs hashable columns)
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(
      col("name"), col("type"), col("timestamp"), col("value"),
      array_join(col("`tags.key`"), ",").as("tk"),
      array_join(col("`tags.value`"), ",").as("tv"),
      array_join(col("labels"), ",").as("ls"))
    assert(flat(streamed).exceptAll(flat(batch)).isEmpty)
    assert(flat(batch).exceptAll(flat(streamed)).isEmpty)
    assert(streamed.count() == TranscodeE2E.NumRows)
  }

  test("D7 in-flight admission: excess concurrent batches rejected, never queued") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = java.nio.file.Files.createTempDirectory("graft-admission-")
    val shim = new LandingIngest.IngestShim(base.resolve("landing"),
      maxBufferSize = 1000, onFull = Block, maxInFlight = 3)
    // saturate the session: 3 writes in flight
    assert((1 to 3).forall(_ => shim.tryBeginStreamingWrite()))
    assert(shim.inFlightNow == 3)
    // 4th concurrent batch is rejected immediately (reference
    // TryAcquire — it does NOT block waiting for a permit)
    val r = Await.result(shim.writeBatchAsync(Seq(Array[Byte](1))), 5.seconds)
    assert(r == TooManyInFlight)
    assert(shim.buffer.size == 0, "rejected batch must not be buffered")
    // permits released → the same write is admitted and lands
    (1 to 3).foreach(_ => shim.endStreamingWrite())
    val ok = Await.result(shim.writeBatchAsync(Seq(Array[Byte](1))), 5.seconds)
    assert(ok == Ok && shim.buffer.size == 1)
    // async batches release their own permit on completion
    val rs = Future.sequence((1 to 20).map(_ =>
      shim.writeBatchAsync(Seq(Array[Byte](2)))))
    Await.result(rs, 10.seconds)
    assert(shim.inFlightNow == 0)
  }

  test("D6 writer group: drain-and-swap loses and duplicates nothing") {
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val msgs = TranscodeE2E.fixtures
      .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))
    val base = java.nio.file.Files.createTempDirectory("graft-wg-")
    val shim = new LandingIngest.IngestShim(base.resolve("landing"),
      maxBufferSize = 1000, onFull = Block)
    val group = new LandingIngest.WriterGroup(spark, TranscodeE2E.message,
      binding, shim, base.resolve("landing").toString,
      base.resolve("out").toString, base.resolve("ckpt").toString,
      writers = 1)
    try {
      shim.writeBatch(msgs.take(32))
      group.drain()
      group.reload(newWriters = 3) // hot swap mid-stream
      assert(group.numWriters == 3)
      shim.writeBatch(msgs.drop(32))
    } finally group.stop()
    val landed = spark.read.parquet(base.resolve("out").toString)
      .drop("p_batch")
    assert(landed.count() == TranscodeE2E.NumRows, "row lost or duplicated")
    val values = landed.select("value").collect().map(_.getLong(0)).sorted
    assert(values.toSeq == TranscodeE2E.fixtures.map(_.value).sorted)
  }

  test("P11 lenient decode dead-letters bad rows; parity path still fails whole batch") {
    import graft.proto.Wire
    import spark.implicits._
    // a blob holding one good message and one truncated message
    val badMsg = Array[Byte](0x0a, 0x7f) // field 1 len-delim, length 127, no bytes
    val mixed = Wire.joinFrames(Seq(
      ProtoRows.encodeValues(TranscodeE2E.message,
        TranscodeE2E.fixtures(0).protoValues),
      badMsg))
    val df = ProtoRows.decodeFramedLenient(
      spark.createDataset(TranscodeE2E.frames :+ mixed), TranscodeE2E.message)
    assert(df.count() == TranscodeE2E.NumRows + 2)
    assert(df.filter(col("_error").isNotNull).count() == 1)
    val good = df.filter(col("_error").isNull)
    assert(good.count() == TranscodeE2E.NumRows + 1)
    // good rows decode identically to the strict path (map/array cols
    // flattened: set ops can't hash them)
    def flatDecoded(df: org.apache.spark.sql.DataFrame) = df.select(
      col("name"), col("type"), col("timestamp"), col("value"),
      array_join(map_keys(col("tags")), ",").as("tk"),
      array_join(map_values(col("tags")), ",").as("tv"),
      array_join(col("labels"), ",").as("ls"))
    val strict = ProtoRows.decodeFramed(
      spark.createDataset(TranscodeE2E.frames :+ Wire.joinFrames(Seq(
        ProtoRows.encodeValues(TranscodeE2E.message,
          TranscodeE2E.fixtures(0).protoValues)))),
      TranscodeE2E.message)
    assert(flatDecoded(good.drop("_error")).exceptAll(flatDecoded(strict)).isEmpty)
    // parity mode: the same poisoned blob fails the batch outright
    intercept[Exception] {
      ProtoRows.decodeFramed(spark.createDataset(Seq(mixed)),
        TranscodeE2E.message).count()
    }
  }

  test("D5 sink replay of a micro-batch is idempotent per batchId") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-sink-").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    LandingIngest.sinkBatch(df, batchId = 0L, out, numWriters = 2)
    LandingIngest.sinkBatch(df, batchId = 0L, out, numWriters = 2) // replay
    assert(spark.read.parquet(out).count() == 2, "replay double-appended")
    LandingIngest.sinkBatch(df, batchId = 1L, out, numWriters = 2)
    assert(spark.read.parquet(out).count() == 4, "new batch must append")

    // crash replay of batch 2: the crashed attempt left a partial part
    // file in the batch's staging dir AND (an earlier attempt) a
    // complete p_batch=2 whose offset commit never happened
    LandingIngest.sinkBatch(df, batchId = 2L, out, numWriters = 2)
    val staging = java.nio.file.Paths.get(out, ".staging-p_batch=2")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000-crashed.snappy.parquet"),
      Array[Byte](0x50, 0x41, 0x52, 0x31, 0x15)) // truncated parquet
    // readers never see staging files: the partial part is not read
    assert(LandingIngest.readLanded(spark, out).count() == 6)
    LandingIngest.sinkBatch(df, batchId = 2L, out, numWriters = 2) // replay
    val landed = LandingIngest.readLanded(spark, out)
    assert(landed.count() == 6, "crash replay must land batch 2 exactly once")
    assert(landed.groupBy("id").count().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 3L, 2L -> 3L))
    assert(!java.nio.file.Files.exists(staging), "replay left its staging dir")
  }

  test("protojson timestamps: all legal fraction widths; absent → epoch; garbage raises") {
    import spark.implicits._
    def line(ts: String) =
      s"""{"name":"x","type":"SMALL","timestamp":$ts,"value":1,"tags":{},"labels":[]}"""
    val ok = Seq(
      line("\"2021-06-01T12:44:56Z\""),
      line("\"2021-06-01T12:44:56.004Z\""),
      line("\"2021-06-01T12:44:56.004000Z\""),
      line("\"2021-06-01T12:44:56.004000000Z\""),
      line("\"2021-06-01T14:44:56.004+02:00\""), // RFC3339 numeric offset
      """{"name":"absent","type":"SMALL","value":1,"tags":{},"labels":[]}""")
    val ms = JsonLines.parse(spark.createDataset(ok), TranscodeE2E.message)
      .select(unix_millis(col("timestamp"))).collect().map(_.getLong(0))
    assert(ms.toSeq == Seq(1622551496000L, 1622551496004L, 1622551496004L,
      1622551496004L, 1622551496004L, 0L))
    // protojson spellings: quoted int64 (the spec), numeric enum, and
    // full-range uint64-style values survive exactly
    val spellings = JsonLines.parse(spark.createDataset(Seq(
        """{"name":"q","type":2,"timestamp":"2021-06-01T12:44:56Z","value":"9007199254740993","tags":{},"labels":[]}""")),
      TranscodeE2E.message)
      .select(col("type"), col("value")).collect()(0)
    assert(spellings.getInt(0) == 2, "numeric enum value must resolve")
    assert(spellings.getLong(1) == 9007199254740993L,
      "quoted int64 must not round-trip through double")
    val bad = JsonLines.parse(
      spark.createDataset(Seq(line("\"not-a-time\""))), TranscodeE2E.message)
    intercept[Exception] { bad.collect() }
  }

  test("drop-newest admission shows up in the landed table") {
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val msgs = TranscodeE2E.fixtures
      .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))
    // capacity 16, batches of 8: first two admitted, the rest dropped
    // entirely (spareRoom 0 → batch.drop(8) = empty)
    val streamed = LandingIngest.runOnce(spark, TranscodeE2E.message, binding,
      msgs.grouped(8).toSeq, maxBufferSize = 16, onFull = DropNewest)
    assert(streamed.count() == 16)
    // the admitted rows are fixtures 0..15 (FIFO front of the stream)
    val values = streamed.select("value").collect().map(_.getLong(0)).sorted
    val expect = TranscodeE2E.fixtures.take(16).map(_.value).sorted
    assert(values.toSeq == expect)
  }
}
