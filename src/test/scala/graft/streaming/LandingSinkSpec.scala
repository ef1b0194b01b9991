package graft.streaming

import graft.SparkSpec
import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.sources.QueueSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

object LandingSinkSpec {
  /** While armed, every row after the third fails its write task. */
  val armed = new AtomicBoolean(false)
  val seen = new AtomicInteger(0)
}

/** The landing sink (`LandingSinkProvider`): what it writes, what a
  * failed epoch leaves behind, and the filesystem its writers use.
  */
class LandingSinkSpec extends SparkSpec {
  import LandingSinkSpec._

  private val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
  private def msgs = TranscodeE2E.fixtures
    .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))

  /** Rows and the order-insensitive sum of their `xxhash64`. */
  private def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def partitions(out: Path): Seq[String] =
    Option(out.toFile.list()).toSeq.flatten.filter(_.startsWith("p_batch=")).sorted

  test("the sink lands what df.write.parquet writes: schema and rows, " +
      "as a batch write and as a streaming drain") {
    import spark.implicits._
    val frame = binding.transcode(ProtoRows.decodeFramed(
      spark.createDataset(TranscodeE2E.frames), TranscodeE2E.message))
    val base = Files.createTempDirectory("graft-landing-sink-")
    val plain = spark.read.parquet {
      frame.write.parquet(base.resolve("plain").toString)
      base.resolve("plain").toString
    }
    LandingIngest.sinkBatch(frame, 0L, base.resolve("sink").toString, numWriters = 2)
    val sunk = LandingIngest.readLanded(spark, base.resolve("sink").toString)
    val streamed = QueueIngest.runOnce(spark, TranscodeE2E.message, binding,
      msgs.grouped(8).toSeq, capacity = 1000, onFull = RowBuffer.Block,
      name = "landingsink-parity")
    assert(sunk.schema == plain.schema)
    assert(streamed.schema == plain.schema)
    val expect = checksum(plain)
    assert(expect._1 == TranscodeE2E.NumRows)
    assert(checksum(sunk) == expect)
    assert(checksum(streamed) == expect)
  }

  test("a failing writer task publishes nothing; the epoch's next attempt " +
      "lands exactly once") {
    val name = "landingsink-fail"
    val q = QueueSource.create(name, 1000, RowBuffer.Block)
    assert(q.writeBatch(msgs) == RowBuffer.Ok)
    val base = Files.createTempDirectory("graft-landing-fail-")
    val out = base.resolve("out")
    val trip = udf { (v: Long) =>
      if (armed.get && seen.incrementAndGet() > 3)
        throw new IllegalStateException("injected write task failure")
      v
    }
    def start() = LandingIngest.landTo(
      QueueIngest.transcoded(spark, name, 2, TranscodeE2E.message, binding)
        .withColumn("value", trip(col("value")))
        .writeStream.option("checkpointLocation", base.resolve("ckpt").toString),
      out.toString).start()
    try {
      armed.set(true)
      val failing = start()
      intercept[StreamingQueryException](failing.processAllAvailable())
      // the tasks wrote rows before failing, and published none of them
      assert(seen.get > 3)
      assert(partitions(out).isEmpty)
      assert(!Files.exists(out.resolve(".staging-p_batch=0")))
      armed.set(false)
      val retry = start()
      retry.processAllAvailable()
      retry.stop()
    } finally {
      armed.set(false)
      QueueSource.drop(name)
    }
    assert(partitions(out) == Seq("p_batch=0"))
    val landed = LandingIngest.readLanded(spark, out.toString)
    assert(landed.select("value").collect().map(_.getLong(0)).sorted.toSeq ==
      TranscodeE2E.fixtures.map(_.value).sorted)
  }

  test("an epoch with no rows publishes nothing and keeps a published partition") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-landing-empty-").resolve("t")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    LandingIngest.sinkBatch(df.limit(0), 0L, out.toString, numWriters = 2)
    assert(partitions(out).isEmpty)
    LandingIngest.sinkBatch(df, 1L, out.toString, numWriters = 2)
    LandingIngest.sinkBatch(df.limit(0), 1L, out.toString, numWriters = 2) // replay
    assert(partitions(out) == Seq("p_batch=1"))
    assert(LandingIngest.readLanded(spark, out.toString).count() == 2)
    // a drain whose queue held nothing lands the empty sink-schema frame
    val none = QueueIngest.runOnce(spark, TranscodeE2E.message, binding, Nil,
      capacity = 16, onFull = RowBuffer.Block, name = "landingsink-none")
    assert(none.count() == 0)
    assert(none.columns.toSeq == TranscodeE2E.table.map(_.name))
  }

  test("the writers' filesystem for file: is the fork-free one") {
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    val conf = LandingSink.executorConf(LandingSink.parquetSettings(schema))
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(new java.net.URI("file:///"), conf)
    try assert(fs.isInstanceOf[graft.io.ForkFreeLocalFileSystem], fs.getClass)
    finally fs.close()
    // the settings carry the schema and codec, not a whole Configuration
    val settings = LandingSink.parquetSettings(schema)
    assert(settings.size < 20, settings.keys)
    assert(settings.get("parquet.compression").contains("SNAPPY"))
  }
}
