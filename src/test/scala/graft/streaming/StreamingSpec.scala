package graft.streaming

import graft.SparkSpec
import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.sources.QueueSource
import org.apache.spark.sql.functions._

/** D1-D7 semantics: buffer policy parity with the reference
  * (memory_row_buffer.go:47-107) on the ingest queue, batch/stream
  * equivalence of the transcode pipeline, the server's reload swap
  * and the streaming session's in-flight admission.
  */
class StreamingSpec extends SparkSpec {
  import RowBuffer._

  private def queue(capacity: Int, p: OnFull) =
    new QueueSource.IngestQueue(capacity, p)
  private def rows(xs: Seq[Int]): Seq[Array[Byte]] = xs.map(x => Array(x.toByte))
  private def held(q: QueueSource.IngestQueue): Seq[Int] =
    q.bodies(q.firstSeq, q.endSeq)._2.map(_(0).toInt).toSeq
  private def depth(q: QueueSource.IngestQueue): Long = q.endSeq - q.firstSeq

  test("oversize batch rejected whole (TOO_BIG)") {
    val q = queue(4, Block)
    assert(q.writeBatch(rows(1 to 5)) == TooBig)
    assert(depth(q) == 0)
  }

  test("drop-oldest evicts the front of the buffer") {
    val q = queue(4, DropOldest)
    assert(q.writeBatch(rows(Seq(1, 2, 3))) == Ok)
    assert(q.writeBatch(rows(Seq(4, 5, 6))) == Ok)
    // needs 2 more slots → evicts 1, 2; buffer = [3, 4, 5, 6]
    assert(held(q) == Seq(3, 4, 5, 6))
  }

  test("drop-newest keeps the TAIL of the incoming batch (head-drop quirk)") {
    val q = queue(4, DropNewest)
    assert(q.writeBatch(rows(Seq(1, 2, 3))) == Ok)
    assert(q.writeBatch(rows(Seq(4, 5, 6))) == Ok)
    // spareRoom=1: reference keeps batch[2:] = [6] — drops the HEAD
    // of the new batch, not its tail (memory_row_buffer.go:79-80)
    assert(held(q) == Seq(1, 2, 3, 6))
  }

  test("block returns FULL and buffers nothing") {
    val q = queue(4, Block)
    assert(q.writeBatch(rows(Seq(1, 2, 3))) == Ok)
    assert(q.writeBatch(rows(Seq(4, 5))) == Full)
    assert(held(q) == Seq(1, 2, 3))
  }

  test("exact-fit batch needs no policy") {
    val q = queue(4, Block)
    assert(q.writeBatch(rows(Seq(1, 2))) == Ok)
    assert(q.writeBatch(rows(Seq(3, 4))) == Ok)
    assert(depth(q) == 4)
  }

  test("flush drains FIFO in chunks (D2)") {
    val q = queue(10, Block)
    q.writeBatch(rows(1 to 7))
    // a reader takes [start, start + n) and commits it, as a drain
    // micro-batch does with its offsets
    def chunk(n: Int): Seq[Int] = {
      val (start, bodies) = q.bodies(q.firstSeq, q.firstSeq + n)
      q.truncate(start + bodies.length)
      bodies.map(_(0).toInt).toSeq
    }
    assert(chunk(3) == Seq(1, 2, 3))
    assert(chunk(3) == Seq(4, 5, 6))
    assert(chunk(3) == Seq(7))
    assert(chunk(3).isEmpty)
  }

  test("streaming pipeline lands exactly what batch transcode produces") {
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val batches = TranscodeE2E.fixtures.grouped(8)
      .map(_.map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues)))
      .toSeq

    val streamed = QueueIngest.runOnce(spark, TranscodeE2E.message, binding,
      batches, capacity = 1000, onFull = Block, name = "streamingspec-equivalence")

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
    import graft.net.{IngestEngine, IngestServer, Metrics}
    import graft.net.ControlProto._
    import java.util.concurrent.{CountDownLatch, Executors, LinkedBlockingQueue, TimeUnit}
    val q = queue(1000, Block)
    val pool = Executors.newSingleThreadExecutor()
    val engine = new IngestEngine(
      () => Map("ExampleMessage" -> IngestServer.Target(TranscodeE2E.message, q)),
      maxInFlight = 3, backoffHighWater = 1.0, backoffMs = 250, new Metrics, pool)
    val sent = new LinkedBlockingQueue[ServerMessage]()
    val session = new engine.Session(m => { sent.add(m); () })
    val data = graft.proto.Wire.joinFrames(Seq(ProtoRows.encodeValues(
      TranscodeE2E.message, TranscodeE2E.fixtures(0).protoValues)))
    def batch(id: Int) = ClientWriteBatch(id, Some("ExampleMessage"), None, 1, data)
    /** Block the pool's one thread until the returned latch opens. */
    def blockPool(): CountDownLatch = {
      val gate = new CountDownLatch(1)
      pool.submit[Unit](() => gate.await())
      gate
    }
    def tooMany(id: Int) = ServerWriteBatchResult(id, BatchResult.TooManyInFlightBatches)
    try {
      val gate = blockPool()
      // saturate the session: 3 batches hold permits, queued on the pool
      (1 to 3).foreach(i => assert(session.handle(batch(i))))
      assert(sent.isEmpty)
      // the 4th is answered at once (reference TryAcquire — it does NOT
      // block waiting for a permit) and admits nothing
      assert(session.handle(batch(4)))
      assert(sent.poll() == tooMany(4))
      assert(depth(q) == 0, "rejected batch must not be buffered")
      gate.countDown()
      val acks = Seq.fill(3)(sent.poll(10, TimeUnit.SECONDS))
      assert(acks.toSet == (1 to 3).map(ServerWriteBatchResult(_, BatchResult.Ok)).toSet)
      assert(depth(q) == 3)
      // the batches' own permit release runs after their ack: wait for
      // the pool to finish them, then all three permits are free again
      pool.submit[Unit](() => ()).get(10, TimeUnit.SECONDS)
      val gate2 = blockPool()
      (5 to 7).foreach(i => assert(session.handle(batch(i))))
      assert(sent.isEmpty, "a freed permit was still held")
      assert(session.handle(batch(8)))
      assert(sent.poll() == tooMany(8))
      gate2.countDown()
      assert(Seq.fill(3)(sent.poll(10, TimeUnit.SECONDS)).forall(
        _.asInstanceOf[ServerWriteBatchResult].result == BatchResult.Ok))
    } finally { pool.shutdownNow(); () }
  }

  test("D6 writer group: drain-and-swap loses and duplicates nothing") {
    // The server's own reload path: a batch acked while the drains are
    // stopped, then a reload that changes the writer count AND shrinks
    // the queue below the rows it holds, must still land once.
    import graft.net.{BristleServer, IngestClient, LandingConfig, Metrics, ServerMain}
    import graft.net.ControlProto.BatchResult
    import java.nio.file.Files
    val msgs = TranscodeE2E.fixtures
      .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))
    val (a, b, c) = (msgs.take(16), msgs.slice(16, 32), msgs.drop(32))
    val dir = Files.createTempDirectory("graft-reload-")
    val server = new BristleServer(
      LandingConfig.write(dir, capacity = 64, writers = 1), new Metrics).start()
    val client = new IngestClient("127.0.0.1", server.ingest.boundPort)
    def write(rows: Seq[Array[Byte]], retryTimes: Int = 0): Unit = assert(
      client.writeBatch("ExampleMessage", rows, retryTimes) == BatchResult.Ok)
    val data = dir.resolve("land/data")
    def batchDirs: Set[String] =
      Option(data.toFile.list()).toSet.flatten.filter(_.startsWith("p_batch="))
    var drains = ServerMain.startDrains(spark, server)
    def landAll(): Unit = drains.values.foreach(_.processAllAvailable())
    var beforeReload = Set.empty[String]
    try {
      client.registerType("ExampleMessage")
      write(a)
      landAll()
      beforeReload = batchDirs
      ServerMain.stopDrains(drains)
      drains = Map.empty
      val q = server.queues("landing.example")
      write(b) // acked while no drain runs
      LandingConfig.write(dir, capacity = 12, writers = 3) // 12 < B's 16 rows
      drains = ServerMain.reloadDrains(spark, server, drains)
      assert(server.drains.map(_.table.writers) == Seq(3))
      assert(server.queues("landing.example") eq q)
      assert(q.capacity == 12)
      landAll()
      // the drain releases B's rows when the listener bus delivers the
      // batch's progress, just after landAll returns, so C may first
      // meet FULL at the shrunk capacity; the client retries FULL, as
      // the reference's does
      c.grouped(8).foreach { g => write(g, retryTimes = 50); landAll() }
    } finally {
      ServerMain.stopDrains(drains)
      client.close()
      server.stop()
      server.queues.keys.foreach(QueueSource.drop)
    }
    val landed = LandingIngest.readLanded(spark, data.toString)
    assert(landed.count() == TranscodeE2E.NumRows, "row lost or duplicated")
    val values = landed.select("value").collect().map(_.getLong(0)).sorted
    assert(values.toSeq == TranscodeE2E.fixtures.map(_.value).sorted)
    // one writer wrote every batch before the reload, three wrote each
    // of the five after it (B and C's four groups)
    val files = batchDirs.toSeq.map(b =>
      b -> data.resolve(b).toFile.list().count(_.endsWith(".parquet")))
    assert(files.forall { case (b, n) => n == (if (beforeReload(b)) 1 else 3) }, files)
    assert(files.count { case (b, _) => !beforeReload(b) } == 5, files)
  }

  /** One server incarnation on the landing config at `dir`: write
    * `before` while no drain runs, start the drains, write `after`, land
    * everything and stop. Every batch must be acked `OK`.
    */
  private def incarnation(dir: java.nio.file.Path, before: Seq[Array[Byte]],
      after: Seq[Array[Byte]]): Unit = {
    import graft.net.{BristleServer, IngestClient, LandingConfig, Metrics, ServerMain}
    import graft.net.ControlProto.BatchResult
    val server = new BristleServer(LandingConfig.write(dir), new Metrics).start()
    val client = new IngestClient("127.0.0.1", server.ingest.boundPort)
    var drains = Map.empty[String, org.apache.spark.sql.streaming.StreamingQuery]
    def write(rows: Seq[Array[Byte]]): Unit = if (rows.nonEmpty)
      assert(client.writeBatch("ExampleMessage", rows, 0) == BatchResult.Ok)
    try {
      client.registerType("ExampleMessage")
      write(before)
      drains = ServerMain.startDrains(spark, server)
      drains.values.foreach(_.processAllAvailable())
      write(after)
      drains.values.foreach(_.processAllAvailable())
    } finally {
      ServerMain.stopDrains(drains)
      client.close()
      server.stop()
      server.queues.keys.foreach(QueueSource.drop)
    }
  }

  private def encoded = TranscodeE2E.fixtures
    .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))

  test("a server restarted on an existing checkpoint lands every acked row once") {
    // the new process's queue numbers rows from 0 again; the drain
    // resuming the old checkpoint must still land them
    val dir = java.nio.file.Files.createTempDirectory("graft-restart-")
    val msgs = encoded
    incarnation(dir, Nil, msgs.take(16))
    incarnation(dir, msgs.slice(16, 20), msgs.slice(20, 24))
    val landed = LandingIngest.readLanded(spark, dir.resolve("land/data").toString)
    assert(landed.select("value").collect().map(_.getLong(0)).sorted.toSeq ==
      TranscodeE2E.fixtures.take(24).map(_.value).sorted)
  }

  test("a drain started on an empty queue leaves no empty partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-start-")
    incarnation(dir, Nil, encoded.take(16))
    // the drain's first micro-batch read the empty queue
    val offsets0 = java.nio.file.Files.readAllLines(dir.resolve("land/.ckpt/offsets/0"))
    assert(offsets0.get(offsets0.size - 1).trim == "0")
    val data = dir.resolve("land/data")
    val parts = data.toFile.list().filter(_.startsWith("p_batch=")).toSeq
    assert(parts.nonEmpty && !parts.contains("p_batch=0"), parts)
    parts.foreach { p =>
      assert(data.resolve(p).toFile.list().exists(_.endsWith(".parquet")), p)
    }
    assert(LandingIngest.readLanded(spark, data.toString).count() == 16)
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
    val streamed = QueueIngest.runOnce(spark, TranscodeE2E.message, binding,
      msgs.grouped(8).toSeq, capacity = 16, onFull = DropNewest,
      name = "streamingspec-drop-newest")
    assert(streamed.count() == 16)
    // the admitted rows are fixtures 0..15 (FIFO front of the stream)
    val values = streamed.select("value").collect().map(_.getLong(0)).sorted
    val expect = TranscodeE2E.fixtures.take(16).map(_.value).sorted
    assert(values.toSeq == expect)
  }
}
