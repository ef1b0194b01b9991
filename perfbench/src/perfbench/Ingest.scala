package perfbench

import graft.net.{BristleServer, GrpcIngestClient, Metrics, ServerMain}
import graft.net.ControlProto.BatchResult
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.queries.TranscodeE2E.Fixture
import graft.sources.QueueSource
import graft.streaming.LandingIngest
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** The ingest half of a run: seeded, pre-encoded input batches, a
  * `BristleServer` with one parquet landing drain, the paced and flood
  * load generators over gRPC, and the landed-table check.
  */
object Ingest {
  val MessageType = "ExampleMessage"
  val QueueName = "default.example_table"
  val BatchRows = 256
  val PoolBatches = 64

  /** Fixture indices are drawn uniformly from `[0, FixtureRange)`,
    * so every row shape of `TranscodeE2E.Fixture` (0-2 tags, 0-3
    * labels, empty or set name) arrives in the mix it cycles through.
    */
  val FixtureRange: Int = 1 << 16

  /** The generator's rendering of one row, field for field what
    * [[landedCanonical]] renders from a landed row.
    */
  def canonical(f: Fixture): String = Seq(f.name, f.typeCode.toString,
    f.tsMillis.toString, f.value.toString, f.tags.map(_._1).mkString(","),
    f.tags.map(_._2).mkString(","), f.labels.mkString(",")).mkString("|")

  def landedCanonical: Column = concat_ws("|", col("name"),
    col("type").cast("int").cast("string"),
    unix_millis(col("timestamp")).cast("string"), col("value").cast("string"),
    array_join(col("`tags.key`"), ","), array_join(col("`tags.value`"), ","),
    array_join(col("labels"), ","))

  /** Order-insensitive checksum term of one canonical row. */
  def rowHash(c: Column): Column = xxhash64(c).cast("decimal(38,0)")

  /** `PoolBatches` batches of `BatchRows` fixture rows drawn from the
    * seed, encoded once before any timing starts.
    */
  final class Inputs(seed: Long) {
    private val rng = new scala.util.Random(seed)
    val indices: Array[Array[Int]] = Array.fill(PoolBatches)(
      Array.fill(BatchRows)(rng.nextInt(FixtureRange)))
    val bodies: Array[Seq[Array[Byte]]] = indices.map(_.toSeq.map(i =>
      ProtoRows.encodeValues(TranscodeE2E.message, Fixture(i).protoValues)))

    /** Checksum of each pool batch, computed by Spark over the
      * generator's canonical rows.
      */
    def batchHashes(spark: SparkSession): Array[BigDecimal] = {
      import spark.implicits._
      val rows = for (b <- indices.indices; i <- indices(b))
        yield (b, canonical(Fixture(i)))
      val byBatch = rows.toDF("b", "c").groupBy("b")
        .agg(sum(rowHash(col("c")))).collect()
        .map(r => r.getInt(0) -> BigDecimal(r.getDecimal(1))).toMap
      indices.indices.map(byBatch).toArray
    }
  }

  /** Landing progress of the current drain, from its
    * `StreamingQueryProgress` events: the source end offset is the
    * queue sequence number every row below it has landed by.
    */
  final class Progress extends StreamingQueryListener {
    private val events = ArrayBuffer.empty[Array[Long]]
    @volatile private var runId: java.util.UUID = null
    private var landed = -1L

    def track(q: StreamingQuery): Unit = synchronized {
      runId = q.runId
      landed = -1L
      events.clear()
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      if (p.runId == runId && p.sources.nonEmpty && p.sources(0).endOffset != null) {
        val end = p.sources(0).endOffset.trim.stripPrefix("\"").stripSuffix("\"").toLong
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        synchronized {
          events += Array(now, end, p.numInputRows, d("triggerExecution"),
            d("addBatch"), d("queryPlanning"), d("commitOffsets"))
          landed = math.max(landed, end)
          notifyAll()
        }
      }
    }

    /** Block until every row below queue sequence `seq` has landed. */
    def awaitLanded(seq: Long, timeoutMs: Long = 60000): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (landed < seq) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"rows below seq $seq not landed after ${timeoutMs}ms (landed $landed)")
        wait(left)
      }
    }

    /** (arrival ns, end offset, rows, trigger ms, addBatch ms,
      * planning ms, commit ms) per micro-batch.
      */
    def snapshot(): Seq[Array[Long]] = synchronized(events.toList)
  }

  /** One server incarnation: config file, `BristleServer` with its
    * landing drain, and two gRPC sessions.
    */
  final class Rig(spark: SparkSession, work: Path, descriptor: Path,
      progress: Progress, metrics: Metrics) {
    val landing: Path = Files.createTempDirectory(work, "landing-")
    private val config = landing.resolve("config.json")
    Files.write(config, configJson(descriptor, landing.resolve("table")).getBytes("UTF-8"))
    val server: BristleServer = new BristleServer(config, metrics).start()
    private val drains = ServerMain.startDrains(spark, server)
    progress.track(drains.values.head)
    val queue: QueueSource.IngestQueue = server.queues(QueueName)
    val clients: Seq[GrpcIngestClient] = Seq.fill(2) {
      val c = new GrpcIngestClient("127.0.0.1", server.grpc.get.boundPort)
      c.registerType(MessageType)
      c
    }

    def dataDir: String = landing.resolve("table").resolve("data").toString

    /** Land everything buffered, then release ports, queue and drain. */
    def stop(): Unit = {
      clients.foreach(_.close())
      ServerMain.stopDrains(drains)
      server.stop()
      QueueSource.drop(QueueName)
    }
  }

  def configJson(descriptor: Path, landing: Path): String = {
    val cols = TranscodeE2E.table.map { c =>
      val d = if (c.default.isEmpty) "" else s""", "default": "${c.default}""""
      s"""{"name": "${c.name}", "type": "${c.typeString}"$d}"""
    }.mkString("[", ", ", "]")
    s"""{
       |  "ingest": {"bind_port": 0, "grpc_port": 0},
       |  "proto_descriptor_paths": ["$descriptor"],
       |  "catalogs": [{"name": "default", "tables": {"example_table": {
       |    "capacity": 65536, "on_full": "block", "messages": ["$MessageType"],
       |    "columns": $cols, "landing_dir": "$landing",
       |    "flush_interval": 200, "writers": 2}}}]
       |}""".stripMargin
  }

  /** Per-batch record of one sender thread. `due` is when the batch
    * should have been sent, `endSeq` the queue end read right after
    * its ack (every row of the batch sits below it).
    */
  final class BatchLog {
    val due, send, ack, endSeq = ArrayBuffer.empty[Long]
    val result, batch = ArrayBuffer.empty[Int]

    def add(d: Long, s: Long, a: Long, r: Int, e: Long, b: Int): Unit = {
      due += d; send += s; ack += a; result += r; endSeq += e; batch += b
    }

    def toJson: Map[String, Any] = Map("due_ns" -> due, "send_ns" -> send,
      "ack_ns" -> ack, "result" -> result, "end_seq" -> endSeq, "batch" -> batch)
  }

  /** Open loop: batch j of the run is due at `t0 + j * period`; the two
    * sessions take alternate due slots, and a late batch is sent as
    * soon as its session is free (its latency still counts from due).
    */
  def paced(rig: Rig, in: Inputs, rowsPerSec: Double, seconds: Double,
      seed: Long): Seq[BatchLog] = {
    val period = BatchRows / rowsPerSec * 1e9
    val t0 = System.nanoTime() + 20000000L
    val end = t0 + (seconds * 1e9).toLong
    runSenders(rig, seed) { (k, client, rng, log) =>
      var j = 0L
      var due = t0 + (k * period).toLong
      while (due < end) {
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val b = rng.nextInt(PoolBatches)
        val r = client.writeBatch(MessageType, in.bodies(b))
        log.add(due, now, System.nanoTime(), r, rig.queue.endSeq, b)
        j += 1
        due = t0 + ((2 * j + k) * period).toLong
      }
    }
  }

  /** Closed loop: each session sends its next batch when the last one
    * is acked, retrying FULL forever under the server's backoff.
    */
  def flood(rig: Rig, in: Inputs, seconds: Double, seed: Long): Seq[BatchLog] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    runSenders(rig, seed) { (_, client, rng, log) =>
      var now = System.nanoTime()
      while (now < end) {
        val b = rng.nextInt(PoolBatches)
        val r = client.writeBatch(MessageType, in.bodies(b), retryTimes = -1)
        log.add(now, now, System.nanoTime(), r, rig.queue.endSeq, b)
        now = System.nanoTime()
      }
    }
  }

  private def runSenders(rig: Rig, seed: Long)(
      body: (Int, GrpcIngestClient, scala.util.Random, BatchLog) => Unit): Seq[BatchLog] = {
    val logs = Seq.fill(rig.clients.size)(new BatchLog)
    @volatile var error: Throwable = null
    val threads = rig.clients.zipWithIndex.map { case (c, k) =>
      val t = new Thread(() =>
        try body(k, c, new scala.util.Random(seed * 7919 + k), logs(k))
        catch { case e: Throwable => error = e }, s"perfbench-sender-$k")
      t.start()
      t
    }
    threads.foreach(_.join())
    if (error != null) throw error
    logs
  }

  /** Samples the queue depth (`endSeq - firstSeq`) every 5 ms while
    * running.
    */
  final class DepthSampler(queue: QueueSource.IngestQueue) {
    @volatile private var running = true
    private var n, sum, max = 0L
    private val thread = new Thread(() => {
      while (running) {
        val d = queue.endSeq - queue.firstSeq
        n += 1; sum += d; max = math.max(max, d)
        Thread.sleep(5)
      }
    }, "perfbench-depth")
    thread.setDaemon(true)
    thread.start()

    def stop(): (Double, Long) = {
      running = false
      thread.join()
      (if (n == 0) 0.0 else sum.toDouble / n, max)
    }
  }

  /** Landed row count and checksum of a landed table. */
  def landedChecksum(spark: SparkSession, dataDir: String): (Long, BigDecimal) = {
    val r = LandingIngest.readLanded(spark, dataDir)
      .agg(count(lit(1)), sum(rowHash(landedCanonical))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Server-side batch counters, summed over result codes. */
  def serverCounters(m: Metrics): Map[String, Long] = {
    def batches(result: Int): Long = m.counterValue("graft_ingest_batches_total",
      "rpc" -> "streaming", "result" -> BatchResult.name(result))
    val ok = batches(BatchResult.Ok)
    val all = (0 to 6).map(batches).sum
    Map("ok" -> ok, "not_ok" -> (all - ok),
      "backoff" -> m.counterValue("graft_ingest_backoff_sent_total"))
  }
}
