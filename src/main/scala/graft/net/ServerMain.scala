package graft.net

import graft.sources.QueueSource
import graft.streaming.{LandingIngest, Parts, QueueIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch
import scala.util.control.NonFatal

/** `graft.net.ServerMain <config.json>` — the `cmd/bristle` analog
  * (reference `cmd/bristle/main.go` + `server.go:128-166`): assemble
  * the server from the config file, start the TCP ingest endpoint and
  * optional debug server, run one continuous Structured Streaming
  * landing drain per `landing_dir` table (socket → queue →
  * micro-batch decode/transcode → idempotent parquet sink, flushing
  * on the table's `flush_interval`), then block until SIGINT/SIGTERM.
  * SIGHUP reloads the config and drain-and-swaps the landing streams:
  * stop (drain barrier), apply the new registry, restart from
  * checkpoint — the idempotent batchId sink makes the swap
  * loss/dup-free (D6), and a table whose queue was REBUILT (capacity/
  * policy change) restarts its checkpoint too, since the new queue's
  * offsets start over.
  *
  * ```
  * scripts/run.sh graft.net.ServerMain config.json
  * ```
  */
object ServerMain {

  /** The drain incarnation epoch, persisted next to the data. A
    * rebuilt queue (capacity/policy change) restarts its checkpoint,
    * which restarts Spark's batch numbering at 0 — and the idempotent
    * sink's `p_batch=N` partition overwrite would CLOBBER partitions
    * an earlier incarnation landed under the same ids. Each
    * incarnation therefore lands under `data/e=<epoch>/p_batch=<id>`:
    * within an incarnation, crash replay of batch N still maps to the
    * same partition (idempotence holds); across a rebuild, the epoch
    * bump gives a fresh namespace and old data is untouched. Readers
    * see one partitioned table at `data/` (e and p_batch are ordinary
    * discovered partition columns).
    */
  private def epochOf(landing: Path): Long = {
    val f = landing.resolve(".epoch")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim.toLong
    else 0L
  }

  private def bumpEpoch(landing: Path): Unit = {
    val next = epochOf(landing) + 1
    Files.createDirectories(landing)
    Files.write(landing.resolve(".epoch"), next.toString.getBytes("UTF-8"))
    ()
  }

  /** Start one landing stream per drain plan. Each micro-batch reads
    * the queue as one slice per configured writer and runs as a single
    * stage of at most `writers` tasks: decode, transcode and land,
    * either as the batch's parquet partition or, for a `jdbc_url`
    * table, as one INSERT transaction per writer (the reference's
    * per-writer batched INSERT, clickhouse_table_writer.go:115-149).
    * One [[DrainTelemetry]] listener reports the streams to the
    * server's `Metrics`; [[stopDrains]] removes it. Returns the running
    * queries keyed by queue name (exposed for [[restartDrains]] and
    * tests).
    */
  def startDrains(spark: SparkSession,
      server: BristleServer): Map[String, StreamingQuery] = {
    if (server.drains.nonEmpty) spark.streams.addListener(new DrainTelemetry(
      server.metrics, server.drains.map(d => drainName(d.queueName) -> d.queueName).toMap))
    server.drains.map { d =>
      val landing = Paths.get(d.table.landingDir.get)
      val ckpt = landing.resolve(".ckpt").toString
      val out = landing.resolve("data").resolve(s"e=${epochOf(landing)}").toString
      val q = QueueIngest.transcoded(spark, d.queueName, d.table.writers,
          d.message, d.binding).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(d.table.flushIntervalMs.toLong))
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          d.table.jdbcUrl match {
            case Some(url) => graft.streaming.JdbcSink.sinkBatch(
              df, batchId, url, d.table.jdbcTable.getOrElse(d.table.name))
            case None =>
              LandingIngest.sinkBatch(df, batchId, out, d.table.writers)
          }
        }
        .queryName(drainName(d.queueName))
        .start()
      d.queueName -> q
    }.toMap
  }

  private def drainName(queue: String): String = s"drain-$queue"

  /** The phases of a landing micro-batch that [[DrainTelemetry]]
    * reports, as Spark's `StreamingQueryProgress.durationMs` names them.
    */
  val DrainPhases: Seq[String] =
    Seq("walCommit", "queryPlanning", "addBatch", "commitOffsets", "triggerExecution")

  /** Each landing micro-batch of the drains named in `queues` (query
    * name → queue), as counters by queue: batches, rows, and the ms of
    * each of [[DrainPhases]].
    */
  private final class DrainTelemetry(metrics: Metrics, val queues: Map[String, String])
      extends StreamingQueryListener {
    metrics.help("graft_drain_batches_total", "Landing micro-batches, by queue")
    metrics.help("graft_drain_rows_total", "Rows landed by the drain, by queue")
    metrics.help("graft_drain_phase_ms_total",
      "Landing micro-batch milliseconds, by queue and phase")

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      queues.get(p.name).filter(_ => p.numInputRows > 0).foreach { qn =>
        metrics.inc("graft_drain_batches_total", "queue" -> qn)
        metrics.add("graft_drain_rows_total", p.numInputRows, "queue" -> qn)
        DrainPhases.foreach { ph =>
          Option(p.durationMs.get(ph)).foreach(ms => metrics.add(
            "graft_drain_phase_ms_total", ms.longValue, "queue" -> qn, "phase" -> ph))
        }
      }
    }
  }

  /** The drain half of the reload swap. Call with the old drains
    * ALREADY stopped (the HUP handler stops them before applying the
    * new config, so a drain never runs against a queue object that was
    * swapped out from under its checkpointed offsets): wipe + bump the
    * epoch of queues that were rebuilt, restart from the new plans.
    */
  def restartDrains(spark: SparkSession, server: BristleServer,
      oldQueues: Map[String, QueueSource.IngestQueue]): Map[String, StreamingQuery] = {
    server.drains.foreach { d =>
      val rebuilt = oldQueues.get(d.queueName)
        .exists(oldQ => !(oldQ eq server.queues(d.queueName)))
      if (rebuilt) {
        val landing = Paths.get(d.table.landingDir.get)
        Parts.deleteTree(landing.resolve(".ckpt"))
        bumpEpoch(landing)
      }
    }
    startDrains(spark, server)
  }

  /** Stop drains at a clean barrier (all buffered work flushed), then
    * remove the [[DrainTelemetry]] listener that reported them.
    */
  def stopDrains(drains: Map[String, StreamingQuery]): Unit = {
    drains.values.foreach { q =>
      try { q.processAllAvailable(); q.stop(); q.awaitTermination() }
      catch { case NonFatal(e) =>
        System.err.println(s"[server] drain stop: ${e.getMessage}") }
    }
    drains.values.headOption.foreach { q =>
      val names = drains.values.map(_.name).toSet
      q.sparkSession.streams.listListeners().foreach {
        case t: DrainTelemetry if t.queues.keySet == names =>
          q.sparkSession.streams.removeListener(t)
        case _ => ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val configPath = args.headOption.map(Paths.get(_)).getOrElse {
      System.err.println("usage: graft.net.ServerMain <config.json>")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("bristlespark-server")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val server = new BristleServer(configPath).start()
    @volatile var drainQs = startDrains(spark, server)
    System.err.println(s"[server] ingest on :${server.ingest.boundPort}" +
      server.debug.map(d => s", debug on :${d.boundPort}").getOrElse("") +
      s", ${drainQs.size} landing drain(s)")

    val done = new CountDownLatch(1)
    // reference server.go:134-145: HUP reloads, INT/TERM exit.
    // Order matters: drains stop at a flushed barrier BEFORE the
    // registry swap, so no drain ever observes its queue being
    // replaced mid-batch; a failed reload restarts the old plans
    // unchanged. The JVM dispatches each signal on its own thread, so
    // rapid repeated HUPs would interleave stop/restart without the
    // lock — serialized, the second reload simply runs after the first.
    val reloadLock = new Object
    sun.misc.Signal.handle(new sun.misc.Signal("HUP"), (_: sun.misc.Signal) => {
      System.err.println("[server] received SIGHUP, reloading configuration...")
      reloadLock.synchronized {
        val before = server.queues
        stopDrains(drainQs)
        server.reload()
        drainQs = restartDrains(spark, server, before)
      }
    })
    sun.misc.Signal.handle(new sun.misc.Signal("TERM"),
      (_: sun.misc.Signal) => done.countDown())
    sun.misc.Signal.handle(new sun.misc.Signal("INT"),
      (_: sun.misc.Signal) => done.countDown())

    done.await()
    System.err.println("[server] exit requested, goodbye")
    drainQs.values.foreach(q => try q.stop() catch { case NonFatal(_) => })
    server.stop()
    spark.stop()
  }
}
