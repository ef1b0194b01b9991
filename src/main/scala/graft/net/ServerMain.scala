package graft.net

import graft.streaming.{LandingIngest, QueueIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `graft.net.ServerMain <config.json>` — the `cmd/bristle` analog
  * (reference `cmd/bristle/main.go` + `server.go:128-166`): assemble
  * the server from the config file, start the TCP ingest endpoint and
  * optional debug server, run one continuous Structured Streaming
  * landing drain per `landing_dir` table (socket → queue →
  * micro-batch decode/transcode → idempotent DSv2 parquet sink, flushing
  * on the table's `flush_interval`), then block until SIGINT/SIGTERM.
  * SIGHUP reloads the config and drain-and-swaps the landing streams
  * ([[reloadDrains]]): stop at a drain barrier, apply the new
  * registry, restart from checkpoint. A reload reconfigures each live
  * queue in place, so the restarted drain resumes at its checkpointed
  * offset and the idempotent batchId sink makes the swap loss/dup-free
  * (D6).
  *
  * ```
  * scripts/run.sh graft.net.ServerMain config.json
  * ```
  */
object ServerMain {

  /** Start one landing stream per drain plan. Each micro-batch reads
    * the queue as one slice per configured writer and runs as a single
    * job of one stage with at most `writers` tasks: decode, transcode
    * and land, either as parquet part files that the epoch commit of the
    * [[graft.streaming.LandingSinkProvider]] sink publishes as the
    * batch's partition or, for a `jdbc_url` table, as one INSERT
    * transaction per writer under `foreachBatch` (the reference's
    * per-writer batched INSERT, clickhouse_table_writer.go:115-149).
    *
    * A drain that resumes an existing checkpoint (a server restart)
    * first numbers its new queue's rows on from the checkpoint's latest
    * planned offset ([[graft.sources.QueueSource.IngestQueue.resumeAt]]):
    * otherwise the new process's rows, numbered from 0, would sit below
    * what the resumed drain reads, and its commit would truncate them
    * unlanded. The replayed last micro-batch then reads nothing, and an
    * empty epoch leaves what the old process published in place.
    *
    * One [[DrainListener]] reports the streams to the server's
    * `Metrics` and releases each landed micro-batch's rows from its
    * queue; [[stopDrains]] removes it. Returns the running queries
    * keyed by queue name.
    */
  def startDrains(spark: SparkSession,
      server: BristleServer): Map[String, StreamingQuery] = {
    if (server.drains.nonEmpty) spark.streams.addListener(new DrainListener(
      server, server.drains.map(d => drainName(d.queueName) -> d.queueName).toMap))
    server.drains.map { d =>
      val landing = Paths.get(d.table.landingDir.get)
      val ckpt = landing.resolve(".ckpt")
      server.queues(d.queueName).resumeAt(checkpointedEnd(ckpt).getOrElse(0L))
      val stream = QueueIngest.transcoded(spark, d.queueName, d.table.writers,
          d.message, d.binding).writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(d.table.flushIntervalMs.toLong))
        .queryName(drainName(d.queueName))
      val q = (d.table.jdbcUrl match {
        case Some(url) => stream.foreachBatch { (df: DataFrame, batchId: Long) =>
          graft.streaming.JdbcSink.sinkBatch(
            df, batchId, url, d.table.jdbcTable.getOrElse(d.table.name))
        }
        case None => LandingIngest.landTo(stream, landing.resolve("data").toString)
      }).start()
      d.queueName -> q
    }.toMap
  }

  /** The end offset of the latest micro-batch planned in the drain
    * checkpoint at `ckpt`: the last line of its newest `offsets/` entry,
    * the queue being the drain's one source.
    */
  private def checkpointedEnd(ckpt: Path): Option[Long] =
    Option(ckpt.resolve("offsets").toFile.listFiles).toSeq.flatten
      .flatMap(f => f.getName.toLongOption.map(_ -> f)).maxByOption(_._1)
      .flatMap { case (_, f) =>
        Files.readAllLines(f.toPath).asScala.lastOption.flatMap(_.trim.toLongOption)
      }

  private def drainName(queue: String): String = s"drain-$queue"

  /** The phases of a landing micro-batch that [[DrainListener]]
    * reports, as Spark's `StreamingQueryProgress.durationMs` names them.
    */
  val DrainPhases: Seq[String] =
    Seq("walCommit", "queryPlanning", "addBatch", "commitOffsets", "triggerExecution")

  /** Each landing micro-batch of the drains named in `queues` (query
    * name → queue), as counters by queue: batches, rows, and the ms of
    * each of [[DrainPhases]].
    *
    * It also truncates the queue to the batch's committed end offset.
    * Spark calls a source's `commit` only when it plans the NEXT
    * micro-batch, which it does only once new rows arrive; until then
    * the landed rows would keep counting against the queue's capacity,
    * and a queue they fill would answer `FULL` forever. Progress is
    * reported after the batch's commit log entry is written, so no
    * replay can need the released rows.
    */
  private final class DrainListener(server: BristleServer, val queues: Map[String, String])
      extends StreamingQueryListener {
    private val metrics = server.metrics
    metrics.help("graft_drain_batches_total", "Landing micro-batches, by queue")
    metrics.help("graft_drain_rows_total", "Rows landed by the drain, by queue")
    metrics.help("graft_drain_phase_ms_total",
      "Landing micro-batch milliseconds, by queue and phase")

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      queues.get(p.name).foreach { qn =>
        for (q <- server.queues.get(qn); src <- p.sources.headOption;
             end <- Option(src.endOffset))
          q.truncate(end.trim.toLong)
        if (p.numInputRows > 0) {
          metrics.inc("graft_drain_batches_total", "queue" -> qn)
          metrics.add("graft_drain_rows_total", p.numInputRows, "queue" -> qn)
          DrainPhases.foreach { ph =>
            Option(p.durationMs.get(ph)).foreach(ms => metrics.add(
              "graft_drain_phase_ms_total", ms.longValue, "queue" -> qn, "phase" -> ph))
          }
        }
      }
    }
  }

  /** Stop drains at a clean barrier (all buffered work flushed), then
    * remove the [[DrainListener]] that reported them.
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
        case t: DrainListener if t.queues.keySet == names =>
          q.sparkSession.streams.removeListener(t)
        case _ => ()
      }
    }
  }

  /** The reload swap (reference server.go:101-123): stop `drains` at a
    * flushed barrier, [[BristleServer.reload]], then start the drains
    * of whatever plans the server now holds — the new ones, or the old
    * ones unchanged when the reload returned `Left`. Returns the
    * running drains.
    */
  def reloadDrains(spark: SparkSession, server: BristleServer,
      drains: Map[String, StreamingQuery]): Map[String, StreamingQuery] = {
    stopDrains(drains)
    server.reload()
    startDrains(spark, server)
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
    // reference server.go:134-145: HUP reloads, INT/TERM exit. The
    // JVM dispatches each signal on its own thread, so rapid repeated
    // HUPs would interleave stop/restart without the lock — serialized,
    // the second reload simply runs after the first.
    val reloadLock = new Object
    sun.misc.Signal.handle(new sun.misc.Signal("HUP"), (_: sun.misc.Signal) => {
      System.err.println("[server] received SIGHUP, reloading configuration...")
      reloadLock.synchronized { drainQs = reloadDrains(spark, server, drainQs) }
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
