package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.BenchWitness
import graft.net.Metrics
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run, launched by `perfbench/run.py`:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <out.json>
  * }}}
  *
  * Set-up (session, layouts, three server starts), the paced and flood
  * ingest phases, then whole passes over the workload's queries
  * (`Suite.Workloads`). Everything
  * measured goes to `out.json` as raw samples; `run.py` derives the
  * metrics and checks correctness.
  */
object Main {
  val PacedRowsPerSec = 20000.0
  val SetupReps = 3
  val WarmIngestSeconds = 4.0
  val MinPasses = 5

  def main(argv: Array[String]): Unit = {
    if (argv.length != 7) {
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> " +
        "<trace 0|1> <data dir> <work dir> <out.json>")
      sys.exit(2)
    }
    val Array(workload, seedS, secondsS, traceS, dataDir, workS, outS) = argv
    val queries = Suite.Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload $workload")
      sys.exit(2)
    })
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val descriptor = Paths.get("src/main/resources/descriptors/example.pb").toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "seed" -> seed, "nproc" -> nproc, "trace" -> trace)
    val box = mutable.LinkedHashMap.empty[String, Any]
    def witnessed[T](phase: String)(f: => T): T = {
      val j0 = BenchWitness.cpuJiffies()
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val j1 = BenchWitness.cpuJiffies()
      box(phase) = Map("ext_cores" -> BenchWitness.extCores(j0, j1, wall),
        "steal_cores" -> BenchWitness.stealCores(j0, j1, wall), "wall_s" -> wall)
      r
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- set-up ----
    var spark: SparkSession = null
    val sessionS = time {
      spark = SparkSession.builder()
        .master(s"local[$nproc]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new Trace.Listener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val progress = new Ingest.Progress
    spark.streams.addListener(progress)

    val inputs = new Ingest.Inputs(seed)
    val batchHashes = inputs.batchHashes(spark)

    val layoutS = mutable.LinkedHashMap.empty[String, Double]
    Suite.layouts(workload).foreach { case (name, build) =>
      layoutS(name) = time(build(spark, dataDir))
    }
    // Every batch sent counts in attempted and failed; the acked ones
    // of the last server are the rows its landed table must hold.
    val acked = Array.fill(Ingest.PoolBatches)(0L)
    var attempted, failed = 0L
    def account(logs: Seq[Ingest.BatchLog], landed: Boolean = true): Unit =
      logs.foreach { l =>
        l.result.indices.foreach { i =>
          attempted += 1
          if (l.result(i) != 0) failed += 1
          else if (landed) acked(l.batch(i)) += 1
        }
      }
    // Server start plus a short warm-up landed, several times; the
    // last server stays up for the measured phases.
    val metrics = new Metrics
    var rig: Ingest.Rig = null
    val serverS = (1 to SetupReps).map { rep =>
      var logs = Seq.empty[Ingest.BatchLog]
      val s = time {
        rig = new Ingest.Rig(spark, work, descriptor, progress, metrics)
        logs = Ingest.flood(rig, inputs, 0.1, seed + rep)
        progress.awaitLanded(rig.queue.endSeq)
      }
      account(logs, landed = rep == SetupReps)
      if (rep < SetupReps) {
        rig.stop()
        deleteTree(rig.landing)
      }
      s
    }
    out("setup") = Map("session_s" -> sessionS, "layout_s" -> layoutS,
      "server_s" -> serverS)

    // ---- warm-up, untimed: the ingest path reaches steady state ----
    account(Ingest.flood(rig, inputs, WarmIngestSeconds, seed + 2))
    progress.awaitLanded(rig.queue.endSeq)

    // ---- ingest: paced, then flood ----
    def phase(name: String, load: => Seq[Ingest.BatchLog]): Unit = {
      val before = Ingest.serverCounters(metrics)
      val sampler = if (trace) Some(new Ingest.DepthSampler(rig.queue)) else None
      val t0 = System.nanoTime()
      val logs = witnessed(name)(load)
      val t1 = System.nanoTime()
      progress.awaitLanded(rig.queue.endSeq)
      val depth = sampler.map(_.stop())
      account(logs)
      val after = Ingest.serverCounters(metrics)
      out(name) = Map("t0_ns" -> t0, "t1_ns" -> t1,
        "batches" -> logs.map(_.toJson),
        "server" -> after.map { case (k, v) => k -> (v - before(k)) },
        "queue_depth" -> depth.map { case (mean, max) => Map("mean" -> mean, "max" -> max) })
    }
    phase("paced", Ingest.paced(rig, inputs, PacedRowsPerSec, seconds * 0.35, seed))
    phase("flood", Ingest.flood(rig, inputs, seconds * 0.2, seed + 1))
    out("progress") = progress.snapshot()
    rig.stop()
    val (landedRows, landedHash) = Ingest.landedChecksum(spark, rig.dataDir)
    val expectedRows = acked.sum * Ingest.BatchRows
    val expectedHash = acked.indices.map(b => batchHashes(b) * acked(b)).sum
    out("landed") = Map("rows" -> landedRows, "hash" -> landedHash.toString,
      "expected_rows" -> expectedRows, "expected_hash" -> expectedHash.toString)
    deleteTree(rig.landing)
    Suite.settleHeap()
    val ingestHeap = Suite.liveHeapMb()

    // ---- queries: whole passes, each query once per pass, at least
    // MinPasses and until the query budget is spent; the heap is
    // settled and read after each pass ----
    val queryBudget = seconds * 0.35
    val passes = mutable.ArrayBuffer.empty[Seq[Suite.Result]]
    val passHeap = mutable.ArrayBuffer.empty[Double]
    witnessed("queries") {
      val t0 = System.nanoTime()
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < queryBudget) {
        passes += queries.map(q => Suite.runOne(spark, dataDir, q, trace))
        Suite.settleHeap()
        passHeap += Suite.liveHeapMb()
      }
    }
    out("passes") = passes.map(_.map(_.toJson))
    out("pass_heap_mb") = passHeap
    out("ingest_heap_mb") = ingestHeap
    out("counts") = Map("batches" -> attempted, "batches_failed" -> failed)
    out("box") = box

    if (trace) {
      out("spark") = listener.get.snapshot()
      out("replay") = Trace.replay(spark, work, inputs)
    }
    spark.streams.removeListener(progress)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(outS).toFile, out)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.delete(f); () })
}
