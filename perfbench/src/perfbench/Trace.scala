package perfbench

import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.streaming.LandingIngest
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Encoders, SparkSession}

import java.nio.file.Path
import scala.collection.mutable

/** Traced-run instruments: a `SparkListener` folding task metrics per
  * job group (the benchmark sets one group per query) and in total,
  * plus the fixed-input replay of the ingest layers.
  */
object Trace {

  final class Totals {
    var taskS, gcS, shuffleMb, spillMb = 0.0
    var stages = 0
    def toJson: Map[String, Any] = Map("task_s" -> taskS, "gc_s" -> gcS,
      "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb, "stages" -> stages)
  }

  final class Listener extends SparkListener {
    private val stageGroup = mutable.Map.empty[Int, String]
    val total = new Totals
    val byGroup = mutable.Map.empty[String, Totals]
    /** Time spent inside this listener's callbacks. */
    var selfNs = 0L

    private def timed(f: => Unit): Unit = synchronized {
      val t0 = System.nanoTime()
      f
      selfNs += System.nanoTime() - t0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(g => e.stageIds.foreach(s => stageGroup(s) = g))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      total.stages += 1
      stageGroup.get(e.stageInfo.stageId).foreach(g =>
        byGroup.getOrElseUpdate(g, new Totals).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val targets = Seq(total) ++ stageGroup.get(e.stageId).map(g =>
          byGroup.getOrElseUpdate(g, new Totals))
        val shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        val spill = m.memoryBytesSpilled + m.diskBytesSpilled
        targets.foreach { t =>
          t.taskS += m.executorRunTime / 1000.0
          t.gcS += m.jvmGCTime / 1000.0
          t.shuffleMb += shuffle / 1048576.0
          t.spillMb += spill / 1048576.0
        }
      }
    }

    def snapshot(): Map[String, Any] = synchronized {
      Map("total" -> total.toJson, "groups" -> byGroup.map { case (g, t) => g -> t.toJson },
        "listener_s" -> selfNs / 1e9)
    }
  }

  val ReplayRows = 262144

  /** Replays [[ReplayRows]] bodies of the run's own input batches
    * (the pool, cycled) through each ingest layer's public call, timing
    * each step net of the steps before it.
    */
  def replay(spark: SparkSession, work: Path, inputs: Ingest.Inputs): Map[String, Any] = {
    val message = TranscodeE2E.message
    val bodies = Iterator.continually(inputs.bodies.iterator.flatten).flatten
      .take(ReplayRows).toIndexedSeq
    val scratch = new Array[Any](message.fields.length)
    def checkPass(): Long = {
      val t0 = System.nanoTime()
      bodies.foreach(ProtoRows.decodeValuesInto(message, _, scratch))
      System.nanoTime() - t0
    }
    checkPass()
    val checkNsPerRow = checkPass().toDouble / ReplayRows

    val ds = spark.createDataset(bodies)(Encoders.BINARY)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    ds.count()
    val binding = SchemaBinder.bind(message, TranscodeE2E.table)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def decoded = ProtoRows.decode(ds, message)
    Suite.noop(decoded)
    val decodeS = time(Suite.noop(decoded))
    val transcodeS = time(Suite.noop(binding.transcode(decoded)))
    val out = work.resolve("replay-sink").toString
    val sinkS = time(LandingIngest.sinkBatch(binding.transcode(decoded), 0L, out, 2))
    ds.unpersist(blocking = true)
    Map("decode_s" -> decodeS, "transcode_s" -> (transcodeS - decodeS),
      "sink_s" -> (sinkS - transcodeS), "decode_check_ns_per_row" -> checkNsPerRow)
  }
}
