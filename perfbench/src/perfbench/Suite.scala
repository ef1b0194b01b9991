package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The query half of a run: passes over a fixed list of registered
  * queries, each execution forced by a `noop` write and fingerprinted
  * in the same action, with the release and settling GCs between
  * executions, outside the timed window.
  */
object Suite {

  /** Queries of each workload. `pipeline`: the LLM-pipeline query q88,
    * MinHash near-dup candidates clustered by connected components,
    * whose rounds run under the loop posture (`AdaptiveShape`, session
    * clone and rebind). `analytics`: short event and sketch queries
    * where fixed per-query costs dominate: q127 is persist-sensitive,
    * q121 a sketch, q34 a pruned read of the partitioned event layout.
    */
  val Workloads: Map[String, Seq[String]] = Map(
    "pipeline" -> Seq("q88"),
    "analytics" -> Seq("q127", "q121", "q34"))

  /** Layouts a workload's queries read, built in set-up so no timed
    * query pays a one-time table construction.
    */
  def layouts(workload: String): Seq[(String, (SparkSession, String) => Unit)] =
    if (workload == "analytics") Seq("partitioned" -> ((s, d) =>
      noop(graft.sources.PartitionedLayout.events(s, d).limit(1))))
    else Nil

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Full registry name of a `qNN` prefix. */
  def resolve(prefix: String): graft.queries.Q =
    graft.SparkEntry.registry.find(_.name.takeWhile(_ != '_') == prefix)
      .getOrElse(throw new IllegalArgumentException(s"no query $prefix"))

  /** Order-insensitive fingerprint terms over every column of `df`:
    * row count and the decimal sum of per-row xxhash64 values.
    */
  def fingerprintColumns(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"), coalesce(sum(h.cast("decimal(38,0)")),
      lit(BigDecimal(0)).cast("decimal(38,0)")).as("hash"))
  }

  /** (rows, hash) of `df`, computed by its own action. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val fp = fingerprintColumns(df)
    val r = df.agg(fp.head, fp.tail: _*).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  final case class Result(name: String, seconds: Double, rows: Long,
      hash: String, error: Option[String], rddsLeft: Int) {
    def toJson: Map[String, Any] = Map("name" -> name, "s" -> seconds,
      "rows" -> rows, "hash" -> hash, "error" -> error, "rdds_left" -> rddsLeft)
  }

  /** Heap in use after the last collection, summed over heap pools. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Full collections until the heap in use after one stops falling
    * (at most four): each lets the ContextCleaner release the shuffles
    * and broadcasts that became unreachable, and the next reclaims what
    * it released, so the heap read afterwards is the live set.
    */
  def settleHeap(): Unit = {
    System.gc()
    var prev = liveHeapMb()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 4) {
      Thread.sleep(50)
      System.gc()
      val now = liveHeapMb()
      settled = prev - now < 1.0
      prev = now
      rounds += 1
    }
  }

  /** Drop what the last query left cached, collect once, and return
    * the count of persisted RDDs its own release left behind.
    */
  def release(spark: SparkSession): Int = {
    graft.pipeline.Similarity.releaseResult()
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    left
  }

  private val observations = new java.util.concurrent.atomic.AtomicInteger

  /** One timed query: the noop write carries an observation of the
    * fingerprint, so the result is forced and checked by one action.
    */
  def runOne(spark: SparkSession, dataDir: String, prefix: String,
      group: Boolean): Result = {
    val q = resolve(prefix)
    if (group) spark.sparkContext.setJobGroup(prefix, prefix)
    val t0 = System.nanoTime()
    val out = try {
      val df = q.fn(spark, dataDir)
      val fp = fingerprintColumns(df)
      val obs = Observation(s"fp_${prefix}_${observations.incrementAndGet()}")
      noop(df.observe(obs, fp.head, fp.tail: _*))
      val m = obs.get
      Right((m("rows").asInstanceOf[Long],
        m("hash").asInstanceOf[java.math.BigDecimal].toPlainString))
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    if (group) spark.sparkContext.clearJobGroup()
    val left = release(spark)
    out match {
      case Right((rows, hash)) => Result(prefix, sec, rows, hash, None, left)
      case Left(err) =>
        System.err.println(s"[perfbench] $prefix failed: $err")
        Result(prefix, sec, -1L, "", Some(err), left)
    }
  }
}
