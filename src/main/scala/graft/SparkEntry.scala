package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Events, Pipeline, Q, Relational, Transcode, TranscodeE2E}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a [[graft.queries.Q]]
  * in one of the module `all` lists below; `queries`/`oracleSql` are derived
  * so a query and its oracle can never drift apart structurally.
  */
object SparkEntry {

  /** All verifiable queries, in stable order. */
  def registry: Seq[Q] = {
    val all = Relational.all ++ Events.all ++ Transcode.all ++
      TranscodeE2E.all ++ Pipeline.all
    // a duplicate name would silently shadow a query in the queries/
    // oracleSql maps — fail loudly instead
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(n, _, Some(sql)) => n -> sql.trim }.toMap

  /** SPARK_GRAFT_CPUS, else the box's core count. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local session the tool mains (all but the server) and the
    * test suite run on: `local[cpus]` with `cpus` shuffle partitions,
    * UTC, no UI.
    *
    * `cleanerInterval` is the ContextCleaner's periodic-GC timer (Spark's
    * default is 30 min). Broadcasts and shuffles are only reclaimed when
    * a GC notices them dead, so a long single-JVM run needs a GC every
    * so often: Verify and Stress take a 30 s timer; Bench GCs between
    * queries itself and keeps 10 min, since a GC landing inside a timed
    * query reads as a phantom 5-10x regression.
    *
    * `canChangeCachedPlanOutputPartitioning` is pinned to false. Since
    * Spark 3.5 its default is true, which lets AQE re-plan a cached
    * plan's output partitioning. Measured both ways (r18): on, it helps
    * cache-composed stored probes (q106 2.8 vs 3.7 s) but costs the
    * cache-chained prefix-filter family 2-3x (q166 5.9 vs 1.9 s), since
    * every cache in the chain becomes its own adaptive stage barrier.
    */
  def localSession(cpus: Int, cleanerInterval: String = "30min")
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", cleanerInterval)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop everything a query left cached, so nothing crosses query
    * boundaries: the near-dup/similarity result caches, every persisted
    * RDD (e.g. per-round checkpoints of the iterative operators), and
    * the CacheManager's plan entries. Unpersisting the RDDs drops the
    * blocks but leaves the logical-plan -> InMemoryRelation entries
    * alive, so a later query with a matching plan fragment would be
    * routed through a gutted cache and re-pay columnar serialization
    * (measured: q110 11.7-14.0 s vs 8.7 s with stale entries left), and
    * its ExplainQ census would describe the cached composite rather
    * than its own plan.
    */
  def release(spark: SparkSession): Unit = {
    graft.pipeline.Similarity.releaseResult()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }
}
