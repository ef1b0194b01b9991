package graft

/** Dev-loop profiler: run selected queries repeatedly in one warm JVM
  * to split codegen/classload warm-up from steady-state cost.
  * Usage: scripts/run.sh graft.Profile <sfDir> <reps> [name-prefix ...]
  * (no prefixes = all; `q110` matches q110_*). Prints per-rep seconds,
  * and each failure's message, to stderr; not part of the driver
  * contract (that's Bench).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Profile <sfDir> <reps> [name-prefix ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val reps = args(1).toInt
    val prefixes = args.drop(2)
    val spark = SparkEntry.localSession(SparkEntry.envCpus)
    val qs = SparkEntry.registry.filter(q =>
      prefixes.isEmpty || prefixes.exists(q.name.startsWith))
    for (r <- 1 to reps; q <- qs) {
      val t0 = System.nanoTime()
      val err =
        try {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable => s"  ERR ${e.getMessage}" }
      val sec = (System.nanoTime() - t0) / 1e9
      SparkEntry.release(spark)
      System.err.println(f"[profile] rep$r ${q.name}%-35s $sec%7.3f s$err")
    }
    spark.stop()
  }
}
