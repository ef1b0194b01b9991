package graft

/** Dev-loop plan inspector: print each named query's executed-plan
  * shape summary (exchange count, whole-stage-codegen span count) and
  * optionally the formatted plan — the `.explain` loop the build
  * discipline asks for, scriptable. Usage:
  * `scripts/run.sh graft.ExplainQ <sfDir> [-json out.json] [-v]
  * <queryName ...>` (no names = all). With `-json` the census is also
  * written as a diffable artifact — `{"q01_…":{"ex":n,"wscg":n,
  * "bhj":n},…}` in registry order (VERDICT r14 #5: PLANS_r{N}.json at
  * round close, so a lost broadcast or a new exchange is detectable
  * cross-round the way bench/correctness already are). Not part of
  * the driver contract; the mechanical plan ASSERTIONS (no cartesian
  * products, unpartitioned-window barriers) live in ExplainAudit, run
  * by the test suite.
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    var rest = args.drop(1).toList
    var jsonOut: Option[String] = None
    var verbose = false
    var parsing = true
    while (parsing) rest match {
      case "-json" :: path :: tl => jsonOut = Some(path); rest = tl
      case "-v" :: tl => verbose = true; rest = tl
      case _ => parsing = false
    }
    val names = rest.toSet
    // a fixed local[4], so the census does not depend on the box
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.registry.filter(q => names.isEmpty || names(q.name))
    val census = scala.collection.mutable.LinkedHashMap[String, String]()
    qs.foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        // materialize THIS queryExecution (collect, not a write — a
        // write plans a separate command execution): under AQE the
        // executed plan and its codegen spans only finalize after an
        // action. Oracle-checked results are small by construction.
        df.collect()
        // Census by TREE WALK over the executed plan, not by counting
        // tokens in its string (r17): a cached relation PRINTS its
        // whole child plan at every reference, so a query composing
        // k cached intermediates string-counted the same subtree's
        // exchanges k times — and registering one more (cheap) cache
        // read as "+200 exchanges" of growth. The walk counts each
        // cached plan ONCE (by relation identity), skips
        // ReusedExchange (a reuse is not a new shuffle), and descends
        // through the AQE wrappers — the count is the set of distinct
        // shuffles/codegen spans/broadcast joins the query can
        // actually execute.
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.WholeStageCodegenExec
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        import org.apache.spark.sql.execution.exchange.{
          Exchange, ReusedExchangeExec}
        import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        val seen = scala.collection.mutable.Set.empty[AnyRef]
        var ex = 0; var cg = 0; var bhj = 0
        def walk(p: SparkPlan): Unit = {
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
            case s: QueryStageExec => walk(s.plan); return
            case i: InMemoryTableScanExec =>
              if (seen.add(i.relation)) walk(i.relation.cachedPlan)
              return
            case _: ReusedExchangeExec => return
            case e: Exchange => ex += 1
            case _: WholeStageCodegenExec => cg += 1
            case _: BroadcastHashJoinExec => bhj += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
        walk(df.queryExecution.executedPlan)
        val plan = df.queryExecution.executedPlan.toString
        println(f"${q.name}%-36s exchanges=$ex%-3d wscg=$cg%-3d broadcastJoins=$bhj")
        census(q.name) = s"""{"ex":$ex,"wscg":$cg,"bhj":$bhj}"""
        if (verbose) df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"${q.name} ERR ${e.getMessage}")
        census(q.name) = s"""{"err":true}"""
      }
      // Census hygiene: a cache left registered by one query (or a
      // store build) would make a LATER query's census describe the
      // cached composite, not its own plan.
      SparkEntry.release(spark)
    }
    jsonOut.foreach { path =>
      val body = census.map { case (n, j) => s"""  "$n": $j""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[explainq] census written to $path")
    }
    spark.stop()
  }
}
