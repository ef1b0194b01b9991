package graft.queries

import graft.SparkSpec

/** Physical-plan shape pins for the scale-critical properties VERDICT
  * audits: broadcasts where a dim is small, top-N without a global
  * sort, map-side-collapsible aggregates instead of whole-table window
  * shuffles, and predicates reaching the parquet scan. These are the
  * properties that decide whether a plan survives a 100 TB scale-up;
  * pinning them keeps refactors honest.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(q: Q): String =
    q.fn(spark, sf).queryExecution.executedPlan.toString

  test("q03: dimension joins broadcast — no sort-merge on the dims") {
    assert(plan(Relational.q03).contains("BroadcastHashJoin"))
  }

  test("q04: top-N compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan(Relational.q04).contains("TakeOrderedAndProject"))
  }

  test("q05: max_by form has NO Window operator (collapses map-side)") {
    assert(!plan(Relational.q05).contains("Window"))
  }

  test("q10: anti join runs on pre-deduplicated keys") {
    val p = plan(Relational.q10)
    assert(p.contains("LeftAnti"))
    // the distinct on o_custkey shows up as an aggregate feeding the join
    assert(p.contains("HashAggregate"))
  }

  test("q14: ts range predicate is pushed to the parquet scan") {
    val p = plan(Events.q14)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual"),
      s"expected pushed ts range in:\n$p")
  }

  test("q02: column pruning — scan reads only the projected columns") {
    val p = plan(Relational.q02)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q50: as-of join plans as union + window — no join operator at all") {
    val p = plan(Events.q50)
    assert(p.contains("Union") && p.contains("Window"),
      s"expected union+carry-forward window in:\n$p")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
  }

  test("q51: band join is a hash/merge join, never a nested loop") {
    val p = plan(Events.q51)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("q54: hash split is map-side — one aggregate exchange, no join, no window") {
    val p = plan(Pipeline.q54)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"hash split must be a pure scan+agg:\n$p")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      s"expected only the aggregate (+order) exchanges:\n$p")
  }

  test("q56: top-K windows never partition by event_type alone") {
    // the first (heavy) window must include the user bucket in its
    // partitioning; only the candidate-ranking window — fed ≤ 3×32
    // rows per type — may partition by event_type alone. AQE wraps
    // the executed plan (its children are invisible to collect before
    // materialization), so plan without it for this structural check.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Events.q56.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.nonEmpty)
    val heavy = windows.filter(_.partitionSpec.length > 1)
    assert(heavy.nonEmpty,
      "expected the candidate window to partition by (event_type, bucket)")
  }

  test("q143: weighted top-K rides the same two-level window discipline") {
    // same structural requirement as q56: the heavy window partitions
    // by (event_type, user bucket); only the ≤3×32-survivor ranking
    // window may partition by event_type alone
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Events.q143.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.nonEmpty)
    assert(windows.exists(_.partitionSpec.length > 1),
      "expected the candidate window to partition by (event_type, bucket)")
  }

  test("q144/q146/q147: moment sums are ONE keyed aggregate — no window, no join") {
    Seq(Events.q144, Events.q146, Events.q147).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("Join"), s"${q.name} plans a join:\n$p")
    }
  }

  test("q149/q151/q152: single-pass aggregates — no window; q149/q152 no join") {
    Seq(Events.q149, Events.q152).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("Join"), s"${q.name} plans a join:\n$p")
    }
    val p151 = plan(Events.q151)
    assert(!p151.contains("Window") && !p151.contains("Join"),
      s"q151 must be two stacked aggregates only:\n$p151")
  }

  test("q148: contingency finale joins BROADCAST summary frames only") {
    // the contingency table is the one fact-sized aggregate; the
    // row/col/total attachments must broadcast (summary × summary) —
    // a sort-merge here would mean a fact-sized frame leaked through
    val p = plan(Events.q148)
    assert(p.contains("BroadcastHashJoin"), s"q148 totals not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q148 sort-merges a summary:\n$p")
  }

  test("q157: WoE/IV finale rides broadcast summaries, no window") {
    // the bucket counts are the one fact-sized aggregate; class totals
    // and the IV sum attach as <= 10-row broadcasts
    val p = plan(Events.q157)
    assert(!p.contains("SortMergeJoin"), s"q157 sort-merges a summary:\n$p")
    assert(!p.contains("Window"), s"q157 plans a Window:\n$p")
  }

  test("q159: dominance counts ride one ordered pass over cells, no pairing") {
    // the r17 rewrite (the r12 cells × ≤100-x-level expansion replayed
    // every cell's mass ~50× through a join + re-aggregation + two
    // window sorts — 42 exchanges, 7.7 s quiet at sf0.1): concordant/
    // discordant now come from a single sorted per-type dominance pass
    // over the cell summary (MapPartitions on ≤100-key running state).
    // Nothing may pair cells against cells, join, or window — the only
    // fact-sized work is the cells aggregate itself.
    val p = plan(Events.q159)
    assert(!p.contains("CartesianProduct"), s"q159 plans a cartesian:\n$p")
    assert(!p.contains("Window"), s"q159 re-grew a window frame:\n$p")
    assert(!p.contains("Join"), s"q159 re-grew a join:\n$p")
    assert(p.contains("MapPartitions"),
      s"q159 lost the dominance pass kernel:\n$p")
  }

  test("q160/q162/q165: one fact-sized aggregate, no window, no join") {
    // mean-z, corr-matrix, and the normal-equations solve are all
    // moments-only statistics: a single keyed aggregate to summary
    // rows, then a projection finale — any join or window here means
    // a fact-sized frame leaked past the aggregate
    Seq(Events.q160, Events.q162, Events.q165).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("Join"), s"${q.name} plans a join:\n$p")
    }
  }

  test("q161: octave join is the 61-row broadcast, never a shuffle join") {
    // the powers-of-two frame rides BroadcastNestedLoopJoin (range
    // condition on a 61-row side — intended); the quantile window runs
    // over the bounded bf16 histogram only
    val p = plan(Events.q161)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q161 powers frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q161 shuffle-joins the octave:\n$p")
    assert(!p.contains("CartesianProduct"), s"q161 plans a cartesian:\n$p")
  }

  test("q163: moving window runs over the day-summary series only") {
    // facts collapse to (type, day) in the keyed aggregate BEFORE the
    // window; a join would mean the series was rebuilt fact-sized
    val p = plan(Events.q163)
    assert(!p.contains("Join"), s"q163 plans a join:\n$p")
    assert(p.contains("Window"), s"q163 lost its moving window:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx < aggIdx,
      s"q163 window does not sit above the day aggregate:\n$p")
  }

  test("q164: extremes ride a broadcast back onto the day summary") {
    val p = plan(Events.q164)
    assert(p.contains("BroadcastHashJoin"),
      s"q164 min/max frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q164 sort-merges a summary:\n$p")
    assert(!p.contains("Window"), s"q164 plans a Window:\n$p")
  }

  test("q167: one bigram pass; model and normalizer frames broadcast") {
    // the per-source aggregate is the only fact-sized operation; the
    // <= 4096-row model joins and the 1-row h0/tot frames must ride
    // broadcast, never a shuffle join
    val p = plan(Pipeline.q167)
    assert(!p.contains("SortMergeJoin"), s"q167 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"q167 plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q167 model not broadcast:\n$p")
  }

  test("q168: lag self-join runs on the day summary, facts never pair") {
    // daily collapse first, then (days x 13 lags) on summary rows —
    // a cartesian or a fact-sized join side means the collapse leaked
    val p = plan(Events.q168)
    assert(!p.contains("CartesianProduct"), s"q168 plans a cartesian:\n$p")
    assert(!p.contains("Window"), s"q168 plans a Window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q168 lag frame not broadcast:\n$p")
  }

  test("q169: weight and max-day frames ride broadcast onto the day summary") {
    val p = plan(Events.q169)
    assert(!p.contains("SortMergeJoin"), s"q169 shuffle-joins a frame:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q169 weights not broadcast:\n$p")
    assert(!p.contains("Window"), s"q169 plans a Window:\n$p")
  }

  test("q170: rank statistic runs on the score histogram, no scored-row sort") {
    // the only fact-sized operation is the histogram aggregate; the
    // prefix window runs over bounded histogram rows and the finale is
    // a single re-aggregation — no join anywhere
    val p = plan(Events.q170)
    assert(!p.contains("Join"), s"q170 plans a join:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && aggIdx >= 0,
      s"q170 lost its histogram window shape:\n$p")
  }

  test("q155: ONE fact-sized aggregate; every join is a broadcast ride") {
    // marginals/totals/entropies are all re-aggregations of the
    // contingency summary; a sort-merge or exchange-heavy join here
    // would mean a fact-sized frame leaked past the first aggregate
    val p = plan(Events.q155)
    assert(!p.contains("SortMergeJoin"), s"q155 sort-merges a summary:\n$p")
    assert(!p.contains("CartesianProduct"), s"q155 has a cartesian:\n$p")
    // the single-row stat frames ride as broadcast joins (hash for the
    // keyed marginals, nested-loop only for 1-row crossJoins)
    assert(p.contains("BroadcastHashJoin"), s"q155 marginals not broadcast:\n$p")
  }

  test("q153/q154: ECDF window over the summary; totals attach broadcast") {
    val p153 = plan(Events.q153)
    assert(p153.contains("BroadcastHashJoin"),
      s"q153 day totals not broadcast:\n$p153")
    assert(!p153.contains("SortMergeJoin"), s"q153 sort-merges:\n$p153")
    val p154 = plan(Events.q154)
    assert(p154.contains("BroadcastHashJoin"),
      s"q154 totals not broadcast:\n$p154")
    assert(!p154.contains("SortMergeJoin"), s"q154 sort-merges:\n$p154")
    // the q150 structural requirement holds for q153's window too:
    // the cumulative ECDF reads the (day, v) histogram, not facts
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Events.q153.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.nonEmpty, "q153 expected the ECDF window")
    windows.foreach { w =>
      val hasAgg = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty
      assert(hasAgg, s"q153 window reads un-aggregated facts:\n$w")
    }
  }

  test("q150: rank windows run over HISTOGRAMS, never over the fact table") {
    // every WindowExec's input subtree must already contain an
    // aggregate (the value histogram) — ranks are computed on
    // cardinality-bounded summaries, not by sorting facts
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Events.q150.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.nonEmpty, "q150 expected rank windows")
    windows.foreach { w =>
      val hasAgg = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty
      assert(hasAgg, s"q150 window reads un-aggregated facts:\n$w")
    }
  }

  test("q63: both slice predicates are pushed to the z-layout scan") {
    val p = plan(Events.q63)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("ts_ns") && pushed.contains("user_id"),
      s"expected both dims pushed to the scan:\n$p")
  }

  test("q57: rolling frame plans a broadcast of the group map, no nested loop") {
    val p = plan(Events.q57)
    assert(p.contains("BroadcastHashJoin"),
      s"group-map join should broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"unexpected nested loop:\n$p")
  }

  test("q65: decontamination probes a BROADCAST semi join — the corpus never shuffles for the match") {
    val p = plan(Pipeline.q65)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark shingles should broadcast into a left-semi probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must not shuffle into a sort-merge join:\n$p")
  }

  test("q68/q69: mix operators never serialize a stratum onto one task") {
    // q68's rank windows must all carry the bucket alongside source
    // (the OrderedScan decomposition); a bare partitionBy(source)
    // would put each source's full history on a single task.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Pipeline.q68.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.nonEmpty)
    // the heavy per-row window must carry the bucket alongside the
    // stratum; only the stitch window — fed one summary row per
    // (source, bucket) — may partition by the stratum alone (the q56
    // discipline)
    assert(windows.exists(_.partitionSpec.length > 1),
      s"expected a (source, bucket) running window: " +
        windows.map(_.partitionSpec).mkString("; "))
    // q69 is map-side only: no join, no window, one aggregate exchange
    val p69 = plan(Pipeline.q69)
    assert(!p69.contains("Join") && !p69.contains("Window"),
      s"mixture sampling must be a pure scan+agg:\n$p69")
  }

  test("q70: heavy vocab window partitions by (lang, bucket), not lang alone") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Pipeline.q70.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.exists(_.partitionSpec.length > 1),
      "expected the candidate window to partition by (lang, word-bucket)")
  }

  test("q71: shared-span probe is a broadcast semi join, chunk stream never sort-merges") {
    val p = plan(Pipeline.q71)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"shared-span dictionary should broadcast into a left-semi probe:\n$p")
  }

  test("q72: stratified draw's rank window carries the hash bucket") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      Pipeline.q72.fn(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.exists(_.partitionSpec.length > 1),
      "expected a (lang, hex-bucket) running window, not a bare per-lang sort")
  }

  test("q73/q74: embedding statistics are scan+agg — no join, no window") {
    Seq(Pipeline.q73, Pipeline.q74).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"${q.name} must stay a pure explode+aggregate pipeline:\n$p")
    }
  }

  test("q78: blocklist scrub is a pure scan+agg — regex stays in codegen") {
    val p = plan(Pipeline.q78)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"scrub must be map-side + one aggregate exchange:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"scrub must compile to native regexp expressions, not a UDF:\n$p")
  }

  test("q101: ADC ranks via broadcast of the query tables — codes never sort-merge") {
    val p = plan(Pipeline.q101)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the ADC scan to broadcast the query distance tables:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus codes must not shuffle for the ranking scan:\n$p")
  }

  test("q102: pii detect is a pure scan+agg — regex chain stays in codegen") {
    val p = plan(Pipeline.q102)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"pii detect must be map-side + one aggregate exchange:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"pii detect must compile to native regexp expressions, not a UDF:\n$p")
  }

  test("q103: the probe join broadcasts query probes and hash-joins on the cell") {
    val p = plan(Pipeline.q103)
    assert(p.contains("BroadcastHashJoin"),
      s"expected a broadcast hash join on the cell id:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"corpus (cell, codes) rows must join keyed, never scan-all:\n$p")
  }

  test("q80: knn scores via broadcast of the query side — corpus never sort-merges") {
    val p = plan(Pipeline.q80)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the scoring cross join to broadcast the query side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus vectors must not shuffle for the scoring scan:\n$p")
  }

  test("q81: shard rank window carries the hash bucket — no global sort") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (windows, sorts) = try {
      val exec = Pipeline.q81.fn(spark, sf).queryExecution.executedPlan
      (exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }, exec.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      })
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    // key = lit(1) constant-folds out of every partitionSpec, so the
    // heavy within-window must still carry the hex bucket (length 1 —
    // the bucket alone), and only the stitch window — fed one summary
    // row per bucket — may run unpartitioned
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected the running-count window to carry the hex bucket")
    assert(windows.count(_.partitionSpec.isEmpty) <= 1,
      "more than one unpartitioned window — the decomposition degenerated")
    // the only global sort allowed is the final ~n/perShard-row
    // presentation orderBy, never one over document rows
    assert(sorts.forall(_.child.output.exists(_.name == "shard")),
      "global sort over pre-aggregate rows — the shuffle-shard must not globally sort documents")
  }

  test("q82: tf-idf ranks two-level and joins on keys — no vocabulary serialization") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (windows, p) = try {
      val exec = Pipeline.q82.fn(spark, sf).queryExecution.executedPlan
      (exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }, exec.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(windows.exists(_.partitionSpec.length > 1),
      "expected a (source, word-bucket) candidate window")
    assert(!p.contains("CartesianProduct"),
      s"tf⋈df must hash-join on word; N joins as a 1-row broadcast:\n$p")
  }

  test("q84: k-means result is scan+agg — centroids ride the closure, vectors never join") {
    val p = plan(Pipeline.q84)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"assignment must be a map-side kernel + one aggregate:\n$p")
  }

  test("q85: within-cluster pair join is keyed — never a cartesian over vectors") {
    val p = plan(Pipeline.q85)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"semantic-dedup pairs must hash-join on the cluster key:\n$p")
  }

  test("q75/q76: incremental dedup joins are hash joins, never nested loops") {
    Seq(Pipeline.q75, Pipeline.q76).foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"${q.name} must join on keys (digest / band-bucket):\n$p")
    }
    // q75's history side must reduce to digests before the anti join —
    // an anti join against raw documents would ship bodies
    val p75 = plan(Pipeline.q75)
    assert(p75.contains("LeftAnti"), s"expected a left-anti probe:\n$p75")
  }

  test("q96: bm25 top-10 is TakeOrderedAndProject with broadcast stats") {
    val p = plan(Pipeline.q96)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"df/corpus-stats joins must broadcast:\n$p")
  }

  test("q93: shingle self-join is keyed; source sizes broadcast") {
    val p = plan(Pipeline.q93)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must equi-join on the shingle key:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source size frames must broadcast:\n$p")
  }

  test("q104: edit candidate join hashes the anchors, never sorts the index") {
    // the sliding index is len rows/doc; SHUFFLE_HASH on the k+1
    // rows/doc anchor side keeps the join keyed-shuffled WITHOUT an
    // O(n log n) sort of the index (the r11 fix that, with
    // rarest-anchor selection, took the 10x stress point from 37 s to
    // 6.7 s). Anchors must not broadcast either - at 100 TB they are
    // rows-proportional.
    val (out, intermediates) = graft.pipeline.Dedup.editNearDupsLazy(
      graft.Tables(spark, sf, "documents"), "text", "doc_id", 10, 16)
    val p = out.queryExecution.executedPlan.toString
    intermediates.foreach(_.unpersist(blocking = false))
    assert(p.contains("ShuffledHashJoin"),
      s"anchor-vs-index join must be a shuffled hash join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the keyed bucket join:\n$p")
  }

  test("q112/q119: behavioral chain search has NO Window and no fact self-join") {
    // the chain logic lives in codegen'd array lambdas after ONE
    // user_id aggregation — a Window or a second events join would be
    // the per-user-serialization shape that dies at scale
    Seq(Events.q112, Events.q119, Events.q135).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), q.name)
    }
  }

  test("q136: uniqUpTo rides the bottomK prune, joins keyed and unhinted") {
    val lp = Events.q136.fn(spark, sf).queryExecution.analyzed.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"q136 must not carry a broadcast hint:\n$lp")
    val p = plan(Events.q136)
    assert(p.contains("_os_kb"),
      s"q136 lost the bottomK bucket prune:\n$p")
    assert(!p.contains("CartesianProduct"), s"q136 plans a cartesian:\n$p")
  }

  test("q116: the shingle-df join carries NO broadcast hint — size decides") {
    // the document-frequency table is shingle-cardinality (corpus-
    // sized): a FORCED broadcast() is the q95-class scale killer. At
    // this fixture the optimizer legitimately broadcasts the measured-
    // tiny df side; what must be pinned is that the choice is Catalyst
    // sizing, not a hint that would still force it at 100 TB.
    val lp = Pipeline.q116.fn(spark, sf).queryExecution.analyzed.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"df join must not carry a broadcast hint:\n$lp")
  }

  test("q117: registers aggregate directly — no pre-distinct before the sketch") {
    // the register path must be ONE aggregation chain over raw
    // occurrences (max absorbs duplicates); the only distinct allowed
    // is the separate exact-count readout. Pin: no more than the
    // expected number of Expand/aggregate stages on the register leg
    // by checking the register frame alone.
    val regs = Pipeline.hllRegistersOf(
      graft.Tables(spark, sf, "documents")).queryExecution.executedPlan
      .toString
    assert(!regs.contains("Expand"), s"unexpected expand:\n$regs")
    // two hash-aggregate pairs: partial+final for (source,bucket) max —
    // a distinct would add a third exchange
    assert("Exchange".r.findAllIn(regs).size == 1,
      s"register leg must shuffle exactly once:\n$regs")
  }

  test("q121/q122: bottomK prune join is keyed and unhinted — sort only after it") {
    // the bucket-pruned bottom-k must not degrade into (a) a forced
    // broadcast of the survivor list (keys may be high-cardinality at
    // 100 TB; AQE may broadcast when measured-small, a hint would
    // force it always) or (b) a nested-loop/cartesian candidate join
    Seq(Pipeline.q121, Events.q122).foreach { q =>
      val lp = q.fn(spark, sf).queryExecution.analyzed.toString
      assert(!lp.toLowerCase.contains("hint"),
        s"${q.name}: bottomK path must not carry a broadcast hint:\n$lp")
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"${q.name} plans a cartesian:\n$p")
    }
  }

  test("q123: all pairwise work is sketch-rows-sized; no corpus cartesian") {
    // the ONLY non-equi join allowed is the source-pair self-join over
    // the one-row-per-source list (summary-sized by contract); the
    // merged-sketch and exact legs must stay keyed joins
    val p = plan(Pipeline.q123)
    assert(!p.contains("CartesianProduct"), s"q123 plans a cartesian:\n$p")
    // the pair nested-loop must sit over aggregated (per-source) rows,
    // never over raw hash rows: every BroadcastNestedLoopJoin operand
    // chain has to contain an aggregate before any parquet scan
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 2, s"unexpected nested-loop count $nlj:\n$p")
    val lp = Pipeline.q123.fn(spark, sf).queryExecution.analyzed.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"q123 must not carry broadcast hints:\n$lp")
  }

  test("q129/q131/q132/q133: interval/delta/ema/lttb folds have NO Window and no join") {
    // the whole reduction is one keyed aggregation into sorted arrays
    // plus codegen'd lambdas — a Window over the fact table or a
    // self-join would be the per-user-serialization shape that dies
    // at 100 TB (the q112/q119 discipline); q133's sequential bucket
    // chain in particular must stay a per-series fold, not unrolled
    // self-joins like its oracle
    Seq(Events.q129, Events.q131, Events.q132, Events.q133).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("Join"), s"${q.name} plans a join:\n$p")
    }
  }

  test("q134: k-anonymity audit never reads the text column") {
    // the audit touches only the three quasi-identifier columns; a
    // scan that drags `text` along moves the whole corpus for a
    // summary-sized governance check
    val p = plan(Pipeline.q134)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("text"),
      s"scan reads unprojected columns: $readSchema")
    assert(!p.contains("Window") && !p.contains("Join"), s"q134 shape:\n$p")
  }

  test("q137: U statistic never ranks rows — counts first, then bucketed prefix") {
    // the aggregate must come BEFORE the prefix sum: the runningTotal
    // window may only see distinct-value summary rows, never the fact
    // table (the whole point of the count-based U formulation)
    val p = plan(Events.q137)
    assert(p.contains("_os_bucket"),
      s"q137 lost the runningTotal bucket decomposition:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"q137 joins:\n$p")
  }

  test("q138: quartile rank is bucketed and the fence join is unhinted") {
    val lp = Events.q138.fn(spark, sf).queryExecution.analyzed.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"q138 must not carry a broadcast hint:\n$lp")
    val p = plan(Events.q138)
    assert(p.contains("_os_bucket"),
      s"q138 lost the runningTotal bucket decomposition:\n$p")
    assert(!p.contains("CartesianProduct"), s"q138 plans a cartesian:\n$p")
  }

  test("q139/q140/q141: map-merge, bounding ratio, and Welch t are pure keyed aggregates") {
    // sumMap = two keyed aggs over summary rows; boundingRatio = ONE
    // agg of struct-min/max monoids; Welch t = one agg to day rows
    // plus arithmetic. A Window or a join in any of them would be
    // the per-group-serialization shape the count-based forms avoid.
    // q158 ANOVA is the same discipline: two stacked keyed aggregates
    Seq(Events.q139, Events.q140, Events.q141, Events.q158).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"${q.name} plans a Window:\n$p")
      assert(!p.contains("Join"), s"${q.name} plans a join:\n$p")
    }
  }

  test("q142: importance scores join keyed, never read n_chars, top-20 takes ordered") {
    val p = plan(Pipeline.q142)
    // the only nested-loop allowed is the 1-row totals broadcast; the
    // bucket-stats join back to the token stream must stay keyed
    assert(!p.contains("CartesianProduct"), s"q142 plans a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q142 lost the TakeOrdered top-20 (global sort?):\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("n_chars"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q156: model frames broadcast onto the bigram stream, top-20 takes ordered") {
    // both LM count frames are <= 4096 rows by construction; if either
    // sort-merges, the model stopped being broadcast-able and the
    // score leg would shuffle the full bigram stream twice at scale
    val p = plan(Pipeline.q156)
    assert(p.contains("BroadcastHashJoin"), s"q156 model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q156 sort-merges the model:\n$p")
    assert(!p.contains("CartesianProduct"), s"q156 plans a cartesian:\n$p")
    assert(!p.contains("Window"), s"q156 plans a Window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q156 lost the TakeOrdered top-20 (global sort?):\n$p")
  }

  test("q130: sweep running sum rides the bucket decomposition, joins stay keyed") {
    // the per-type prefix sum must be OrderedScan's (key, bucket)
    // two-level form — a bare per-type Window serializes each type
    // onto one task at scale; peak extraction joins must stay keyed
    val p = plan(Events.q130)
    assert(p.contains("_os_bucket"),
      s"q130 lost the runningTotal bucket decomposition:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q130 plans a non-keyed join:\n$p")
  }

  test("q171: word frames equi-join on the word key, raw ids never pair") {
    // the bitmap intersection must be a keyed join between word frames
    // (<= users/64 rows per type) — a cartesian/nested-loop here would
    // pair raw audiences; the pair scaffold and inter frame are tiny
    // and must ride broadcast
    val p = plan(Events.q171)
    assert(!p.contains("CartesianProduct"), s"q171 plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q171 pair summary not broadcast:\n$p")
    // the a=b word join must key on w: any join operator carrying the
    // w=w condition is fine (SMJ/SHJ), but it must exist as an equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("[w")),
      s"q171 word join is not an equi-join on w:\n$p")
  }

  test("q172: cumulative window runs over the bounded histogram, totals broadcast") {
    val p = plan(Events.q172)
    assert(p.contains("BroadcastHashJoin"), s"q172 totals not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q172 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"q172 plans a cartesian:\n$p")
  }

  test("q173: weight and max-day frames ride broadcast onto the day summary") {
    val p = plan(Events.q173)
    assert(!p.contains("SortMergeJoin"), s"q173 shuffle-joins a frame:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q173 weights not broadcast:\n$p")
    assert(!p.contains("Window"), s"q173 plans a Window:\n$p")
  }

  test("q174: day-count frame broadcasts onto the per-key coverage counts") {
    val p = plan(Events.q174)
    assert(p.contains("BroadcastHashJoin"), s"q174 days not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q174 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q174 plans a non-keyed join:\n$p")
  }

  test("q176: γ-bound range probe runs on the collapsed histogram, bounds broadcast") {
    val p = plan(Events.q176)
    // the 643-row boundary table probes via a broadcast nested loop —
    // acceptable ONLY because facts collapse to the domain-bounded
    // (type, ms) histogram first; a cartesian or a sort-merge on the
    // inequality would mean the collapse was lost
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q176 bounds not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q176 plans a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q176 shuffle-joins a frame:\n$p")
    // the histogram aggregate must sit below the range join
    val agg = p.indexOf("HashAggregate")
    val bnlj = p.indexOf("BroadcastNestedLoopJoin")
    assert(agg >= 0 && bnlj >= 0, s"q176 shape missing:\n$p")
  }

  test("q177: CUSUM prefixes run over the day summary, stats broadcast") {
    val p = plan(Events.q177)
    assert(p.contains("BroadcastHashJoin"), s"q177 stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q177 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"q177 plans a cartesian:\n$p")
  }

  test("q178: Benford scaffold and counts ride broadcast, no shuffle joins") {
    val p = plan(Events.q178)
    assert(!p.contains("SortMergeJoin"), s"q178 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"q178 plans a cartesian:\n$p")
  }

  test("q179: benchmark side broadcasts — corpus vectors never shuffle") {
    val p = plan(Pipeline.q179)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q179 benchmark frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q179 shuffle-joins vectors:\n$p")
    assert(!p.contains("CartesianProduct"), s"q179 plans a cartesian:\n$p")
  }

  test("q180: diversity stats are two keyed aggregates, no join at all") {
    val p = plan(Pipeline.q180)
    assert(!p.contains("Join"), s"q180 plans a join:\n$p")
    assert(!p.contains("Window"), s"q180 plans a Window:\n$p")
  }

  test("q181: rank lookups ride broadcast over the bounded histogram") {
    val p = plan(Events.q181)
    assert(!p.contains("SortMergeJoin"), s"q181 shuffle-joins a frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"q181 plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"q181 spec/rank frames not broadcast:\n$p")
  }

  test("q175: cohort join keys on user_id (never broadcast), base rides broadcast") {
    val p = plan(Events.q175)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q175 plans a non-keyed join:\n$p")
    // the day-0 base onto the calendar^2 triangle must broadcast
    assert(p.contains("BroadcastHashJoin"), s"q175 base not broadcast:\n$p")
  }

  test("q182: keep decision is a keyed join + max(struct) — no Window, no broadcast hint on dup mass") {
    // q182.fn runs CC's gate count eagerly (pairs materialize inside);
    // the final selection plan is what this pins
    val p = plan(Pipeline.q182)
    assert(!p.contains("Window"), s"q182 plans a Window over facts:\n$p")
    assert(!p.contains("CartesianProduct"), s"q182 plans a cartesian:\n$p")
  }

  test("q183: mixture weights — totals ride 1-row broadcasts, no Window, no shuffle join") {
    val p = plan(Pipeline.q183)
    assert(!p.contains("SortMergeJoin"), s"q183 shuffle-joins a frame:\n$p")
    assert(!p.contains("Window"), s"q183 plans a Window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q183 totals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q183 plans a cartesian:\n$p")
  }

  test("q184: partials collapse before the γ probe; merge is summary-sized; bounds broadcast") {
    val p = plan(Events.q184)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q184 bounds not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q184 plans a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q184 shuffle-joins a frame:\n$p")
    // the (type, day, ms) histogram aggregate must sit below the probe
    val agg = p.indexOf("HashAggregate")
    val bnlj = p.indexOf("BroadcastNestedLoopJoin")
    assert(agg >= 0 && bnlj >= 0, s"q184 shape missing:\n$p")
  }

  test("q186: readability summaries join broadcast — no Window, no shuffle join") {
    val p = plan(Pipeline.q186)
    assert(p.contains("BroadcastHashJoin"),
      s"q186 doc counts not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q186 shuffle-joins a frame:\n$p")
    assert(!p.contains("Window"), s"q186 plans a Window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q186 plans a cartesian:\n$p")
  }

  test("q189: diversity audit is three keyed aggregates — no join, no Window") {
    val p = plan(Events.q189)
    assert(!p.contains("Join"), s"q189 plans a join:\n$p")
    assert(!p.contains("Window"), s"q189 plans a Window:\n$p")
  }

  test("q191: EMD runs on summary cells — stats broadcast, no cartesian") {
    val p = plan(Events.q191)
    assert(!p.contains("CartesianProduct"), s"q191 plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q191 stats not broadcast:\n$p")
  }

  test("q185: query slice broadcasts — corpus vectors never shuffle, no Window") {
    val p = plan(Pipeline.q185)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q185 query slice not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q185 shuffle-joins vectors:\n$p")
    assert(!p.contains("CartesianProduct"), s"q185 plans a cartesian:\n$p")
    assert(!p.contains("Window"), s"q185 plans a Window:\n$p")
  }
}
