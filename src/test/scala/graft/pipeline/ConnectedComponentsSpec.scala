package graft.pipeline

import graft.SparkSpec

/** Dedup.connectedComponents vs brute-force union-find on adversarial
  * graph shapes: long chains (the path-halving stress), stars, cliques,
  * degenerate pairs and seeded random graphs. Exactness is the
  * contract — labels must equal the component minimum for every node,
  * every time — and it must hold on BOTH algorithms the edge count
  * picks between: the one-task union-find kernel and the distributed
  * label rounds.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  /** Brute-force union-find ground truth. */
  private def truth(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical = min of component: union-by-min keeps roots minimal
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** The two paths, each over the (u, v) pair projection. */
  private val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
    "kernel" -> Dedup.unionFindComponents,
    "rounds" -> Dedup.labelRounds)

  private def labels(df: DataFrame): Map[Long, Long] = {
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == out.toMap.size, "one row per node")
    out.toMap
  }

  private def check(pairs: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val uv = pairs.toDF("u", "v")
    for ((name, cc) <- paths)
      assert(labels(cc(uv)) == truth(pairs), name)
  }

  test("long chain collapses to its minimum (path-halving stress)") {
    check((0L until 200L).map(i => (i, i + 1)))
  }

  test("chain given in worst-case (descending) edge order") {
    check((0L until 100L).map(i => (i, i + 1)).reverse)
  }

  test("stars, cliques, and singleton pairs") {
    val star = (1L to 20L).map(i => (100L, 100L + i))
    val clique = for (i <- 0 to 5; j <- i + 1 to 5) yield (500L + i, 500L + j)
    val lone = Seq((900L, 901L))
    // a self-pair, duplicate and reversed pairs, and extreme ids
    val self = Seq((700L, 700L))
    val dupRev = Seq((800L, 801L), (801L, 800L), (800L, 801L))
    val extremes = Seq((Long.MaxValue, -5L), (-5L, Long.MinValue),
      (Long.MinValue, -9L), (Long.MaxValue - 1, Long.MaxValue))
    check(star ++ clique ++ lone ++ self ++ dupRev ++ extremes)
    check(Seq.empty)
  }

  test("seeded random graphs match union-find") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 3) {
      val n = 150
      val pairs = Seq.fill(120)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(pairs)
    }
  }

  // ---- incrementalComponents: stored labels + batch pairs must equal
  // a from-scratch run over the union, on every merge topology ----

  /** The stored labeling comes from `stored`, one of the two paths. */
  private def runIncr(hist: Seq[(Long, Long)], batch: Seq[(Long, Long)],
      stored: DataFrame => DataFrame): Map[Long, Long] = {
    import spark.implicits._
    labels(Dedup.incrementalComponents(stored(hist.toDF("u", "v")),
      batch.toDF("a", "b"), "a", "b"))
  }

  private def checkIncr(hist: Seq[(Long, Long)],
      batch: Seq[(Long, Long)]): Unit =
    for ((name, cc) <- paths)
      assert(runIncr(hist, batch, cc) == truth(hist ++ batch), name)

  test("incremental: new pair merges two stored components") {
    checkIncr(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq((3L, 10L)))
  }

  test("incremental: untouched components pass through unchanged") {
    val hist = Seq((1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L))
    for ((name, cc) <- paths) {
      val out = runIncr(hist, Seq((1L, 30L)), cc)
      assert(out == truth(hist ++ Seq((1L, 30L))), name)
      // the untouched components kept their labels
      assert(out(11L) == 10L && out(22L) == 20L, name)
    }
  }

  test("incremental: batch introduces entirely new nodes") {
    checkIncr(Seq((1L, 2L)), Seq((100L, 101L), (101L, 102L)))
    checkIncr(Seq.empty, Seq((100L, 101L), (101L, 102L)))
  }

  test("incremental: batch pair inside one stored component is a no-op") {
    checkIncr(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq((1L, 4L)))
  }

  test("incremental: chain of merges across many stored components") {
    val hist = (0 until 10).map(i => (i * 10L, i * 10L + 1))
    val batch = (0 until 9).map(i => (i * 10L + 1, (i + 1) * 10L))
    checkIncr(hist, batch)
  }

  test("incremental: empty batch returns stored labels verbatim") {
    checkIncr(Seq((1L, 2L), (10L, 11L)), Seq.empty)
  }

  test("incremental: seeded random splits match a from-scratch run") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 3) {
      val n = 120
      val all = Seq.fill(100)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (hist, batch) = all.partition(_ => rnd.nextBoolean())
      checkIncr(hist, batch)
    }
  }

  test("below the gate: the caller's session, and nothing left " +
      "persisted after the end-of-query release") {
    import spark.implicits._
    Similarity.releaseResult()
    val before = sc.getPersistentRDDs.keySet
    val hist = Seq((3L, 1L), (1L, 2L), (7L, 8L))
    val stored = Dedup.connectedComponents(hist.toDF("a", "b"), "a", "b")
    assert(stored.sparkSession eq spark)
    val out = Dedup.incrementalComponents(stored,
      Seq((2L, 7L), (20L, 21L)).toDF("a", "b"), "a", "b")
    assert(out.sparkSession eq spark)
    assert(labels(out) ==
      truth(hist ++ Seq((2L, 7L), (20L, 21L))))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    Similarity.releaseResult()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("above the gate: the label rounds' checkpoints go with the " +
      "end-of-query release") {
    import spark.implicits._
    Similarity.releaseResult()
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet.filterNot(before)
    val pairs = (0L until 30L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    assert(labels(Dedup.labelRounds(pairs.toDF("u", "v"))) == truth(pairs))
    // the initial labels, then stepped + jumped per round
    assert(added.size >= 3)
    Similarity.releaseResult()
    assert(added.isEmpty)
  }
}
