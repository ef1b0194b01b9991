package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine top-k is the exactness baseline: broadcast the
  * (small) query set against the corpus, rank per query. The scale
  * path is [[annTopK]]: deterministic random-hyperplane LSH buckets
  * candidates first, so the per-query work is a bucket probe instead
  * of a corpus scan — the 100 TB shape, traded against recall.
  *
  * All arithmetic is done in double after casting the float vectors,
  * with left-to-right accumulation, matching DuckDB's
  * list_dot_product on DOUBLE[] so oracle hashes agree bit-for-bit.
  */
object Similarity extends Serializable {

  /** Sequential-fold dot product of two double arrays — the executable
    * spec for [[dotKernel]] and the shape the oracle's
    * list_dot_product evaluates.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, z) => acc + z)

  /** JVM kernel for [[dot]]: identical left-to-right IEEE accumulation
    * (PipelineSpec proves bit-equality), minus the per-element HOF
    * interpretation cost that dominated BENCH_r02 q30/q32. Like the
    * Column spec, length-mismatched or null inputs yield NULL
    * (zip_with null-pads the shorter array, nulling the sum).
    */
  val dotKernel: UserDefinedFunction = udf { (a: Seq[Double], b: Seq[Double]) =>
    if (a == null || b == null || a.length != b.length) null
    else {
      var s = 0.0
      var i = 0
      val n = a.length
      while (i < n) { s += a(i) * b(i); i += 1 }
      s: java.lang.Double
    }
  }

  /** cosine(a, b) computed as dot/(sqrt(dot_aa)*sqrt(dot_bb)) — the
    * exact expression the oracle uses. Dot product is the native
    * codegen [[graft.functions.DotProduct]] (same accumulation order
    * as [[dot]]/[[dotKernel]], zero per-row boxing).
    */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    call_function("graft_dot", a, b) / (na * nb)

  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      id: String, v: String, n: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
      .withColumn(n, sqrt(call_function("graft_dot", col(v), col(v))))
  }

  /** Exact cosine top-k: for each query vector (filtered by
    * `queryPred` on the id), the k nearest corpus vectors. The query
    * side is broadcast — the corpus is scanned exactly once, no
    * shuffle of corpus vectors. Rank ties break on neighbor id.
    * Returns (query_id, rank, neighbor_id, cosine rounded to 6 dp).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column => Column, k: Int): DataFrame =
    bruteForceTopK(emb, emb.filter(queryPred(col(idCol))), idCol, vecCol, k)

  /** Separate-frame form — the corpus may be pre-filtered (metadata
    * predicates: language, quality floor, license…) BEFORE the scan,
    * which is how filtered vector search stays exact: filter-then-
    * search never loses recall, unlike post-filtering an ANN result
    * list, and the predicate prunes the corpus scan itself.
    */
  def bruteForceTopK(corpusDf: DataFrame, queriesDf: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpus = withNorm(corpusDf, idCol, vecCol, "nid", "cv", "cn")
    val queries = withNorm(queriesDf, idCol, vecCol, "qid", "qv", "qn")
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Semantic decontamination — the embedding-space leg beside q65's
    * n-gram decontamination (Brown 2020 §4 / GPT-3's dedup-against-
    * benchmarks, done in vector space): flag corpus vectors whose
    * cosine to ANY eval/benchmark vector reaches `tau`. EXACT by
    * construction — filter-then-scan keeps recall 1.0, unlike
    * post-filtering an ANN list — and scale-right: the benchmark side
    * is small by nature and rides BROADCAST, so the corpus is scanned
    * exactly once, map-side, with one running max per corpus row and
    * no shuffle of corpus vectors; the only shuffled frame is the
    * per-`groupCol` summary. Returns per group: total, flagged count
    * at `tau`, and the max observed cosine (6 dp).
    */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, groupCol: String,
      tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus
      .select(col(idCol).as("nid"), col(groupCol).as("grp"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn",
        sqrt(call_function("graft_dot", col("cv"), col("cv"))))
    val q = withNorm(evalSet, idCol, vecCol, "qid", "qv", "qn")
    c.crossJoin(broadcast(q))
      .select(col("nid"), col("grp"),
        cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
      .groupBy(col("nid"), col("grp"))
      .agg(max(col("cos")).as("mc"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("mc") >= tau, 1L).otherwise(0L)).as("n_flagged"),
        round(max(col("mc")), 6).as("max_cosine"))
      .withColumnRenamed("grp", groupCol)
      .orderBy(col(groupCol))
  }

  /** Hard-negative mining (q185): for each vector in the deterministic
    * audit slice (id ≡ 0 mod `mod` — the 100 TB sampling knob; scale
    * the modulus with the corpus to keep the mined set fixed, the q94
    * posture), the single highest-cosine corpus vector with a
    * DIFFERENT label. Exact: slice broadcast, corpus scanned once
    * map-side, only per-query argmax rows shuffle; ties break to the
    * smallest negative id through one `max(struct)`.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, mod: Long): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val e = corpus
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n",
        sqrt(call_function("graft_dot", col("v"), col("v"))))
    val q = e.filter(pmod(col("vec_id"), lit(mod)) === 0L)
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("v").as("qv"), col("n").as("qn"))
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlab"))
      .select(col("qid"), col("qlab"),
        struct(
          (call_function("graft_dot", col("qv"), col("v")) /
            (col("qn") * col("n"))).as("cos"),
          (-col("vec_id")).as("nid"),
          col("label").as("nlab")).as("s"))
      .groupBy(col("qid"), col("qlab"))
      .agg(max(col("s")).as("b"))
      .select(col("qid").as("vec_id"), col("qlab").as("label"),
        (-col("b.nid")).as("neg_id"), col("b.nlab").as("neg_label"),
        round(col("b.cos"), 6).as("neg_cosine"))
      .orderBy(col("vec_id"))
  }

  /** Number of hyperplanes = signature bits for the ANN path, and the
    * multiprobe depth (all buckets within `ProbeFlips` bit flips are
    * probed). 8 bits + 3 flips ⇒ 93 of 256 buckets per query ≈ 36% of
    * the corpus scanned for ~60% recall@5 (SimilaritySpec pins the
    * floor) — the honest trade-off for near-orthogonal embeddings,
    * where true neighbors sit at ~60-70° and single-bucket collision
    * probability is inherently low. Clustered real-world embeddings
    * land far better on the same curve.
    */
  val HyperBits = 8
  val ProbeFlips = 3

  /** Deterministic pseudo-random hyperplane component in [-1, 1]:
    * derived from xxhash64(plane, dim) so every executor materializes
    * identical planes with zero driver-side state or randomness.
    */
  private def planeComponent(p: Column, d: Column): Column =
    (pmod(xxhash64(p, d), lit(2000001L)) - 1000000L).cast("double") / 1000000.0

  /** Sign-bit LSH bucket of a vector: bit p = [v · plane_p >= 0]. */
  def lshBucket(v: Column): Column =
    (0 until HyperBits).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => x * planeComponent(lit(p), d)),
        lit(0.0), (a, z) => a + z)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** JVM mirror of [[planeComponent]] — same xxhash64 chain, same
    * positive-mod arithmetic.
    */
  private def planeComponentJvm(p: Int, d: Int): Double = {
    val m = 2000001L
    val h = XxHash64Function.hash(d, IntegerType,
      XxHash64Function.hash(p, IntegerType, 42L))
    ((((h % m) + m) % m) - 1000000L).toDouble / 1000000.0
  }

  // plane components memoized for the common dim range; computed on
  // the fly past it (identical values either way)
  private lazy val planeCache: Array[Array[Double]] =
    Array.tabulate(HyperBits, 1024)(planeComponentJvm)
  private def planeOf(p: Int, d: Int): Double =
    if (d < 1024) planeCache(p)(d) else planeComponentJvm(p, d)

  /** The hyperplane components as SQL `VALUES (p, d, w), …` literals,
    * for the q30 oracle: every component is n/1e6 for an integer n in
    * [-1e6, 1e6], so its shortest 6-decimal rendering parses back to
    * the IDENTICAL double in any engine (the decimal is within
    * half-ulp of the quotient both printing and parsing round to).
    * The planes are algorithm PARAMETERS — sharing them with the
    * oracle is the same move as sharing the 0.45 threshold; the
    * oracle still computes projections, buckets, probing, and rerank
    * independently.
    */
  def planesSqlValues(maxDim: Int = 64): String =
    (0 until HyperBits).flatMap(p => (0 until maxDim).map { d =>
      val w = String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(planeOf(p, d)))
      s"($p,$d,$w)"
    }).mkString(",")

  /** JVM kernel for [[lshBucket]]: identical projections and sign
    * bits (PipelineSpec proves equality), one pass per plane. A null
    * vector yields NULL like the Column form (whose aggregate over a
    * null array is null), not an NPE.
    */
  val lshBucketKernel: UserDefinedFunction = udf { (v: Seq[Double]) =>
    if (v == null) null
    // empty vector: the Column spec yields null projections → bucket 0
    else if (v.isEmpty) (0L: java.lang.Long)
    else (lshBucketJvm(v): java.lang.Long)
  }

  private def lshBucketJvm(v: Seq[Double]): Long = {
    var bucket = 0L
    var p = 0
    while (p < HyperBits) {
      var proj = 0.0
      var d = 0
      while (d < v.length) { proj += v(d) * planeOf(p, d); d += 1 }
      if (proj >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Result caches of the near-dup/similarity operators, held until
    * [[releaseResult]]: without the drain, every such query would pin
    * its self-join inputs in the block manager for the rest of the
    * session (Verify/Bench run ~200 queries in one).
    *
    * A PER-THREAD list, not a single rotating slot: a COMPOSED query
    * (q110 = stored CC → pair probe → fold; each step registers its
    * caches here) must keep every step's result cached until the query
    * completes, or step N+1 silently drops step N's cache and later
    * references recompute the whole upstream chain (the single-slot
    * form cost q110 a full history-CC replay — measured 21.8 s vs
    * 9.5 s). Thread-scoped because drains are thread-scoped: a
    * streaming epoch's end-of-batch drain must not unpersist a batch
    * query composing mid-flight on another thread of the same
    * session. Operators build and consume their plans on the calling
    * thread (the main loop in Bench/Verify/Stress, the stream-execution
    * thread in foreachBatch sinks), and every drain site is the same
    * thread that ran the operators, so per-thread scoping is exact.
    */
  private val liveResults =
    ThreadLocal.withInitial[java.util.ArrayDeque[() => Unit]](() =>
      new java.util.ArrayDeque[() => Unit]())

  /** Register an already-persisted (possibly lazily) DataFrame for the
    * end-of-query [[releaseResult]] drain WITHOUT forcing a
    * materialization pass — for intermediates whose first consumer
    * materializes them anyway (an eager count here would be a full
    * extra pass at any scale when the caller's next action reads the
    * frame regardless).
    */
  private[graft] def registerForRelease(df: DataFrame): DataFrame = {
    liveResults.get().add(() => { df.unpersist(blocking = false); () })
    df
  }

  /** A lazy `localCheckpoint` of `df` whose checkpoint RDD the
    * end-of-query [[releaseResult]] drain unpersists. `unpersist` on
    * the checkpointed frame reaches only the CacheManager, so without
    * this the RDD (marked persistent when the checkpoint is taken)
    * stays pinned until a GC. Unlike a cache, a released checkpoint
    * cannot recompute: read the frame before the release.
    */
  private[graft] def localCheckpointForRelease(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    cp.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        liveResults.get().add(() => { r.rdd.unpersist(blocking = false); () })
      case _ => ()
    }
    cp
  }

  /** Cache the result and register it, together with its (still
    * cached) intermediates, for the end-of-query drain, without a
    * forced count — the caller's next action materializes result +
    * intermediates in the job it runs anyway, saving one full result
    * pass per operator call at any scale. Use only where nothing
    * between here and the consumer's action depends on synchronous
    * materialization (e.g. a scan that must run inside a widened
    * parquet-pushdown conf window is pinned by its own eager persist
    * first — GramIndexLayout.probe does exactly that for its index
    * read).
    */
  private[graft] def cacheAndRelease(result: DataFrame,
      intermediates: Seq[DataFrame]): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (out +: intermediates).foreach(registerForRelease)
    out
  }

  /** Run every release [[registerForRelease]], [[cacheAndRelease]] and
    * [[localCheckpointForRelease]] recorded on THIS thread — the
    * consumed cached DataFrames stay valid (they just recompute if
    * re-read). Call from the thread that ran the operators.
    */
  def releaseResult(): Unit = {
    val q = liveResults.get()
    var release = q.poll()
    while (release != null) {
      release()
      release = q.poll()
    }
  }

  /** Multi-probe buckets: every bucket within [[ProbeFlips]] bit
    * flips of the exact bucket.
    */
  def probeBuckets(bucket: Column): Column = {
    val masks = (0 until (1 << HyperBits)).filter(m =>
      java.lang.Integer.bitCount(m) <= ProbeFlips).map(_.toLong)
    array(masks.map(m => bucket.bitwiseXOR(lit(m))): _*)
  }

  /** Approximate cosine top-k: corpus bucketed by [[lshBucket]]
    * (computed once, map-side); queries probe their bucket ± 1 bit.
    * Candidates are verified with exact cosine and ranked per query.
    * At scale the bucket join replaces the corpus scan per query —
    * shuffle volume is corpus × 1 and queries × (HyperBits+1).
    *
    * Broadcast contract (the [[knnClassify]] discipline): the query
    * side broadcasts ×93 probe rows, so it is counted and processed
    * in deterministic hash chunks past `maxBroadcastRows` — bounded
    * broadcast at the price of chunks× corpus scans; per-qid windows
    * never cross chunks, so output is chunk-count-invariant.
    */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column => Column, k: Int,
      maxBroadcastRows: Long = 262144L): DataFrame = {
    val corpus = withNorm(emb, idCol, vecCol, "nid", "cv", "cn")
      .withColumn("bucket", lshBucketKernel(col("cv")))
    val qbase = withNorm(emb.filter(queryPred(col(idCol))),
      idCol, vecCol, "qid", "qv", "qn")
    val nq = qbase.count()
    val chunks =
      math.max(1L, (nq + maxBroadcastRows - 1) / maxBroadcastRows).toInt
    def leg(qs: DataFrame): DataFrame = {
      val queries = qs.withColumn("bucket",
        explode(probeBuckets(lshBucketKernel(col("qv")))))
      // no dedup needed: a corpus vector sits in exactly ONE bucket
      // and the probe masks are distinct, so each (qid, nid) matches
      // at most once — a distinct here would be a pure extra shuffle
      val scored = corpus.join(broadcast(queries), "bucket")
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid").as("query_id"), col("rank"),
          col("nid").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
    }
    if (chunks == 1) leg(qbase)
    else (0 until chunks)
      .map(i => leg(qbase.filter(chunkOf(col("qid"), chunks) === i)))
      .reduce(_ unionAll _)
  }

  /** IVF (inverted-file) approximate top-k — the other standard scale
    * path next to [[annTopK]]'s hyperplane LSH: a Lloyd-trained
    * coarse quantizer ([[lloydCentroids]] — the same integer-exact
    * discipline as [[deterministicKMeans]], so an independent SQL
    * engine can replay the training bit-for-bit) partitions the
    * corpus into nlist cells; queries probe the nprobe nearest cells
    * (by the same fixed-point distance, ties to the smaller cell id)
    * and exact-rerank the candidates. Training moves only k·dim
    * partial sums per round; shuffle volume is corpus×1 (cell
    * assignment) + queries×nprobe, never corpus×queries. Because
    * every stage — init, updates, cell argmin, probe ranking, cosine
    * rerank — is engine-recomputable, the q38 oracle hash-checks the
    * FULL approximate result, not just its recall.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column => Column, k: Int, nlist: Int = 16,
      nprobe: Int = 4, rounds: Int = 2,
      maxBroadcastRows: Long = 262144L): DataFrame = {
    val cents = trainCentroids(emb, idCol, vecCol, nlist, rounds)
    ivfSearch(emb, emb.filter(queryPred(col(idCol))), cents,
      idCol, vecCol, k, nprobe, maxBroadcastRows)
  }

  /** Incremental IVF — the ANN member of the incremental family
    * (exact q75/q86, MinHash q76): a NEW batch arrives against an
    * already-indexed corpus, and queries search the merged index
    * WITHOUT retraining. The quantizer trains on HISTORY only
    * (production: it was trained when the index was built; a batch
    * arrival changes nothing), the batch's vectors get a map-side
    * cell assignment against the broadcast centroids, and queries
    * probe nprobe cells over history ∪ batch. Nothing about history
    * reshuffles on batch arrival — its cell assignment is the stored
    * inverted index at scale (recomputed here only because the
    * harness is stateless), and the probe join broadcasts query probe
    * rows against the corpus scan, so corpus shuffle volume on a new
    * batch is ZERO. Fully oracle-checkable like q38: train CTEs
    * restrict to history, assignment covers the union.
    */
  def ivfAppendTopK(history: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, queryPred: Column => Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, rounds: Int = 2,
      maxBroadcastRows: Long = 262144L): DataFrame = {
    val cents = trainCentroids(history, idCol, vecCol, nlist, rounds)
    val corpus = history.select(col(idCol), col(vecCol))
      .unionAll(batch.select(col(idCol), col(vecCol)))
    ivfSearch(corpus, batch.filter(queryPred(col(idCol))), cents,
      idCol, vecCol, k, nprobe, maxBroadcastRows)
  }

  /** Shared IVF search tail: map-side cell assignment of the corpus
    * against broadcast centroids, query probes (nprobe cells, ranked
    * by the same fixed-point distance, ties to the smaller cell id),
    * exact cosine rerank, top-k per query. Query side counted and
    * hash-chunked past `maxBroadcastRows` (the [[knnClassify]]
    * broadcast discipline; output chunk-count-invariant).
    */
  private[graft] def ivfSearch(corpusDf: DataFrame, queriesDf: DataFrame,
      cents: Array[(Long, Array[Double])], idCol: String, vecCol: String,
      k: Int, nprobe: Int, maxBroadcastRows: Long = 262144L): DataFrame = {
    val spark = corpusDf.sparkSession
    val bc = spark.sparkContext.broadcast(cents)
    def cellsOf(vd: Array[Double], m: Int): Array[Long] = {
      val cs = bc.value
      cs.map { case (cid, c) => (distFpJvm(vd, c), cid) }
        .sortBy(identity).take(m).map(_._2)
    }
    val assignCell = udf((vd: Array[Double]) => cellsOf(vd, 1)(0))
    val probeCells = udf((vd: Array[Double]) => cellsOf(vd, nprobe))

    val corpus = withNorm(corpusDf, idCol, vecCol, "nid", "cv", "cn")
      .withColumn("cell", assignCell(col("cv")))
    val qbase = withNorm(queriesDf, idCol, vecCol, "qid", "qv", "qn")
    val nq = qbase.count()
    val chunks =
      math.max(1L, (nq + maxBroadcastRows - 1) / maxBroadcastRows).toInt
    def leg(qs: DataFrame): DataFrame = {
      val queries = qs.withColumn("cell", explode(probeCells(col("qv"))))
      val scored = corpus.join(broadcast(queries), "cell")
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid").as("query_id"), col("rank"),
          col("nid").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
    }
    if (chunks == 1) leg(qbase)
    else (0 until chunks)
      .map(i => leg(qbase.filter(chunkOf(col("qid"), chunks) === i)))
      .reduce(_ unionAll _)
  }

  /** kNN label propagation — classify each query vector by majority
    * vote of its `k` nearest labeled corpus vectors (cosine), the
    * cheap quality-classifier / weak-labeling step of a training-data
    * pipeline (label noise audit, pseudo-labeling an unlabeled crawl
    * slice from a labeled seed set).
    *
    * Same scan shape as [[bruteForceTopK]]: the query side broadcasts,
    * the labeled corpus is scanned ONCE with no shuffle of its
    * vectors; only (query × k) tiny vote rows shuffle into the
    * aggregate. Vote ties break to the label holding the nearer
    * neighbor (min rank — integer-deterministic given the rank order,
    * which ties on neighbor id like every top-k here).
    *
    * Broadcast contract: the query side is NOT assumed tiny — callers
    * pass corpus slices (q80/q94 pass 10–20% of all embeddings), and
    * an unbounded broadcast of a corpus fraction is the q95 failure
    * class. The query side is counted, and when it exceeds
    * `maxBroadcastRows` it is processed in ⌈n/max⌉ deterministic
    * chunks (qid mod chunks), each chunk broadcast against its own
    * corpus scan and the disjoint results unioned — per-join
    * broadcast stays bounded at the price of chunks× corpus scans,
    * the honest trade once the query side outgrows executor memory
    * (a truly large query side belongs on the bucketed ANN path —
    * [[annTopK]]/[[ivfTopK]] carry the SAME maxBroadcastRows budget,
    * with far smaller per-chunk scans since the bucket join prunes
    * candidates). Output is identical for any chunk count: the
    * per-qid windows and votes never cross chunks.
    *
    * Returns (query_id, pred_label, votes, best_rank) — one row per
    * query. All-integer outputs: nothing float crosses the aggregate,
    * so the oracle reproduces it exactly.
    */
  def knnClassify(corpusDf: DataFrame, queriesDf: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      maxBroadcastRows: Long = 262144L): DataFrame = {
    graft.functions.GraftFunctions.register(corpusDf.sparkSession)
    val corpus = corpusDf.select(col(idCol).as("nid"),
        col(labelCol).as("nlabel"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
    val queries = withNorm(queriesDf, idCol, vecCol, "qid", "qv", "qn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nq = queries.count()
    val chunks = math.max(1L, (nq + maxBroadcastRows - 1) / maxBroadcastRows).toInt
    def leg(qs: DataFrame): DataFrame = {
      val scored = corpus.crossJoin(broadcast(qs))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), col("nlabel"),
          cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      val voted = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .groupBy(col("qid"), col("nlabel"))
        .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
      val pick = Window.partitionBy(col("qid"))
        .orderBy(col("votes").desc, col("best_rank").asc)
      voted.withColumn("_rk", row_number().over(pick))
        .filter(col("_rk") === 1)
        .select(col("qid").as("query_id"), col("nlabel").as("pred_label"),
          col("votes"), col("best_rank"))
    }
    if (chunks == 1) leg(queries)
    else (0 until chunks)
      .map(i => leg(queries.filter(chunkOf(col("qid"), chunks) === i)))
      .reduce(_ unionAll _)
  }

  /** Chunk assignment for the broadcast-budget split: HASH the id
    * before the modulus. Raw id residues look uniform but collapse
    * for the arithmetic-progression query sets the documented callers
    * pass (q94/Stress select by `vec_id % m == 0`, so every qid
    * shares residues and `pmod(qid, chunks)` can land ALL queries in
    * one chunk — re-creating the unbounded broadcast the budget
    * exists to prevent). xxhash64 is deterministic, so the split —
    * and therefore the output — stays reproducible.
    */
  private[graft] def chunkOf(qid: Column, chunks: Int): Column =
    pmod(xxhash64(qid), lit(chunks))

  /** Per-vector int8 quantization stats — the storage-compression
    * step (FAISS SQ8 / vector-DB int8 columns): code_i =
    * floor(v_i · 127/max|v|), 4x smaller than float32. The query
    * surface reports reconstruction error, so the whole transform is
    * oracle-checked: every per-dim squared error goes through
    * floor(err²·1e12) fixed point (the q73 discipline — float→double
    * is exact and each multiply/divide/floor is one IEEE op both
    * engines round identically), so sums are exact integers and MSE
    * is ONE double division at the end.
    *
    * Column-expression spec; [[quantStatsKernel]] is the identical
    * hot path (PipelineSpec proves bit-equality). Returns a struct
    * (fe = Σ_dim floor(err²·1e12), dim, maxq = max |code|): codes
    * live in [-128, 127] — exactly int8's range (the negative extreme
    * floors to -128 when 127/mx rounds up), so maxq ≤ 128 IS the
    * no-escape guarantee. A zero vector quantizes to zeros with zero
    * error.
    */
  def quantStats(vd: Column): Column = {
    val mx = array_max(transform(vd, x => abs(x)))
    val scale = lit(127.0) / mx
    def code(x: Column): Column = floor(x * scale)
    def err(x: Column): Column = x - code(x) / scale
    when(mx === lit(0.0) || isnull(mx),
      struct(lit(0L).as("fe"), size(vd).as("dim"), lit(0L).as("maxq")))
      .otherwise(struct(
        aggregate(vd, lit(0L),
          (acc, x) => acc +
            floor(err(x) * err(x) * lit(1e12)).cast("long")).as("fe"),
        size(vd).as("dim"),
        array_max(transform(vd, x => abs(code(x)).cast("long"))).as("maxq")))
  }

  /** JVM kernel for [[quantStats]] — same IEEE operation order per
    * element, minus the interpreted HOF cost.
    */
  val quantStatsKernel: UserDefinedFunction =
    udf { (vd: Seq[Double]) =>
      if (vd == null) null
      else {
        var mx = 0.0
        vd.foreach(x => { val a = math.abs(x); if (a > mx) mx = a })
        if (mx == 0.0) (0L, vd.length, 0L)
        else {
          val scale = 127.0 / mx
          var fe = 0L
          var maxq = 0L
          vd.foreach { x =>
            val c = math.floor(x * scale)
            val e = x - c / scale
            fe += math.floor(e * e * 1e12).toLong
            val a = math.abs(c).toLong
            if (a > maxq) maxq = a
          }
          (fe, vd.length, maxq)
        }
      }
    }

  /** SemDeDup's scale knob: k grows with the corpus so cluster size
    * stays ≈ `targetClusterSize` and the within-cluster pair join is
    * O(n · targetClusterSize), NEVER O(n²/k-fixed). A fixed k means a
    * 100× corpus makes each cluster 100× bigger and the pair stage
    * 10,000× heavier — deriving k = ⌈n / target⌉ is what the SemDeDup
    * paper's "cluster sizes bound the quadratic" actually requires.
    * Floor of 8 keeps tiny fixtures from degenerating to one cluster
    * per Lloyd tie-break; cap of 2^16 bounds the flat quantizer's
    * driver/broadcast state (k·dim ≈ 34 MB at dim 64) — corpora past
    * k·target ≈ 8.4M vectors keep the ceiling and accept
    * proportionally larger clusters, and the real cure at that scale
    * is a two-level (coarse×fine) quantizer trained per coarse cell,
    * which composes from these same parts ([[ivfTopK]] is the coarse
    * half). Mirrored verbatim in the q85 oracle SQL
    * (LEAST(65536, GREATEST(8, CEIL(COUNT(*)/target)))).
    */
  def semDeDupK(n: Long, targetClusterSize: Long = 128L): Int =
    math.min(65536L,
      math.max(8L, (n + targetClusterSize - 1) / targetClusterSize)).toInt

  /** Integer-exact per-centroid squared distance:
    * Σ_dim floor((v_i−c_i)²·1e12) over `c`'s components against `vd`
    * from `off` (a PQ subspace; shorter when `vd` ends first) — the
    * order-free fixed-point metric every Lloyd consumer here shares
    * (training, assignment, IVF cell choice, IVF probe ranking, PQ
    * encode), so SQL replays of any of them agree with the JVM
    * bit-for-bit.
    */
  private[graft] def distFpJvm(vd: Array[Double], c: Array[Double],
      off: Int = 0): Long = {
    var d = 0L
    var i = 0
    val n = math.min(c.length, vd.length - off)
    while (i < n) {
      val e = vd(off + i) - c(i)
      d += math.floor(e * e * 1e12).toLong
      i += 1
    }
    d
  }

  /** The (id, vd) long/double projection the vector operators train
    * and search on.
    */
  private[graft] def vectors(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vd"))

  /** [[vectors]] of `emb`, fanned out and persisted for an operator
    * that trains on it and then scans it again; the end-of-query
    * [[releaseResult]] drain drops it.
    */
  private def persistedVectors(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    registerForRelease(vectors(graft.operators.FanOut(emb), idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** [[lloydCentroids]] of `df`'s vectors, over a projection persisted
    * only while the rounds run (the IVF quantizers: their search reads
    * the caller's frame, not the projection). The projection stays
    * unsorted: init's orderBy is a TakeOrderedAndProject, never a
    * global sort of the corpus.
    */
  private[graft] def trainCentroids(df: DataFrame, idCol: String,
      vecCol: String, nlist: Int, rounds: Int): Array[(Long, Array[Double])] = {
    val base = vectors(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lloydCentroids(base, nlist, rounds)
    finally base.unpersist(blocking = false)
  }

  /** One integer-exact Lloyd assignment pass of `v` (columns id, vd)
    * against broadcast `cents`: argmin of [[distFpJvm]], ties to the
    * smaller cluster id. Returns (id, vd, cluster, dist_fp).
    */
  private def lloydAssign(v: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val bc = v.sparkSession.sparkContext.broadcast(cents)
    val assignKernel = udf { (vd: Array[Double]) =>
      val cs = bc.value
      var bestC = -1L
      var bestD = Long.MaxValue
      cs.foreach { case (cid, c) =>
        val d = distFpJvm(vd, c)
        if (d < bestD || (d == bestD && cid < bestC)) { bestD = d; bestC = cid }
      }
      (bestC, bestD)
    }
    v.select(col("id"), col("vd"), assignKernel(col("vd")).as("a"))
      .select(col("id"), col("vd"), col("a._1").as("cluster"),
        col("a._2").as("dist_fp"))
  }

  /** One training round's fixed-point sums: Σ floor(x·1e6) and the
    * element count per (subspace s, centroid slot j, position p), at
    * `(s·k + j)·width + p`. Long arithmetic is exact and `addExact`
    * fails on overflow as the ANSI `sum` does, so partials merge in
    * any order. A whole-vector (Lloyd) book widens to its longest
    * vector; a PQ book is `width` = sub wide.
    */
  private final class FpSums(m: Int, k: Int, var width: Int)
      extends Serializable {
    var sums = new Array[Long](m * k * width)
    var counts = new Array[Long](m * k * width)

    /** Add `vd(off until until)` to (s, j) at positions 0, 1, …. */
    def add(s: Int, j: Int, vd: Array[Double], off: Int, until: Int): Unit = {
      val base = (s * k + j) * width - off
      for (i <- off until until) {
        sums(base + i) = Math.addExact(sums(base + i),
          math.floor(vd(i) * 1e6).toLong)
        counts(base + i) += 1
      }
    }

    private def addAll(s: Array[Long], c: Array[Long], w: Int): Unit =
      for (row <- 0 until m * k; p <- 0 until w) {
        val i = row * width + p
        sums(i) = Math.addExact(sums(i), s(row * w + p))
        counts(i) += c(row * w + p)
      }

    def widen(w: Int): Unit = if (w > width) {
      val (s0, c0, w0) = (sums, counts, width)
      width = w
      sums = new Array[Long](m * k * w)
      counts = new Array[Long](m * k * w)
      addAll(s0, c0, w0)
    }

    def merge(o: FpSums): FpSums = {
      widen(o.width)
      addAll(o.sums, o.counts, o.width)
      this
    }

    /** The updated centroid of (s, j) — one IEEE division per
      * component — or None when no element reached it (the cluster
      * drops out, as a GROUP BY loses it). A whole-vector centroid is
      * as long as its longest member; a PQ one is `width` long.
      */
    def centroid(s: Int, j: Int, whole: Boolean): Option[Array[Double]] = {
      val base = (s * k + j) * width
      if (counts(base) == 0) None
      else {
        val dim = if (whole) (0 until width).count(p => counts(base + p) > 0)
          else width
        Some(Array.tabulate(dim)(p =>
          if (counts(base + p) == 0) 0.0
          else sums(base + p).toDouble / (counts(base + p) * 1e6)))
      }
    }
  }

  /** `rounds` integer-exact Lloyd updates of `m` codebooks of `k`
    * centroids, trained jointly over `v` (columns id: long, vd:
    * array<double>, persisted by the caller). Book s covers the
    * subspace `vd(s·sub until (s+1)·sub)`; `sub` None means one book
    * over the whole vector (plain Lloyd).
    *
    *  - init: the k smallest-id vectors, sliced per subspace; cluster
    *    ids are those vector ids, and books stay cid-sorted;
    *  - assignment: per subspace, argmin of [[distFpJvm]], ties to the
    *    smaller cluster id (first in the cid-sorted book);
    *  - update: per (s, cluster, position) Σfloor(x·1e6) / (n·1e6) —
    *    ONE IEEE division (the q73 discipline). Duplicate ids share
    *    one cluster, and a cluster nothing reaches drops out, both as
    *    the grouped SQL replay does.
    *
    * Each round is ONE `treeAggregate` over `v`: every vector is read
    * once as a primitive `double[]`, assigned against the broadcast
    * books, and added into [[FpSums]] (k·dim longs per book). No row
    * is exploded and nothing shuffles but those partial sums, so the
    * same path serves a summary-sized table and a corpus.
    */
  private[graft] def trainBooks(v: DataFrame, k: Int, rounds: Int, m: Int,
      sub: Option[Int]): Array[Array[(Long, Array[Double])]] = {
    val spark = v.sparkSession
    import spark.implicits._
    // init: k smallest ids — TakeOrderedAndProject, not a global sort
    val init = v.orderBy(col("id")).limit(k)
      .as[(Long, Array[Double])].collect()
    val span = sub.getOrElse(Int.MaxValue)
    var books = Array.tabulate(m)(s =>
      init.map { case (id, vd) => (id, vd.slice(s * span, (s + 1) * span)) })
    val vecs = v.select(col("vd")).as[Array[Double]].rdd
    for (_ <- 1 to rounds) {
      // slot(s)(j): the first book index holding j's cluster id
      val slots = books.map { b =>
        val slot = Array.range(0, b.length)
        for (j <- 1 until b.length if b(j)._1 == b(j - 1)._1) slot(j) = slot(j - 1)
        slot
      }
      val bc = spark.sparkContext.broadcast((books, slots))
      val sums = vecs.treeAggregate(new FpSums(m, k, sub.getOrElse(1)))(
        (acc, vd) => {
          val (bs, sl) = bc.value
          if (sub.isEmpty) acc.widen(vd.length)
          var s = 0
          while (s < bs.length) {
            val off = s * span
            var best = -1
            var bestD = Long.MaxValue
            var j = 0
            while (j < bs(s).length) {
              val d = distFpJvm(vd, bs(s)(j)._2, off)
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            if (best >= 0)
              acc.add(s, sl(s)(best), vd, off, math.min(vd.length, off + span))
            s += 1
          }
          acc
        },
        _ merge _)
      books = Array.tabulate(m)(s => books(s).indices
        .filter(j => slots(s)(j) == j)
        .flatMap(j => sums.centroid(s, j, sub.isEmpty).map(books(s)(j)._1 -> _))
        .toArray)
    }
    books
  }

  /** `rounds` integer-exact Lloyd updates over `v` (columns id: long,
    * vd: array<double>, persisted by the caller) — [[trainBooks]] with
    * one whole-vector book. Returns the final centroids, sorted by
    * cluster id.
    */
  def lloydCentroids(v: DataFrame, k: Int,
      rounds: Int): Array[(Long, Array[Double])] =
    trainBooks(v, k, rounds, 1, None)(0)

  /** Deterministic distributed k-means (Lloyd), built so EVERY step
    * is engine-recomputable — an independent SQL engine replays it
    * exactly (q84/q85/q38 all do):
    *
    *  - init: the k smallest-id vectors; cluster ids = those vec ids
    *  - distance: Σ_dim floor((v_i−c_i)²·1e12) — per-element floors
    *    to exact INTEGERS, so the sum is order-free and argmin (ties
    *    to smaller cluster id) is absolute
    *  - update: centroid_i = Σ floor(v_i·1e6) / (n·1e6) — exact
    *    integer sums, ONE IEEE division (the q73 discipline)
    *
    * [[lloydCentroids]] is the training core (also the IVF coarse
    * quantizer): per round one pass over the vectors, whose only
    * output is k·dim partial sums, never vectors. This wrapper
    * returns the final assignment (id, cluster, dist_fp) against the
    * last-round centroids.
    */
  def deterministicKMeans(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): DataFrame = {
    val v = persistedVectors(emb, idCol, vecCol)
    lloydAssign(v, lloydCentroids(v, k, rounds))
      .select(col("id"), col("cluster"), col("dist_fp"))
  }

  /** The three per-call PQ kernels over a trained codebook set:
    * encode (per-subspace nearest-centroid INDEX into the cid-sorted
    * book — ties to the smaller cid, which is iteration order here
    * and `ORDER BY d, cid` in the replay), the per-query ADC table
    * (dtable(s·k + j) = dist_fp(query_s, book_s[j])), and the ADC
    * score (m integer table lookups per candidate).
    */
  private def pqKernels(v: DataFrame,
      books: Array[Array[(Long, Array[Double])]], sub: Int):
      (UserDefinedFunction, UserDefinedFunction, UserDefinedFunction) = {
    val bcBooks = v.sparkSession.sparkContext.broadcast(books)
    val encodeKernel = udf { (vd: Array[Double]) =>
      val bs = bcBooks.value
      Array.tabulate(bs.length) { s =>
        var best = -1
        var bestD = Long.MaxValue
        var j = 0
        while (j < bs(s).length) {
          val d = distFpJvm(vd, bs(s)(j)._2, s * sub)
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    }
    val dtableKernel = udf { (vd: Array[Double]) =>
      val bs = bcBooks.value
      val out = new Array[Long](bs.map(_.length).sum)
      var off = 0
      bs.indices.foreach { s =>
        bs(s).indices.foreach { j =>
          out(off + j) = distFpJvm(vd, bs(s)(j)._2, s * sub)
        }
        off += bs(s).length
      }
      out
    }
    val perSub = books.map(_.length)
    val scoreKernel = udf { (codes: Seq[Int], dt: Seq[Long]) =>
      var s = 0
      var off = 0
      var acc = 0L
      while (s < codes.length) {
        acc += dt(off + codes(s))
        off += perSub(s)
        s += 1
      }
      acc
    }
    (encodeKernel, dtableKernel, scoreKernel)
  }

  /** Product quantization with asymmetric-distance (ADC) top-k — the
    * published PQ scheme (Jégou et al., TPAMI 2011; FAISS `PQ<m>`):
    * vectors split into `m` subspaces, each subspace gets its own
    * `k`-centroid codebook, a vector's code is its per-subspace
    * nearest-centroid index, and a query ranks codes by the SUM of
    * per-subspace query→centroid distances (ADC — the query side
    * stays exact, only the corpus is quantized).
    *
    * Why it matters at 100 TB: the ranking scan reads `m·log₂k` BITS
    * per vector instead of `dim` floats (production m=64/k=256 ⇒ 64 B
    * vs 256 B float32 — 4× over SQ8's q83, 32× over raw), and ADC is
    * `m` integer table lookups per candidate instead of a `dim`-wide
    * float dot. Composes with the q38 IVF coarse quantizer (probe
    * cells, then ADC-rank within them = IVF-PQ, FAISS's default
    * billion-scale index) — this surface keeps the flat-ADC form so
    * the whole ranking, not a recall bound, is oracle-checkable.
    *
    * Determinism discipline, end to end: the m codebooks come from
    * the SAME [[trainBooks]] integer-exact core the q38/q84/q85
    * oracles already replay, trained jointly (every vector appears in
    * every subspace, so the subspaces share the init rows and each
    * round's scan; the arithmetic per subspace is that of an
    * independent Lloyd run, and DuckDB replays all subspaces in ONE
    * grouped pass keyed by s); encode = argmin of the shared
    * fixed-point metric (ties to the smaller centroid id); ADC sums
    * those per-subspace integers, so `adc_fp` is an exact integer
    * both engines agree on bit-for-bit.
    *
    * Plan shape: training is one pass over the vectors per round
    * whose only output is m·k·sub partial sums; encode is one
    * map-side scan against the broadcast codebooks (m·k·dim/m = k·dim
    * doubles — dimension-table sized by contract); ranking is one
    * corpus-codes scan × broadcast query distance-tables (m·k longs
    * per query), top-k per query under the usual (distance,
    * neighbor-id) total order. No stage shuffles corpus vectors.
    */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column => Column, topK: Int, m: Int = 4,
      k: Int = 16, rounds: Int = 2): DataFrame = {
    val v = persistedVectors(emb, idCol, vecCol)
    val dim = v.select(size(col("vd"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = trainBooks(v, k, rounds, m, Some(sub))
    val (encodeKernel, dtableKernel, scoreKernel) = pqKernels(v, books, sub)
    val codes = v.select(col("id").as("nid"),
      encodeKernel(col("vd")).as("codes"))
    val queries = v.filter(queryPred(col("id")))
      .select(col("id").as("qid"), dtableKernel(col("vd")).as("dt"))
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        scoreKernel(col("codes"), col("dt")).as("adc_fp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_fp").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), col("adc_fp"))
  }

  /** IVF-PQ — FAISS's default billion-scale index shape, composed
    * from this file's two verified halves: the q38 coarse quantizer
    * (integer-exact Lloyd cells, nprobe probing) prunes the scan to
    * nprobe/nlist of the corpus, and the q101 PQ codebooks rank the
    * surviving candidates by ADC over their 32-bit codes. PQ here
    * encodes RAW vectors, not cell residuals — FAISS's
    * `by_residual=false` variant — which keeps the codebooks
    * cell-independent (one global set, not nlist sets) and the whole
    * path exactly replayable.
    *
    * Plan shape at scale: both trainings are one pass over the
    * vectors per round whose only output is k·dim partial sums;
    * the corpus scan computes (cell, codes) map-side against
    * broadcast centroids+books; query probe rows (nprobe per query)
    * broadcast into ONE keyed equi-join on the cell id, so only
    * probed candidates are ever scored and corpus vectors never
    * shuffle. At 100 TB the inverted index is stored partitioned by
    * cell; a probe reads nprobe/nlist of the CODES (64× smaller than
    * float32) — the memory-hierarchy win that makes billion-vector
    * search feasible.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column => Column, topK: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, k: Int = 16,
      rounds: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    val v = persistedVectors(emb, idCol, vecCol)
    val dim = v.select(size(col("vd"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val coarse = lloydCentroids(v, nlist, rounds)
    val books = trainBooks(v, k, rounds, m, Some(sub))
    val (encodeKernel, dtableKernel, scoreKernel) = pqKernels(v, books, sub)
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    // corpus cell = argmin over the coarse centroids (ties to the
    // smaller cell id — q38's assignment rule)
    val cellKernel = udf { (vd: Array[Double]) =>
      val cs = bcCoarse.value
      var bestC = -1L
      var bestD = Long.MaxValue
      cs.foreach { case (cid, c) =>
        val d = distFpJvm(vd, c)
        if (d < bestD) { bestD = d; bestC = cid }
      }
      bestC
    }
    // query probe list: the nprobe nearest cells by (dist, cell id)
    val probeKernel = udf { (vd: Array[Double]) =>
      bcCoarse.value
        .map { case (cid, c) => (distFpJvm(vd, c), cid) }
        .sorted.take(nprobe).map(_._2)
    }
    val corpus = v.select(col("id").as("nid"),
      cellKernel(col("vd")).as("cell"), encodeKernel(col("vd")).as("codes"))
    val probes = v.filter(queryPred(col("id")))
      .select(col("id").as("qid"), dtableKernel(col("vd")).as("dt"),
        explode(probeKernel(col("vd"))).as("cell"))
    val scored = corpus.join(broadcast(probes), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        scoreKernel(col("codes"), col("dt")).as("adc_fp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_fp").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), col("adc_fp"))
  }

  /** Primitive-array dot — same left-to-right IEEE accumulation as
    * [[dot]]/[[dotKernel]].
    */
  def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Embedding-cosine near-dup pairs above `threshold`, exact
    * upper-triangle comparison with the corpus capped at `maxId` so
    * the quadratic stays bounded; the approximate unbounded path is
    * [[annTopK]]'s bucketing.
    *
    * Executed as a broadcast of the capped reference set (primitive
    * matrix, bounded by contract — the same shape BroadcastExchange
    * ships for a dim table) against a distributed scan of the same
    * rows: each task loops the upper triangle in plain JVM code. A
    * Column-level cross join evaluates the scoring UDF per ordered
    * pair with per-call array conversion — measured 8x slower
    * (BENCH_r02 q32) for identical output.
    */
  def cosineNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxId: Long): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // each row scans the whole reference triangle: fan out so a
    // single-row-group input can't serialize the O(n²·dim) loop
    val side = graft.operators.FanOut(emb.filter(col(idCol) < maxId))
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val ref = side.collect().sortBy(_._1)
    val ids = ref.map(_._1)
    val vecs = ref.map(_._2)
    val norms = vecs.map(v => math.sqrt(dotJvm(v, v)))
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    side.flatMap { case (a, va) =>
      val (ids, vecs, norms) = bc.value
      val na = math.sqrt(dotJvm(va, va))
      val start = java.util.Arrays.binarySearch(ids, a) + 1
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = if (start > 0) start else -start // a always present; guard anyway
      while (i < ids.length) {
        val c = dotJvm(va, vecs(i)) / (na * norms(i))
        if (c >= threshold) // NaN (zero norm) compares false, as in SQL
          out += ((a, ids(i), java.math.BigDecimal.valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
        i += 1
      }
      out.result()
    }.toDF("a", "b", "cosine")
  }
}
