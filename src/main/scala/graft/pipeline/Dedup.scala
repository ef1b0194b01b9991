package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators: exact (hash-groupBy), MinHash+LSH banded
  * near-dup, and SimHash hamming near-dup.
  *
  * Scale stance (the part that matters at 100 TB):
  * - exact dedup shuffles a 32-byte digest per row, never the document
  *   body;
  * - near-dup NEVER does all-pairs — candidate pairs come from a
  *   groupBy on (band, band-signature) buckets, so the shuffle volume
  *   is rows × bands, and only bucket-colliding pairs are verified;
  * - signature computation is per-row, map-side, embarrassingly
  *   parallel. The hot kernels (MinHash slots, SimHash majority vote)
  *   run as single-pass JVM functions rather than nested higher-order
  *   Column expressions: the HOF form allocates one array per slot per
  *   row in interpreted eval and measured ~800x slower at bench scale
  *   (BENCH_r02 q24 = 1011 s). The Column forms are kept as the
  *   executable spec; PipelineSpec proves the kernels bit-identical.
  */
object Dedup extends Serializable {

  /** Exact dedup: canonical row per distinct text = lowest doc_id.
    * Grouping key is sha2(text) so the shuffle carries a fixed-width
    * digest instead of document bodies.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("digest")

  /** Incremental exact dedup — the production ingest-time workflow:
    * dedup an incoming batch against an already-landed corpus without
    * ever rescanning corpus BODIES. The history side reduces to its
    * distinct digest set (at scale: a digest table maintained
    * incrementally and bucketed on digest, making this join
    * exchange-free — operators/Shuffle's seam); the incoming batch
    * first collapses within itself (lowest id wins, q21 semantics),
    * then anti-joins history digests. Shuffle volume is digests only,
    * 32 bytes/row regardless of document size.
    */
  def incrementalExact(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val hist = history.select(sha2(col(textCol), 256).as("digest")).distinct()
    incoming.groupBy(sha2(col(textCol), 256).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .join(hist, Seq("digest"), "left_anti")
      .drop("digest")
  }

  /** [[incrementalExact]] with a Bloom pre-filter — the at-scale
    * accelerant: the history digest set folds into a fixed-size Bloom
    * filter (built distributed via treeAggregate, ~1.2 MB at fpp 1%
    * per million digests) that broadcasts to every task, so the
    * typical incoming row — novel text — resolves with ZERO shuffle.
    * Only Bloom POSITIVES (true dups + fpp false positives) reach the
    * exact anti-join, which removes the false positives, so the
    * output is IDENTICAL to [[incrementalExact]] by construction —
    * same driver oracle, no approximation in the result. At 100 TB
    * the anti-join probe side shrinks from |incoming| to
    * |dups| + fpp·|incoming|.
    *
    * Sizing: by default (`expectedItems = 0`) the filter is sized
    * from the MEASURED history digest cardinality, so fpp holds at
    * ANY history size — a fixed default would silently saturate
    * (fpp→1) once history outgrew it, degrading the zero-shuffle
    * path back to a full anti-join with no correctness signal.
    * Callers that maintain incremental history stats pass
    * `expectedItems > 0` to skip the count. The digest set is
    * persisted so the count, the filter build, and the anti-join
    * share ONE distinct-shuffle instead of recomputing it per
    * consumer (Bench/Verify release leftover caches between queries).
    */
  def incrementalExactBloom(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String,
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val spark = history.sparkSession
    val hist = history.select(sha2(col(textCol), 256).as("digest")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val items =
      if (expectedItems > 0L) expectedItems
      else math.max(1L, hist.count())
    val bf = hist.stat.bloomFilter("digest", items, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val mightContain = udf((d: String) => bc.value.mightContainString(d))
    val collapsed = incoming
      .groupBy(sha2(col(textCol), 256).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    // novel-by-bloom rows pass straight through; only positives pay
    // the exact probe that scrubs the false positives
    collapsed.filter(!mightContain(col("digest")))
      .unionAll(collapsed.filter(mightContain(col("digest")))
        .join(hist, Seq("digest"), "left_anti"))
      .drop("digest")
  }

  /** MinHash parameters: k = bands × rowsPerBand signature slots.
    * b=32, r=4 puts the LSH S-curve threshold at (1/32)^(1/4) ≈ 0.42,
    * comfortably below the 0.5 verification threshold → near-perfect
    * recall for true near-dups.
    */
  val Bands = 32
  val RowsPerBand = 4
  val K: Int = Bands * RowsPerBand

  /** k-slot MinHash signature over a shingle set. Slot j uses
    * xxhash64(j, shingle) as its permutation — k independent hash
    * families from the seed column.
    */
  def minhashSignature(shingles: Column): Column =
    transform(sequence(lit(0), lit(K - 1)), j =>
      array_min(transform(shingles, s => xxhash64(j, s))))

  /** Banded bucket keys: one 64-bit hash per band over its r signature
    * slots. Equal bucket key ⇔ the band's slots all collide.
    */
  def bandKeys(sig: Column): Column =
    array((0 until Bands).map { b =>
      val slots = (0 until RowsPerBand)
        .map(o => element_at(sig, b * RowsPerBand + o + 1))
      xxhash64(lit(b) +: slots: _*)
    }: _*)

  /** Spark's xxhash64 chain seed (XxHash64 expression default). */
  private val XxSeed = 42L
  // Pre-chained seeds so the kernel's per-shingle work is exactly one
  // string hash per slot: slotSeeds(j) == state after hashing the Int
  // literal j, bandSeeds(b) == state after hashing the Int literal b —
  // the same chains xxhash64(j, s) / xxhash64(b, slots...) walk.
  // Exposed (Jvm suffix) for the native Expression twin
  // (graft.functions.MinhashBandKeys).
  lazy val slotSeedsJvm: Array[Long] =
    Array.tabulate(K)(j => XxHash64Function.hash(j, IntegerType, XxSeed))
  lazy val bandSeedsJvm: Array[Long] =
    Array.tabulate(Bands)(b => XxHash64Function.hash(b, IntegerType, XxSeed))
  private def slotSeeds = slotSeedsJvm
  private def bandSeeds = bandSeedsJvm

  /** Single-pass JVM kernel for `bandKeys(minhashSignature(sh))`,
    * bit-identical on non-empty shingle sets (PipelineSpec proves it):
    * one UTF8String conversion per shingle, K running minima, zero
    * intermediate arrays.
    */
  val minhashBandKeysKernel: UserDefinedFunction = udf { (sh: Seq[String]) =>
    val mins = Array.fill(K)(Long.MaxValue)
    sh.foreach { s =>
      val u = UTF8String.fromString(s)
      var j = 0
      while (j < K) {
        val h = XxHash64Function.hash(u, StringType, slotSeeds(j))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    Array.tabulate(Bands) { b =>
      var h = bandSeeds(b)
      var o = 0
      while (o < RowsPerBand) {
        h = XxHash64Function.hash(mins(b * RowsPerBand + o), LongType, h)
        o += 1
      }
      h
    }
  }

  /** Candidate near-dup pairs (a < b) from LSH band-bucket collisions,
    * then exact-Jaccard verified at `threshold` on the original
    * shingle sets. Returns (idA, idB, jaccard).
    *
    * The shingle sets and bucket keys are persisted and materialized
    * once: both sides of the bucket self-join and both verify sides
    * read the cache instead of re-deriving signatures 2-4x
    * (ADVICE r2 #1).
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // K hashes per shingle per doc is the CPU hot spot: fan out before
    // it so a single-row-group input can't serialize it onto one core
    val sh = graft.operators.FanOut(docs)
      .select(col(idCol).as("id"),
        TextOps.shinglesKernel()(TextOps.words(col(textCol))).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // (id, band, bucket) — rows × Bands, the only "expansion" shuffle.
    // Band keys via the native Expression (no per-row Seq conversion,
    // no UTF8String round trip — graft.functions.MinhashBandKeys).
    val buckets = sh
      .select(col("id"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band", "bucket")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    buckets.count() // materialize sh + buckets before the self-join

    val pairs = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    // Verify candidates on exact shingle sets; ints divided as doubles
    // exactly like the oracle's inter/union arithmetic.
    val shA = sh.select(col("id").as("a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("b"), col("sh").as("sh_b"))
    val verified = pairs.join(shA, "a").join(shB, "b")
      .select(col("a"), col("b"),
        jaccardKernel(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Similarity.cacheAndRelease(verified, Seq(sh, buckets))
  }

  /** Incremental MinHash near-dup — the ingest-time twin of
    * [[minhashNearDups]]: flag incoming docs that near-duplicate the
    * already-landed corpus. Both sides compute band keys map-side;
    * the join is incoming-bands ⋈ history-bands on (band, bucket) —
    * at scale the history band index is a table maintained
    * incrementally (append new docs' bands per batch) and bucketed on
    * (band, bucket), so only the incoming batch shuffles. Candidates
    * verify on exact shingle sets. Returns one row per matched
    * incoming doc: (id, n_matches, best_jaccard).
    */
  /** (id, shingle-set) projection shared by the MinHash family and
    * its stored layout ([[graft.sources.BandIndexLayout]]).
    */
  private[graft] def minhashPrep(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    graft.operators.FanOut(df)
      .select(col(idCol).as("id"),
        TextOps.shinglesKernel()(TextOps.words(col(textCol))).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** (id, band, bucket) band-index rows of a shingle projection. */
  private[graft] def minhashBandRows(sh: DataFrame): DataFrame =
    sh.select(col("id"),
      posexplode(call_function("graft_minhash_bands", col("sh")))
        .as(Seq("band", "bucket")))

  def incrementalMinhash(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(history.sparkSession)
    def prep(df: DataFrame) = minhashPrep(df, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def bands(sh: DataFrame) = minhashBandRows(sh)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shH = prep(history); val shI = prep(incoming)
    val bH = bands(shH); val bI = bands(shI)
    bH.count(); bI.count()
    val pairs = bI.as("x")
      .join(bH.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("id"), col("y.id").as("hid"))
      .distinct()
    val verified = pairs
      .join(shI.select(col("id"), col("sh").as("sh_i")), "id")
      .join(shH.select(col("id").as("hid"), col("sh").as("sh_h")), "hid")
      .select(col("id"),
        jaccardKernel(col("sh_i"), col("sh_h")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("best_jaccard"))
    Similarity.cacheAndRelease(verified, Seq(shH, shI, bH, bI))
  }

  /** [[incrementalMinhash]]'s PAIR-level form, feeding the incremental
    * cluster collapse ([[incrementalComponents]]): every verified
    * near-dup pair that INVOLVES the incoming batch — batch×history
    * (batch bands probe the history band index; history shuffles
    * nothing) AND batch×batch (the batch dedupes internally on
    * arrival). History-internal pairs are deliberately absent — they
    * were found when those docs arrived. Band keys are a pure
    * function of each doc's own shingles, so
    * full-corpus pairs ≡ history-internal ∪ this — the partition the
    * q110 oracle equivalence rests on. Returns (a, b) with a < b.
    */
  /** Candidate pairs (a < b) for a batch's band rows `bI` against an
    * index side `bOther` (history bands or a stored posting read) PLUS
    * the batch-internal self-join — the shape shared by
    * [[incrementalMinhashPairs]], [[incrementalClusters]] and
    * `BandIndexLayout.probePairs` (one definition, so a fix lands
    * everywhere). The a≠b guard drops self-collisions: a batch doc
    * whose postings are ALREADY in the index side (re-delivered doc,
    * replayed stream epoch) would otherwise band-join itself into an
    * (x,x) pair that trivially passes any Jaccard threshold.
    */
  private[graft] def bandCandidates(bI: DataFrame,
      bOther: DataFrame): DataFrame = {
    val candX = bI.as("x")
      .join(bOther.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .filter(col("a") =!= col("b"))
    val candII = bI.as("x")
      .join(bI.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    candX.union(candII).distinct()
  }

  /** Exact-Jaccard verify of candidate (a, b) pairs on the (id, sh)
    * projection `shAll`. The trailing distinct makes the output
    * row-unique even when `shAll` carries duplicate rows per id (a
    * replayed append landed a batch's shingles twice) — without it a
    * duplicated id multiplies every pair row it appears in.
    */
  private[graft] def verifyBandPairs(cand: DataFrame, shAll: DataFrame,
      threshold: Double): DataFrame = cand
    .join(shAll.select(col("id").as("a"), col("sh").as("sh_a")), "a")
    .join(shAll.select(col("id").as("b"), col("sh").as("sh_b")), "b")
    .filter(jaccardKernel(col("sh_a"), col("sh_b")) >= threshold)
    .select(col("a"), col("b"))
    .distinct()

  def incrementalMinhashPairs(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(history.sparkSession)
    def prep(df: DataFrame) = minhashPrep(df, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def bands(sh: DataFrame) = minhashBandRows(sh)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shH = prep(history); val shI = prep(incoming)
    val bH = bands(shH); val bI = bands(shI)
    bH.count(); bI.count()
    val verified = verifyBandPairs(bandCandidates(bI, bH),
      shH.union(shI), threshold)
    Similarity.cacheAndRelease(verified, Seq(shH, shI, bH, bI))
  }

  /** q110's full composition — history clustering + batch fold — with
    * ONE history projection: [[minhashNearDups]](history) and
    * [[incrementalMinhashPairs]](history, batch) each prep and band
    * the history corpus, so composing them scans it twice; here shH/bH
    * are computed once and feed BOTH the history-internal self-join
    * and the batch probe (at 100 TB both halves read the STORED band
    * index instead — [[graft.sources.BandIndexLayout]] /
    * [[graft.streaming.ClusterStream]] — and history-internal pairs
    * come from prior folds; this is the in-memory form's equivalent
    * economy). Output ≡ [[connectedComponents]] over the full
    * corpus's pairs — q55's semantics, the q110 oracle contract.
    */
  def incrementalClusters(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(history.sparkSession)
    val shH = minhashPrep(history, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bH = minhashBandRows(shH).persist(StorageLevel.MEMORY_AND_DISK)
    val shI = minhashPrep(incoming, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bI = minhashBandRows(shI).persist(StorageLevel.MEMORY_AND_DISK)
    bH.count(); bI.count()
    val histPairs = verifyBandPairs(
      bH.as("x")
        .join(bH.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .distinct(),
      shH, threshold)
    val stored = connectedComponents(histPairs, "a", "b")
    val newPairs = verifyBandPairs(bandCandidates(bI, bH),
      shH.union(shI), threshold)
    val out = incrementalComponents(stored, newPairs, "a", "b")
    // out is LAZY now (incrementalComponents no longer force-counts):
    // the shingle/band caches feed newPairs inside it, so they must
    // stay alive until the caller's action — the end-of-query drain
    // releases them (eagerly unpersisting here would silently
    // recompute the whole prep chain inside the final action).
    Seq(shH, bH, shI, bI).foreach(Similarity.registerForRelease)
    out
  }

  /** Exact Jaccard of two already-distinct string arrays — identical
    * to size(array_intersect)/size(array_union) on distinct inputs
    * (int-derived division, bit-exact across engines).
    */
  val jaccardKernel: UserDefinedFunction = udf { (a: Seq[String], b: Seq[String]) =>
    val sa = a.toSet
    var inter = 0
    b.foreach(s => if (sa.contains(s)) inter += 1)
    val uni = sa.size + b.size - inter
    inter.toDouble / uni
  }

  /** N-gram Jaccard near-dup via prefix-filtered set-similarity join
    * (Chaudhuri et al. SSJoin / Bayardo et al. all-pairs): a pair with
    * Jaccard >= t must share at least one token among each side's
    * first |d| - ceil(t*|d|) + 1 tokens under ANY global token order —
    * so only prefix tokens are indexed, and the candidate join touches
    * rows x prefix instead of rows x tokens. Tokens are ordered
    * rarest-first (document frequency, ties lexicographic), the order
    * that minimizes candidate collisions at corpus scale; the
    * guarantee is exact, not probabilistic (PipelineSpec proves
    * completeness vs all-pairs truth), and survivors are exact-Jaccard
    * verified. This is the deterministic complement to [[minhashNearDups]]:
    * same bucket-join shape at 100 TB, zero recall loss, at the cost
    * of a document-frequency pass.
    */
  /** Largest distinct-shingle dictionary the broadcast path may
    * collect to the driver (entries; two long arrays = 16 B/entry, so
    * the default 8M is ~128 MB of arrays — comparable to a large
    * broadcast-hash-join build, well inside the 16 g capture heap).
    * Above it [[rarestFirstOrdered]] falls back to the distributed
    * join SHAPE automatically — the gate is the MEASURED dictionary
    * size, the same measured-size discipline as AdaptiveShape and
    * LayoutMeta (VERDICT r17 #1: nothing flipped the escape hatch at
    * 100 TB, where the corpus-sized dictionary would kill the driver).
    */
  private[graft] def maxDictEntries: Long =
    sys.props.get("graft.dict.max.entries").map(_.toLong)
      .getOrElse(8000000L)

  /** Each document's token hashes in the global rarest-first order
    * ((document frequency, token hash) ascending) — the (id, sorted)
    * frame behind the prefix-filter family (ngram Jaccard q37,
    * containment q166). Default path broadcasts the (tok → df)
    * dictionary and sorts map-side, removing BOTH rows×tokens
    * shuffles (tok ⋈ dfreq and the groupBy collect_list) — see the
    * inline rationale; the broadcast is SELF-GATING on the measured
    * dictionary size ([[maxDictEntries]]), falling back to the
    * distributed join shape when the dictionary outgrows the driver.
    * `broadcastDict=false` forces the distributed shape.
    */
  private def rarestFirstOrdered(sh: DataFrame, tok: DataFrame,
      broadcastDict: Boolean): DataFrame = {
    val spark = sh.sparkSession
    // df shuffles only DISTINCT token hashes (map-side partial agg);
    // the rows × tokens stream never crosses the wire for the count.
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    def distributed(freq: DataFrame): DataFrame =
      tok.join(freq, "tok")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
          .getField("tok").as("sorted"))
    // Default path: ship the (tok → df) dictionary — distinct-shingles
    // sized, the same payload a broadcast-hash join would build — and
    // sort each document's tokens map-side, removing BOTH rows×tokens
    // shuffles (the tok ⋈ dfreq join and the groupBy(id) collect_list)
    // that made q37 the most expensive query in BENCH_r04 (23 s).
    // The collect is BOUNDED BY CONSTRUCTION: orderBy+limit compiles
    // to a TakeOrdered (per-partition top-K, driver merge — no full
    // sort), so the driver never holds more than gate+1 rows; a
    // dictionary that overflows the gate falls back to the
    // distributed join shape with no operator knob to remember.
    if (broadcastDict) {
      val lim = math.min(maxDictEntries, (Int.MaxValue - 2).toLong).toInt
      val dict = dfreq.orderBy(col("tok")).limit(lim + 1).collect()
      if (dict.length <= lim) {
        val dictToks = dict.map(_.getLong(0))
        val dictDfs = dict.map(_.getLong(1))
        val bcDict = spark.sparkContext.broadcast((dictToks, dictDfs))
        // Codegen kernel (graft.functions.RarestFirstOrder): the same
        // sort_array(collect_list(struct(df, tok))) mirror the old
        // Scala UDF computed, minus the per-row Seq[String] conversion
        // and the UTF8String→String→UTF8String round trip per token —
        // the whole ordering stage stays inside whole-stage codegen.
        import org.apache.spark.sql.graft.GraftExpr
        sh.select(col("id"), GraftExpr.toColumn(
          graft.functions.RarestFirstOrder(GraftExpr.toExpr(col("toks")),
            bcDict)).as("sorted"))
      } else distributed(dfreq)
    } else distributed(dfreq)
  }

  def ngramJaccardNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 2, broadcastDict: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    val sh = graft.operators.FanOut(docs)
      .select(col(idCol).as("id"),
        TextOps.shinglesKernel(n)(TextOps.words(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // global rarest-first order: (document frequency, token). The
    // candidate stage runs on 64-bit token hashes — sound, because a
    // collision can only merge two tokens (extra candidates, removed
    // by exact-string verification below), never separate equal ones,
    // and ANY consistent global order preserves the prefix theorem.
    // Hashing shrinks every downstream shuffle from ~25-byte strings
    // to 8-byte longs.
    val tok = sh.select(col("id"), explode(col("toks")).as("tokS"))
      .select(col("id"), xxhash64(col("tokS")).as("tok"))
    val ordered = rarestFirstOrdered(sh, tok, broadcastDict)

    // prefix length |d| - ceil(t*|d|) + 1; only prefix tokens indexed,
    // each carrying its set size and 1-based position in the global
    // order for the PPJoin filters below
    val prefLen = (size(col("sorted")) -
      ceil(lit(threshold) * size(col("sorted"))).cast("int") + 1)
    val prefix = ordered
      .select(col("id"), size(col("sorted")).as("len"),
        posexplode(slice(col("sorted"), lit(1), prefLen)).as(Seq("pos", "tok")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    prefix.count() // materialize once for both sides of the self-join

    // PPJoin pruning, both sound (the FIRST common token in the global
    // order lies in both prefixes and passes them for any true pair):
    // - length filter: J >= t forces t*|y| <= |x| and t*|x| <= |y|;
    // - positional filter: common tokens after the matched one sit in
    //   both suffixes, so overlap <= 1 + min(remaining), which must
    //   reach ceil(t/(1+t)*(|x|+|y|)).
    val minOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("x.len") + col("y.len")))
    val overlapUb = lit(1) + least(
      col("x.len") - col("x.pos") - 1, col("y.len") - col("y.pos") - 1)
    val pairs = prefix.as("x")
      .join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id") &&
          col("x.len") >= lit(threshold) * col("y.len") &&
          col("y.len") >= lit(threshold) * col("x.len") &&
          overlapUb >= minOverlap)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    val shA = sh.select(col("id").as("a"), col("toks").as("t_a"))
    val shB = sh.select(col("id").as("b"), col("toks").as("t_b"))
    val verified = pairs.join(shA, "a").join(shB, "b")
      .select(col("a"), col("b"),
        jaccardKernel(col("t_a"), col("t_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Similarity.cacheAndRelease(verified, Seq(sh, prefix))
  }

  /** Containment of the FIRST argument's distinct shingles in the
    * second's: |A∩B| / |A|. Exact integer intersection divided once
    * as doubles — bit-exact across engines.
    */
  val containmentKernel: UserDefinedFunction =
    udf { (a: Seq[String], b: Seq[String]) =>
      if (a.isEmpty) 0.0
      else {
        val sb = b.toSet
        var inter = 0
        a.foreach(s => if (sb.contains(s)) inter += 1)
        inter.toDouble / a.length
      }
    }

  /** ASYMMETRIC containment join — the quote/subset detector Jaccard
    * near-dup cannot express: emit directed pairs (a, b) where at
    * least `threshold` of a's distinct n-gram shingles also occur in
    * b (C(a→b) = |A∩B|/|A| ≥ t). A short document quoted inside a
    * much longer one has high containment but near-zero Jaccard, so
    * the symmetric passes (q24/q37) structurally miss it — and a
    * MinHash band index cannot find it either (bands estimate
    * Jaccard). This is the training-data leak/quotation scrub next to
    * q65's decontamination.
    *
    * Candidate generation is the containment prefix filter (the
    * asymmetric half of the q37 SSJoin theorem): C(a→b) ≥ t forces
    * overlap ≥ ceil(t·|A|), so a qualifying pair shares a token among
    * a's FIRST |A| − ceil(t·|A|) + 1 tokens in any global order —
    * only a's prefix is indexed. The probe side has no length bound
    * (that is what asymmetric means), so b contributes its full
    * token list; making the global token order rarest-first puts the
    * RARE tokens in a's prefix, keeping the probe-side posting lists
    * the join touches short. Complete by the theorem (no recall
    * luck); survivors verify on exact string shingle sets. Shuffle
    * volume: candidates × 8-byte token hashes, never all-pairs.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 3,
      broadcastDict: Boolean = true): DataFrame = {
    val sh = graft.operators.FanOut(docs)
      .select(col(idCol).as("id"),
        TextOps.shinglesKernel(n)(TextOps.words(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 64-bit token hashes (collisions only ADD candidates — exact
    // verification removes them) + global rarest-first order via the
    // shared q37 path (broadcast-dict map-side sort by default — the
    // same two rows×tokens shuffles removed here as there)
    val tok = sh.select(col("id"), explode(col("toks")).as("tokS"))
      .select(col("id"), xxhash64(col("tokS")).as("tok"))
    val ordered = rarestFirstOrdered(sh, tok, broadcastDict)
    val prefLen = (size(col("sorted")) -
      ceil(lit(threshold) * size(col("sorted"))).cast("int") + 1)
    // UNLIKE q37's symmetric self-join, the asymmetric candidate join
    // reads the prefix side exactly ONCE — a persist+count here was
    // one extra cache materialization pass and (under adaptive cached
    // plans) one extra stage barrier for nothing; the cached sh
    // behind it already bounds recomputation
    val prefix = ordered
      .select(col("id"), explode(slice(col("sorted"), lit(1), prefLen))
        .as("tok"))

    val cand = prefix.as("x")
      .join(tok.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    val shA = sh.select(col("id").as("a"), col("toks").as("t_a"))
    val shB = sh.select(col("id").as("b"), col("toks").as("t_b"))
    val verified = cand.join(shA, "a").join(shB, "b")
      .select(col("a"), col("b"),
        containmentKernel(col("t_a"), col("t_b")).as("containment"))
      .filter(col("containment") >= threshold)
    Similarity.cacheAndRelease(verified, Seq(sh))
  }

  /** Connected components over an undirected pair list — the cluster
    * collapse step after any near-dup pass: pairs say "these two are
    * dups", components say "keep ONE canonical doc per dup set", and
    * transitivity (a~b, b~c ⇒ {a,b,c}) is exactly what pair output
    * lacks. Returns (node, canon) with canon = the component's
    * minimum node id, one row per node that appears in a pair.
    *
    * The pair projection is persisted and counted once, and that
    * count picks one of two exact algorithms:
    *  - at or below `AdaptiveShape.smallRows` directed edges (2 per
    *    pair) the graph is summary-sized — every caller feeds verified
    *    near-dup pairs or star edges, orders of magnitude below the
    *    corpus — so ONE task runs union-find over it
    *    ([[unionFindComponents]]): no shuffle, no rounds, and the
    *    labeling is persisted lazily so re-reads (the three reads of
    *    [[incrementalComponents]]) do not re-run it. At the gate (1M
    *    pairs, local[4], 2 GB heap) the task took 0.4 s on a chain and
    *    1.7-2.1 s on a random graph, peaking about 200 MB above the
    *    heap in use before it;
    *  - above it, distributed min-label rounds ([[labelRounds]]) run
    *    under the caller's own session.
    * The pair projection and the kernel's labeling are released by
    * the end-of-query drain ([[Similarity.releaseResult]]).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e0 = Similarity.registerForRelease(
      pairs.select(col(aCol).cast("long").as("u"),
          col(bCol).cast("long").as("v"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    if (2 * e0.count() <= graft.operators.AdaptiveShape.smallRows)
      Similarity.registerForRelease(
        unionFindComponents(e0).persist(StorageLevel.MEMORY_AND_DISK))
    else labelRounds(e0)
  }

  /** [[connectedComponents]] of a (u, v) long pair frame in ONE task:
    * union-find with union-by-min, so every root is its component's
    * minimum id. Nodes are indexed by position in the sorted distinct
    * endpoint array (binary search; index order = id order, so the
    * minimum index is the minimum id), and parents are an `Int` array
    * — primitive arrays only, about 40 bytes per pair. Nothing reaches
    * the driver; the caller bounds the pair count (the task holds the
    * whole edge set).
    */
  private[graft] def unionFindComponents(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    // coalesce, not repartition: over connectedComponents' cached,
    // already-counted pairs it is a narrow read, with no shuffle
    pairs.coalesce(1).as[(Long, Long)].mapPartitions { it =>
      val ends = Array.newBuilder[Long] // u0, v0, u1, v1, ...
      it.foreach { case (u, v) => ends += u; ends += v }
      val e = ends.result()
      val nodes = e.clone()
      java.util.Arrays.sort(nodes)
      var n = 0
      var i = 0
      while (i < nodes.length) {
        if (n == 0 || nodes(i) != nodes(n - 1)) { nodes(n) = nodes(i); n += 1 }
        i += 1
      }
      val parent = Array.range(0, n)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      i = 0
      while (i < e.length) {
        val a = find(java.util.Arrays.binarySearch(nodes, 0, n, e(i)))
        val b = find(java.util.Arrays.binarySearch(nodes, 0, n, e(i + 1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        i += 2
      }
      Iterator.range(0, n).map(j => (nodes(j), nodes(find(j))))
    }.toDF("node", "canon")
  }

  /** [[connectedComponents]] of a (u, v) long pair frame as
    * distributed rounds: iterative min-label propagation with path
    * halving — each round (1) every node takes the min of its own
    * label and its neighbors' labels (one hash join edges⋈labels +
    * partial-agg min), then (2) jumps to its label's label (one
    * labels⋈labels join), which collapses chains in O(log d) instead
    * of O(d) rounds. Labels only decrease and are bounded by the
    * component minimum, so the fixpoint is exact, not approximate.
    * All work is hash joins and partial aggregates on (node, lab)
    * longs: shuffle volume per round is |edges| + |nodes|, never
    * quadratic, and the round count is logarithmic in the largest
    * component diameter — the standard distributed-CC shape (cf.
    * MapReduce large/small-star). The driver-side loop runs one count
    * per round (the fixpoint test), each a tiny aggregate over |nodes|.
    */
  private[graft] def labelRounds(pairs: DataFrame): DataFrame = {
    // Both edge directions from ONE pass over the pair frame (explode,
    // not self-union: the union form evaluated the caller's verify
    // join twice) and NO distinct: every caller feeds verified pairs
    // that are already row-unique, and a stray duplicate edge is
    // absorbed by the min aggregation anyway — the old distinct was a
    // full extra shuffle of the edge set for nothing (guide §2.4).
    // connectedComponents hands in a persisted pair frame, so each
    // round re-reads the edges from its cache.
    val e = pairs.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // Iterative plans MUST truncate lineage every round: each round
    // references the previous labels twice (neighbor join + halving
    // self-join), so an un-truncated logical plan grows geometrically
    // and OOMs the driver long before the data does. localCheckpoint
    // materializes the round (executor-local blocks, no lineage); a
    // production run on an unreliable cluster would use
    // checkpoint(reliable) — same shape, recoverable blocks.
    // Every checkpoint goes to the end-of-query release drain.
    var labels = Similarity.localCheckpointForRelease(
      e.select(col("u").as("node")).distinct()
        .withColumn("lab", col("node"))) // lazy: round 1's action materializes it

    var changed = 1L
    var rounds = 0
    val maxRounds = 64 // >> log2 of any conceivable component diameter
    val t0 = System.nanoTime()
    while (changed > 0 && rounds < maxRounds) {
      val tr = System.nanoTime()
      // (1) min over neighborhood: lab'(u) = min(lab(u), min_{(u,v)∈E} lab(v))
      val nbrMin = e
        .join(labels.select(col("node").as("v"), col("lab").as("vlab")), "v")
        .groupBy(col("u").as("node")).agg(min(col("vlab")).as("nmin"))
      // LAZY checkpoints: both materialize inside the round's single
      // action (the fixpoint count below) — one Spark job per round,
      // not three. `stepped` is referenced on both sides of the
      // halving join; the checkpoint RDD is cached, so it computes
      // once and the second reference reads blocks.
      // referenced twice below: cut before fan-in
      val stepped = Similarity.localCheckpointForRelease(
        labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"), col("lab"),
            least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab1")))
      // (2) path halving: lab''(u) = lab'(lab'(u)) — chains collapse
      // exponentially instead of one hop per round
      val jumped = Similarity.localCheckpointForRelease(stepped
        .join(stepped.select(col("node").as("lab1"), col("lab1").as("lab2")),
          Seq("lab1"), "left")
        .select(col("node"), col("lab"),
          coalesce(col("lab2"), col("lab1")).as("newlab")))
      // ONE action: materializes stepped + jumped (truncating lineage
      // for the next round) and evaluates the fixpoint test
      changed = jumped.filter(col("newlab") =!= col("lab")).count()
      labels = jumped.select(col("node"), col("newlab").as("lab"))
      rounds += 1
      System.err.println(f"[cc] round $rounds: changed=$changed " +
        f"${(System.nanoTime() - tr) / 1e9}%.2fs")
    }
    System.err.println(f"[cc] converged in $rounds rounds, " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    require(changed == 0, s"connectedComponents did not converge in $maxRounds rounds")
    // The final labels are a narrow select over the last round's
    // checkpoint (already materialized by its fixpoint count), so the
    // result needs no persist + count of its own — an eager persist +
    // count here would cost one full labels pass per CC call at any
    // scale.
    labels.select(col("node"), col("lab").as("canon"))
  }

  /** SimHash bit width. 60 bits so every intermediate fits a positive
    * int64 in both engines (DuckDB has no unsigned shift).
    */
  val SimBits = 60

  /** Oracle-computable 60-bit token hash: top 15 hex chars of
    * md5(token). Spark `conv(_,16,10)` and DuckDB `('0x'||_)::BIGINT`
    * agree exactly.
    */
  def tokenHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** Majority-vote SimHash over a pre-computed token-hash array: bit i
    * set iff more than half the tokens have bit i set. Token
    * multiplicity is the weight (duplicates count). The bit mask is
    * pow(2, i) cast to long — exact for i < 63, and usable with a
    * lambda-bound Column index (shiftleft only takes a literal Int).
    */
  def simhashFromHashes(hs: Column): Column =
    aggregate(sequence(lit(0), lit(SimBits - 1)), lit(0L),
      (acc, i) => {
        val mask = pow(lit(2.0), i).cast("long")
        acc + when(
          size(filter(hs, h => h.bitwiseAND(mask) =!= 0L)) * 2 > size(hs),
          mask).otherwise(0L)
      })

  def simhash(ws: Column): Column = simhashFromHashes(transform(ws, tokenHash60 _))

  /** JVM mirror of [[tokenHash60]]: the top 15 hex chars of md5(token)
    * are the high 60 bits of its first 8 bytes.
    */
  def tokenHash60Jvm(w: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Single-pass JVM kernel for `simhash(ws)`, bit-identical
    * (PipelineSpec proves it): one md5 per token, 60 running bit
    * counts — the HOF form re-filters the full hash array per bit.
    */
  val simhashKernel: UserDefinedFunction = udf { (ws: Seq[String]) =>
    val counts = new Array[Int](SimBits)
    var n = 0
    ws.foreach { w =>
      val h = tokenHash60Jvm(w)
      var i = 0
      while (i < SimBits) { if (((h >>> i) & 1L) != 0L) counts(i) += 1; i += 1 }
      n += 1
    }
    var out = 0L
    var i = 0
    while (i < SimBits) { if (counts(i) * 2 > n) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, found via
    * the pigeonhole principle: split the 60-bit hash into `chunks`
    * 15-bit chunks; any pair within distance chunks-1 shares at least
    * one exact chunk → candidates come from a chunk-equality bucket
    * join, never all-pairs.
    */
  /** Edit-distance (Levenshtein) near-dup pairs at ed ≤ `k` — the
    * fifth near-dup metric (exact / MinHash-Jaccard / SimHash /
    * n-gram-Jaccard measure SET similarity; this one respects ORDER
    * and catches small in-place revisions set metrics dilute).
    * Complete by the positional q-gram pigeonhole, never all-pairs:
    * partition a doc's first (k+1)·q chars into k+1 disjoint ANCHOR
    * grams — ≤ k edits touch ≤ k of them, so one survives intact in
    * the other doc, shifted by at most k positions (net indels before
    * it are ≤ k). Candidates therefore come from joining each doc's
    * k+1 anchors against the corpus's positional sliding-gram index
    * (the standard inverted char-gram index, Σ chars rows) on gram
    * equality with |anchorPos − slidingPos| ≤ k, plus the free
    * |len(a) − len(b)| ≤ k band (ed ≥ length difference). Exact
    * `levenshtein` verifies candidates, so output = the true pair
    * set over docs with ≥ (k+1)·q + k chars (shorter docs are the
    * documented contract boundary — at their size the exact q21 path
    * or a smaller q is the tool; both engines apply the same floor).
    *
    * Scale: anchors are k+1 rows/doc; the sliding index is
    * chars-proportional, and the join key is (gram, position-bucket)
    * — the q51 interval-bucket trick with width 2k+1, anchors
    * replicated to the ≤ 2 buckets covering [apos−k, apos+k] — so a
    * COMMON gram at two different text positions never meets itself
    * in the join (without the bucket, word-soup corpora fan every
    * frequent gram out quadratically: measured 38× wall-clock at 10×
    * corpus, vs ~linear with it). Exact position/length predicates
    * prune the bucket matches. Measured 24 candidates / 465 docs at
    * sf0.01 and 1035 / 3653 at sf0.1 with q=16. Both 100 TB knobs
    * are implemented: anchors are selected by RARITY (each doc's k+1
    * lowest-df disjoint grid grams — the q37 rarest-first discipline;
    * see [[editAnchors]]) so boilerplate grams never drive candidate
    * fan-out, and the verify uses Spark's thresholded
    * `levenshtein(l, r, k)` early-exit form.
    */
  /** Length-floored id/text projection shared by the edit family. */
  private[graft] def editProject(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int): DataFrame =
    graft.operators.FanOut(docs)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every doc's disjoint q-gram GRID — positions 0, q, 2q, … — as
    * 8-byte gram hashes. This is both the anchor candidate set and
    * the df sample the rarity rank reads.
    */
  private[graft] def editGrid(d: DataFrame, q: Int): DataFrame =
    d.select(col("id").as("aid"), length(col("text")).as("alen"),
        posexplode(expr(
          s"transform(sequence(0, cast(length(text)/$q as int) - 1)," +
            s" i -> xxhash64(substring(text, i*$q+1, $q)))"))
          .as(Seq("ai", "gh")))
      .select(col("aid"), col("alen"), (col("ai") * q).as("apos"), col("gh"))

  /** The k+1 disjoint RAREST anchor grams of each doc, replicated to
    * the ≤ 2 position buckets covering [apos−k, apos+k].
    *
    * Selection: grid-partition the doc into ⌊len/q⌋ disjoint q-grams
    * (positions 0, q, 2q, …) and keep the k+1 with the smallest
    * document frequency over the grid itself (ties by position). The
    * pigeonhole is selection-agnostic — each of ≤ k edits destroys
    * the content of at most ONE disjoint segment (indels at
    * boundaries shift positions but change no segment's text), so
    * among ANY k+1 disjoint segments one survives intact in the
    * partner, shifted ≤ k — which means completeness is identical to
    * the old leading-anchor rule for ANY df signal, while
    * boilerplate/common grams (the candidate-density killer on crawl
    * corpora) stop anchoring the join. The df is counted over the
    * GRID, not the full sliding index: a 1/q aligned sample whose
    * counts concentrate for exactly the high-df grams that matter
    * (P[a gram with n sliding occurrences misses the grid] ≈
    * (1−1/q)^n), at 1/q the aggregation cost — and at 100 TB it is a
    * stored statistic refreshed with the index, not a per-query
    * pass. minLen = (k+1)·q + k guarantees ⌊len/q⌋ ≥ k+1 grid slots.
    */
  private def editAnchors(grid: DataFrame, freqGrid: DataFrame, k: Int,
      q: Int): DataFrame =
    editAnchorsByDf(grid,
      freqGrid.groupBy("gh").agg(count(lit(1)).as("df")), k, q)

  /** [[editAnchors]] against a precomputed (gh, df) rarity table —
    * the stored-statistic form ([[graft.sources.GramIndexLayout]]
    * reads df from the index sidecar instead of aggregating a grid).
    * ANY df source yields the same verified output (the pigeonhole is
    * selection-agnostic); df only steers candidate volume.
    */
  private[graft] def editAnchorsByDf(grid: DataFrame, freq: DataFrame,
      k: Int, q: Int): DataFrame = {
    val w = 2 * k + 1
    grid.join(freq, Seq("gh"), "left")
      .withColumn("rn", row_number().over(Window.partitionBy("aid")
        .orderBy(coalesce(col("df"), lit(0L)), col("apos"))))
      .filter(col("rn") <= k + 1)
      .drop("df", "rn")
      .withColumn("bkt", explode(array_distinct(array(
        floor(greatest(col("apos") - k, lit(0)) / w).cast("int"),
        floor((col("apos") + k) / w).cast("int")))))
  }

  /** The positional sliding-gram index (every q-gram at every
    * position) — the stored inverted index at scale.
    */
  private[graft] def editSliding(d: DataFrame, k: Int, q: Int): DataFrame = {
    val w = 2 * k + 1
    d.select(col("id").as("sid"), length(col("text")).as("slen"),
        posexplode(expr(
          s"transform(sequence(0, length(text)-$q)," +
            s" p -> xxhash64(substring(text, p+1, $q)))"))
          .as(Seq("spos", "gh")))
      .withColumn("bkt", floor(col("spos") / w).cast("int"))
  }

  /** (gram-hash, bucket)-keyed candidate join + thresholded banded
    * levenshtein verify (-1 past the threshold; equal to the plain
    * distance on every survivor, so the oracle's plain levenshtein
    * agrees). Grams travel as 8-byte xxhash64 keys (the q37 shuffle
    * discipline): a hash collision can only ADD a candidate, never
    * drop one, and the exact verify kills it — completeness and the
    * output set are untouched while every shuffle/sort runs on fixed
    * 8-byte keys instead of q-char strings. `texts` must cover every
    * id the candidates mention.
    */
  private[graft] def editVerify(anchors: DataFrame, sliding: DataFrame,
      texts: DataFrame, k: Int): DataFrame = {
    // SHUFFLE_HASH on the anchor side: anchors are k+1 rows/doc vs
    // the index's len rows/doc (~q× smaller), so hashing them skips
    // the sort-merge join's O(n log n) sort of the whole sliding
    // index — still a keyed shuffle join, nothing broadcasts
    val cand = anchors.hint("SHUFFLE_HASH").join(sliding, Seq("gh", "bkt"))
      .filter(col("aid") =!= col("sid") &&
        abs(col("apos") - col("spos")) <= k &&
        abs(col("alen") - col("slen")) <= k)
      .select(least(col("aid"), col("sid")).as("a"),
        greatest(col("aid"), col("sid")).as("b"))
      .distinct()
    cand
      .join(texts.select(col("id").as("a"), col("text").as("ta")), "a")
      .join(texts.select(col("id").as("b"), col("text").as("tb")), "b")
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb"), k).as("ed"))
      .filter(col("ed") >= 0 && col("ed") <= k)
  }

  /** The lazy composition behind [[editNearDups]] — split out so
    * PlanSpec can pin the candidate join's physical shape before the
    * result materializes. Returns (result, intermediates to release).
    */
  private[graft] def editNearDupsLazy(docs: DataFrame, textCol: String,
      idCol: String, k: Int, q: Int): (DataFrame, Seq[DataFrame]) = {
    val d = editProject(docs, textCol, idCol, (k + 1) * q + k)
    val grid = editGrid(d, q).persist(StorageLevel.MEMORY_AND_DISK)
    val out =
      editVerify(editAnchors(grid, grid, k, q), editSliding(d, k, q), d, k)
    (out, Seq(d, grid))
  }

  def editNearDups(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 10, q: Int = 16): DataFrame = {
    val (out, intermediates) = editNearDupsLazy(docs, textCol, idCol, k, q)
    Similarity.cacheAndRelease(out, intermediates)
  }

  /** Incremental edit-distance near-dup — the edit member of the
    * batch-vs-corpus family (exact q75, Bloom q86, MinHash q76, IVF
    * q99): an arriving batch is checked for ≤ k-edit revisions of the
    * HISTORY (and of itself) without history ever exploding anchors.
    * Only the batch's k+1 anchors/doc probe the positional
    * sliding-gram index of history ∪ batch — complete for every
    * batch×history and batch×batch pair by the same pigeonhole (the
    * intact anchor argument applies with the batch doc as A). At
    * scale the history index is the STORED inverted char-gram table
    * (bucketed on (gram, bucket) — recomputed here only because the
    * harness is stateless, q99's posture); history shuffles nothing
    * on batch arrival. History-internal pairs are deliberately NOT
    * re-reported — they were caught when those docs arrived.
    */
  def incrementalEditNearDups(history: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, k: Int = 10,
      q: Int = 16): DataFrame = {
    val minLen = (k + 1) * q + k
    val h = editProject(history, textCol, idCol, minLen)
    val b = editProject(incoming, textCol, idCol, minLen)
    val all = h.unionAll(b)
    // rarity is ranked on the full-corpus grid (history ∪ batch): at
    // scale the stored index stat; only the BATCH's grid feeds the
    // anchor window
    val grid = editGrid(all, q).persist(StorageLevel.MEMORY_AND_DISK)
    val bIds = b.select(col("id").as("aid"))
    val bGrid = grid.join(bIds, Seq("aid"), "left_semi")
    val out =
      editVerify(editAnchors(bGrid, grid, k, q), editSliding(all, k, q), all, k)
    Similarity.cacheAndRelease(out, Seq(h, b, grid))
  }

  val SimChunks = 4
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist < SimChunks, "pigeonhole needs maxDist < chunks")
    val bitsPerChunk = SimBits / SimChunks
    // one md5 per token per doc: fan out ahead of the kernel stage
    val hashed = graft.operators.FanOut(docs).select(col(idCol).as("id"),
      simhashKernel(TextOps.words(col(textCol))).as("h"))
    val chunkArr = array((0 until SimChunks).map(c =>
      shiftrightunsigned(col("h"), c * bitsPerChunk)
        .bitwiseAND((1L << bitsPerChunk) - 1)): _*)
    val chunked = hashed.select(col("id"), col("h"),
      posexplode(chunkArr).as(Seq("chunk", "key")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    chunked.count() // hash each doc once; the self-join reads the cache
    val out = chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.h").as("ha"), col("y.h").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
    Similarity.cacheAndRelease(out, Seq(chunked))
  }

  /** Maximal duplicated spans — the ExactSubstr signal ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022):
    * find, per document, the maximal word ranges whose every length-`w`
    * window also occurs in some OTHER document. Where q71's chunks are
    * non-overlapping (a shared span straddling a chunk boundary is
    * invisible), the windows here slide by 1 word, so ANY shared run of
    * ≥ w words is detected at its exact extent — the suffix-array
    * result, computed with joins instead of a suffix array.
    *
    * Shape (all streaming, never all-pairs):
    *  1. windows: one row per (doc, pos) — O(total words) rows.
    *  2. cross-doc shared windows: ONE partial aggregate per distinct
    *     window text, shared iff min(doc_id) ≠ max(doc_id) (the q71
    *     trick — no count-distinct expansion). Within-doc repetition
    *     alone does NOT mark a window (that's q66's signal).
    *  3. left-semi probe of the window stream by the shared set — a
    *     plain keyed join (shared-window volume is corpus-duplication-
    *     sized, not a dimension table; AQE may still broadcast it).
    *  4. interval merge per doc (gaps-and-islands): a window starts a
    *     new maximal span iff its start exceeds the running max end of
    *     all earlier duplicated windows — per-doc sort inside the
    *     doc_id shuffle, O(duplicated windows), classic SQL, exactly
    *     replayable.
    * At 100 TB the window string would be a 16-byte hash (collision
    * odds negligible, shuffle 16 B/row instead of the text); exact
    * strings are kept here so the oracle comparison is differential
    * end-to-end.
    *
    * Returns one row per document that has at least one duplicated
    * span: (doc_id, n_words, n_spans, dup_words, max_span, dup_frac)
    * where dup_words = size of the UNION of duplicated ranges (islands
    * are disjoint by construction) and dup_frac = dup_words/n_words —
    * integer sums and ONE exactly-rounded IEEE division (the q73
    * discipline).
    */
  def maximalDupSpans(docs: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame = {
    require(w >= 2, "window width must be at least 2 words")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        TextOps.words(col(textCol)).as("ws"))
      .withColumn("nw", size(col("ws")))
      // sequence(0, nw-w) would DESCEND for nw < w; guard the lambda
      .filter(col("nw") >= w)
    val wins = graft.operators.FanOut(base)
      .select(col("doc_id"), col("nw"), posexplode(expr(
        s"transform(sequence(0, nw - $w), i -> array_join(slice(ws, i + 1, $w), ' '))"))
        .as(Seq("pos", "span")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shared = wins.groupBy(col("span"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("span"))
    val hits = wins.join(shared, Seq("span"), "left_semi")
      .select(col("doc_id"), col("nw"), col("pos"),
        (col("pos") + lit(w - 1)).as("e"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("e")).over(
      byPos.rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("nw"), col("island"))
      .agg((max(col("e")) - min(col("pos")) + 1).as("span_words"))
    val out = islands.groupBy(col("doc_id"), col("nw"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_words")).as("dup_words"),
        max(col("span_words")).cast("long").as("max_span"))
      .select(col("doc_id"), col("nw").cast("long").as("n_words"),
        col("n_spans"), col("dup_words"), col("max_span"),
        (col("dup_words").cast("double") / col("nw")).as("dup_frac"))
    Similarity.cacheAndRelease(out, Seq(wins))
  }

  /** Incremental connected components — fold a BATCH of new near-dup
    * pairs into a STORED labeling without touching unaffected
    * components: the cluster-collapse step of an incremental dedup run
    * (pairs from q75/q76/q105-style probes), completing the
    * incremental family end-to-end. A full re-run shuffles every edge
    * ever seen; this shuffles O(|new pairs| + |affected components|).
    *
    * `stored` is a prior [[connectedComponents]] output (node, canon)
    * — star-shaped (every node points at its component minimum), which
    * is what makes the incremental step cheap AND exact:
    *  1. affected component ids = canons of stored nodes that appear
    *     in a new pair (left-semi, keyed).
    *  2. the affected SUBGRAPH = the stored star edges of those
    *     components (the star preserves connectivity exactly — every
    *     member reaches the canon in one hop) ∪ the new pairs.
    *  3. [[connectedComponents]] over the subgraph, whose size is
    *     O(|new pairs| + |affected components|), not O(corpus).
    *  4. untouched stored rows pass through unchanged (anti-join on
    *     canon).
    * Exactness: the union of star edges and original edges has the
    * same components (stars preserve reachability), merges across
    * stored components go through a new pair and both sides' stars
    * are present, and a merged component's new canon is the min over
    * the union — exactly what the full run computes. So output ≡
    * full CC over (all old pairs ∪ new pairs), which the oracle
    * checks differentially.
    *
    * Returns (node, canon) for every node in `stored` or in a new
    * pair.
    */
  def incrementalComponents(stored: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    // No persist/count barrier on the stored side: every call site
    // passes a [[connectedComponents]] output (a persisted kernel
    // labeling, or a narrow select over the last round's checkpoint)
    // or a landed read — re-reading it for the semi/anti joins is
    // cache-speed, where a persist+count here would cost one full
    // labels pass per call at any scale. The
    // batch-side frames (np, affectedCanons) persist LAZILY and are
    // registered for the end-of-query drain: their first consumer
    // materializes them inside a job it runs anyway.
    val st = stored.select(col("node").cast("long").as("node"),
      col("canon").cast("long").as("canon"))
    val np = Similarity.registerForRelease(
      newPairs.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val touched = np.select(col("a").as("node"))
      .union(np.select(col("b").as("node"))).distinct()
    val affectedCanons = Similarity.registerForRelease(
      st.join(touched, Seq("node"), "left_semi")
        .select(col("canon")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val affectedStars = st.join(affectedCanons, Seq("canon"), "left_semi")
    val subEdges = affectedStars
      .select(col("node").as("a"), col("canon").as("b"))
      .filter(col("a") =!= col("b")) // canon's self-loop adds nothing
      .union(np)
    val relabeled = connectedComponents(subEdges, "a", "b")
    val untouched = st.join(affectedCanons, Seq("canon"), "left_anti")
      .select(col("node"), col("canon"))
    relabeled.union(untouched)
  }
}
