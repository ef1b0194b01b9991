package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-loop scale harness (not part of the driver contract): measures
  * how the heavy pipeline operators scale when the corpus grows N×,
  * validating the §9 claim that every candidate-generation shape is
  * linear in rows (bucket joins, never all-pairs).
  *
  * The N× corpus is sf0.1 replicated with (a) shifted doc ids and
  * (b) a per-replica suffix welded onto every word — so replicas are
  * NOT near-duplicates of each other (cross-replica Jaccard = 0) and
  * the workload keeps its per-replica dup density instead of gaining
  * artificial mult² pair inflation. A near-linear wall-clock ratio at
  * 10× is the empirical signature that the shuffle volume is
  * rows × small-constant; a superlinear one flags an all-pairs leak.
  *
  * Usage: scripts/run.sh graft.Stress [sfDir] [mult] [stages] [nFolds]
  * where stages is a csv subset of
  * dedup,prep,sim,forensics,r11,edit,spans,labelfold-skew,ledgerfold,
  * ledgerfold-length,behav,series,audit,sketch (default: all), and
  * nFolds sizes the ledgerfold-length stage (default 10000).
  */
object Stress {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val stages = args.lift(2).map(_.split(",").toSet)
      .getOrElse(Set("dedup", "prep", "sim", "forensics", "r11", "edit",
        "spans", "labelfold-skew", "ledgerfold", "ledgerfold-length",
        "behav", "series", "stats", "audit", "sketch"))
    val spark = SparkEntry.localSession(SparkEntry.envCpus, "30s")
    import graft.pipeline.{Dedup, TextOps}

    var corpusBlockIds = Set.empty[Int]
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    // weld a replica tag onto every word: doc structure and
    // within-replica dup density survive, cross-replica overlap dies
    def replica(i: Int): DataFrame = base
      .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      .withColumn("text",
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1q" + i))
    val big = (0 until mult).map(replica).reduce(_ union _)
      .repartition(32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBig = big.count()
    corpusBlockIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val n1 = base.count()
    println(s"corpus: ${n1} docs -> ${nBig} docs (${mult}x), " +
      s"expect ~linear wall-clock if candidate generation is bucketed")

    // Bench's between-queries discipline: drop the result cache and
    // any persisted/checkpointed blocks an op left behind, then GC —
    // without this, earlier ops' pinned blocks and the GC regime
    // dominate later measurements (ngram measured 11-54 s at 1x for
    // a 2.5 s query purely from accumulated state)
    def release(spark2: SparkSession): Unit = {
      graft.pipeline.Similarity.releaseResult()
      spark2.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !corpusBlockIds(id) }
        .values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    def run(tag: String, docs: DataFrame): Unit = {
      val sp = docs.sparkSession
      val t0 = System.nanoTime()
      val exact = Dedup.exact(docs, "text", "doc_id").count()
      release(sp)
      val t1 = System.nanoTime()
      val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", 0.5)
      val np = pairs.count()
      val t2 = System.nanoTime()
      val cc = Dedup.connectedComponents(pairs, "a", "b").count()
      release(sp)
      val t3 = System.nanoTime()
      // q37's production parameters (0.6 / trigram); bigrams at 0.5
      // are a categorically denser candidate workload
      val ng = Dedup.ngramJaccardNearDups(docs, "text", "doc_id",
        threshold = 0.6, n = 3).count()
      release(sp)
      val t4 = System.nanoTime()
      // q166's production parameters — the directed containment join's
      // probe side is unbounded by the prefix theorem, so its curve is
      // the one to watch as replicas multiply shared shingles
      val cont = Dedup.containmentPairs(docs, "text", "doc_id",
        threshold = 0.8, n = 3).count()
      release(sp)
      val t4c = System.nanoTime()
      val spans = {
        val ch = docs.select(col("doc_id"),
            explode(TextOps.chunksKernel(3)(TextOps.words(col("text"))))
              .as("span"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val shared = ch.groupBy(col("span"))
          .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
          .filter(col("lo") =!= col("hi")).select(col("span"))
        val out = ch.join(shared, Seq("span"), "left_semi").count()
        ch.unpersist(blocking = false)
        out
      }
      val t5 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s exact=${s(t0, t1)}s minhash=${s(t1, t2)}s " +
        f"cc=${s(t2, t3)}s ngram=${s(t3, t4)}s cont=${s(t4, t4c)}s " +
        f"span=${s(t4c, t5)}s " +
        f"[pairs=$np cc=$cc ngram=$ng cont=$cont sharedOcc=$spans " +
        f"exact=$exact]")
    }

    // corpus-prep side: chunking/scrub are map-side (must be ~linear
    // in rows with zero shuffle growth), shard rank is the bucketed
    // running count, tf-idf shuffles (token, count) rows only
    def runPrep(tag: String, docs: DataFrame): Unit = {
      val terms = Seq("customer", "vector", "merge")
      val t0 = System.nanoTime()
      val ch = docs.select(explode(TextOps.slidingChunksKernel(8, 5)(
        TextOps.words(col("text")))).as("c")).count()
      release(spark)
      val t1 = System.nanoTime()
      val sc = docs.select(TextOps.scrubHits(col("text"), terms).as("h"))
        .agg(sum(col("h"))).collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      val sh = graft.operators.OrderedScan.runningTotal(
          docs.select(col("doc_id"),
            md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("h")),
          key = lit(1), ord = Seq(col("h"), col("doc_id")), value = lit(1L),
          bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
          as = "rk").count()
      release(spark)
      val t3 = System.nanoTime()
      val tfidf = {
        val tok = docs.select(col("source"), col("doc_id"),
          explode(TextOps.words(col("text"))).as("word"))
        val tf = tok.groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tok.select(col("doc_id"), col("word")).distinct()
          .groupBy(col("word")).agg(count(lit(1)).as("df"))
        tf.join(dfreq, "word").count()
      }
      release(spark)
      val t4 = System.nanoTime()
      // q92 shape: ONE wordcount-shuffle (first-seen bucket per token)
      // then aggregates bounded at 20 rows — vocab itself grows ~Nx
      // under replica salting, so this measures the shuffle honestly
      val vocab = {
        val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
        val bsz = math.max((mx + 20L) / 20L, 1L)
        docs.select(expr(s"doc_id div $bsz").as("bucket"),
            explode(TextOps.words(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(min(col("bucket")).as("b"))
          .groupBy(col("b")).agg(count(lit(1))).count()
      }
      release(spark)
      val t5 = System.nanoTime()
      // q93 shape: distinct (source, shingle) self-equi-join — fan-out
      // per shingle stays bounded by the 20 sources at any Nx
      val overlap = {
        val sh = docs.select(col("source"),
            explode(TextOps.shinglesKernel(8)(TextOps.words(col("text"))))
              .as("s"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = sh.select(col("source").as("sa"), col("s"))
        val b = sh.select(col("source").as("sb"), col("s"))
        val out = a.join(b, Seq("s")).filter(col("sa") < col("sb"))
          .groupBy(col("sa"), col("sb")).agg(count(lit(1))).count()
        sh.unpersist(blocking = false)
        out
      }
      release(spark)
      val t6 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s chunks=${s(t0, t1)}s scrub=${s(t1, t2)}s " +
        f"shard=${s(t2, t3)}s tfidf=${s(t3, t4)}s vocab=${s(t4, t5)}s " +
        f"overlap=${s(t5, t6)}s " +
        f"[chunks=$ch hits=$sc ranks=$sh tfrows=$tfidf vocabBuckets=$vocab " +
        f"pairs=$overlap]")
    }

    // warm both code paths on the small corpus first so the 1x
    // measurement isn't codegen, then measure 1x and Nx
    if (stages("dedup")) {
      run("warm", base.limit(500))
      run("1x", base)
      run(s"${mult}x", big)
    }
    if (stages("prep")) {
      runPrep("warm", base.limit(500))
      runPrep("1x", base)
      runPrep(s"${mult}x", big)
    }

    // similarity side: embeddings replicated with shifted ids and a
    // per-replica component ROTATION — unit norm survives, buckets
    // and cells redistribute, so the ANN workload grows honestly
    import graft.pipeline.Similarity
    val ebase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def erep(i: Int): DataFrame = ebase
      .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, 64 - i),
          slice(col("embedding"), 1, i)))
    val ebig = (0 until mult).map(erep).reduce(_ union _)
      .repartition(32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusBlockIds ++= spark.sparkContext.getPersistentRDDs.keySet
    println(s"embeddings: ${ebase.count()} -> ${ebig.count()} (${mult}x)")

    def runSim(tag: String, emb: DataFrame): Unit = {
      val t0 = System.nanoTime()
      // the query set stays FIXED as the corpus grows (ids < 20 exist
      // only in replica 0) — the actual retrieval-at-scale scenario
      val ann = Similarity.annTopK(emb, "vec_id", "embedding",
        _ < 20, k = 5).count()
      release(spark)
      val t1 = System.nanoTime()
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        _ < 20, k = 5).count()
      release(spark)
      val t2 = System.nanoTime()
      // fixed 20-query set against the growing labeled corpus — knn
      // must scale as one corpus scan, like ann/ivf
      val knn = Similarity.knnClassify(
        emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5).count()
      release(spark)
      val t3 = System.nanoTime()
      // quantization is pure map-side: linear or bust
      val qn = emb.select(Similarity.quantStatsKernel(
          col("embedding").cast("array<double>")).as("s"))
        .agg(sum(col("s._1"))).collect()(0).getLong(0)
      release(spark)
      val t4 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s ann=${s(t0, t1)}s ivf=${s(t1, t2)}s " +
        f"knn=${s(t2, t3)}s quant=${s(t3, t4)}s " +
        f"[ann=$ann ivf=$ivf knn=$knn feSum=$qn]")
    }
    if (stages("sim")) {
      runSim("warm", ebase.limit(200))
      runSim("1x", ebase)
      runSim(s"${mult}x", ebig)
    }

    // forensics/retrieval shapes (q85/q94-q98): the round-9/10 query
    // surface. Queries and audit BUDGETS stay fixed as the corpus
    // grows — the production posture (you audit a fixed sample and
    // retrieve for a fixed query, however big the corpus) — while
    // candidate generation must scale as bucketed corpus×1 passes.
    def runForensics(tag: String, docs: DataFrame, emb: DataFrame,
        m: Int): Unit = {
      import graft.pipeline.Similarity
      import graft.queries.Pipeline
      val terms = Seq("customer", "vector", "merge")
      val t0 = System.nanoTime()
      // q95: the production attrition plan (LSH pairs → CC → plain
      // keyed left join back to docs → per-source sums)
      val attr = Pipeline.attritionOf(docs)
        .agg(sum(col("n_dropped"))).collect()(0).getLong(0)
      release(spark)
      val t1 = System.nanoTime()
      // q96: the production inverted-index BM25 top-10
      val bm = Pipeline.bm25ScoresOf(docs, terms)
        .orderBy(col("score").desc, col("doc_id")).limit(10).count()
      release(spark)
      val t2 = System.nanoTime()
      // q97: the production RRF fusion (BM25 leg + 1-query cosine leg)
      val rrf = Pipeline.rrfFuseOf(docs, emb, terms).count()
      release(spark)
      val t3 = System.nanoTime()
      // q94 shape: kNN label audit with a FIXED audit budget — the
      // modulus scales with the corpus so the audited sample stays
      // ~constant (the scaladoc'd 100 TB knob), corpus side scans once
      val noise = {
        val audit = emb.filter(col("vec_id") % lit(5L * m) === 0)
        Similarity.knnClassify(emb, audit, "vec_id", "embedding",
          "label", k = 5).count()
      }
      release(spark)
      val t4 = System.nanoTime()
      // q85: the production SemDeDup assignment + pair stage (derived
      // k = min(2^16, max(8, ceil(n/128))) — cluster sizes, and so the
      // within-cluster pair stage, stay bounded as the corpus grows;
      // fixed k=8 was the r9 scale flaw)
      val sem = {
        val (_, pairs) = Pipeline.semDeDupPairs(emb)
        pairs.count()
      }
      release(spark)
      val t5 = System.nanoTime()
      // q98: the production token-budget allocation (the distinct-
      // shingle count is the only real shuffle)
      val budget = Pipeline.tokenBudgetOf(docs).count()
      release(spark)
      val t6 = System.nanoTime()
      // q185 shape: hard-negative mining with a FIXED mined budget —
      // the modulus scales with the corpus (the scaladoc'd knob), so
      // the cost must scale as the corpus-side scan alone
      val negs = Similarity.hardNegatives(emb, "vec_id", "embedding",
        "label", mod = 13L * m).count()
      release(spark)
      val t7 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s attrition=${s(t0, t1)}s bm25=${s(t1, t2)}s " +
        f"rrf=${s(t2, t3)}s labelnoise=${s(t3, t4)}s semdedup=${s(t4, t5)}s " +
        f"budget=${s(t5, t6)}s hardneg=${s(t6, t7)}s " +
        f"[dropped=$attr bm=$bm rrf=$rrf audited=$noise semPairs=$sem " +
        f"srcs=$budget negs=$negs]")
    }
    if (stages("forensics")) {
      runForensics("warm", base.limit(500), ebase.limit(200), 1)
      runForensics("1x", base, ebase, 1)
      runForensics(s"${mult}x", big, ebig, mult)
    }

    // round-11 shapes: PQ-ADC (training aggregates + codes-only
    // ranking scan must both scale ~linearly; query set FIXED) and
    // the PII regex chain (pure map-side — flat per-core; the corpus
    // is PII-free but the regex scan cost is text-proportional either
    // way)
    def runR11(tag: String, docs: DataFrame, emb: DataFrame): Unit = {
      import graft.pipeline.{Similarity, TextOps}
      val t0 = System.nanoTime()
      val pq = Similarity.pqAdcTopK(emb, "vec_id", "embedding",
        _ < 20, topK = 5, m = 8, k = 16, rounds = 2).count()
      release(spark)
      val t1 = System.nanoTime()
      val pii = docs.select(
          (TextOps.piiHits(col("text"), "email") +
            TextOps.piiHits(col("text"), "phone") +
            TextOps.piiHits(col("text"), "ipv4") +
            TextOps.piiHits(col("text"), "id")).cast("long").as("h"),
          md5(TextOps.piiRedact(col("text"))).as("r"))
        .agg(sum(col("h")).as("hits"), max(col("r")))
        .collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      val ivfpq = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        _ < 20, topK = 5).count()
      release(spark)
      val t3 = System.nanoTime()
      // q104 shape: anchors × positional sliding-gram index; replica
      // word-salting changes the char stream, so cross-replica gram
      // collisions stay position-filtered noise
      val edit = Dedup.editNearDups(docs, "text", "doc_id").count()
      release(spark)
      val t4 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s pqadc=${s(t0, t1)}s pii=${s(t1, t2)}s " +
        f"ivfpq=${s(t2, t3)}s edit=${s(t3, t4)}s " +
        f"[pq=$pq piiHits=$pii ivfpq=$ivfpq editPairs=$edit]")
    }
    if (stages("r11")) {
      runR11("warm", base.limit(500), ebase.limit(200))
      runR11("1x", base, ebase)
      runR11(s"${mult}x", big, ebig)
    }

    // edit-only curve (round 11): isolates the q104 shape so the
    // rarest-anchor selection can be measured against the r10
    // leading-anchor record (1.9 s @1x / 37 s @10x / 108 s @30x)
    def runEdit(tag: String, docs: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val pairs = Dedup.editNearDups(docs, "text", "doc_id").count()
      release(spark)
      val t1 = System.nanoTime()
      // q105 shape: only the ~1/7 batch explodes anchors vs the full
      // history ∪ batch sliding index
      val incr = Dedup.incrementalEditNearDups(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(7)) === 0),
        "text", "doc_id").count()
      release(spark)
      val t2 = System.nanoTime()
      println(f"$tag%-4s edit=${(t1 - t0) / 1e9}%7.2f s " +
        f"incr=${(t2 - t1) / 1e9}%7.2f s [pairs=$pairs incrPairs=$incr]")
    }
    if (stages("edit")) {
      runEdit("warm", base.limit(500))
      runEdit("1x", base)
      runEdit(s"${mult}x", big)
    }

    // round-11 late additions: q109 maximal dup spans (window volume
    // = total words; shared-set agg + semi-join + per-doc interval
    // merge must all scale ~linearly) and q110 incremental components
    // (setup = history CC + batch pair probe, measured separately
    // from the FOLD itself — the fold is the incremental claim:
    // O(batch pairs + affected components), not O(corpus))
    def runSpans(tag: String, docs: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val spans = Dedup.maximalDupSpans(docs, "text", "doc_id", 8).count()
      release(spark)
      val t1 = System.nanoTime()
      val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val stored = Dedup.connectedComponents(
        Dedup.minhashNearDups(hist, "text", "doc_id", 0.5), "a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nStored = stored.count()
      val np = Dedup.incrementalMinhashPairs(hist, batch,
          "text", "doc_id", 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nNp = np.count()
      val t2 = System.nanoTime()
      val folded = Dedup.incrementalComponents(stored, np, "a", "b").count()
      val t3 = System.nanoTime()
      stored.unpersist(blocking = false); np.unpersist(blocking = false)
      release(spark)
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s spans=${s(t0, t1)}s ccSetup=${s(t1, t2)}s " +
        f"ccFold=${s(t2, t3)}s " +
        f"[spanDocs=$spans stored=$nStored newPairs=$nNp folded=$folded]")
    }
    if (stages("spans")) {
      runSpans("warm", base.limit(500))
      runSpans("1x", base)
      runSpans(s"${mult}x", big)
    }

    // stored-label fold under realistic skew (VERDICT r12 #6): one
    // giant near-dup family (10% of all nodes, chained) among a sea of
    // 2-node components. The claim under test: fold I/O is
    // proportional to the TOUCHED components, never the corpus —
    //  - cold fold (fresh nodes, no stored component touched): pays
    //    the documented label-projection scan (16 B/row, label-sized)
    //    plus one new partition write → its curve must stay far
    //    sub-linear in corpus size;
    //  - hot fold (every new pair attaches to the giant family): reads
    //    and relabels exactly that component's bucket — cost tracks
    //    the giant family's size (the touched component), which here
    //    grows with the corpus BY CONSTRUCTION (10%), so ~linear in
    //    `giant` is the correct shape, and the untouched 90% of
    //    partitions must never be read or written.
    def runLabelFoldSkew(tag: String, nodes: Long): Unit = {
      val giant = nodes / 10
      val giantPairs = spark.range(giant - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val smallPairs = spark.range(giant, nodes - 1, 2)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val t0 = System.nanoTime()
      val labels = Dedup.connectedComponents(
        giantPairs.unionByName(smallPairs), "a", "b")
      val dir = java.nio.file.Files
        .createTempDirectory("stress-labelstore-").toString
      graft.sources.LabelStoreLayout.write(labels, dir)
      release(spark)
      val t1 = System.nanoTime()
      // cold: 1000 pairs among fresh nodes — no stored component read
      val cold = spark.range(1000)
        .select((col("id") * 2 + nodes).as("a"),
          (col("id") * 2 + 1 + nodes).as("b"))
      graft.sources.LabelStoreLayout.fold(spark, dir, cold, "a", "b")
      release(spark)
      val t2 = System.nanoTime()
      // hot: 1000 fresh nodes all attaching to the giant family
      val hot = spark.range(1000)
        .select((col("id") % giant).as("a"),
          (col("id") + nodes + 10000000L).as("b"))
      graft.sources.LabelStoreLayout.fold(spark, dir, hot, "a", "b")
      val t3 = System.nanoTime()
      val total = graft.sources.LabelStoreLayout.read(spark, dir).count()
      graft.streaming.Parts.deleteTree(java.nio.file.Paths.get(dir))
      release(spark)
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s build=${s(t0, t1)}s coldFold=${s(t1, t2)}s " +
        f"hotFold=${s(t2, t3)}s [nodes=$nodes giant=$giant labels=$total]")
    }
    if (stages("labelfold-skew")) {
      runLabelFoldSkew("warm", 20000L)
      runLabelFoldSkew("1x", 200000L)
      runLabelFoldSkew(s"${mult}x", 200000L * mult)
    }

    // additive ledgered-store fold (r13): the history fold is O(batch
    // scan) and the store merge O(sketch geometry) — so folding a
    // FIXED batch into a store that has already absorbed N× history
    // must cost the SAME whatever N is (CM cells are 48 forever).
    // historyFold grows with the folded corpus (its own scan);
    // fixedBatchFold is the flat curve under test.
    def runLedgerFold(tag: String, hist: DataFrame): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory("stress-cmstore-").toString
      val t0 = System.nanoTime()
      require(graft.sources.CmStoreLayout.fold(spark, dir, "hist",
        graft.queries.Pipeline.cmToksOf(hist)))
      release(spark)
      val t1 = System.nanoTime()
      require(graft.sources.CmStoreLayout.fold(spark, dir, "batch",
        graft.queries.Pipeline.cmToksOf(base.limit(500))))
      val t2 = System.nanoTime()
      graft.streaming.Parts.deleteTree(java.nio.file.Paths.get(dir))
      release(spark)
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s historyFold=${s(t0, t1)}s " +
        f"fixedBatchFold=${s(t1, t2)}s [cells=48]")
    }
    if (stages("ledgerfold")) {
      runLedgerFold("warm", base.limit(500))
      runLedgerFold("1x", base)
      runLedgerFold(s"${mult}x", big)
    }

    // bounded-ledger flatness (r14, VERDICT r13 #1): fold cost must be
    // INDEPENDENT of how many batches the store has ever absorbed —
    // the r13 check collected the FULL ledger to the driver on every
    // fold (O(#applied batches), unbounded in the live stream→store
    // path); the bounded {watermark, recent-window} state makes it
    // O(sketch + window). Fold N sequenced tiny batches through the
    // REAL public fold and compare the mean per-fold cost of an early
    // decile against the last: flat ≡ ratio ~1 while the applied-batch
    // count grows ~10× within the run — and the committed LEDGER state
    // stays O(window) bytes however long the history.
    def runLedgerLength(n: Int): Unit = {
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("stress-ledgerlen-").toString
      // 48-cell jobs: AQE's extra stage materialization and 32-wide
      // shuffles are pure fixed overhead here and would drown the
      // signal under scheduling noise; neither interacts with ledger
      // length (the variable under test). Restored after the stage.
      val aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val shp0 = spark.conf.get("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val cells = graft.sources.CmStoreLayout
        .cellsOf(Seq("spark", "stress", "fold").toDF("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      cells.count()
      val times = new Array[Double](n)
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        require(graft.sources.LedgerStore.fold(spark, dir, s"len-$i",
          cells, Seq("i", "bucket")), s"fold len-$i refused")
        times(i) = (System.nanoTime() - t0) / 1e9
        i += 1
        if (i % 1000 == 0) System.err.println(s"[stress] ledger folds: $i/$n")
      }
      cells.unpersist(blocking = false)
      val d = math.max(1, n / 10)
      def mean(xs: Array[Double]) = xs.sum / xs.length
      // skip the first decile: it pays JIT/codegen warmup, not ledger
      val head = mean(times.slice(d, 2 * d))
      val tail = mean(times.takeRight(d))
      val ledgerBytes = java.nio.file.Files.size(java.nio.file.Paths.get(
        s"$dir/v${graft.sources.LedgerStore.version(dir)}/LEDGER"))
      graft.streaming.Parts.deleteTree(java.nio.file.Paths.get(dir))
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", shp0)
      release(spark)
      println(f"ledgerfold-length n=$n perFold(d2)=${head}%.4fs " +
        f"perFold(last)=${tail}%.4fs ratio=${tail / head}%.2f " +
        f"ledgerStateBytes=$ledgerBytes")
    }
    if (stages("ledgerfold-length"))
      runLedgerLength(args.lift(3).map(_.toInt).getOrElse(10000))

    // behavioral analytics (q112 family): users replicated with shifted
    // ids — total rows grow Nx while per-user event counts stay FIXED,
    // which is the claim under test (per-key array work must not grow
    // with corpus size; only the user_id shuffle does)
    def runBehav(tag: String, ev: DataFrame): Unit = {
      import graft.queries.Events
      val t0 = System.nanoTime()
      val fun = Events.funnelDepth(Events.userEventsOf(ev,
        Seq("view", "click", "purchase")))
        .agg(sum(col("funnel_depth"))).collect()(0).getLong(0)
      release(spark)
      val t1 = System.nanoTime()
      // retention shape: conditional aggregation, one shuffle
      val ret = ev.groupBy(col("user_id"))
        .agg(max(when(expr("to_date(ts)") === lit("2024-01-05").cast("date"),
          1).otherwise(0)).as("a0"))
        .agg(sum(col("a0"))).collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s funnel=${s(t0, t1)}s retention=${s(t1, t2)}s " +
        f"[depthSum=$fun retained=$ret]")
    }
    if (stages("behav")) {
      val evbase = graft.Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("ts"))
      // shifts DERIVED from the fixture's max ids: a fixed shift would
      // silently alias replicas on a bigger fixture, growing per-user
      // arrays ~mult× and invalidating exactly the fixed-per-user
      // claim this stage exists to test
      val mx = evbase.agg(max(col("user_id")), max(col("event_id")))
        .collect()(0)
      val (uShift, eShift) = (mx.getLong(0) + 1, mx.getLong(1) + 1)
      def evrep(i: Int): DataFrame = evbase
        .withColumn("user_id", col("user_id") + lit(i * uShift))
        .withColumn("event_id", col("event_id") + lit(i * eShift))
      val evbig = (0 until mult).map(evrep).reduce(_ union _)
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusBlockIds ++= spark.sparkContext.getPersistentRDDs.keySet
      println(s"events: ${evbase.count()} -> ${evbig.count()} (${mult}x)")
      runBehav("warm", evbase.limit(2000))
      runBehav("1x", evbase)
      runBehav(s"${mult}x", evbig)
      evbig.unpersist(blocking = false)
    }

    // interval/series folds (q129-q133): every one must scale as ONE
    // keyed shuffle into per-key arrays plus O(n) lambda work — the
    // replicas grow the scale-out axis (users for coverage/ema,
    // (user,type) series for deltaSum, suffixed types for the sweep
    // and LTTB series), keeping per-key density fixed
    def runSeries(tag: String, ev: DataFrame): Unit = {
      import graft.queries.Events
      val t0 = System.nanoTime()
      val cov = Events.intervalCoverageOf(ev)
        .agg(sum(col("covered_us"))).collect()(0).getLong(0)
      release(spark)
      val t1 = System.nanoTime()
      val sweep = Events.maxIntersectionsOf(ev)
        .agg(sum(col("max_concurrent"))).collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      val ds = Events.deltaSumOf(ev)
        .agg(sum(col("total_delta"))).collect()(0).getLong(0)
      release(spark)
      val t3 = System.nanoTime()
      // ema_num is up to 2^55 per user: a plain SUM over Nx users
      // overflows BIGINT (ANSI throws) — fold the checksum mod p
      val ema = Events.trailingEmaOf(ev)
        .agg(sum(col("ema_num") % 1000000007L)).collect()(0).getLong(0)
      release(spark)
      val t4 = System.nanoTime()
      val lt = Events.lttbOf(ev).count()
      release(spark)
      val t5 = System.nanoTime()
      // q140/q141/q139: one keyed aggregate each — the flat-curve
      // claim carried with numbers like the rest of the family
      val br = Events.boundingRatioOf(ev)
        .agg(sum(col("dv"))).collect()(0).getLong(0)
      release(spark)
      val t6 = System.nanoTime()
      // strip the replica suffix first: welchTOf filters to the two
      // literal types, so suffixed replicas would vanish before the
      // aggregate and the curve would measure a constant-size input —
      // de-suffixed, the replicas land IN the click/view day groups
      // and the grouped data genuinely grows Nx
      val wt = Events.welchTOf(ev.withColumn("event_type",
          regexp_replace(col("event_type"), "_r\\d+$", "")))
        .agg(sum(col("n_c"))).collect()(0).getLong(0)
      release(spark)
      val t7 = System.nanoTime()
      val sm = Events.sumMapOf(ev)
        .agg(sum(col("tot_v"))).collect()(0).getLong(0)
      release(spark)
      val t8 = System.nanoTime()
      // q150: suffixed replicas are new types — per-type histograms
      // stay fixture-sized while the joint-histogram aggregate (the
      // one fact-sized op) grows Nx: exactly the claim to measure
      val rc = Events.rankCorrOf(ev)
        .agg(sum(col("n"))).collect()(0).getLong(0)
      release(spark)
      val t9 = System.nanoTime()
      // q153: de-suffix like welch — replicas must land IN click/view
      // so the per-day ECDF histograms genuinely grow
      val ks = Events.ksOf(ev.withColumn("event_type",
          regexp_replace(col("event_type"), "_r\\d+$", "")))
        .agg(sum(col("n1"))).collect()(0).getLong(0)
      release(spark)
      val t10 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s coverage=${s(t0, t1)}s sweep=${s(t1, t2)}s " +
        f"deltaSum=${s(t2, t3)}s ema=${s(t3, t4)}s lttb=${s(t4, t5)}s " +
        f"bound=${s(t5, t6)}s welch=${s(t6, t7)}s sumMap=${s(t7, t8)}s " +
        f"rankCorr=${s(t8, t9)}s ks=${s(t9, t10)}s " +
        f"[cov=$cov mx=$sweep ds=$ds ema=$ema lttbPts=$lt " +
        f"dv=$br nC=$wt totV=$sm rcN=$rc ksN=$ks]")
    }
    if (stages("series")) {
      val evbase = graft.Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("ts"), col("value"), col("props"))
      val mx = evbase.agg(max(col("user_id")), max(col("event_id")))
        .collect()(0)
      val (uShift, eShift) = (mx.getLong(0) + 1, mx.getLong(1) + 1)
      def evrep(i: Int): DataFrame = evbase
        .withColumn("user_id", col("user_id") + lit(i * uShift))
        .withColumn("event_id", col("event_id") + lit(i * eShift))
        .withColumn("event_type",
          if (i == 0) col("event_type")
          else concat(col("event_type"), lit(s"_r$i")))
      val evbig = (0 until mult).map(evrep).reduce(_ union _)
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusBlockIds ++= spark.sparkContext.getPersistentRDDs.keySet
      println(s"events: ${evbase.count()} -> ${evbig.count()} (${mult}x)")
      runSeries("warm", evbase.limit(2000))
      runSeries("1x", evbase)
      runSeries(s"${mult}x", evbig)
      evbig.unpersist(blocking = false)
    }

    // statistics shapes landed late r12: q159 Kendall (the rewrite's
    // claim — cells are domain-bounded, the dominance expansion is
    // cells × ≤100, so only the FIRST aggregate is fact-sized; the
    // cells² formulation this replaced measured 135 s at plain sf0.1)
    // and q171 bitmap algebra (word frames bounded by audience/64, so
    // the curve must follow the one fact-sized word-build aggregate).
    // Replicas keep event_type/props/value verbatim (types FIXED — the
    // adversarial axis for Kendall: per-type facts grow Nx while the
    // x,y domains cannot) and shift user_id so audiences genuinely
    // grow Nx for the bitmap legs.
    def runStats(tag: String, ev: DataFrame): Unit = {
      import graft.queries.Events
      val t0 = System.nanoTime()
      val kt = Events.kendallTauOf(ev
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
            .as("x"),
          floor(col("value") * 64).as("y"))
        .filter(col("x").isNotNull))
        .agg(sum(col("n"))).collect()(0).getLong(0)
      release(spark)
      val t1 = System.nanoTime()
      val bm = Events.audienceAlgebraFromWords(
        Events.audienceWordsOf(ev))
        .agg(sum(col("or_c"))).collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s kendall=${s(t0, t1)}s bitmap=${s(t1, t2)}s " +
        f"[ktN=$kt orSum=$bm]")
    }
    if (stages("stats")) {
      val evbase = graft.Tables(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          col("props"))
      val uShift = evbase.agg(max(col("user_id"))).collect()(0)
        .getLong(0) + 1
      def evrep(i: Int): DataFrame = evbase
        .withColumn("user_id", col("user_id") + lit(i * uShift))
      val evbig = (0 until mult).map(evrep).reduce(_ union _)
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusBlockIds ++= spark.sparkContext.getPersistentRDDs.keySet
      println(s"events: ${evbase.count()} -> ${evbig.count()} (${mult}x)")
      runStats("warm", evbase.limit(2000))
      runStats("1x", evbase)
      runStats(s"${mult}x", evbig)
      evbig.unpersist(blocking = false)
    }

    // corpus-audit shapes: q116 (shingle-df join) and q117 (one-pass
    // HLL registers) — both must scale as one bucketed shuffle of
    // (shingle)-keyed rows; HLL's register agg is 256 rows/source
    // whatever the corpus size
    def runAudit(tag: String, docs: DataFrame): Unit = {
      // both shapes via the SHIPPED projections (Pipeline.boilerplateOf
      // / hllRegistersOf — the Events.funnelDepth discipline): a later
      // q116/q117 change cannot leave this curve measuring a stale plan
      import graft.queries.Pipeline
      val t0 = System.nanoTime()
      val boiler = Pipeline.boilerplateOf(docs)
        .agg(sum(col("n_shared"))).collect()(0).getLong(0)
      release(spark)
      val t1 = System.nanoTime()
      val hll = Pipeline.hllRegistersOf(docs)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n"))).collect()(0).getLong(0)
      release(spark)
      val t2 = System.nanoTime()
      // q142: explode → 4096-bucket stats → join back on the bucket
      // key → per-doc agg; must scale as one token shuffle
      val dsir = Pipeline.dsirOf(docs)
        .agg(sum(col("score"))).collect()(0).getLong(0)
      release(spark)
      val t3 = System.nanoTime()
      // q145: 8 vocab-sized replay rounds + the word-keyed encode
      // join; replication grows the vocab N× (salted words), so this
      // measures the rounds' vocab-aggregate cost, not a fixed table
      val bpe = TextOps.bpeEncodedCounts(
          docs.withColumn("source", lit("all")), "text", "source", 8)
        .agg(sum(col("bpe_tokens"))).collect()(0).getLong(0)
      release(spark)
      val t4 = System.nanoTime()
      // q156: bigram stream → two ≤4096-row model aggregates → score
      // leg with broadcast joins → per-doc agg → top-20; must scale as
      // two bigram-stream scans (the model side is constant-bounded)
      val ppl = Pipeline.perplexityOf(docs)
        .agg(sum(col("n_bigrams"))).collect()(0).getLong(0)
      release(spark)
      val t5 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s boiler=${s(t0, t1)}s hll=${s(t1, t2)}s " +
        f"dsir=${s(t2, t3)}s bpeEnc=${s(t3, t4)}s ppl=${s(t4, t5)}s " +
        f"[sharedSum=$boiler regs=$hll top20=$dsir bpeToks=$bpe " +
        f"pplBigrams=$ppl]")
    }
    if (stages("audit")) {
      runAudit("warm", base.limit(500))
      runAudit("1x", base)
      runAudit(s"${mult}x", big)
    }

    // bottom-k sketch family (q121/q123): the build must scale as one
    // dedup shuffle + a bucket-pruned window (linear in rows), and the
    // PAIRWISE set-expression matrix must be FLAT in corpus size —
    // pair work runs on sketch rows, ≤ 64 per source however big the
    // corpus (the whole theta-sketch argument)
    def runSketch(tag: String, docs: DataFrame): Unit = {
      import graft.operators.OrderedScan
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val t0 = System.nanoTime()
      val sk = OrderedScan.bottomK(graft.queries.Pipeline.kmvHashes(docs),
          col("source"), col("h"), col("h"),
          expr(s"h div ${1L << 53}L"), k, "rk")
        .select(col("source"), col("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nsk = sk.count() // forces the build; sketch is summary-sized
      val t1 = System.nanoTime()
      // q123's pairwise half, measured ALONE on the persisted sketch
      val srcs = sk.select(col("source")).distinct()
      val pairs = srcs.as("pa").join(srcs.as("pb"),
          col("pa.source") < col("pb.source"))
        .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
      val merged = sk.join(pairs, col("source") === col("sa"))
        .select(col("sa"), col("sb"), col("h"),
          lit(1).as("ina"), lit(0).as("inb"))
        .union(sk.join(pairs, col("source") === col("sb"))
          .select(col("sa"), col("sb"), col("h"),
            lit(0).as("ina"), lit(1).as("inb")))
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
      val mw = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
      val npairs = merged.withColumn("rk", row_number().over(mw))
        .filter(col("rk") <= k)
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n"))
        .count()
      sk.unpersist(blocking = false)
      release(spark)
      val t2 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%7.2f"
      println(f"$tag%-4s kmvBuild=${s(t0, t1)}s pairMatrix=${s(t1, t2)}s " +
        f"[sketchRows=$nsk pairs=$npairs]")
    }
    if (stages("sketch")) {
      runSketch("warm", base.limit(500))
      runSketch("1x", base)
      runSketch(s"${mult}x", big)
    }
    spark.stop()
  }
}
