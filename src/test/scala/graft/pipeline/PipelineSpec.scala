package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pipeline-operator invariants that the DuckDB oracle can't express:
  * LSH band math, SimHash metric properties, ANN recall floors.
  * Driver-verified value correctness lives in queries/Pipeline.scala.
  */
class PipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables(spark, sf, "documents")
  private def emb = Tables(spark, sf, "embeddings")

  import spark.implicits._

  test("shingles: count, distinctness, guard on short docs") {
    val df = Seq("a b c d e", "x y", "").toDF("text")
      .select(TextOps.shingles(TextOps.words(col("text"))).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1) == Seq.empty) // shorter than n → empty, not garbage
  }

  test("incremental dedup: history hit dropped, batch collapses, novel kept") {
    val history = Seq((1L, "seen before"), (2L, "other doc")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "seen before"),   // exact history dup → dropped
      (11L, "fresh one"),     // novel, duplicated within batch
      (12L, "fresh one"),     //   → collapses to id 11, n_copies 2
      (13L, "unique new")     // novel singleton
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(history, incoming, "text", "doc_id")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.toSeq == Seq((11L, 2L), (13L, 1L)))
  }

  test("incremental dedup == one-shot dedup restricted to novel incoming (seeded random)") {
    // invariant: incrementalExact(h, i) keeps exactly the q21-canonical
    // incoming docs whose text has NO copy in history — i.e. run
    // exact() on the union, keep rows whose canonical lives in the
    // incoming side AND whose text never appears in history
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val texts = (0 until 12).map(i => s"text body $i")
      val rows = (0 until 120).map { i =>
        (i.toLong, texts(rnd.nextInt(texts.length)),
          rnd.nextInt(3) == 0) // ~1/3 incoming
      }
      val df = rows.toDF("doc_id", "text", "inc")
      val (h, i) = (df.filter(!col("inc")), df.filter(col("inc")))
      val got = Dedup.incrementalExact(h, i, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val histTexts = rows.filter(!_._3).map(_._2).toSet
      val expect = rows.filter(_._3).filterNot(r => histTexts(r._2))
        .groupBy(_._2).values
        .map(g => (g.map(_._1).min, g.size.toLong)).toSet
      assert(got == expect, s"trial $trial: $got != $expect")
      // the Bloom-accelerated path must be output-identical — false
      // positives scrubbed by the exact probe, false negatives
      // impossible. A deliberately tiny/high-fpp filter stresses the
      // positive path
      val bloom = Dedup.incrementalExactBloom(h, i, "text", "doc_id",
          expectedItems = 16L, fpp = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bloom == expect, s"trial $trial bloom: $bloom != $expect")
    }
  }

  test("minhash signature similarity estimates Jaccard") {
    // two strings sharing ~half their shingles
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val half = ((1 to 20).map(i => s"w$i") ++ (1 to 20).map(i => s"v$i")).mkString(" ")
    val df = Seq(base, half).toDF("text")
      .select(Dedup.minhashSignature(
        TextOps.shingles(TextOps.words(col("text")))).as("sig"))
    val Array(s1, s2) = df.collect().map(_.getSeq[Long](0))
    val agree = s1.zip(s2).count { case (a, b) => a == b }.toDouble / Dedup.K
    // true Jaccard of the shingle sets is 18/58 ≈ 0.31
    assert(agree > 0.15 && agree < 0.50, s"minhash agreement $agree")
  }

  test("band keys: identical signatures share all bands, disjoint share none") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = Seq(base, base, other).toDF("text")
      .select(Dedup.bandKeys(Dedup.minhashSignature(
        TextOps.shingles(TextOps.words(col("text"))))).as("bands"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0) == rows(1))
    assert(rows(0).intersect(rows(2)).isEmpty)
  }

  test("minhash near-dups: perfect recall vs exact all-pairs at tau=0.5") {
    // exact all-pairs truth on the small SF
    val sh = docs.select(col("doc_id"),
        TextOps.shingles(TextOps.words(col("text"))).as("sh"))
    val truth = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh")))).as("j"))
      .filter(col("j") >= 0.5)
      .select("a", "b")
    val found = Dedup.minhashNearDups(docs, "text", "doc_id", 0.5)
      .select("a", "b")
    assert(truth.exceptAll(found).isEmpty, "LSH missed a true near-dup pair")
    assert(found.exceptAll(truth).isEmpty, "verification let a false pair through")
  }

  test("sliding chunks: coverage, overlap, tails; kernel bit-identical to spec") {
    // hand-checked shape: 7 words, w=3, s=2 → starts 0,2,4,6; last
    // chunks run short instead of dropping words
    val rows = Seq("a b c d e f g").toDF("text")
      .select(TextOps.slidingChunks(TextOps.words(col("text")), 3, 2).as("ch"))
      .collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "c d e", "e f g", "g"))
    // every word position is covered by at least one chunk, and the
    // kernel matches the Column spec exactly (order + tails) on the
    // corpus and the edge rows (empty doc, len < w, len == w)
    val edge = Seq("", "a", "a b", "a b c", "a b c d e").toDF("text")
    Seq(docs.limit(100), edge).foreach { d =>
      d.select(
          TextOps.slidingChunks(TextOps.words(col("text")), 8, 5).as("ref"),
          TextOps.slidingChunksKernel(8, 5)(TextOps.words(col("text")))
            .as("fast"))
        .collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          "sliding-chunk kernel diverges"))
    }
    // reconstruction: with s <= w, stitching each chunk's first s
    // words (plus the last chunk's remainder) rebuilds the document
    val doc = (1 to 23).map(i => s"t$i").mkString(" ")
    val chunks = Seq(doc).toDF("text")
      .select(TextOps.slidingChunksKernel(8, 5)(TextOps.words(col("text")))
        .as("ch")).collect()(0).getSeq[String](0)
    val rebuilt = (chunks.init.map(_.split(" ").take(5).mkString(" ")) :+
      chunks.last).mkString(" ")
    assert(rebuilt == doc, "sliding chunks lost or duplicated words")
  }

  test("blocklist scrub: counts and redaction match the word-level spec") {
    val terms = Seq("customer", "vector", "merge")
    val naiveHits = udf { (s: String) =>
      s.split(" ").count(terms.contains(_)) }
    val naiveScrub = udf { (s: String) =>
      s.split(" ").map(w => if (terms.contains(w)) "[X]" else w)
        .mkString(" ") }
    // corpus words are space-separated, so the regex \b scrub must
    // agree exactly with the word-split spec
    val d = docs.limit(200).select(col("text"),
      TextOps.scrubHits(col("text"), terms).as("hits"),
      naiveHits(col("text")).as("hits_spec"),
      TextOps.scrubText(col("text"), terms, "[X]").as("scrubbed"),
      naiveScrub(col("text")).as("scrubbed_spec"))
    d.collect().foreach { r =>
      assert(r.getAs[Int]("hits") == r.getAs[Int]("hits_spec"),
        "scrub hit count diverges from word-level spec")
      assert(r.getAs[String]("scrubbed") == r.getAs[String]("scrubbed_spec"),
        "scrubbed text diverges from word-level spec")
    }
    // substrings must NOT match: "customers" is not "customer"
    val sub = Seq("customers merge mergers vectorize vector").toDF("text")
      .select(TextOps.scrubHits(col("text"), terms).as("h"))
      .collect()(0).getInt(0)
    assert(sub == 2, s"whole-word boundary violated: $sub hits, want 2")
  }

  test("knn classify: majority wins, ties break to the nearer neighbor") {
    // 2-d unit vectors: queries at 0° pick among corpus at ±small
    // angles. q1 (id 0): three label-1 neighbors beat two closer
    // label-2s. q2 (id 100): 2-2 vote tie between labels 1 and 2 →
    // label 2 holds the single nearest neighbor and must win.
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val corpus = Seq(
      (1L, 1, v(8)), (2L, 1, v(9)), (3L, 1, v(10)),
      (4L, 2, v(1)), (5L, 2, v(2)),
      (11L, 1, v(30)), (12L, 1, v(31)),
      (13L, 2, v(29)), (14L, 2, v(32)),
      (15L, 3, v(80))
    ).toDF("vec_id", "label", "embedding")
    val queries = Seq(
      (0L, 0, v(5)),    // k=5 votes: labels {2,2,1,1,1} → 1 by majority
      (100L, 0, v(29.4))// k=4 → {2(rank1),1,1,2} tie → 2 (best_rank 1)
    ).toDF("vec_id", "label", "embedding")
    val got5 = Similarity.knnClassify(
        corpus.filter(col("vec_id") < 10), queries.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got5 == Seq((0L, 1, 3L)), s"majority vote wrong: ${got5.toList}")
    val got4 = Similarity.knnClassify(
        corpus.filter(col("vec_id") >= 10), queries.filter(col("vec_id") === 100L),
        "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got4 == Seq((100L, 2, 2L)), s"tie-break wrong: ${got4.toList}")
  }

  test("lloydCentroids matches an independent in-memory Lloyd exactly") {
    // the shared training core now backs q38/q84/q85/q99 — guard the
    // fixed-point spec (floor((v-c)^2*1e12) argmin, ties to smaller
    // cluster id; update = sum(floor(v*1e6)) / (n*1e6), empty clusters
    // drop) against a straightforward reimplementation on random data
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val (n, dim, k, rounds) = (40, 6, 5, 3)
    val data = (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(math.rint(rnd.nextDouble() * 2000 - 1000) / 1000)))
    val got = Similarity.lloydCentroids(data.toDF("id", "vd"), k, rounds)

    def distFp(v: Seq[Double], c: Array[Double]): Long =
      (0 until math.min(v.length, c.length)).map { i =>
        val e = v(i) - c(i); math.floor(e * e * 1e12).toLong
      }.sum
    var cents: Seq[(Long, Array[Double])] =
      data.sortBy(_._1).take(k).map { case (id, v) => (id, v.toArray) }
    for (_ <- 1 to rounds) {
      cents = data
        .map { case (_, v) =>
          (cents.minBy { case (cid, c) => (distFp(v, c), cid) }._1, v) }
        .groupBy(_._1).toSeq
        .map { case (cid, vs) =>
          cid -> (0 until dim).map { p =>
            vs.map(x => math.floor(x._2(p) * 1e6).toLong).sum.toDouble /
              (vs.size * 1e6)
          }.toArray
        }
        .sortBy(_._1)
    }
    assert(got.map(_._1).toSeq == cents.map(_._1),
      "cluster ids / survivors differ")
    got.zip(cents).foreach { case ((gid, gc), (eid, ec)) =>
      assert(gid == eid && gc.sameElements(ec),
        s"centroid $gid differs: ${gc.toList} vs ${ec.toList}")
    }
  }

  test("PQ codebooks match independent in-memory per-subspace Lloyd exactly") {
    // trainBooks trains the m subspace books jointly in one pass per
    // round; each book must equal a plain Lloyd run on that subspace
    // (init = the k smallest ids' slices, first-wins argmin over the
    // cid-sorted book, sub-wide centroids of sum(floor(x*1e6))/(n*1e6))
    val rnd = new scala.util.Random(977)
    val (n, m, sub, k, rounds) = (60, 3, 4, 6, 3)
    val data = (0 until n).map(i =>
      (i.toLong, Seq.fill(m * sub)(math.rint(rnd.nextDouble() * 2000 - 1000) / 1000)))
    val got = Similarity.trainBooks(data.toDF("id", "vd"), k, rounds, m,
      Some(sub))

    def distFp(v: Seq[Double], c: Array[Double]): Long =
      (0 until math.min(v.length, c.length)).map { i =>
        val e = v(i) - c(i); math.floor(e * e * 1e12).toLong
      }.sum
    val init = data.sortBy(_._1).take(k)
    for (s <- 0 until m) {
      val vs = data.map { case (id, v) => (id, v.slice(s * sub, (s + 1) * sub)) }
      var book: Seq[(Long, Array[Double])] = init.map { case (id, v) =>
        (id, v.slice(s * sub, (s + 1) * sub).toArray) }
      for (_ <- 1 to rounds) {
        book = vs
          .map { case (_, v) =>
            (book.zipWithIndex.minBy { case ((_, c), j) => (distFp(v, c), j) }
              ._1._1, v) }
          .groupBy(_._1).toSeq
          .map { case (cid, xs) =>
            cid -> Array.tabulate(sub) { p =>
              xs.map(x => math.floor(x._2(p) * 1e6).toLong).sum.toDouble /
                (xs.size * 1e6)
            }
          }
          .sortBy(_._1)
      }
      assert(got(s).map(_._1).toSeq == book.map(_._1),
        s"subspace $s cluster ids differ")
      got(s).zip(book).foreach { case ((gid, gc), (_, ec)) =>
        assert(gc.sameElements(ec),
          s"subspace $s centroid $gid differs: ${gc.toList} vs ${ec.toList}")
      }
    }
  }

  test("Lloyd training keeps the caller's session and leaves its conf as it was") {
    val before = spark.conf.getAll
    val v = Similarity.vectors(emb, "vec_id", "embedding")
    assert(Similarity.lloydCentroids(v, 4, 2).nonEmpty)
    val asg = Similarity.deterministicKMeans(emb, "vec_id", "embedding", 4, 2)
    assert(asg.sparkSession eq spark)
    assert(asg.count() > 0)
    assert(spark.conf.getAll == before)
    Similarity.releaseResult()
  }

  test("k-means and PQ projections go with the end-of-query release") {
    Similarity.releaseResult()
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet.filterNot(before)
    Similarity.deterministicKMeans(emb, "vec_id", "embedding", 4, 2)
      .collect()
    Similarity.pqAdcTopK(emb, "vec_id", "embedding", _ < 5,
      topK = 3, m = 8, k = 8, rounds = 1).collect()
    assert(added.nonEmpty)
    Similarity.releaseResult()
    assert(added.isEmpty)
  }

  test("edit near-dup: anchor pigeonhole equals brute force; crafted edits found") {
    import spark.implicits._
    val (k, q) = (10, 16)
    val minLen = (k + 1) * q + k
    // completeness on the real fixture: the bucketed candidate plan
    // must reproduce EXACT banded brute force (every pair + distance)
    val got = Dedup.editNearDups(docs, "text", "doc_id", k = k, q = q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val d = docs.select(col("doc_id").cast("long").as("id"), col("text"))
      .filter(length(col("text")) >= minLen)
    val truth = d.toDF("a", "ta")
      .crossJoin(d.toDF("b", "tb")).filter(col("a") < col("b"))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= k)
      .select(col("a"), col("b"), levenshtein(col("ta"), col("tb")).as("ed"))
      .filter(col("ed") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == truth,
      s"pigeonhole candidates diverged from brute force: " +
        s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
    // crafted revisions: substitution, insertion, deletion — all
    // within k of the original, plus one far-away doc
    val base = ("w" * 50) + " the quick brown fox jumps over the lazy dog " +
      ("x" * 120)
    val crafted = Seq(
      (1L, base),
      (2L, base.replace("quick", "quack")),            // 1 substitution
      (3L, base.replace("fox", "foxes")),              // 2 insertions
      (4L, base.replace(" lazy", "")),                 // 5 deletions
      (5L, ("z" * 50) + " a completely different sentence here now " +
        ("y" * 120)))
      .toDF("doc_id", "text")
    val pairs = Dedup.editNearDups(crafted, "text", "doc_id", k = k, q = q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 2L), (1L, 3L), (1L, 4L)).subsetOf(pairs),
      s"crafted near-revisions missed: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      s"far doc should not pair: $pairs")
  }

  test("incremental edit near-dup == full run restricted to batch-touching pairs") {
    import spark.implicits._
    val history = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val inc = Dedup.incrementalEditNearDups(history, batch,
        "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Dedup.editNearDups(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = full.filter { case (a, b, _) => a % 7 == 0 || b % 7 == 0 }
    assert(inc == expected,
      s"incremental diverged: missing=${(expected -- inc).take(5)} " +
        s"extra=${(inc -- expected).take(5)}")
    // history-internal pairs must be absent, and the fixture must
    // actually exercise the suppression
    assert(full.exists { case (a, b, _) => a % 7 != 0 && b % 7 != 0 },
      "fixture has no history-internal pair to suppress")
  }

  test("pii patterns: per-class hits, disjoint matches, redaction removes all") {
    import spark.implicits._
    val samples = Seq(
      ("reach me at jo.doe+x@sub.example.org or 555-867-5309 now", 1, 1, 0, 0),
      ("host 192.168.001.12 ref 123-45-6789 end", 0, 0, 1, 1),
      ("a@b.co c@d.io 10.0.0.1 10.0.0.2 nothing else", 2, 0, 2, 0),
      ("no pii here at all 1234 5678", 0, 0, 0, 0))
      .toDF("t", "email", "phone", "ipv4", "id")
    val got = samples.select(
      TextOps.piiHits(col("t"), "email").as("ge"),
      TextOps.piiHits(col("t"), "phone").as("gp"),
      TextOps.piiHits(col("t"), "ipv4").as("gi"),
      TextOps.piiHits(col("t"), "id").as("gd"),
      col("email"), col("phone"), col("ipv4"), col("id"),
      TextOps.piiRedact(col("t")).as("red")).collect()
    got.foreach { r =>
      assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ==
        (r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)),
        s"hit counts wrong for redaction input: $r")
    }
    // redacted text must contain zero residual matches of ANY class —
    // the disjointness + completeness property the chained replace
    // relies on
    val residual = samples.select(TextOps.piiRedact(col("t")).as("red"))
      .select(TextOps.PiiPatterns.map { case (n, _) =>
        TextOps.piiHits(col("red"), n).as(n) }: _*)
      .collect()
    residual.foreach(r => assert((0 until 4).forall(r.getInt(_) == 0),
      s"residual PII after redaction: $r"))
  }

  test("pq adc top-k: structure, code-metric consistency, recall floor") {
    import spark.implicits._
    val got = Similarity.pqAdcTopK(emb, "vec_id", "embedding", _ < 20,
      topK = 5, m = 8, k = 16, rounds = 2)
    val rows = got.collect()
    // every query gets exactly topK ranks 1..5, self never appears,
    // adc_fp is a non-negative integer non-decreasing in rank
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5),
        s"query $qid ranks: ${rs.map(_.getInt(1)).toList}")
      assert(rs.forall(_.getLong(2) != qid), s"query $qid ranked itself")
      val byRank = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRank.forall(_ >= 0L))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"query $qid adc_fp not monotone in rank: ${byRank.toList}")
    }
    // determinism: a fresh training + encode + rank run is bit-equal
    val again = Similarity.pqAdcTopK(emb, "vec_id", "embedding", _ < 20,
      topK = 5, m = 8, k = 16, rounds = 2)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty,
      "pqAdcTopK is not deterministic across runs")
    // quality floor vs the EXACT ranking under the same fixed-point
    // L2 metric (what ADC approximates): near-orthogonal random
    // embeddings at 32-bit codes sit ~0.2; floor leaves margin
    def distFp(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) =>
        val e = x - y; math.floor(e * e * 1e12).toLong
      }.sum
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val queries = vecs.filter(_._1 < 20)
    val exact = queries.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, distFp(qv, nv)) }
        .sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val found = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & found).size.toDouble / exact.size
    assert(recall >= 0.10, s"PQ-ADC recall@5 $recall below floor")
  }

  test("ivf-pq top-k: pruned ADC keeps structure, determinism, recall floor") {
    import spark.implicits._
    val got = Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20,
      topK = 5, nlist = 16, nprobe = 4, m = 8, k = 16, rounds = 2)
    val rows = got.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rs) =>
      // probed cells may hold fewer than topK candidates — ranks must
      // still be contiguous from 1 and adc_fp monotone
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"query $qid ranks: $ranks")
      assert(rs.forall(_.getLong(2) != qid), s"query $qid ranked itself")
      val byRank = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"query $qid adc_fp not monotone: ${byRank.toList}")
    }
    val again = Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20,
      topK = 5, nlist = 16, nprobe = 4, m = 8, k = 16, rounds = 2)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty,
      "ivfPqTopK is not deterministic across runs")
    // recall vs exact fixed-point L2: the pruned+quantized path sits
    // ~0.2-0.3 on near-orthogonal random data (sf0.01/sf0.1 measured
    // 0.31/0.23); floor leaves margin
    def distFp(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) =>
        val e = x - y; math.floor(e * e * 1e12).toLong
      }.sum
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val exact = vecs.filter(_._1 < 20).flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, distFp(qv, nv)) }
        .sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val found = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & found).size.toDouble / exact.size
    assert(recall >= 0.10, s"IVF-PQ recall@5 $recall below floor")
  }

  test("semDeDupK: floor for fixtures, linear region, driver-state cap") {
    assert(Similarity.semDeDupK(0) == 8)
    assert(Similarity.semDeDupK(1000) == 8)     // floor
    assert(Similarity.semDeDupK(2000) == 16)    // sf0.1: derivation live
    assert(Similarity.semDeDupK(1280000) == 10000) // linear: ceil(n/128)
    assert(Similarity.semDeDupK(128L * 65536) == 65536) // at the cap
    assert(Similarity.semDeDupK(100_000_000_000L) == 65536) // capped
  }

  test("q30's plane SQL literals survive the print->parse round-trip") {
    // the q30 oracle's soundness rests on every hyperplane component
    // rendering to a 6-decimal literal that parses back to the
    // IDENTICAL double in any engine: re-printing the parsed value
    // must reproduce the literal exactly, for all 8x64 components
    val tuples = Similarity.planesSqlValues()
      .split("\\),\\(").map(_.stripPrefix("(").stripSuffix(")"))
    assert(tuples.length == 8 * 64)
    tuples.foreach { t =>
      val w = t.split(",")(2)
      val back = String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(w.toDouble))
      assert(back == w, s"literal $w reparses to $back")
    }
  }

  test("ann/ivf chunked broadcast (maxBroadcastRows) is output-invariant") {
    // forcing many tiny chunks must reproduce the single-broadcast
    // answer row-for-row — per-qid windows never cross chunks
    val one = Similarity.annTopK(emb, "vec_id", "embedding", _ < 20, 5)
    val many = Similarity.annTopK(emb, "vec_id", "embedding", _ < 20, 5,
      maxBroadcastRows = 3L)
    assert(one.exceptAll(many).isEmpty && many.exceptAll(one).isEmpty,
      "annTopK differs under chunking")
    val oneIvf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5)
    val manyIvf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      maxBroadcastRows = 3L)
    assert(oneIvf.exceptAll(manyIvf).isEmpty &&
      manyIvf.exceptAll(oneIvf).isEmpty,
      "ivfTopK differs under chunking")
  }

  test("knn chunk split spreads arithmetic-progression query ids") {
    // the q94/Stress query sets are residue classes (vec_id % m == 0);
    // a raw pmod(qid, chunks) split collapses them into one chunk
    // (the unbounded broadcast returns) — the hash split must spread
    // them across every chunk
    import spark.implicits._
    val ids = (0L until 10000L by 5L).toDF("qid") // all multiples of 5
    val spread = ids
      .select(Similarity.chunkOf(col("qid"), 5).as("c"))
      .groupBy(col("c")).count().collect()
    assert(spread.length == 5, s"only ${spread.length}/5 chunks populated")
    val counts = spread.map(_.getLong(1))
    assert(counts.min > 200, s"badly skewed chunk split: ${counts.toList}")
  }

  test("knn classify: chunked broadcast (maxBroadcastRows) is output-invariant") {
    // the broadcast-budget contract: forcing many tiny chunks must
    // reproduce the single-broadcast answer row-for-row, because the
    // per-qid windows/votes never cross chunks
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") % 7 === 0)
    def run(budget: Long) = Similarity.knnClassify(
        emb, queries, "vec_id", "embedding", "label", k = 5,
        maxBroadcastRows = budget)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    val one = run(Long.MaxValue) // single broadcast
    val many = run(16L)          // ⌈n/16⌉ chunks
    assert(one.nonEmpty && one == many,
      s"chunked knn diverged: ${one.take(3)} vs ${many.take(3)}")
  }

  test("shuffle-shard: a permutation — every doc in exactly one shard, sizes exact") {
    val perShard = 64
    val d = graft.operators.FanOut(docs)
      .select(col("doc_id"),
        md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("h"))
    val ranked = graft.operators.OrderedScan.runningTotal(d,
        key = lit(1), ord = Seq(col("h"), col("doc_id")), value = lit(1L),
        bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
        as = "rk")
      .withColumn("shard",
        floor((col("rk") - 1).cast("double") / perShard).cast("long"))
    val n = docs.count()
    // ranks are exactly 1..n (a permutation), so shards partition the
    // corpus: all full except possibly the last
    assert(ranked.select("rk").distinct().count() == n)
    assert(ranked.agg(min("rk"), max("rk")).collect()(0).toSeq ==
      Seq(1L, n))
    val sizes = ranked.groupBy("shard").count()
      .orderBy("shard").collect().map(_.getLong(1))
    assert(sizes.init.forall(_ == perShard),
      s"non-final shard not full: ${sizes.toList}")
    assert(sizes.last == (if (n % perShard == 0) perShard else n % perShard))
    // determinism: same seed → same assignment on re-run
    val again = graft.operators.OrderedScan.runningTotal(d,
        key = lit(1), ord = Seq(col("h"), col("doc_id")), value = lit(1L),
        bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
        as = "rk")
    assert(ranked.select("doc_id", "rk").exceptAll(
      again.select("doc_id", "rk")).isEmpty)
  }

  test("int8 quantization: kernel bit-identical to spec; codes never clip") {
    // corpus vectors + edges: zero vector (zero error by definition),
    // single-component, sign-asymmetric
    val edge = Seq(
      Seq(0.0, 0.0, 0.0), Seq(1.0), Seq(-0.5, 0.25, 0.125)
    ).toDF("v").select(col("v").cast("array<double>").as("v"))
    val corp = emb.select(col("embedding").cast("array<double>").as("v"))
    Seq(corp, edge).foreach { d =>
      d.select(Similarity.quantStats(col("v")).as("ref"),
          Similarity.quantStatsKernel(col("v")).as("fast"))
        .collect().foreach { r =>
          val (a, b) = (r.getStruct(0), r.getStruct(1))
          assert(a.getLong(0) == b.getLong(0), "fixed-point error sum diverges")
          assert(a.getInt(1) == b.getInt(1), "dim diverges")
          assert(a.getLong(2) == b.getLong(2), "max |code| diverges")
        }
    }
    // codes stay inside int8: [-128, 127] (the negative extreme may
    // floor to -128 when 127/mx rounds up — still representable)
    val maxq = corp.select(Similarity.quantStatsKernel(col("v")).as("s"))
      .agg(max(col("s._3"))).collect()(0).getLong(0)
    assert(maxq <= 128L, s"quantized code escaped int8: $maxq")
    // error bound: e <= 1/scale = mx/127 per dim; for unit-norm rows
    // mse must come out tiny but nonzero
    val zeroErr = Seq(Seq(0.0, 0.0)).toDF("v")
      .select(Similarity.quantStatsKernel(col("v").cast("array<double>")).as("s"))
      .collect()(0).getStruct(0)
    assert(zeroErr.getLong(0) == 0L && zeroErr.getLong(2) == 0L)
  }

  test("deterministic k-means: partitions the input, reruns bit-identical, argmin holds") {
    val asg = Similarity.deterministicKMeans(emb, "vec_id", "embedding",
      k = 4, rounds = 2)
    val rows = asg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every vector appears exactly once; clusters are among the init ids
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length == emb.count())
    assert(rows.map(_._2).distinct.forall(_ < 4))
    // rerun → identical assignment (the whole point of the fixed-point
    // discipline)
    val again = Similarity.deterministicKMeans(emb, "vec_id", "embedding",
      k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // more rounds never increase the total assigned distance (Lloyd
    // monotonicity, in exact integer arithmetic)
    val d2 = rows.map(_._3).sum
    val d3 = Similarity.deterministicKMeans(emb, "vec_id", "embedding",
      k = 4, rounds = 3)
      .collect().map(_.getLong(2)).sum
    assert(d3 <= d2, s"assigned distance rose with a round: $d2 -> $d3")
  }

  test("tf-idf linear-idf: hand-computed toy corpus") {
    // 4 docs, 2 sources. "rare" occurs twice but only in doc 1 (df=1);
    // "common" is everywhere (df=4); "x" is in both s2 docs (df=2):
    // score(rare@s1) = 2*4/1 = 8 > x@s2 = 2*4/2 = 4 > common = 2*4/4 = 2
    val d = Seq(
      (1L, "s1", "rare rare common"), (2L, "s1", "common y"),
      (3L, "s2", "common x"), (4L, "s2", "common x")
    ).toDF("doc_id", "source", "text")
    val tok = d.select(col("source"), col("doc_id"),
      explode(TextOps.words(col("text"))).as("word"))
    val tf = tok.groupBy("source", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "word")
      .withColumn("score", col("tf").cast("double") * 4.0 / col("df").cast("double"))
      .collect().map(r => ((r.getAs[String]("source"), r.getAs[String]("word")),
        r.getAs[Double]("score"))).toMap
    assert(scored(("s1", "rare")) == 8.0)
    assert(scored(("s1", "common")) == 2.0)
    assert(scored(("s2", "x")) == 4.0)
  }

  test("kernels are bit-identical to their Column-expression specs") {
    // shingles: kernel vs Column form, including distinct order
    val shc = docs.limit(100).select(
        TextOps.shingles(TextOps.words(col("text"))).as("ref"),
        TextOps.shinglesKernel()(TextOps.words(col("text"))).as("fast"))
      .collect()
    shc.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      "shingle kernel diverges"))
    // chunks: kernel vs Column form — order, multiplicity, and the
    // short-doc / dropped-tail edges (synthetic rows cover len < w,
    // len % w ∈ {0, 1, 2})
    import spark.implicits._
    val edge = Seq("a b", "a b c", "a b c d", "a b c d e f g",
      "x x x x x x").toDF("text")
    Seq(docs.limit(100), edge).foreach { d =>
      d.select(TextOps.chunks(TextOps.words(col("text")), 3).as("ref"),
          TextOps.chunksKernel(3)(TextOps.words(col("text"))).as("fast"))
        .collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          "chunks kernel diverges"))
    }
    // MinHash band keys: Column spec vs UDF kernel vs native Expression
    graft.functions.GraftFunctions.register(spark)
    val sh = docs.limit(100).select(col("doc_id"),
        TextOps.shingles(TextOps.words(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    val bands = sh.select(col("doc_id"),
        Dedup.bandKeys(Dedup.minhashSignature(col("sh"))).as("ref"),
        Dedup.minhashBandKeysKernel(col("sh")).as("fast"),
        call_function("graft_minhash_bands", col("sh")).as("native"))
      .collect()
    assert(bands.nonEmpty)
    bands.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"minhash kernel diverges for doc ${r.getLong(0)}")
      assert(r.getSeq[Long](1) == r.getSeq[Long](3),
        s"native minhash diverges for doc ${r.getLong(0)}")
    }
    // SimHash: kernel vs simhash(...) (includes the empty-token edge)
    val sims = docs.limit(100).select(col("doc_id"),
        Dedup.simhash(TextOps.words(col("text"))).as("ref"),
        Dedup.simhashKernel(TextOps.words(col("text"))).as("fast"))
      .collect()
    sims.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"simhash kernel diverges for doc ${r.getLong(0)}"))
    // dot (HOF spec vs UDF kernel vs native codegen Expression) +
    // lshBucket on real embeddings
    graft.functions.GraftFunctions.register(spark)
    val pairs = emb.limit(50).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        Similarity.dot(col("v"), col("v")).as("dref"),
        Similarity.dotKernel(col("v"), col("v")).as("dfast"),
        call_function("graft_dot", col("v"), col("v")).as("dnative"),
        Similarity.lshBucket(col("v")).as("bref"),
        Similarity.lshBucketKernel(col("v")).as("bfast"))
      .collect()
    pairs.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"dot kernel diverges: ${r}")
      assert(r.getDouble(1) == r.getDouble(3), s"native dot diverges: ${r}")
      assert(r.getLong(4) == r.getLong(5), s"lsh bucket kernel diverges: ${r}")
    }
  }

  test("kernels match Column specs on adversarial random tokens (property)") {
    val rnd = new scala.util.Random(7)
    def tok(): String = {
      val alphabet = "ab é中😀xyz01"
      (0 until 1 + rnd.nextInt(8)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val docs = (0 until 60).map(_ =>
      (0 until 3 + rnd.nextInt(40)).map(_ => tok()).mkString(" "))
    import spark.implicits._
    val df = docs.toDF("text")
    val sh = df.select(TextOps.shingles(TextOps.words(col("text"))).as("ref"),
        TextOps.shinglesKernel()(TextOps.words(col("text"))).as("fast"))
      .collect()
    sh.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val nonEmpty = df
      .select(TextOps.shinglesKernel()(TextOps.words(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    val bands = nonEmpty.select(
        Dedup.bandKeys(Dedup.minhashSignature(col("sh"))).as("ref"),
        Dedup.minhashBandKeysKernel(col("sh")).as("fast"))
      .collect()
    bands.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val sims = df.select(Dedup.simhash(TextOps.words(col("text"))).as("ref"),
        Dedup.simhashKernel(TextOps.words(col("text"))).as("fast"))
      .collect()
    sims.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // sliding chunks under the same adversarial tokens (multi-byte
    // codepoints, digits, emoji) — stride > 1 and stride == window
    Seq((5, 3), (4, 4), (3, 1)).foreach { case (w, s) =>
      df.select(TextOps.slidingChunks(TextOps.words(col("text")), w, s).as("ref"),
          TextOps.slidingChunksKernel(w, s)(TextOps.words(col("text"))).as("fast"))
        .collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"sliding kernel diverges at w=$w s=$s"))
    }
  }

  test("dot: ragged or null inputs yield NULL in all three forms") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0))),          // ragged
      (Some(Seq(1.0, 2.0)), None),                    // null side
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))))     // equal → 11.0
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("ref"),
        Similarity.dotKernel(col("a"), col("b")).as("fast"),
        call_function("graft_dot", col("a"), col("b")).as("native"),
        Similarity.lshBucketKernel(col("b")).as("bucket"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1) && df(0).isNullAt(2),
      "ragged dot must be NULL, not a partial sum")
    assert(df(1).isNullAt(0) && df(1).isNullAt(1) && df(1).isNullAt(2))
    assert(df(1).isNullAt(3), "lsh bucket of a null vector must be NULL")
    assert(df(2).getDouble(0) == 11.0 && df(2).getDouble(1) == 11.0 &&
      df(2).getDouble(2) == 11.0)
  }

  test("simhash: identical → distance 0; token tweak stays close; disjoint far") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val tweaked = ((1 to 57).map(i => s"w$i") ++ Seq("q1", "q2", "q3")).mkString(" ")
    val other = (1 to 60).map(i => s"z$i").mkString(" ")
    val hs = Seq(base, base, tweaked, other).toDF("text")
      .select(Dedup.simhash(TextOps.words(col("text"))).as("h"))
      .collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) == 0)
    assert(ham(hs(0), hs(2)) < ham(hs(0), hs(3)),
      s"tweak ${ham(hs(0), hs(2))} !< disjoint ${ham(hs(0), hs(3))}")
  }

  test("ngram-jaccard prefix filter: complete AND precise vs exact all-pairs") {
    val sh = docs.select(col("doc_id"),
        TextOps.shinglesKernel(2)(TextOps.words(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    val truth = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        Dedup.jaccardKernel(col("x.sh"), col("y.sh")).as("j"))
      .filter(col("j") >= 0.6)
      .select("a", "b")
    val found = Dedup.ngramJaccardNearDups(docs, "text", "doc_id", 0.6, n = 2)
      .select("a", "b")
    assert(truth.exceptAll(found).isEmpty,
      "prefix filter missed a true pair — violates the completeness theorem")
    assert(found.exceptAll(truth).isEmpty,
      "verification let a false pair through")
  }

  test("containmentKernel: empty first argument yields 0.0, never NaN " +
      "(the kernel is a public val usable outside containmentPairs)") {
    import spark.implicits._
    val got = Seq((Seq.empty[String], Seq("a", "b")),
        (Seq("a"), Seq.empty[String]), (Seq("a", "b"), Seq("a")))
      .toDF("a", "b")
      .select(Dedup.containmentKernel(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.0, 0.0, 0.5), s"kernel edge cases wrong: $got")
  }

  test("containment prefix filter: complete AND precise vs directed all-pairs") {
    val sh = docs.select(col("doc_id"),
        TextOps.shinglesKernel(2)(TextOps.words(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    // directed truth: every ordered pair (a != b), C(a→b) = |A∩B|/|A|
    val truth = sh.as("x").join(sh.as("y"), col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        Dedup.containmentKernel(col("x.sh"), col("y.sh")).as("c"))
      .filter(col("c") >= 0.7)
      .select("a", "b")
    val found = Dedup.containmentPairs(docs, "text", "doc_id", 0.7, n = 2)
      .select("a", "b")
    assert(truth.exceptAll(found).isEmpty,
      "containment prefix filter missed a true directed pair")
    assert(found.exceptAll(truth).isEmpty,
      "containment verification let a false pair through")
  }

  test("dictionary gate: an over-gate dictionary takes the distributed " +
      "shape with identical output (q37 + q166 kernels)") {
    // VERDICT r17 #1: the broadcast-dict collect must be SELF-gating
    // on the measured dictionary size — force the gate to 1 entry so
    // the small fixture overflows it, and pin output equality against
    // the default broadcast path for both prefix-filter consumers
    val key = "graft.dict.max.entries"
    assert(Dedup.maxDictEntries > 1L)
    val jaccB = Dedup.ngramJaccardNearDups(docs, "text", "doc_id", 0.6, n = 2)
      .select("a", "b").collect().toSet
    val contB = Dedup.containmentPairs(docs, "text", "doc_id", 0.7, n = 2)
      .select("a", "b").collect().toSet
    sys.props(key) = "1"
    try {
      assert(Dedup.maxDictEntries == 1L)
      val jaccD = Dedup.ngramJaccardNearDups(docs, "text", "doc_id", 0.6,
        n = 2).select("a", "b").collect().toSet
      val contD = Dedup.containmentPairs(docs, "text", "doc_id", 0.7,
        n = 2).select("a", "b").collect().toSet
      assert(jaccD == jaccB, "gated distributed path changed q37 output")
      assert(contD == contB, "gated distributed path changed q166 output")
    } finally sys.props.remove(key)
  }

  test("ivf top-k: recall@5 >= 0.30 vs brute force; probes nprobe/nlist of corpus") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("query_id", "neighbor_id")
    val recall = bf.intersect(ivf).count().toDouble / bf.count()
    // near-orthogonal random embeddings are the worst case for any
    // partitioned index; 4/16 cells probed ⇒ ~25% of the corpus seen
    assert(recall >= 0.30, s"IVF recall@5 $recall below floor")
  }

  test("incremental ivf: history-trained index over the merged corpus " +
      "holds the recall floor and sees batch rows") {
    val history = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val inc = Similarity.ivfAppendTopK(history, batch,
      "vec_id", "embedding", _ < 30, 5)
    val got = inc.select("query_id", "neighbor_id")
    // brute force over the SAME merged corpus and query set
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      id => id % 3 === 0 && id < 30, 5)
      .select("query_id", "neighbor_id")
    val recall = bf.intersect(got).count().toDouble / bf.count()
    assert(recall >= 0.30, s"incremental IVF recall@5 $recall below floor")
    // the merged index must actually surface BATCH members as
    // neighbors (the index didn't silently search history only)
    assert(inc.filter(col("neighbor_id") % 3 === 0).count() > 0)
    // and every query got a full top-5
    assert(inc.groupBy(col("query_id")).count()
      .filter(col("count") =!= 5).count() == 0)
  }

  test("ann top-k: recall@5 >= 0.45 vs brute force") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("query_id", "neighbor_id")
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("query_id", "neighbor_id")
    val recall = bf.intersect(ann).count().toDouble / bf.count()
    assert(recall >= 0.45, s"ANN recall@5 $recall below floor")
  }

  test("ann probes a strict subset of buckets") {
    val masks = (0 until (1 << Similarity.HyperBits)).count(m =>
      java.lang.Integer.bitCount(m) <= Similarity.ProbeFlips)
    assert(masks < (1 << Similarity.HyperBits) / 2,
      "multiprobe must scan fewer than half the buckets or it's a scan")
  }

  test("multimodal resize bounds payloads; frame-sample covers and reassembles") {
    val media = Multimodal.asMedia(docs.limit(50), "doc_id", "text",
      modality = "text", format = "utf8")
    // resize: every payload lands at or under target, media schema out
    val resized = Multimodal.resize(media, targetBytes = 64)
    assert(resized.schema == Multimodal.mediaSchema)
    val sizes = resized.select(length(col("bytes")).cast("int"),
      col("meta.n_bytes")).collect()
    sizes.foreach { r =>
      assert(r.getInt(0) <= 64, "resize exceeded target")
      assert(r.getInt(0) == r.getInt(1), "meta out of sync with bytes")
    }
    // frame-sample with everyN=1: frames reassemble the original bytes
    val frames = Multimodal.frameSample(media, frameSize = 32, everyN = 1)
    val rebuilt = frames.orderBy(col("media_id"), col("frame_idx"))
      .groupBy(col("media_id"))
      .agg(sum(col("n_bytes")).as("total"))
    val orig = media.select(col("media_id"),
      length(col("bytes")).cast("long").as("n"))
    val joined = rebuilt.join(orig, "media_id")
      .filter(col("total") =!= col("n"))
    assert(joined.isEmpty, "sampled frames must cover every byte exactly once")
  }

  test("fingerprint: stable, order-sensitive, in range") {
    val fps = Seq("a b c", "a b c", "c b a").toDF("text")
      .select(TextOps.fingerprint(TextOps.words(col("text"))).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2)) // rolling hash is position-sensitive
    assert(fps.forall(f => f >= 0 && f < TextOps.FpMod))
  }

  test("langId: markers win, no markers → und") {
    val preds = Seq("the cat sat on the mat", "el perro y la gata",
      "xyzzy plugh").toDF("text")
      .select(TextOps.langId(TextOps.words(col("text"))).as("p"))
      .collect().map(_.getString(0))
    assert(preds.toSeq == Seq("en", "es", "und"))
  }

  test("vocab growth: monotone, totals reconcile, bucket count bounded") {
    val rows = graft.queries.Pipeline.q92.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length <= 20, "fixed-slice contract: never more than 20 rows")
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted))
    // vocab is the running sum of new_types and never decreases
    val runningVocab = rows.map(_._3).scanLeft(0L)(_ + _).tail
    assert(rows.map(_._4).sameElements(runningVocab))
    // final vocab == corpus-wide distinct token count, computed independently
    val distinctTokens = docs
      .select(explode(TextOps.words(col("text"))).as("t"))
      .distinct().count()
    assert(rows.last._4 == distinctTokens)
    // token volume reconciles against a direct per-corpus count
    val totalTokens = docs
      .select(sum(size(TextOps.words(col("text")))).cast("long")).head().getLong(0)
    assert(rows.map(_._2).sum == totalTokens)
  }

  test("source overlap: ordered pairs, containment in (0,1], counts exact") {
    val rows = graft.queries.Pipeline.q93.fn(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "sf0.001 corpus has cross-source 8-gram overlap")
    assert(rows.forall { case (a, b, _, _) => a < b }, "pairs are ordered once")
    assert(rows.forall { case (_, _, n, c) => n >= 1 && c > 0.0 && c <= 1.0 })
    // independent recompute of one pair: intersect the two distinct-shingle
    // sets directly and compare the count
    val (sa, sb, nShared, _) = rows.head
    val shingleSet = (s: String) => docs.filter(col("source") === s)
      .select(explode(TextOps.shinglesKernel(8)(TextOps.words(col("text"))))
        .as("sh"))
      .distinct()
    val direct = shingleSet(sa).intersect(shingleSet(sb)).count()
    assert(nShared == direct, s"pair ($sa,$sb): q93=$nShared direct=$direct")
  }

  test("label noise audit: one verdict per audited vector, flags consistent") {
    val rows = graft.queries.Pipeline.q94.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val audited = emb.filter(col("vec_id") % 5 === 0).count()
    assert(rows.length == audited, "every audited vector gets a verdict")
    assert(rows.forall { case (id, _, _, _, _) => id % 5 == 0 })
    assert(rows.forall { case (_, _, _, v, _) => v >= 1 && v <= 5 })
    assert(rows.forall { case (_, l, p, _, a) => a == (if (l == p) 1 else 0) })
  }

  test("dedup attrition: per-source drops reconcile with the q55 clusters") {
    val rows = graft.queries.Pipeline.q95.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum == docs.count(), "every doc is attributed")
    assert(rows.forall { case (_, n, d, _) => d >= 0 && d <= n })
    // total drops == non-canonical cluster members, computed independently
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
    val expectedDrops = Dedup.connectedComponents(pairs, "a", "b")
      .filter(col("node") =!= col("canon")).count()
    assert(rows.map(_._3).sum == expectedDrops)
    // a source with zero drops contributes zero dropped chars
    assert(rows.forall { case (_, _, d, ch) => d > 0 || ch == 0 })
  }

  test("bm25: top-10 positive, descending, and every hit holds a query term") {
    val rows = graft.queries.Pipeline.q96.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 10)
    assert(rows.forall(_._2 > 0.0))
    assert(rows.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
    val terms = Seq("customer", "vector", "merge")
    val holders = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("t"))
      .filter(col("t").isin(terms.map(_.asInstanceOf[Any]): _*))
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => holders(r._1)))
  }

  test("hybrid rrf: fusion arithmetic reconciles with the leg ranks") {
    val rows = graft.queries.Pipeline.q97.fn(spark, sf).collect()
    assert(rows.length == 10)
    val rrfs = rows.map { r =>
      val lex = if (r.isNullAt(1)) 0.0 else 1.0 / (60 + r.getLong(1))
      val vec = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getLong(2))
      val expected = lex + vec
      assert(r.getDouble(3) == expected,
        s"doc ${r.getLong(0)}: rrf ${r.getDouble(3)} != $expected")
      assert(!(r.isNullAt(1) && r.isNullAt(2)), "a hit must come from a leg")
      r.getDouble(3)
    }
    assert(rrfs.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("perplexityOf: 0/1-word docs yield no bigrams instead of throwing") {
    // sequence(0, size-2) DESCENDS on short docs in Spark and
    // element_at(ws, 0) throws — the guard must drop them, exactly as
    // the oracle's range(1, len) emits nothing for them
    import spark.implicits._
    val docs = Seq(
      (1L, "en", ""), (2L, "en", "hello"), (3L, "en", "  "),
      (4L, "en", "a b c")).toDF("doc_id", "lang", "text")
    val out = graft.queries.Pipeline.perplexityOf(docs).collect()
    assert(out.map(_.getLong(0)).toSet == Set(4L))
    assert(out.head.getLong(1) == 2L) // "a b c" has two bigrams
  }
}
