package graft.pipeline

import graft.SparkSpec

/** BPE merge training (TextOps.bpeMerges) — pins the algorithm edges
  * the q115 oracle replays: greedy left-to-right non-overlapping merge,
  * deterministic tie-breaks in Spark's string order, merged symbols
  * composing in later rounds, and the terminal `</w>` marker
  * participating as a symbol. Every case runs on BOTH learners the
  * vocabulary size picks between — the one-task kernel and the SQL
  * rounds — and they must agree.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private val learners: Seq[(String, (DataFrame, Int) => Seq[(String, String, Long)])] =
    Seq("kernel" -> TextOps.bpeLearnInTask, "rounds" -> TextOps.bpeLearnRounds)

  /** The same value from every learner. */
  private def agreed[A](f: ((DataFrame, Int) => Seq[(String, String, Long)]) => A): A = {
    val out = learners.map { case (name, l) => name -> f(l) }
    out.foreach { case (name, a) =>
      assert(a == out.head._2, s"$name: $a vs ${out.head._1}: ${out.head._2}") }
    out.head._2
  }

  private def merges(docs: Seq[String], n: Int): Seq[(Int, String, String, String, Long)] =
    agreed(l => TextOps.bpeMergesWith(l)(docs.toDF("text"), "text", n)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .toSeq)

  test("greedy left-to-right merge is non-overlapping: aaa -> [aa, a]") {
    // word "aaa" x2: symbols a a a </w>; round 1 counts the OVERLAPPING
    // (a,a) pairs (2 per word) but the merge pass consumes left-to-
    // right, leaving [aa, a, </w>]. Round 2 then ties (aa,a) with
    // (a,</w>) at 2 and lhs-asc picks (a,</w>) -> [aa, a</w>]; round 3's
    // only pair is (aa, a</w>). A right-to-left merge would have left
    // [a, aa, </w>] and round 2 would pick (a,aa) instead — so this
    // 3-round trace pins the scan direction.
    val m = merges(Seq("aaa aaa"), 3)
    assert(m(0) == ((1, "a", "a", "aa", 4L)))
    assert(m(1) == ((2, "a", "</w>", "a</w>", 2L)))
    assert(m(2) == ((3, "aa", "a</w>", "aaa</w>", 2L)))
  }

  test("ties break by (count desc, lhs asc, rhs asc)") {
    // "ab" and "cd" both appear twice: pairs (a,b)=2, (c,d)=2,
    // (b,</w>)=2, (d,</w>)=2. Lexicographic: '<' (0x3c) sorts before
    // letters, so (b,</w>) wins over (a,b) only on lhs — lhs 'a' < 'b',
    // so (a,b) is the round-1 merge.
    val m = merges(Seq("ab cd", "ab cd"), 1)
    assert(m(0) == ((1, "a", "b", "ab", 2L)))
  }

  test("merged symbols compose across rounds (er then er</w>)") {
    val m = merges(Seq("er er er", "er er"), 2)
    // round 1: (e,r) count 5; round 2: (er,</w>) count 5
    assert(m(0) == ((1, "e", "r", "er", 5L)))
    assert(m(1) == ((2, "er", "</w>", "er</w>", 5L)))
  }

  test("single-char words survive full collapse (no pair underflow)") {
    // "a" collapses to the single symbol a</w> after round 1; round 2
    // must not error on the pairless word and must pick the next pair
    val m = merges(Seq("a a a bc"), 2)
    assert(m(0) == ((1, "a", "</w>", "a</w>", 3L)))
    assert(m(1)._5 == 1L) // some pair of "bc" with count 1
  }

  test("rounds past full collapse learn nothing more") {
    // "ab" collapses to one symbol after (a,b) and (ab,</w>)
    assert(merges(Seq("ab ab"), 5).map(_._4) == Seq("ab", "ab</w>"))
  }

  test("encode applies the learned merges (q145's per-word symbol counts)") {
    import org.apache.spark.sql.functions.col
    // corpus "aaa" x2 (one source): the 3-round trace above ends with
    // the whole word as ONE symbol aaa</w>, so 3 merges encode each
    // "aaa" to 1 token; at 2 merges the vocab is [aa, a</w>] → 2;
    // at 0 merges it's the 4 raw symbols a a a </w>
    val docs = Seq(("s1", "aaa aaa")).toDF("source", "text")
    def counts(n: Int): (Long, Long) = agreed { l =>
      val r = TextOps.bpeEncodedCountsWith(l)(docs, "text", "source", n)
        .select(col("n_words"), col("bpe_tokens")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(counts(0) == ((2L, 8L)))
    assert(counts(2) == ((2L, 4L)))
    assert(counts(3) == ((2L, 2L)))
  }

  test("ties order strings by code point, as Spark does, not by UTF-16 unit") {
    // (U+1F600, </w>) and (U+FF21, </w>) tie at count 1. Spark orders
    // by UTF-8 bytes, so U+FF21 < U+1F600 and the fullwidth A merges
    // first; String.compareTo sees the surrogate 0xD83D < 0xFF21 and
    // would pick the emoji.
    val (emoji, wide) = ("\uD83D\uDE00", "\uFF21")
    assert(emoji.compareTo(wide) < 0)
    assert(TextOps.sparkStringOrder.compare(wide, emoji) < 0)
    val m = merges(Seq(s"$emoji $wide"), 2)
    assert(m(0) == ((1, wide, "</w>", wide + "</w>", 1L)))
    assert(m(1) == ((2, emoji, "</w>", emoji + "</w>", 1L)))
  }

  test("training and encoding keep the caller's session and conf") {
    import org.apache.spark.sql.functions.col
    val before = spark.conf.getAll
    val docs = Seq(("s1", "low lower lowest"), ("s2", "newer wider"))
      .toDF("source", "text")
    val m = TextOps.bpeMerges(docs, "text", 4)
    assert(m.sparkSession eq spark)
    assert(m.count() == 4)
    val e = TextOps.bpeEncodedCounts(docs, "text", "source", 4)
    assert(e.sparkSession eq spark)
    assert(e.select(col("n_words")).collect().map(_.getLong(0)).sum == 5L)
    assert(spark.conf.getAll == before)
    graft.pipeline.Similarity.releaseResult()
  }
}
