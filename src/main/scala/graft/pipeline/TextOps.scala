package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, language-ID, quality scoring, token
  * counting, and document fingerprinting.
  *
  * All operators are pure Column expressions (whole-stage codegen, no
  * UDFs) and shared-nothing per row — at 100 TB they run entirely
  * map-side inside the scan stage; only downstream aggregates shuffle.
  * Every computation is also expressible in ANSI-ish SQL so the DuckDB
  * oracle can recompute it exactly (see queries/Pipeline.scala).
  */
object TextOps extends Serializable {

  /** Whitespace tokenization (single-space corpus). */
  def words(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles — the unit of near-dup detection.
    * Guarded so short documents yield an empty set rather than a
    * descending sequence.
    */
  def shingles(ws: Column, n: Int = 3): Column =
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** JVM kernel for [[shingles]]: identical output including
    * first-occurrence distinct order (PipelineSpec proves it). The HOF
    * form evaluates interpreted per position and measured ~8 s for
    * 5000 docs at bench scale.
    */
  def shinglesKernel(n: Int = 3): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ws: Seq[String]) =>
      if (ws.length < n) Array.empty[String]
      else {
        val arr = ws.toArray
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i + n <= arr.length) {
          val sb = new java.lang.StringBuilder(arr(i))
          var k = 1
          while (k < n) { sb.append(' ').append(arr(i + k)); k += 1 }
          seen.add(sb.toString)
          i += 1
        }
        seen.toArray(Array.empty[String])
      }
    }

  /** Language stopword marker sets for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: language ID at corpus scale is a
    * per-row marker count, not a model.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "that", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los", "se", "del", "las"),
    "fr" -> Seq("le", "les", "des", "et", "une", "du", "au", "pour", "dans", "sur"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "个"))

  /** Count of tokens belonging to a marker set — the executable spec
    * for [[markerCountsKernel]] (multiplicity-weighted: a token
    * counts once per occurrence, which is why `array_intersect` — a
    * set op — is NOT an equivalent rewrite).
    */
  def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isin(markers.map(_.asInstanceOf[Any]): _*)))

  // token → indices of the marker sets containing it (sets may overlap
  // across languages; an overlapping token counts for each)
  private lazy val markerIndex: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    stopwords.zipWithIndex.foreach { case ((_, toks), i) =>
      toks.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  /** Non-overlapping w-word chunks WITH multiplicity — the unit of
    * cross-document span dedup (the C4/RefinedWeb "remove spans that
    * also appear in another document" discipline). Unlike
    * [[shingles]] (overlapping, distinct — a similarity SET), a doc's
    * chunk list keeps every occurrence: a span repeated inside one doc
    * and shared with another counts once per occurrence. Trailing
    * words short of a full chunk are dropped.
    */
  def chunks(ws: Column, w: Int): Column =
    // same short-doc guard as [[shingles]]: sequence(0, -1) descends
    when(size(ws) >= w,
      transform(sequence(lit(0), floor(size(ws) / w).cast("int") - 1), i =>
        concat_ws(" ", (0 until w).map(k => element_at(ws, i * w + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** JVM kernel for [[chunks]]: identical output including order and
    * multiplicity (PipelineSpec proves bit-equality). The HOF form
    * evaluates interpreted per chunk — the same per-row cost cliff
    * that moved [[shinglesKernel]] off Column expressions.
    */
  def chunksKernel(w: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ws: Seq[String]) =>
      if (ws == null) null
      else {
        val arr = ws.toArray
        val n = arr.length / w
        val out = new Array[String](n)
        var i = 0
        while (i < n) {
          val sb = new java.lang.StringBuilder(arr(i * w))
          var k = 1
          while (k < w) { sb.append(' ').append(arr(i * w + k)); k += 1 }
          out(i) = sb.toString
          i += 1
        }
        out
      }
    }

  /** JVM kernel: ALL five marker counts in one pass over the token
    * array. The Column form is an interpreted HOF that [[langId]]
    * evaluated 5x per row — the q26/q27 hot spot in BENCH_r04
    * (VERDICT r4 #2). PipelineSpec proves per-language equality with
    * [[markerCount]]. A null token array yields NULL, matching
    * `size(filter(null, …))`.
    */
  val markerCountsKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ws: Seq[String]) =>
      if (ws == null) null
      else {
        val counts = new Array[Int](stopwords.length)
        ws.foreach { w =>
          val idxs = markerIndex.get(w)
          if (idxs != null) {
            var i = 0
            while (i < idxs.length) { counts(idxs(i)) += 1; i += 1 }
          }
        }
        counts
      }
    }

  /** Language prediction over a marker-count array (1-based
    * element_at, [[stopwords]] order): highest count wins, ties to
    * the earlier language, zero markers → "und" — the same
    * when-chain as [[langId]].
    */
  def langIdFrom(cnts: Column): Column = {
    val scores = stopwords.indices.map(i => element_at(cnts, i + 1))
    val best = scores.reduce((a, b) => greatest(a, b))
    stopwords.map(_._1).zip(scores).foldRight(lit("und"): Column) {
      case ((lang, s), els) => when(s > 0 && s === best, lit(lang)).otherwise(els)
    }
  }

  /** Predicted language: the marker set with the highest count wins,
    * ties broken by the fixed order of [[stopwords]]; no markers at
    * all → "und". Deterministic by construction. This Column form is
    * the executable spec; the hot path is [[langIdFast]].
    */
  def langId(ws: Column): Column = {
    val scores = stopwords.map { case (lang, m) => lang -> markerCount(ws, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s > 0 && s === best, lit(lang)).otherwise(els)
    }
  }

  /** [[langId]] with the five marker counts from the single-pass JVM
    * kernel instead of five interpreted HOFs (bit-identical —
    * PipelineSpec).
    */
  def langIdFast(ws: Column): Column = langIdFrom(markerCountsKernel(ws))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-space symbols each count as one token — the standard cheap
    * proxy for LLM token budgeting. Same regex runs in the oracle.
    */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenRe))

  /** Quality score in [0,1]: half length-saturation, half stopword
    * density. Arithmetic is int-derived double ops, bit-identical
    * across engines.
    */
  def qualityScore(text: Column, ws: Column): Column = {
    val nTokens = size(ws)
    val stopRatio = markerCount(ws, stopwords.head._2).cast("double") / nTokens
    least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.5 +
      least(stopRatio * 10.0, lit(1.0)) * 0.5
  }

  /** [[qualityScore]] with the stopword count from the JVM kernel —
    * same int-derived arithmetic on the count, bit-identical
    * (PipelineSpec).
    */
  def qualityScoreFast(ws: Column): Column = {
    val nTokens = size(ws)
    val stopRatio =
      element_at(markerCountsKernel(ws), 1).cast("double") / nTokens
    least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.5 +
      least(stopRatio * 10.0, lit(1.0)) * 0.5
  }

  /** Whole-word alternation pattern for blocklist scrubbing — the
    * PII-redaction / banned-term-removal machinery (emails, phones,
    * profanity lists, …): the term list compiles ONCE into a single
    * `\b(t1|t2|…)\b` regex that `regexp_replace` / `regexp_count`
    * evaluate inside whole-stage codegen — no UDF, no per-term pass.
    * Terms are regex-quoted so a literal list can never inject
    * metacharacters. `\b` is ASCII word-boundary in both Java regex
    * and RE2, so the oracle recomputes the identical scrub.
    */
  def scrubPattern(terms: Seq[String]): String =
    terms.map(java.util.regex.Pattern.quote)
      // Pattern.quote emits \Q…\E which RE2 (the oracle's engine)
      // also honors; the alternation itself is shared syntax
      .mkString("\\b(", "|", ")\\b")

  /** Occurrences of any blocklist term (multiplicity-weighted). */
  def scrubHits(text: Column, terms: Seq[String]): Column =
    regexp_count(text, lit(scrubPattern(terms)))

  /** Text with every blocklist term replaced by `repl`. */
  def scrubText(text: Column, terms: Seq[String], repl: String): Column =
    regexp_replace(text, scrubPattern(terms), repl)

  /** Structured-PII detectors — the pattern half of the redaction
    * machinery ([[scrubPattern]] is the term-list half): emails,
    * NANP-style phone numbers, dotted-quad IPs, and SSN-shaped ids,
    * written in the Java-regex ∩ RE2 shared subset (character
    * classes, bounded repetition, alternation — no lookaround, no
    * backreferences) so the oracle engine evaluates the IDENTICAL
    * patterns. The four patterns are pairwise disjoint on any text
    * (phone is 3-3-4, id is 3-2-4; the separators differ from ipv4's
    * dots; email requires `@`), so multi-class redaction is
    * order-independent — but [[piiRedact]] still fixes one order so
    * both engines run literally the same replacement chain.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "id" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}")

  /** Occurrences of one PII class (codegen'd regexp_count). */
  def piiHits(text: Column, clazz: String): Column =
    regexp_count(text, lit(PiiPatterns.toMap.apply(clazz)))

  /** Text with every PII class replaced by its `[CLASS]` tag, in
    * [[PiiPatterns]] order.
    */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (name, pat)) =>
      regexp_replace(t, pat, s"[${name.toUpperCase}]")
    }

  /** Overlapping sliding-window chunks — the training-sequence cutter:
    * windows of `w` words starting every `s` words (s < w ⇒ overlap =
    * context carried across chunk boundaries, the standard LLM
    * pretraining / RAG-indexing split). One chunk starts at every
    * position 0, s, 2s, … < len(ws); the final chunks may be shorter
    * than `w`. Unlike [[chunks]] (non-overlapping, exact multiples
    * only) no word is ever dropped. Column form is the executable
    * spec; the hot path is [[slidingChunksKernel]].
    */
  def slidingChunks(ws: Column, w: Int, s: Int): Column =
    when(size(ws) > 0,
      transform(sequence(lit(0), floor((size(ws) - 1) / s).cast("int")), i =>
        concat_ws(" ", slice(ws, i * s + lit(1), lit(w)))))
      .otherwise(array().cast("array<string>"))

  /** Pure form of the sliding chunker — the function the kernel wraps
    * and KernelPropertiesSpec drives generatively.
    */
  def slidingChunksJvm(ws: Seq[String], w: Int, s: Int): Array[String] =
    if (ws.isEmpty) Array.empty[String]
    else {
      val arr = ws.toArray
      val n = (arr.length - 1) / s + 1
      val out = new Array[String](n)
      var i = 0
      while (i < n) {
        val from = i * s
        val until = math.min(from + w, arr.length)
        val sb = new java.lang.StringBuilder(arr(from))
        var k = from + 1
        while (k < until) { sb.append(' ').append(arr(k)); k += 1 }
        out(i) = sb.toString
        i += 1
      }
      out
    }

  /** JVM kernel for [[slidingChunks]]: identical output including
    * order and tail handling (PipelineSpec proves bit-equality). The
    * HOF form pays interpreted slice+concat per window.
    */
  def slidingChunksKernel(w: Int, s: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ws: Seq[String]) =>
      if (ws == null) null else slidingChunksJvm(ws, w, s)
    }

  /** Per-word integer code used by the rolling-hash fingerprint:
    * first-codepoint * 31 + length. `ascii` (Spark) and `unicode`
    * (DuckDB) both return the first codepoint.
    */
  def wordCode(w: Column): Column =
    (ascii(w) * 31 + length(w)).cast("long")

  /** Rolling polynomial fingerprint over word codes, mod 1e9+7.
    * Accumulator stays < 1e9 so the multiply never overflows int64 in
    * either engine (DuckDB errors on overflow instead of wrapping).
    */
  val FpMul = 1000003L
  val FpMod = 1000000007L
  def fingerprint(ws: Column): Column =
    aggregate(transform(ws, wordCode _), lit(0L),
      (acc, c) => (acc * FpMul + c) % FpMod)

  // ── BPE merge training (Sennrich et al. 2016, the vocab form) ──────
  //
  // Learns the first N byte-pair merges of the corpus. The vocab form
  // is THE 100 TB shape: the corpus is scanned ONCE (word → count,
  // one shuffle); every merge round then runs on the distinct-word
  // vocabulary, and the only state that leaves it is the merge list.
  // One learner ([[bpeLearn]]) serves training (q115) and encoding
  // (q145); [[bpeApply]] folds its merges onto a vocabulary.
  //
  // Symbol sequences ride in ONE string column: each symbol is
  // individually wrapped in U+001F, so applying a
  // merge is a plain `replace` of the fully-delimited pair — string
  // replace scans left-to-right non-overlapping in Spark, DuckDB and
  // Java's `String.replace`, which is exactly BPE's greedy merge pass
  // ("aaa" + merge (a,a) → [aa, a]), and full wrapping means a
  // pattern can never match a symbol's suffix/prefix. Ties break
  // (count desc, left asc, right asc) in Spark's string order — a
  // total order, so the learned table is deterministic.

  private val BpeSep = "\u001f"

  /** Word vocabulary (w, s, cnt) with each word as a wrapped symbol
    * string: characters plus a terminal `</w>` marker symbol.
    */
  private[graft] def bpeVocab(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ss = BpeSep + BpeSep
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        concat(lit(BpeSep),
          array_join(filter(split(col("w"), ""), x => x =!= ""), ss),
          lit(ss + "</w>" + BpeSep)).as("s"),
        col("cnt"))
  }

  /** Adjacent symbol pairs of a wrapped string, weighted by `cnt`. */
  private[graft] def bpePairs(vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val syms = split(
      substring(col("s"), lit(2), length(col("s")) - 2), BpeSep + BpeSep)
    // try_element_at + null filter: a fully-merged single-symbol word
    // has no pairs (sequence(1, size-1) would be the descending [1,0])
    val pairs = filter(
      transform(sequence(lit(1), greatest(size(syms) - 1, lit(1))),
        i => struct(try_element_at(syms, i).as("l"),
          try_element_at(syms, i + 1).as("r"))),
      p => p.getField("l").isNotNull && p.getField("r").isNotNull)
    vocab.select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** `vocab` with `merges` (lhs, rhs, …) applied in order: one
    * `replace` of the wrapped pair per merge.
    */
  private[graft] def bpeApply(vocab: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String, Long)]): org.apache.spark.sql.DataFrame =
    merges.foldLeft(vocab) { case (v, (l, r, _)) =>
      // literal Columns, not string-interpolated SQL: a learned
      // symbol containing a quote/backslash must not be able to
      // break (or inject into) a parsed expression
      v.withColumn("s", call_function("replace", col("s"),
        lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
        lit(BpeSep + l + r + BpeSep)))
    }

  /** The first `n` merges (lhs, rhs, pair count) learned on a cached
    * vocabulary (s, cnt) — fewer once no word has a pair left. The
    * measured vocabulary size picks one of two exact paths: at or
    * below `AdaptiveShape.smallRows` words every round runs in one
    * task ([[bpeLearnInTask]]); above it the rounds are SQL
    * aggregates under the caller's session ([[bpeLearnRounds]]).
    */
  private[graft] def bpeLearn(vocab: org.apache.spark.sql.DataFrame,
      n: Int): Seq[(String, String, Long)] =
    if (vocab.count() <= graft.operators.AdaptiveShape.smallRows)
      bpeLearnInTask(vocab, n)
    else bpeLearnRounds(vocab, n)

  /** [[bpeLearn]] as distributed rounds: per round one pair aggregate
    * and a 1-row TakeOrdered collect, then the merge joins the
    * vocabulary's `replace` chain.
    */
  private[graft] def bpeLearnRounds(vocab: org.apache.spark.sql.DataFrame,
      n: Int): Seq[(String, String, Long)] = {
    var v = vocab
    Iterator.range(0, n).map { _ =>
      bpePairs(v).orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect().headOption.map { b =>
          val m = (b.getString(0), b.getString(1), b.getLong(2))
          v = bpeApply(v, Seq(m))
          m
        }
    }.takeWhile(_.nonEmpty).flatten.toList
  }

  /** Spark's string order: unsigned UTF-8 bytes, i.e. code points —
    * not `String.compareTo`'s UTF-16 units, which put a surrogate
    * pair below U+E000..U+FFFF.
    */
  private[graft] val sparkStringOrder: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[bpeLearn]] in ONE task over the (cached) vocabulary: each round
    * recounts the weighted adjacent pairs of every word, takes the
    * (count desc, lhs asc, rhs asc) best in [[sparkStringOrder]] and
    * merges it with `String.replace`. The symbols split as Spark's
    * `split` does (limit −1), so each round equals the SQL round.
    * Only the merge list leaves the task.
    */
  private[graft] def bpeLearnInTask(vocab: org.apache.spark.sql.DataFrame,
      n: Int): Seq[(String, String, Long)] = {
    import vocab.sparkSession.implicits._
    vocab.select(col("s"), col("cnt")).coalesce(1).as[(String, Long)]
      .mapPartitions { it =>
        val words = it.toArray
        val sep2 = java.util.regex.Pattern.compile(BpeSep + BpeSep)
        val best = Ordering.by((p: ((String, String), Long)) =>
          (-p._2, p._1._1, p._1._2))(
          Ordering.Tuple3(Ordering.Long, sparkStringOrder, sparkStringOrder))
        Iterator.range(0, n).map { _ =>
          val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
          for ((s, cnt) <- words; ys = sep2.split(s.substring(1, s.length - 1), -1);
               i <- 1 until ys.length)
            pairs((ys(i - 1), ys(i))) = pairs.getOrElse((ys(i - 1), ys(i)), 0L) + cnt
          pairs.minOption(best).map { case ((l, r), c) =>
            val (pat, rep) = (BpeSep + l + BpeSep + BpeSep + r + BpeSep,
              BpeSep + l + r + BpeSep)
            words.mapInPlace { case (s, cnt) => (s.replace(pat, rep), cnt) }
            (l, r, c)
          }
        }.takeWhile(_.nonEmpty).flatten
      }
      .collect().toSeq
  }

  /** The first `n` learned merges: (merge_rank, lhs, rhs, merged,
    * pair_count). One corpus scan, then the [[bpeLearn]] rounds on the
    * cached vocabulary.
    */
  def bpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int): org.apache.spark.sql.DataFrame =
    bpeMergesWith(bpeLearn)(docs, textCol, n)

  private[graft] def bpeMergesWith(
      learn: (org.apache.spark.sql.DataFrame, Int) => Seq[(String, String, Long)])(
      docs: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val cached = bpeVocab(docs, textCol).cache()
    val merges = try learn(cached, n) finally cached.unpersist(false)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r, c), k) => (k + 1, l, r, l + r, c) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** The unrolled DuckDB merge-round CTE chain shared by the train and
    * encode oracles. `carry` is the extra column list each round's
    * vocab CTE threads through unchanged ("" for train, "w, " for
    * encode — the word key the encode join needs at the end).
    */
  private def bpeStagesSql(n: Int, carry: String): String = {
    val sep = "chr(31)"
    val ss = s"$sep || $sep"
    (1 to n).map { k =>
      s"""p$k AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
          SELECT cnt, unnest(list_transform(range(1, len(syms)),
            i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS p
          FROM (SELECT cnt, string_split(substr(s, 2, length(s) - 2),
                  $ss) AS syms FROM v${k - 1}) t
        ) u GROUP BY p.l, p.r
      ),
      b$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
      v$k AS (
        SELECT ${carry}replace(s, $sep || l || $ss || r || $sep,
                       $sep || l || r || $sep) AS s, cnt
        FROM v${k - 1}, b$k
      )"""
    }.mkString(",\n")
  }

  private def bpeVocabSql(carry: String): String = {
    val sep = "chr(31)"
    val ss = s"$sep || $sep"
    s"""words AS (
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE w <> '' GROUP BY w
      ),
      v0 AS (
        SELECT $carry$sep || array_to_string(string_split_regex(w, ''), $ss)
                 || $ss || '</w>' || $sep AS s, cnt
        FROM words
      )"""
  }

  /** DuckDB oracle for [[bpeMerges]]: the merge loop unrolled into one
    * CTE chain per round (the same generated-constant discipline as the
    * q30 hyperplane oracle — the ALGORITHM is replayed, not the
    * output).
    */
  def bpeMergesOracleSql(n: Int): String = {
    val unions = (1 to n).map(k =>
      s"SELECT $k AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, c AS pair_count FROM b$k")
      .mkString("\n        UNION ALL ")
    s"""
      WITH ${bpeVocabSql("")},
      ${bpeStagesSql(n, "")}
      SELECT * FROM (
        $unions
      ) m ORDER BY merge_rank"""
  }

  // ── BPE application (encode under the learned merges) ──────────────
  //
  // q115 learns the table; this applies it — the fertility audit a
  // tokenizer build runs before committing (tokens/word under the
  // LEARNED vocab, vs q28's fixed-regex proxy). The corpus is never
  // re-tokenized row by row: the merges are learned once on the
  // distinct-word vocabulary ([[bpeLearn]]) and applied once to it
  // ([[bpeApply]]), the per-word symbol count is read off the merged
  // vocab, and the corpus joins to that vocab-sized frame on the word
  // key.

  /** Per-source token counts under the first `n` learned BPE merges:
    * (source, n_words, bpe_tokens, tokens_per_word). Same
    * one-corpus-scan + learner shape as [[bpeMerges]]; the final
    * encode is a (source, word)-collapsed join against the
    * vocab-sized symbol-count frame — corpus text never moves twice.
    */
  def bpeEncodedCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String, srcCol: String, n: Int)
      : org.apache.spark.sql.DataFrame =
    bpeEncodedCountsWith(bpeLearn)(docs, textCol, srcCol, n)

  private[graft] def bpeEncodedCountsWith(
      learn: (org.apache.spark.sql.DataFrame, Int) => Seq[(String, String, Long)])(
      docs: org.apache.spark.sql.DataFrame, textCol: String, srcCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    // the encode join CONSUMES the vocab cache lazily (the caller's
    // action runs after this returns), so release rides the
    // end-of-query drain
    val cached = graft.pipeline.Similarity.registerForRelease(
      bpeVocab(docs, textCol).cache())
    val perWord = bpeApply(cached, learn(cached, n)).select(col("w"),
      size(split(substring(col("s"), lit(2), length(col("s")) - 2),
        BpeSep + BpeSep)).cast("long").as("toks"))
    docs.select(col(srcCol).as("source"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("k"))
      .join(perWord, "w")
      .groupBy(col("source"))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("toks")).as("bpe_tokens"))
      .withColumn("tokens_per_word",
        col("bpe_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[bpeEncodedCounts]]: the same unrolled merge
    * chain (word key carried through) plus the encode join.
    */
  def bpeEncodeOracleSql(n: Int): String = {
    val sep = "chr(31)"
    val ss = s"$sep || $sep"
    s"""
      WITH ${bpeVocabSql("w, ")},
      ${bpeStagesSql(n, "w, ")},
      pw AS (SELECT w, CAST(len(string_split(substr(s, 2, length(s) - 2),
                  $ss)) AS BIGINT) AS toks
             FROM v$n),
      sw AS (SELECT source, w, COUNT(*) AS k FROM (
               SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents) t
             WHERE w <> '' GROUP BY 1, 2)
      SELECT source, CAST(SUM(k) AS BIGINT) AS n_words,
             CAST(SUM(k * toks) AS BIGINT) AS bpe_tokens,
             CAST(SUM(k * toks) AS BIGINT)::DOUBLE
               / CAST(SUM(k) AS BIGINT) AS tokens_per_word
      FROM sw JOIN pw USING (w)
      GROUP BY source ORDER BY source"""
  }
}
