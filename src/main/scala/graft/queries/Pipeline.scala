package graft.queries

import graft.Tables
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline query surface over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash-LSH, SimHash),
  * similarity search (brute-force + LSH-bucketed ANN), and text
  * analysis (stats, language-ID, quality, token counting,
  * fingerprinting). The north-star operators from SURVEY.md §2.6.
  *
  * Oracles recompute the SAME deterministic algorithm in DuckDB SQL,
  * so these are differential tests of the whole operator, not just
  * row counts — except where the algorithm needs xxhash64 (Spark-only),
  * which the driver covers with its weaker rows-only check and we
  * cover with unit tests.
  */
object Pipeline {

  /** Exact dedup (hash-groupBy): canonical doc per distinct text.
    * Shuffles sha256 digests, never document bodies.
    */
  val q21 = Q(
    "q21_exact_dedup",
    (spark, dir) =>
      Dedup.exact(Tables(spark, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id")),
    Some("""
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY text
      ORDER BY doc_id"""))

  /** Per-language corpus statistics: doc counts, char and token
    * volumes. Pure scan + partial-agg shape.
    */
  val q22 = Q(
    "q22_text_stats",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("n_tokens", size(TextOps.words(col("text"))))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          davg(col("n_chars")).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_tokens").cast("long")).as("total_tokens"))
        .orderBy(col("lang")),
    Some(s"""
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             ${oAvg("n_chars")} AS avg_chars,
             MIN(n_chars) AS min_chars,
             MAX(n_chars) AS max_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  /** Brute-force cosine top-5 for the first 20 vectors: the exactness
    * baseline for similarity search. Query side broadcast; corpus
    * scanned once. Cosine computed in double with left-to-right
    * accumulation — bit-identical to DuckDB's list_dot_product.
    */
  val q23 = Q(
    "q23_cosine_topk",
    (spark, dir) =>
      Similarity.bruteForceTopK(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < 20, k = 5)
        .orderBy(col("query_id"), col("rank")),
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 20),
      s AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
              list_dot_product(q.v, e.v) /
                (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
            FROM q JOIN e ON e.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id,
             ROUND(cos, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))

  /** MinHash-LSH near-dup pairs at Jaccard >= 0.5 over word 3-gram
    * shingles. Spark side: banded signatures → groupBy(band, key)
    * candidates → exact verify (NEVER all-pairs). Oracle: exact
    * all-pairs Jaccard — feasible at sf0.01, and a true differential
    * test that LSH recall is total on this corpus.
    */
  val q24 = Q(
    "q24_minhash_neardup",
    (spark, dir) =>
      Dedup.minhashNearDups(Tables(spark, dir, "documents"),
        "text", "doc_id", threshold = 0.5)
        .orderBy(col("a"), col("b")),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
      SELECT a, b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
      WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5
      ORDER BY a, b"""))

  /** Language-ID confusion matrix: stopword-marker heuristic vs the
    * labelled lang column. The heuristic is deterministic and
    * recomputed identically by the oracle.
    */
  val q26 = {
    def duckScore(markers: Seq[String]): String =
      s"len(list_filter(string_split(text,' '), w -> w IN (${
        markers.map(m => s"'$m'").mkString(",")})))"
    val scoreSql = TextOps.stopwords
      .map { case (l, m) => s"${duckScore(m)} AS s_$l" }.mkString(",\n             ")
    val langs = TextOps.stopwords.map(_._1)
    val bestSql = s"greatest(${langs.map("s_" + _).mkString(",")})"
    val caseSql = langs.map(l =>
      s"WHEN s_$l > 0 AND s_$l = $bestSql THEN '$l'").mkString("\n               ")
    Q(
      "q26_lang_id",
      (spark, dir) =>
        // langId is 5 interpreted HOF marker counts per row — fan out
        // ahead of it (single-row-group inputs otherwise run one task)
        graft.operators.FanOut(Tables(spark, dir, "documents"))
          .withColumn("pred", TextOps.langIdFast(TextOps.words(col("text"))))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("pred")),
      Some(s"""
      WITH scored AS (
        SELECT lang,
             $scoreSql
        FROM documents)
      SELECT lang,
             CASE $caseSql
               ELSE 'und' END AS pred,
             COUNT(*) AS n_docs
      FROM scored
      GROUP BY 1, 2
      ORDER BY lang, pred"""))
  }

  /** Quality-score histogram: deciles of a [0,1] composite of length
    * saturation and stopword density.
    */
  val q27 = Q(
    "q27_quality_histogram",
    (spark, dir) => {
      val ws = TextOps.words(col("text"))
      Tables(spark, dir, "documents")
        .withColumn("score", TextOps.qualityScoreFast(ws))
        .groupBy((floor(col("score") * 10) / lit(10.0)).as("decile"))
        .agg(count(lit(1)).as("n_docs"), davg(col("score")).as("avg_score"))
        .orderBy(col("decile"))
    },
    Some(s"""
      WITH q AS (
        SELECT least(len(string_split(text,' '))/100.0, 1.0) * 0.5 +
               least((len(list_filter(string_split(text,' '),
                       w -> w IN ('the','a','of','and','to','in','is','on','that','it')))::DOUBLE
                     / len(string_split(text,' '))) * 10.0, 1.0) * 0.5 AS score
        FROM documents)
      SELECT floor(score * 10) / 10.0 AS decile,
             COUNT(*) AS n_docs,
             ${oAvg("score")} AS avg_score
      FROM q
      GROUP BY 1
      ORDER BY decile"""))

  /** Token counting: BPE-ish regex tokens vs whitespace tokens per
    * source, with the blowup ratio.
    */
  val q28 = Q(
    "q28_token_counts",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("bpe", TextOps.bpeTokenCount(col("text")))
        .withColumn("wst", size(TextOps.words(col("text"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("wst")).as("ws_tokens"))
        .withColumn("ratio",
          col("bpe_tokens").cast("double") / col("ws_tokens"))
        .orderBy(col("source")),
    Some(s"""
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '${TextOps.BpeTokenRe}'))) AS BIGINT) AS bpe_tokens,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             CAST(SUM(len(regexp_extract_all(text, '${TextOps.BpeTokenRe}'))) AS BIGINT)::DOUBLE
               / CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ratio
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  /** Rolling-hash document fingerprints (first 50 docs): polynomial
    * hash over per-word codes, mod 1e9+7 — content-addressable ids
    * cheap enough to compute map-side for every document at scale.
    */
  val q29 = Q(
    "q29_fingerprint",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          TextOps.fingerprint(TextOps.words(col("text"))).as("fp"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(text, ' '),
                   w -> (unicode(w)*31 + length(w))::BIGINT)),
               (a, b) -> (a * ${TextOps.FpMul} + b) % ${TextOps.FpMod}) AS fp
      FROM documents
      WHERE doc_id < 50
      ORDER BY doc_id"""))

  /** LSH-bucketed approximate top-k (the 100 TB similarity path):
    * hyperplane sign buckets + multiprobe (≤3 bit flips), exact
    * re-rank of candidates. Approximate does NOT mean unverifiable:
    * the hyperplanes are deterministic parameters (xxhash64-derived,
    * every component n/1e6 — embedded in the oracle as exact decimal
    * literals via [[Similarity.planesSqlValues]]), so DuckDB replays
    * the ENTIRE path — projections (same left-to-right double
    * accumulation as the q23 cosine, which already hash-matches),
    * sign buckets, the 93 probe masks (bit_count ≤ 3 of 8), the
    * bucket join, and the exact cosine rerank — and the full result
    * hash-checks like any exact query. Recall vs brute force is
    * additionally pinned by PipelineSpec and recorded in recall.json.
    */
  val q30 = Q(
    "q30_ann_topk",
    (spark, dir) =>
      Similarity.annTopK(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < 20, k = 5)
        .orderBy(col("query_id"), col("rank")),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      pl(p, d, w) AS (VALUES ${Similarity.planesSqlValues()}),
      pv AS (SELECT p, list(w ORDER BY d) AS wl FROM pl GROUP BY p),
      proj AS (SELECT e.vec_id, pv.p, list_dot_product(e.v, pv.wl) AS pr
               FROM e, pv),
      bkt AS (SELECT vec_id,
                CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << p)
                              ELSE 0 END) AS BIGINT) AS bucket
              FROM proj GROUP BY vec_id),
      msk AS (SELECT m FROM range(0, 256) t(m) WHERE bit_count(m) <= 3),
      qb AS (SELECT vec_id AS qid, xor(bucket, m) AS bucket
             FROM bkt, msk WHERE vec_id < 20),
      cand AS (SELECT qb.qid, c.vec_id AS nid
               FROM qb JOIN bkt c ON c.bucket = qb.bucket
               WHERE c.vec_id <> qb.qid),
      s AS (SELECT cand.qid, cand.nid,
              list_dot_product(q.v, n.v) /
                (sqrt(list_dot_product(q.v, q.v)) *
                 sqrt(list_dot_product(n.v, n.v))) AS cos
            FROM cand JOIN e q ON q.vec_id = cand.qid
                      JOIN e n ON n.vec_id = cand.nid),
      r AS (SELECT qid, nid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id,
             ROUND(cos, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))

  /** SimHash near-dup pairs (hamming <= 3 of 60 bits) via pigeonhole
    * chunk bucketing. The md5-derived token hash is computable in both
    * engines, so even this is differentially tested.
    */
  val q31 = Q(
    "q31_simhash_neardup",
    (spark, dir) =>
      Dedup.simhashNearDups(Tables(spark, dir, "documents"),
        "text", "doc_id", maxDist = 3)
        .orderBy(col("a"), col("b")),
    Some(s"""
      WITH h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs
        FROM documents),
      sim AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, ${Dedup.SimBits}),
                 i -> CASE WHEN 2 * len(list_filter(hs, x -> (x >> i) & 1 = 1))
                             > len(hs)
                      THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS h
        FROM h)
      SELECT a.doc_id AS a, b.doc_id AS b,
             bit_count(xor(a.h, b.h))::INT AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY a, b"""))

  /** Embedding-cosine near-dup pairs at cosine >= 0.45; exact
    * upper-triangle with the corpus capped (vec_id < 2000) so the
    * quadratic is bounded at bench SF; the unbounded approximate path
    * is q30's bucketing.
    */
  val q32 = Q(
    "q32_embedding_neardup",
    (spark, dir) =>
      Similarity.cosineNearDups(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45, maxId = 2000L)
        .orderBy(col("a"), col("b")),
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id < 2000)
      SELECT a.vec_id AS a, b.vec_id AS b,
             ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
      ORDER BY a, b"""))

  /** Multimodal feature extraction: documents' payloads treated as an
    * opaque media lake (binary column + typed metadata), features
    * computed per partition over raw bytes (mapPartitions — the
    * mapInPandas batch shape). The oracle recomputes byte-level
    * features from the source text's codepoints (payloads are ASCII),
    * so the whole binary path — encode, schema, iterator, histogram,
    * checksum — is differentially verified.
    */
  val q36 = {
    val histSql = (0 until Multimodal.HistBins)
      .map(j => s"len(list_filter(codes, c -> c % ${Multimodal.HistBins} = $j))")
      .mkString(", ")
    Q(
      "q36_multimodal_features",
      (spark, dir) => {
        val media = Multimodal.asMedia(
          Tables(spark, dir, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", modality = "text", format = "utf8")
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("n_bytes"), col("checksum"),
            array_join(transform(col("hist"), _.cast("string")), ",").as("hist"))
          .orderBy(col("media_id"))
      },
      Some("""
      WITH codes_t AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), ch -> unicode(ch)) AS codes
        FROM documents WHERE doc_id < 200)
      SELECT doc_id AS media_id,
             CAST(len(codes) AS INT) AS n_bytes,
             list_reduce(list_prepend(0::BIGINT, codes),
               (a, c) -> (a * 31 + c) % 1000000007) AS checksum,
             concat_ws(',', """ + histSql + """) AS hist
      FROM codes_t
      ORDER BY media_id"""))
  }

  /** N-gram (trigram) Jaccard near-dup pairs at >= 0.6 via the
    * prefix-filtered set-similarity join — deterministic and complete
    * by the prefix-filter theorem, so the exact all-pairs oracle is a
    * true differential test of the whole candidate+verify pipeline
    * (no recall luck involved, unlike LSH).
    */
  val q37 = Q(
    "q37_ngram_jaccard",
    (spark, dir) =>
      Dedup.ngramJaccardNearDups(Tables(spark, dir, "documents"),
        "text", "doc_id", threshold = 0.6, n = 3)
        .orderBy(col("a"), col("b")),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
      SELECT a, b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
      WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.6
      ORDER BY a, b"""))

  /** IVF approximate top-k (the second 100 TB similarity path next to
    * q30's hyperplane LSH): coarse-quantizer cells + nprobe probing,
    * exact re-rank of cell candidates. Approximate does NOT mean
    * unverifiable: the quantizer is the integer-exact Lloyd core
    * (Similarity.lloydCentroids — the q84/q85 discipline), so DuckDB
    * replays the ENTIRE path — init (16 smallest-id vectors), two
    * fixed-point update rounds, the corpus cell argmin, the nprobe=4
    * probe ranking (both tie-broken on (distance, cell id)), and the
    * exact cosine rerank — and the full result hash-checks like any
    * exact query. Recall vs brute force is additionally pinned by
    * PipelineSpec and recorded in recall.json.
    */
  val q38 = Q(
    "q38_ivf_topk",
    (spark, dir) =>
      Similarity.ivfTopK(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", _ < 20, k = 5)
        .orderBy(col("query_id"), col("rank")),
    Some("""
      WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings),
      c0 AS (SELECT vec_id AS cid, vd AS c FROM (
               SELECT vec_id, vd,
                 ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v)
             WHERE rn <= 16),
      d1 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c0 c),
      a1 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d2 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c1 c),
      a2 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d3 AS (SELECT v.vec_id, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c2 c),
      a3 AS (SELECT vec_id, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d3) WHERE rn = 1),
      qp AS (SELECT vec_id AS qid, cid FROM (
               SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY d, cid) AS rn
               FROM d3 WHERE vec_id < 20) WHERE rn <= 4),
      cand AS (SELECT qp.qid, a3.vec_id AS nid
               FROM qp JOIN a3 ON a3.cid = qp.cid
               WHERE a3.vec_id <> qp.qid),
      s AS (SELECT cand.qid, cand.nid,
              list_dot_product(q.vd, n.vd) /
                (sqrt(list_dot_product(q.vd, q.vd)) *
                 sqrt(list_dot_product(n.vd, n.vd))) AS cos
            FROM cand JOIN v q ON q.vec_id = cand.qid
                      JOIN v n ON n.vec_id = cand.nid),
      r AS (SELECT qid, nid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id,
             ROUND(cos, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))

  /** Multimodal resize stage (media schema → media schema): stride
    * byte-downsample to <= 64 bytes, then re-extract features from the
    * resized payloads — two composed mapPartitions stages. The oracle
    * recomputes the stride sampling and checksum from the source
    * text's codepoints (payloads are ASCII), so the resize transform
    * itself is differentially verified, not just its row count.
    */
  val q39 = Q(
    "q39_media_resize",
    (spark, dir) => {
      val media = Multimodal.asMedia(
        Tables(spark, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", modality = "image", format = "utf8")
      Multimodal.extractFeatures(Multimodal.resize(media, targetBytes = 64))
        .select(col("media_id"), col("n_bytes"), col("checksum"))
        .orderBy(col("media_id"))
    },
    Some("""
      WITH codes_t AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), ch -> unicode(ch)) AS codes,
               len(string_split(text, '')) AS n
        FROM documents WHERE doc_id < 200),
      resized AS (
        SELECT doc_id,
               CASE WHEN n <= 64 THEN codes
                    ELSE list_transform(
                      range(0, ((n - 1) // ((n + 63) // 64)) + 1),
                      j -> codes[j * ((n + 63) // 64) + 1])
               END AS rc
        FROM codes_t)
      SELECT doc_id AS media_id,
             CAST(len(rc) AS INT) AS n_bytes,
             list_reduce(list_prepend(0::BIGINT, rc),
               (a, c) -> (a * 31 + c) % 1000000007) AS checksum
      FROM resized
      ORDER BY media_id"""))

  /** Multimodal frame-sample stage (one row per sampled fixed-size
    * frame — the video-keyframe fan-out): 32-byte frames, every 3rd
    * kept, per-frame checksum. Map-side explode, no shuffle; oracle
    * recomputes every sampled frame slice exactly.
    */
  val q40 = Q(
    "q40_frame_sample",
    (spark, dir) => {
      val media = Multimodal.asMedia(
        Tables(spark, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", modality = "video", format = "utf8")
      Multimodal.frameSample(media, frameSize = 32, everyN = 3)
        .select(col("media_id"), col("frame_idx"), col("n_bytes"),
          col("checksum"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
    Some("""
      WITH codes_t AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), ch -> unicode(ch)) AS codes,
               len(string_split(text, '')) AS n
        FROM documents WHERE doc_id < 100),
      frames AS (
        SELECT doc_id, CAST(j AS INT) AS frame_idx,
               list_slice(codes, j * 32 + 1, least((j + 1) * 32, n)) AS fc
        FROM codes_t, UNNEST(range(0, (n + 31) // 32)) AS t(j)
        WHERE j % 3 = 0)
      SELECT doc_id AS media_id, frame_idx,
             CAST(len(fc) AS INT) AS n_bytes,
             list_reduce(list_prepend(0::BIGINT, fc),
               (a, c) -> (a * 31 + c) % 1000000007) AS checksum
      FROM frames
      ORDER BY media_id, frame_idx"""))

  /** The composed training-data prep pipeline — the end-to-end shape a
    * corpus run actually executes, chaining the §2.6 operators: exact
    * dedup (keep lowest doc_id per distinct text) → quality floor →
    * language allowlist → per-language token budget (greedy by doc_id
    * order). Every stage is deterministic, so the whole composition is
    * one differential test: the oracle re-runs the same pipeline
    * relationally.
    */
  val q49 = {
    val langs = Seq("en", "es")
    val quality = 0.5
    val budget = 50000L
    Q(
      "q49_corpus_prep",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val ws = TextOps.words(col("text"))
        val keep = Dedup.exact(docs, "text", "doc_id").select("doc_id")
        // keep is broadcast-small, so the probe side keeps its scan
        // partitioning — fan out so the quality/token kernels after
        // the join don't inherit a single-row-group's one task
        val scored = graft.operators.FanOut(docs).join(keep, "doc_id")
          .withColumn("score", TextOps.qualityScoreFast(ws))
          .withColumn("n_tokens", size(ws).cast("long"))
          .filter(col("score") >= quality && col("lang").isin(langs: _*))
        // greedy per-language budget: running token total in doc_id
        // order. Bucket-decomposed (operators/OrderedScan) — a plain
        // partitionBy(lang) window would serialize each language onto
        // one task; this runs langs × buckets tasks plus a tiny stitch.
        graft.operators.OrderedScan.runningTotal(scored,
            key = col("lang"), ord = Seq(col("doc_id")),
            value = col("n_tokens"), bucket = floor(col("doc_id") / 500),
            as = "running")
          .filter(col("running") <= budget)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tokens"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      scored AS (
        SELECT d.doc_id, d.lang,
               len(string_split(d.text,' '))::BIGINT AS n_tokens,
               least(len(string_split(d.text,' '))/100.0, 1.0) * 0.5 +
               least((len(list_filter(string_split(d.text,' '),
                       w -> w IN ('the','a','of','and','to','in','is','on','that','it')))::DOUBLE
                     / len(string_split(d.text,' '))) * 10.0, 1.0) * 0.5 AS score
        FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
      filtered AS (
        SELECT * FROM scored
        WHERE score >= $quality AND lang IN (${langs.map(l => s"'$l'").mkString(",")})),
      budgeted AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS running
        FROM filtered)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             MAX(doc_id) AS last_doc
      FROM budgeted
      WHERE running <= $budget
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** Deterministic corpus splits — the ClickHouse SAMPLE-by-hash
    * analog and the reproducible train/val/test assignment a training
    * pipeline needs: each doc lands in a split by an md5 bucket of its
    * id (18/1/1 of 20). Hash assignment is stable under reruns,
    * insertion order, and cluster size — unlike `.sample()`, whose
    * output depends on partitioning — and recomputable by any engine,
    * so the whole split is differentially verified. Map-side only;
    * the aggregate is the sole shuffle.
    */
  val q54 = {
    val buckets = 20
    Q(
      "q54_hash_split",
      (spark, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long") % buckets
        val split = when(bucket < buckets - 2, "train")
          .when(bucket === buckets - 2, "val").otherwise("test")
        Tables(spark, dir, "documents")
          .withColumn("split", split)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextOps.words(col("text"))).cast("long")).as("n_tokens"))
          .orderBy(col("split"))
      },
      Some(s"""
      WITH b AS (
        SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % $buckets AS bucket,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents)
      SELECT CASE WHEN bucket < ${buckets - 2} THEN 'train'
                  WHEN bucket = ${buckets - 2} THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM b
      GROUP BY 1
      ORDER BY split"""))
  }

  /** Near-dup CLUSTER collapse: the step after q24's pair discovery —
    * connected components over the verified near-dup graph
    * (transitivity: a~b, b~c ⇒ one cluster {a,b,c}), one canonical
    * doc (minimum id) per cluster. This is what an actual dedup run
    * keeps/drops by. Spark side: MinHash-LSH pairs → union-find
    * (Dedup.connectedComponents). Oracle:
    * exact all-pairs Jaccard pairs → recursive-CTE transitive
    * closure → min reachable label — a full differential test of
    * pairs AND clustering.
    */
  val q55 = Q(
    "q55_dedup_clusters",
    (spark, dir) => {
      val pairs = Dedup.minhashNearDups(Tables(spark, dir, "documents"),
        "text", "doc_id", threshold = 0.5)
      Dedup.connectedComponents(pairs, "a", "b")
        .select(col("node").as("doc_id"), col("canon").as("canon_id"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a, b FROM cand
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5),
      e AS (SELECT a AS u, b AS v FROM pairs
            UNION SELECT b, a FROM pairs),
      reach(node, lab) AS (
        SELECT DISTINCT u, u FROM e
        UNION
        SELECT e.v, r.lab FROM reach r JOIN e ON e.u = r.node)
      SELECT node AS doc_id, MIN(lab) AS canon_id
      FROM reach
      GROUP BY node
      ORDER BY doc_id"""))

  /** Filtered vector search — the retrieval-with-metadata-predicates
    * composition (lang allowlist + quality floor on `documents`,
    * cosine top-5 over the matching `embeddings`): filter-THEN-search,
    * so the predicate prunes the corpus scan and exactness is
    * preserved — post-filtering an ANN result list instead loses
    * recall whenever a near neighbor fails the predicate. Spans both
    * tables (vec_id = doc_id), eligible ids joined into the corpus
    * before the broadcast-query scan; the whole composition is
    * oracle-recomputed.
    */
  val q58 = Q(
    "q58_filtered_topk",
    (spark, dir) => {
      val ws = TextOps.words(col("text"))
      val eligible = Tables(spark, dir, "documents")
        .withColumn("score", TextOps.qualityScoreFast(ws))
        .filter(col("lang") === "en" && col("score") >= 0.5)
        .select(col("doc_id"))
      val emb = Tables(spark, dir, "embeddings")
      val corpus = emb.join(eligible, emb("vec_id") === eligible("doc_id"))
        .select(emb("vec_id"), emb("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                  FROM documents),
      sc AS (SELECT doc_id, lang,
               least(len(w)/100.0, 1.0) * 0.5 +
               least((len(list_filter(w,
                       x -> x IN ('the','a','of','and','to','in','is','on','that','it')))::DOUBLE
                     / len(w)) * 10.0, 1.0) * 0.5 AS score
             FROM ws),
      elig AS (SELECT doc_id FROM sc WHERE lang = 'en' AND score >= 0.5),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      corpus AS (SELECT e.vec_id, e.v FROM e JOIN elig ON e.vec_id = elig.doc_id),
      qs AS (SELECT * FROM e WHERE vec_id < 10),
      s AS (SELECT qs.vec_id AS qid, c.vec_id AS nid,
              list_dot_product(qs.v, c.v) /
                (sqrt(list_dot_product(qs.v, qs.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM qs JOIN corpus c ON c.vec_id <> qs.vec_id),
      r AS (SELECT qid, nid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id,
             ROUND(cos, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))

  /** Media near-dup — the multimodal × similarity composition: opaque
    * payload bytes → per-partition feature extraction (the byte-value
    * histogram is a REAL deterministic feature, not a codec stub) →
    * normalized-cosine near-dup pairs over the feature vectors. The
    * full chain (binary encode, mapPartitions batch iterator, feature
    * schema, triangle scan) is differentially verified: the oracle
    * recomputes histograms from the source text's codepoints (payloads
    * are ASCII) and the exact quadratic cosine.
    */
  val q61 = Q(
    "q61_media_neardup",
    (spark, dir) => {
      val media = Multimodal.asMedia(
        Tables(spark, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", modality = "image", format = "utf8")
      val feats = Multimodal.extractFeatures(media)
        .select(col("media_id"), col("hist").cast("array<double>").as("v"))
      Similarity.cosineNearDups(feats, "media_id", "v",
          threshold = 0.999, maxId = 500L)
        .orderBy(col("a"), col("b"))
    },
    Some(s"""
      WITH codes_t AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), ch -> unicode(ch)) AS codes
        FROM documents WHERE doc_id < 500),
      h AS (
        SELECT doc_id,
               list_transform(range(0, ${Multimodal.HistBins}),
                 j -> len(list_filter(codes, c -> c % ${Multimodal.HistBins} = j))::DOUBLE) AS v
        FROM codes_t)
      SELECT a.doc_id AS a, b.doc_id AS b,
             ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999
      ORDER BY a, b"""))

  /** Benchmark decontamination — the train/test-overlap removal every
    * published LLM data pipeline runs before training (n-gram overlap
    * against held-out benchmark text; the GPT-3/Pile-style criterion):
    * a training doc is CONTAMINATED if it shares at least one word
    * 5-gram with any benchmark document. The benchmark set here is the
    * deterministic `doc_id % 7 == 0` slice, standing in for an
    * external eval corpus.
    *
    * Scale shape: the benchmark side is tiny by construction (eval
    * sets are thousands of docs, the corpus is billions), so its
    * distinct shingles BROADCAST and the corpus runs a map-side
    * left-semi probe — the 100 TB scan never shuffles; only the
    * matched (doc_id, lang) survivors (sparse by nature) hit the
    * distinct's exchange. Exact string equality on the shingle — no
    * hashing — keeps the operator differentially verifiable row-for-row.
    */
  val q65 = {
    val n = 5
    val benchMod = 7
    Q(
      "q65_decontaminate",
      (spark, dir) => {
        // sh feeds both the benchmark side and the corpus probe;
        // persisted so the scan + shingle kernel run once, not twice
        val sh = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            explode(TextOps.shinglesKernel(n)(TextOps.words(col("text"))))
              .as("s"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bench = sh.filter(col("doc_id") % benchMod === 0)
          .select(col("s")).distinct()
        sh.filter(col("doc_id") % benchMod =!= 0)
          .join(broadcast(bench), Seq("s"), "left_semi")
          .select(col("doc_id"), col("lang")).distinct()
          .orderBy(col("doc_id"))
      },
      Some(s"""
      WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id, lang,
               list_aggregate(ws[i:i+${n - 1}], 'string_agg', ' ') AS s
             FROM w, UNNEST(range(1, len(ws)-${n - 2})) AS t(i)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $benchMod = 0)
      SELECT DISTINCT sh.doc_id, sh.lang
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % $benchMod <> 0
      ORDER BY doc_id"""))
  }

  /** Within-document repetition — the repeated-n-gram quality filter
    * (the Gopher-style "fraction of duplicate 3-grams" signal): a doc
    * whose 3-grams are mostly repeats of each other is boilerplate or
    * degenerate generation, independent of the length/stopword signals
    * in q27. rep = 1 − distinct/total over word 3-grams (0 for docs
    * too short to have one). Pure map-side per-row work — one shingle
    * kernel pass per doc, then a per-lang aggregate; the only shuffle
    * is the 5-group final agg. Every aggregate is an exact integer sum
    * (counts of n-grams), and the corpus-level ratio is ONE double
    * division of exact longs at the end — bit-identical across engines
    * with no decimal-rounding traffic (a davg over per-doc ratios
    * would truncate 1/52-style values at the 6th decimal place, where
    * Spark and DuckDB can round midpoints differently).
    */
  val q66 = {
    val n = 3
    val flagAt = 0.2
    Q(
      "q66_repetition",
      (spark, dir) => {
        val ws = TextOps.words(col("text"))
        val total = greatest(size(ws) - (n - 1), lit(0))
        val distinctN = size(TextOps.shinglesKernel(n)(ws))
        val rep = when(col("total") > 0,
          (col("total") - col("dist")).cast("double") / col("total"))
          .otherwise(lit(0.0))
        graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            total.cast("long").as("total"), distinctN.cast("long").as("dist"))
          .withColumn("rep", rep)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rep") > flagAt, 1L).otherwise(0L)).as("n_repetitive"),
            sum(col("total")).as("ngrams"),
            sum(col("total") - col("dist")).as("dup_ngrams"))
          .withColumn("dup_ratio",
            col("dup_ngrams").cast("double") / col("ngrams"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                 FROM documents),
      c AS (SELECT doc_id, lang,
              greatest(len(ws) - ${n - 1}, 0) AS total,
              (SELECT count(DISTINCT list_aggregate(ws[i:i+${n - 1}],
                                                    'string_agg', ' '))
               FROM UNNEST(range(1, len(ws)-${n - 2})) AS t(i)) AS dist
            FROM w),
      r AS (SELECT lang, total, dist,
              CASE WHEN total > 0
                   THEN (total - dist)::DOUBLE / total ELSE 0.0 END AS rep
            FROM c)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN rep > $flagAt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repetitive,
             CAST(SUM(total) AS BIGINT) AS ngrams,
             CAST(SUM(total - dist) AS BIGINT) AS dup_ngrams,
             CAST(SUM(total - dist) AS DOUBLE) / SUM(total) AS dup_ratio
      FROM r
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** Sequence packing — the concat-and-chunk step that turns a
    * filtered corpus into fixed-size training sequences: documents are
    * concatenated per language in doc_id order and cut at absolute
    * `chunkTokens` boundaries (docs spanning a boundary are split;
    * the standard packing discipline for autoregressive pretraining —
    * next-fit-without-split is NOT used at scale precisely because its
    * running-sum-with-reset is inherently sequential). Every per-doc
    * quantity derives from the inclusive running token total: first
    * chunk floor((running−n)/C), last chunk floor((running−1)/C) —
    * so the whole operator is one OrderedScan.runningTotal (bucket-
    * decomposed, langs × buckets parallelism, no serial per-lang
    * window) plus exact integer arithmetic, differentially verifiable
    * to the row.
    */
  val q67 = {
    val chunkTokens = 2048L
    Q(
      "q67_pack_chunks",
      (spark, dir) => {
        val ws = TextOps.words(col("text"))
        val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("lang"), size(ws).cast("long").as("n_tokens"))
        val packed = graft.operators.OrderedScan.runningTotal(docs,
            key = col("lang"), ord = Seq(col("doc_id")),
            value = col("n_tokens"), bucket = floor(col("doc_id") / 500),
            as = "running")
          // `div` (integer division), not `/`: long `/` routes through
          // double, which is only exact below 2^53 — fine at harness
          // scale, a silent precision cliff at corpus scale
          .withColumn("first_chunk",
            expr(s"(running - n_tokens) div $chunkTokens"))
          .withColumn("last_chunk", expr(s"(running - 1) div $chunkTokens"))
        packed.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            expr(s"(sum(n_tokens) - 1) div $chunkTokens + 1")
              .as("n_chunks"),
            sum(when(col("last_chunk") =!= col("first_chunk"), 1L)
              .otherwise(0L)).as("n_split_docs"),
            max(col("last_chunk") - col("first_chunk") + 1).as("max_span"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH d AS (SELECT doc_id, lang,
                   len(string_split(text, ' '))::BIGINT AS n_tokens
                 FROM documents),
      r AS (SELECT lang, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS running
            FROM d),
      c AS (SELECT lang, n_tokens, running,
              (running - n_tokens) // $chunkTokens AS first_chunk,
              (running - 1) // $chunkTokens AS last_chunk
            FROM r)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST((SUM(n_tokens) - 1) // $chunkTokens + 1 AS BIGINT)
               AS n_chunks,
             CAST(SUM(CASE WHEN last_chunk <> first_chunk THEN 1 ELSE 0 END)
               AS BIGINT) AS n_split_docs,
             CAST(MAX(last_chunk - first_chunk + 1) AS BIGINT) AS max_span
      FROM c
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** Per-source frequency capping — the "at most K documents per
    * domain" filter (the CommonCrawl per-domain cap that stops a few
    * crawl-heavy sites from dominating the training mix). Keeps the K
    * lowest-doc_id docs per source, deterministically. The rank is a
    * running COUNT per source in doc_id order — one
    * OrderedScan.runningTotal with value 1 (bucket-decomposed,
    * sources × buckets parallelism), NOT a per-source row_number
    * window, which would serialize each source's full history onto
    * one task (20 sources ⇒ 20 tasks on any cluster).
    */
  val q68 = {
    val cap = 15
    Q(
      "q68_source_cap",
      (spark, dir) => {
        val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("source"),
            size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
        graft.operators.OrderedScan.runningTotal(docs,
            key = col("source"), ord = Seq(col("doc_id")),
            value = lit(1L), bucket = floor(col("doc_id") / 500),
            as = "rk")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rk") <= cap, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rk") <= cap, col("n_tokens")).otherwise(0L))
              .as("kept_tokens"),
            max(when(col("rk") <= cap, col("doc_id"))).as("last_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
      WITH r AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN rk <= $cap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN rk <= $cap THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens,
             MAX(CASE WHEN rk <= $cap THEN doc_id END) AS last_kept
      FROM r
      GROUP BY source
      ORDER BY source"""))
  }

  /** Deterministic weighted mixture sampling — the per-language
    * up/down-sampling step that turns a raw corpus into a training
    * mix (e.g. keep all English, half the German, a quarter of the
    * French). Membership is an md5 bucket of the doc id against the
    * language's rate — the q54 discipline: stable under reruns,
    * insertion order, partitioning, and cluster size, and
    * recomputable by any engine, unlike `.sample()`. Pure map-side;
    * the per-lang aggregate is the only shuffle. Realized rates are
    * ONE double division of exact longs at the end.
    */
  val q69 = {
    val rates = Seq("en" -> 100, "de" -> 50, "es" -> 50, "fr" -> 25, "zh" -> 25)
    Q(
      "q69_mixture_sample",
      (spark, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long") % 100
        val rate = rates.foldRight(lit(0): org.apache.spark.sql.Column) {
          case ((l, r), els) => when(col("lang") === l, lit(r)).otherwise(els)
        }
        graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("lang"),
            size(TextOps.words(col("text"))).cast("long").as("n_tokens"),
            (bucket < rate).as("in_mix"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("in_mix"), 1L).otherwise(0L)).as("n_sampled"),
            sum(when(col("in_mix"), col("n_tokens")).otherwise(0L))
              .as("sampled_tokens"))
          .withColumn("realized",
            col("n_sampled").cast("double") / col("n_docs"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH b AS (
        SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents),
      r AS (
        SELECT lang, n_tokens, bucket,
               CASE ${rates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
                 .mkString(" ")} ELSE 0 END AS rate
        FROM b)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             CAST(SUM(CASE WHEN bucket < rate THEN n_tokens ELSE 0 END)
               AS BIGINT) AS sampled_tokens,
             CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS realized
      FROM r
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** Per-language vocabulary top-K — the corpus term-frequency rank a
    * tokenizer/vocab build starts from, stopwords excluded. Exact
    * integer counts with a deterministic count-desc/word-asc tiebreak
    * (no idf doubles — ln() ulps differ across engines and would
    * poison the hash compare). Plan shape: partial-agg collapse on
    * (lang, word), then the q56 two-level top-N — top-K per
    * (lang, word-hash-bucket), provably a superset of the per-lang
    * top-K, then rank the ≤ K×32 survivors. Never a per-lang window
    * over the full vocabulary histogram.
    */
  val q70 = {
    val k = 5
    val stop = TextOps.stopwords.head._2 // the "en" markers double as the stoplist
    Q(
      "q70_vocab_topk",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("lang"),
            explode(TextOps.words(col("text"))).as("word"))
          .filter(!col("word").isin(stop.map(_.asInstanceOf[Any]): _*))
          .groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("cnt"))
        val w1 = Window.partitionBy(col("lang"), pmod(xxhash64(col("word")), lit(32)))
          .orderBy(col("cnt").desc, col("word").asc)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("word").asc)
        counts.withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
          .select(col("lang"), col("rk").cast("long").as("rk"),
            col("word"), col("cnt"))
          .orderBy(col("lang"), col("rk"))
      },
      Some(s"""
      WITH t AS (SELECT lang, UNNEST(string_split(text, ' ')) AS word
                 FROM documents),
      c AS (SELECT lang, word, COUNT(*) AS cnt FROM t
            WHERE word NOT IN (${stop.map(s => s"'$s'").mkString(",")})
            GROUP BY lang, word),
      r AS (SELECT lang, word, cnt,
              ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY cnt DESC, word) AS rk
            FROM c)
      SELECT lang, rk, word, CAST(cnt AS BIGINT) AS cnt
      FROM r WHERE rk <= $k
      ORDER BY lang, rk"""))
  }

  /** Cross-document span dedup — the C4/RefinedWeb "drop spans that
    * also occur in another document" signal, over non-overlapping
    * 3-word chunks WITH multiplicity (q66 is within-doc repetition;
    * q65 is train-vs-bench containment; this is corpus-internal span
    * sharing). A span is shared when it appears in ≥2 distinct docs —
    * detected as min(doc_id) ≠ max(doc_id) per span: one partial-agg
    * pass, no count-distinct expansion. The shared-span dictionary
    * left-semi-joins the chunk stream as a PLAIN keyed join — no
    * broadcast hint, because the shared-span set is O(duplicated-span
    * volume of the corpus), not a dimension table (the q95 lesson);
    * AQE still broadcasts it at runtime when it measures small.
    * Exact strings throughout — no hashing — so the whole operator
    * is differentially verified.
    */
  val q71 = {
    val w = 3
    Q(
      "q71_span_dedup",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        // ch feeds both the shared-span aggregate and the probe side;
        // persisted so the scan + chunk kernel run once, not twice
        // (Bench/Verify unpersist leftovers between queries)
        val ch = graft.operators.FanOut(docs)
          .select(col("doc_id"), col("lang"),
            explode(TextOps.chunksKernel(w)(TextOps.words(col("text"))))
              .as("span"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val shared = ch.groupBy(col("span"))
          .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
          .filter(col("lo") =!= col("hi"))
          .select(col("span"))
        val perdoc = ch.join(shared, Seq("span"), "left_semi")
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("shared_occ"))
        val perLang = perdoc.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs_shared"),
            sum(col("shared_occ")).as("shared_occurrences"))
        docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .join(perLang, Seq("lang"), "left_outer")
          .select(col("lang"), col("n_docs"),
            coalesce(col("n_docs_shared"), lit(0L)).as("n_docs_shared"),
            coalesce(col("shared_occurrences"), lit(0L))
              .as("shared_occurrences"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH wd AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                  FROM documents),
      ch AS (SELECT doc_id, lang,
               list_aggregate(ws[(i-1)*$w+1:(i-1)*$w+$w], 'string_agg', ' ')
                 AS span
             FROM wd, UNNEST(range(1, len(ws)//$w + 1)) AS t(i)),
      shared AS (SELECT span FROM ch GROUP BY span
                 HAVING MIN(doc_id) <> MAX(doc_id)),
      hit AS (SELECT ch.doc_id, ch.lang FROM ch JOIN shared USING (span)),
      perdoc AS (SELECT doc_id, lang, COUNT(*) AS shared_occ
                 FROM hit GROUP BY doc_id, lang)
      SELECT wd.lang, COUNT(*) AS n_docs,
             CAST(COUNT(perdoc.doc_id) AS BIGINT) AS n_docs_shared,
             CAST(COALESCE(SUM(perdoc.shared_occ), 0) AS BIGINT)
               AS shared_occurrences
      FROM wd LEFT JOIN perdoc ON wd.doc_id = perdoc.doc_id
      GROUP BY wd.lang
      ORDER BY wd.lang"""))
  }

  /** Fixed-size stratified sampling — exactly K docs per language
    * (fewer iff the stratum is smaller), the eval-set / human-review
    * draw every pipeline needs. Where q69 samples at a RATE (output
    * size varies with the corpus), this draws a fixed COUNT. The draw
    * is the K lexicographically-smallest md5(doc_id) values per
    * stratum — deterministic, engine-recomputable, unbiased w.r.t.
    * any document attribute. No global or per-stratum sort: rank is a
    * running count over hash order via OrderedScan.runningTotal,
    * bucket = first hex digit (16 buckets/stratum, monotone in the
    * hash — hex chars 0-9a-f sort identically in ASCII and by value).
    */
  val q72 = {
    val k = 25
    Q(
      "q72_stratified_sample",
      (spark, dir) => {
        val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("lang"), col("doc_id"),
            size(TextOps.words(col("text"))).cast("long").as("n_tokens"),
            md5(col("doc_id").cast("string")).as("h"))
        graft.operators.OrderedScan.runningTotal(docs,
            key = col("lang"), ord = Seq(col("h"), col("doc_id")),
            value = lit(1L),
            bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
            as = "rk")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rk") <= k, 1L).otherwise(0L)).as("n_sampled"),
            sum(when(col("rk") <= k, col("n_tokens")).otherwise(0L))
              .as("sampled_tokens"),
            max(when(col("rk") <= k, col("h"))).as("threshold_hash"))
          .orderBy(col("lang"))
      },
      Some(s"""
      WITH h AS (
        SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents),
      r AS (
        SELECT lang, h, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        FROM h)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN rk <= $k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             CAST(SUM(CASE WHEN rk <= $k THEN n_tokens ELSE 0 END) AS BIGINT)
               AS sampled_tokens,
             MAX(CASE WHEN rk <= $k THEN h END) AS threshold_hash
      FROM r
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** Per-label embedding centroids — the class-prototype computation
    * under clustering, retrieval calibration, and drift monitoring.
    * Plan shape: posexplode → (label, dim) partial sums — the
    * fixed-point update Similarity.lloydCentroids computes per round
    * (there as per-(cluster, dim) long sums in one treeAggregate),
    * here surfaced as an oracle-checked query. Components go
    * through floor(x·1e6) fixed point (the q57 discipline: float→
    * double is exact, the double multiply and floor agree across
    * engines), so every sum is an exact integer and the centroid is
    * ONE double division at the end.
    */
  val q73 = Q(
    "q73_label_centroids",
    (spark, dir) => {
      val x = graft.operators.FanOut(Tables(spark, dir, "embeddings"))
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("label"), (col("pos0") + 1).as("pos"),
          floor(col("v").cast("double") * 1e6).cast("long").as("fp"))
      x.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("fp")).as("s"))
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"), col("n"),
          (col("s").cast("double") / (col("n") * lit(1e6))).as("centroid"))
        .orderBy(col("label"), col("pos"))
    },
    Some("""
      WITH x AS (
        SELECT label, pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1e6) AS BIGINT)
                 AS fp
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(pos))
      SELECT CAST(label AS BIGINT) AS label, pos, COUNT(*) AS n,
             CAST(SUM(fp) AS DOUBLE) / (COUNT(*) * 1e6) AS centroid
      FROM x
      GROUP BY label, pos
      ORDER BY label, pos"""))

  /** Per-label coherence — the mean pairwise cosine within each label
    * (embeddings are unit-norm, so pairwise dot IS cosine), the
    * cluster-quality / label-noise signal over n·(n−1)/2 pairs
    * computed WITHOUT any pairwise work: Σ_pairs u·v =
    * (|Σv|² − Σ|v|²)/2, so the whole statistic derives from the same
    * (label, dim) partial sums as q73. Fixed-point components keep
    * every sum an exact integer (decimal accumulators — per-dim sums
    * square past int64 at corpus scale); the two final double
    * divisions are the only rounding, identical across engines.
    */
  val q74 = Q(
    "q74_label_coherence",
    (spark, dir) => {
      val x = graft.operators.FanOut(Tables(spark, dir, "embeddings"))
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("label"), col("pos0").as("pos"),
          floor(col("v").cast("double") * 1e6).cast("long").as("fp"))
      val d = x.groupBy(col("label"), col("pos"))
        .agg(sum(col("fp").cast("decimal(38,0)")).as("s"),
          sum((col("fp") * col("fp")).cast("decimal(38,0)")).as("q"),
          count(lit(1)).as("nrows"))
      d.groupBy(col("label"))
        .agg(sum(col("s") * col("s")).cast("double").as("sum_s2"),
          sum(col("q")).cast("double").as("sum_q"),
          max(col("nrows")).as("n"))
        .select(col("label").cast("long").as("label"), col("n"),
          (col("sum_q") / (col("n") * lit(1e12))).as("mean_norm2"),
          ((col("sum_s2") - col("sum_q")) /
            (col("n").cast("double") * (col("n") - 1) * lit(1e12)))
            .as("mean_pair_cos"))
        .orderBy(col("label"))
    },
    Some("""
      WITH x AS (
        SELECT label, pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1e6) AS BIGINT)
                 AS fp
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(pos)),
      d AS (
        SELECT label, pos, SUM(fp) AS s, SUM(fp*fp) AS q, COUNT(*) AS nrows
        FROM x GROUP BY label, pos),
      l AS (
        SELECT label, CAST(SUM(s*s) AS DOUBLE) AS sum_s2,
               CAST(SUM(q) AS DOUBLE) AS sum_q, MAX(nrows) AS n
        FROM d GROUP BY label)
      SELECT CAST(label AS BIGINT) AS label, n,
             sum_q / (n * 1e12) AS mean_norm2,
             (sum_s2 - sum_q) / (CAST(n AS DOUBLE) * (n-1) * 1e12)
               AS mean_pair_cos
      FROM l
      ORDER BY label"""))

  /** Incremental exact dedup — the ingest-time "dedup today's crawl
    * against the landed corpus" workflow (q21 is the one-shot batch
    * form). History = doc_id % 3 ≠ 0, incoming = doc_id % 3 = 0;
    * the incoming batch collapses within itself (lowest id wins),
    * then anti-joins the history DIGEST set — document bodies never
    * shuffle, and at scale the history digest table is maintained
    * incrementally and bucketed so the anti join is exchange-free.
    */
  val q75 = Q(
    "q75_incremental_dedup",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      Dedup.incrementalExact(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH inc AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, text
        FROM documents WHERE doc_id % 3 = 0 GROUP BY text)
      SELECT doc_id, n_copies
      FROM inc
      WHERE NOT EXISTS (SELECT 1 FROM documents h
                        WHERE h.doc_id % 3 <> 0 AND h.text = inc.text)
      ORDER BY doc_id"""))

  /** Incremental near-dup — q75's MinHash twin: flag incoming docs
    * (doc_id % 3 = 0) that near-duplicate the landed corpus at
    * Jaccard ≥ 0.5. Incoming band keys probe the history band index
    * (incrementally maintained and bucketed at scale — only the
    * incoming batch shuffles); candidates verify on exact shingle
    * sets. The oracle recomputes the exact cross-side all-pairs
    * Jaccard via the shared-shingle join, so recall is differentially
    * proven, not assumed.
    */
  val q76 = Q(
    "q76_incremental_neardup",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      Dedup.incrementalMinhash(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id", threshold = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM sh x JOIN sh y ON x.s = y.s
                WHERE x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      j AS (SELECT a, inter*1.0/(sa.n + sb.n - inter) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5)
      SELECT a AS doc_id, COUNT(*) AS n_matches, MAX(jaccard) AS best_jaccard
      FROM j
      GROUP BY a
      ORDER BY doc_id"""))

  /** Table statistics — the ANALYZE / system.columns analog: per
    * column, row/null/exact-distinct counts and min/max, from ONE
    * scan producing ONE aggregate row (unpivoted driver-side — a
    * 6-value row per column, never a per-column rescan). min/max
    * render as strings so every column fits one schema; documents'
    * columns are int64/string, where string rendering is
    * deterministic across engines.
    */
  val q77 = Q(
    "q77_table_stats",
    (spark, dir) =>
      graft.operators.Analyze.stats(Tables(spark, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
        .orderBy(col("column")),
    Some("""
      WITH s AS (
        SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
               COUNT(*) - COUNT(doc_id) AS n_null,
               COUNT(DISTINCT doc_id) AS n_distinct,
               CAST(MIN(doc_id) AS VARCHAR) AS min,
               CAST(MAX(doc_id) AS VARCHAR) AS max FROM documents
        UNION ALL
        SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
               COUNT(DISTINCT lang),
               MIN(lang), MAX(lang) FROM documents
        UNION ALL
        SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
               COUNT(DISTINCT n_chars),
               CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
               COUNT(DISTINCT source),
               MIN(source), MAX(source) FROM documents
        UNION ALL
        SELECT 'text', COUNT(*), COUNT(*) - COUNT(text),
               COUNT(DISTINCT text),
               MIN(text), MAX(text) FROM documents)
      SELECT * FROM s ORDER BY "column""""))

  /** Blocklist scrub — the PII-redaction machinery (the term list
    * stands in for email/phone/profanity patterns, chosen from the
    * synthetic corpus's vocabulary so the scrub actually fires): ONE
    * compiled whole-word alternation evaluated by codegen'd
    * regexp_count / regexp_replace — no UDF, no per-term pass. The
    * md5 of every scrubbed text folds into per-source min/max, so the
    * oracle differentially verifies the redacted CONTENT, not just
    * the hit counts.
    */
  val q78 = {
    val terms = Seq("customer", "vector", "merge")
    val repl = "[REDACTED]"
    val pat = TextOps.scrubPattern(terms)
    Q(
      "q78_blocklist_scrub",
      (spark, dir) => {
        val scrubbed = TextOps.scrubText(col("text"), terms, repl)
        Tables(spark, dir, "documents")
          .select(col("source"),
            TextOps.scrubHits(col("text"), terms).as("hits"),
            md5(scrubbed).as("h"),
            (length(col("text")) - length(scrubbed)).cast("long")
              .as("delta"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
            sum(col("hits").cast("long")).as("total_hits"),
            sum(col("delta")).as("chars_delta"),
            min(col("h")).as("min_h"),
            max(col("h")).as("max_h"))
          .orderBy(col("source"))
      },
      Some(s"""
      WITH s AS (
        SELECT source,
               len(regexp_extract_all(text, '$pat')) AS hits,
               md5(regexp_replace(text, '$pat', '$repl', 'g')) AS h,
               len(text) - len(regexp_replace(text, '$pat', '$repl', 'g'))
                 AS delta
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_hit,
             CAST(SUM(hits) AS BIGINT) AS total_hits,
             CAST(SUM(delta) AS BIGINT) AS chars_delta,
             MIN(h) AS min_h, MAX(h) AS max_h
      FROM s
      GROUP BY source
      ORDER BY source"""))
  }

  /** Overlapping sliding-window chunking — the training-sequence /
    * RAG-index cutter (w-word windows every s words, s < w ⇒ overlap
    * carries context across boundaries; tail chunks run short rather
    * than dropping words). Chunk md5s fold into per-language min/max
    * so chunk CONTENT is differentially verified, like q78.
    */
  val q79 = {
    val w = 8
    val s = 5
    Q(
      "q79_sliding_chunks",
      (spark, dir) =>
        graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("lang"),
            explode(TextOps.slidingChunksKernel(w, s)(
              TextOps.words(col("text")))).as("chunk"))
          .select(col("lang"),
            size(split(col("chunk"), " ")).cast("long").as("n_words"),
            md5(col("chunk")).as("h"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("n_words")).as("chunk_words"),
            sum(when(col("n_words") === w, 1L).otherwise(0L))
              .as("full_chunks"),
            min(col("h")).as("min_h"),
            max(col("h")).as("max_h"))
          .orderBy(col("lang")),
      Some(s"""
      WITH wd AS (SELECT lang, string_split(text, ' ') AS ws
                  FROM documents),
      ch AS (SELECT lang,
               list_aggregate(ws[(i-1)*$s+1:(i-1)*$s+$w], 'string_agg', ' ')
                 AS chunk
             FROM wd, UNNEST(range(1, (len(ws)-1)//$s + 2)) AS t(i)),
      m AS (SELECT lang, len(string_split(chunk, ' '))::BIGINT AS n_words,
              md5(chunk) AS h
            FROM ch)
      SELECT lang, COUNT(*) AS n_chunks,
             CAST(SUM(n_words) AS BIGINT) AS chunk_words,
             CAST(SUM(CASE WHEN n_words = $w THEN 1 ELSE 0 END) AS BIGINT)
               AS full_chunks,
             MIN(h) AS min_h, MAX(h) AS max_h
      FROM m
      GROUP BY lang
      ORDER BY lang"""))
  }

  /** kNN label propagation — pseudo-label the held-out slice
    * (vec_id % 10 = 0) from the labeled remainder by majority vote of
    * the 5 nearest cosine neighbors; the weak-labeling / label-noise
    * audit step of a training-data pipeline. Query side broadcasts,
    * corpus scans once (the q23 shape); the vote aggregate ships only
    * (query × k) integer rows, and every output column is integral,
    * so the whole classifier is oracle-exact end to end.
    */
  val q80 = Q(
    "q80_knn_label",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      Similarity.knnClassify(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("pred_label").cast("long").as("pred_label"),
          col("votes"), col("best_rank").cast("long").as("best_rank"))
        .orderBy(col("query_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id % 10 = 0),
      c AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS nid, c.label AS nlabel,
              list_dot_product(q.v, c.v) /
                (sqrt(list_dot_product(q.v, q.v)) *
                 sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM q JOIN c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, nlabel,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, nid) AS rn
            FROM s),
      v AS (SELECT qid, nlabel, COUNT(*) AS votes, MIN(rn) AS best_rank
            FROM r WHERE rn <= 5 GROUP BY qid, nlabel),
      p AS (SELECT qid, nlabel, votes, best_rank,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY votes DESC, best_rank) AS pk
            FROM v)
      SELECT qid AS query_id, CAST(nlabel AS BIGINT) AS pred_label,
             votes, best_rank
      FROM p WHERE pk = 1
      ORDER BY query_id"""))

  /** Deterministic global shuffle + shard packing — the
    * training-data-order step: every epoch's order must be
    * reproducible from a seed alone, so the order is md5(seed:doc_id)
    * (engine-recomputable, unbiased w.r.t. any document attribute)
    * and shard = rank div perShard. No global sort: rank is the q72
    * bucket-decomposed running count (16-way by first hex digit —
    * at cluster scale the bucket widens to more hex digits), so the
    * "shuffle" is two partial-agg passes and a summary-level stitch.
    */
  val q81 = {
    val perShard = 64
    Q(
      "q81_shuffle_shard",
      (spark, dir) => {
        val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"),
            size(TextOps.words(col("text"))).cast("long").as("n_tokens"),
            md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("h"))
        graft.operators.OrderedScan.runningTotal(docs,
            key = lit(1), ord = Seq(col("h"), col("doc_id")),
            value = lit(1L),
            bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
            as = "rk")
          .withColumn("shard",
            floor((col("rk") - 1).cast("double") / perShard).cast("long"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("shard_tokens"),
            min(col("h")).as("first_h"),
            max(col("h")).as("last_h"))
          .orderBy(col("shard"))
      },
      Some(s"""
      WITH h AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
               md5('shard:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rk FROM h)
      SELECT CAST((rk-1)//$perShard AS BIGINT) AS shard,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
             MIN(h) AS first_h, MAX(h) AS last_h
      FROM r
      GROUP BY 1
      ORDER BY shard"""))
  }

  /** Per-source distinctive terms — TF-IDF with the linear-idf
    * variant score = tf · N / df, which keeps the score a single
    * exact-integer multiply and ONE IEEE division (identical bits in
    * both engines — a log-based idf would hang cross-engine equality
    * on libm rounding). Where q70 ranks raw per-language counts,
    * this cross-normalizes by corpus-wide document frequency: the
    * "what is peculiar to this source" signal used for source-level
    * quality triage. df is an exact distinct count of (word, doc)
    * pairs; everything shuffles as (token, count) rows, never bodies.
    */
  val q82 = {
    val k = 3
    Q(
      "q82_tfidf_terms",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val n = docs.agg(count(lit(1)).as("n_total"))
        val tok = graft.operators.FanOut(docs)
          .select(col("source"), col("doc_id"),
            explode(TextOps.words(col("text"))).as("word"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tf = tok.groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tok.select(col("doc_id"), col("word")).distinct()
          .groupBy(col("word")).agg(count(lit(1)).as("df"))
        val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast("double") * col("n_total").cast("double") /
              col("df").cast("double"))
        // two-level top-K (the q56/q70 discipline): per-(source,
        // word-bucket) candidates first, so no source's whole
        // vocabulary ever lands on one task; the final window ranks
        // sources × buckets × k candidate rows only
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), pmod(xxhash64(col("word")), lit(32)))
          .orderBy(col("score").desc, col("word").asc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("score").desc, col("word").asc)
        scored.withColumn("r1", row_number().over(w1))
          .filter(col("r1") <= k)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col("source"), col("rk").cast("long").as("rk"),
            col("word"), col("tf"), col("df"),
            round(col("score"), 6).as("score"))
          .orderBy(col("source"), col("rk"))
      },
      Some(s"""
      WITH tok AS (SELECT source, doc_id,
                     UNNEST(string_split(text, ' ')) AS word
                   FROM documents),
      tf AS (SELECT source, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      dfreq AS (SELECT word, COUNT(*) AS df
                FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_total FROM documents),
      sc AS (SELECT source, word, tf, df,
               CAST(tf AS DOUBLE) * CAST(n_total AS DOUBLE) /
                 CAST(df AS DOUBLE) AS score
             FROM tf JOIN dfreq USING (word) CROSS JOIN n),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY score DESC, word) AS rk
            FROM sc)
      SELECT source, rk, word, tf, df, ROUND(score, 6) AS score
      FROM r WHERE rk <= $k
      ORDER BY source, rk"""))
  }

  /** Int8 embedding quantization error — the storage-compression
    * audit (4x smaller vectors; code = floor(v·127/max|v|)). Per-dim
    * squared errors go through floor(err²·1e12) fixed point so every
    * per-label sum is an exact integer; MSE and the max-|code| ≤ 127
    * no-clipping bound are the operator's acceptance numbers. The
    * oracle replays the identical IEEE operation sequence, so the
    * whole quantizer — not just its row count — is differentially
    * verified.
    */
  val q83 = Q(
    "q83_quantize_error",
    (spark, dir) =>
      graft.operators.FanOut(Tables(spark, dir, "embeddings"))
        .select(col("label"),
          Similarity.quantStatsKernel(col("embedding").cast("array<double>"))
            .as("s"))
        .select(col("label"), col("s._1").as("fe"),
          col("s._2").cast("long").as("dim"), col("s._3").as("maxq"))
        .groupBy(col("label"))
        .agg(sum(col("dim")).as("n_components"),
          sum(col("fe")).as("sum_fe"),
          max(col("maxq")).as("max_code"))
        .select(col("label").cast("long").as("label"),
          col("n_components"), col("sum_fe"),
          (col("sum_fe").cast("double") /
            (col("n_components").cast("double") * lit(1e12))).as("mse"),
          col("max_code"))
        .orderBy(col("label")),
    Some("""
      WITH v AS (SELECT label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
                 FROM embeddings),
      s AS (SELECT label, vd,
              list_max(list_transform(vd, x -> abs(x))) AS mx
            FROM v),
      d AS (SELECT label, mx, 127.0/mx AS scale, vd[i] AS x
            FROM s, UNNEST(range(1, len(vd)+1)) AS t(i)),
      e AS (SELECT label,
              CASE WHEN mx = 0 THEN 0
                   ELSE CAST(FLOOR((x - FLOOR(x*scale)/scale) *
                                   (x - FLOOR(x*scale)/scale) * 1e12)
                             AS BIGINT) END AS fe,
              CASE WHEN mx = 0 THEN 0
                   ELSE CAST(ABS(FLOOR(x*scale)) AS BIGINT) END AS q
            FROM d)
      SELECT CAST(label AS BIGINT) AS label,
             COUNT(*) AS n_components,
             CAST(SUM(fe) AS BIGINT) AS sum_fe,
             CAST(SUM(fe) AS DOUBLE) / (COUNT(*) * 1e12) AS mse,
             MAX(q) AS max_code
      FROM e
      GROUP BY label
      ORDER BY label"""))

  /** Deterministic distributed k-means — Lloyd with integer-exact
    * distances (per-dim floor(err²·1e12) summed as integers — argmin
    * is absolute, ties to the smaller cluster id) and exact-rational
    * centroid updates (q73 fixed point, one division per component).
    * Every step is engine-recomputable, so DuckDB REPLAYS the full
    * 2-round iteration — init, two updates, three assignments — and
    * the per-cluster memberships and distance sums must match
    * exactly. The same `Similarity.lloydCentroids` core also trains
    * the q38 IVF quantizer; each round is one pass over the vectors
    * whose only output is k·dim partial sums, vectors never move.
    */
  val q84 = {
    val k = 8
    // d ≤ 4e12 per member ⇒ int64 sum_d is safe to ~2M rows/cluster;
    // beyond that the aggregate flips to decimal (q74 discipline)
    Q(
      "q84_kmeans",
      (spark, dir) =>
        Similarity.deterministicKMeans(Tables(spark, dir, "embeddings"),
            "vec_id", "embedding", k = k, rounds = 2)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"),
            min(col("id")).as("min_vec"),
            max(col("id")).as("max_vec"),
            sum(col("dist_fp")).as("sum_d"))
          .orderBy(col("cluster")),
      Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
                 FROM embeddings),
      c0 AS (SELECT vec_id AS cid, vd AS c FROM v ORDER BY vec_id LIMIT $k),
      d1 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c0 c),
      a1 AS (SELECT vec_id, vd, cid, d FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d2 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c1 c),
      a2 AS (SELECT vec_id, vd, cid, d FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d3 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c2 c),
      a3 AS (SELECT vec_id, cid, d FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d3) WHERE rn = 1)
      SELECT CAST(cid AS BIGINT) AS cluster, COUNT(*) AS n,
             MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec,
             CAST(SUM(d) AS BIGINT) AS sum_d
      FROM a3
      GROUP BY cid
      ORDER BY cluster"""))
  }

  /** Semantic dedup (SemDeDup) — near-duplicate pruning bucketed by
    * k-means cluster: candidate pairs form ONLY within a cluster (the
    * published SemDeDup approximation, and the reason the quadratic
    * never materializes at scale — cluster sizes bound it), pairs at
    * cosine ≥ 0.45 collapse via connected components, min-id
    * survives. k is NOT fixed: it derives from corpus size via
    * [[Similarity.semDeDupK]] (k = min(2^16, max(8, ⌈n/128⌉)) — the
    * cap bounds the quantizer's driver state, see semDeDupK) so
    * cluster sizes stay ≈128 and the pair stage is O(n·128) at any
    * corpus scale below the cap —
    * the bound the published approximation actually promises. The
    * oracle computes the SAME k from COUNT(*) and replays the ENTIRE
    * composition — Lloyd, within-cluster cosine pairs, recursive-CTE
    * closure — so even the approximation's exact output is
    * differentially verified (at sf0.1's 2000 vectors k=16, so the
    * derivation itself is differentially exercised, not just the
    * floor).
    */
  /** [[q85]]'s assignment + within-cluster pair stage over an
    * arbitrary embeddings frame (derived k) — split out so Stress
    * measures the PRODUCTION code path at N× corpus. Returns
    * (asg = (vec_id, cluster), pairs = (cluster, a, b) persisted).
    */
  private[graft] def semDeDupPairs(emb: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // ONE corpus scan before pairing (VERDICT r10 #5): the scan that
    // derives k fills the cache Lloyd and the pair stage then read —
    // the old emb.count() was a separate uncached full pass, a whole
    // extra corpus read at 100 TB
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = Similarity.semDeDupK(cached.count())
    val asg = Similarity.deterministicKMeans(cached, "vec_id", "embedding",
        k = k, rounds = 2)
      .select(col("id").as("vec_id"), col("cluster"))
    val vecs = cached.join(asg, "vec_id")
      .select(col("vec_id"), col("cluster"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val x = vecs.select(col("cluster"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val y = vecs.select(col("cluster"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = x.join(y, Seq("cluster")).filter(col("a") < col("b"))
      .filter(call_function("graft_dot", col("va"), col("vb")) /
        (col("na") * col("nb")) >= 0.45)
      .select(col("cluster"), col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (asg, pairs)
  }

  val q85 = Q(
    "q85_semantic_dedup",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      val (asg, pairs) = semDeDupPairs(emb)
      val drops = Dedup.connectedComponents(pairs, "a", "b")
        .filter(col("node") =!= col("canon"))
        .join(asg.withColumnRenamed("vec_id", "node"), "node")
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_dropped"))
      val pc = pairs.groupBy(col("cluster")).agg(count(lit(1)).as("n_pairs"))
      asg.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .join(pc, Seq("cluster"), "left_outer")
        .join(drops, Seq("cluster"), "left_outer")
        .select(col("cluster"), col("n"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy(col("cluster"))
    },
    Some("""
      WITH RECURSIVE
      v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings),
      kk AS (SELECT LEAST(65536, GREATEST(8,
               CAST(CEIL(COUNT(*)/128.0) AS BIGINT))) AS k
             FROM v),
      c0 AS (SELECT vec_id AS cid, vd AS c FROM (
               SELECT vec_id, vd,
                 ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v)
             WHERE rn <= (SELECT k FROM kk)),
      d1 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c0 c),
      a1 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d2 AS (SELECT v.vec_id, v.vd, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c1 c),
      a2 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d3 AS (SELECT v.vec_id, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c2 c),
      a3 AS (SELECT vec_id, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d3) WHERE rn = 1),
      e0 AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      p AS (SELECT x.cid, x.vec_id AS a, y.vec_id AS b
            FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id
            JOIN e0 ea ON ea.vec_id = x.vec_id
            JOIN e0 eb ON eb.vec_id = y.vec_id
            WHERE list_dot_product(ea.ev, eb.ev) /
                    (sqrt(list_dot_product(ea.ev, ea.ev)) *
                     sqrt(list_dot_product(eb.ev, eb.ev))) >= 0.45),
      ed AS (SELECT a AS u, b AS w FROM p UNION SELECT b, a FROM p),
      reach(node, lab) AS (
        SELECT DISTINCT u, u FROM ed
        UNION
        SELECT ed.w, r.lab FROM reach r JOIN ed ON ed.u = r.node),
      canon AS (SELECT node, MIN(lab) AS canon FROM reach GROUP BY node),
      drops AS (SELECT a3.cid, COUNT(*) AS n_dropped
                FROM canon JOIN a3 ON a3.vec_id = canon.node
                WHERE canon.canon <> canon.node
                GROUP BY a3.cid),
      pc AS (SELECT cid, COUNT(*) AS n_pairs FROM p GROUP BY cid)
      SELECT CAST(a3.cid AS BIGINT) AS cluster, COUNT(*) AS n,
             CAST(COALESCE(MAX(pc.n_pairs), 0) AS BIGINT) AS n_pairs,
             CAST(COALESCE(MAX(drops.n_dropped), 0) AS BIGINT) AS n_dropped,
             COUNT(*) - CAST(COALESCE(MAX(drops.n_dropped), 0) AS BIGINT)
               AS n_kept
      FROM a3
      LEFT JOIN pc ON pc.cid = a3.cid
      LEFT JOIN drops ON drops.cid = a3.cid
      GROUP BY a3.cid
      ORDER BY cluster"""))

  /** Bloom-accelerated incremental dedup — q75 with the history
    * digest set folded into a broadcast Bloom filter, so a typical
    * (novel) incoming row resolves with zero shuffle and only Bloom
    * positives pay the exact anti-join that scrubs false positives.
    * The OUTPUT is identical to q75 by construction — same oracle —
    * which is the point: the scale path changes the plan, never the
    * result.
    */
  val q86 = Q(
    "q86_bloom_incremental",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      Dedup.incrementalExactBloom(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH inc AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, text
        FROM documents WHERE doc_id % 3 = 0 GROUP BY text)
      SELECT doc_id, n_copies
      FROM inc
      WHERE NOT EXISTS (SELECT 1 FROM documents h
                        WHERE h.doc_id % 3 <> 0 AND h.text = inc.text)
      ORDER BY doc_id"""))

  /** Class-balanced resampling — downsample every label to the
    * MINORITY class size (the classifier-training-prep step that
    * stops majority labels from dominating the loss). The draw is
    * q72's deterministic device — the m smallest md5(vec_id) per
    * label, rank via the bucket-decomposed running count — with m
    * itself data-dependent: min over per-label counts, a 1-row
    * broadcast. Unbiased w.r.t. any vector attribute and
    * engine-recomputable, so the oracle checks the exact draw.
    */
  val q87 = Q(
    "q87_balanced_sample",
    (spark, dir) => {
      val emb = graft.operators.FanOut(Tables(spark, dir, "embeddings"))
        .select(col("label"), col("vec_id"),
          md5(col("vec_id").cast("string")).as("h"))
      val m = emb.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        .agg(min(col("cnt")).as("m"))
      graft.operators.OrderedScan.runningTotal(emb,
          key = col("label"), ord = Seq(col("h"), col("vec_id")),
          value = lit(1L),
          bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
          as = "rk")
        .crossJoin(broadcast(m))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("rk") <= col("m"), 1L).otherwise(0L)).as("n_kept"),
          min(when(col("rk") <= col("m"), col("vec_id"))).as("kept_min_vec"),
          max(when(col("rk") <= col("m"), col("vec_id"))).as("kept_max_vec"),
          max(when(col("rk") <= col("m"), col("h"))).as("threshold_hash"))
        .select(col("label").cast("long").as("label"), col("n"),
          col("n_kept"), col("kept_min_vec"), col("kept_max_vec"),
          col("threshold_hash"))
        .orderBy(col("label"))
    },
    Some("""
      WITH e AS (SELECT label, vec_id,
                   md5(CAST(vec_id AS VARCHAR)) AS h
                 FROM embeddings),
      m AS (SELECT MIN(cnt) AS m FROM (
              SELECT COUNT(*) AS cnt FROM e GROUP BY label)),
      r AS (SELECT label, vec_id, h,
              ROW_NUMBER() OVER (PARTITION BY label
                                 ORDER BY h, vec_id) AS rk
            FROM e)
      SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
             CAST(SUM(CASE WHEN rk <= m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             MIN(CASE WHEN rk <= m THEN vec_id END) AS kept_min_vec,
             MAX(CASE WHEN rk <= m THEN vec_id END) AS kept_max_vec,
             MAX(CASE WHEN rk <= m THEN h END) AS threshold_hash
      FROM r CROSS JOIN m
      GROUP BY label
      ORDER BY label"""))

  /** Leakage-safe train/val/test split — q54's hash split applied to
    * the near-dup CLUSTER, not the document: every member of a
    * connected near-dup family hashes on the family's canonical id,
    * so no near-duplicate pair can straddle train and test (the
    * contamination mode a per-doc split invites: a test doc's
    * near-copy in train). Composition: MinHash-LSH pairs → connected
    * components → md5(canon) bucket; the oracle replays all three
    * stages including the recursive closure.
    */
  val q88 = {
    val buckets = 20
    Q(
      "q88_cluster_split",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
          threshold = 0.5)
        val canon = Dedup.connectedComponents(pairs, "a", "b")
          .withColumnRenamed("node", "doc_id")
        val withCanon = docs
          .select(col("doc_id"),
            size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
          .join(canon, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("canon"), col("doc_id")).as("canon"))
        val bucket = conv(substring(md5(col("canon").cast("string")), 1, 8),
          16, 10).cast("long") % buckets
        val split = when(bucket < buckets - 2, "train")
          .when(bucket === buckets - 2, "val").otherwise("test")
        withCanon.withColumn("split", split)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("canon")).as("n_clusters"),
            sum(col("n_tokens")).as("n_tokens"))
          .orderBy(col("split"))
      },
      Some(s"""
      WITH RECURSIVE
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a, b FROM cand
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5),
      e AS (SELECT a AS u, b AS v FROM pairs
            UNION SELECT b, a FROM pairs),
      reach(node, lab) AS (
        SELECT DISTINCT u, u FROM e
        UNION
        SELECT e.v, r.lab FROM reach r JOIN e ON e.u = r.node),
      cn AS (SELECT node AS doc_id, MIN(lab) AS canon FROM reach
             GROUP BY node),
      d AS (SELECT w.doc_id, len(ws)::BIGINT AS n_tokens,
              COALESCE(cn.canon, w.doc_id) AS canon
            FROM w LEFT JOIN cn ON cn.doc_id = w.doc_id),
      b AS (SELECT canon, n_tokens,
              ('0x' || substr(md5(CAST(canon AS VARCHAR)), 1, 8))::BIGINT
                % $buckets AS bucket
            FROM d)
      SELECT CASE WHEN bucket < ${buckets - 2} THEN 'train'
                  WHEN bucket = ${buckets - 2} THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT canon) AS n_clusters,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM b
      GROUP BY 1
      ORDER BY split"""))
  }

  /** Truncated-embedding retrieval audit (the Matryoshka question:
    * can we store/search the first 16 of 64 dims and keep the
    * ranking?) — overlap@5 between the full-dimension exact top-k
    * and the same query's top-k over prefix-truncated vectors. Both
    * rankings are exact brute force (the q23 shape — broadcast
    * queries, one corpus scan each), so overlap is an integer and the
    * whole audit is oracle-exact. The decision number a pipeline
    * needs before flipping its vector store to truncated+requantized
    * storage.
    */
  val q89 = {
    val dPrefix = 16
    Q(
      "q89_truncation_audit",
      (spark, dir) => {
        val emb = Tables(spark, dir, "embeddings")
        val full = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          _ < 20, k = 5).select(col("query_id"), col("neighbor_id"))
        val truncated = emb.select(col("vec_id"),
          slice(col("embedding"), 1, dPrefix).as("embedding"))
        val trunc = Similarity.bruteForceTopK(truncated, "vec_id",
          "embedding", _ < 20, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        full.join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("overlap5"))
          .join(full.select(col("query_id")).distinct(),
            Seq("query_id"), "right_outer")
          .select(col("query_id"),
            coalesce(col("overlap5"), lit(0L)).as("overlap5"))
          .orderBy(col("query_id"))
      },
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      et AS (SELECT vec_id, (embedding[1:$dPrefix])::DOUBLE[] AS v
             FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 20),
      qt AS (SELECT * FROM et WHERE vec_id < 20),
      sf AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
               list_dot_product(q.v, e.v) /
                 (sqrt(list_dot_product(q.v, q.v)) *
                  sqrt(list_dot_product(e.v, e.v))) AS cos
             FROM q JOIN e ON e.vec_id <> q.vec_id),
      rf AS (SELECT qid, nid FROM (
               SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos DESC, nid) AS rn FROM sf) WHERE rn <= 5),
      st AS (SELECT qt.vec_id AS qid, et.vec_id AS nid,
               list_dot_product(qt.v, et.v) /
                 (sqrt(list_dot_product(qt.v, qt.v)) *
                  sqrt(list_dot_product(et.v, et.v))) AS cos
             FROM qt JOIN et ON et.vec_id <> qt.vec_id),
      rt AS (SELECT qid, nid FROM (
               SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos DESC, nid) AS rn FROM st) WHERE rn <= 5)
      SELECT rf.qid AS query_id,
             CAST(COUNT(rt.nid) AS BIGINT) AS overlap5
      FROM rf LEFT JOIN rt ON rt.qid = rf.qid AND rt.nid = rf.nid
      GROUP BY rf.qid
      ORDER BY query_id"""))
  }

  /** Per-language length-floor filter — drop the shortest quartile of
    * each language (the C4-style "too short to be prose" triage),
    * with the threshold defined as a DISCRETE percentile: the n_chars
    * value at 1-based rank (n−1) div 4 + 1 in (n_chars, doc_id)
    * order. A rank-based threshold is an actual data value — pure
    * integer arithmetic end to end, where an interpolated quantile
    * would hang the ≥-comparison on last-ulp FP agreement. Rank via
    * the OrderedScan decomposition (bucket = n_chars div 64, monotone
    * in the order — never a bare per-lang window); ties at the
    * threshold are kept.
    */
  val q90 = Q(
    "q90_length_floor",
    (spark, dir) => {
      val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val ranked = graft.operators.OrderedScan.runningTotal(docs,
        key = col("lang"), ord = Seq(col("n_chars"), col("doc_id")),
        value = lit(1L),
        bucket = floor(col("n_chars") / 64).cast("long"),
        as = "rk")
      val thr = ranked.groupBy(col("lang").as("_l"))
        .agg(count(lit(1)).as("_n"))
        .join(ranked.select(col("lang").as("_l"), col("rk"), col("n_chars")),
          Seq("_l"))
        .filter(col("rk") === expr("(_n - 1) div 4 + 1"))
        .select(col("_l"), col("n_chars").as("thr"))
      docs.join(broadcast(thr), docs("lang") === col("_l"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          max(col("thr")).as("threshold"),
          sum(when(col("n_chars") >= col("thr"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("n_chars") < col("thr"), 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when(col("n_chars") >= col("thr"), col("n_chars"))
            .otherwise(0L)).as("kept_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH d AS (SELECT lang, doc_id, n_chars FROM documents),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY n_chars, doc_id) AS rk,
              COUNT(*) OVER (PARTITION BY lang) AS cnt
            FROM d),
      t AS (SELECT lang, MAX(CASE WHEN rk = (cnt-1)//4 + 1
                                  THEN n_chars END) AS thr
            FROM r GROUP BY lang)
      SELECT d.lang, COUNT(*) AS n, MAX(t.thr) AS threshold,
             CAST(SUM(CASE WHEN d.n_chars >= t.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN d.n_chars < t.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
             CAST(SUM(CASE WHEN d.n_chars >= t.thr THEN d.n_chars
                           ELSE 0 END) AS BIGINT) AS kept_chars
      FROM d JOIN t ON d.lang = t.lang
      GROUP BY d.lang
      ORDER BY d.lang"""))

  /** Corpus drift monitor — χ² homogeneity between two corpus slices
    * (here the doc_id parity halves standing in for "last crawl" vs
    * "this crawl") over quality-score deciles. χ² instead of the
    * usual PSI on purpose: PSI's log hangs cross-engine equality on
    * libm rounding, while every χ² term is integer counts → one
    * subtraction, one square, one division — IEEE-identical in both
    * engines. Shape: two map-side bucket aggregations + a 1-row
    * totals broadcast; nothing but (bucket, count) rows ever shuffle.
    */
  val q91 = Q(
    "q91_drift_chi2",
    (spark, dir) => {
      val ws = TextOps.words(col("text"))
      val b = least(floor(TextOps.qualityScoreFast(ws) * 10), lit(9.0))
        .cast("long")
      val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
        .select(col("doc_id"), b.as("bucket"),
          (col("doc_id") % 2).as("half"))
      val counts = docs.groupBy(col("bucket"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_old"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_new"))
      val tot = counts.agg(sum(col("n_old")).as("t_old"),
        sum(col("n_new")).as("t_new"))
      counts.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_old"), col("n_new"),
          round({
            val g = (col("t_old") + col("t_new")).cast("double")
            val rowTot = (col("n_old") + col("n_new")).cast("double")
            val eo = rowTot * col("t_old").cast("double") / g
            val en = rowTot * col("t_new").cast("double") / g
            val dO = col("n_old").cast("double") - eo
            val dN = col("n_new").cast("double") - en
            dO * dO / eo + dN * dN / en
          }, 6).as("chi2_contrib"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, doc_id % 2 AS half,
               CAST(LEAST(FLOOR((
                 least(len(string_split(text, ' '))/100.0, 1.0) * 0.5 +
                 least((len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to','in','is','on','that','it')))::DOUBLE
                       / len(string_split(text, ' '))) * 10.0, 1.0) * 0.5
               ) * 10), 9.0) AS BIGINT) AS bucket
        FROM documents),
      c AS (SELECT bucket,
              SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_old,
              SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_new
            FROM d GROUP BY bucket),
      t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM c)
      SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
             CAST(n_new AS BIGINT) AS n_new,
             ROUND(
               (CAST(n_old AS DOUBLE) -
                  CAST(n_old + n_new AS DOUBLE) * CAST(t_old AS DOUBLE) /
                    CAST(t_old + t_new AS DOUBLE)) *
               (CAST(n_old AS DOUBLE) -
                  CAST(n_old + n_new AS DOUBLE) * CAST(t_old AS DOUBLE) /
                    CAST(t_old + t_new AS DOUBLE)) /
               (CAST(n_old + n_new AS DOUBLE) * CAST(t_old AS DOUBLE) /
                  CAST(t_old + t_new AS DOUBLE)) +
               (CAST(n_new AS DOUBLE) -
                  CAST(n_old + n_new AS DOUBLE) * CAST(t_new AS DOUBLE) /
                    CAST(t_old + t_new AS DOUBLE)) *
               (CAST(n_new AS DOUBLE) -
                  CAST(n_old + n_new AS DOUBLE) * CAST(t_new AS DOUBLE) /
                    CAST(t_old + t_new AS DOUBLE)) /
               (CAST(n_old + n_new AS DOUBLE) * CAST(t_new AS DOUBLE) /
                  CAST(t_old + t_new AS DOUBLE)), 6) AS chi2_contrib
      FROM c CROSS JOIN t
      ORDER BY bucket"""))

  /** Vocabulary growth curve (the Heaps-law audit a tokenizer build
    * runs before committing to a vocab size): per ingestion-order
    * slice, the token volume, the NEW token types first seen in that
    * slice, and the cumulative vocabulary. A flattening curve says
    * the corpus has stopped contributing new types; a linear one says
    * keep crawling. The corpus is cut into a FIXED 20 slices (slice
    * width derived from max(doc_id) via a 1-row broadcast), so the
    * one serial construct — the cumulative sum — runs over a ≤20-row
    * aggregate at ANY corpus size; the only real shuffle is the
    * first-seen groupBy(token), the same wordcount shape as q70.
    * All exact longs end to end.
    */
  val q92 = {
    val nb = 20
    Q(
      "q92_vocab_growth",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
        // ceil((max+1)/nb) as floor((max+nb)/nb) — pure integer math,
        // so Spark and DuckDB agree bucket-for-bucket
        val bsz = docs.agg(
          floor((max(col("doc_id")) + nb) / nb).cast("long").as("bsz"))
        val tok = docs.crossJoin(broadcast(bsz))
          .select(expr("doc_id div bsz").as("bucket"),
            explode(col("ws")).as("tok"))
        val occ = tok.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_tokens"))
        val firstSeen = tok.groupBy(col("tok"))
          .agg(min(col("bucket")).as("bucket"))
        val newTypes = firstSeen.groupBy(col("bucket"))
          .agg(count(lit(1)).as("new_types"))
        occ.join(newTypes, Seq("bucket"), "left")
          .select(col("bucket"), col("n_tokens"),
            coalesce(col("new_types"), lit(0L)).as("new_types"))
          // bounded by construction: ≤ nb rows reach this window
          .withColumn("vocab",
            sum(col("new_types")).over(Window.orderBy(col("bucket"))))
          .orderBy(col("bucket"))
      },
      Some(s"""
      WITH m AS (SELECT (MAX(doc_id) + $nb) // $nb AS bsz FROM documents),
      tok AS (SELECT d.doc_id // m.bsz AS bucket, t.tok
              FROM documents d, m, UNNEST(string_split(d.text, ' ')) AS t(tok)),
      occ AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket),
      f AS (SELECT tok, MIN(bucket) AS bucket FROM tok GROUP BY tok),
      nt AS (SELECT bucket, COUNT(*) AS new_types FROM f GROUP BY bucket)
      SELECT occ.bucket, occ.n_tokens,
             COALESCE(nt.new_types, 0) AS new_types,
             CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY occ.bucket)
                  AS BIGINT) AS vocab
      FROM occ LEFT JOIN nt USING (bucket)
      ORDER BY bucket"""))
  }

  /** Cross-source contamination matrix — for every source pair, how
    * many distinct word 8-grams they share, and the containment ratio
    * shared / min(|A|, |B|). The mixture-design forensic: a high-
    * containment pair means two "independent" sources are mirroring
    * each other and their mixture weights double-count. Shape: one
    * rows×shingles distinct (the q65 decontaminate shape), then a
    * self-equi-join on the shingle key — per-shingle fan-out is
    * bounded by the source count (a corpus has tens of sources, not
    * millions), so the join never amplifies. Source sizes broadcast.
    * Counts are exact longs; the one double is a round(…, 6) ratio of
    * two longs, IEEE-identical across engines.
    */
  val q93 = {
    val n = 8
    Q(
      "q93_source_overlap",
      (spark, dir) => {
        val sh = graft.operators.FanOut(Tables(spark, dir, "documents"))
          .select(col("source"),
            explode(TextOps.shinglesKernel(n)(TextOps.words(col("text"))))
              .as("s"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val a = sh.select(col("source").as("source_a"), col("s"))
        val b = sh.select(col("source").as("source_b"), col("s"))
        a.join(b, Seq("s"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("n").as("na"))), Seq("source_a"))
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("n").as("nb"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            round(col("n_shared").cast("double") /
              least(col("na"), col("nb")).cast("double"), 6)
              .as("containment"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT source,
               list_aggregate(ws[i:i+${n - 1}], 'string_agg', ' ') AS s
             FROM w, UNNEST(range(1, len(ws)-${n - 2})) AS t(i)),
      sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source)
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared,
             ROUND(COUNT(*)::DOUBLE / LEAST(za.n, zb.n), 6) AS containment
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      JOIN sz za ON za.source = a.source
      JOIN sz zb ON zb.source = b.source
      GROUP BY a.source, b.source, za.n, zb.n
      ORDER BY source_a, source_b"""))
  }

  /** Label-noise audit (confident-learning lite) — for a deterministic
    * audit slice (vec_id ≡ 0 mod 5), does each vector's own label agree
    * with the majority label of its 5 nearest neighbors in the full
    * corpus? The label-error triage a labeled training set gets before
    * fine-tuning: a high disagreement rate flags either noisy labels
    * or labels the geometry doesn't support. Composes q80's classifier
    * (query side broadcast, corpus scanned once, only integer vote
    * rows shuffle) with a keyed join back to the audited labels; every
    * output column is integral → oracle-exact end to end. The audit
    * slice is the scale lever: at 100 TB you audit a hash sample, not
    * the corpus, and the slice predicate is the knob.
    */
  val q94 = Q(
    "q94_label_noise",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      val audit = emb.filter(col("vec_id") % 5 === 0)
      Similarity.knnClassify(emb, audit, "vec_id", "embedding", "label",
          k = 5)
        .join(audit.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("label")), Seq("query_id"))
        .select(col("query_id").as("vec_id"), col("label"),
          col("pred_label").cast("long").as("pred_label"), col("votes"),
          when(col("pred_label").cast("long") === col("label"), 1L)
            .otherwise(0L).as("agree"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id % 5 = 0),
      s AS (SELECT q.vec_id AS qid, q.label AS qlabel,
              c.vec_id AS nid, c.label AS nlabel,
              list_dot_product(q.v, c.v) /
                (sqrt(list_dot_product(q.v, q.v)) *
                 sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM q JOIN e c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, qlabel, nid, nlabel,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, nid) AS rn
            FROM s),
      v AS (SELECT qid, qlabel, nlabel, COUNT(*) AS votes,
              MIN(rn) AS best_rank
            FROM r WHERE rn <= 5 GROUP BY qid, qlabel, nlabel),
      p AS (SELECT qid, qlabel, nlabel, votes,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY votes DESC, best_rank) AS pk
            FROM v)
      SELECT qid AS vec_id, CAST(qlabel AS BIGINT) AS label,
             CAST(nlabel AS BIGINT) AS pred_label, votes,
             CAST(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS BIGINT)
               AS agree
      FROM p WHERE pk = 1
      ORDER BY vec_id"""))

  /** Dedup attrition by source — after a near-dup collapse (q55's
    * MinHash pairs → connected components → min-id survivor), how many
    * docs and how much character volume does each source LOSE? The
    * number a mixture design needs immediately after dedup: if one
    * source is 40% redundant, its pre-dedup mixture weight overstates
    * its real contribution. Non-canonical cluster members join back to
    * `documents` on doc_id as a plain keyed left join — NO broadcast
    * hint: the dropped set is O(duplicate-fraction of corpus) (this
    * query exists precisely because a source can be 40% redundant), so
    * at scale it must shuffle-join; AQE still broadcasts it at runtime
    * when it measures genuinely small. Results fold into per-source
    * exact integer sums. Oracle replays pairs + recursive closure +
    * the attrition aggregate end to end.
    */
  /** [[q95]]'s plan over an arbitrary documents frame — split out so
    * Stress measures the PRODUCTION code path at N× corpus.
    */
  private[graft] def attritionOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
      threshold = 0.5)
    val dropped = Dedup.connectedComponents(pairs, "a", "b")
      .filter(col("node") =!= col("canon"))
      .select(col("node").as("doc_id"), lit(1L).as("is_dropped"))
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
        sum(when(col("is_dropped").isNotNull, col("n_chars"))
          .otherwise(0L)).as("dropped_chars"))
      .orderBy(col("source"))
  }

  val q95 = Q(
    "q95_dedup_attrition",
    (spark, dir) => attritionOf(Tables(spark, dir, "documents")),
    Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a, b FROM cand
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5),
      e AS (SELECT a AS u, b AS v FROM pairs
            UNION SELECT b, a FROM pairs),
      reach(node, lab) AS (
        SELECT DISTINCT u, u FROM e
        UNION
        SELECT e.v, r.lab FROM reach r JOIN e ON e.u = r.node),
      canon AS (SELECT node, MIN(lab) AS canon_id FROM reach GROUP BY node),
      dropped AS (SELECT node AS doc_id FROM canon WHERE node <> canon_id)
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
             CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN d.n_chars
                           ELSE 0 END) AS BIGINT) AS dropped_chars
      FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
      GROUP BY d.source
      ORDER BY d.source"""))

  /** BM25 keyword retrieval — the lexical complement of the vector
    * search surface (q23/q30/q38): score every document holding any
    * query term with BM25 (k1=1.2, b=0.75) and return the top 10.
    * Shape: the inverted-index plan — explode → term semi-filter →
    * (doc, term) tf aggregate; df and the corpus stats ride 1-row/
    * tiny broadcasts; top-10 is TakeOrderedAndProject, never a global
    * sort. Determinism discipline: the idf is the Robertson
    * (N−df+0.5)/(df+0.5) WITHOUT the log wrapper (libm ulps differ
    * across engines; the rank order for fixed N is unchanged), every
    * FP constant appears as the same decimal literal in both engines
    * (a Scala-side k1+1 could const-fold to a different double than
    * parsing "2.2"), each per-term score is one fixed chain of IEEE
    * ops, and the per-doc sum goes through dsum so addition order
    * can't differ.
    */
  /** BM25 score frame (doc_id, score) shared by q96/q97 — see q96's
    * scaladoc for the determinism discipline.
    */
  private def bm25Scores(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String]): org.apache.spark.sql.DataFrame =
    bm25ScoresOf(Tables(spark, dir, "documents"), terms)

  /** [[q96]]'s inverted-index plan over an arbitrary documents frame —
    * split out so the Stress harness measures the PRODUCTION code path
    * at N× corpus, not a reimplementation.
    */
  private[graft] def bm25ScoresOf(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val d = graft.operators.FanOut(docs)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
    val st = d.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val tot = st.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = d.select(col("doc_id"), explode(col("ws")).as("tok"))
      .filter(col("tok").isin(terms.map(_.asInstanceOf[Any]): _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = (col("n").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val ratio = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl") / col("avgdl"))))
    tf.join(broadcast(dfq), "tok")
      .join(st, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), (idf * ratio).as("s"))
      .groupBy(col("doc_id")).agg(dsum(col("s")).as("score"))
  }

  /** The q96/q97 BM25 oracle CTE prefix, ending in agg(doc_id, score). */
  private def bm25OracleCtes(terms: Seq[String]): String = s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      st AS (SELECT doc_id, len(ws) AS dl FROM d),
      tot AS (SELECT COUNT(*) AS n,
                CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM st),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, t.tok FROM d, UNNEST(ws) AS t(tok))
             WHERE tok IN (${terms.map("'" + _ + "'").mkString(", ")})
             GROUP BY 1, 2),
      dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      sc AS (SELECT tf.doc_id,
               ((CAST(tot.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5)) *
               ((tf.tf * 2.2) /
                (tf.tf + 1.2 * (0.25 + 0.75 * (st.dl / tot.avgdl)))) AS s
             FROM tf JOIN dfq USING (tok) JOIN st USING (doc_id)
             CROSS JOIN tot),
      agg AS (SELECT doc_id, ${oSum("s")} AS score
              FROM sc GROUP BY doc_id)"""

  val q96 = {
    val terms = Seq("customer", "vector", "merge")
    Q(
      "q96_bm25_topk",
      (spark, dir) =>
        bm25Scores(spark, dir, terms)
          .orderBy(col("score").desc, col("doc_id")).limit(10),
      Some(s"""${bm25OracleCtes(terms)}
      SELECT doc_id, score FROM agg
      ORDER BY score DESC, doc_id LIMIT 10"""))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical (q96
    * BM25) and vector (q23 cosine) rankings, the standard fusion a
    * modern retrieval stack runs when neither signal alone suffices.
    * RRF(d) = Σ_legs 1/(60 + rank_leg(d)) over the legs that returned
    * d in their top-50 — rank arithmetic only, so fusion adds just
    * TWO IEEE divisions and one addition per doc in a fixed order
    * (the scores of the legs never mix, which is RRF's whole point
    * and also what makes it cross-engine exact). Each leg's top-50 is
    * TakeOrderedAndProject; the rank windows run over ≤50 rows.
    */
  /** [[q97]]'s fusion plan over arbitrary frames — split out so
    * Stress measures the PRODUCTION code path at N× corpus.
    */
  private[graft] def rrfFuseOf(docs: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame, terms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexTop = bm25ScoresOf(docs, terms)
      .orderBy(col("score").desc, col("doc_id")).limit(50)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score").desc,
          col("doc_id"))).cast("long").as("lex_rank"))
    val vecTop = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("vec_rank"))
    lexTop.join(vecTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  val q97 = {
    val terms = Seq("customer", "vector", "merge")
    Q(
      "q97_hybrid_rrf",
      (spark, dir) => rrfFuseOf(Tables(spark, dir, "documents"),
        Tables(spark, dir, "embeddings"), terms),
      Some(s"""${bm25OracleCtes(terms)},
      lex AS (SELECT doc_id,
                CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                     AS BIGINT) AS lex_rank
              FROM agg ORDER BY score DESC, doc_id LIMIT 50),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      qv AS (SELECT * FROM e WHERE vec_id = 0),
      cs AS (SELECT c.vec_id AS nid,
               list_dot_product(qv.v, c.v) /
                 (sqrt(list_dot_product(qv.v, qv.v)) *
                  sqrt(list_dot_product(c.v, c.v))) AS cos
             FROM e c, qv WHERE c.vec_id <> 0),
      vec AS (SELECT nid AS doc_id,
                CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, nid)
                     AS BIGINT) AS vec_rank
              FROM cs ORDER BY cos DESC, nid LIMIT 50),
      f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
              lex_rank, vec_rank
            FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
      SELECT doc_id, lex_rank, vec_rank,
             COALESCE(1.0 / (60 + lex_rank), 0.0) +
             COALESCE(1.0 / (60 + vec_rank), 0.0) AS rrf
      FROM f ORDER BY rrf DESC, doc_id LIMIT 10"""))
  }

  /** Token-budget allocation — the "how many epochs of each source
    * fill the budget" arithmetic a mixture design ends with: a char
    * budget (half the corpus) is split across sources proportionally
    * to their DISTINCT trigram counts (an information-content proxy —
    * a redundant source earns less budget than its raw size suggests),
    * then each target divides into whole epochs + a partial remainder.
    * Every number is an exact integer: targets are floor((B·d)/Σd) in
    * int64 (the 100 TB path lifts the product to decimal/int128),
    * epochs/remainder are integer div/mod. The only real shuffle is
    * the distinct-shingle count; the allocation itself runs on a
    * sources-sized frame.
    */
  /** [[q98]]'s plan over an arbitrary documents frame — split out so
    * Stress measures the PRODUCTION code path at N× corpus.
    */
  private[graft] def tokenBudgetOf(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = graft.operators.FanOut(docsIn)
    val dsh = docs.select(col("source"),
        explode(TextOps.shinglesKernel(3)(TextOps.words(col("text"))))
          .as("s"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("distinct_shingles"))
    val chars = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"))
    val budget = chars.agg(expr("sum(chars) div 2").as("b"))
    val dTot = dsh.agg(sum(col("distinct_shingles")).as("dsumall"))
    chars.join(dsh, "source")
      .crossJoin(broadcast(budget)).crossJoin(broadcast(dTot))
      .withColumn("target_chars",
        expr("(b * distinct_shingles) div dsumall"))
      .select(col("source"), col("chars"), col("distinct_shingles"),
        col("target_chars"),
        expr("target_chars div chars").as("epochs"),
        expr("target_chars % chars").as("partial_chars"))
      .orderBy(col("source"))
  }

  val q98 = Q(
    "q98_token_budget",
    (spark, dir) => tokenBudgetOf(Tables(spark, dir, "documents")),
    Some("""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws
                 FROM documents),
      sh AS (SELECT DISTINCT source, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      d AS (SELECT source, COUNT(*) AS distinct_shingles
            FROM sh GROUP BY source),
      c AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY source),
      t AS (SELECT CAST(SUM(chars) // 2 AS BIGINT) AS b FROM c),
      dt AS (SELECT CAST(SUM(distinct_shingles) AS BIGINT) AS dsumall
             FROM d)
      SELECT c.source, c.chars, d.distinct_shingles,
             CAST((t.b * d.distinct_shingles) // dt.dsumall AS BIGINT)
               AS target_chars,
             CAST(((t.b * d.distinct_shingles) // dt.dsumall) // c.chars
               AS BIGINT) AS epochs,
             CAST(((t.b * d.distinct_shingles) // dt.dsumall) % c.chars
               AS BIGINT) AS partial_chars
      FROM c JOIN d USING (source) CROSS JOIN t CROSS JOIN dt
      ORDER BY source"""))

  /** Incremental IVF — the ANN member of the incremental family
    * (q75/q86 exact, q76 MinHash): a new batch (doc-split convention
    * of q75/q76: id % 3 = 0) arrives against the already-indexed
    * history; the quantizer trained on HISTORY only (no retraining on
    * batch arrival), the batch gets a map-side cell assignment, and
    * batch queries probe the merged index. Corpus shuffle volume on
    * batch arrival is zero — history's assignment is the stored
    * inverted index at scale. Like q38, every stage is integer-exact
    * or fixed-order IEEE, so DuckDB replays training (on history),
    * the union assignment, probe ranking, and rerank in full.
    */
  val q99 = Q(
    "q99_incremental_ivf",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      Similarity.ivfAppendTopK(
        emb.filter(col("vec_id") % 3 =!= 0),
        emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", _ < 30, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings),
      h AS (SELECT * FROM v WHERE vec_id % 3 <> 0),
      c0 AS (SELECT vec_id AS cid, vd AS c FROM (
               SELECT vec_id, vd,
                 ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM h)
             WHERE rn <= 16),
      d1 AS (SELECT h.vec_id, h.vd, c.cid,
               list_sum(list_transform(range(1, len(h.vd)+1),
                 i -> CAST(FLOOR((h.vd[i]-c.c[i])*(h.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM h, c0 c),
      a1 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d2 AS (SELECT h.vec_id, h.vd, c.cid,
               list_sum(list_transform(range(1, len(h.vd)+1),
                 i -> CAST(FLOOR((h.vd[i]-c.c[i])*(h.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM h, c1 c),
      a2 AS (SELECT vec_id, vd, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
               SELECT cid, pos,
                 CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, len(vd)+1)) AS t(pos)
               GROUP BY cid, pos)
             GROUP BY cid),
      d3 AS (SELECT v.vec_id, c.cid,
               list_sum(list_transform(range(1, len(v.vd)+1),
                 i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM v, c2 c),
      a3 AS (SELECT vec_id, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM d3) WHERE rn = 1),
      qp AS (SELECT vec_id AS qid, cid FROM (
               SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY d, cid) AS rn
               FROM d3 WHERE vec_id % 3 = 0 AND vec_id < 30)
             WHERE rn <= 4),
      cand AS (SELECT qp.qid, a3.vec_id AS nid
               FROM qp JOIN a3 ON a3.cid = qp.cid
               WHERE a3.vec_id <> qp.qid),
      s AS (SELECT cand.qid, cand.nid,
              list_dot_product(q.vd, n.vd) /
                (sqrt(list_dot_product(q.vd, q.vd)) *
                 sqrt(list_dot_product(n.vd, n.vd))) AS cos
            FROM cand JOIN v q ON q.vec_id = cand.qid
                      JOIN v n ON n.vec_id = cand.nid),
      r AS (SELECT qid, nid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id,
             ROUND(cos, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))

  /** Product-quantization ADC ranking (FAISS-PQ analog) — the third
    * member of the vector-storage-compression family (q83 int8 = 4×,
    * this = 32× at production m/k) and a direct composition partner
    * of q38's IVF cells (probe-then-ADC = IVF-PQ). m=8 subspaces of
    * 8 dims, k=16 centroids each (32-bit codes, 64× smaller than
    * float32), trained by the shared integer-exact Lloyd core; the
    * oracle replays ALL subspaces in one
    * grouped q84-shaped pass (training is per-subspace independent,
    * so one replay keyed by s covers the m codebooks), then encodes,
    * builds each query's distance table, and re-ranks — every adc_fp
    * integer must match bit-for-bit, so the whole index, not a recall
    * floor, is differentially verified. Queries = vec_id < 20, the
    * q23 slice, making ADC-vs-exact recall inspectable from the same
    * dump.
    */
  val q101 = {
    val m = 8; val k = 16; val sub = 8
    Q(
      "q101_pq_adc",
      (spark, dir) =>
        Similarity.pqAdcTopK(Tables(spark, dir, "embeddings"),
            "vec_id", "embedding", _ < 20, topK = 5, m = m, k = k,
            rounds = 2)
          .orderBy(col("query_id"), col("rank")),
      Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
                 FROM embeddings),
      sub AS (SELECT vec_id, s, vd[(s*$sub+1):(s*$sub+$sub)] AS vs
              FROM v, UNNEST(range(0, $m)) AS t(s)),
      c0 AS (SELECT s, vec_id AS cid, vs AS c FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s
                                            ORDER BY vec_id) AS rn
               FROM sub) WHERE rn <= $k),
      d1 AS (SELECT b.s, b.vec_id, b.vs, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c0 c ON c.s = b.s),
      a1 AS (SELECT s, vec_id, vs, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT s, cid, list(cval ORDER BY pos) AS c FROM (
               SELECT s, cid, pos,
                 CAST(SUM(CAST(FLOOR(vs[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, $sub+1)) AS t(pos)
               GROUP BY s, cid, pos)
             GROUP BY s, cid),
      d2 AS (SELECT b.s, b.vec_id, b.vs, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c1 c ON c.s = b.s),
      a2 AS (SELECT s, vec_id, vs, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT s, cid, list(cval ORDER BY pos) AS c FROM (
               SELECT s, cid, pos,
                 CAST(SUM(CAST(FLOOR(vs[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, $sub+1)) AS t(pos)
               GROUP BY s, cid, pos)
             GROUP BY s, cid),
      d3 AS (SELECT b.s, b.vec_id, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c2 c ON c.s = b.s),
      codes AS (SELECT s, vec_id, cid FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                               ORDER BY d, cid) AS rn
                  FROM d3) WHERE rn = 1),
      qd AS (SELECT b.vec_id AS qid, b.s, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c2 c ON c.s = b.s
             WHERE b.vec_id < 20),
      adc AS (SELECT qd.qid, codes.vec_id AS nid,
                CAST(SUM(qd.d) AS BIGINT) AS adc_fp
              FROM codes JOIN qd ON qd.s = codes.s AND qd.cid = codes.cid
              WHERE codes.vec_id <> qd.qid
              GROUP BY qd.qid, codes.vec_id),
      r AS (SELECT qid, nid, adc_fp,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY adc_fp, nid) AS rn
            FROM adc)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id, adc_fp
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))
  }

  /** Structured-PII detection + redaction — the pattern-based half of
    * the PII machinery (q78's blocklist scrub is the term-list half):
    * emails / phones / IPs / SSN-shaped ids detected by shared
    * Java∩RE2 regexes, counted per class, and redacted to `[CLASS]`
    * tags whose md5s fold into per-source min/max so the redacted
    * CONTENT is differentially verified. The synthetic corpus is
    * deliberately PII-free (digit-free word soup), so the fixture
    * augments each doc with deterministic PII-shaped strings derived
    * from doc_id — modular rules decide which classes appear, so
    * per-class counts vary by document — and the oracle constructs
    * the IDENTICAL augmented text before running the same detector
    * (the q61 recompute-the-fixture discipline). Map-side scan, one
    * per-source aggregate; the regex chain runs in whole-stage
    * codegen, no UDF.
    */
  val q102 = {
    val emailPat = TextOps.PiiPatterns.toMap.apply("email")
    val phonePat = TextOps.PiiPatterns.toMap.apply("phone")
    val ipv4Pat = TextOps.PiiPatterns.toMap.apply("ipv4")
    val idPat = TextOps.PiiPatterns.toMap.apply("id")
    Q(
      "q102_pii_detect",
      (spark, dir) => {
        val d = col("doc_id")
        def s(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          c.cast("string")
        val aug = concat(col("text"),
          lit(" contact u"), s(d), lit("@mail"), s(pmod(d, lit(7))),
          lit(".com"),
          when(pmod(d, lit(3)) === 0,
            concat(lit(" ip 10."), s(pmod(d, lit(254)) + 1), lit(".0."),
              s(pmod(d, lit(251)) + 1))).otherwise(lit("")),
          when(pmod(d, lit(11)) === 0,
            concat(lit(" tel 555-"), lpad(s(pmod(d, lit(1000))), 3, "0"),
              lit("-"), lpad(s(pmod(d * 31, lit(10000))), 4, "0")))
            .otherwise(lit("")),
          when(pmod(d, lit(13)) === 0,
            concat(lit(" ref "), lpad(s(pmod(d, lit(900)) + 100), 3, "0"),
              lit("-"), lpad(s(pmod(d, lit(90)) + 10), 2, "0"),
              lit("-"), lpad(s(pmod(d * 13, lit(10000))), 4, "0")))
            .otherwise(lit("")))
        val red = TextOps.piiRedact(aug)
        Tables(spark, dir, "documents")
          .select(col("source"),
            TextOps.piiHits(aug, "email").cast("long").as("email"),
            TextOps.piiHits(aug, "phone").cast("long").as("phone"),
            TextOps.piiHits(aug, "ipv4").cast("long").as("ipv4"),
            TextOps.piiHits(aug, "id").cast("long").as("id"),
            md5(red).as("h"),
            (length(aug) - length(red)).cast("long").as("delta"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("email")).as("email_hits"),
            sum(col("phone")).as("phone_hits"),
            sum(col("ipv4")).as("ipv4_hits"),
            sum(col("id")).as("id_hits"),
            sum(col("delta")).as("chars_delta"),
            min(col("h")).as("min_h"),
            max(col("h")).as("max_h"))
          .orderBy(col("source"))
      },
      Some(s"""
      WITH a AS (
        SELECT source,
          text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail' ||
            CAST(doc_id % 7 AS VARCHAR) || '.com' ||
            CASE WHEN doc_id % 3 = 0 THEN
              ' ip 10.' || CAST(doc_id % 254 + 1 AS VARCHAR) || '.0.' ||
              CAST(doc_id % 251 + 1 AS VARCHAR) ELSE '' END ||
            CASE WHEN doc_id % 11 = 0 THEN
              ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
              '-' || lpad(CAST(doc_id * 31 % 10000 AS VARCHAR), 4, '0')
              ELSE '' END ||
            CASE WHEN doc_id % 13 = 0 THEN
              ' ref ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') ||
              '-' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0') ||
              '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS aug
        FROM documents),
      r AS (
        SELECT source, aug,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
            '$emailPat', '[EMAIL]', 'g'),
            '$phonePat', '[PHONE]', 'g'),
            '$ipv4Pat', '[IPV4]', 'g'),
            '$idPat', '[ID]', 'g') AS red
        FROM a)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(aug, '$emailPat'))) AS BIGINT)
               AS email_hits,
             CAST(SUM(len(regexp_extract_all(aug, '$phonePat'))) AS BIGINT)
               AS phone_hits,
             CAST(SUM(len(regexp_extract_all(aug, '$ipv4Pat'))) AS BIGINT)
               AS ipv4_hits,
             CAST(SUM(len(regexp_extract_all(aug, '$idPat'))) AS BIGINT)
               AS id_hits,
             CAST(SUM(len(aug) - len(red)) AS BIGINT) AS chars_delta,
             MIN(md5(red)) AS min_h, MAX(md5(red)) AS max_h
      FROM r
      GROUP BY source
      ORDER BY source"""))
  }

  /** IVF-PQ — FAISS's default billion-scale index (by_residual=false
    * variant), composed from two already-verified halves: q38's
    * coarse quantizer prunes the scan to nprobe/nlist of the corpus,
    * q101's PQ codebooks rank the surviving candidates by ADC over
    * 32-bit codes. The oracle replays BOTH trainings (the q38 coarse
    * chain and the q101 grouped-subspace chain share one `v` CTE),
    * assigns cells, probes, encodes, builds the query distance
    * tables, and re-ranks only probed candidates — the complete
    * composed index is hash-exact, cell pruning and all.
    */
  val q103 = {
    val m = 8; val k = 16; val sub = 8
    Q(
      "q103_ivfpq_topk",
      (spark, dir) =>
        Similarity.ivfPqTopK(Tables(spark, dir, "embeddings"),
            "vec_id", "embedding", _ < 20, topK = 5, nlist = 16,
            nprobe = 4, m = m, k = k, rounds = 2)
          .orderBy(col("query_id"), col("rank")),
      Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
                 FROM embeddings),
      g0 AS (SELECT vec_id AS cid, vd AS c FROM (
               SELECT vec_id, vd,
                 ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v)
             WHERE rn <= 16),
      gd1 AS (SELECT v.vec_id, v.vd, c.cid,
                list_sum(list_transform(range(1, len(v.vd)+1),
                  i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                            AS BIGINT))) AS d
              FROM v, g0 c),
      ga1 AS (SELECT vec_id, vd, cid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, cid) AS rn
                FROM gd1) WHERE rn = 1),
      gc1 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
                SELECT cid, pos,
                  CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                    (COUNT(*)*1e6) AS cval
                FROM ga1, UNNEST(range(1, len(vd)+1)) AS t(pos)
                GROUP BY cid, pos)
              GROUP BY cid),
      gd2 AS (SELECT v.vec_id, v.vd, c.cid,
                list_sum(list_transform(range(1, len(v.vd)+1),
                  i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                            AS BIGINT))) AS d
              FROM v, gc1 c),
      ga2 AS (SELECT vec_id, vd, cid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, cid) AS rn
                FROM gd2) WHERE rn = 1),
      gc2 AS (SELECT cid, list(cval ORDER BY pos) AS c FROM (
                SELECT cid, pos,
                  CAST(SUM(CAST(FLOOR(vd[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                    (COUNT(*)*1e6) AS cval
                FROM ga2, UNNEST(range(1, len(vd)+1)) AS t(pos)
                GROUP BY cid, pos)
              GROUP BY cid),
      gd3 AS (SELECT v.vec_id, c.cid,
                list_sum(list_transform(range(1, len(v.vd)+1),
                  i -> CAST(FLOOR((v.vd[i]-c.c[i])*(v.vd[i]-c.c[i])*1e12)
                            AS BIGINT))) AS d
              FROM v, gc2 c),
      ga3 AS (SELECT vec_id, cid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, cid) AS rn
                FROM gd3) WHERE rn = 1),
      gqp AS (SELECT vec_id AS qid, cid FROM (
                SELECT vec_id, cid,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
                FROM gd3 WHERE vec_id < 20) WHERE rn <= 4),
      sub AS (SELECT vec_id, s, vd[(s*$sub+1):(s*$sub+$sub)] AS vs
              FROM v, UNNEST(range(0, $m)) AS t(s)),
      c0 AS (SELECT s, vec_id AS cid, vs AS c FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s
                                            ORDER BY vec_id) AS rn
               FROM sub) WHERE rn <= $k),
      d1 AS (SELECT b.s, b.vec_id, b.vs, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c0 c ON c.s = b.s),
      a1 AS (SELECT s, vec_id, vs, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                            ORDER BY d, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT s, cid, list(cval ORDER BY pos) AS c FROM (
               SELECT s, cid, pos,
                 CAST(SUM(CAST(FLOOR(vs[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a1, UNNEST(range(1, $sub+1)) AS t(pos)
               GROUP BY s, cid, pos)
             GROUP BY s, cid),
      d2 AS (SELECT b.s, b.vec_id, b.vs, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c1 c ON c.s = b.s),
      a2 AS (SELECT s, vec_id, vs, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                            ORDER BY d, cid) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT s, cid, list(cval ORDER BY pos) AS c FROM (
               SELECT s, cid, pos,
                 CAST(SUM(CAST(FLOOR(vs[pos]*1e6) AS BIGINT)) AS DOUBLE) /
                   (COUNT(*)*1e6) AS cval
               FROM a2, UNNEST(range(1, $sub+1)) AS t(pos)
               GROUP BY s, cid, pos)
             GROUP BY s, cid),
      d3 AS (SELECT b.s, b.vec_id, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c2 c ON c.s = b.s),
      codes AS (SELECT s, vec_id, cid FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                               ORDER BY d, cid) AS rn
                  FROM d3) WHERE rn = 1),
      qd AS (SELECT b.vec_id AS qid, b.s, c.cid,
               list_sum(list_transform(range(1, $sub+1),
                 i -> CAST(FLOOR((b.vs[i]-c.c[i])*(b.vs[i]-c.c[i])*1e12)
                           AS BIGINT))) AS d
             FROM sub b JOIN c2 c ON c.s = b.s
             WHERE b.vec_id < 20),
      cand AS (SELECT gqp.qid, ga3.vec_id AS nid
               FROM gqp JOIN ga3 ON ga3.cid = gqp.cid
               WHERE ga3.vec_id <> gqp.qid),
      adc AS (SELECT cd.qid, cd.nid, CAST(SUM(qd.d) AS BIGINT) AS adc_fp
              FROM cand cd
              JOIN codes ON codes.vec_id = cd.nid
              JOIN qd ON qd.qid = cd.qid AND qd.s = codes.s
                     AND qd.cid = codes.cid
              GROUP BY cd.qid, cd.nid),
      r AS (SELECT qid, nid, adc_fp,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY adc_fp, nid) AS rn
            FROM adc)
      SELECT qid AS query_id, rn::INT AS rank, nid AS neighbor_id, adc_fp
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank"""))
  }

  /** Edit-distance near-dup — the fifth dedup metric (order-aware:
    * catches small in-place revisions the set-similarity metrics
    * dilute). Candidates by the positional q-gram pigeonhole (k+1
    * disjoint anchors vs the corpus's positional sliding-gram index,
    * ±k position window, ±k length band — complete by theorem over
    * docs ≥ (k+1)·q+k chars), exact `levenshtein` verify. The oracle
    * replays the identical anchor/sliding/window algorithm and
    * DuckDB's independent levenshtein must agree on every pair AND
    * every distance; PipelineSpec additionally proves the bucketed
    * plan equals thresholded brute force on the fixture.
    */
  val q104 = {
    val k = 10; val q = 16; val minLen = (k + 1) * q + k
    Q(
      "q104_edit_neardup",
      (spark, dir) =>
        Dedup.editNearDups(Tables(spark, dir, "documents"),
            "text", "doc_id", k = k, q = q)
          .orderBy(col("a"), col("b")),
      Some(s"""
      WITH d AS (SELECT doc_id, text FROM documents
                 WHERE len(text) >= $minLen),
      anchors AS (SELECT doc_id, alen, apos, g, bkt FROM (
                    SELECT doc_id, len(text) AS alen, i*$q AS apos,
                      text[(i*$q+1):(i*$q+$q)] AS g
                    FROM d, UNNEST(range(0, $k+1)) t(i)),
                  UNNEST(list_distinct([
                    CAST(GREATEST(apos-$k, 0) // ${2 * k + 1} AS INT),
                    CAST((apos+$k) // ${2 * k + 1} AS INT)])) u(bkt)),
      sliding AS (SELECT doc_id, len(text) AS slen, p AS spos,
                    text[(p+1):(p+$q)] AS g,
                    CAST(p // ${2 * k + 1} AS INT) AS bkt
                  FROM d, UNNEST(range(0, len(text)-$q+1)) t(p)),
      cand AS (SELECT DISTINCT LEAST(a.doc_id, s.doc_id) AS a,
                 GREATEST(a.doc_id, s.doc_id) AS b
               FROM anchors a JOIN sliding s ON s.g = a.g
                 AND s.bkt = a.bkt AND a.doc_id <> s.doc_id
               WHERE abs(a.apos - s.spos) <= $k
                 AND abs(a.alen - s.slen) <= $k)
      SELECT cand.a, cand.b,
             levenshtein(x.text, y.text)::INT AS ed
      FROM cand JOIN d x ON x.doc_id = cand.a
                JOIN d y ON y.doc_id = cand.b
      WHERE levenshtein(x.text, y.text) <= $k
      ORDER BY a, b"""))
  }

  /** Incremental edit-distance near-dup — q104's batch-vs-corpus
    * form, completing the incremental family (exact q75, Bloom q86,
    * MinHash q76, IVF q99, edit q105): only the BATCH explodes
    * anchors; they probe the positional sliding-gram index of
    * history ∪ batch (the stored inverted char-gram table at scale —
    * history shuffles nothing on arrival). One-directional anchors
    * stay complete: the pigeonhole intact-anchor argument applies
    * with the batch doc as the anchored side for every batch×history
    * and batch×batch pair. History-internal pairs are deliberately
    * absent — they were caught when those docs arrived.
    */
  val q105 = {
    val k = 10; val q = 16; val minLen = (k + 1) * q + k
    Q(
      "q105_incr_edit_neardup",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        Dedup.incrementalEditNearDups(
            docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
            docs.filter(pmod(col("doc_id"), lit(7)) === 0),
            "text", "doc_id", k = k, q = q)
          .orderBy(col("a"), col("b"))
      },
      Some(s"""
      WITH d AS (SELECT doc_id, text FROM documents
                 WHERE len(text) >= $minLen),
      bsel AS (SELECT * FROM d WHERE doc_id % 7 = 0),
      anchors AS (SELECT doc_id, alen, apos, g, bkt FROM (
                    SELECT doc_id, len(text) AS alen, i*$q AS apos,
                      text[(i*$q+1):(i*$q+$q)] AS g
                    FROM bsel, UNNEST(range(0, $k+1)) t(i)),
                  UNNEST(list_distinct([
                    CAST(GREATEST(apos-$k, 0) // ${2 * k + 1} AS INT),
                    CAST((apos+$k) // ${2 * k + 1} AS INT)])) u(bkt)),
      sliding AS (SELECT doc_id, len(text) AS slen, p AS spos,
                    text[(p+1):(p+$q)] AS g,
                    CAST(p // ${2 * k + 1} AS INT) AS bkt
                  FROM d, UNNEST(range(0, len(text)-$q+1)) t(p)),
      cand AS (SELECT DISTINCT LEAST(a.doc_id, s.doc_id) AS a,
                 GREATEST(a.doc_id, s.doc_id) AS b
               FROM anchors a JOIN sliding s ON s.g = a.g
                 AND s.bkt = a.bkt AND a.doc_id <> s.doc_id
               WHERE abs(a.apos - s.spos) <= $k
                 AND abs(a.alen - s.slen) <= $k)
      SELECT cand.a, cand.b,
             levenshtein(x.text, y.text)::INT AS ed
      FROM cand JOIN d x ON x.doc_id = cand.a
                JOIN d y ON y.doc_id = cand.b
      WHERE levenshtein(x.text, y.text) <= $k
      ORDER BY a, b"""))
  }

  /** Stored-index incremental edit near-dup — q105's probe against
    * the LANDED inverted char-gram index ([[graft.sources
    * .GramIndexLayout]]: bucket-partitioned postings + df sidecar +
    * corpus projection), the at-scale posture every edit scaladoc
    * names, executable: the corpus shuffles nothing on batch arrival
    * and only the anchor-gram buckets are read (directory pruning via
    * a ≤ nBuckets literal predicate). Output ≡ q105 — anchor
    * selection (here: rarity from the stored sidecar) never changes
    * the verified pair set — so the oracle IS q105's, making the
    * equivalence driver-checked rather than asserted.
    */
  val q106 = {
    val k = 10; val q = 16; val minLen = (k + 1) * q + k
    Q(
      "q106_stored_gram_index_edit",
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val idx = graft.sources.GramIndexLayout.documentsHistory(spark, dir)
        graft.sources.GramIndexLayout.probe(spark, idx,
            docs.filter(pmod(col("doc_id"), lit(7)) === 0),
            "text", "doc_id", k = k, q = q)
          .orderBy(col("a"), col("b"))
      },
      q105.oracle)
  }

  /** Stored band index incremental MinHash — q76 against the LANDED
    * (id, band, bucket) postings + shingle projection
    * ([[graft.sources.BandIndexLayout]]), closing the same
    * stateless-recompute caveat q106 closed for the edit family. The
    * batch's band-key partition set prunes the stored index at the
    * directory level; output ≡ q76 (the partition filter removes only
    * rows the band equi-join could never match), so the oracle IS
    * q76's exact cross-side all-pairs Jaccard.
    */
  val q107 = Q(
    "q107_stored_band_index_neardup",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val idx = graft.sources.BandIndexLayout.documentsHistory(spark, dir)
      graft.sources.BandIndexLayout.probe(spark, idx,
          docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id", threshold = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    q76.oracle)

  /** Stored cell index incremental IVF — q99 against the LANDED
    * coarse quantizer + cell-partitioned corpus
    * ([[graft.sources.CellIndexLayout]]), the third stored-layout
    * application (edit q106, bands q107). The probed-cell set prunes
    * the corpus read at the directory level; output ≡ q99 (cell
    * assignment is a pure function of vector and stored centroids;
    * unprobed cells never join), so the oracle IS q99's — the shared
    * Option reference makes the equivalence explicit.
    */
  val q108 = Q(
    "q108_stored_cell_index_ivf",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      val idx = graft.sources.CellIndexLayout.embeddingsHistory(spark, dir)
      graft.sources.CellIndexLayout.probe(spark, idx,
          emb.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", _ < 30, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    q99.oracle)

  /** Maximal duplicated spans — the ExactSubstr dedup signal (Lee et
    * al. 2022) via [[Dedup.maximalDupSpans]]: overlapping `w`-word
    * sliding windows (q71's chunks are non-overlapping and miss spans
    * straddling chunk boundaries), cross-doc shared-window detection
    * in one partial aggregate, and per-doc interval merge into MAXIMAL
    * duplicated ranges. The oracle replays the whole composition —
    * window construction, min≠max sharing, the gaps-and-islands merge
    * — so span extents, union coverage, and the single-division
    * dup_frac are all differentially verified.
    */
  val q109 = {
    val w = 8
    Q(
      "q109_maximal_dup_spans",
      (spark, dir) =>
        Dedup.maximalDupSpans(Tables(spark, dir, "documents"),
            "text", "doc_id", w)
          .orderBy(col("doc_id")),
      Some(s"""
      WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
      nn AS (SELECT doc_id, ws, len(ws) AS nw FROM wd
             WHERE len(ws) >= $w),
      win AS (SELECT doc_id, nw, p AS pos,
                list_aggregate(ws[p+1:p+$w], 'string_agg', ' ') AS span
              FROM nn, UNNEST(range(0, nw - $w + 1)) t(p)),
      shared AS (SELECT span FROM win GROUP BY span
                 HAVING MIN(doc_id) <> MAX(doc_id)),
      hit AS (SELECT w.doc_id, w.nw, w.pos, w.pos + $w - 1 AS e
              FROM win w JOIN shared USING (span)),
      brk AS (SELECT doc_id, nw, pos, e,
                CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS b
              FROM hit),
      isl AS (SELECT doc_id, nw, pos, e,
                SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM brk),
      sp AS (SELECT doc_id, nw, island,
               MAX(e) - MIN(pos) + 1 AS span_words
             FROM isl GROUP BY doc_id, nw, island)
      SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
             COUNT(*) AS n_spans,
             CAST(SUM(span_words) AS BIGINT) AS dup_words,
             CAST(MAX(span_words) AS BIGINT) AS max_span,
             CAST(SUM(span_words) AS DOUBLE) / nw AS dup_frac
      FROM sp GROUP BY doc_id, nw
      ORDER BY doc_id"""))
  }

  /** Incremental connected components — q55's cluster collapse
    * without recomputing history: stored labels from the landed
    * corpus's pairs, a batch arrives, [[Dedup.incrementalMinhashPairs]]
    * finds every batch-involving pair, and
    * [[Dedup.incrementalComponents]] relabels ONLY the touched
    * components (stored star edges ∪ new pairs; untouched rows pass
    * through). Shuffle is O(batch pairs + affected components), not
    * O(corpus) — the at-scale posture for continuous dedup. Band keys
    * are corpus-independent, so history-internal ∪ batch-involving
    * pairs ≡ the full run's pairs, and star edges preserve
    * connectivity exactly: output ≡ q55, so the oracle IS q55's
    * full-corpus recursive-CTE closure — the incremental path is
    * driver-checked against the from-scratch semantics, not asserted.
    */
  val q110 = Q(
    "q110_incr_dedup_clusters",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      Dedup.incrementalClusters(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "text", "doc_id", threshold = 0.5)
        .select(col("node").as("doc_id"), col("canon").as("canon_id"))
        .orderBy(col("doc_id"))
    },
    q55.oracle)

  /** Stored-state incremental clustering — q110 against LANDED state
    * on BOTH sides: batch pairs come from the stored band index
    * ([[graft.sources.BandIndexLayout.probePairs]], directory-pruned)
    * and fold into the stored labeling
    * ([[graft.sources.LabelStoreLayout.fold]], touched partitions
    * only), then the landed table IS the answer. No history replay at
    * all — q110's in-memory form rebuilds the history clustering per
    * run (the replay discipline); this is what a standing pipeline
    * actually executes per batch, and its bench slot measures the
    * incremental-only cost. Output ≡ q55 ≡ q110 (fold exactness +
    * the pair-partition argument), so the oracle IS q55's — the
    * stored path is driver-checked, not asserted. Safe under re-run:
    * the store is a fixpoint under replaying the same fold.
    */
  val q111 = Q(
    "q111_stored_label_fold",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val bandDir = graft.sources.BandIndexLayout.documentsHistory(spark, dir)
      val labelDir = graft.sources.LabelStoreLayout.documentsHistory(spark, dir)
      val pairs = graft.sources.BandIndexLayout.probePairs(spark, bandDir,
        batch, "text", "doc_id", threshold = 0.5)
      graft.sources.LabelStoreLayout.fold(spark, labelDir, pairs, "a", "b")
      graft.sources.LabelStoreLayout.read(spark, labelDir)
        .select(col("node").as("doc_id"), col("canon").as("canon_id"))
        .orderBy(col("doc_id"))
    },
    q55.oracle)

  /** BPE merge training (Sennrich et al. 2016, vocab form): the first
    * 8 learned byte-pair merges of the documents corpus — the
    * tokenizer-training leg of the pipeline (the token-COUNTING proxy
    * is q29; this learns the merge table itself). One corpus scan
    * (word→count), then 8 vocab-sized rounds, each collecting only the
    * argmax pair (ties: count desc, pair asc — total order). The
    * oracle unrolls the same 8 rounds as a CTE chain and replays the
    * greedy left-to-right merge via plain string `replace` on
    * fully-delimited symbol strings (see
    * [[graft.pipeline.TextOps.bpeMerges]]).
    */
  val q115 = Q(
    "q115_bpe_merges",
    (spark, dir) =>
      TextOps.bpeMerges(Tables(spark, dir, "documents"), "text", 8),
    Some(TextOps.bpeMergesOracleSql(8)))

  /** Tokenizer APPLICATION — the q115 table put to work: per-source
    * token counts under the first 8 learned merges (the fertility
    * audit that decides whether a vocab is worth committing; q28's
    * fixed-regex proxy, replaced by the corpus's own learned vocab).
    * Merges replay on the distinct-word vocabulary exactly as in
    * training; the corpus then joins word→symbol-count on the vocab-
    * sized frame — text is scanned, never re-tokenized per row.
    */
  val q145 = Q(
    "q145_bpe_encode",
    (spark, dir) =>
      TextOps.bpeEncodedCounts(
        Tables(spark, dir, "documents"), "text", "source", 8),
    Some(TextOps.bpeEncodeOracleSql(8)))

  /** Boilerplate audit: per document, the fraction of its distinct
    * 3-gram shingles that also appear in at least one OTHER document —
    * the C4/RefinedWeb "shared span" signal at audit granularity
    * (q65/q71 REMOVE such spans; this measures the per-doc exposure so
    * a pipeline can rank/threshold before deleting). Same shingle
    * semantics as q24's near-dup leg.
    *
    * Scale shape: explode distinct shingles, ONE groupBy(shingle) for
    * document frequency, join back on the same key (no second
    * partitioning), aggregate per doc. df(s) counts rows of the
    * already-per-doc-distinct shingle set, so no countDistinct. The
    * df side is shingle-cardinality — streamed through a shuffle join,
    * never broadcast/collected. Ratio is int/int in IEEE double —
    * bit-identical across engines.
    */
  /** The q116 frame over any documents frame — shared with Stress so
    * the measured curve is the shipped plan (the `Events.funnelDepth`
    * discipline). shinglesKernel ≡ shingles bit-for-bit (PipelineSpec);
    * the HOF form is interpreted per position and measured 11 s at
    * bench sf0.1 vs ~2 s with the kernel.
    */
  private[graft] def boilerplateOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(TextOps.shinglesKernel(3)(
        TextOps.words(col("text")))).as("s"))
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(df, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles"))
          .as("shared_ratio"))
  }

  val q116 = Q(
    "q116_boilerplate_ratio",
    (spark, dir) =>
      boilerplateOf(Tables(spark, dir, "documents")).orderBy(col("doc_id")),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      df AS (SELECT s, COUNT(*) AS c FROM sh GROUP BY 1)
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             CAST(SUM(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS shared_ratio
      FROM sh JOIN df USING (s)
      GROUP BY sh.doc_id
      ORDER BY sh.doc_id"""))

  /** Deterministic HyperLogLog distinct (ClickHouse `uniq` family):
    * per-source distinct-shingle cardinality as a 256-register HLL
    * sketch, next to the exact count it approximates. This is the
    * sketch ClickHouse answers `uniq()` with; here it is DETERMINISTIC
    * and cross-engine exact so the driver can hash-check it:
    *
    *  - the hash is the md5-derived 60-bit integer both engines
    *    compute identically (q31/q37's discipline);
    *  - register = low 8 bits, rank = 53 − bitlength(h div 256)
    *    (integer, via the binary-string length — no float log2);
    *  - the harmonic denominator Σ 2^−M is summed EXACTLY as the
    *    integer Σ 2^(53−M) (≤ 2^61, no overflow, order-free), so the
    *    only float ops are one int64→double conversion and one
    *    division — both IEEE-identical everywhere.
    *
    * No small/large-range corrections (they need ln(); raw estimate
    * is deterministic and the point here is the sketch plumbing —
    * production stacks on the standard bias tables). One pass, no
    * pre-distinct: registers absorb duplicates via max — the reason
    * HLL beats countDistinct's shuffle at 100 TB. The exact count
    * rides along for the accuracy readout.
    */
  /** q117's register frame (source, bucket, m) over any documents
    * frame — shared with Stress (same discipline as [[boilerplateOf]]).
    */
  private[graft] def hllRegistersOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("source"),
        explode(TextOps.shinglesKernel(3)(
          TextOps.words(col("text")))).as("s"))
      .select(col("source"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .select(col("source"), pmod(col("h"), lit(256)).as("bucket"),
        when(expr("h div 256") === 0, lit(53))
          .otherwise(lit(53) - length(bin(expr("h div 256"))))
          .as("rank"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rank")).as("m"))

  /** The q117 finale over ANY (source, bucket, m) register frame plus
    * the docs frame for the exact-count comparison column — shared
    * with the stored leg (q188) so register tables from any build path
    * (direct, streamed, landed) read identically.
    */
  private[graft] def hllDistinctFrom(regs: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val est = regs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - m as int))"))
          .as("sp"))
    val exact = docs.select(col("source"),
        explode(TextOps.shinglesKernel(3)(
          TextOps.words(col("text")))).as("s"))
      .groupBy(col("source"))
      .agg(countDistinct(col("s")).as("n_exact"))
    val alpha = 0.7213 / (1 + 1.079 / 256.0)
    est.join(exact, "source")
      .select(col("source"), col("n_exact"),
        col("n_present").cast("long").as("n_registers"),
        (lit(alpha) * lit(65536.0) * lit(9007199254740992.0) /
          (col("sp") + (lit(256L) - col("n_present")) *
            lit(9007199254740992L)).cast("double")).as("hll_estimate"))
      .orderBy(col("source"))
  }

  val q117 = Q(
    "q117_hll_distinct",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      hllDistinctFrom(hllRegistersOf(docs), docs)
    },
    Some("""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT source, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      h AS (SELECT source, s,
                   ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
      b AS (SELECT source, h % 256 AS bucket,
                   CASE WHEN h // 256 = 0 THEN 53
                        ELSE 53 - length(bin(h // 256)) END AS rank
            FROM h),
      regs AS (SELECT source, bucket, MAX(rank) AS m FROM b GROUP BY 1, 2),
      est AS (SELECT source, COUNT(*) AS n_present,
                     SUM(1::BIGINT << CAST(53 - m AS INT)) AS sp
              FROM regs GROUP BY 1),
      ex AS (SELECT source, COUNT(DISTINCT s) AS n_exact FROM h GROUP BY 1)
      SELECT e.source, ex.n_exact,
             CAST(e.n_present AS BIGINT) AS n_registers,
             (0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 256::DOUBLE))
               * 65536::DOUBLE * 9007199254740992::DOUBLE
               / CAST(e.sp + (256 - e.n_present) * 9007199254740992
                      AS DOUBLE) AS hll_estimate
      FROM est e JOIN ex USING (source)
      ORDER BY e.source"""))

  /** Deterministic Count-Min sketch (frequency companion of q117's
    * HLL; the sketch behind heavy-hitter surfaces like ClickHouse
    * `topK`'s counting layer): token frequencies estimated from a
    * depth-3 × width-16 integer counter table, probed for a fixed term
    * set next to the exact counts. Width is deliberately NARROW so the
    * sketch's one-sided error is exercised, not hidden: estimates are
    * provably ≥ exact (each row's cell only ever adds colliding
    * tokens) and the fixture shows real 2-3× overestimates.
    *
    * All-integer arithmetic end to end — counts and mins, no floats —
    * so it is hash-checkable without any IEEE argument. Scale story =
    * q117's: the aggregation state is FIXED (48 cells) however many
    * tokens stream through; probes touch d rows per term. Hashes are
    * the md5-derived 60-bit integers with the row index as salt.
    */
  /** Count-Min geometry shared by q120 and the streaming form. */
  private[graft] val CmDepth = 3
  private[graft] val CmWidth = 16

  private[graft] def cmBucket(salt: org.apache.spark.sql.Column,
      s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(salt, s)), 1, 15), 16, 10)
      .cast("long"), lit(CmWidth))

  /** One (i, bucket) row per token occurrence per sketch row — the
    * projection whose `groupBy(i, bucket).count` IS the CM table,
    * batch or streaming (`streaming/CmStream`).
    */
  private[graft] def cmProjection(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rows = (0 until CmDepth).map(i =>
      struct(lit(i).as("i"),
        cmBucket(lit(i.toString), col("w")).as("bucket")))
    toks.select(explode(array(rows: _*)).as("p"))
      .select(col("p.i").as("i"), col("p.bucket").as("bucket"))
  }

  /** The documents token stream all three CM legs consume. */
  private[graft] def cmToksOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(explode(TextOps.words(col("text"))).as("w"))
      .filter(col("w") =!= "")

  /** The shared q120 probe/finale over ANY (i, bucket, c) CM table —
    * the read the batch query, the live `CmStream` sink, and the
    * stored [[graft.sources.CmStoreLayout]] leg (q192) all run, so
    * the three legs cannot drift. `toks` supplies the exact-count
    * comparison column; probes touch CmDepth rows per term.
    */
  private[graft] def cmEstimateFrom(spark: org.apache.spark.sql.SparkSession,
      cm: org.apache.spark.sql.DataFrame,
      toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val terms = Seq("customer", "merge", "vector", "table", "spark")
    import spark.implicits._
    val probe = terms.flatMap(t => (0 until CmDepth).map(i => (t, i)))
      .toDF("term", "i")
      .withColumn("bucket", cmBucket(col("i").cast("string"), col("term")))
    val est = probe.join(cm, Seq("i", "bucket"))
      .groupBy(col("term")).agg(min(col("c")).as("cm_estimate"))
    val exact = toks.filter(col("w").isin(terms.map(x => x: Any): _*))
      .groupBy(col("w").as("term")).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), coalesce(col("exact_count"), lit(0L))
        .as("exact_count"), col("cm_estimate"))
      .orderBy(col("term"))
  }

  val q120 = Q(
    "q120_countmin_freq",
    (spark, dir) => {
      val toks = cmToksOf(Tables(spark, dir, "documents"))
      val cm = cmProjection(toks)
        .groupBy(col("i"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      cmEstimateFrom(spark, cm, toks)
    },
    Some("""
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ),
      t AS (SELECT w FROM toks WHERE w <> ''),
      cm AS (
        SELECT i,
               ('0x' || substr(md5(CAST(i AS VARCHAR) || w), 1, 15))::BIGINT
                 % 16 AS bucket,
               COUNT(*) AS c
        FROM t, UNNEST([0, 1, 2]) AS s(i)
        GROUP BY 1, 2
      ),
      terms AS (SELECT unnest(
        ['customer', 'merge', 'vector', 'table', 'spark']) AS term),
      probe AS (
        SELECT term, i,
               ('0x' || substr(md5(CAST(i AS VARCHAR) || term), 1, 15))::BIGINT
                 % 16 AS bucket
        FROM terms, UNNEST([0, 1, 2]) AS s(i)
      ),
      est AS (
        SELECT p.term, MIN(cm.c) AS cm_estimate
        FROM probe p JOIN cm ON cm.i = p.i AND cm.bucket = p.bucket
        GROUP BY 1
      ),
      ex AS (SELECT w AS term, COUNT(*) AS exact_count FROM t GROUP BY 1)
      SELECT e.term, coalesce(x.exact_count, 0) AS exact_count,
             e.cm_estimate
      FROM est e LEFT JOIN ex x USING (term)
      ORDER BY e.term"""))

  /** KMV (k-minimum-values / bottom-k) distinct sketch — the third
    * sketch leg next to q117's HLL and q120's Count-Min, and the one
    * production theta-sketch stores build on: per source, keep only
    * the k = 64 SMALLEST 60-bit shingle hashes; the k-th smallest
    * value h_k estimates the distinct count as (k−1)·M/h_k (hashes
    * uniform on [0, M)), exact when fewer than k distincts exist.
    * Unlike HLL the sketch is mergeable AND supports set expressions
    * (intersection via min-merge), which is why theta sketches won in
    * warehouse engines.
    *
    * Scale shape: the hash projection is map-side; (source, h) dedup
    * is one keyed aggregate; the bottom-64 comes from
    * [[graft.operators.OrderedScan.bottomK]] — per-(source, bucket)
    * counts prune every bucket that cannot host a rank ≤ 64 hash
    * BEFORE any sort, so the row_number window touches ~1/128 of each
    * source's hashes however large the corpus. Nothing collects; the
    * estimate is one double division per source at the very end
    * ((k−1)·M exact in 66 bits ⇒ exact as a double, so the division
    * is the only rounding step and is bit-identical cross-engine).
    *
    * The oracle replays hash, dedup, bottom-k and estimate in SQL
    * with a full per-source sort — same rows, same doubles, proving
    * the pruned plan ≡ the naive one.
    */
  /** The (source, 60-bit shingle hash) distinct frame both KMV legs
    * (q121, q123) sketch from: 3-gram shingles, md5-derived uniform
    * hashes, one keyed dedup. Map-side until the dedup shuffle.
    */
  private[graft] def kmvHashes(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    kmvHashProjection(docs).distinct()

  /** The map-side half of [[kmvHashes]] (no dedup) — the shared
    * projection the streaming sketch ([[graft.streaming.KmvStream]])
    * runs per batch: its bottom-k state is insert-if-smaller-and-
    * absent, so duplicates fall out at the state row instead of in a
    * (stream-unbounded) distinct.
    */
  private[graft] def kmvHashProjection(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("source"),
        explode(TextOps.shinglesKernel(3)(
          TextOps.words(col("text")))).as("s"))
      .select(col("source"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))

  /** The q121 estimate finale over ANY (source, h) bottom-64 sketch
    * frame plus the (source, h) distinct-hash frame for the
    * exact-count comparison column — shared with the stored leg
    * (q190) so sketches from any build path read identically. Takes
    * the HASH frame (not docs) so a caller that already computed it
    * can share one evaluation (q121 passes its cached frame; without
    * that, the shingle+md5+distinct pipeline ran once per consumer).
    */
  private[graft] def kmvDistinctFrom(sk: org.apache.spark.sql.DataFrame,
      hashes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val k = 64
    val s = sk.groupBy(col("source"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n_kept"))
    val nd = hashes.groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))
    // M = 2^60 (15 md5 hex digits); (k-1)*M has 6 significant bits
    // so the Scala-side product is exactly representable
    val km = (k - 1).toDouble * 1152921504606846976d
    s.join(nd, "source")
      .select(col("source"), col("n_distinct"), col("n_kept"), col("hk"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(km) / col("hk").cast("double"))
          .as("kmv_estimate"))
      .orderBy(col("source"))
  }

  val q121 = Q(
    "q121_kmv_distinct",
    (spark, dir) => {
      // NOT cached, deliberately (measured r18): the three
      // evaluations of the hash pipeline (bottomK's two reads + the
      // n_distinct leg) share their aggregation exchanges via
      // ReusedExchange under AQE, while a persist compiles the
      // subtree into a non-adaptive cached plan (static partitions,
      // no runtime broadcast) and lost 0.5-2 s per run both with and
      // without adaptive cached plans
      val h = kmvHashes(Tables(spark, dir, "documents"))
      val ranked = graft.operators.OrderedScan.bottomK(h,
        col("source"), col("h"), col("h"), expr(s"h div ${1L << 53}L"),
        64, "rk")
      kmvDistinctFrom(ranked.select(col("source"), col("h")), h)
    },
    Some("""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT source, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      h AS (SELECT DISTINCT source,
                   ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
      r AS (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM h),
      sk AS (SELECT source, MAX(h) AS hk, COUNT(*) AS n_kept
             FROM r WHERE rk <= 64 GROUP BY 1),
      nd AS (SELECT source, COUNT(*) AS n_distinct FROM h GROUP BY 1)
      SELECT sk.source, nd.n_distinct, sk.n_kept, sk.hk,
             CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
                  ELSE 63::DOUBLE * 1152921504606846976::DOUBLE
                       / CAST(sk.hk AS DOUBLE) END AS kmv_estimate
      FROM sk JOIN nd USING (source)
      ORDER BY sk.source"""))

  /** KMV set expressions — the capability that makes the theta-sketch
    * leg (q121) more than an HLL rival: for every source pair, the
    * UNION and INTERSECTION distinct-shingle estimates computed purely
    * from the two 64-hash sketches, next to the exact values (q93's
    * overlap matrix recomputed on 3-gram hashes). Merge rule (Beyer
    * et al. 2007): bottom-k of (A ∪ B) = bottom-k of (K_A ∪ K_B) as
    * hash SETS — any of the union's k smallest elements is among the
    * k smallest of its own set — so the merged sketch is the union's
    * true KMV sketch and (k−1)·M/h_k applies unchanged. Intersection:
    * ρ = |{x ∈ K_merged : x ∈ K_A ∧ x ∈ K_B}| / k, estimate
    * ρ · union_est; when the merged sketch is unsaturated (n < k)
    * both inputs enumerated fully, so both estimates are exact.
    *
    * Scale shape: everything pairwise happens on SKETCH rows — ≤ 64
    * rows per source however large the corpus, so the pair merge is
    * summary × summary (the whole point: q93's exact matrix costs a
    * corpus-sized self-join; this costs one sketch build). The exact
    * comparison legs (fixture-only — at 100 TB you'd ship just the
    * estimates) are one keyed self-equi-join on the hash (per-hash
    * fan-out bounded by the source count, q93's argument) and
    * per-source distinct counts. Estimate arithmetic is one division
    * (union) and one division+product (intersection), parenthesized
    * identically in the oracle, every input an exact-in-double
    * integer — bit-identical cross-engine.
    */
  val q123 = Q(
    "q123_kmv_setops",
    (spark, dir) => {
      val k = 64
      // NOT cached, deliberately — same measurement as q121: the
      // repeated subtrees (bottomK's reads, the distinct counts, both
      // intersection sides) dedup via ReusedExchange under AQE;
      // persisting them compiled non-adaptive cached plans and lost
      // 0.5-2 s per run under either cached-plan setting
      val h = kmvHashes(Tables(spark, dir, "documents"))
      val sk = graft.operators.OrderedScan.bottomK(h, col("source"),
          col("h"), col("h"), expr(s"h div ${1L << 53}L"), k, "rk")
        .select(col("source"), col("h"))
      val nd = h.groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
      // pair list: one row per source — summary-sized by contract
      // (a corpus has tens of sources), so the non-equi self-join is
      // a trivial nested loop over a tiny frame
      val srcs = nd.select(col("source"))
      val pairs = srcs.as("pa").join(srcs.as("pb"),
          col("pa.source") < col("pb.source"))
        .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
      val aRows = sk.join(pairs, col("source") === col("sa"))
        .select(col("sa"), col("sb"), col("h"),
          lit(1).as("ina"), lit(0).as("inb"))
      val bRows = sk.join(pairs, col("source") === col("sb"))
        .select(col("sa"), col("sb"), col("h"),
          lit(0).as("ina"), lit(1).as("inb"))
      // hash-set union of the two sketches with membership flags kept
      val merged = aRows.union(bRows)
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
      // per-pair rank: ≤ 2k rows per pair BY CONSTRUCTION, so the
      // window is not a scale hazard (no bottomK machinery needed)
      val mw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sa"), col("sb")).orderBy(col("h"))
      val agg = merged.withColumn("rk", row_number().over(mw))
        .filter(col("rk") <= k)
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("hk"),
          sum(col("ina") * col("inb")).cast("long").as("n_both"))
      // exact legs for the fixture's estimate-vs-truth columns
      val inter = h.as("x").join(h.as("y"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("n_inter"))
      val km = (k - 1).toDouble * 1152921504606846976d // 63·2^60, exact
      val unionEst = when(col("n_sketch") < k, col("n_sketch").cast("double"))
        .otherwise(lit(km) / col("hk").cast("double"))
      agg
        .join(nd.select(col("source").as("sa"), col("n_distinct").as("nda")),
          Seq("sa"))
        .join(nd.select(col("source").as("sb"), col("n_distinct").as("ndb")),
          Seq("sb"))
        .join(inter, Seq("sa", "sb"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          (col("nda") + col("ndb") - col("n_inter")).as("n_union_exact"),
          col("n_inter").as("n_inter_exact"),
          col("n_sketch"), col("n_both"),
          unionEst.as("union_est"),
          when(col("n_sketch") < k, col("n_both").cast("double"))
            .otherwise((col("n_both").cast("double") / lit(k.toDouble)) *
              unionEst)
            .as("inter_est"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT source, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      h AS (SELECT DISTINCT source,
                   ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
      r AS (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM h),
      sk AS (SELECT source, h FROM r WHERE rk <= 64),
      nd AS (SELECT source, COUNT(*) AS n_distinct FROM h GROUP BY 1),
      pairs AS (SELECT a.source AS sa, b.source AS sb
                FROM nd a JOIN nd b ON a.source < b.source),
      m AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
              SELECT p.sa, p.sb, s.h, 1 AS ina, 0 AS inb
              FROM pairs p JOIN sk s ON s.source = p.sa
              UNION ALL
              SELECT p.sa, p.sb, s.h, 0 AS ina, 1 AS inb
              FROM pairs p JOIN sk s ON s.source = p.sb)
            GROUP BY 1, 2, 3),
      mk AS (SELECT sa, sb, h, ina, inb,
                    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
             FROM m),
      agg AS (SELECT sa, sb, COUNT(*) AS n_sketch, MAX(h) AS hk,
                     CAST(SUM(ina * inb) AS BIGINT) AS n_both
              FROM mk WHERE rk <= 64 GROUP BY 1, 2),
      inter AS (SELECT x.source AS sa, y.source AS sb, COUNT(*) AS n_inter
                FROM h x JOIN h y ON x.h = y.h AND x.source < y.source
                GROUP BY 1, 2)
      SELECT agg.sa AS source_a, agg.sb AS source_b,
             na.n_distinct + nb.n_distinct - COALESCE(inter.n_inter, 0)
               AS n_union_exact,
             COALESCE(inter.n_inter, 0) AS n_inter_exact,
             agg.n_sketch, agg.n_both,
             CASE WHEN agg.n_sketch < 64 THEN CAST(agg.n_sketch AS DOUBLE)
                  ELSE 63::DOUBLE * 1152921504606846976::DOUBLE
                       / CAST(agg.hk AS DOUBLE) END AS union_est,
             CASE WHEN agg.n_sketch < 64 THEN CAST(agg.n_both AS DOUBLE)
                  ELSE (CAST(agg.n_both AS DOUBLE) / 64.0)
                       * (CASE WHEN agg.n_sketch < 64
                               THEN CAST(agg.n_sketch AS DOUBLE)
                               ELSE 63::DOUBLE * 1152921504606846976::DOUBLE
                                    / CAST(agg.hk AS DOUBLE) END)
                  END AS inter_est
      FROM agg JOIN nd na ON na.source = agg.sa
               JOIN nd nb ON nb.source = agg.sb
               LEFT JOIN inter ON inter.sa = agg.sa AND inter.sb = agg.sb
      ORDER BY source_a, source_b"""))

  /** k-anonymity audit (Sweeney 2002) — the release-governance check a
    * training-data pipeline runs next to PII detection (q102): treating
    * (lang, source, length-bucket) as the quasi-identifier, every
    * equivalence class smaller than k = 5 docs is re-identification
    * risk. Reported per (lang, source): class count, violating-class
    * count, docs at risk, smallest class, total docs — the summary a
    * release gate thresholds on.
    *
    * Scale shape: two keyed aggregates (classes, then the per-pair
    * rollup) with a summary-sized output; the scan reads exactly the
    * three quasi-identifier columns — no text movement.
    */
  val q134 = Q(
    "q134_k_anonymity",
    (spark, dir) => {
      val k = 5
      val classes = Tables(spark, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 256").as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
      classes.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("n_docs") < k, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n_docs") < k, col("n_docs")).otherwise(0L))
            .as("docs_at_risk"),
          min(col("n_docs")).as("min_class"),
          sum(col("n_docs")).as("n_docs"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""
      WITH c AS (SELECT lang, source, n_chars // 256 AS len_bucket,
                        COUNT(*) AS n_docs
                 FROM documents GROUP BY 1, 2, 3)
      SELECT lang, source, COUNT(*) AS n_classes,
             COUNT(CASE WHEN n_docs < 5 THEN 1 END) AS n_violating,
             CAST(SUM(CASE WHEN n_docs < 5 THEN n_docs ELSE 0 END) AS BIGINT)
               AS docs_at_risk,
             MIN(n_docs) AS min_class,
             CAST(SUM(n_docs) AS BIGINT) AS n_docs
      FROM c GROUP BY 1, 2 ORDER BY lang, source"""))

  /** Importance-resampling scores (DSIR, Xie et al. 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much its hashed-unigram profile looks like
    * a TARGET slice (here lang = 'en') vs the full corpus. Features
    * are the q29 word codes hashed into 4096 buckets; the per-bucket
    * weight is the scaled rate difference
    * floor(2^20·ct/Nt) − floor(2^20·cc/Nc) — ALL-integer (floor
    * division in both engines), where DSIR's log-likelihood ratio
    * would hang cross-engine equality on libm (the q91 χ²-over-PSI
    * argument). A doc's score is the sum of its tokens' bucket
    * weights; the top 20 (score, doc_id) rows are the resampling
    * head.
    *
    * Scale shape: explode → ONE groupBy(bucket) to a ≤4096-row stats
    * frame; totals are a 1-row broadcast; the stats frame joins back
    * to the token stream on the bucket key (AQE broadcasts the
    * measured-tiny side — no hint); per-doc keyed agg; the top-20 is
    * a TakeOrdered, never a full sort.
    */
  /** The q142 selection over any frame with doc_id/lang/text — shared
    * with Stress so the measured curve is the shipped plan.
    */
  private[graft] def dsirOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val S = 1L << 20
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(TextOps.words(col("text"))).as("w"))
      // empty tokens (double/leading spaces) would bucket differently
      // cross-engine (Spark ascii('') = 0 vs DuckDB unicode('') = −1,
      // and pmod vs signed %) — exclude them on BOTH sides instead of
      // leaning on the fixture's single-space invariant
      .filter(col("w") =!= "")
      .withColumn("b", pmod(TextOps.wordCode(col("w")), lit(4096L)))
    val stats = toks.groupBy(col("b"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cc"))
    val tot = stats.agg(sum(col("ct")).as("nt"), sum(col("cc")).as("nc"))
    val wgt = stats.crossJoin(broadcast(tot))
      .select(col("b"),
        (expr(s"($S * ct) div nt") - expr(s"($S * cc) div nc")).as("wt"))
    toks.join(wgt, Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("wt")).as("score"), count(lit(1)).as("n_tokens"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val q142 = Q(
    "q142_dsir_importance",
    (spark, dir) => dsirOf(Tables(spark, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, lang,
                        ((unicode(w) * 31 + length(w))::BIGINT % 4096) AS b
                 FROM (SELECT doc_id, lang,
                              unnest(string_split(text, ' ')) AS w
                       FROM documents)
                 WHERE w <> ''),
      s AS (SELECT b,
                   COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ct,
                   COUNT(*) AS cc
            FROM t GROUP BY 1),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                     CAST(SUM(cc) AS BIGINT) AS nc FROM s),
      w AS (SELECT b, CAST((1048576 * ct) // nt
                           - (1048576 * cc) // nc AS BIGINT) AS wt
            FROM s CROSS JOIN tot)
      SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
             CAST(SUM(w.wt) AS BIGINT) AS score,
             COUNT(*) AS n_tokens
      FROM t JOIN w ON t.b = w.b
      GROUP BY t.doc_id
      ORDER BY score DESC, t.doc_id
      LIMIT 20"""))

  /** Hashed-bigram LM perplexity filter (the CCNet / Gopher quality
    * gate, Wenzek et al. 2020 / Rae et al. 2021): train an add-one
    * smoothed bigram model on the reference slice (lang = 'en'),
    * score EVERY document by per-bigram cross-entropy under it, and
    * emit the 20 highest-perplexity docs — the head a quality filter
    * would drop. Features are the q29/q142 word codes feature-hashed
    * into B = 4096 buckets (pair hash code1·131 + code2), so the
    * "LM" is the standard hashed approximation:
    * p(bigram) = (c(b12) + 1) / (c(b1) + B). Each −log2 p term is
    * quantized to 6 dp and decimal-accumulated per doc (the q154
    * entropy discipline — order- and last-ulp-proof); the finale is
    * one fixed-order IEEE divide by the bigram count + round.
    *
    * Scale shape: the bigram stream is scanned once per leg (train,
    * score); BOTH model frames are ≤ 4096 rows by construction —
    * single-key buckets, not pairs — so the score-leg joins are
    * broadcast at ANY corpus size; the per-doc entropy is one keyed
    * aggregate; the top-20 is a TakeOrdered, never a global sort.
    */
  /** Per-bigram −log2 p terms under the q156 hashed add-one bigram LM,
    * carrying the caller's columns — the shared core of q156 (per-doc
    * perplexity) and q167 (per-source reweighting). Emits `keep` + the
    * 6-dp-quantized term `t`; both model frames are ≤ 4096 rows by
    * construction so the score-leg joins broadcast at any corpus size.
    */
  private[graft] def bigramEntropyTerms(docs: org.apache.spark.sql.DataFrame,
      keep: Seq[String]): org.apache.spark.sql.DataFrame = {
      val B = 4096L
      val kc = keep.map(col)
      val big = docs
        .select(kc :+ col("lang") :+
          expr("filter(split(text, ' '), x -> x != '')").as("ws"): _*)
        // guard short docs BEFORE the transform: sequence(0, -1)
        // DESCENDS in Spark (the TextOps.shingles hazard) and
        // element_at(ws, 0) then throws — a 0/1-word doc must simply
        // yield no bigrams, as the oracle's range(1, len) does
        .where(size(col("ws")) >= 2)
        .select(kc :+ col("lang") :+
          explode(expr(
            "transform(sequence(0, size(ws) - 2), i -> " +
              "struct(element_at(ws, i + 1) AS w1, " +
              "element_at(ws, i + 2) AS w2))")).as("bg"): _*)
        .select(kc :+ col("lang") :+
          pmod(TextOps.wordCode(col("bg.w1")), lit(B)).as("b1") :+
          (pmod(TextOps.wordCode(col("bg.w1")) * 131L +
            TextOps.wordCode(col("bg.w2")), lit(B)).as("b12")): _*)
      val train = big.where(col("lang") === "en")
      // ONE pass over the training bigram stream builds both model
      // frames: the separate c12/c1 aggregations each re-evaluated the
      // corpus-scale split+explode (two full train passes; guide §2.4
      // — don't compute the same stream twice). Grouping sets expand
      // the stream ×2 map-side into ≤ 2·B partial-agg groups — the
      // same integer counts, one pass at any scale; both model frames
      // read the SAME aggregation exchange (ReusedExchange dedups it
      // inside the one action — no persist needed, see perSrc below).
      val gs = train
        .groupingSets(Seq(Seq(col("b1")), Seq(col("b12"))),
          col("b1"), col("b12"))
        .agg(count(lit(1)).as("c"))
      // b1/b12 are pmod results — never null in data, so a null key
      // identifies the OTHER grouping set exactly
      val c12 = gs.where(col("b12").isNotNull)
        .select(col("b12"), col("c").as("c12"))
      val c1 = gs.where(col("b1").isNotNull)
        .select(col("b1"), col("c").as("c1"))
      big
        .join(broadcast(c12), Seq("b12"), "left")
        .join(broadcast(c1), Seq("b1"), "left")
        .select(kc :+
          round(-log(2.0,
            (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("c1"), lit(0L)) + lit(B)).cast("double")), 6)
            .as("t"): _*)
  }

  /** The q156 selection over any frame with doc_id/lang/text — shared
    * with Stress so the measured curve is the shipped plan.
    */
  private[graft] def perplexityOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bigramEntropyTerms(docs, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t").cast("decimal(38,6)")).as("hsum"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("hsum").cast("double") /
          col("n_bigrams").cast("double"), 6).as("h_bits"))
      .orderBy(col("h_bits").desc, col("doc_id"))
      .limit(20)

  val q156 = Q(
    "q156_perplexity_filter",
    (spark, dir) => perplexityOf(Tables(spark, dir, "documents")),
    Some("""
      WITH d AS (SELECT doc_id, lang,
                        list_filter(string_split(text, ' '),
                                    x -> x <> '') AS ws
                 FROM documents),
      bg AS (SELECT doc_id, lang,
                    ((unicode(ws[i]) * 31 + length(ws[i])) % 4096) AS b1,
                    (((unicode(ws[i]) * 31 + length(ws[i])) * 131
                      + unicode(ws[i+1]) * 31 + length(ws[i+1]))
                     % 4096) AS b12
             FROM d, UNNEST(range(1, len(ws))) AS t(i)),
      c12 AS (SELECT b12, COUNT(*) AS c12 FROM bg
              WHERE lang = 'en' GROUP BY 1),
      c1 AS (SELECT b1, COUNT(*) AS c1 FROM bg
             WHERE lang = 'en' GROUP BY 1),
      s AS (SELECT bg.doc_id,
                   ROUND(-log2((COALESCE(c12.c12, 0) + CAST(1 AS BIGINT))
                               / CAST(COALESCE(c1.c1, 0) + 4096 AS DOUBLE)),
                         6) AS t
            FROM bg LEFT JOIN c12 ON c12.b12 = bg.b12
                    LEFT JOIN c1 ON c1.b1 = bg.b1),
      h AS (SELECT doc_id, SUM(CAST(t AS DECIMAL(38,6))) AS hsum,
                   COUNT(*) AS n_bigrams
            FROM s GROUP BY 1)
      SELECT doc_id, n_bigrams,
             ROUND(CAST(hsum AS DOUBLE) / n_bigrams, 6) AS h_bits
      FROM h
      ORDER BY h_bits DESC, doc_id
      LIMIT 20"""))

  /** Directed containment near-dup at ≥ 0.8 (quote/subset detection —
    * the asymmetric case Jaccard structurally misses: a short doc
    * quoted inside a long one). Candidates via the containment prefix
    * filter (complete by theorem, like q37), verified on exact
    * shingle sets, so the DuckDB all-shared-shingles oracle is a true
    * differential test of candidate+verify with no recall luck.
    */
  val q166 = Q(
    "q166_containment",
    (spark, dir) =>
      Dedup.containmentPairs(Tables(spark, dir, "documents"),
        "text", "doc_id", threshold = 0.8, n = 3)
        .orderBy(col("a"), col("b")),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id <> y.doc_id
                GROUP BY 1, 2)
      SELECT a, b, inter*1.0/sa.n AS containment
      FROM pairs JOIN sizes sa ON sa.doc_id = a
      WHERE inter*1.0/sa.n >= 0.8
      ORDER BY a, b"""))

  /** Domain reweighting from LM loss (the DoReMi/Xie 2023 shape on
    * the q156 machinery): per source, the mean hashed-bigram
    * cross-entropy under the lang='en' reference model; sources whose
    * loss EXCEEDS the corpus mean get sampling weight proportional to
    * their excess (hard domains upweighted), the rest 0 — the
    * deterministic, oracle-checkable core of the DoReMi proxy-loss
    * loop. The global baseline re-aggregates the per-source summary
    * (no second corpus pass); the weight normalizer accumulates
    * 6-dp-quantized excesses as decimals (order-proof); each
    * weight/mean is one fixed-order IEEE divide, rounded 6 dp, NULL
    * when no source exceeds the mean. Scale shape: ONE bigram-stream
    * pass into a source-keyed aggregate, everything after runs on
    * ≤ #sources summary rows with 1-row frames attached broadcast.
    */
  val q167 = Q(
    "q167_domain_reweight",
    (spark, dir) => {
      val terms = bigramEntropyTerms(
        Tables(spark, dir, "documents"), Seq("doc_id", "source"))
      // the ≤ #sources summary is referenced by FOUR downstream
      // subtrees (glob, e's probe side, tot, the finale) — NOT
      // cached, deliberately (measured r18): all four references live
      // in ONE action, where the planner already dedups the identical
      // aggregation exchanges via ReusedExchange; a persist here
      // compiled the corpus bigram pass into a non-adaptive cached
      // plan and cost ~1.7 s per run. Caching pays across separate
      // actions, not within one plan.
      val perSrc = terms.groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_bigrams"),
          sum(col("t").cast("decimal(38,6)")).as("hsum"))
        .withColumn("h_bits", round(col("hsum").cast("double") /
          col("n_bigrams").cast("double"), 6))
      val glob = perSrc.agg(
        round(sum(col("hsum")).cast("double") /
          sum(col("n_bigrams")).cast("double"), 6).as("h0"))
      val e = perSrc.crossJoin(broadcast(glob))
        .withColumn("excess_bits", round(col("h_bits") - col("h0"), 6))
      val tot = e.agg(sum(greatest(col("excess_bits"), lit(0.0))
        .cast("decimal(38,6)")).as("tot"))
      e.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_bigrams"),
          col("h_bits"), col("excess_bits"),
          when(col("tot") === 0, lit(null).cast("double"))
            .otherwise(round(greatest(col("excess_bits"), lit(0.0)) /
              col("tot").cast("double"), 6)).as("weight"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (SELECT doc_id, source, lang,
                        list_filter(string_split(text, ' '),
                                    x -> x <> '') AS ws
                 FROM documents),
      bg AS (SELECT doc_id, source, lang,
                    ((unicode(ws[i]) * 31 + length(ws[i])) % 4096) AS b1,
                    (((unicode(ws[i]) * 31 + length(ws[i])) * 131
                      + unicode(ws[i+1]) * 31 + length(ws[i+1]))
                     % 4096) AS b12
             FROM d, UNNEST(range(1, len(ws))) AS t(i)),
      c12 AS (SELECT b12, COUNT(*) AS c12 FROM bg
              WHERE lang = 'en' GROUP BY 1),
      c1 AS (SELECT b1, COUNT(*) AS c1 FROM bg
             WHERE lang = 'en' GROUP BY 1),
      s AS (SELECT bg.doc_id, bg.source,
                   ROUND(-log2((COALESCE(c12.c12, 0) + CAST(1 AS BIGINT))
                               / CAST(COALESCE(c1.c1, 0) + 4096 AS DOUBLE)),
                         6) AS t
            FROM bg LEFT JOIN c12 ON c12.b12 = bg.b12
                    LEFT JOIN c1 ON c1.b1 = bg.b1),
      ps AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
                    COUNT(*) AS n_bigrams,
                    SUM(CAST(t AS DECIMAL(38,6))) AS hsum
             FROM s GROUP BY 1),
      ps2 AS (SELECT source, n_docs, n_bigrams, hsum,
                     ROUND(CAST(hsum AS DOUBLE)
                           / CAST(n_bigrams AS DOUBLE), 6) AS h_bits
              FROM ps),
      g AS (SELECT ROUND(CAST(SUM(hsum) AS DOUBLE)
                         / CAST(SUM(n_bigrams) AS DOUBLE), 6) AS h0
            FROM ps),
      e AS (SELECT source, n_docs, n_bigrams, h_bits,
                   ROUND(h_bits - h0, 6) AS excess_bits
            FROM ps2 CROSS JOIN g),
      tot AS (SELECT SUM(CAST(GREATEST(excess_bits, 0.0)
                              AS DECIMAL(38,6))) AS tot FROM e)
      SELECT source, n_docs, n_bigrams, h_bits, excess_bits,
             CASE WHEN tot = 0 THEN NULL
                  ELSE ROUND(GREATEST(excess_bits, 0.0)
                             / CAST(tot AS DOUBLE), 6) END AS weight
      FROM e CROSS JOIN tot ORDER BY source"""))

  /** Semantic decontamination audit (the embedding-space twin of
    * q65's n-gram decontamination): label-0 vectors play the held-out
    * benchmark, every other label is corpus; a corpus vector is
    * flagged when its max cosine to ANY benchmark vector reaches
    * τ = 0.35. Exact (recall 1.0 — filter-then-scan, never
    * post-filtered ANN) and scale-right: the benchmark rides
    * broadcast, the corpus is scanned once map-side, only the
    * per-label summary shuffles. See
    * [[graft.pipeline.Similarity.semanticDecontam]].
    */
  val q179 = Q(
    "q179_semantic_decontam",
    (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
      Similarity.semanticDecontam(
        emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
        "vec_id", "embedding", "label", tau = 0.35)
    },
    Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      q AS (SELECT * FROM e WHERE label = 0),
      c AS (SELECT * FROM e WHERE label <> 0),
      s AS (SELECT c.vec_id, c.label,
                   MAX(list_dot_product(q.v, c.v) /
                       (sqrt(list_dot_product(q.v, q.v)) *
                        sqrt(list_dot_product(c.v, c.v)))) AS mc
            FROM c JOIN q ON true GROUP BY 1, 2)
      SELECT label, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN mc >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
             ROUND(MAX(mc), 6) AS max_cosine
      FROM s GROUP BY label ORDER BY label"""))

  /** Lexical-diversity audit per source (type-token ratio, hapax/dis
    * legomena — the vocabulary-health screen a corpus curator runs
    * before mixing; Herdan/Heaps territory but kept ALL-INTEGER): one
    * corpus scan to the (source, word) frequency table (vocab-bounded,
    * not corpus-bounded), then N tokens, V types, hapax (f=1) and dis
    * (f=2) counts as exact BIGINTs; TTR = V/N and hapax share = hx/V
    * are single IEEE divides of exact operands (identical cross-
    * engine), rounded 6 dp.
    */
  val q180 = Q(
    "q180_lexical_diversity",
    (spark, dir) => {
      val freq = Tables(spark, dir, "documents")
        .select(col("source"),
          explode(TextOps.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("f"))
      freq.groupBy(col("source"))
        .agg(sum(col("f")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("dis"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("hapax"), col("dis"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("hapax").cast("double") /
            col("n_types").cast("double"), 6).as("hapax_share"))
        .orderBy(col("source"))
    },
    Some("""
      WITH w AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
                 FROM documents),
      freq AS (SELECT source, w, COUNT(*) AS f
               FROM w WHERE w <> '' GROUP BY 1, 2),
      st AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
                    COUNT(*) AS n_types,
                    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS hapax,
                    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS dis
             FROM freq GROUP BY 1)
      SELECT source, n_tokens, n_types, hapax, dis,
             ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS ttr,
             ROUND(CAST(hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
               AS hapax_share
      FROM st ORDER BY source"""))

  /** Duplicate-cluster representative selection — the KEEP decision a
    * production near-dedup run actually ships (q55 stops at cluster
    * labels; this picks the survivor): within each connected near-dup
    * cluster keep the LONGEST member (n_chars, ties to the smallest
    * doc_id — "keep the richest copy" is the standard curation rule,
    * e.g. CCNet keeps the longest of a dup group) and account for what
    * the collapse drops. Spark side: q55's verified-pair → CC labels,
    * joined once to the documents frame (keyed join, no broadcast hint
    * — dup mass is O(corpus)), per-cluster argmax as `max(struct)` —
    * a map-side-combining aggregate, NO window over facts. Oracle:
    * replays pairs + recursive closure + a ROW_NUMBER keep per
    * cluster — full differential of pairs, clustering AND selection.
    */
  val q182 = Q(
    "q182_dedup_keep_longest",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
        threshold = 0.5)
      val cc = Dedup.connectedComponents(pairs, "a", "b")
        .select(col("node").as("doc_id"), col("canon").as("canon_id"))
      cc.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("canon_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("b"),
          sum(col("n_chars")).as("tot"))
        .select(col("canon_id"), col("n_members"),
          (-col("b.nid")).as("keep_id"),
          col("b.n_chars").as("keep_chars"),
          (col("tot") - col("b.n_chars")).as("chars_dropped"))
        .orderBy(col("canon_id"))
    },
    Some("""
      WITH RECURSIVE
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a, b FROM cand
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.5),
      e AS (SELECT a AS u, b AS v FROM pairs
            UNION SELECT b, a FROM pairs),
      reach(node, lab) AS (
        SELECT DISTINCT u, u FROM e
        UNION
        SELECT e.v, r.lab FROM reach r JOIN e ON e.u = r.node),
      cl AS (SELECT node AS doc_id, MIN(lab) AS canon_id
             FROM reach GROUP BY node),
      m AS (SELECT c.canon_id, d.doc_id, d.n_chars
            FROM cl c JOIN documents d USING (doc_id)),
      r AS (SELECT canon_id, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY canon_id
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM m),
      a AS (SELECT canon_id, COUNT(*) AS n_members,
                   CAST(SUM(n_chars) AS BIGINT) AS tot
            FROM m GROUP BY 1)
      SELECT a.canon_id, a.n_members, r.doc_id AS keep_id,
             r.n_chars AS keep_chars, a.tot - r.n_chars AS chars_dropped
      FROM a JOIN r ON r.canon_id = a.canon_id AND r.rn = 1
      ORDER BY a.canon_id"""))

  /** Per-source token counts — the q183 projection, shared with the
    * streaming twin ([[graft.streaming.MixStream]]): a grouped COUNT
    * over the ≤ |sources| key space, so the live form is bounded
    * forever by the CmStream argument.
    */
  private[graft] def tokenCountsOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("source"),
        explode(TextOps.words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"))

  /** The q183 finale over any (source, n_tokens) summary — p, √p at
    * 6 dp, decimal-accumulated normalizer, one final divide. Shared
    * batch/stream so the two forms cannot drift.
    */
  private[graft] def alphaWeightsFromCounts(
      t: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = t.agg(sum(col("n_tokens")).as("tot"))
    val q = t.crossJoin(broadcast(g))
      .withColumn("p_raw",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .select(col("source"), col("n_tokens"),
        round(col("p_raw"), 6).as("p"),
        round(sqrt(col("p_raw")), 6).as("w_alpha"))
    val z = q.agg(
      sum(col("w_alpha").cast("decimal(38,6)")).as("zs"))
    q.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("p"), col("w_alpha"),
        round(col("w_alpha") / col("zs").cast("double"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** Temperature-sampled mixture weights (the multilingual/multi-source
    * α-sampling rule, Lample & Conneau 2019 §3.1: w_s ∝ p_s^α flattens
    * the source distribution so low-resource slices are seen more) at
    * α = 1/2 — the ONE exponent a cross-engine-exact engine can ship,
    * because p^(1/2) = sqrt(p) is an IEEE-754 correctly-rounded op on
    * identical operands (pow/exp/ln carry no such contract; the q160
    * erf omission, same reason). One corpus scan to per-source token
    * counts (exact BIGINTs), p = one divide of exact operands, sqrt
    * rounded 6 dp then decimal-accumulated into the normalizer (q148
    * discipline), weights one final divide. Everything after the scan
    * is summary-sized; the totals ride 1-row broadcasts.
    */
  val q183 = Q(
    "q183_alpha_mixture",
    (spark, dir) =>
      alphaWeightsFromCounts(
        tokenCountsOf(Tables(spark, dir, "documents"))),
    Some("""
      WITH w AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
                 FROM documents),
      t AS (SELECT source, COUNT(*) AS n_tokens
            FROM w WHERE w <> '' GROUP BY 1),
      g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM t),
      s AS (SELECT source, n_tokens,
                   CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS p_raw
            FROM t CROSS JOIN g),
      q AS (SELECT source, n_tokens, ROUND(p_raw, 6) AS p,
                   ROUND(SQRT(p_raw), 6) AS w_alpha
            FROM s),
      z AS (SELECT SUM(CAST(w_alpha AS DECIMAL(38,6))) AS zs FROM q)
      SELECT source, n_tokens, p, w_alpha,
             ROUND(w_alpha / CAST(zs AS DOUBLE), 6) AS weight
      FROM q CROSS JOIN z ORDER BY source"""))

  /** Hard-negative mining for contrastive training (the retrieval-
    * training data op next to q80's kNN classify): for each vector in
    * a deterministic audit slice (vec_id ≡ 0 mod 13 — the 100 TB
    * sampling knob, q94's pattern), the single highest-cosine corpus
    * vector carrying a DIFFERENT label — the "looks closest but isn't
    * the same class" example a contrastive loss wants. Exact, not ANN:
    * the query slice rides broadcast, the corpus is scanned ONCE
    * map-side, only (slice × 1) argmax rows shuffle. Cosines are
    * fixed-order IEEE chains over identical operands (the q179
    * argument), ties break to the smallest negative id via one
    * `max(struct)` — no window over facts.
    */
  val q185 = Q(
    "q185_hard_negatives",
    (spark, dir) =>
      Similarity.hardNegatives(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", "label", mod = 13L),
    Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id % 13 = 0),
      s AS (SELECT q.vec_id AS qid, q.label AS qlab,
                   c.vec_id AS nid, c.label AS nlab,
                   list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM q JOIN e c ON c.label <> q.label),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, nid) AS rn
            FROM s)
      SELECT qid AS vec_id, qlab AS label, nid AS neg_id,
             nlab AS neg_label, ROUND(cos, 6) AS neg_cosine
      FROM r WHERE rn = 1 ORDER BY vec_id"""))

  /** Flesch-Kincaid readability per source (the classic grade-level
    * formula, a standard curation feature next to q27's composite
    * score — C4/Dolma-era pipelines gate on readability bands):
    * syllables counted as vowel GROUPS `[aeiouy]+` per word (min 1 —
    * the standard heuristic), and since the synthetic corpus carries
    * no sentence punctuation the document is the sentence unit
    * (documented convention; on punctuated text swap the splitter).
    * One exploded-words scan to exact BIGINT word/syllable sums, doc
    * counts from a second aggregate on the UNEXPLODED frame, per-source
    * summaries joined broadcast; FK = 0.39·(W/S) + 11.8·(Y/W) − 15.59
    * is a fixed-order IEEE chain over two exact-operand divides with
    * both engines parsing identical decimal literals.
    */
  val q186 = Q(
    "q186_readability",
    (spark, dir) => {
      val syl = Tables(spark, dir, "documents")
        .select(col("source"),
          explode(TextOps.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(greatest(lit(1L),
            regexp_count(col("w"), lit("[aeiouy]+")).cast("long")))
            .as("n_syllables"))
      val docs = Tables(spark, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val wpd = col("n_words").cast("double") / col("n_docs").cast("double")
      val spw = col("n_syllables").cast("double") /
        col("n_words").cast("double")
      syl.join(broadcast(docs), "source")
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_syllables"),
          round(wpd, 6).as("words_per_doc"),
          round(spw, 6).as("syllables_per_word"),
          round(lit(0.39) * wpd + lit(11.8) * spw - lit(15.59), 6)
            .as("fk_grade"))
        .orderBy(col("source"))
    },
    Some("""
      WITH w AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
                 FROM documents),
      s AS (SELECT source, COUNT(*) AS n_words,
                   CAST(SUM(GREATEST(
                     len(regexp_extract_all(w, '[aeiouy]+')), 1))
                     AS BIGINT) AS n_syllables
            FROM w WHERE w <> '' GROUP BY 1),
      d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      SELECT s.source, d.n_docs, s.n_words, s.n_syllables,
             ROUND(CAST(s.n_words AS DOUBLE) / CAST(d.n_docs AS DOUBLE), 6)
               AS words_per_doc,
             ROUND(CAST(s.n_syllables AS DOUBLE)
                   / CAST(s.n_words AS DOUBLE), 6) AS syllables_per_word,
             ROUND(0.39 * (CAST(s.n_words AS DOUBLE)
                           / CAST(d.n_docs AS DOUBLE))
                   + 11.8 * (CAST(s.n_syllables AS DOUBLE)
                             / CAST(s.n_words AS DOUBLE))
                   - 15.59, 6) AS fk_grade
      FROM s JOIN d USING (source) ORDER BY s.source"""))

  // one stored register table per sf dir per JVM (StoreMemo: at most
  // one build, per-key serialized, temp dir cleaned at JVM exit);
  // built by landing the even-doc half then max-folding the odd half
  // — the real write→fold lifecycle
  private def hllStoreOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.sources.StoreMemo.tempStore(s"hll:$dir",
        "graft-hllstore-") { out =>
      val docs = Tables(spark, dir, "documents")
      graft.sources.HllStoreLayout.write(
        hllRegistersOf(docs.filter(col("doc_id") % 2 === 0)), out)
      graft.sources.HllStoreLayout.fold(spark, out,
        docs.filter(col("doc_id") % 2 =!= 0))
    }

  /** The STORED leg of the q117 HLL family (q117 = batch, HllStream =
    * live, this = storage): registers LANDED via the write→max-fold
    * lifecycle ([[graft.sources.HllStoreLayout]]; max idempotence =
    * exactly-once under replay with no ledger, the
    * [[graft.sources.BitmapStoreLayout]] argument), estimate read by
    * the shared `hllDistinctFrom` finale — so the answer must be
    * byte-identical to q117's direct build (same oracle), proving the
    * landed registers exact.
    */
  val q188 = Q(
    "q188_hll_store",
    (spark, dir) =>
      hllDistinctFrom(
        graft.sources.HllStoreLayout.read(spark, hllStoreOf(spark, dir)),
        Tables(spark, dir, "documents")),
    q117.oracle)

  // one stored KMV sketch per sf dir per JVM (StoreMemo: at most one
  // build, per-key serialized, temp dir cleaned at JVM exit); built
  // via the real write→union-fold lifecycle
  private def kmvStoreOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.sources.StoreMemo.tempStore(s"kmv:$dir",
        "graft-kmvstore-") { out =>
      val docs = Tables(spark, dir, "documents")
      val h1 = kmvHashes(docs.filter(col("doc_id") % 2 === 0))
      graft.sources.KmvStoreLayout.write(
        graft.operators.OrderedScan.bottomK(h1, col("source"), col("h"),
          col("h"), expr(s"h div ${1L << 53}L"), 64, "rk")
          .select(col("source"), col("h")), out)
      graft.sources.KmvStoreLayout.fold(spark, out,
        docs.filter(col("doc_id") % 2 =!= 0))
    }

  /** The STORED leg of the q121/q123 KMV family (q121 = batch,
    * KmvStream = live, this = storage): bottom-64 sketches LANDED via
    * the write→union-fold lifecycle
    * ([[graft.sources.KmvStoreLayout]]; set-union + deterministic
    * truncation is idempotent — exactly-once under replay with no
    * ledger, the third idempotent corner of the sketch-store
    * triangle), estimate read by the shared `kmvDistinctFrom` finale —
    * so the answer must be byte-identical to q121's direct build
    * (same oracle), proving the landed sketch exact.
    */
  val q190 = Q(
    "q190_kmv_store",
    (spark, dir) =>
      kmvDistinctFrom(
        graft.sources.KmvStoreLayout.read(spark, kmvStoreOf(spark, dir)),
        kmvHashes(Tables(spark, dir, "documents"))),
    q121.oracle)

  // one stored CM sketch per sf dir per JVM (the memoization pattern
  // of the other stores); built by the real ledgered-fold lifecycle —
  // bootstrap fold, incremental fold, then a deliberate REPLAY of the
  // second batch that the ledger must turn into a no-op (a
  // double-count would inflate the estimates below and fail the
  // oracle — the query itself proves exactly-once)
  private def cmStoreOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.sources.StoreMemo.tempStore(s"cm:$dir",
        "graft-cmstore-") { out =>
      val docs = Tables(spark, dir, "documents")
      val even = cmToksOf(docs.filter(col("doc_id") % 2 === 0))
      val odd = cmToksOf(docs.filter(col("doc_id") % 2 =!= 0))
      require(graft.sources.CmStoreLayout.fold(spark, out, "even-docs", even),
        "bootstrap fold must apply")
      require(graft.sources.CmStoreLayout.fold(spark, out, "odd-docs", odd),
        "incremental fold must apply")
      require(!graft.sources.CmStoreLayout.fold(spark, out, "odd-docs", odd),
        "replayed fold must be a ledger no-op")
    }

  /** The STORED leg of the q120 Count-Min family (q120 = batch,
    * CmStream = live, this = storage) — and the first ADDITIVE corner
    * of the sketch-store triangle: counts are NOT idempotent, so
    * unlike q187/q188/q190 this leg's exactly-once comes from
    * [[graft.sources.LedgerStore]]'s batch-id ledger, committed
    * atomically with the cells (the reference lands batches
    * transactionally, `clickhouse_table_writer.go:115-149`; the
    * replay ledger is this repo's addition). The
    * store is built by bootstrap-fold + incremental-fold + a
    * deliberately REPLAYED fold; the shared `cmEstimateFrom` finale
    * must then match q120's direct build byte-for-byte (same oracle) —
    * a replay that double-counted would fail the hash.
    */
  val q192 = Q(
    "q192_cm_store",
    (spark, dir) =>
      cmEstimateFrom(spark,
        graft.sources.CmStoreLayout.read(spark, cmStoreOf(spark, dir)),
        cmToksOf(Tables(spark, dir, "documents"))),
    q120.oracle)

  val all: Seq[Q] = Seq(q21, q22, q23, q24, q26, q27, q28, q29, q30, q31, q32,
    q36, q37, q38, q39, q40, q49, q54, q55, q58, q61, q65, q66, q67,
    q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q80,
    q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94,
    q95, q96, q97, q98, q99, q101, q102, q103, q104, q105, q106, q107,
    q108, q109, q110, q111, q115, q116, q117, q120, q121, q123, q134, q142,
    q145, q156, q166, q167, q179, q180, q182, q183, q185, q186, q188, q190,
    q192)
}
