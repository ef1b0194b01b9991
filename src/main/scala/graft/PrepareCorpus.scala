package graft

import org.apache.spark.sql.functions._

/** End-to-end corpus preparation — the full training-data pipeline a
  * reference user would run, chained from the individually-verified
  * operators (each stage is a driver-checked query; this main is the
  * composition story, runnable as a demo):
  *
  *   1. incremental exact dedup of "today's batch" vs the landed corpus
  *   2. near-dup collapse inside the surviving batch (MinHash-LSH →
  *      connected components, keep each cluster's canonical doc)
  *   3. quality + language filters
  *   4. benchmark decontamination (5-gram containment vs a held-out set)
  *   5. blocklist scrub (the PII-redaction machinery)
  *   6. per-language weighted mixture sampling (md5-bucket, reproducible)
  *   7. sequence packing stats (2048-token chunks, split-doc counts)
  *   8. seeded shuffle-shard manifest (reproducible epoch order)
  *
  * Usage: scripts/run.sh graft.PrepareCorpus [sfDir]
  */
object PrepareCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(SparkEntry.envCpus)
    import graft.pipeline.{Dedup, TextOps}

    val docs = Tables(spark, sfDir, "documents")
    def stage(name: String, n: Long): Unit = println(f"$name%-34s $n%8d docs")
    stage("corpus", docs.count())

    // 1. landed corpus vs incoming batch (by id range here; in
    // production the batch is the day's landing directory)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val fresh = Dedup.incrementalExact(history, incoming, "text", "doc_id")
      .select(col("doc_id"))
      .join(incoming, "doc_id")
    stage("1 exact-novel incoming", fresh.count())

    // 2. near-dup collapse within the batch: drop every doc whose CC
    // canonical is a different doc
    val pairs = Dedup.minhashNearDups(fresh, "text", "doc_id", 0.5)
    val canon = Dedup.connectedComponents(pairs, "a", "b")
      .filter(col("node") =!= col("canon"))
      .select(col("node").as("doc_id"))
    val deduped = fresh.join(canon, Seq("doc_id"), "left_anti")
    stage("2 near-dup collapsed", deduped.count())

    // 3. quality + language
    val ws = TextOps.words(col("text"))
    val scored = deduped
      .withColumn("score", TextOps.qualityScoreFast(ws))
      .withColumn("lang_pred", TextOps.langIdFast(ws))
      .filter(col("score") >= 0.3 && col("lang_pred") =!= "und")
    stage("3 quality/lang filtered", scored.count())

    // 4. decontamination vs a held-out benchmark slice (5-gram
    // containment, broadcast semi-join — the q65 shape)
    val shingle5 = TextOps.shinglesKernel(5)
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(shingle5(ws)).as("s")).distinct()
    val contaminated = scored
      .select(col("doc_id"), explode(shingle5(ws)).as("s"))
      .join(broadcast(bench), Seq("s"), "left_semi")
      .select("doc_id").distinct()
    val clean = scored.join(contaminated, Seq("doc_id"), "left_anti")
    stage("4 decontaminated", clean.count())

    // 5. blocklist scrub — redact flagged terms in place (the PII
    // machinery; the term list stands in for email/phone patterns)
    val terms = Seq("customer", "vector")
    val scrubbed = clean
      .withColumn("text", TextOps.scrubText(col("text"), terms, "[REDACTED]"))
    val hits = clean.select(TextOps.scrubHits(col("text"), terms).as("h"))
      .agg(sum(col("h"))).collect()(0).getLong(0)
    println(f"5 scrubbed${""}%-24s $hits%8d term hits redacted")

    // 6. per-language mixture (md5 bucket < rate — reproducible).
    // Rates key on the LABELED language: the synthetic corpus is
    // English-vocabulary text under every label, so content lang-ID
    // (step 3's "und" guard) predicts "en" throughout — exactly what
    // it should do, and why the mix uses the metadata label
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100
    val rate = when(col("lang") === "en", 100)
      .when(col("lang").isin("de", "es"), 50).otherwise(25)
    val mixed = scrubbed.filter(bucket < rate)
    stage("6 mixture-sampled", mixed.count())

    // 7. packing stats: 2048-token chunks per language
    val packed = graft.operators.OrderedScan.runningTotal(
        mixed.select(col("doc_id"), col("lang"),
          size(ws).cast("long").as("n_tokens")),
        key = col("lang"), ord = Seq(col("doc_id")),
        value = col("n_tokens"), bucket = floor(col("doc_id") / 500),
        as = "running")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
        expr("(sum(n_tokens) - 1) div 2048 + 1").as("chunks"))
      .orderBy(col("lang"))
    println("7 packed:")
    packed.collect().foreach(r =>
      println(f"   ${r.getString(0)}%-4s docs=${r.getLong(1)}%6d " +
        f"tokens=${r.getLong(2)}%8d chunks=${r.getLong(3)}%6d"))

    // 8. reproducible epoch order: seeded hash rank → fixed-size
    // shards (the q81 shape) — the manifest a trainer would read
    val manifest = graft.operators.OrderedScan.runningTotal(
        mixed.select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("h")),
        key = lit(1), ord = Seq(col("h"), col("doc_id")), value = lit(1L),
        bucket = conv(substring(col("h"), 1, 1), 16, 10).cast("long"),
        as = "rk")
      .withColumn("shard", expr("(rk - 1) div 64"))
      .groupBy(col("shard")).agg(count(lit(1)).as("docs"))
    println(f"8 sharded${""}%-25s ${manifest.count()}%8d shards of <=64 docs")
    spark.stop()
  }
}
