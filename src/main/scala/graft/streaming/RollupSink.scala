package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained rollup — the Spark analog of the
  * ClickHouse SummingMergeTree tables the reference lands into (the
  * reference's example DDL files declare plain MergeTree, but the
  * summing variant is THE ClickHouse pattern for keeping per-key
  * aggregates hot while raw events stream in).
  *
  * Shape: each micro-batch appends ONE partial-aggregate part —
  * (keys, n, sum per value column) — under its batchId-keyed
  * partition, written by dynamic overwrite for the same batchId
  * idempotence LandingIngest's sink has (a replayed batch overwrites
  * its own part, never double-counts).
  * Readers merge on read: partial sums re-aggregate per key — exactly
  * ClickHouse's merge-on-read contract where unmerged parts may hold
  * several rows per key until a background merge folds them.
  * [[compact]] is that background merge: fold all parts into one,
  * swap atomically. Run it from maintenance (stream stopped), as
  * ClickHouse merges hold part locks — a batch replayed AFTER its
  * part was folded would otherwise double-count.
  *
  * At 100 TB this is the difference between "dashboards scan the raw
  * event table" and "dashboards scan keys × parts rows": each
  * micro-batch shuffles only its own partial aggregate (map-side
  * collapsed), the read merges parts proportional to compaction lag,
  * and compaction itself is one aggregate over partials, not raw data.
  *
  * Value columns must be exact-additive (integral/decimal — project
  * doubles to fixed point first, the engine's dsum discipline);
  * otherwise partial-sum-of-sums would tie results to merge order.
  */
object RollupSink {

  private def partials(keys: Seq[String], values: Seq[String], df: DataFrame) =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        values.map(c => sum(col(c)).as(s"sum_$c")): _*)

  /** foreachBatch sink: land this micro-batch's partial aggregate as
    * its own idempotent part.
    */
  def sinkBatch(df: DataFrame, batchId: Long, keys: Seq[String],
      values: Seq[String], outDir: String): Unit =
    partials(keys, values, df)
      .withColumn("p_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_batch")
      .parquet(outDir)

  /** Merge-on-read: the current rollup — partial parts re-aggregated
    * per key.
    */
  def read(spark: SparkSession, outDir: String, keys: Seq[String],
      values: Seq[String]): DataFrame =
    spark.read.parquet(outDir).drop("p_batch")
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        values.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)

  /** Background-merge analog: fold every part into one (p_batch = -1)
    * and atomically swap it in. Maintenance-path only — must not race
    * a replay of a folded batch (stop the stream first, like a part
    * lock).
    */
  def compact(spark: SparkSession, outDir: String, keys: Seq[String],
      values: Seq[String]): Unit = {
    val folded = read(spark, outDir, keys, values)
      .withColumn("p_batch", lit(-1L))
    Parts.swapIn(outDir, tmp =>
      folded.write.mode("overwrite").partitionBy("p_batch").parquet(tmp))
  }
}
