package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive execution shape for SUMMARY-frame loops (guide §2:
  * derive partitioning from the input, never a constant tuned for one
  * deployment).
  *
  * Iterative operators here (BPE training and merge replays in
  * `TextOps`, Lloyd and PQ training in `Similarity`) run several
  * shuffles per round over a frame whose size the operator has already
  * MEASURED (a count it needed anyway). When that frame is
  * summary-sized — a word vocabulary, an embedding table; orders of
  * magnitude below the corpus at ANY scale factor — per-round cost is
  * pure stage overhead: 32 shuffle partitions × ~4 stages × rounds of
  * task-launch latency plus AQE's per-stage re-planning. Above the
  * threshold the session settings (AQE coalescing, skew handling)
  * apply untouched — that is the 100 TB posture. Connected components
  * shares only the [[smallRows]] gate: below it, it runs union-find in
  * one task (`Dedup.connectedComponents`) instead of a loop.
  *
  * The loop shape is SESSION-ISOLATED (VERDICT r17 #2): a small loop
  * runs over a rebinding of its input frame onto a cloned session
  * carrying the derived partition count and the AQE toggle
  * ([[org.apache.spark.sql.graft.GraftSession]] — `cloneSession` +
  * zero-copy `internalCreateDataFrame` over the input's physical
  * RDD), so a concurrent planner on another thread of the SAME parent
  * session (a streaming microbatch, a parallel query) can never
  * observe the loop's posture — nothing session-global is mutated,
  * and the AQE enablement rule, which deliberately reads the session
  * conf (so a thread-local SQLConf cannot scope it), sees only the
  * clone. Frames ESCAPING the block must be rebound to the parent
  * with [[rebind]], or the caller's downstream query tail would
  * inherit the loop posture.
  */
object AdaptiveShape {

  /** Rows at or below which a measured frame counts as summary-sized. */
  val smallRows: Long = 2000000L

  /** Target rows per shuffle partition inside a small loop. */
  val rowsPerPartition: Long = 500000L

  /** Run `f` over `df` with the loop shape derived from `rows` when
    * the frame is summary-sized (f receives the session-isolated
    * rebinding of `df`; everything derived from it inside the block
    * plans under the loop posture); run f(df) under the untouched
    * session settings otherwise. A DataFrame RESULT that outlives the
    * block must go through [[rebind]].
    */
  def withLoopFrame[A](df: DataFrame, rows: Long)(f: DataFrame => A): A = {
    if (rows > smallRows) f(df)
    else {
      val clone = org.apache.spark.sql.graft.GraftSession.cloneWithConf(
        df.sparkSession, Seq(
          "spark.sql.shuffle.partitions" ->
            math.max(1L, (rows + rowsPerPartition - 1) / rowsPerPartition)
              .toString,
          "spark.sql.adaptive.enabled" -> "false"))
      f(org.apache.spark.sql.graft.GraftSession.rebind(df, clone))
    }
  }

  /** Hand a frame built inside [[withLoopFrame]] back to the caller's
    * session (no-op when the sessions already match, i.e. the
    * above-gate path).
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    org.apache.spark.sql.graft.GraftSession.rebind(df, spark)
}
