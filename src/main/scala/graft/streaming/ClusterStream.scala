package graft.streaming

import graft.sources.{BandIndexLayout, LabelStoreLayout}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths}

/** Continuous dedup CLUSTERING — the full loop, stored end-to-end:
  * each micro-batch of arriving documents (1) probes the LANDED band
  * index for every verified near-dup pair it is involved in
  * ([[BandIndexLayout.probePairs]] — batch×corpus directory-pruned,
  * plus batch-internal), (2) FOLDS those pairs into the LANDED
  * component labeling ([[LabelStoreLayout.fold]] — only touched
  * partitions rewrite), and (3) APPENDS its own band postings so the
  * next batch sees it. Between batches, all state lives in storage —
  * no driver or executor memory carries the corpus, which is the only
  * posture that survives a 100 TB corpus and an unbounded stream.
  *
  * Probe strictly before append, or batch-internal pairs
  * double-report (the [[EditDedupStream.startStored]] note); fold
  * order vs append is immaterial (the labeling never reads bands).
  *
  * Replay discipline (foreachBatch is at-least-once): an epoch that
  * COMPLETED leaves a marker under `bandDir/epochs/<streamId>/`, and
  * a replayed id is skipped whole — the state was already folded and
  * the pairs already delivered. A crash INSIDE the epoch window
  * (after append, before marker) replays against a store that
  * already holds the batch's postings; the probe output is
  * row-identical anyway — `bandCandidates`' a≠b guard drops
  * self-collisions and `verifyBandPairs`' trailing distinct dedups
  * the duplicated shingle rows — and the label fold is a fixpoint
  * under the same pairs, so the only replay cost is duplicate
  * postings (storage bloat), never wrong output. `streamId`
  * namespaces the markers: epoch ids restart at 0 for a NEW query,
  * so a fresh logical stream over the same store must pass a fresh
  * id (a RESUMED query — same checkpointLocation — keeps its
  * numbering and its streamId).
  *
  * Parity contract (ClusterStreamSpec): after any sequence of
  * micro-batches, the landed labeling equals a from-scratch
  * `Dedup.connectedComponents` over the full corpus's
  * `minhashNearDups` pairs — the q55 semantics, reached
  * incrementally.
  */
object ClusterStream {

  /** One epoch of the loop, callable outside a stream (and by the
    * spec, which pins the replay-skip). Returns true iff the epoch
    * ran (false = replayed id, skipped whole).
    */
  def applyEpoch(bandDir: String, labelDir: String, batch: DataFrame,
      id: Long, streamId: String, threshold: Double, textCol: String,
      idCol: String)(sink: (DataFrame, Long) => Unit): Boolean = {
    val markerDir = Paths.get(bandDir, "epochs", streamId)
    val marker = markerDir.resolve(id.toString)
    if (Files.exists(marker)) return false
    val spark = batch.sparkSession
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // PIN the probe result before mutating the index it reads:
    // append's write triggers refreshByPath on bandDir, which
    // invalidates any cached plan referencing it — a later read of a
    // merely-persisted result would silently recompute against the
    // batch's OWN postings. The local checkpoint cuts the lineage to
    // the path entirely.
    val pairs = BandIndexLayout.probePairs(spark, bandDir, batch,
      textCol, idCol, threshold).localCheckpoint(true)
    LabelStoreLayout.fold(spark, labelDir, pairs, "a", "b")
    BandIndexLayout.append(batch, textCol, idCol, bandDir)
    Files.createDirectories(markerDir)
    Files.createFile(marker)
    sink(pairs, id)
    // consumed — drain this thread's result caches (the label-round
    // checkpoints of any fold above the CC kernel gate included) AND
    // the epoch's other persisted blocks (the probe's localCheckpoint
    // above is not registered with releaseResult; without the sweep an
    // unbounded stream pins one checkpointed pair-set per epoch until
    // a periodic GC). The sweep keys on "created during
    // this epoch", so it assumes the stream is the session's only
    // concurrently-EXECUTING workload (the standing-pipeline
    // deployment); concurrent jobs holding un-recomputable
    // checkpoints across this window should run in their own context.
    graft.pipeline.Similarity.releaseResult()
    spark.sparkContext.getPersistentRDDs
      .filter { case (rddId, _) => !before(rddId) }
      .values.foreach(_.unpersist(blocking = false))
    true
  }

  def start(bandDir: String, labelDir: String, stream: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      streamId: String = "default")(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          applyEpoch(bandDir, labelDir, batch, id, streamId, threshold,
            textCol, idCol)(sink)
          ()
        }
      }
      .start()
}
