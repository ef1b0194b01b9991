package graft.streaming

import graft.pipeline.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental ANN — q99's `ivfAppendTopK` run live: a
  * stream of arriving vectors probes a history-trained IVF index for
  * their top-k neighbors as they land (the online half of ingest-time
  * near-dup triage / retrieval against a fixed corpus).
  *
  * The index is built ONCE at start (`lloydCentroids` over history —
  * exactly the stored-index posture: batch arrival retrains nothing);
  * each micro-batch then pays only its own map-side cell assignment
  * and the nprobe probe join against the history scan. foreachBatch
  * is the right streaming shape here because the probe is a
  * stateless per-epoch join against a static frame — no watermark or
  * state store involved, and the per-batch results are final on
  * arrival.
  *
  * Parity contract (AnnStreamSpec): a micro-batch's emitted top-k is
  * row-for-row identical to the batch API
  * `Similarity.ivfAppendTopK(history, batch, …)` on the same rows,
  * because the deterministic Lloyd training reproduces the same
  * centroids either way.
  */
object AnnStream {

  def start(history: DataFrame, stream: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      rounds: Int = 2)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    // train once — the stream never pays for (or perturbs) the index
    val cents = Similarity.trainCentroids(history, idCol, vecCol, nlist, rounds)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val corpus = history.select(col(idCol), col(vecCol))
            .unionAll(batch.select(col(idCol), col(vecCol)))
          sink(Similarity.ivfSearch(corpus, batch, cents,
            idCol, vecCol, k, nprobe), id)
        }
      }
      .start()
  }
}
