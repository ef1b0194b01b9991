package graft.operators

/** The measured-size gate for summary-frame operators (guide §2:
  * derive the plan from the input, never a constant tuned for one
  * deployment).
  *
  * Connected components (`Dedup.connectedComponents`) and BPE training
  * (`TextOps.bpeLearn`) run over a frame whose size the operator has
  * already MEASURED — a pair list, a word vocabulary; orders of
  * magnitude below the corpus at ANY scale factor. At or below
  * [[smallRows]] such a frame is summary-sized: the operator runs its
  * exact algorithm in one task, with no shuffle and no Spark job per
  * iteration. Above it the same result comes from
  * distributed rounds under the caller's own session and conf.
  */
object AdaptiveShape {

  /** Rows at or below which a measured frame counts as summary-sized. */
  val smallRows: Long = 2000000L
}
