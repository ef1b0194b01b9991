package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Bucket-count policy + sidecar for the stored index/label layouts.
  *
  * The pb/bucket directory count was a constant 64 — tuned for
  * neither deployment: at bench SF a 3.3k-row labeling fans out into
  * 64 directories of ~50-row files (measured: fold 6.0-7.5 s at 64 vs
  * 5.1-5.4 s at 8; read 0.46 vs 0.20 s; write 1.24 vs 0.33 s), while
  * at 100 TB a fixed 64 under-prunes (each directory holds 1/64 of
  * the corpus). The count is now DERIVED from the measured row count
  * at build time (docs-per-bucket target, capped so the
  * probe-side bounded collect stays bounded) and RECORDED in a
  * `_nbuckets` sidecar; probes/folds/appends read the sidecar so the
  * pmod pruning always matches the layout that was actually built
  * (falling back to the historical 64 for stores landed before the
  * sidecar existed).
  */
object LayoutMeta {

  /** Target rows (docs/labels) per bucket directory. */
  val rowsPerBucket: Long = 500L

  /** Cap: keeps every probe's bucket-set collect (≤ nBuckets ints)
    * bounded driver state at any corpus size.
    */
  val maxBuckets: Int = 4096

  /** Derived bucket count for a layout built over `rows` keys. */
  def nBucketsFor(rows: Long): Int =
    math.min(maxBuckets.toLong,
      math.max(4L, (rows + rowsPerBucket - 1) / rowsPerBucket)).toInt

  def writeNBuckets(dir: String, n: Int): Unit =
    Files.write(Paths.get(dir, "_nbuckets"),
      n.toString.getBytes(StandardCharsets.UTF_8))

  /** The layout's recorded bucket count; `fallback` (the historical
    * default) for stores landed before the sidecar existed.
    */
  def readNBuckets(dir: String, fallback: Int = 64): Int = {
    val p = Paths.get(dir, "_nbuckets")
    if (Files.exists(p))
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt
    else fallback
  }
}
