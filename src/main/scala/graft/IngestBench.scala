package graft

import graft.bind.SchemaBinder
import graft.proto.{ProtoRows, Wire}
import graft.queries.TranscodeE2E
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Ingest-throughput measurement: the consume side of the reference's
  * pipeline — framed proto batches → varint split (S3) → decode (S4)
  * → bind/transcode (P1-P11) → durable columnar land (D5) — at bench
  * volume. The reference's published capacity envelope is
  * 10k-100k rows/s per writer (BASELINE.md: max_batch_size /
  * flush_interval); this prints rows/s for the same logical work so
  * the "matches-or-beats single-node throughput" claim is a number,
  * not an assertion.
  *
  * The producer side (building + wire-encoding the messages) runs
  * distributed BEFORE the clock starts and is excluded, mirroring how
  * the reference's envelope counts server-side work, not client
  * encode. Everything timed is distributed: no driver loop touches a
  * row.
  */
object IngestBench {

  /** Returns (rows landed, wall seconds for the consume side). */
  def run(spark: SparkSession, rows: Long, msgsPerFrame: Int = 64): (Long, Double) = {
    import spark.implicits._
    val message = TranscodeE2E.message
    val binding = SchemaBinder.bind(message, TranscodeE2E.table)
    val parallelism = spark.sparkContext.defaultParallelism

    // producer side: fixture-shaped messages, wire-encoded and framed
    // in parallel, materialized so the timed span starts at the wire
    val frames = spark.range(0, rows, 1, parallelism)
      .mapPartitions { it =>
        it.grouped(msgsPerFrame).map { group =>
          Wire.joinFrames(group.map { i =>
            ProtoRows.encodeValues(message,
              TranscodeE2E.Fixture((i % 100000L).toInt).protoValues)
          })
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    frames.count()

    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-ingest-bench-")
    val outDir = tmpRoot.resolve("t").toString
    try {
      val t0 = System.nanoTime()
      binding.transcode(ProtoRows.decodeFramed(frames, message))
        .write.mode("overwrite").parquet(outDir)
      val sec = (System.nanoTime() - t0) / 1e9
      val landed = spark.read.parquet(outDir).count()
      (landed, sec)
    } finally {
      frames.unpersist(blocking = false)
      // ~1M rows of parquet per run: delete, don't leak /tmp
      graft.streaming.Parts.deleteTree(tmpRoot)
    }
  }
}
