package graft.streaming

import graft.bind.Binding
import graft.proto.{PMessage, ProtoRows}
import graft.sources.QueueSource
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The ingest drain: admit message batches through the
  * [[QueueSource]]'s own admission control, stream them out of its
  * MicroBatchStream, decode + transcode, and land with the idempotent
  * [[LandingSinkProvider]] sink — S1/S2's engine contract end-to-end
  * through a real DataSourceV2 source and sink. The server's continuous
  * drains ([[graft.net.ServerMain.startDrains]]) run the same
  * [[transcoded]] stream.
  */
object QueueIngest {

  def runOnce(spark: SparkSession, message: PMessage, binding: Binding,
      batches: Seq[Seq[Array[Byte]]], capacity: Int,
      onFull: RowBuffer.OnFull, numWriters: Int = 2,
      name: String = "queue-ingest"): DataFrame = {
    val q = QueueSource.create(name, capacity, onFull)
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        q.writeBatch(b) match {
          case RowBuffer.Ok => ()
          case rejected =>
            // legitimate shedding under DropOldest/DropNewest; under
            // Block it means the caller lost this batch — say so
            System.err.println(s"[queue-ingest] batch $i: $rejected")
        }
      }
      drain(spark, name, message, binding, numWriters)
    } finally {
      // the registry is process-global: without this, each run leaks
      // its queue object (and any retained uncommitted rows)
      QueueSource.drop(name)
    }
  }

  /** Queue `name` as a stream of sink rows, read as one slice per
    * writer and decoded + transcoded inside that read stage.
    */
  def transcoded(spark: SparkSession, name: String, writers: Int,
      message: PMessage, binding: Binding): DataFrame =
    binding.transcode(ProtoRows.decode(QueueSource.readStream(spark, name, writers)
      .select(col("value")).as[Array[Byte]](Encoders.BINARY), message))

  /** Drain an EXISTING queue (filled by any producer — in-process
    * writes or the [[graft.net.IngestServer]] socket path) through the
    * MicroBatchStream → decode → transcode → idempotent-sink pipeline
    * (one job of one stage per micro-batch, one task per writer, each
    * writing its own part file), returning the landed frame. Does not
    * own the queue's lifecycle: the caller created it and decides when
    * to drop it.
    */
  def drain(spark: SparkSession, name: String, message: PMessage,
      binding: Binding, numWriters: Int = 2): DataFrame = {
    val base = Files.createTempDirectory("graft-queue-ingest-")
    val outDir = base.resolve("out").toString
    val sq = LandingIngest.landTo(transcoded(spark, name, numWriters, message, binding)
      .writeStream.option("checkpointLocation", base.resolve("ckpt").toString), outDir)
      .start()
    sq.processAllAvailable()
    sq.stop()
    sq.awaitTermination()
    LandingIngest.landedOrEmpty(spark, base.resolve("out"), message, binding)
  }
}
