package graft.sources

import graft.SparkSpec
import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.streaming.{QueueIngest, RowBuffer}
import org.apache.spark.sql.functions._

/** The custom MicroBatchStream source: admission inside the source,
  * monotone offsets under load shedding, incremental micro-batches,
  * and end-to-end equivalence with the batch transcode path.
  */
class QueueSourceSpec extends SparkSpec {

  private def msg(i: Int) = Array[Byte](i.toByte)

  test("drop-oldest sheds unread head and advances the readable start") {
    val q = new QueueSource.IngestQueue(4, RowBuffer.DropOldest)
    assert(q.writeBatch(Seq(msg(1), msg(2), msg(3))) == RowBuffer.Ok)
    assert(q.writeBatch(Seq(msg(4), msg(5), msg(6))) == RowBuffer.Ok)
    // 1, 2 evicted: readable range is [2, 6) = values 3, 4, 5, 6
    assert(q.firstSeq == 2 && q.endSeq == 6)
    assert(q.slice(0, 10).map(_._2(0)).toSeq == Seq(3, 4, 5, 6))
    // a planned range that predates retention clamps, never throws
    assert(q.slice(0, 2).isEmpty)
  }

  test("block policy rejects whole batch; commit truncates retention") {
    val q = new QueueSource.IngestQueue(4, RowBuffer.Block)
    assert(q.writeBatch(Seq(msg(1), msg(2), msg(3))) == RowBuffer.Ok)
    assert(q.writeBatch(Seq(msg(4), msg(5))) == RowBuffer.Full)
    q.truncate(2)
    assert(q.firstSeq == 2 && q.slice(0, 10).map(_._2(0)).toSeq == Seq(3))
  }

  test("streams incremental micro-batches with monotone offsets") {
    import spark.implicits._
    val q = QueueSource.create("spec-incr", capacity = 100,
      onFull = RowBuffer.Block)
    q.writeBatch(Seq(msg(1), msg(2)))
    val sq = QueueSource.readStream(spark, "spec-incr", writers = 2)
      .writeStream.format("memory").queryName("qincr").outputMode("append")
      .start()
    try {
      sq.processAllAvailable()
      assert(spark.table("qincr").count() == 2)
      q.writeBatch(Seq(msg(3)))
      sq.processAllAvailable()
      val rows = spark.table("qincr").select($"seq", $"value").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)(0)).sortBy(_._1)
      assert(rows.toSeq == Seq(0L -> 1.toByte, 1L -> 2.toByte, 2L -> 3.toByte))
    } finally sq.stop()
  }

  test("queue-source ingest lands exactly what batch transcode produces") {
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val batches = TranscodeE2E.fixtures.grouped(8)
      .map(_.map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues)))
      .toSeq
    val streamed = QueueIngest.runOnce(spark, TranscodeE2E.message, binding,
      batches, capacity = 1000, onFull = RowBuffer.Block, name = "spec-e2e")

    import spark.implicits._
    val batch = binding.transcode(ProtoRows.decodeFramed(
      spark.createDataset(TranscodeE2E.frames), TranscodeE2E.message))
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(
      col("name"), col("type"), col("timestamp"), col("value"),
      array_join(col("`tags.key`"), ",").as("tk"),
      array_join(col("`tags.value`"), ",").as("tv"),
      array_join(col("labels"), ",").as("ls"))
    assert(flat(streamed).exceptAll(flat(batch)).isEmpty)
    assert(flat(batch).exceptAll(flat(streamed)).isEmpty)
  }

  test("drop-oldest eviction racing a mid-flight drain: no dup, no loss " +
      "of delivered rows, exact shed accounting") {
    // VERDICT r9 #7: the policy evicts WHILE a drain is in flight.
    // Writer thread floods a small drop-oldest queue; consumer thread
    // runs the MicroBatchStream protocol (latestOffset → slice →
    // advance cursor → commit/truncate) concurrently. Every method is
    // individually synchronized, so the interleavings under test are
    // the cross-method races: eviction between latestOffset and
    // slice, eviction during cursor advance, truncate vs append.
    // Payload = the row's global index, so integrity is checkable per
    // row: seq i must ALWAYS carry payload i, however `first` moved.
    val total = 5000
    val q = new QueueSource.IngestQueue(64, RowBuffer.DropOldest)
    def pay(i: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8); b.putLong(i.toLong); b.array()
    }
    val writer = new Thread(() => {
      var i = 0
      while (i < total) {
        val n = math.min(7, total - i)
        assert(q.writeBatch((i until i + n).map(pay)) == RowBuffer.Ok)
        i += n
        if (i % 70 == 0) Thread.`yield`()
      }
    })
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    var shed = 0L
    writer.start()
    var cursor = 0L
    while (writer.isAlive || cursor < q.endSeq) {
      val target = q.endSeq // latestOffset
      if (target > cursor) {
        val rows = q.slice(cursor, target) // plan: rows copied out
        // integrity under concurrent eviction: seq i carries payload i
        rows.foreach { case (seq, v) =>
          assert(java.nio.ByteBuffer.wrap(v).getLong == seq,
            s"seq $seq carried someone else's payload")
        }
        delivered ++= rows.map(_._1)
        shed += (target - cursor) - rows.size
        cursor = target // Spark advances to `end` even when clamped
        q.truncate(cursor) // commit barrier racing the writer
      }
      Thread.`yield`()
    }
    writer.join()
    // no dup / no reorder across every batch boundary
    assert(delivered.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      "a delivered seq repeated or went backwards")
    // exact accounting: every written row is delivered XOR shed
    assert(delivered.size + shed == total.toLong,
      s"${delivered.size} delivered + $shed shed != $total written")
    // the race must actually have shed something through this queue
    // (64-cap vs 5000 rows) — otherwise the test degenerated
    assert(shed > 0 && delivered.nonEmpty)
  }

  /** (seq, body) rows a reader yields from the planned partitions. */
  private def read(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]) =
    parts.flatMap { p =>
      val reader = QueueReaderFactory.createReader(p)
      Iterator.continually(reader).takeWhile(_.next()).map(_.get())
        .map(r => r.getLong(0) -> r.getBinary(1).toSeq).toSeq
    }

  test("rows planned into an InputPartition survive total eviction") {
    // The drain's other half: once the planner packs rows into the
    // partitions they ride INSIDE them, so a task (re)read works even
    // after the queue evicted every one of those rows — acked delivery
    // can't be yanked back by admission.
    val q = QueueSource.create("spec-evict", 8, RowBuffer.DropOldest)
    try {
      assert(q.writeBatch((0 until 8).map(msg)) == RowBuffer.Ok)
      val planned = new QueueMicroBatchStream("spec-evict", writers = 3)
        .planInputPartitions(QueueOffset(0), QueueOffset(8)).toSeq
      // evict EVERYTHING the partitions reference
      assert(q.writeBatch((8 until 16).map(msg)) == RowBuffer.Ok)
      assert(q.firstSeq == 8 && q.slice(0, 8).isEmpty)
      // tasks get their partition through Java serialization
      val shipped = planned.map { p =>
        val bytes = new java.io.ByteArrayOutputStream
        val out = new java.io.ObjectOutputStream(bytes)
        out.writeObject(p); out.close()
        new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(
          bytes.toByteArray)).readObject().asInstanceOf[QueueInputPartition]
      }
      assert(read(shipped) == (0 until 8).map(i => i.toLong -> Seq(i.toByte)))
    } finally QueueSource.drop("spec-evict")
  }

  test("planning gives min(writers, rows) contiguous, gap-free slices, " +
      "zero-length bodies included") {
    // a proto3 message with every field at its default encodes to 0
    // bytes, so empty bodies are ordinary rows
    def body(i: Int) = Array.fill(i % 3)(i.toByte)
    val q = QueueSource.create("spec-plan", 64, RowBuffer.Block)
    try {
      assert(q.writeBatch((0 until 40).map(body)) == RowBuffer.Ok)
      q.truncate(3) // a committed prefix: planning starts mid-log
      for (writers <- Seq(1, 2, 3, 4, 7); (start, end) <- Seq(3L -> 4L,
          3L -> 5L, 10L -> 17L, 3L -> 40L, 0L -> 40L, 20L -> 20L)) {
        val parts = new QueueMicroBatchStream("spec-plan", writers)
          .planInputPartitions(QueueOffset(start), QueueOffset(end))
          .map(_.asInstanceOf[QueueInputPartition]).toSeq
        val from = math.max(start, 3L)
        val rows = (end - from).toInt
        assert(parts.size == math.min(writers, rows), s"$writers x [$start, $end)")
        // contiguous: each slice starts where the last ended
        assert(parts.map(_.firstSeq) ==
          parts.scanLeft(from)(_ + _.size).init, s"$writers x [$start, $end)")
        assert(parts.map(_.size).sum == rows)
        if (parts.nonEmpty)
          assert(parts.map(_.size).max - parts.map(_.size).min <= 1)
        assert(read(parts) ==
          (from until end).map(i => i -> body(i.toInt).toSeq))
      }
    } finally QueueSource.drop("spec-plan")
  }

  test("a micro-batch lands as one stage with one task per writer") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // jobs of a running stream carry its query id as a local property
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("sql.streaming.queryId") != null))
          jobs.add(e.stageInfos.map(_.numTasks))
        if (p.exists(_.getProperty("spark.job.description") == "spec-fence"))
          fence.countDown()
      }
    }
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    def land(batch: Seq[Array[Byte]], writers: Int) =
      QueueIngest.runOnce(spark, TranscodeE2E.message, binding, Seq(batch),
        capacity = 1000, onFull = RowBuffer.Block, numWriters = writers,
        name = "spec-stage")
    val bodies = TranscodeE2E.fixtures.take(10)
      .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))
    spark.sparkContext.addSparkListener(listener)
    try {
      // 10 rows over 3 writers; 1 row over 4 writers; and one
      // zero-length body (all fields at their proto3 defaults)
      assert(land(bodies, 3).count() == 10)
      val empty = land(Seq(Array.emptyByteArray), 4)
      val zero = binding.transcode(ProtoRows.decode(
        spark.createDataset(Seq(Array.emptyByteArray))(
          org.apache.spark.sql.Encoders.BINARY), TranscodeE2E.message))
      assert(empty.collect().map(_.toString).toSeq ==
        zero.collect().map(_.toString).toSeq)
      // the listener bus is FIFO: once it delivers a later job, it
      // has delivered every streaming job before it
      spark.sparkContext.setJobDescription("spec-fence")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(fence.await(30, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      assert(jobs.asScala.toSeq == Seq(Seq(3), Seq(1)),
        "each micro-batch must be one job of one stage, min(writers, rows) tasks")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
