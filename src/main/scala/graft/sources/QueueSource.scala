package graft.sources

import graft.streaming.RowBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** S1/S2 engine side as a REAL custom DataSourceV2 MicroBatchStream
  * (SURVEY §4's "only genuinely stateful custom component"): the
  * in-memory, admission-controlled message queue the socket and gRPC
  * servers feed and every landing drain reads. What it makes real is
  * the engine contract:
  *
  *  - bounded buffer with bristle's drop-oldest / drop-newest(tail) /
  *    block admission INSIDE the source (D1/D7 live at the source
  *    boundary, before durability — reference memory_row_buffer.go:47-89);
  *  - monotone offsets (absolute sequence numbers) with retention:
  *    load-shedding advances the readable start, commit() truncates
  *    below the committed offset;
  *  - micro-batch planning splits each batch into one contiguous slice
  *    per writer (D3 without a shuffle: the reference rotates rows
  *    over its N writers, clickhouse_table.go:74-77) and packs each
  *    slice's bodies into the serialized InputPartition, so executors
  *    never reach back into driver state.
  */
object QueueSource {

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  /** Admission-controlled, offset-addressed message log. */
  final class IngestQueue(capacity0: Int, onFull0: RowBuffer.OnFull) {
    private val log = scala.collection.mutable.ArrayDeque.empty[Array[Byte]]
    private var first: Long = 0L // seq of log.head
    private var cap = capacity0
    private var policy = onFull0
    private var resumed = false

    def capacity: Int = synchronized(cap)
    def onFull: RowBuffer.OnFull = synchronized(policy)
    def firstSeq: Long = synchronized(first)
    def endSeq: Long = synchronized(first + log.size)

    /** Number the held rows, and the rows that follow, on from `seq`
      * if that is past [[firstSeq]]: the first call only, made before a
      * drain resuming an existing checkpoint reads this new queue, `seq`
      * being the end of the checkpoint's last planned micro-batch. Later
      * calls (a reload restarting the drain of this live queue, whose
      * numbering the checkpoint already follows) change nothing.
      */
    def resumeAt(seq: Long): Unit = synchronized {
      if (!resumed) { resumed = true; first = math.max(first, seq) }
    }

    /** New admission settings for the writes that follow. Rows already
      * admitted stay, even above a shrunk capacity: they were acked, and
      * the drain reading this queue's offsets lands them.
      */
    def reconfigure(capacity: Int, onFull: RowBuffer.OnFull): Unit = synchronized {
      cap = capacity
      policy = onFull
    }

    /** Admission under the [[RowBuffer]] on-full policies (StreamingSpec
      * pins their quirks); drop-oldest eviction advances
      * the readable start — shed rows are gone before durability,
      * exactly like the reference.
      */
    def writeBatch(batch: Seq[Array[Byte]]): RowBuffer.WriteResult = synchronized {
      val bs = batch.size
      if (bs > cap) return RowBuffer.TooBig
      val spare = cap - log.size
      var toAppend = batch
      if (spare < bs) policy match {
        case RowBuffer.DropOldest =>
          val evict = bs - spare
          log.remove(0, evict)
          first += evict
        case RowBuffer.DropNewest =>
          toAppend = batch.drop(bs - spare) // head-drop quirk preserved
        case RowBuffer.Block => return RowBuffer.Full
      }
      log.appendAll(toAppend)
      RowBuffer.Ok
    }

    /** Bodies in [start, end), clamped to what retention still holds,
      * with the seq of the first one.
      */
    def bodies(start: Long, end: Long): (Long, Array[Array[Byte]]) = synchronized {
      val s = math.max(start, first)
      val e = math.max(s, math.min(end, first + log.size))
      s -> Array.tabulate((e - s).toInt)(i => log((s - first).toInt + i))
    }

    /** Rows in [start, end) as (seq, body), clamped like [[bodies]]. */
    def slice(start: Long, end: Long): Seq[(Long, Array[Byte])] = {
      val (s, b) = bodies(start, end)
      b.indices.map(i => (s + i) -> b(i))
    }

    /** Commit barrier: data below `upTo` is processed and released. */
    def truncate(upTo: Long): Unit = synchronized {
      val k = math.min(math.max(upTo - first, 0L), log.size.toLong).toInt
      log.remove(0, k)
      first += k
    }
  }

  private val queues =
    scala.collection.concurrent.TrieMap.empty[String, IngestQueue]

  /** Create (or replace) a queue with explicit admission settings —
    * the producer entry point. A lazy `queue(name)` accessor would
    * silently keep stale settings if a consumer touched the name
    * first.
    */
  def create(name: String, capacity: Int,
      onFull: RowBuffer.OnFull): IngestQueue = {
    val q = new IngestQueue(capacity, onFull)
    queues.put(name, q)
    q
  }

  /** Accessor for stream plumbing: default settings only if nothing
    * created the queue yet.
    */
  def queue(name: String): IngestQueue =
    queues.getOrElseUpdate(name,
      new IngestQueue(1 << 20, RowBuffer.Block))

  def drop(name: String): Unit = { queues.remove(name); () }

  /** readStream entry point: each micro-batch reads as
    * `min(writers, rows)` partitions, one per sink writer.
    */
  def readStream(spark: org.apache.spark.sql.SparkSession,
      name: String, writers: Int): org.apache.spark.sql.DataFrame =
    spark.readStream.format(classOf[QueueSourceProvider].getName)
      .option("queue", name).option("writers", writers.toLong).load()
}

class QueueSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    QueueSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new QueueTable(properties.get("queue"),
      Option(properties.get("writers")).fold(0)(_.toInt))
}

/** The queue as a table that is also its own (fixed, unpruned) scan. */
class QueueTable(queueName: String, writers: Int) extends Table with SupportsRead
    with ScanBuilder with Scan {
  require(queueName != null && queueName.nonEmpty, "option 'queue' is required")
  require(writers > 0, s"option 'writers' must be a positive count, got $writers")
  override def name(): String = s"graft-queue($queueName)"
  override def schema(): StructType = QueueSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = this
  override def build(): Scan = this
  override def readSchema(): StructType = QueueSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new QueueMicroBatchStream(queueName, writers)
}

case class QueueOffset(seq: Long) extends Offset {
  override def json: String = seq.toString
}

class QueueMicroBatchStream(queueName: String, writers: Int) extends MicroBatchStream {
  private def q = QueueSource.queue(queueName)

  override def initialOffset(): Offset = QueueOffset(q.firstSeq)
  override def latestOffset(): Offset = QueueOffset(q.endSeq)
  override def deserializeOffset(json: String): Offset =
    QueueOffset(json.trim.toLong)
  override def commit(end: Offset): Unit =
    q.truncate(end.asInstanceOf[QueueOffset].seq)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (first, bodies) = q.bodies(start.asInstanceOf[QueueOffset].seq,
      end.asInstanceOf[QueueOffset].seq)
    QueueInputPartition.split(first, bodies, writers)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    QueueReaderFactory
  override def stop(): Unit = ()
}

/** One contiguous slice of a micro-batch: row `i` has seq
  * `firstSeq + i` and body `blob[offsets(i), offsets(i + 1))`. The
  * bodies ride inside the partition as one array, so the read side has
  * no dependency on driver-JVM state and serialization costs no
  * per-row object.
  */
final case class QueueInputPartition(firstSeq: Long, offsets: Array[Int],
    blob: Array[Byte]) extends InputPartition {
  def size: Int = offsets.length - 1
  def body(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(blob, offsets(i), offsets(i + 1))
}

object QueueInputPartition {

  /** `min(parts, rows)` contiguous, gap-free slices of `bodies` (first
    * seq `firstSeq`), sizes differing by at most one row, each packed
    * into one blob.
    */
  def split(firstSeq: Long, bodies: Array[Array[Byte]],
      parts: Int): Array[InputPartition] = {
    val n = bodies.length
    val k = math.min(parts, n)
    Array.tabulate[InputPartition](k) { j =>
      val (lo, hi) = ((n.toLong * j / k).toInt, (n.toLong * (j + 1) / k).toInt)
      val offsets = bodies.slice(lo, hi).scanLeft(0L)(_ + _.length)
      require(offsets.last < Int.MaxValue - 8,
        s"micro-batch slice of ${hi - lo} rows exceeds 2 GB")
      val blob = new Array[Byte](offsets.last.toInt)
      for (i <- lo until hi)
        System.arraycopy(bodies(i), 0, blob, offsets(i - lo).toInt, bodies(i).length)
      QueueInputPartition(firstSeq + lo, offsets.map(_.toInt), blob)
    }
  }
}

object QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val part = p.asInstanceOf[QueueInputPartition]
      private var i = -1
      override def next(): Boolean = { i += 1; i < part.size }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](part.firstSeq + i, part.body(i)))
      override def close(): Unit = ()
    }
}
