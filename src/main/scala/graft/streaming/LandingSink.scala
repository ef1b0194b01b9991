package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => FsPath}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetOutputWriter, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** The landed table as a DataSourceV2 sink (D5): the micro-batch's own
  * tasks write its parquet part files, and the epoch's commit on the
  * driver publishes them. A landing micro-batch is therefore one job —
  * queue read, decode, transcode and parquet write in the same tasks —
  * with no nested query and no output committer.
  *
  *  - Each task writes at most one part file into the epoch's hidden
  *    staging dir `.staging-p_batch=<epoch>` (the `.` keeps Spark's
  *    file listing off it), through Spark's own `ParquetOutputWriter`,
  *    and names it in its commit message. A task that sees no row
  *    writes no file.
  *  - [[LandingSink.publish]] deletes every staged file no message
  *    names (a failed or crashed attempt's), deletes any `p_batch=<epoch>`
  *    an earlier attempt published, and renames staging into it: a
  *    replayed epoch lands exactly once. An epoch with no rows publishes
  *    nothing and leaves a published `p_batch=<epoch>` alone.
  *
  * Options: `path` (the landed table's directory) and, for a batch
  * write, `epoch`.
  */
class LandingSinkProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("the landing sink takes the written frame's schema")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LandingTable(schema, properties.get("path"))
}

class LandingTable(tableSchema: StructType, outDir: String) extends Table with SupportsWrite {
  require(outDir != null && outDir.nonEmpty, "option 'path' is required")
  override def name(): String = s"graft-landing($outDir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new LandingWrite(outDir, info)
  }
}

private final class LandingWrite(outDir: String, info: LogicalWriteInfo) extends Write {
  private val hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def factory = LandingWriterFactory(outDir, java.util.UUID.randomUUID.toString,
    LandingSink.parquetSettings(info.schema))
  private def fs = new FsPath(outDir).getFileSystem(hadoopConf)

  override def toBatch: BatchWrite = new BatchWrite {
    private val epoch = info.options.getLong("epoch", -1L)
    require(epoch >= 0, "a batch write of the landing sink needs option 'epoch'")
    override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
      factory.copy(epoch = epoch)
    override def useCommitCoordinator(): Boolean = false
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      LandingSink.publish(fs, outDir, epoch, messages)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      LandingSink.discard(fs, outDir, epoch)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
      factory
    override def useCommitCoordinator(): Boolean = false
    override def commit(epoch: Long, messages: Array[WriterCommitMessage]): Unit =
      LandingSink.publish(fs, outDir, epoch, messages)
    override def abort(epoch: Long, messages: Array[WriterCommitMessage]): Unit =
      LandingSink.discard(fs, outDir, epoch)
  }
}

/** A task's part file, by name within the epoch's staging dir. */
final case class LandingPart(file: String) extends WriterCommitMessage

/** What a task that saw no row commits. */
case object NoLandingPart extends WriterCommitMessage

/** Serialized into each write task: the landed dir, a name unique to
  * this write (part files of different attempts never collide), the
  * Hadoop settings Spark's parquet write reads — not a `Configuration`
  * — and, for a batch write, its epoch (a streaming write's tasks are
  * given theirs). No commit coordinator: the epoch commit keeps only
  * the files the accepted attempts name.
  */
final case class LandingWriterFactory(outDir: String, writeId: String,
    settings: Map[String, String], epoch: Long = -1L)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, epoch)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val conf = LandingSink.executorConf(settings)
    private val name = f"part-$partitionId%05d-$writeId-$taskId" +
      CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION)).getExtension +
      ".parquet"
    private val file = new FsPath(LandingSink.staging(outDir, epochId), name)
    private var out: ParquetOutputWriter = null

    override def write(row: InternalRow): Unit = {
      if (out == null)
        out = new ParquetOutputWriter(file.toString, new TaskAttemptContextImpl(conf, new TaskAttemptID))
      out.write(row)
    }
    override def commit(): WriterCommitMessage =
      if (out == null) NoLandingPart
      else { out.close(); out = null; LandingPart(name) }
    override def abort(): Unit = if (out != null) {
      try out.close() finally { out = null; file.getFileSystem(conf).delete(file, false); () }
    }
    override def close(): Unit = ()
  }
}

object LandingSink {

  def staging(outDir: String, epoch: Long): FsPath =
    new FsPath(outDir, s".staging-p_batch=$epoch")

  /** The epoch commit, on the driver. */
  def publish(fs: FileSystem, outDir: String, epoch: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val named = messages.iterator.collect { case LandingPart(f) => f }.toSet
    val stage = staging(outDir, epoch)
    if (named.isEmpty) { fs.delete(stage, true); return }
    // a checksummed fs lists no .crc file and deletes one with its file
    fs.listStatus(stage).foreach { s =>
      if (!named(s.getPath.getName)) fs.delete(s.getPath, true)
    }
    val part = new FsPath(outDir, s"p_batch=$epoch")
    fs.delete(part, true)
    if (!fs.rename(stage, part))
      throw new java.io.IOException(s"could not rename $stage to $part")
  }

  /** A failed epoch publishes nothing: drop what its tasks staged. */
  def discard(fs: FileSystem, outDir: String, epoch: Long): Unit = {
    fs.delete(staging(outDir, epoch), true); ()
  }

  /** The Hadoop settings `ParquetFileFormat.prepareWrite` makes for
    * `schema` under the session's conf: the schema itself, the legacy
    * format and timestamp type flags, the codec and the write support.
    */
  def parquetSettings(schema: StructType): Map[String, String] = {
    val job = Job.getInstance(new Configuration(false))
    def entries = job.getConfiguration.asScala.map(e => e.getKey -> e.getValue).toSet
    val before = entries
    val sql = SQLConf.get
    ParquetUtils.prepareWrite(sql, job, schema, new ParquetOptions(Map.empty[String, String], sql))
    (entries -- before).toMap
  }

  private val confs =
    scala.collection.concurrent.TrieMap.empty[Map[String, String], JobConf]

  /** One Hadoop conf per JVM and settings. It loads the program's
    * `core-site.xml`, so `file` is `graft.io`'s fork-free filesystem.
    */
  private[streaming] def executorConf(settings: Map[String, String]): JobConf =
    confs.getOrElseUpdate(settings, {
      val c = new JobConf()
      settings.foreach { case (k, v) => c.set(k, v) }
      c
    })
}
