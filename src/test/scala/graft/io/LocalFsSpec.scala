package graft.io

import graft.SparkSpec
import graft.bind.SchemaBinder
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.streaming.{QueueIngest, RowBuffer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The fork-free `file` scheme against Hadoop's stock
  * [[RawLocalFileSystem]]: the same modes, the same link statuses, the
  * same rename refusal Spark's checkpoint atomicity rests on; then the
  * wiring (`core-site.xml` on the classpath) and the property it buys:
  * a queue landing starts no child process.
  */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val ours = init(new ForkFreeRawLocalFileSystem)
  private val both = Seq("stock" -> stock, "fork-free" -> ours)

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("localfs-spec-")
  private def hp(p: java.nio.file.Path) = new Path(p.toUri)
  /** st_mode's permission bits, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  /** For each side: the modes `make` leaves on the paths it names. */
  private def modesOf(make: (RawLocalFileSystem, java.nio.file.Path) =>
      Seq[java.nio.file.Path]): Seq[(String, Seq[Int])] =
    both.map { case (name, fs) => name -> make(fs, tmp()).map(mode) }

  private def assertSame(modes: Seq[(String, Seq[Int])]): Unit =
    assert(modes.map(_._2).distinct.size == 1,
      modes.map { case (n, m) => n + " " + m.map(_.toOctalString) }.mkString("; "))

  test("create and mkdirs leave the stock modes under the default umask") {
    assertSame(modesOf { (fs, d) =>
      val f = d.resolve("plain")
      fs.create(hp(f)).close()
      val g = d.resolve("sub/dir/withmode")
      fs.create(hp(g), FsPermission.getFileDefault, false, 4096,
        1.toShort, 1L << 25, null).close()
      val a = d.resolve("a/b/c")
      assert(fs.mkdirs(hp(a), FsPermission.getDirDefault))
      val b = d.resolve("x/y")
      assert(fs.mkdirs(hp(b)))
      Seq(f, g, g.getParent, g.getParent.getParent, a, a.getParent, b)
    })
  }

  test("setPermission matches stock, sticky bit included") {
    for (m <- Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x1c0 /* 0700 */,
        0, 0x3ff /* 01777 */, 0x3ed /* 01755 */)) {
      val perm = new FsPermission(m.toShort)
      assertSame(modesOf { (fs, d) =>
        val f = d.resolve("f"); Files.createFile(f)
        val sub = d.resolve("sub"); Files.createDirectory(sub)
        fs.setPermission(hp(f), perm)
        fs.setPermission(hp(sub), perm)
        Seq(f, sub)
      })
      val ourFile = Files.createFile(tmp().resolve("f"))
      ours.setPermission(hp(ourFile), perm)
      assert(mode(ourFile) == m, m.toOctalString)
    }
  }

  test("setPermission on a missing path fails on both sides") {
    for ((name, fs) <- both)
      intercept[java.io.IOException](fs.setPermission(
        hp(tmp().resolve("missing")), new FsPermission(0x1a4.toShort)))
  }

  /** Every field a caller can read, the lazily loaded owner and
    * permission included.
    */
  private def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
    s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus equals stock for files, dirs, missing paths and symlinks") {
    val d = tmp()
    val file = Files.write(d.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    /** The status's fields, or the exception's class. */
    def outcome(fs: RawLocalFileSystem, p: Path): Any =
      try fields(fs.getFileLinkStatus(p))
      catch { case e: java.io.IOException => e.getClass }
    // Hadoop's readlink sees a symlink only through a scheme-less path
    for (p <- Seq(file, dir, link, dangling, d.resolve("missing"));
         hadoopPath <- Seq(hp(p), new Path(p.toString)))
      assert(outcome(ours, hadoopPath) == outcome(stock, hadoopPath), hadoopPath)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(outcome(ours, hp(d.resolve("missing"))) == classOf[FileNotFoundException])
  }

  test("FileContext rename refuses an existing target unless told to overwrite") {
    val fc = FileContext.getLocalFSFileContext(conf)
    val d = tmp()
    def write(name: String, body: String): Path = {
      val p = hp(d.resolve(name))
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(body.getBytes); out.close(); p
    }
    val (src, dst) = (write("src", "new"), write("dst", "old"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(new String(Files.readAllBytes(d.resolve("dst"))) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(d.resolve("dst"))) == "new")
    assert(!Files.exists(d.resolve("src")))
    // the checksum file moves with its data file
    assert(Files.exists(d.resolve(".dst.crc")) && !Files.exists(d.resolve(".src.crc")))
    val moved = hp(d.resolve("moved"))
    fc.rename(dst, moved, Options.Rename.NONE)
    assert(new String(Files.readAllBytes(Paths.get(moved.toUri))) == "new")
  }

  test("core-site.xml binds the file scheme to the fork-free classes") {
    for (c <- Seq(conf, spark.sparkContext.hadoopConfiguration)) {
      val fs = FileSystem.getLocal(c)
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
      assert(fs.getRaw.isInstanceOf[ForkFreeRawLocalFileSystem], fs.getRaw.getClass)
      val afs = FileContext.getLocalFSFileContext(c).getDefaultFileSystem
      assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
    }
  }

  test("a queue landing starts no child process") {
    import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
    val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)
    val bodies = TranscodeE2E.fixtures
      .map(f => ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues))
    def land(name: String) = QueueIngest.runOnce(spark, TranscodeE2E.message,
      binding, bodies.grouped(4).toSeq, capacity = 1000,
      onFull = RowBuffer.Block, name = name).count()
    land("localfs-warm") // first-use set-up is not the landing's cost
    // A fork by the landing runs the file system, the committer, the
    // streaming logs or the program; Spark's own housekeeping (the
    // heartbeat's one `getconf`, the artifact cleaner's `rm` of a
    // collected session) may fork meanwhile and is not counted.
    def byLanding(e: RecordedEvent): Boolean = e.getStackTrace != null &&
      e.getStackTrace.getFrames.asScala.exists { f =>
        val t = f.getMethod.getType.getName
        t.startsWith("org.apache.hadoop.") || t.startsWith("graft.") ||
          t.startsWith("org.apache.spark.sql.execution.streaming")
      }
    val seen = new ConcurrentLinkedQueue[String]()
    val counted = new ConcurrentLinkedQueue[String]()
    val marker = "true"
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart").withStackTrace()
    rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => {
      val cmd = e.getString("command")
      seen.add(cmd)
      if (cmd != marker && byLanding(e)) counted.add(cmd)
    })
    rs.startAsync()
    // a marker fork the stream must deliver: once the second one is
    // seen, every event committed before it has been delivered
    def fence(n: Int): Unit = {
      new ProcessBuilder(marker).start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.asScala.count(_ == marker) < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(seen.asScala.count(_ == marker) >= n, "JFR did not deliver the marker")
    }
    try {
      fence(1)
      assert(land("localfs-land") == bodies.size)
      fence(2)
    } finally rs.close()
    assert(counted.size == 0, counted.asScala.take(5).mkString("forks: ", "; ", ""))
  }
}
