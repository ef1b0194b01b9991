package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the tool surface against drift: every SPARK_GRAFT_* knob and
  * every main in src/main/scala has a row in README's "Tools and knobs"
  * tables, and SparkSessions are built only by the shared local builder
  * and the server. A new knob or tool needs a README line; a copied
  * builder fails outright.
  */
class ToolSurfaceSpec extends AnyFunSuite {
  private val root: Path = Iterator
    .iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .find(p => Files.exists(p.resolve("build.sbt")))
    .getOrElse(fail("no build.sbt above the working directory"))
  private val srcRoot = root.resolve("src/main/scala")

  /** (path under src/main/scala, contents) of every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(srcRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => srcRoot.relativize(p).toString -> Files.readString(p))
      .toSeq.sortBy(_._1)
    finally walk.close()
  }

  /** First cells of the table rows under README's "Tools and knobs". */
  private lazy val readmeNames: Seq[String] =
    Files.readAllLines(root.resolve("README.md")).asScala
      .dropWhile(_ != "## Tools and knobs").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("|"))
      .map(_.split('|')(1).trim.stripPrefix("`").stripSuffix("`"))
      .toSeq

  test("the SPARK_GRAFT_* names in src/main match README's knob table") {
    val inCode = sources.flatMap { case (_, s) =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(s) }.toSet
    val documented = readmeNames.filter(_.startsWith("SPARK_GRAFT_")).toSet
    assert(inCode == documented)
  }

  test("the mains in src/main match README's tool table") {
    val mains = sources.flatMap { case (_, s) =>
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(s).map(_.group(1))
      "def main\\(".r.findAllMatchIn(s).map { m =>
        val obj = "(?m)^\\s*object (\\w+)".r.findAllMatchIn(s.take(m.start))
          .toSeq.last.group(1)
        pkg.fold(obj)(p => s"$p.$obj")
      }
    }.toSet
    val documented = readmeNames.filter(_.startsWith("graft.")).toSet
    assert(mains == documented)
  }

  test("only the shared local builder and ServerMain build a SparkSession") {
    val sites = sources.collect {
      case (f, s) if s.contains("SparkSession.builder()") => f }.toSet
    assert(sites == Set("graft/SparkEntry.scala", "graft/net/ServerMain.scala"))
  }
}
