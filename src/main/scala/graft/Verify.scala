package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Seq(sfDir, outDir) = args.toSeq
    val spark = SparkEntry.localSession(SparkEntry.envCpus, "30s")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      // remove any prior run's artifact FIRST: a query that fails must
      // leave nothing behind, or a stale result from an earlier run
      // would silently pass the driver's compare
      val target = Paths.get(s"$outDir/$name")
      graft.streaming.Parts.deleteTree(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(target.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // written = consumed: no query's blocks outlive its dump
      SparkEntry.release(spark)
    }
    // ANN recall, recorded IN the correctness dump (VERDICT r4 #7).
    // q30 (LSH) and q38 (IVF) are now ALSO fully oracle-checked (the
    // hyperplanes embed as exact decimal literals; the IVF quantizer
    // is the integer-exact Lloyd core DuckDB replays) — recall here
    // is the complementary QUALITY gate: the hash proves both engines
    // agree on the approximate answer, recall@k vs q23's exact dump
    // from THIS run proves the approximation is any good.
    // Floors match PipelineSpec (LSH >= 0.45, IVF >= 0.30).
    try {
      def pairs(name: String): Set[(Long, Long)] =
        spark.read.parquet(s"$outDir/$name")
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs("q23_cosine_topk")
      val rec = Seq(
        ("q30_ann_topk", 0.45), ("q38_ivf_topk", 0.30)).map {
        case (name, floor) =>
          val r = (pairs(name) & exact).size.toDouble / exact.size
          if (r < floor)
            System.err.println(f"[verify] $name recall $r%.3f BELOW floor $floor")
          s""""$name": {"recall": ${math.rint(r * 1000) / 1000}, "floor": $floor, "pass": ${r >= floor}}"""
      }
      Files.writeString(Paths.get(s"$outDir/recall.json"),
        rec.mkString("{", ",", "}"))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] recall check failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
