package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of [[Suite.fingerprint]], run by `perfbench/test_perfbench.py`:
  * the fingerprint ignores row order and partitioning, and changes
  * when one value changes or one row is duplicated. Exits 0 when all
  * hold.
  */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"s$i", i * 0.5,
        Seq(i, i + 1), if (i % 5 == 0) None else Some(i)))
      .toDF("id", "s", "d", "arr", "opt")
      .withColumn("m", map(col("s"), col("id")))
    val base = Suite.fingerprint(df)
    val checks = Seq(
      "reordered" -> (Suite.fingerprint(df.orderBy(rand(7))) == base),
      "repartitioned" -> (Suite.fingerprint(df.repartition(5, col("s"))) == base),
      "value changed" -> (Suite.fingerprint(
        df.withColumn("d", when(col("id") === 3, lit(9.25)).otherwise(col("d")))) != base),
      "row duplicated" -> (Suite.fingerprint(df.union(df.limit(1))) != base))
    spark.stop()
    checks.foreach { case (name, ok) => println(s"$name: ${if (ok) "ok" else "FAILED"}") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
