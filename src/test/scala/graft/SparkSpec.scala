package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark
  * getOrCreate makes this safe across suites in the forked test JVM).
  * It comes from the tools' own builder, so the suite runs under the
  * same conf as the mains; a fixed local[4] keeps it box-independent.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext
}

object SparkSpec {
  val cpus = 4
  lazy val session: SparkSession = SparkEntry.localSession(cpus)
}
