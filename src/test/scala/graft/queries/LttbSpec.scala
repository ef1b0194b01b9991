package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q133's input contract: the LTTB kernel binds each row to primitive
  * Longs, so a null ts/value/event_id must fail the query loudly, never
  * yield a row built from a default.
  */
class LttbSpec extends SparkSpec {

  private def events(rows: Seq[(Option[Long], Option[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((id, v), i) =>
      ("click", f"2024-01-01 00:00:${i + 1}%02d", id, v)
    }.toDF("event_type", "ts_s", "event_id", "value")
      .select(col("event_type"), to_timestamp(col("ts_s")).as("ts"),
        col("event_id"), col("value"))
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
  }

  private val clean = (1L to 5L).map(i => (Option(i), Option(i * 0.5)))

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("non-null input: a short series passes through whole") {
    assert(Events.lttbOf(events(clean)).count() == 5)
  }

  Seq("value" -> (Some(3L), None), "event_id" -> (None, Some(1.5)))
    .foreach { case (field, row) =>
      test(s"a null $field row fails loudly") {
        val e = intercept[Exception](
          Events.lttbOf(events(clean.updated(2, row))).collect())
        assert(messages(e).contains("non-nullable"), messages(e))
      }
    }
}
