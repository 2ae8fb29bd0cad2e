package graft

import graft.api.Graft
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Graft.examples` must not depend on input row order: events at the
  * same instant are ordered by the table's remaining orderable columns. */
class GraftExamplesSpec extends AnyFunSuite with SparkSpec {

  test("same-timestamp ties: examples do not depend on partitioning or row order") {
    import spark.implicits._
    // each user has two events tied at 01:00 (an error and a view) and an
    // error at 02:00; whether 02:00 completes a two-error streak depends on
    // how the tie at 01:00 is ordered
    val rows = Seq(
      (1L, ts("01:00"), 1L, "error"), (2L, ts("01:00"), 1L, "view"),
      (3L, ts("02:00"), 1L, "error"),
      (4L, ts("01:00"), 2L, "view"), (5L, ts("01:00"), 2L, "error"),
      (6L, ts("02:00"), 2L, "error"))
    def examples(df: DataFrame): Set[(Long, java.sql.Timestamp, java.sql.Timestamp)] = {
      val g = Graft(spark)
      val events = g.events("tied_events", df, time = "ts", key = "user_id")
      g.examples(events,
        windowAgg = "count(CASE WHEN event_type = 'error' THEN 1 END)", lookback = 1,
        trigger = "= 2", labelDelay = "INTERVAL 1 HOUR")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    }
    val cols = Seq("event_id", "ts", "user_id", "event_type")
    val forward = examples(rows.toDF(cols: _*).repartition(1))
    val reversed = examples(rows.reverse.toDF(cols: _*).repartition(1))
    val spread = examples(rows.toDF(cols: _*).repartition(3))
    // ties ordered by event_id: user 2's view precedes its error at 01:00
    val expected = Set((2L, ts("02:00"), ts("03:00")))
    assert(forward === expected)
    assert(reversed === expected)
    assert(spread === expected)
  }
}
