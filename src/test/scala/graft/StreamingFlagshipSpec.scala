package graft

import graft.streaming.StreamingFlagship
import graft.streaming.StreamingFlagship.StreamEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Watermark-boundary behaviour of [[StreamingFlagship]]. A watermark-gated
  * operator's output must not depend on which keys had input in a batch
  * (Watermarks in Stream Processing Systems, VLDB 2021). */
class StreamingFlagshipSpec extends AnyFunSuite with SparkSpec {

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("an example whose label time equals the final watermark emits without new input for its key") {
    import spark.implicits._
    def at(hhmmss: String) = java.sql.Timestamp.valueOf(s"2021-08-21 $hhmmss")
    val input = MemoryStream[StreamEvent]
    // delay 0: the watermark is the max event time seen
    val query = StreamingFlagship(input.toDF())
      .writeStream.format("memory").queryName("flagship_label_boundary")
      .outputMode("append").start()
    try {
      // key 1: two consecutive errors; the example's label is 02:00:10
      input.addData(Seq(
        StreamEvent(1L, at("01:00:00"), 1L, "error", 1.0),
        StreamEvent(2L, at("01:00:10"), 1L, "error", 2.5)))
      query.processAllAvailable()
      // key 2 supplies the last event, exactly at key 1's label time, so the
      // final watermark equals the label; key 1 has no input in this batch
      input.addData(Seq(StreamEvent(3L, at("02:00:10"), 2L, "view", 0.0)))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("flagship_label_boundary").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.isNullAt(4)))
      .toSet
    // label <= watermark (inclusive), as emitMatured defines maturity
    assert(got === Set((1L, at("01:00:10"), at("02:00:10"), 350L, true)))
  }
}
