package org.apache.spark.sql

/** Test access to stock Spark's `Dataset.joinAsOf`, which the classic
  * Dataset keeps `private[sql]`. */
object JoinAsOfBridge {
  def joinAsOf(
      left: DataFrame, right: DataFrame,
      leftAsOf: String, rightAsOf: String, leftKey: String, rightKey: String,
      joinType: String, allowExactMatches: Boolean): DataFrame = {
    val l = left.asInstanceOf[classic.Dataset[Row]]
    val r = right.asInstanceOf[classic.Dataset[Row]]
    l.joinAsOf(r, l(leftAsOf), r(rightAsOf), l(leftKey) === r(rightKey), joinType,
      tolerance = null, allowExactMatches = allowExactMatches, direction = "backward")
  }
}
