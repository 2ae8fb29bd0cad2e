package graft

import graft.core.{EventTable, VersionedTable}
import graft.ops.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def versions(): VersionedTable = {
    import spark.implicits._
    val df = Seq(
      (ts("01:00"), "k1", 10L),
      (ts("02:00"), "k1", 20L),
      (ts("03:00"), "k1", 30L),
      (ts("01:30"), "k2", 5L)
    ).toDF("_change_time", "_entity", "v")
    VersionedTable(df, "_entity", "_change_time", Seq("v"))
  }

  private def probes(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, k) => (ts(t), k) }.toDF("t", "k")
  }

  private def collect(df: DataFrame): Set[(String, String, Option[Long])] =
    df.collect()
      .map(r => (r.getString(1), r.getTimestamp(0).toString.substring(11, 16),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet

  test("inclusive boundary: version at exactly asOf time is visible") {
    val got = collect(AsOfJoin.asof(probes(("02:00", "k1")), "k", "t", versions()))
    assert(got === Set(("k1", "02:00", Some(20L))))
  }

  test("exclusive variant hides the version at the boundary") {
    val got = collect(
      AsOfJoin.asof(probes(("02:00", "k1")), "k", "t", versions(), inclusive = false))
    assert(got === Set(("k1", "02:00", Some(10L))))
  }

  test("probe between versions picks the latest preceding one") {
    val got = collect(AsOfJoin.asof(probes(("02:30", "k1")), "k", "t", versions()))
    assert(got === Set(("k1", "02:30", Some(20L))))
  }

  test("LEFT semantics: probe before any version survives with NULL") {
    val got = collect(AsOfJoin.asof(
      probes(("00:30", "k1"), ("00:30", "zz")), "k", "t", versions()))
    assert(got === Set(("k1", "00:30", None), ("zz", "00:30", None)))
  }

  test("inner join drops version-less probes") {
    val got = collect(AsOfJoin.asof(
      probes(("00:30", "k1"), ("02:00", "k1")), "k", "t", versions(), joinType = "inner"))
    assert(got === Set(("k1", "02:00", Some(20L))))
  }

  test("duplicate probes at the same instant all get the same version") {
    val got = AsOfJoin.asof(
      probes(("02:00", "k1"), ("02:00", "k1"), ("04:00", "k1")), "k", "t", versions())
    assert(got.count() === 3)
    assert(collect(got) === Set(("k1", "02:00", Some(20L)), ("k1", "04:00", Some(30L))))
  }

  test("point-in-time immutability: appending later events never changes asOf") {
    import spark.implicits._
    // events for k1 up to 03:00; appending an event at 05:00 must not
    // change any asOf at t <= 04:00 (the author's invariant, App.java:29-33)
    val base = Seq((ts("01:00"), "k1", 1), (ts("02:00"), "k1", 2), (ts("03:00"), "k1", 3))
    val extended = base :+ ((ts("05:00"), "k1", 100))
    def feats(rows: Seq[(java.sql.Timestamp, String, Int)]) =
      VersionedTable.fromEvents(
        EventTable(rows.toDF("ts", "k", "x"), "ts", Some("k")), "k",
        sum(col("x")) -> "s")
    val p = probes(("01:00", "k1"), ("02:30", "k1"), ("04:00", "k1"))
    val a = AsOfJoin.asof(p, "k", "t", feats(base)).collect().map(_.toSeq).toSet
    val b = AsOfJoin.asof(p, "k", "t", feats(extended)).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("NULL-key / NULL-time version rows never match any probe") {
    import spark.implicits._
    // SQL equi-join semantics: a NULL join key matches nothing, and a
    // version with no change time is undefined — both rows must be inert.
    // Regression for the versions-side isNotNull filter in asof: without
    // it, Window.partitionBy(__k) groups NULL-key versions WITH NULL-key
    // probes and 99 would leak into the NULL-key probe's values.
    val vdf = Seq(
      (Option(ts("01:00")), Option("k1"), 10L),
      (Option(ts("01:00")), Option.empty[String], 99L), // NULL-key version
      (Option.empty[java.sql.Timestamp], Option("k1"), 77L) // NULL-time version
    ).toDF("_change_time", "_entity", "v")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val p = Seq((ts("02:00"), Option("k1")), (ts("02:00"), Option.empty[String]))
      .toDF("t", "k")
    def run(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val plain = run(AsOfJoin.asof(p, "k", "t", vt))
    // k1 sees 10 (not the NULL-time 77); the NULL-key probe survives (LEFT)
    // with NULL values (not the NULL-key version's 99)
    assert(plain === Set(
      Seq(ts("02:00"), "k1", 10L),
      Seq(ts("02:00"), null, null)))
  }

  test("ties at the same change instant collapse to the full cumulative value") {
    import spark.implicits._
    val events = Seq(
      (ts("01:00"), "k1", 1), (ts("01:00"), "k1", 2), (ts("01:00"), "k1", 4))
      .toDF("ts", "k", "x")
    val vt = VersionedTable.fromEvents(EventTable(events, "ts", Some("k")), "k",
      sum(col("x")) -> "s")
    assert(vt.df.count() === 1)
    val got = collect(AsOfJoin.asof(probes(("01:00", "k1")), "k", "t", vt)
      .select(col("t"), col("k"), col("s")))
    assert(got === Set(("k1", "01:00", Some(7L))))
  }
}
