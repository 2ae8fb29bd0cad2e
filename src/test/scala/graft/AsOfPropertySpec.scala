package graft

import graft.core.{EventTable, VersionedTable}
import graft.ops.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.2.3) for the as-of primitives, driven by
  * scalacheck generators over random event tables. Each property runs over
  * a fixed set of deterministic seeds (Spark actions are too expensive for
  * hundreds of scalacheck trials). */
class AsOfPropertySpec extends AnyFunSuite with SparkSpec {

  private case class Ev(tsMin: Int, key: String, value: Int)

  private val evGen: Gen[List[Ev]] = Gen.listOfN(
    40,
    for {
      t <- Gen.choose(0, 300)
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-5, 20)
    } yield Ev(t, k, v))

  private val probeGen: Gen[List[(Int, String)]] = Gen.listOfN(
    15,
    for {
      t <- Gen.choose(-10, 320)
      k <- Gen.oneOf("a", "b", "c", "zz")
    } yield (t, k))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def toDf(evs: List[Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (new java.sql.Timestamp(e.tsMin * 60000L), e.key, e.value))
      .toDF("ts", "k", "v")
  }

  private def probesDf(ps: List[(Int, String)]): DataFrame = {
    import spark.implicits._
    ps.map(p => (new java.sql.Timestamp(p._1 * 60000L), p._2)).toDF("t", "pk")
  }

  private def features(evs: List[Ev]): VersionedTable =
    VersionedTable.fromEvents(
      EventTable(toDf(evs), "ts", Some("k")), "k", sum(col("v")) -> "s")

  /** The engine and the reference; every property must hold for both. */
  private type Formulation =
    (DataFrame, String, String, VersionedTable, Boolean, String) => DataFrame
  private val formulations: Seq[(String, Formulation)] = Seq(
    "asof" -> (AsOfJoin.asof(_, _, _, _, _, _)),
    "asofMerge" -> (AsOfJoin.asofMerge(_, _, _, _, _, _)))

  /** Stock Spark's backward `Dataset.joinAsOf`, projected to the engines'
    * output shape: an engine-independent third reference. */
  private def sparkJoinAsOf(
      p: DataFrame, pKey: String, pTime: String, vt: VersionedTable,
      inclusive: Boolean, joinType: String): DataFrame =
    org.apache.spark.sql.JoinAsOfBridge.joinAsOf(p, vt.df, pTime, vt.timeCol, pKey, vt.keyCol,
      joinType, allowExactMatches = inclusive)
      .select((p.columns ++ vt.valueCols).toIndexedSeq.map(col): _*)

  /** Rows with their multiplicities. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def asofResult(
      f: Formulation, evs: List[Ev], ps: List[(Int, String)]): Set[Seq[Any]] =
    f(probesDf(ps), "pk", "t", features(evs), true, "left")
      .collect().map(_.toSeq).toSet

  private val seeds = 1L to 6L

  test("point-in-time immutability: appending strictly-later events never changes asOf") {
    for ((name, f) <- formulations; seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val tMax = ps.map(_._1).max
      val later = sample(evGen, seed + 200).map(e => e.copy(tsMin = tMax + 1 + e.tsMin))
      assert(asofResult(f, evs, ps) === asofResult(f, evs ++ later, ps),
        s"$name seed=$seed: later events changed an earlier asOf")
    }
  }

  test("no temporal leakage: asOf(k, t) equals the feature query on the prefix ts <= t") {
    for ((name, f) <- formulations; seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val got = f(probesDf(ps), "pk", "t", features(evs), true, "left")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
      // oracle: per probe, recompute the aggregate on the prefix
      val exp = ps.map { case (t, k) =>
        val prefix = evs.filter(e => e.key == k && e.tsMin <= t)
        (new java.sql.Timestamp(t * 60000L), k,
          if (prefix.isEmpty) None else Some(prefix.map(_.value.toLong).sum))
      }.toSet
      assert(got === exp, s"$name seed=$seed")
    }
  }

  test("order insensitivity: shuffling input row order never changes results") {
    for ((name, f) <- formulations; seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val shuffled = new scala.util.Random(seed).shuffle(evs)
      assert(asofResult(f, evs, ps) === asofResult(f, shuffled, ps), s"$name seed=$seed")
    }
  }

  test("inclusive/exclusive boundary relation: exclusive == inclusive at t - epsilon") {
    for ((name, f) <- formulations; seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val exclusive = f(probesDf(ps), "pk", "t", features(evs), false, "left")
        .collect().map(r => (r.getString(1), r.getTimestamp(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      // shift probes back one microsecond and use inclusive semantics
      import spark.implicits._
      val shifted = ps.map(p => (new java.sql.Timestamp(p._1 * 60000L - 1L), p._2, p._1))
        .toDF("t", "pk", "orig")
      val viaShift = f(shifted, "pk", "t", features(evs), true, "left")
        .collect().map(r => (r.getString(1),
          new java.sql.Timestamp(r.getInt(2) * 60000L),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(exclusive === viaShift, s"$name seed=$seed")
    }
  }

  test("both formulations equal stock Spark joinAsOf on both boundaries and join types") {
    for (seed <- seeds; inclusive <- Seq(true, false); joinType <- Seq("left", "inner")) {
      val ps = probesDf(sample(probeGen, seed + 100))
      val vt = features(sample(evGen, seed))
      val expected = bag(sparkJoinAsOf(ps, "pk", "t", vt, inclusive, joinType))
      assert(expected.nonEmpty, s"seed=$seed: empty reference")
      for ((name, f) <- formulations)
        assert(bag(f(ps, "pk", "t", vt, inclusive, joinType)) === expected,
          s"$name seed=$seed inclusive=$inclusive joinType=$joinType")
    }
  }
}
