package graft.ops

import graft.core.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time as-of join — the engine's flagship primitive, replacing the
  * reference's `FOR SYSTEM_TIME AS OF` temporal joins (App.java:200-205 and
  * 228-233). Each left ("probe") row at (key, asOfTime) is joined to the
  * latest version of the right table whose change time is <= asOfTime
  * (inclusive — normative semantics derived in SURVEY.md §2.5 from the
  * reference's golden output at App.java:80-81). LEFT semantics: a probe
  * with no version yet yields NULL values, not a dropped row
  * (App.java:204,231).
  *
  * The as-of time is a per-call *parameter* rather than stream metadata, so
  * the reference's event-time re-assignment workaround (App.java:207-225)
  * disappears: join #2 on a different time axis is just a second call.
  *
  * Two formulations, one semantics:
  *  - [[asofMerge]] is the engine. The `Graft` facade, `Graft.sql` and
  *    `q_asof_merge` run it: a logical [[graft.plans.AsOfJoinNode]] planned
  *    to the co-partitioned two-pointer [[graft.plans.AsOfMergeJoinExec]].
  *  - [[asof]] is the reference (union-merge over stock window functions).
  *    It is the oracle the engine is compared against in AsOfMergeSpec,
  *    AsOfPropertySpec, GoldenFlagshipSpec, PlanSpec and StreamingAsOfSpec.
  */
object AsOfJoin {

  /** Reference formulation (union-merge): tag version rows and probe rows,
    * union them, and run a single running `last(value, ignoreNulls)`
    * window partitioned by key and ordered by (time, side). Versions sort
    * before probes at the same instant, giving inclusive semantics; flip
    * the side order for exclusive. Built only from stock Spark operators,
    * so it serves as the oracle for [[asofMerge]]; production callers use
    * [[asofMerge]].
    *
    * @param left       probe rows (any schema)
    * @param leftKey    probe join key column
    * @param asOfTime   probe column holding the as-of instant
    * @param right      versioned table supplying values
    * @param inclusive  version at exactly asOfTime visible? (reference: yes)
    * @param joinType   "left" (NULL values when no version) or "inner"
    */
  def asof(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame = {
    checkArgs(left, right, joinType)

    val probeSide = if (inclusive) 1 else 0 // versions first at equal t <=> inclusive
    val verSide = 1 - probeSide

    val valueStruct = struct(right.valueCols.map(col): _*)
    val valueType = right.df.select(valueStruct).schema.head.dataType
    val probeStruct = struct(left.columns.toIndexedSeq.map(col): _*)
    val probeType = left.select(probeStruct).schema.head.dataType

    val probes = left.select(
      col(leftKey).as("__k"),
      col(asOfTime).as("__t"),
      lit(probeSide).as("__side"),
      probeStruct.as("__probe"),
      lit(null).cast(valueType).as("__val"))
    // SQL equality-join semantics: NULL keys never match, so NULL-key (or
    // NULL-time) version rows must not feed NULL-key probes — without this
    // filter Window.partitionBy(__k) would group them together and a
    // NULL-key probe could pick up a NULL-key version's values, diverging
    // from the reference's LEFT JOIN ... ON a.k = b.k and from [[asofMerge]].
    // NULL-key probes still flow through (their partition now holds no
    // versions → NULL values, as required).
    val versions = right.df
      .where(col(right.keyCol).isNotNull && col(right.timeCol).isNotNull)
      .select(
        col(right.keyCol).as("__k"),
        col(right.timeCol).as("__t"),
        lit(verSide).as("__side"),
        lit(null).cast(probeType).as("__probe"),
        valueStruct.as("__val"))

    val w = Window
      .partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val merged = probes
      .unionByName(versions)
      .withColumn("__asof", last(col("__val"), ignoreNulls = true).over(w))
      .where(col("__side") === probeSide && col("__probe").isNotNull)

    val kept = if (joinType == "inner") merged.where(col("__asof").isNotNull) else merged
    val outCols =
      left.columns.map(c => col("__probe").getField(c).as(c)) ++
        right.valueCols.map(c => col("__asof").getField(c).as(c))
    kept.select(outCols.toSeq: _*)
  }

  /** The engine: plans a [[graft.plans.AsOfJoinNode]] that the injected
    * strategy compiles to [[graft.plans.AsOfMergeJoinExec]] — hash
    * co-partitioning + per-key (key, time) sort come from
    * EnsureRequirements (so bucketed/pre-partitioned inputs skip the
    * shuffle entirely, and AQE manages skew), and the join itself is a
    * two-pointer merge per partition. Same semantics as [[asof]] (pinned in
    * AsOfMergeSpec). */
  def asofMerge(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame = {
    checkArgs(left, right, joinType)
    val spark = left.sparkSession
    graft.plans.GraftPlanner.ensure(spark)
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val resolver = spark.sessionState.analyzer.resolver
    def attr(out: Seq[Attribute], name: String): Attribute =
      out.find(a => resolver(a.name, name)).getOrElse(sys.error(s"no column $name"))
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds on the version side: probes and versions often derive
    // from the SAME source (self-as-of), which would otherwise alias.
    // Prune to exactly (key, time, values) while we're at it — the node's
    // `references` claims its whole right child, so Catalyst's generic
    // column pruning can't narrow a wide versioned table for us.
    val rAnalyzed = right.df.queryExecution.analyzed
    val needed = (Seq(right.keyCol, right.timeCol) ++ right.valueCols).distinct
    val aliases = needed.map { n => val a = attr(rAnalyzed.output, n); Alias(a, a.name)() }
    val rPlan = Project(aliases, rAnalyzed)
    val rOut = aliases.map(_.toAttribute)
    val lk = attr(lPlan.output, leftKey)
    val lt = attr(lPlan.output, asOfTime)
    val rk = attr(rOut, right.keyCol)
    val rt = attr(rOut, right.timeCol)
    // fail at plan time, not as a ClassCastException inside the merge ordering
    require(lk.dataType == rk.dataType,
      s"as-of key type mismatch: $leftKey is ${lk.dataType}, ${right.keyCol} is ${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: $asOfTime is ${lt.dataType}, ${right.timeCol} is ${rt.dataType}")
    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      lk, lt, rk, rt,
      right.valueCols.map(attr(rOut, _)),
      inclusive, joinType == "inner")
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, node)
  }

  private def checkArgs(left: DataFrame, right: VersionedTable, joinType: String): Unit = {
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    val overlap = right.valueCols.toSet.intersect(left.columns.toSet)
    require(overlap.isEmpty, s"value columns collide with probe columns: $overlap")
  }
}
