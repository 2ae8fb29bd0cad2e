package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}

/** Catalyst-native as-of join (SURVEY.md §2.3 J1/J2 — the roadmap's
  * "custom SparkPlan" milestone): a first-class logical operator planned to
  * a co-partitioned, sort-merge physical node.
  *
  * Compared to the union-merge formulation in [[graft.ops.AsOfJoin]] (one
  * shuffle over probes+versions, window `last()`), this plays Catalyst's
  * own game: EnsureRequirements provides hash co-partitioning + per-key
  * (key, time) sort for BOTH children — so a pre-partitioned/bucketed input
  * needs NO shuffle at all and AQE handles skew/coalescing — and the merge
  * itself is a streaming two-pointer pass per partition: each version row
  * is visited exactly once, no row widening to a union schema, no window
  * buffering. Semantics are identical (inclusive/exclusive boundary, LEFT
  * null production, last-version-wins at equal change instants) and pinned
  * against [[graft.ops.AsOfJoin.asof]] in AsOfMergeSpec.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightValues: Seq[Attribute],
    inclusive: Boolean,
    inner: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  // claim BOTH children's full outputs so generic column-pruning keeps the
  // probe payload columns (they pass straight through to `output`)
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node onto the physical merge join.
  * Register per session via [[GraftPlanner.ensure]] (experimental methods)
  * or globally with `spark.sql.extensions=graft.plans.GraftSparkExtensions`. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, vals, inc, inner) =>
      AsOfMergeJoinExec(lk, lt, rk, rt, vals, inc, inner, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object GraftPlanner {
  /** Idempotently add the as-of strategy to a session's planner. */
  def ensure(spark: SparkSession): Unit = {
    val em = spark.sessionState.experimentalMethods
    if (!em.extraStrategies.contains(AsOfStrategy))
      em.extraStrategies = em.extraStrategies :+ AsOfStrategy
  }
}

/** `spark.sql.extensions` entry point (cluster-wide registration). */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => AsOfStrategy)
}

/** Physical as-of merge join.
  *
  * Child requirements do the heavy lifting: ClusteredDistribution on the
  * join key (EnsureRequirements inserts compatible hash exchanges, or NONE
  * when a child is already partitioned that way) and (key, time) ascending
  * sort per partition. The merge is then a single forward pass: versions
  * are consumed monotonically per key, holding only the latest visible
  * version row — O(1) state, every input row touched once.
  */
case class AsOfMergeJoinExec(
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightValues: Seq[Attribute],
    inclusive: Boolean,
    inner: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // probes are emitted in their incoming per-partition order
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  /** Types whose InternalRow storage is an unboxed long (getLong-safe). */
  private def longBacked(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType => true
    case org.apache.spark.sql.types.TimestampType => true
    case org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  // ---- whole-stage codegen (long-backed key/time only) ---------------------
  //
  // SortMergeJoinExec's integration model: this node is the ROOT of its
  // codegen stage — both sorted children arrive as the stage's two input
  // iterators (WholeStageCodegenExec zips exactly two inputRDDs), the
  // two-pointer merge is generated Java over unboxed longs, and everything
  // ABOVE the join (projections, filters, aggregates) fuses into the same
  // generated loop via consume(). Everything the generated loop does not
  // cover (other key types, whole-stage codegen off, codegen fallback)
  // runs the interpreted doExecute below, which is correct for every type.

  override def supportCodegen: Boolean =
    longBacked(leftKey.dataType) && longBacked(leftTime.dataType)

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // No stage-boundary copy: the merge emits exactly ONE output row per
  // probe row, materialized immediately at the stage root (never two live
  // rows sharing a buffer, unlike a 1:N join's inner emit loop), and
  // within-stage buffering consumers (sort/aggregate) copy on insert as
  // part of their own consume contract. Measured: the copy cost 20M
  // allocations (~0.3 s) on a 20M-probe merge for no correctness gain.
  override def needCopyResult: Boolean = false

  override protected def doProduce(ctx: CodegenContext): String = {
    val lOut = left.output
    val rOut = right.output
    val lkIdx = lOut.indexWhere(_.exprId == leftKey.exprId)
    val ltIdx = lOut.indexWhere(_.exprId == leftTime.exprId)
    val rkIdx = rOut.indexWhere(_.exprId == rightKey.exprId)
    val rtIdx = rOut.indexWhere(_.exprId == rightTime.exprId)

    val leftInput = ctx.addMutableState(
      "scala.collection.Iterator", "asofLeftInput", v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState(
      "scala.collection.Iterator", "asofRightInput", v => s"$v = inputs[1];")
    val rHas = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofRHas")
    val rKey = ctx.addMutableState(CodeGenerator.JAVA_LONG, "asofRKey")
    val rTime = ctx.addMutableState(CodeGenerator.JAVA_LONG, "asofRTime")
    val rRow = ctx.addMutableState("InternalRow", "asofRRow")
    val heldValid = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofHeldValid")
    val heldKey = ctx.addMutableState(CodeGenerator.JAVA_LONG, "asofHeldKey")
    val heldRow = ctx.addMutableState("InternalRow", "asofHeldRow")
    val initialized = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofInit")

    val advanceR = ctx.freshName("asofAdvanceR")
    ctx.addNewFunction(advanceR,
      s"""
         |private void $advanceR() {
         |  $rHas = false;
         |  while (!$rHas && $rightInput.hasNext()) {
         |    InternalRow r = (InternalRow) $rightInput.next();
         |    if (!r.isNullAt($rkIdx) && !r.isNullAt($rtIdx)) {
         |      // primitives are safe off the live buffer, but the HELD row
         |      // must be a copy (the iterator reuses its buffer)
         |      $rRow = r.copy();
         |      $rKey = $rRow.getLong($rkIdx);
         |      $rTime = $rRow.getLong($rtIdx);
         |      $rHas = true;
         |    }
         |  }
         |}
       """.stripMargin)

    val leftRow = ctx.freshName("asofLeftRow")
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = lOut.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val matched = ctx.freshName("asofMatched")
    // version-side outputs: NULL unless a version is held for this key —
    // generated with an explicit isNull guard (the interpreted path's
    // withNullability(true) binding, in codegen form)
    val rightVars = rightValues.map { a =>
      val j = rOut.indexWhere(_.exprId == a.exprId)
      val dt = a.dataType
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val jt = CodeGenerator.javaType(dt)
      val cde =
        code"""
           |boolean $isNull = true;
           |$jt $value = ${CodeGenerator.defaultValue(dt)};
           |if ($matched) {
           |  $isNull = $heldRow.isNullAt($j);
           |  if (!$isNull) $value = ${CodeGenerator.getValue(heldRow, dt, j.toString)};
           |}
         """.stripMargin
      ExprCode(cde, JavaCode.isNullVariable(isNull), JavaCode.variable(value, dt))
    }
    val pKey = ctx.freshName("asofPKey")
    val pTime = ctx.freshName("asofPTime")
    val timeCmp = if (inclusive) "<=" else "<"
    val skipUnmatched = if (inner) s"if (!$matched) continue;" else ""

    s"""
       |if (!$initialized) {
       |  $initialized = true;
       |  $advanceR();
       |}
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  boolean $matched = false;
       |  if (!$leftRow.isNullAt($lkIdx) && !$leftRow.isNullAt($ltIdx)) {
       |    long $pKey = $leftRow.getLong($lkIdx);
       |    long $pTime = $leftRow.getLong($ltIdx);
       |    while ($rHas && $rKey < $pKey) $advanceR();
       |    while ($rHas && $rKey == $pKey && $rTime $timeCmp $pTime) {
       |      $heldValid = true; $heldKey = $rKey; $heldRow = $rRow;
       |      $advanceR();
       |    }
       |    $matched = $heldValid && $heldKey == $pKey;
       |  }
       |  $skipUnmatched
       |  ${consume(ctx, leftVars ++ rightVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lkIdx = lOut.indexWhere(_.exprId == leftKey.exprId)
    val ltIdx = lOut.indexWhere(_.exprId == leftTime.exprId)
    val rkIdx = rOut.indexWhere(_.exprId == rightKey.exprId)
    val rtIdx = rOut.indexWhere(_.exprId == rightTime.exprId)
    val inc = inclusive
    val innerJoin = inner
    val nRight = rOut.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // bind the version side as NULLABLE regardless of its schema: the
      // LEFT-join null row must project as NULL, and a non-nullable
      // BoundReference would skip the isNullAt check and read zeros
      val proj = UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight: InternalRow = new GenericInternalRow(nRight)

      // interpreted orderings over boxed values: every key/time type
      val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
      val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
      val rkType = rOut(rkIdx).dataType
      val rtType = rOut(rtIdx).dataType
      val lkType = lOut(lkIdx).dataType
      val ltType = lOut(ltIdx).dataType

      // buffered right cursor; NULL-key / NULL-time versions are inert
      // under SQL equi-join semantics and skipped outright
      var rHas = false
      var rKey: Any = null
      var rTime: Any = null
      var rRow: InternalRow = null
      def advanceR(): Unit = {
        rHas = false
        while (!rHas && rIter.hasNext) {
          val row = rIter.next()
          if (!row.isNullAt(rkIdx) && !row.isNullAt(rtIdx)) {
            // copy FIRST and extract key/time from the copy: iterator rows
            // are reused buffers, and a UTF8String/binary/decimal key read
            // off the live row would silently mutate after the next next()
            rRow = row.copy()
            rKey = rRow.get(rkIdx, rkType)
            rTime = rRow.get(rtIdx, rtType)
            rHas = true
          }
        }
      }
      advanceR()

      // latest version already consumed (valid while its key matches)
      var heldValid = false
      var heldKey: Any = null
      var heldRow: InternalRow = null

      lIter.flatMap { lRow =>
        if (lRow.isNullAt(lkIdx) || lRow.isNullAt(ltIdx)) {
          // NULL-key (or NULL as-of time) probe: never matches
          if (innerJoin) Iterator.empty
          else Iterator.single(proj(joined(lRow, nullRight)))
        } else {
          val pKey = lRow.get(lkIdx, lkType)
          val pTime = lRow.get(ltIdx, ltType)
          // drop versions for keys already passed
          while (rHas && keyOrd.compare(rKey, pKey) < 0) advanceR()
          // consume versions visible at pTime; last one wins (equal change
          // instants: later stream position wins, same as the window form)
          while (rHas && keyOrd.compare(rKey, pKey) == 0 && {
              val c = timeOrd.compare(rTime, pTime)
              if (inc) c <= 0 else c < 0
            }) {
            heldValid = true; heldKey = rKey; heldRow = rRow
            advanceR()
          }
          val matched = heldValid && keyOrd.compare(heldKey, pKey) == 0
          if (matched) Iterator.single(proj(joined(lRow, heldRow)))
          else if (innerJoin) Iterator.empty
          else Iterator.single(proj(joined(lRow, nullRight)))
        }
      }
    }
  }
}
