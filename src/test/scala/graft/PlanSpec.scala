package graft

import graft.core.VersionedTable
import graft.ops.AsOfJoin
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the properties that make the engine viable at
  * 100 TB must hold structurally, not accidentally: parquet filter pushdown,
  * column pruning, broadcast of small dimensions, and the as-of join's
  * single-shuffle guarantee. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every node of a physical plan, looking inside AQE: collect() alone
    * stops at an AdaptiveSparkPlanExec, which is a leaf. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  private def planString(name: String): String = {
    val df = graft.queries.Registry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_expr pushes its predicates into the parquet scan") {
    val df = graft.queries.Registry.queries("q_filter_expr")(spark, sfDir)
    val pushed = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_discount,0.07)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,10.0)"), pushed)
  }

  test("q_token_stats prunes unused document columns from the scan") {
    val p = planString("q_token_stats")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text"))
    assert(!readSchema.contains("doc_id"), readSchema)
    assert(!readSchema.contains("source"), readSchema)
  }

  test("q_top_customers broadcasts the customer dimension") {
    val p = planString("q_top_customers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_nation_revenue broadcasts nation and region") {
    val p = planString("q_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("fused flagship pipeline is a single shuffle of the events table") {
    val df = graft.queries.Registry.queries("q_flagship")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("\\bExchange\\b".r.findAllIn(plan).size === 1, plan.take(3000))
  }

  test("q_range_join plans the user_id equality as the join key (SMJ/SHJ, not NL)") {
    val p = planString("q_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_sample prunes to the filter + projection columns only") {
    val p = planString("q_sample")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text")) // md5 filter input
    assert(!readSchema.contains("source"), readSchema)
  }

  test("q_sq8_rerank: kernels stay native expressions, probes broadcast, scan pruned") {
    val df = graft.queries.Registry.queries("q_sq8_rerank")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the quantized scorer runs as the native expression (not a UDF shim)
    assert(plan.contains("graft_sq8_dot("), plan.take(2000))
    assert(plan.contains("graft_sq8_encode("), plan.take(2000))
    // the tiny probe side broadcasts; the corpus never shuffles pre-top-k
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("label"), readSchema)
  }

  test("as-of join is a single shuffle over union(probes, versions)") {
    import spark.implicits._
    val probes = Seq((ts("02:00"), "k1")).toDF("t", "k")
    val versions = VersionedTable(
      Seq((ts("01:00"), "k1", 1L)).toDF("_change_time", "_entity", "v"),
      "_entity", "_change_time", Seq("v"))
    val joined = AsOfJoin.asof(probes, "k", "t", versions)
    val n = nodes(joined.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
    assert(n === 1, joined.queryExecution.executedPlan.toString.take(3000))
  }

  test("IVF cell assignment and OPQ rotation are exchange-free map-side passes") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val centroids = graft.ext.IvfKMeans.trainCentroids(emb, k = 8, sampleN = 256)
    val assigned = graft.ext.IvfKMeans.assignCells(emb, centroids)
    val aPlan = assigned.queryExecution.executedPlan
    assert(nodes(aPlan).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      aPlan.toString.take(2000))
    assert(aPlan.toString.contains("graft_ivf_cell"), "kernel expression not in plan")

    val opq = graft.ext.Opq.train(emb, sampleN = 256)
    val rotated = emb.select(col("vec_id"),
      graft.ext.Opq.rotate(opq, col("embedding").cast("array<double>")).as("rv"))
    val rPlan = rotated.queryExecution.executedPlan
    assert(nodes(rPlan).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      rPlan.toString.take(2000))
    // "*(n)" marks a WholeStageCodegen span in the simple plan string
    assert(rPlan.toString.contains("*(1) Project"), "rotation fell out of codegen: " +
      rPlan.toString.take(500))
  }

  test("IVF x PQ encode keeps the corpus map-side (codes, not vectors, shuffle later)") {
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val model = graft.ext.IvfPq.train(emb, kCells = 8, sampleN = 256)
    val encoded = graft.ext.IvfPq.encode(emb, model)
    val plan = encoded.queryExecution.executedPlan
    assert(nodes(plan).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "encode must not shuffle: " + plan.toString.take(2000))
    val s = plan.toString
    assert(s.contains("graft_pq_encode") && s.contains("graft_ivf_cell"), s.take(2000))
  }

  test("q_trigram_lm scoring is map-side: membership kernel in the plan, " +
      "no join in the scoring query, scan pruned to (doc_id, text)") {
    val df = graft.queries.Registry.queries("q_trigram_lm")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    // scoring = scan -> project(kernel) -> filter; the model build ran
    // eagerly in separate bounded actions, so the SCORING plan must have
    // no join and no aggregate
    assert(nodes(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "scoring must not join: " + plan.toString.take(1500))
    val s = plan.toString
    assert(s.contains("graft_set_hits"), s.take(1500))
    assert(s.contains("graft_char_ngrams"), s.take(1500))
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("q_repetition_chars is a pure projection: zero exchanges, kernel " +
      "inside the scan's codegen span, scan pruned to (doc_id, text)") {
    val df = graft.queries.Registry.queries("q_repetition_chars")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    // the only exchange allowed is the round-robin spread that lifts a
    // single-row-group local scan to core parallelism (no-op at scale);
    // any KEY exchange would mean the kernel stopped being per-row
    assert(nodes(plan).collect { case e: ShuffleExchangeExec
        if !e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => e
      }.isEmpty,
      "repetition signals must not shuffle on a key: " + plan.toString.take(2000))
    val s = plan.toString
    // exactly ONE kernel evaluation: the PlanBarrier wrapper must keep
    // the isNotNull filter from substituting a second
    // graft_repetition_stats call below the exchange into the scan
    assert("graft_repetition_stats".r.findAllIn(s).size === 1,
      "kernel evaluated more than once: " + s.take(2000))
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
    // codegen check needs the POST-execution adaptive plan (the pre-
    // execution AdaptiveSparkPlan string carries no WholeStageCodegen
    // spans); collect() executes THIS df's own QueryExecution (a write
    // would plan a fresh one and leave this plan un-finalized)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("),
      "kernel fell out of codegen: " + executed.take(1500))
  }
}
