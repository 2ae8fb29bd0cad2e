package graftbench

import scala.collection.mutable

import graft.api.Graft
import graft.core.{EventTable, VersionedTable}
import graft.ext.{Dedup, PipelineOps, Similarity}
import graft.ops.Examples
import graft.queries.Registry
import graft.streaming.{StreamingFlagship, StreamingOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What one iteration produced: a digest per checked output. */
final case class Outcome(digests: Map[String, String], extra: Map[String, Any] = Map.empty)

/** A workload drives graft only through its public functions. `run`
  * executes one iteration over `dir`; inputs are read from parquet on
  * every iteration, so each is a full pass from inputs to a checked
  * result. */
trait Workload {
  /** Untraced passes of set-up, chosen so that the measured passes sit
    * where the pass time has nearly stopped falling. */
  def warmups: Int
  /** Seconds of a measured pass on the 4-core benchmark host: a run with
    * --seconds S measures max(1, floor(S / passSeconds)) passes. */
  def passSeconds: Double
  def run(dir: String, t: Tracer): Outcome
  /** Traced-run extras: per-layer figures an iteration cannot isolate. */
  def attribute(dir: String, t: Tracing): Map[String, Any] = Map.empty
  /** What perfbench/check.py needs beyond the digests, from the latest
    * iteration. */
  def checked: Map[String, Any] = Map.empty
}

/** Canonical rows of each checked output's latest iteration, for
  * check.py. */
final class Collector {
  private val last = mutable.Map.empty[String, (Seq[String], Seq[Seq[String]])]

  /** Collects `df` under a driver action span, keeps its rows and
    * returns their digest. */
  def apply(name: String, df: DataFrame, t: Tracer): String = {
    val rows = t.span(name, "driver", "action")(df.collect().toSeq)
    val (cols, texts) = Digest.texts(df.schema, rows)
    last(name) = (cols, texts)
    Digest.ofTexts(texts)
  }

  def rows: Map[String, Any] =
    last.map { case (k, (c, r)) => k -> Map("columns" -> c, "rows" -> r) }.toMap
}

/** The paper's program in batch: OVER-window examples, two versioned
  * tables and two event-time as-of joins, through the public API. */
final class Backfill(spark: SparkSession) {
  private val g = Graft(spark)
  private val Columns = Seq("_entity", "_prediction_time", "_label_time", "err_cents", "purchases")

  // Examples.generate rather than Graft.examples: the facade passes no
  // tie-breaking order, so with same-timestamp ties its streak (and so its
  // output) would depend on row order. event_id orders ties, as in the
  // reference program.
  def examples(et: EventTable): DataFrame = Examples.generate(
    et, count(when(col("event_type") === "error", lit(1))), lookback = 1,
    trigger = _ === 2, labelDelay = "INTERVAL 1 HOUR", orderCols = Seq("event_id"))

  def feature(et: EventTable): VersionedTable = g.versionedWhere(
    et, "event_type = 'error'", "sum(cast(round(value * 100) as bigint))" -> "err_cents")

  def label(et: EventTable): VersionedTable =
    g.versionedWhere(et, "event_type = 'purchase'", "count(1)" -> "purchases")

  def join(ex: DataFrame, f: VersionedTable, l: VersionedTable): DataFrame =
    g.pointInTimeJoin(g.pointInTimeJoin(ex, "_prediction_time", f), "_label_time", l)
      .select(Columns.map(col): _*)

  def run(dir: String, t: Tracer): String = {
    val ev = t.span("read", "sources", "construct")(spark.read.parquet(dir))
    val et = t.span("events", "api", "construct")(g.events("events", ev, "ts", "user_id"))
    val ex = t.span("examples", "ops", "construct")(examples(et))
    val f = t.span("versioned_feature", "core", "construct")(feature(et))
    val l = t.span("versioned_label", "core", "construct")(label(et))
    val out = t.span("asof_joins", "plans", "construct")(join(ex, f, l))
    t.span("digest", "driver", "action")(Digest.of(out))
  }

  /** Each public call materialized alone over persisted inputs. */
  def attribute(dir: String, tr: Tracing): Map[String, Any] = {
    val t = tr.tracer
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val ev = spark.read.parquet(dir).persist()
    ev.count()
    val et = g.events("events", ev, "ts", "user_id")
    def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = t.span(name, layer, "attribution")(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val ((ex, exRows), exS) = timed("examples", "ops") {
      val d = examples(et).persist(); (d, d.count())
    }
    val ((f, l), vS) = timed("versioned", "core") {
      val f = feature(et); val l = label(et)
      val fp = f.copy(df = f.df.persist()); val lp = l.copy(df = l.df.persist())
      fp.df.count(); lp.df.count()
      (fp, lp)
    }
    val (_, asofS) = timed("asof", "plans")(noop(join(ex, f, l)))
    tr.drain()
    val exchanges = tr.plans.lastExchanges
    spark.catalog.clearCache()
    Map("ops.examples_s" -> exS, "ops.examples_rows" -> exRows,
      "core.versioned_s" -> vS, "plans.asof_s" -> asofS,
      "plans.asof_exchanges" -> exchanges)
  }
}

/** The same program incrementally: StreamingFlagship over a file source
  * that admits one file per microbatch, in arrival order, drained the
  * way graft drains a bounded stream (StreamingOps.runToParquet:
  * AvailableNow, so the final watermark matures every label it can).
  * Events arrive up to 8 minutes out of event-time order across files
  * (perfbench/gen.py), inside the watermark delay. */
final class Stream(spark: SparkSession) {
  /** Reported with each drain, so the check restricts its reference by
    * the same delay. */
  val WatermarkDelayMs = 10 * 60 * 1000L

  /** Progress of every microbatch; late-dropped rows are part of the
    * check, so this listener runs untraced too. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  })

  def run(dir: String, t: Tracer): Outcome = {
    val out = t.span("drain", "streaming", "drain") {
      val src = t.span("read", "sources", "construct")(spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
      val flagship = t.span("flagship", "streaming", "construct")(
        StreamingFlagship(src, s"$WatermarkDelayMs milliseconds").toDF())
      StreamingOps.runToParquet(flagship, "flagship",
        statePartitions = Some(StreamingOps.boundedStatePartitions(spark, dir)))
    }
    val digest = t.span("digest", "driver", "action")(Digest.of(out))
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val ps = progress.synchronized { val r = progress.toList; progress.clear(); r }
    Outcome(Map("matured" -> digest), Map(
      "batches" -> ps.size,
      "watermark_delay_ms" -> WatermarkDelayMs,
      "rows_dropped_late" -> ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
      "progress" -> ps.map(_.json)))
  }
}

/** Both forms of the paper's program, each over its own events: the
  * backfill over `dir`/batch, then the stream drain over `dir`/stream. */
final class Pit(spark: SparkSession) extends Workload {
  // pass times of one run, from the first: 7.1, 4.9, 4.4, 3.9, 3.4, 3.3 s
  val warmups = 2
  val passSeconds = 4.0
  private val backfill = new Backfill(spark)
  private val stream = new Stream(spark)

  def run(dir: String, t: Tracer): Outcome = {
    val t0 = System.nanoTime()
    val training = t.span("backfill", "workload", "program")(backfill.run(s"$dir/batch", t))
    val t1 = System.nanoTime()
    val s = t.span("stream", "workload", "program")(stream.run(s"$dir/stream", t))
    s.copy(digests = s.digests + ("training" -> training),
      extra = s.extra ++ Map("backfill_s" -> (t1 - t0) / 1e9,
        "drain_s" -> (System.nanoTime() - t1) / 1e9))
  }

  override def attribute(dir: String, t: Tracing): Map[String, Any] =
    backfill.attribute(s"$dir/batch", t)
}

/** Five near-duplicate operators over one corpus; each emits a small
  * pair (or cluster) set that is collected and re-verified exactly. */
final class NearDup(spark: SparkSession, collect: Collector) {
  val Ops: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "minhash" -> ((d, _) => Dedup.minhashNearDup(d, 0.7, bands = 16, rowsPerBand = 4)),
    "srp" -> ((_, v) => Similarity.srpNearDup(v, threshold = 0.8, dim = 64)),
    "winnow" -> ((d, _) => Dedup.winnowNearDup(d, 0.7)),
    "containment" -> ((d, _) => PipelineOps.containmentPairsPrefix(d, 0.8)),
    "clusters" -> ((d, _) => Dedup.duplicateClusters(d, 0.7)))

  def run(dir: String, t: Tracer): Outcome = {
    val docs = t.span("read_documents", "sources", "construct")(
      spark.read.parquet(s"$dir/documents.parquet"))
    val vecs = t.span("read_vectors", "sources", "construct")(
      spark.read.parquet(s"$dir/vectors.parquet"))
    val opS = mutable.LinkedHashMap.empty[String, Double]
    val digests = Ops.map { case (name, op) =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try t.span(name, "ext", "call") {
        val df = t.span(name, "ext", "construct")(op(docs, vecs))
        name -> collect(name, df, t)
      } finally opS(name) = (System.nanoTime() - t0) / 1e9
    }
    spark.catalog.clearCache()
    Outcome(digests.toMap, Map("op_s" -> opS.toMap))
  }
}

/** A fixed subset of graft.queries.Registry over the project's sf0.01
  * test tables: the operator families only the registry reaches (the
  * approximate aggregates, IVF, BPE, multimodal parsers, relational,
  * event and text queries), each a short query, so the per-query job
  * floor of driver and scheduler dominates. Each output is checked
  * against the query's own DuckDB oracle. */
final class RegistryQueries(spark: SparkSession, collect: Collector) {
  val Queries = Seq(
    "q_approx_agg", "q_ivf_nn", "q_bpe_merges", "q_mm_audio_meta",
    "q_top_customers", "q_rollup", "q_window_funcs", "q_sessions", "q_json",
    "q_quality")
  def run(dir: String, t: Tracer): Outcome = {
    graft.sources.Tables.prepare(spark)
    val queryS = mutable.LinkedHashMap.empty[String, Double]
    val digests = Queries.map { name =>
      val q = Registry.queries(name)
      val t0 = System.nanoTime()
      try t.span(name, "queries", "call") {
        val df = t.span(name, "queries", "construct")(q(spark, dir))
        name -> collect(name, df, t)
      } finally {
        queryS(name) = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()  // queries that persist leave it to the caller
      }
    }
    Outcome(digests.toMap, Map("query_s" -> queryS.toMap))
  }

  def oracles: Map[String, String] =
    Queries.map(q => q -> Registry.oracles.getOrElse(q, null)).toMap
}

/** The near-dup pass over `dir`/corpus, then the registry queries over
  * `dir`/tables: the workloads whose time goes to short eager jobs and
  * the driver between them, rather than to the as-of layers. */
final class NearDupRegistry(spark: SparkSession) extends Workload {
  // pass times of one run, from the first: 29.6, 13.0, 10.7, 9.9, 8.7 s;
  // more warm-up passes in every run would not fit the time budget
  val warmups = 2
  val passSeconds = 11.0
  private val collect = new Collector
  private val nearDup = new NearDup(spark, collect)
  private val registry = new RegistryQueries(spark, collect)

  def run(dir: String, t: Tracer): Outcome = {
    val a = t.span("neardup", "workload", "program")(nearDup.run(s"$dir/corpus", t))
    val b = t.span("registry", "workload", "program")(registry.run(s"$dir/tables", t))
    Outcome(a.digests ++ b.digests, a.extra ++ b.extra)
  }

  override def checked: Map[String, Any] =
    Map("rows" -> collect.rows, "oracles" -> registry.oracles)
}
