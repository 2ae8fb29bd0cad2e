package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Runs one workload and writes `result.json` (and, traced, `spans.jsonl`)
  * to `--out`. perfbench/run.py generates the inputs, starts this, checks
  * the outputs and prints the metrics.
  *
  *   --workload pit|neardup_registry  --data DIR  --out DIR  --seconds S  --trace 0|1
  */
object Main {
  /** Local cores Spark runs on: the benchmark host's 4, fixed so results
    * compare across hosts with more. */
  val Cores = 4
  /** Session starts per run; the median is reported. */
  val Setups = 3

  /** Peak heap in use right after a collection, over the collections of
    * one iteration while armed. */
  object Heap extends NotificationListener {
    @volatile var armed = false
    @volatile var peakBytes = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      // Each microbatch of the flagship stream compiles a handful of new
      // generated classes; under the default 100-entry code cache they
      // evict the backfill's, which then recompiles every pass (measured:
      // 2 compiles per backfill pass alone, 120 beside the stream).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The fixed-work probes graft.Bench reads host weather with, timed
    * after the measurement: their readings track the box, not the code. */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum}
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    Map(
      "calib_cpu_sec" -> secs(spark.range(400L * 1000 * 1000)
        .select(sum(col("id") * 3 + 1)).collect()),
      "calib_shuffle_sec" -> secs(spark.range(30L * 1000 * 1000)
        .withColumn("k", pmod(col("id") * 2654435761L, lit(100000)))
        .groupBy("k").agg(sum(col("id")).as("s"))
        .agg(sum(col("s"))).collect()))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val data = opt("data")
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val scratch = new File(out, "scratch").getAbsolutePath
    out.mkdirs()
    Heap.install()

    def make(spark: SparkSession): Workload = name match {
      case "pit" => new Pit(spark)
      case "neardup_registry" => new NearDupRegistry(spark)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: the session is started `Setups` times (the median start is
    // reported), then the last one runs the workload's untraced warm-up
    // passes over the inputs. Repeating the warm-up with every session
    // start would multiply the neardup_registry workload's job floor
    // (about 170 jobs a pass).
    val starts = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores, scratch)
      spark.range(1).count()
      starts += (System.nanoTime() - t0) / 1e9
    }
    val workload = make(spark)
    val off = new Tracer(null)
    val warmupS = (1 to workload.warmups).map { _ =>
      val w0 = System.nanoTime()
      workload.run(data, off)
      (System.nanoTime() - w0) / 1e9
    }

    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      spark.range(1000).count()
    }

    // `seconds` of the workload's nominal passes. Counting passes rather
    // than timing a window keeps the sample the same on a slow and a fast
    // host: pass times still fall after the warm-up, so a window that
    // fits fewer passes on a slow host would also measure earlier ones.
    val passes = math.max(1, (seconds / workload.passSeconds).toInt)

    def iterate(t: Tracer): Seq[(Double, Outcome)] = {
      val res = mutable.ArrayBuffer.empty[(Double, Outcome)]
      while (res.size < passes) {
        settle()
        val n = res.size
        Heap.peakBytes = 0L
        val t0 = System.nanoTime()
        val o = t.span(s"iteration $n", "workload", "iteration")(
          try workload.run(data, t)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graftbench] iteration $n failed: $e")
            Outcome(Map.empty, Map("error" -> e.toString))
          })
        val heap = if (Heap.armed) Map("peak_heap_mb" -> Heap.peakBytes / 1048576.0) else Map.empty
        res += (((System.nanoTime() - t0) / 1e9, o.copy(extra = o.extra ++ heap)))
      }
      res.toSeq
    }

    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cores" -> Cores, "session_start_s" -> starts.toSeq,
      "warmup_s" -> warmupS)

    Heap.armed = true
    val plain = iterate(off)
    Heap.armed = false
    result ++= Seq(
      "iter_s" -> plain.map(_._1),
      "outcomes" -> plain.map { case (_, o) => Map("digests" -> o.digests) ++ o.extra })

    if (traced) {
      val tracing = new Tracing(spark)
      tracing.start()
      val t = tracing.tracer
      val compileNs0 = CodeGenerator.compileTime
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val tracedIters = t.span(name, "workload", "workload")(iterate(t))
      val counters = tracing.counters()
      val n = tracedIters.size.toDouble
      result ++= Seq(
        "traced_iter_s" -> tracedIters.map(_._1),
        "traced_outcomes" -> tracedIters.map { case (_, o) => Map("digests" -> o.digests) ++ o.extra },
        "counters_per_iter" -> counters.map {
          case (k, v) if k.endsWith("_ratio") => k -> v
          case (k, v) => k -> v / n
        },
        "codegen_per_iter" -> Map(
          "compile_ms" -> (CodeGenerator.compileTime - compileNs0) / 1e6 / n,
          "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0) / n))
      // the overhead compares the traced iterations with the untraced ones
      // before and after them: their mean cancels the JVM's warming trend
      val plainAfter = iterate(off)
      result ++= Seq(
        "iter_after_s" -> plainAfter.map(_._1),
        "outcomes_after" -> plainAfter.map { case (_, o) => Map("digests" -> o.digests) ++ o.extra },
        "trace_overhead_s" -> (median(tracedIters.map(_._1))
          - (median(plain.map(_._1)) + median(plainAfter.map(_._1))) / 2))
      settle()
      result += "attribution" -> workload.attribute(data, tracing)
      tracing.drain()
      val w = new PrintWriter(new File(out, "spans.jsonl"))
      try t.all.sortBy(_.startUs).foreach(s => w.println(s.json)) finally w.close()
    }

    result += "weather" -> calibrate(spark)
    result ++= workload.checked
    spark.stop()
    val w = new PrintWriter(new File(out, "result.json"))
    try w.print(Serialization.write(result.toMap)(DefaultFormats)) finally w.close()
  }
}
