package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Example usage of the engine's public API against the driver testdata —
  * the reference pipeline shape (examples → as-of features → as-of target)
  * re-targeted at the `events` table. Run:
  * `sbt "runMain graft.tools.Demo /root/testdata/sf0.001"`
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The reference pipeline through the facade: examples on two
    // consecutive error events, then as-of features and as-of target.
    val g = graft.api.Graft(spark)
    val events = g.events("events_v", graft.sources.Tables.events(spark, sfDir),
      time = "ts", key = "user_id")
    val examples = g.examples(events,
      windowAgg = "count(CASE WHEN event_type = 'error' THEN 1 END)", lookback = 1,
      trigger = "= 2", labelDelay = "INTERVAL 1 HOUR")
    val features = g.versionedWhere(events, "event_type = 'error'",
      "sum(cast(round(value*100) as bigint))" -> "err_cents")
    val target = g.versionedWhere(events, "event_type = 'purchase'", "count(1)" -> "purchases")
    val out = g.pointInTimeJoin(
      g.pointInTimeJoin(examples, "_prediction_time", features),
      "_label_time", target)
    println(s"[demo] examples=${examples.count()} joined=${out.count()}")
    out.orderBy("_prediction_time").show(10, truncate = false)
    out.explain("formatted")

    // The same temporal join in the reference's SQL syntax.
    g.registerVersioned("ErrFeatures", features)
    g.sql("SELECT user_id AS _entity, ts AS _prediction_time FROM events_v WHERE event_type = 'purchase'")
      .createOrReplaceTempView("probes")
    val viaSql = g.sql("""
      SELECT probes.*, f.err_cents
      FROM probes
      LEFT JOIN ErrFeatures FOR SYSTEM_TIME AS OF probes._prediction_time AS f
      ON probes._entity = f._entity""")
    println(s"[demo] facade temporal-join rows=${viaSql.count()}")
    viaSql.orderBy("_prediction_time").show(3, truncate = false)

    // Quantized similarity search: SQ8 + exact re-rank over embeddings.
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val sq8 = graft.ext.Quantize.train(emb)
    val nn = graft.ext.Quantize.rerankTopK(emb, sq8, col("vec_id") < 3, k = 3, rerank = 10)
    println(s"[demo] sq8 rerank top-3 for 3 probes:")
    nn.orderBy("qid", "sim").show(9, truncate = false)

    // Big-corpus ANN through the facade: IVF x PQ residual composition
    // (sqrt(n)-scaled cells, 8 B codes, ADC + exact re-rank).
    val ann = g.approxNearestNeighbors(emb, col("vec_id") < 3, k = 3)
    println(s"[demo] ivfpq ann rows=${ann.count()}")

    // Inverted multi-index: k^2 cells from 2k per-half centroids.
    val imi = graft.ext.Imi.train(emb, k = graft.ext.Imi.scaledK(emb.count()))
    println(s"[demo] imi cells=${imi.k * imi.k} " +
      s"nn rows=${graft.ext.Imi.nn(emb, imi, perHalf = 2, k = 3).count()}")

    // Near-dup clusters through the facade (MinHash-LSH + connected
    // components), keep-one-per-cluster.
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val clusters = g.duplicateClusters(docs, 0.7)
    println(s"[demo] dup clusters: keep=${clusters.where(col("keep")).count()}" +
      s" of ${clusters.count()} docs")

    // Round-6 corpus-hygiene surface: chunk dedup, boilerplate filter,
    // containment, decontamination, OPQ-rotated ANN.
    println(s"[demo] chunk-dup docs=" +
      s"${g.chunkDedup(docs).where(col("n_dup_chunks") > 0).count()}")
    println(s"[demo] boilerplate keep=" +
      s"${g.boilerplateFilter(docs).where(col("keep")).count()}")
    println(s"[demo] containment pairs=" +
      s"${g.containmentPairs(docs, 0.8).count()}")
    println(s"[demo] decontaminate flagged=" +
      s"${g.decontaminate(docs, col("doc_id") < 25).where(col("contaminated")).count()}")
    println(s"[demo] ivf-opq ann rows=" +
      s"${g.approxNearestNeighborsOpq(emb, col("vec_id") < 3, k = 3).count()}")

    // Round-7 on-ingest hygiene: decontamination scoring on a doc stream
    // (stateless append mode) and containment against a static index.
    locally {
      val docSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
      val docStream = spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      val deconOut = graft.streaming.StreamingOps.runToParquet(
        g.decontaminateOnIngest(
          docStream.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25)),
        "demo_stream_decon")
      println(s"[demo] stream decontaminate flagged=" +
        s"${deconOut.where(col("contaminated")).count()}")
      val index = graft.ext.PipelineOps.buildContainmentIndex(docs)
      val docStream2 = spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      println(s"[demo] stream containment pairs=" +
        s"${g.containmentOnIngest(docStream2, index, 0.8).count()}")
      index.release()
    }

    // Round-7 multimodal: real ImageIO decode path + resize plumbing over
    // the text-byte media table (falls back to the stub, resized=false).
    val media = graft.ext.Multimodal.documentsAsMedia(docs.limit(50))
    println(s"[demo] media features decoded=" +
      s"${graft.ext.Multimodal.extractFeatures(media).where(col("decoded")).count()}" +
      s" resized=${graft.ext.Multimodal.resizeTo(media, 64).where(col("resized")).count()}" +
      " (text payloads: both 0 by design)")

    // Round-8: the crawl-dedup loop — build a persisted band index from
    // the even-id half, stream the odd-id half through dedupAndIngest
    // (probe, flag, grow with first-seen survivors), and show the index
    // grew. Plus perceptual-hash image dedup and two-level IVF search.
    locally {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val idxPath = s"$wh/demo_dedup_index"
      graft.ext.DedupIndex.build(docs.where(col("doc_id") % 2 === 0), idxPath)
      val idx = graft.ext.DedupIndex.load(spark, idxPath)
      val docSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
      val arriving = spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
        .where(col("doc_id") % 2 === 1)
      val flagged = graft.ext.DedupIndex.dedupAndIngest(arriving, idx, 0.7)
      val grown = spark.read.parquet(s"$idxPath/sets").count()
      println(s"[demo] crawl-dedup: flagged=${flagged.count()} dups; " +
        s"index grew to $grown docs (seed + first-seen survivors)")
      println(s"[demo] phash near-dup pairs (hamming<=3)=" +
        s"${graft.ext.Multimodal.phashNearDup(
          graft.ext.Multimodal.documentsAsMedia(docs)).count()}")
      val hm = graft.ext.HierIvf.train(emb, k1 = 5, k2 = 5)
      println(s"[demo] hier-ivf nn rows=" +
        s"${graft.ext.HierIvf.nn(emb, hm, k = 3, col("vec_id") < 3).count()}")

      // round-8 late wave: classifier scoring, BPE merges, funnel, PageRank
      val scored = graft.ext.TextOps.hashClassifier(docs)
      println(s"[demo] hashed classifier keep=" +
        s"${scored.where(col("keep")).count()}/${scored.count()}")
      val merged = graft.ext.TextOps.bpeMergeLoop(docs.limit(50), k = 2)
      println(s"[demo] bpe merges: tokens " +
        s"${merged.agg(sum("n_before")).collect()(0).getLong(0)} -> " +
        s"${merged.agg(sum("n_after")).collect()(0).getLong(0)} symbols")

      // round-10 wave: trained classifier + subword BPE encode (one
      // aggregation action each — a second action would replay the full
      // scoring/encode scan)
      val tr = graft.ext.TextOps.trainedClassifier(docs)
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          count(lit(1)).as("n")).collect()(0)
      println(s"[demo] trained classifier keep=" +
        s"${tr.getLong(0)}/${tr.getLong(1)}")
      val en = graft.ext.TextOps.bpeEncode(docs.limit(50), k = 3)
        .agg(sum("n_tokens"), sum("n_subtokens")).collect()(0)
      println(s"[demo] bpe encode: tokens " +
        s"${en.getLong(0)} -> ${en.getLong(1)} subwords")
      val cdcRes = graft.ext.PipelineOps.cdcChunkDedupReleasable(docs)
      val cdc =
        try cdcRes.df.agg(sum("n_chunks"), sum("n_dup_chunks")).collect()(0)
        finally cdcRes.release()
      println(s"[demo] cdc chunks=${cdc.getLong(0)} dup=${cdc.getLong(1)}")
      val alloc = graft.ext.MixOps.epochAllocate(docs)
        .orderBy(col("n_tokens").desc).limit(1).collect()(0)
      println(s"[demo] unimax: biggest lang '${alloc.getString(0)}' " +
        s"capped=${alloc.getBoolean(3)} epochs_micro=${alloc.getLong(5)}")
      val rec = graft.ext.MixOps.corpusRecipe(docs)
        .agg(sum(col("n_tokens") * col("n_appearances")),
          sum(when(col("extra"), 1L).otherwise(0L))).collect()(0)
      println(s"[demo] recipe: ${rec.getLong(0)} tokens delivered, " +
        s"${rec.getLong(1)} quality-fill docs")
      val funnel = graft.ops.EventPatterns.funnelCounts(
        graft.sources.Tables.events(spark, sfDir),
        Seq("view", "click", "purchase"), within = "12 HOURS")
      println(s"[demo] funnel conversions=" +
        s"${funnel.agg(sum("n_qual_2")).collect()(0).getLong(0)}")
      val edges = docs.select(
        concat(lit("site"), (col("doc_id") % 10).cast("string")).as("src"),
        concat(lit("site"), (col("doc_id") % 7).cast("string")).as("dst"))
      println(s"[demo] pagerank top domain=" +
        s"${graft.ext.GraphOps.pageRank(edges, iters = 2)
          .orderBy(col("rank_micro").desc).first()}")
    }

    // Streaming surface: same pipeline over a file stream (one pass).
    val stream = graft.sources.Tables.eventsStream(spark, sfDir)
    val sq = graft.streaming.StreamingFlagship(stream)
      .writeStream.format("memory").queryName("demo_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    println(s"[demo] streaming examples emitted=${spark.table("demo_stream").count()}" +
      s" (pre-watermark-horizon examples still pending by design)")
    spark.table("demo_stream").orderBy("_prediction_time").show(5, truncate = false)

    // Changelog with retractions (reference toChangelogStream RowKinds):
    // +I on first value per key, -U/+U pairs on change; print-sink shape.
    val clStream = graft.sources.Tables.eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
    val cl = g.changelog(clStream, "ts", "0 seconds", Seq("user_id"),
      "count(1)" -> "purchases")
    println(s"[demo] changelog rows=${cl.count()} " +
      s"(replayed keys=${g.replayChangelog(cl, Seq("user_id")).count()})")
    cl.orderBy("batch_id", "user_id", "op").show(5, truncate = false)
    spark.stop()
  }
}
