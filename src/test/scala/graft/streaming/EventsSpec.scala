package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventsSpec extends SparkSpec {
  import spark.implicits._

  val us = 1000L * 1000 // micros per second (values below are ns)
  // base epoch 2024-01-01 (exactly on an hour): a ts of 0 sits exactly on
  // the initial watermark and gets dropped as late by the streaming path
  val base = 1704067200L
  def ns(sec: Long): Long = (base + sec) * 1000L * 1000 * 1000

  val events = Seq(
    (1L, ns(0), 10L, "click", 1.5, "{}"),
    (2L, ns(60), 10L, "click", 2.5, "{}"),
    (3L, ns(60 * 100), 10L, "view", 1.0, "{}"),  // >30min gap => new session
    (4L, ns(30), 20L, "click", 4.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("hourly aggregation (batch form)") {
    val out = Events.hourlyAgg(events)
      .select("hour", "event_type", "cnt", "vsum")
      .as[(Long, String, Long, Double)].collect().toSet
    val h0 = base / 3600 // 2024-01-01 00:xx bucket
    assert(out == Set((h0, "click", 3L, 8.0), (h0 + 1, "view", 1L, 1.0)))
  }

  test("transitionMatrix: per-user ordered adjacencies") {
    // user 10: click -> click -> view; user 20: single event (no pair)
    val out = Events.transitionMatrix(events)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(("click", "click") -> 1L, ("click", "view") -> 1L))
  }

  test("funnel: min-chaining with strict-after semantics") {
    val evs = Seq(
      // user 1 completes all three in order
      (1L, ns(0), 1L, "view", 0.0, "{}"),
      (2L, ns(10), 1L, "click", 0.0, "{}"),
      (3L, ns(20), 1L, "purchase", 0.0, "{}"),
      // user 2: click BEFORE view never counts; no purchase after
      (4L, ns(0), 2L, "click", 0.0, "{}"),
      (5L, ns(10), 2L, "view", 0.0, "{}"),
      (6L, ns(5), 2L, "purchase", 0.0, "{}"),
      // user 3: same-ts click does NOT advance (strictly after)
      (7L, ns(0), 3L, "view", 0.0, "{}"),
      (8L, ns(0), 3L, "click", 0.0, "{}"),
      // user 4: never starts (purchase only)
      (9L, ns(0), 4L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.funnel(evs, Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1) == (("view", 3L)))     // users 1, 2, 3
    assert(out(2) == (("click", 1L)))    // only user 1
    assert(out(3) == (("purchase", 1L))) // only user 1
  }

  test("streaming funnel twin emits step completions matching batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = Events.funnelStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Seq("view", "click", "purchase"))
    val q = stream.writeStream.format("memory").queryName("funnel_steps")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, ns(0), 1L, "view", 0.0, "{}"),
        (2L, ns(10), 1L, "click", 0.0, "{}"),
        (3L, ns(0), 2L, "click", 0.0, "{}"))) // click before view: no-op
      q.processAllAvailable()
      mem.addData(Seq(
        (4L, ns(20), 1L, "purchase", 0.0, "{}"),  // completes across batches
        (5L, ns(10), 2L, "view", 0.0, "{}")))     // user 2 starts now
      q.processAllAvailable()
      val steps = spark.table("funnel_steps").as[Events.FunnelStep].collect()
        .map(s => (s.user_id, s.step_idx)).toSet
      assert(steps == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1)))
    } finally q.stop()
  }

  test("streaming transition twin matches batch across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val evs = Seq(
      (1L, ns(0), 1L, "view", 0.0, "{}"),
      (2L, ns(10), 1L, "click", 0.0, "{}"),
      (3L, ns(5), 2L, "view", 0.0, "{}"),
      (4L, ns(20), 1L, "purchase", 0.0, "{}"), // crosses the batch split
      (5L, ns(15), 2L, "view", 0.0, "{}"))
    val q = Events.transitionStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      mem.addData(evs.take(3)); q.processAllAvailable()
      mem.addData(evs.drop(3)); q.processAllAvailable()
      val streamed = spark.table("transitions").as[Events.TransitionPair]
        .collect().groupBy(p => (p.from_type, p.to_type))
        .view.mapValues(_.length.toLong).toMap
      val batch = Events.transitionMatrix(
          evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed == batch)
      assert(batch(("click", "purchase")) == 1L) // the cross-batch pair
    } finally q.stop()
  }

  test("streaming transition twin drops late cross-batch rows instead of corrupting (r15)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val q = Events.transitionStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("transitions_late")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, ns(0), 1L, "view", 0.0, "{}"),
        (2L, ns(20), 1L, "purchase", 0.0, "{}")))
      q.processAllAvailable()
      // a LATE row (event time 10, older than the stored last at 20)
      // arrives in the next micro-batch: the r14 behavior emitted the
      // out-of-order (purchase, click); now it is dropped
      mem.addData(Seq((3L, ns(10), 1L, "click", 0.0, "{}")))
      q.processAllAvailable()
      // and a fresh in-order row still chains off the stored last
      mem.addData(Seq((4L, ns(30), 1L, "view", 0.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("transitions_late").as[Events.TransitionPair]
        .collect().map(p => (p.from_type, p.to_type)).toSeq.sorted
      assert(got == Seq(("purchase", "view"), ("view", "purchase")), got)
    } finally q.stop()
  }

  test("retention cohorts: DAU triangle by hand") {
    val day = graft.GridSource.NanosPerDay
    def at(d: Long, u: Long, id: Long) =
      (id, d * day + 1000L, u, "view", 0.0, "{}")
    val evs = Seq(
      at(10, 1L, 1), at(10, 2L, 2),          // day 10 cohort: users 1, 2
      at(11, 1L, 3), at(11, 1L, 4),          // user 1 active day 11 (twice)
      at(12, 1L, 5), at(12, 2L, 6), at(12, 3L, 7) // day 12: cohort-12 user 3 joins
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.retentionCohorts(evs)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(
      (10L, 0L) -> 2L, (10L, 1L) -> 1L, (10L, 2L) -> 2L,
      (12L, 0L) -> 1L))
  }

  test("batch ops run against the REAL driver events.parquet") {
    // the in-memory Seqs above pin semantics; this pins the actual
    // testdata feed — r10's events dtype drift was invisible to the
    // suite precisely because no spec opened the real file
    val real = graft.GridSource.eventsTable(spark, "/root/testdata/sf0.01")
    val hourly = Events.hourlyAgg(real)
      .select("hour", "event_type", "cnt", "vsum")
      .as[(Long, String, Long, Double)].collect()
    assert(hourly.nonEmpty)
    // hours are epoch-hours in a sane range (2000..2100), i.e. the ts
    // nanos contract actually held through the integer math
    assert(hourly.forall(h => h._1 > 262_000L && h._1 < 1_140_000L))
    assert(hourly.map(_._3).sum == real.count())
    val sessions = Events.sessionize(real).select("user_id", "session_id", "cnt")
      .as[(Long, Long, Long)].collect()
    assert(sessions.nonEmpty && sessions.forall(_._2 >= 1L))
    assert(sessions.map(_._3).sum == real.count())
  }

  test("sessionize splits on >30min gaps per user") {
    val out = Events.sessionize(events)
      .select("user_id", "session_id", "cnt").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((10L, 1L, 2L), (10L, 2L, 1L), (20L, 1L, 1L)))
  }

  test("streaming hourly agg with watermark produces the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = Events.hourlyAggStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = stream.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      mem.addData(Seq(
        (1L, ns(0), 10L, "click", 1.5, "{}"),
        (2L, ns(60), 10L, "click", 2.5, "{}"),
        (3L, ns(60 * 100), 10L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val out = spark.table("hourly")
        .select(col("event_type"), col("cnt"), col("vsum"))
        .as[(String, Long, Double)].collect().toSet
      assert(out == Set(("click", 2L, 4.0), ("view", 1L, 1.0)))
    } finally q.stop()
  }

  test("native session_window: merge/split boundary semantics and window math") {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val gapUs = 30L * 60 * 1000000
    // user 10: events 0s and 10min apart (merge), then one exactly
    // 30min after the second (boundary), user 11: isolated event
    val rows = Seq(
      (1L, ns(0), 10L, "click", 1.0, "{}"),
      (2L, ns(600), 10L, "click", 1.0, "{}"),
      (3L, ns(600 + 1800), 10L, "click", 1.0, "{}"), // exactly gap after 2
      (4L, ns(0), 11L, "view", 1.0, "{}"))
    val out = Events.sessionWindowAgg(rows.toDF(cols: _*))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def us(sec: Long) = (base + sec) * 1000000L
    // exactly-gap-apart pair MERGES (inclusive rule, same as
    // sessionize's `> gap` break): one 3-event session
    assert(out(10L).map(_._4).toSeq == Seq(3L))
    assert(out(10L).head == ((10L, us(0), us(2400) + gapUs, 3L)))
    assert(out(11L).head == ((11L, us(0), us(0) + gapUs, 1L)))
    // strictly-beyond-gap splits
    val split = Events.sessionWindowAgg(Seq(
      (1L, ns(0), 10L, "click", 1.0, "{}"),
      (2L, ns(1801), 10L, "click", 1.0, "{}")).toDF(cols: _*))
      .as[(Long, Long, Long, Long)].collect()
    assert(split.length == 2)
  }

  test("stream-static nation enrichment: stream equals batch through the same code") {
    implicit val sqlCtx = spark.sqlContext
    val nation = Seq((10, "ALPHA"), (11, "BETA")).toDF("n_nationkey", "n_name")
    val rows = Seq(
      (1L, ns(0), 10L, "click", 1.5, "{}"),   // user 10 -> nation 10
      (2L, ns(1), 35L, "click", 2.0, "{}"),   // 35 % 25 = 10
      (3L, ns(2), 11L, "view", 0.25, "{}"))   // nation 11
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = Events.enrichByNation(rows.toDF(cols: _*), nation)
      .as[(String, Long, Double)].collect().toSet
    assert(batch == Set(("ALPHA", 2L, 3.5), ("BETA", 1L, 0.25)))
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val q = Events.enrichByNation(mem.toDF().toDF(cols: _*), nation)
      .writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("enrich")
        .as[(String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops same-content docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val out = Events.streamingDedup(
      mem.toDF().toDF("doc_id", "text", "ts"))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, "same text", ns(10)), (2L, "same text", ns(20)),
        (3L, "other text", ns(30))))
      q.processAllAvailable()
      mem.addData(Seq((4L, "same text", ns(40)))) // still within watermark
      q.processAllAvailable()
      val texts = spark.table("dedup").select("text").as[String].collect().toSeq
      assert(texts.sorted == Seq("other text", "same text"))
    } finally q.stop()
  }

  test("streaming near-dup flags minhash matches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    // identical text => identical signatures => guaranteed bucket hit
    // (probabilistic near-collisions are exercised in PipelineSpec,
    // which shares the same signature math)
    val a  = "the quick brown fox jumps over the lazy dog again and again today"
    val a2 = a
    val b  = "completely different content about spark distributed computing engines at scale"
    val out = Events.streamingNearDup(mem.toDF().toDF("doc_id", "text", "ts"))
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, a, ns(10))))
      q.processAllAvailable()
      mem.addData(Seq((2L, a2, ns(20)), (3L, b, ns(30)))) // a2 near-dups doc 1
      q.processAllAvailable()
      val dups = spark.table("neardup").select("doc_id", "dup_of")
        .as[(Long, Long)].collect().toSet
      assert(dups == Set((2L, 1L)))
    } finally q.stop()
  }

  test("streaming scene ingestion tiles micro-batches into the catalog") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val dir = tempDir("graft_ingest").toString
    val mem = MemoryStream[(Long, Double, Double, Double, Double, Int, Int, Seq[Double])]
    val q = Events.ingestScenes(
      mem.toDF().toDF("scene_id", "xmin", "ymin", "xmax", "ymax", "cols", "rows", "cells"),
      dir, "live", layout)
    try {
      mem.addData(Seq((1L, 0.0, 6.0, 2.0, 8.0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0))))
      q.processAllAvailable()
      mem.addData(Seq((2L, 4.0, 2.0, 6.0, 4.0, 2, 2, Seq(5.0, 6.0, 7.0, 8.0))))
      q.processAllAvailable()
      val layer = graft.catalog.Catalog.read(spark, dir, "live").aggregateByCell("Max")
      assert(layer.toCells.count() == 8) // both scenes' cells landed
    } finally q.stop()
  }

  test("streaming TEMPORAL scene ingestion keys the store by instant") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val dir = tempDir("graft_ingest_t").toString
    val mem = MemoryStream[(Long, Double, Double, Double, Double, Int, Int, Seq[Double], Long)]
    val q = Events.ingestScenes(
      mem.toDF().toDF("scene_id", "xmin", "ymin", "xmax", "ymax",
        "cols", "rows", "cells", "instant"),
      dir, "live_t", layout)
    try {
      // same footprint, two acquisition instants across two batches
      mem.addData(Seq((1L, 0.0, 6.0, 2.0, 8.0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0), 100L)))
      q.processAllAvailable()
      mem.addData(Seq((2L, 0.0, 6.0, 2.0, 8.0, 2, 2, Seq(9.0, 8.0, 7.0, 6.0), 200L)))
      q.processAllAvailable()
      val layer = graft.catalog.Catalog.read(spark, dir, "live_t")
      assert(layer.meta.temporal)
      val out = layer.toCells.as[(Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
      assert(out((0L, 0L, 100L)) == 1.0 && out((0L, 0L, 200L)) == 9.0)
      assert(out.size == 8) // both instants kept distinct
    } finally q.stop()
  }

  test("streaming ingestion with periodic compaction keeps the store compact and correct") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val dir = tempDir("graft_ingest_c").toString
    def parquetFiles() = {
      val d = new java.io.File(s"$dir/live/tiles/zoom=0")
      if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet")) else 0
    }
    val mem = MemoryStream[(Long, Double, Double, Double, Double, Int, Int, Seq[Double])]
    val q = Events.ingestScenes(
      mem.toDF().toDF("scene_id", "xmin", "ymin", "xmax", "ymax", "cols", "rows", "cells"),
      dir, "live", layout, compactEvery = 3)
    try {
      // three single-scene micro-batches -> 2 appends + 1 compaction
      (0 until 3).foreach { i =>
        mem.addData(Seq((i.toLong, 2.0 * i, 0.0, 2.0 * i + 2, 2.0, 2, 2,
          Seq(1.0 + i, 2.0 + i, 3.0 + i, 4.0 + i))))
        q.processAllAvailable()
      }
      // every scene's cells survive the rewrite
      val layer = graft.catalog.Catalog.read(spark, dir, "live").aggregateByCell("Max")
      assert(layer.toCells.count() == 12)
      // the compacted store holds fewer files than the three appends
      // left behind (canonical write = one range-partitioned sort)
      assert(parquetFiles() < 3, s"expected compacted store, got ${parquetFiles()} files")
    } finally q.stop()
  }

  test("text-analysis pipeline runs unchanged over a document stream") {
    // the curation/analysis operators are stateless column expressions,
    // so the SAME functions serve batch tables and readStream sources —
    // the batch/streaming-parity promise of building on DataFrames
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.pipeline.TextAnalysis.tokenCounts(docs)
      .writeStream.format("memory").queryName("stream_tokens")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, "one two three", "en", "s", 13L)))
      q.processAllAvailable()
      mem.addData(Seq((2L, "four five", "en", "s", 9L)))
      q.processAllAvailable()
      val got = spark.table("stream_tokens").as[(Long, Long, Long)].collect().toSet
      // expected BPE counts derived from the tokenizer itself so a
      // merges-table change can't silently stale this spec
      assert(got == Set(
        (1L, 3L, graft.pipeline.Bpe.countTokens("one two three")),
        (2L, 2L, graft.pipeline.Bpe.countTokens("four five"))))
      // and the streaming result matches the batch run of the same op
      val batch = graft.pipeline.TextAnalysis.tokenCounts(
        Seq((1L, "one two three", "en", "s", 13L), (2L, "four five", "en", "s", 9L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        .as[(Long, Long, Long)].collect().toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming CMS and HLL sketches converge to the batch sketches") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "alpha alpha beta"), (2L, "beta gamma delta"), (3L, "alpha epsilon"))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val qc = graft.pipeline.Sketch.countMinSketchStream(docs)
      .writeStream.format("memory").queryName("cms_s").outputMode("complete").start()
    val qh = graft.pipeline.Sketch.hllSketchStream(docs)
      .writeStream.format("memory").queryName("hll_s").outputMode("complete").start()
    try {
      mem.addData(rows.take(1)); qc.processAllAvailable(); qh.processAllAvailable()
      mem.addData(rows.drop(1)); qc.processAllAvailable(); qh.processAllAvailable()
      val bdf = rows.toDF("doc_id", "text")
      val cmsBatch = graft.pipeline.Sketch.countMinSketch(bdf)
        .as[(Long, Long, Long)].collect().toSet
      val cmsStream = spark.table("cms_s").as[(Long, Long, Long)].collect().toSet
      assert(cmsStream == cmsBatch)
      // HLL: stream omits never-seen buckets (register 0 in batch)
      val hllBatch = graft.pipeline.Sketch.hllSketch(bdf)
        .as[(Long, Long)].collect().filter(_._2 > 0).toSet
      val hllStream = spark.table("hll_s").as[(Long, Long)].collect().toSet
      assert(hllStream == hllBatch)
    } finally { qc.stop(); qh.stop() }
  }

  test("streaming perplexity-bucket sketch converges to the batch degrade path (r19)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.TextAnalysis
    val rows = Seq(
      (1L, "alpha alpha beta words here", "en", "s1", 27L),
      (2L, "beta gamma delta", "en", "s1", 16L),
      (3L, "alpha epsilon zeta eta common", "en", "s1", 29L),
      (4L, "qq rr ss tt unusual gibberish", "en", "s2", 29L),
      (5L, "alpha beta beta beta common", "en", "s2", 27L),
      (6L, "delta words common alpha", "en", "s2", 24L))
    val bdf = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    // the static reference LM (trained once, shipped to the stream —
    // the stored-IVF ingest-gate precedent)
    val (lm, oov) = TextAnalysis.unigramLm(bdf)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = TextAnalysis.perplexityBucketSketchStream(docs, lm, oov)
      .writeStream.format("memory").queryName("ppl_s").outputMode("complete").start()
    try {
      mem.addData(rows.take(2)); q.processAllAvailable()
      mem.addData(rows.drop(2)); q.processAllAvailable()
      // finishing the streamed milli-nat histogram == the batch
      // THRESHOLD-SKETCH path forced on (maxExactPerSource = 0)
      val fromStream = TextAnalysis.perplexityBucketsFromSketch(spark.table("ppl_s"))
        .as[(String, Long, Long, Long)].collect().toSet
      val batch = TextAnalysis.perplexityBuckets(bdf, maxExactPerSource = 0)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(fromStream == batch && batch.nonEmpty)
      // and the streamed state itself is the batch state: bounded bins
      val state = spark.table("ppl_s").as[(String, Long, Long, Long)].collect()
      assert(state.map(_._3).sum == rows.length) // every doc in exactly one bin
    } finally q.stop()
  }

  test("streaming decontamination flags probe quotes as documents arrive") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    val probeDocs = Seq((100L, "alpha beta gamma delta epsilon", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val probes = Dedup.shingleSets(probeDocs, k = 3)
    assert(probes(100L).size == 3)
    val mem = MemoryStream[(Long, String)]
    val out = Dedup.containmentAgainst(
      mem.toDF().toDF("doc_id", "text"), probes, k = 3, threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("decontam")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, "intro alpha beta gamma delta epsilon outro and more words")))
      q.processAllAvailable()
      mem.addData(Seq((2L, "entirely unrelated content about other things")))
      q.processAllAvailable()
      val hits = spark.table("decontam").as[(Long, Long, Double)].collect().toSet
      assert(hits == Set((1L, 100L, 1.0)))
      // streaming result equals the batch run of the same operator
      val batch = Dedup.containmentAgainst(
        Seq((1L, "intro alpha beta gamma delta epsilon outro and more words"),
            (2L, "entirely unrelated content about other things")).toDF("doc_id", "text"),
        probes, k = 3, threshold = 0.5).as[(Long, Long, Double)].collect().toSet
      assert(batch == hits)
    } finally q.stop()
  }

  test("asofJoin attaches the latest right event at or before each left event") {
    val ev = Seq(
      (1L, ns(5), 10L, "click", 1.0, "{}"),      // before any purchase -> miss
      (2L, ns(10), 10L, "purchase", 50.0, "{}"),
      (3L, ns(20), 10L, "click", 2.0, "{}"),     // -> purchase 2
      (4L, ns(50), 10L, "purchase", 60.0, "{}"),
      (5L, ns(60), 10L, "click", 3.0, "{}"),     // -> purchase 4 (latest wins)
      (6L, ns(7), 20L, "click", 4.0, "{}"),      // user 20 never purchases
      (7L, ns(10), 30L, "purchase", 70.0, "{}"),
      (8L, ns(10), 30L, "click", 5.0, "{}"),     // equal ts: AT-or-before includes it
      (9L, ns(10), 40L, "purchase", 80.0, "{}"), // right-side ts tie:
      (10L, ns(10), 40L, "purchase", 90.0, "{}"), //   max event_id wins
      (11L, ns(20), 40L, "click", 6.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.asofJoin(
        ev.where($"event_type" === "click"), ev.where($"event_type" === "purchase"))
      .select("user_id", "event_id", "us", "value", "r_event_id", "r_value")
      .as[(Long, Long, Long, Double, Long, Double)].collect().toSet
    def u(sec: Long) = (base + sec) * 1000000L
    assert(out == Set(
      (10L, 1L, u(5), 1.0, -1L, -1.0),
      (10L, 3L, u(20), 2.0, 2L, 50.0),
      (10L, 5L, u(60), 3.0, 4L, 60.0),
      (20L, 6L, u(7), 4.0, -1L, -1.0),
      (30L, 8L, u(10), 5.0, 7L, 70.0),
      (40L, 11L, u(20), 6.0, 10L, 90.0)))
  }

  test("intervalJoin pairs events inside the window and matches a brute range join") {
    // window = 600s: events at +0(anchor), +1, +600 (inclusive edge),
    // +601 (out); a bucket-boundary anchor catches an event in the
    // NEXT bucket; other users never match
    val ev = Seq(
      (1L, ns(1000), 10L, "error", 0.0, "{}"),
      (2L, ns(1001), 10L, "click", 1.0, "{}"),
      (3L, ns(1600), 10L, "view", 1.0, "{}"),
      (4L, ns(1601), 10L, "view", 1.0, "{}"),
      (5L, ns(1001), 20L, "click", 1.0, "{}"),
      (6L, ns(1199), 30L, "error", 0.0, "{}"),  // bucket 1; +401s is bucket 2
      (7L, ns(1600), 30L, "click", 1.0, "{}"),
      (8L, ns(900), 10L, "view", 1.0, "{}")     // before the anchor
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.intervalJoin(ev)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1000000L), (1L, 3L, 600000000L),
      (6L, 7L, 401000000L)))
    // brute-force range join over the same rows agrees pair-for-pair
    val us = ev.select($"event_id", $"user_id", $"event_type", expr("ts div 1000").as("us"))
    val brute = us.where($"event_type" === "error").as("a")
      .join(us.as("e"), expr("e.user_id = a.user_id AND e.us >= a.us AND " +
        "e.us <= a.us + 600000000 AND e.event_id <> a.event_id"))
      .select($"a.event_id", $"e.event_id", expr("e.us - a.us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("streaming interval join (native stream-stream range join) matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ns(1000), 10L, "error", 0.0, "{}"),
      (2L, ns(1001), 10L, "click", 1.0, "{}"),
      (3L, ns(1600), 10L, "view", 1.0, "{}"),
      (4L, ns(1601), 10L, "view", 1.0, "{}"),
      (5L, ns(1001), 20L, "click", 1.0, "{}"),
      (6L, ns(1199), 30L, "error", 0.0, "{}"),
      (7L, ns(1600), 30L, "click", 1.0, "{}"))
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val q = Events.intervalJoinStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      mem.addData(rows.take(4))
      q.processAllAvailable()
      mem.addData(rows.drop(4))
      q.processAllAvailable()
      val got = spark.table("ivj").as[(Long, Long, Long)].collect().toSet
      val batch = Events.intervalJoin(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch && got.size == 3)
    } finally q.stop()
  }

  test("streaming as-of join matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ns(5), 10L, "click", 1.0, "{}"),
      (2L, ns(10), 10L, "purchase", 50.0, "{}"),
      (3L, ns(20), 10L, "click", 2.0, "{}"),
      (4L, ns(50), 10L, "purchase", 60.0, "{}"),
      (5L, ns(60), 10L, "click", 3.0, "{}"),
      (6L, ns(7), 20L, "click", 4.0, "{}"))
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = Events.asofJoinStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = stream.writeStream.format("memory").queryName("asof")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("asof").as[Events.AsofOut].collect().toSet
      val batch = Events.asofJoin(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .where($"event_type" === "click"),
          rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .where($"event_type" === "purchase"))
        .as[Events.AsofOut].collect().toSet
      assert(got == batch)
      assert(batch.exists(o => o.event_id == 5L && o.r_event_id == 4L))
    } finally q.stop()
  }

  test("lateness audit: out-of-order arrivals bucket by minutes behind the hwm") {
    // arrival order = event_id; user 1: t=100s, t=40s (1 min late),
    // t=160s (on time), t=159s (0 min late -> bucket 0)
    val evs = Seq(
      (1L, ns(100), 1L, "view", 0.0, "{}"),
      (2L, ns(40), 1L, "view", 0.0, "{}"),   // 60s behind -> bucket 1
      (3L, ns(160), 1L, "view", 0.0, "{}"),  // ahead -> bucket 0
      (4L, ns(159), 1L, "view", 0.0, "{}"),  // 1s behind -> bucket 0
      (5L, ns(0), 2L, "view", 0.0, "{}")     // first event: no hwm, excluded
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.latenessAudit(evs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 2L, 1L -> 1L))
  }

  test("cusum drift: prefix-min identity by hand, streaming twin agrees") {
    // user 1 values (cents): 800, 800, 100, 900 -> d = 200, 200, -500, 300
    // pre: 200, 400, -100, 200; min-pre: 200, 200, -100, -100
    // S:   200, 400, 0, 300  (threshold 250 -> alarms at rows 2 and 4)
    def ev(id: Long, sec: Long, cents: Long) =
      (id, ns(sec), 1L, "view", cents / 100.0, "{}")
    val evs = Seq(ev(1, 0, 800), ev(2, 10, 800), ev(3, 20, 100), ev(4, 30, 900))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.cusumDrift(evs, targetCents = 500, slackCents = 100,
        threshCents = 250)
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(out.toSeq == Seq((1L, 400L, 2L, Some((base + 10) * 1000000L))))

    // streaming twin: alarm rows fire on the same crossings
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = Events.cusumStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      targetCents = 500, slackCents = 100, threshCents = 250)
    val q = stream.writeStream.format("memory").queryName("cusum_alarms")
      .outputMode("append").start()
    try {
      mem.addData(Seq(ev(1, 0, 800), ev(2, 10, 800)))
      q.processAllAvailable()
      mem.addData(Seq(ev(3, 20, 100), ev(4, 30, 900)))
      q.processAllAvailable()
      val alarms = spark.table("cusum_alarms").as[Events.CusumAlarm].collect()
        .sortBy(_.alarm_us)
      // crossing 1: S=400 at t=10 (S stayed >250 from the first batch's
      // row 2); crossing 2: S=300 at t=30 after the dip reset
      assert(alarms.map(a => (a.user_id, a.alarm_us - base * 1000000L, a.s)).toSeq ==
        Seq((1L, 10000000L, 400L), (1L, 30000000L, 300L)))
    } finally q.stop()
  }

  test("streaming sessionization emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = Events.sessionizeStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = stream.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, ns(0), 10L, "click", 1.5, "{}"),
        (2L, ns(60), 10L, "click", 2.5, "{}"),
        (3L, ns(60 * 100), 10L, "view", 1.0, "{}"))) // closes session 1
      q.processAllAvailable()
      val out = spark.table("sessions").as[Events.SessionOut].collect()
      assert(out.exists(s => s.user_id == 10L && s.cnt == 2L))
    } finally q.stop()
  }
}
