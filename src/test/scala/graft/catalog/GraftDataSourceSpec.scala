package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.raster.RasterLayer

/** The "graft" DataSource V2: schema, roundtrip, filter pushdown +
  * file pruning, column pruning, packed cell types, temporal stores. */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))

  def layer(cells: (Long, Long, Double)*): RasterLayer =
    RasterLayer.fromCells(cells.toSeq.toDF("x", "y", "v"), layout)

  def readGraft(dir: String, name: String, zoom: Int = 0) =
    spark.read.format("graft")
      .option("path", dir).option("layer", name).option("zoom", zoom.toString)
      .load()

  test("roundtrip: schema and tiles match Catalog.read") {
    val dir = tempDir("graft_dsv2").toString
    val l = layer((0, 0, 1.0), (3, 3, 2.0), (5, 6, 4.0))
    Catalog.write(dir, "t", l, zoom = 2)
    val df = readGraft(dir, "t", zoom = 2)
    assert(df.columns.toSeq == Seq("col", "row", "tile"))
    val viaDsv2 = RasterLayer.tilesToCells(df, 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaDsv2 == Set((0L, 0L, 1.0), (3L, 3L, 2.0), (5L, 6L, 4.0)))
  }

  test("filter pushdown prunes files before tasks launch") {
    val dir = tempDir("graft_dsv2").toString
    // force multiple output files: one tile per shuffle partition
    val cells = for (t <- 0 until 4) yield ((t % 2) * 4L, (t / 2) * 4L, (t + 1).toDouble)
    Catalog.write(dir, "t", layer(cells: _*), zoom = 0)
    val all = readGraft(dir, "t")
    val narrowed = all.where(col("col") === 0 && col("row") === 0)
    // physical scan carries the pushed filters
    val plan = narrowed.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), plan)
    def partitions(df: org.apache.spark.sql.DataFrame): Int = {
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      scan.inputPartitions.size
    }
    val (pAll, pNarrow) = (partitions(all), partitions(narrowed))
    assert(pNarrow < pAll || pAll == 1, s"no pruning: $pNarrow vs $pAll")
    assert(narrowed.count() == 1)
    // results still correct after pruning
    assert(RasterLayer.tilesToCells(narrowed, 4, 4)
      .as[(Long, Long, Double)].collect().toSet == Set((0L, 0L, 1.0)))
  }

  test("column pruning: selecting keys skips tile decode") {
    val dir = tempDir("graft_dsv2").toString
    Catalog.write(dir, "t", layer((0, 0, 1.0), (5, 5, 2.0)))
    val keys = readGraft(dir, "t").select("col", "row")
      .as[(Int, Int)].collect().toSet
    assert(keys == Set((0, 0), (1, 1)))
    // count(*) prunes everything and still counts records
    assert(readGraft(dir, "t").count() == 2)
  }

  test("packed cell types decode through the reader") {
    val dir = tempDir("graft_dsv2").toString
    val l = layer((1, 1, 3.0), (6, 2, 250.0)).convertCellType("uint8")
    Catalog.write(dir, "t8", l)
    val back = RasterLayer.tilesToCells(readGraft(dir, "t8"), 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(back == Set((1L, 1L, 3.0), (6L, 2L, 250.0)))
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered footer-only, filters opt out") {
    val dir = tempDir("graft_dsv2").toString
    Catalog.write(dir, "t", layer((0, 0, 1.0), (3, 3, 2.0), (5, 6, 4.0)))
    val df = readGraft(dir, "t")
    val agg = df.agg(expr("count(*)").as("n"),
      min("col").as("mnc"), max("col").as("mxc"), max("row").as("mxr"))
    // plan uses the footer-only scan
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.as[(Long, Int, Int, Int)].head() == ((2L, 0, 1, 1))) // 2 tiles
    // a key filter blocks the pushdown (row-level work needed) and
    // the ordinary scan still answers correctly
    val filtered = df.where(col("col") === 0)
      .agg(expr("count(*)").as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(filtered.as[Long].head() == 1L)
    // group-by never pushes
    val grouped = df.groupBy("col").agg(expr("count(*)"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(grouped.count() == 2)
  }

  test("aggregate pushdown: temporal store answers min/max(instant) footer-only") {
    val dir = tempDir("graft_dsv2").toString
    val cells = Seq((0L, 0L, 10L, 1.0), (0L, 0L, 20L, 2.0), (5L, 5L, 20L, 3.0))
      .toDF("x", "y", "instant", "v")
    Catalog.write(dir, "tt", RasterLayer.fromCellsTemporal(cells, layout))
    val agg = readGraft(dir, "tt")
      .agg(min("instant").as("mn"), max("instant").as("mx"), expr("count(*)").as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg.as[(Long, Long, Long)].head() == ((10L, 20L, 3L)))
  }

  test("V2 write: fresh store via format(graft), read back both ways") {
    val dir = tempDir("graft_dsv2").toString
    val l = layer((0, 0, 1.0), (3, 3, 2.0), (5, 6, 4.0))
    l.df.write.format("graft")
      .option("path", dir).option("layer", "w").option("zoom", "1")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .mode("append").save()
    // V2 reader sees the files the V2 writer produced
    val viaDsv2 = RasterLayer.tilesToCells(readGraft(dir, "w", zoom = 1), 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaDsv2 == Set((0L, 0L, 1.0), (3L, 3L, 2.0), (5L, 6L, 4.0)))
    // and so does the driver-helper read path (sidecar committed)
    val viaCatalog = Catalog.read(spark, dir, "w", zoom = 1).toCells
      .as[(Long, Long, Double)].collect().toSet
    assert(viaCatalog == viaDsv2)
  }

  test("V2 write: overwrite truncates the zoom, append adds tiles") {
    val dir = tempDir("graft_dsv2").toString
    def save(l: RasterLayer, mode: String): Unit =
      l.df.write.format("graft")
        .option("path", dir).option("layer", "w").option("zoom", "0")
        .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
        .mode(mode).save()
    save(layer((0, 0, 1.0)), "append")
    save(layer((5, 5, 9.0)), "append")
    assert(readGraft(dir, "w").count() == 2) // two tiles now
    save(layer((1, 1, 7.0)), "overwrite")
    val after = RasterLayer.tilesToCells(readGraft(dir, "w"), 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(after == Set((1L, 1L, 7.0)))
  }

  test("V2 write: packed cell type rides the sidecar on append") {
    val dir = tempDir("graft_dsv2").toString
    // seed the store (and its uint8 sidecar) through Catalog.write
    Catalog.write(dir, "t8", layer((1, 1, 3.0)).convertCellType("uint8"))
    // append a tile through the V2 writer: packs to uint8 in-writer
    layer((6, 2, 250.0)).convertCellType("uint8").df.write.format("graft")
      .option("path", dir).option("layer", "t8").option("zoom", "0")
      .mode("append").save()
    val back = RasterLayer.tilesToCells(readGraft(dir, "t8"), 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(back == Set((1L, 1L, 3.0), (6L, 2L, 250.0)))
  }

  test("V2 write: fresh TEMPORAL store declares instant via option") {
    val dir = tempDir("graft_dsv2").toString
    val cells = Seq((0L, 0L, 10L, 1.0), (0L, 0L, 20L, 2.0), (5L, 5L, 20L, 3.0))
      .toDF("x", "y", "instant", "v")
    RasterLayer.fromCellsTemporal(cells, layout).df.write.format("graft")
      .option("path", dir).option("layer", "wt").option("zoom", "0")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .option("temporal", "true")
      .mode("append").save()
    val back = readGraft(dir, "wt")
    assert(back.columns.toSeq == Seq("col", "row", "instant", "tile"))
    assert(back.select("col", "row", "instant").as[(Int, Int, Long)].collect().toSet ==
      Set((0, 0, 10L), (0, 0, 20L), (1, 1, 20L)))
    // and the driver read path agrees (sidecar marked temporal)
    val cellsBack = Catalog.read(spark, dir, "wt").toCells
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(cellsBack == Set((0L, 0L, 10L, 1.0), (0L, 0L, 20L, 2.0), (5L, 5L, 20L, 3.0)))
  }

  test("V2 write: plan carries the required (col, row) sort") {
    val dir = tempDir("graft_dsv2").toString
    val cells = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y, (x + y).toDouble)
    layer(cells: _*).df.write.format("graft")
      .option("path", dir).option("layer", "w").option("zoom", "0")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .mode("append").save()
    // per-file footer stats are tight enough to prune on col
    val all = readGraft(dir, "w")
    assert(all.count() == 4)
    assert(all.where(col("col") === 0 && col("row") === 0).count() == 1)
  }

  test("temporal store exposes instant and pushes its range") {
    val dir = tempDir("graft_dsv2").toString
    val cells = Seq((0L, 0L, 10L, 1.0), (0L, 0L, 20L, 2.0), (5L, 5L, 20L, 3.0))
      .toDF("x", "y", "instant", "v")
    Catalog.write(dir, "tt", RasterLayer.fromCellsTemporal(cells, layout))
    val df = readGraft(dir, "tt")
    assert(df.columns.toSeq == Seq("col", "row", "instant", "tile"))
    val at20 = df.where(col("instant") === 20L)
    assert(at20.select("col", "row", "instant").as[(Int, Int, Long)].collect().toSet ==
      Set((0, 0, 20L), (1, 1, 20L)))
  }

  test("streaming sink: MemoryStream -> writeStream -> batch read, exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_sink").toString
    val ck = tempDir("graft_sink_ck").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Int, Int, Seq[Double])]
    val q = mem.toDF().toDF("col", "row", "tile")
      .writeStream.format("graft")
      .option("path", dir).option("layer", "sunk").option("zoom", "0")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()
    try {
      def tile(seed: Double) = Seq.tabulate(16)(i => seed + i)
      mem.addData(Seq((0, 0, tile(100)), (1, 1, tile(200))))
      q.processAllAvailable()
      def stored() = Catalog.read(spark, dir, "sunk").df
        .select("col", "row").as[(Int, Int)].collect().toSeq.sorted
      assert(stored() == Seq((0, 0), (1, 1)))
      // an empty pass adds nothing (no phantom epochs)
      q.processAllAvailable()
      assert(stored() == Seq((0, 0), (1, 1)))
      // next micro-batch appends; earlier epochs untouched
      mem.addData(Seq((1, 0, tile(300))))
      q.processAllAvailable()
      assert(stored() == Seq((0, 0), (1, 0), (1, 1)))
      // values decode through the same reader as Catalog.write stores
      val v = Catalog.read(spark, dir, "sunk").toCells
        .as[(Long, Long, Double)].collect()
        .map { case (x, y, c) => (x, y) -> c }.toMap
      assert(v((0L, 0L)) == 100.0 && v((5L, 5L)) == 205.0 && v((4L, 1L)) == 304.0)
    } finally q.stop()
  }

  test("streaming sink epoch replay is idempotent (exactly-once file contract)") {
    // simulate the failure mode Structured Streaming must tolerate: an
    // epoch's tasks run TWICE (retry after success, before commit).
    // Epoch-deterministic names + OVERWRITE mode make the second
    // attempt rewrite the same file, so the store holds one copy.
    val dir = tempDir("graft_sink_replay").toString
    val meta = graft.raster.LayerMetadata(layout)
    Catalog.writeMetadata(dir, "rp", meta)
    val f = GraftStreamingWriterFactory(s"$dir/rp/tiles/zoom=0",
      org.apache.spark.sql.types.StructType.fromDDL(
        "col INT, row INT, tile ARRAY<DOUBLE>"),
      "float64", temporal = false, Catalog.confProps())
    val row = org.apache.spark.sql.catalyst.InternalRow(
      0, 0, org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.tabulate(16)(_.toDouble)))
    (1 to 2).foreach { _ =>
      val w = f.createWriter(partitionId = 0, taskId = 7L, epochId = 42L)
      w.write(row)
      w.commit()
    }
    val files = new java.io.File(s"$dir/rp/tiles/zoom=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, files.mkString(", "))
    assert(files.head.getName == "part-epoch42-0.parquet")
    assert(Catalog.read(spark, dir, "rp").df.count() == 1)
  }

  test("streaming sink: temp-then-rename + epoch-commit reconcile (r15)") {
    val dir = tempDir("graft_sink_rcn").toString
    val meta = graft.raster.LayerMetadata(layout)
    Catalog.writeMetadata(dir, "rc", meta)
    val zoomDir = s"$dir/rc/tiles/zoom=0"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "col INT, row INT, tile ARRAY<DOUBLE>")
    val f = GraftStreamingWriterFactory(zoomDir, schema,
      "float64", temporal = false, Catalog.confProps())
    def row(c: Int) = org.apache.spark.sql.catalyst.InternalRow(
      c, 0, org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.tabulate(16)(_.toDouble)))
    def names = new java.io.File(zoomDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // drop local-FS .crc sidecars

    // two ATTEMPTS of the same partition in flight: both write their
    // own temp; while uncommitted, no .parquet final exists at all
    val w1 = f.createWriter(partitionId = 0, taskId = 1L, epochId = 7L)
    val w2 = f.createWriter(partitionId = 0, taskId = 2L, epochId = 7L)
    w1.write(row(0)); w2.write(row(0))
    assert(!names.exists(_.endsWith(".parquet")), names)
    // the coordinator-picked attempt commits (rename); loser aborts
    val msg1 = w1.commit()
    w2.abort()
    assert(names == Set("part-epoch7-0.parquet"), names)

    // a second committed partition, plus planted leftovers of the
    // SAME epoch: a stale extra-partition final (an earlier attempt
    // planned more partitions) and an orphaned temp (task died
    // without abort)
    val w3 = f.createWriter(partitionId = 1, taskId = 3L, epochId = 7L)
    w3.write(row(1)); val msg3 = w3.commit()
    val stale = new java.io.File(zoomDir, "part-epoch7-9.parquet")
    java.nio.file.Files.copy(new java.io.File(zoomDir, "part-epoch7-0.parquet").toPath,
      stale.toPath)
    val orphan = new java.io.File(zoomDir, "part-epoch7-5.parquet.99.tmp")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // ...and one file of ANOTHER epoch that must survive the reconcile
    val w0 = f.createWriter(partitionId = 0, taskId = 4L, epochId = 6L)
    w0.write(row(2)); w0.commit()

    val sw = new GraftStreamingWrite(
      GraftTable.Opts(dir, "rc", 0), schema, meta)
    sw.commit(7L, Array(msg1, msg3))
    assert(names == Set("part-epoch7-0.parquet", "part-epoch7-1.parquet",
      "part-epoch6-0.parquet"), names)
    // the reconciled store reads clean: 3 tiles, no duplicates
    assert(Catalog.read(spark, dir, "rc").df.count() == 3)
  }

  test("streaming sink packs native-width cell types (uint8 epoch files)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_sink_u8").toString
    val ck = tempDir("graft_sink_u8_ck").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Int, Int, Seq[Double])]
    val q = mem.toDF().toDF("col", "row", "tile")
      .writeStream.format("graft")
      .option("path", dir).option("layer", "pk").option("zoom", "0")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .option("celltype", "uint8")
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()
    try {
      mem.addData(Seq((0, 0,
        Seq.tabulate(16)(i => if (i == 3) Double.NaN else i.toDouble))))
      q.processAllAvailable()
      assert(Catalog.readMetadata(dir, "pk", 0).cellType == "uint8")
      // values roundtrip through the 1-byte packing; the NaN cell
      // survives as the uint8 NoData sentinel and stays absent
      val cells = Catalog.read(spark, dir, "pk").toCells
        .as[(Long, Long, Double)].collect()
        .map { case (x, y, v) => (x, y) -> v }.toMap
      assert(cells.size == 15 && !cells.contains((3L, 0L)))
      assert(cells((0L, 0L)) == 0.0 && cells((2L, 3L)) == 14.0)
    } finally q.stop()
  }

  test("streaming sink rejects Complete output mode (truncate per epoch)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_sink_cm").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Int, Int, Seq[Double])]
    val e = intercept[Exception] {
      val q = mem.toDF().groupBy("_1", "_2").agg(collect_list("_3"))
        .toDF("col", "row", "tile")
        .writeStream.format("graft")
        .option("path", dir).option("layer", "cm").option("zoom", "0")
        .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
        .option("checkpointLocation",
          tempDir("graft_sink_cm_ck").toString)
        .outputMode("complete")
        .start()
      try { mem.addData(Seq((0, 0, Seq.fill(16)(1.0)))); q.processAllAvailable() }
      finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("append only")), e.toString)
  }

  test("streaming read: readStream emits each newly-landed tile file exactly once") {
    val dir = tempDir("graft_stream").toString
    Catalog.write(dir, "live", layer((0, 0, 1.0)))
    val q = spark.readStream.format("graft")
      .option("path", dir).option("layer", "live").option("zoom", "0")
      .load()
      .writeStream.format("memory").queryName("graft_live").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      def rows() = spark.table("graft_live")
        .select("col", "row").as[(Int, Int)].collect().toSeq
      assert(rows().sorted == Seq((0, 0)))
      // live append (the ingestScenes write path) -> next micro-batch
      Catalog.update(dir, "live", layer((5L, 5L, 9.0)))
      q.processAllAvailable()
      assert(rows().sorted == Seq((0, 0), (1, 1)))
      // no new files -> no duplicate emission
      q.processAllAvailable()
      assert(rows().size == 2)
      // tiles decode through the same reader as the batch scan
      Catalog.update(dir, "live", layer((2L, 1L, 7.0)))
      q.processAllAvailable()
      val cells = RasterLayer.tilesToCells(
        spark.table("graft_live").select("col", "row", "tile"), 4, 4)
        .as[(Long, Long, Double)].collect().toSet
      assert(cells == Set((0L, 0L, 1.0), (5L, 5L, 9.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("compaction guard: refused while a stream reader is attached, allowed after stop") {
    val dir = tempDir("graft_stream_lock").toString
    Catalog.write(dir, "guarded", layer((0, 0, 1.0)))
    assert(!Catalog.hasStreamReaders(dir, "guarded"))
    // compaction is fine with no reader
    Catalog.compact(spark, dir, "guarded")
    val q = spark.readStream.format("graft")
      .option("path", dir).option("layer", "guarded").option("zoom", "0")
      .load()
      .writeStream.format("memory").queryName("graft_guarded").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // the source holds a presence lock -> compact refuses LOUDLY
      assert(Catalog.hasStreamReaders(dir, "guarded"))
      val e = intercept[IllegalArgumentException](
        Catalog.compact(spark, dir, "guarded"))
      assert(e.getMessage.contains("stream reader"))
      // force overrides (the stale-lock escape hatch)
      Catalog.compact(spark, dir, "guarded", force = true)
    } finally q.stop()
    // stop() released the lock; compaction proceeds again
    assert(!Catalog.hasStreamReaders(dir, "guarded"))
    Catalog.compact(spark, dir, "guarded")
    // data still intact after both compactions
    assert(Catalog.read(spark, dir, "guarded").toCells
      .as[(Long, Long, Double)].collect().toSet == Set((0L, 0L, 1.0)))
  }

  test("streaming read of a live ingestScenes store (ingest -> read loop)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_loop").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Double, Double, Double, Double, Int, Int, Seq[Double])]
    val ingest = graft.streaming.Events.ingestScenes(
      mem.toDF().toDF("scene_id", "xmin", "ymin", "xmax", "ymax", "cols", "rows", "cells"),
      dir, "loop", layout)
    try {
      mem.addData(Seq((1L, 0.0, 6.0, 2.0, 8.0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0))))
      ingest.processAllAvailable()
      val read = spark.readStream.format("graft")
        .option("path", dir).option("layer", "loop").option("zoom", "0")
        .load()
        .writeStream.format("memory").queryName("graft_loop").outputMode("append")
        .start()
      try {
        read.processAllAvailable()
        assert(spark.table("graft_loop").count() == 1)
        mem.addData(Seq((2L, 4.0, 2.0, 6.0, 4.0, 2, 2, Seq(5.0, 6.0, 7.0, 8.0))))
        ingest.processAllAvailable()
        read.processAllAvailable()
        assert(spark.table("graft_loop").count() == 2)
      } finally read.stop()
    } finally ingest.stop()
  }

  test("read of a nonexistent store / typoed layer fails loudly") {
    val dir = tempDir("graft_dsv2").toString
    Catalog.write(dir, "real", layer((0, 0, 1.0)))
    val e = intercept[Exception](readGraft(dir, "typo").count())
    assert(e.getMessage.contains("typo"), s"got: ${e.getMessage}")
    val e2 = intercept[Exception](
      readGraft("/tmp/definitely/not/a/graft/store", "x").count())
    assert(e2.getMessage.contains("no layer"), s"got: ${e2.getMessage}")
  }

  test("pushed COUNT(*) on a sidecar-only (zero-file) store returns 0, not NULL") {
    val dir = tempDir("graft_dsv2").toString
    // sidecar without tiles: the shape after a truncating write of an
    // empty frame, or a store mid-ingest
    Catalog.writeMetadata(dir, "empty", graft.raster.LayerMetadata(layout))
    val n = readGraft(dir, "empty").agg(count(lit(1))).as[Long].head()
    assert(n == 0L)
    // and min/max over zero rows merge to SQL NULL, not an error
    val r = readGraft(dir, "empty").agg(min("col"), max("row")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("overwrite honors explicit celltype+grid options; partial override fails") {
    val dir = tempDir("graft_dsv2").toString
    Catalog.write(dir, "ow", layer((0, 0, 1.0))) // float64 sidecar
    assert(Catalog.readMetadata(dir, "ow").cellType == "float64")
    // full grid + celltype on overwrite: new sidecar wins
    layer((1, 1, 3.0)).convertCellType("uint8").df.write.format("graft")
      .option("path", dir).option("layer", "ow").option("zoom", "0")
      .option("extent", "0,0,8,8").option("layout", "2,2,4,4")
      .option("celltype", "uint8")
      .mode("overwrite").save()
    assert(Catalog.readMetadata(dir, "ow").cellType == "uint8")
    val back = RasterLayer.tilesToCells(readGraft(dir, "ow"), 4, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(back == Set((1L, 1L, 3.0)))
    // celltype WITHOUT extent/layout on overwrite: ambiguous -> loud
    val e = intercept[Exception](
      layer((2, 2, 4.0)).df.write.format("graft")
        .option("path", dir).option("layer", "ow").option("zoom", "0")
        .option("celltype", "int32")
        .mode("overwrite").save())
    assert(e.getMessage.contains("extent"), s"got: ${e.getMessage}")
  }
}
