package graft.render

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.raster.RasterLayer

class RenderSpec extends SparkSpec {
  import spark.implicits._

  test("renderPng encodes classified tiles with transparent NoData") {
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val layer = RasterLayer.fromCells(
      Seq((0L, 0L, 50.0), (1L, 0L, 250.0)).toDF("x", "y", "v"), layout)
    val tiles = Render.renderPng(layer, breaks = Seq(100.0, 300.0), ramp = "BlueToRed")
      .collect()
    assert(tiles.length == 1) // only tile (0,0) has data
    val img = ImageIO.read(new ByteArrayInputStream(tiles.head.png))
    assert(img.getWidth == 4 && img.getHeight == 4)
    // the palette is the ramp INTERPOLATED to the break count — the
    // same colors colorize() gives for these args (2 classes = the
    // ramp's endpoints)
    assert(img.getRGB(0, 0) == ColorMap.rampColors("BlueToRed", 2)(0)) // 50 <= 100
    assert(img.getRGB(1, 0) == ColorMap.rampColors("BlueToRed", 2)(1)) // 250 <= 300
    assert((img.getRGB(2, 0) >>> 24) == 0)                             // NoData transparent
  }

  test("rampColors interpolates stops linearly and keeps endpoints") {
    val g = ColorMap.rampColors("Grayscale", 5)
    assert(g.head == 0xFF000000 && g.last == 0xFFFFFFFF)
    assert(g(2) == 0xFF808080) // midpoint: channel 0x80 = round(255/2)
    // n == stop count returns the stops verbatim
    assert(ColorMap.rampColors("Viridis", 5) == ColorMap.Ramps("Viridis"))
    // monotone alpha stays opaque throughout
    assert(g.forall(c => (c >>> 24) == 0xFF))
    intercept[IllegalArgumentException](ColorMap.rampColors("nope", 3))
  }

  test("colorize maps values through interpolated ramp with transparent fallback") {
    val cs = ColorMap.rampColors("Hot", 2)
    val out = Seq(50.0, 150.0, 999.0).toDF("v")
      .select(ColorMap.colorize(col("v"), Seq(100.0, 200.0), "Hot").as("argb"))
      .as[Int].collect()
    assert(out(0) == cs(0) && out(1) == cs(1) && out(2) == 0)
  }

  test("tms server serves catalog tiles as PNG over HTTP") {
    val dir = tempDir("graft_tms").toString
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val layer = RasterLayer.fromCells(
      Seq((0L, 0L, 50.0), (5L, 5L, 250.0)).toDF("x", "y", "v"), layout)
    graft.catalog.Catalog.write(dir, "demo", layer, zoom = 0)
    val srv = new TmsServer(spark, dir, Seq(100.0, 300.0), "BlueToRed")
    try {
      def get(path: String): (Int, Array[Byte]) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        (code, is.readAllBytes())
      }
      val (code, body) = get("/tiles/demo/0/0/0.png")
      assert(code == 200)
      assert(body.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      assert(get("/tiles/demo/0/3/3.png")._1 == 404) // outside layout
      // multi-zoom: a Pyramid.write store serves every level through
      // the same endpoint — the zoom path segment picks the overview
      val levels = graft.raster.Pyramid.build(layer, "Average")
      graft.raster.Pyramid.write(dir, "pyr", levels)
      levels.foreach { case (z, _) =>
        val (c, b) = get(s"/tiles/pyr/$z/0/0.png")
        assert(c == 200, s"zoom $z")
        assert(b.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      }
    } finally srv.stop()
  }

  test("tms /tiles serves JOB-FREE (listener-verified) and hooks declare their content type") {
    val dir = tempDir("graft_tms_nojob").toString
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val layer = RasterLayer.fromCells(
      Seq((0L, 0L, 50.0), (1L, 0L, 250.0)).toDF("x", "y", "v"), layout)
    graft.catalog.Catalog.write(dir, "demo", layer, zoom = 0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // a hook that returns JPEG bytes, declared via renderContentType
    val hook = (cells: IndexedSeq[Double], w: Int, h: Int) => {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val srv = new TmsServer(spark, dir, Seq(100.0, 300.0), "BlueToRed",
      renderFn = Some(hook), renderContentType = "image/jpeg")
    spark.sparkContext.addSparkListener(listener)
    try {
      // listener sanity probe (events are async)
      spark.range(2).count()
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(jobs.get() >= 1, "listener sanity probe never fired")
      val before = jobs.get()
      val conn = new java.net.URL(
        s"http://127.0.0.1:${srv.boundPort}/tiles/demo/0/0/0.png")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Type") == "image/jpeg")
      val body = conn.getInputStream.readAllBytes()
      assert(body.length >= 3 && (body(0) & 0xFF) == 0xFF && (body(1) & 0xFF) == 0xD8) // JPEG SOI
      Thread.sleep(1000) // let any stray async job event land
      assert(jobs.get() == before, "TMS tile GET submitted a Spark job")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.stop()
    }
  }

  test("tms custom render hook replaces the breaks/ramp path per tile") {
    val dir = tempDir("graft_tms_hook").toString
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    val layer = RasterLayer.fromCells(
      Seq((0L, 0L, 50.0), (1L, 0L, 250.0)).toDF("x", "y", "v"), layout)
    graft.catalog.Catalog.write(dir, "demo", layer, zoom = 0)
    // user hook (reference tms.py:14 TileRender): grayscale the cells
    // into a REAL PNG and prepend nothing — the response must be the
    // hook's bytes, so we also check the decoded pixel the default
    // ramp path could never produce
    val hook = (cells: IndexedSeq[Double], w: Int, h: Int) => {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      var i = 0
      while (i < cells.length) {
        val g = if (cells(i).isNaN) 0 else math.min(255, cells(i).toInt)
        img.setRGB(i % w, i / w, 0xFF000000 | (g << 16) | (g << 8) | g)
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val srv = new TmsServer(spark, dir, Seq(100.0, 300.0), "BlueToRed",
      renderFn = Some(hook))
    try {
      val conn = new java.net.URL(
        s"http://127.0.0.1:${srv.boundPort}/tiles/demo/0/0/0.png")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = conn.getInputStream.readAllBytes()
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
      assert(img.getWidth == 4 && img.getHeight == 4)
      assert((img.getRGB(0, 0) & 0xFF) == 50)   // cell (0,0) grayscale 50
      assert((img.getRGB(1, 0) & 0xFF) == 250)  // cell (1,0) grayscale 250
      assert((img.getRGB(3, 3) & 0xFF) == 0)    // NoData -> black
    } finally srv.stop()
  }

  test("tms composite endpoint blends N catalog layers pixel-exactly") {
    // reference tms.py TileCompositer / TMS.build(list-of-sources):
    // two layers, compositing fn = per-pixel SUM (NaN = 0 contribution)
    // grayscaled — every served pixel re-derived here from the cells
    val dir = tempDir("graft_tms_comp").toString
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    graft.catalog.Catalog.write(dir, "a", RasterLayer.fromCells(
      Seq((0L, 0L, 10.0), (1L, 0L, 20.0), (5L, 5L, 7.0)).toDF("x", "y", "v"), layout))
    graft.catalog.Catalog.write(dir, "b", RasterLayer.fromCells(
      Seq((0L, 0L, 5.0), (2L, 0L, 40.0)).toDF("x", "y", "v"), layout))
    val comp = (tiles: Seq[IndexedSeq[Double]], w: Int, h: Int) => {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (i <- 0 until w * h) {
        val s = tiles.map(t => if (t(i).isNaN) 0.0 else t(i)).sum
        val g = math.min(255, s.toInt)
        img.setRGB(i % w, i / w, 0xFF000000 | (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val srv = new TmsServer(spark, dir, Seq(100.0), "BlueToRed",
      compositeLayers = Seq("a", "b"), compositeFn = Some(comp))
    try {
      def get(path: String): (Int, Array[Byte]) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        (code, is.readAllBytes())
      }
      // tile (0,0): both layers present -> summed pixels
      val (c0, b0) = get("/tile/0/0/0.png")
      assert(c0 == 200)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b0))
      assert(img.getWidth == 4 && img.getHeight == 4)
      assert((img.getRGB(0, 0) & 0xFF) == 15) // 10 + 5
      assert((img.getRGB(1, 0) & 0xFF) == 20) // a only
      assert((img.getRGB(2, 0) & 0xFF) == 40) // b only
      assert((img.getRGB(3, 3) & 0xFF) == 0)  // NoData in both
      // tile (1,1): only layer a has it -> b contributes all-NaN
      val (c1, b1) = get("/tile/0/1/1.png")
      assert(c1 == 200)
      val img1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b1))
      assert((img1.getRGB(1, 1) & 0xFF) == 7) // cell (5,5) local (1,1)
      // key in NO layer -> 404; single-source /tiles path still works
      assert(get("/tile/0/7/7.png")._1 == 404)
      assert(get("/tiles/a/0/0/0.png")._1 == 200)
      // compositeLayers without a fn is a loud construction error
      intercept[IllegalArgumentException](new TmsServer(spark, dir,
        Seq(100.0), "BlueToRed", compositeLayers = Seq("a", "b")))
    } finally srv.stop()
  }

  test("tms /cog endpoint serves every overview level from one COG file") {
    val dir = tempDir("graft_tms_cog").toString
    val layout = LayoutDefinition(Extent(0, 0, 64, 64), TileLayout(4, 4, 16, 16))
    val cells = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, (x + y).toDouble)
    val base = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    // base + two overviews (32x32, 16x16) in one file
    val levels = Seq(base,
      graft.raster.Pyramid.levelUp(base, "Average"),
      graft.raster.Pyramid.levelUp(graft.raster.Pyramid.levelUp(base, "Average"), "Average"))
    val cogPath = s"$dir/pyr.tif"
    graft.raster.GeoTiff.saveCogPyramid(levels, cogPath)
    val srv = new TmsServer(spark, dir, Seq(40.0, 200.0), "Viridis",
      cogs = Map("pyr" -> (cogPath, 2))) // baseZoom 2 -> overviews at 1, 0
    try {
      def get(path: String): (Int, Array[Byte]) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        (code, is.readAllBytes())
      }
      // zoom 2 = base IFD, zooms 1/0 = overview IFDs — all PNG
      Seq(2, 1, 0).foreach { z =>
        val (c, b) = get(s"/cog/pyr/$z/0/0.png")
        assert(c == 200, s"zoom $z")
        assert(b.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte), s"zoom $z")
      }
      // distinct levels render distinct imagery (coarser level averages)
      assert(!java.util.Arrays.equals(get("/cog/pyr/2/0/0.png")._2, get("/cog/pyr/0/0/0.png")._2))
      assert(get("/cog/pyr/3/0/0.png")._1 == 404) // past the base zoom
      assert(get("/cog/pyr/0/9/0.png")._1 == 404) // outside the image
      assert(get("/cog/other/0/0/0.png")._1 == 404) // unregistered name
    } finally srv.stop()
  }

  test("every reference ColorRamp name resolves and interpolates") {
    // the full constants.py:233 enum surface + Grayscale
    val names = Seq("Hot", "CoolWarm", "Magma", "Inferno", "Plasma", "Viridis",
      "BlueToOrange", "LightYellowToOrange", "BlueToRed", "GreenToRedOrange",
      "LightToDarkSunset", "LightToDarkGreen", "HeatmapYellowToRed",
      "HeatmapBlueToYellowToRedSpectrum", "HeatmapDarkRedToYellowWhite",
      "HeatmapLightPurpleToDarkPurpleToWhite", "ClassificationBoldLandUse",
      "ClassificationMutedTerrain", "Grayscale")
    names.foreach { n =>
      val cs = ColorMap.rampColors(n, 7)
      assert(cs.length == 7, n)
      assert(cs.forall(c => (c >>> 24) == 0xFF), s"$n: opaque alpha")
      // endpoints are the ramp's own stops
      assert(cs.head == ColorMap.Ramps(n).head && cs.last == ColorMap.Ramps(n).last, n)
    }
    intercept[IllegalArgumentException](ColorMap.rampColors("NotARamp", 3))
  }

  test("break-map color map: exact values, fallback, NLCD palette") {
    val out = Seq(11.0, 42.0, 13.5).toDF("v")
      .select(ColorMap.nlcdColor(col("v")).as("argb"))
      .as[Int].collect().toSeq
    assert(out == Seq(0xFF526095, 0xFF2A6B3D, 0x00000000))
    val custom = Seq(1.0, 2.0).toDF("v")
      .select(ColorMap.fromBreakMap(col("v"), Map(1.0 -> 0xFF112233), fallback = 0xFF000000).as("c"))
      .as[Int].collect().toSeq
    assert(custom == Seq(0xFF112233, 0xFF000000))
  }

  test("classify column matches strategies") {
    val df = Seq(5.0, 15.0, 25.0).toDF("v")
    val idx = df.select(ColorMap.classify(org.apache.spark.sql.functions.col("v"),
      Seq(10.0, 20.0)).as("i")).as[Int].collect().toSeq
    assert(idx == Seq(0, 1, -1))
  }
}
