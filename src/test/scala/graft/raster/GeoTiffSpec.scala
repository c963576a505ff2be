package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}

class GeoTiffSpec extends SparkSpec {
  import spark.implicits._

  val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))

  test("DateTime tag 306 roundtrips: encode stamps, sceneInstant parses epoch seconds") {
    val cells = Array(1.0, 2.0, 3.0, 4.0)
    // 2001-02-03 04:05:06 UTC = 981173106 epoch seconds
    val stamped = GeoTiff.encodeTile(cells, 2, 2, 0, 2, 1, 1,
      dateTime = Some("2001:02:03 04:05:06"))
    assert(GeoTiff.sceneInstant(stamped) == Some(981173106L))
    // the stamped file still decodes identically (tag insertion kept
    // the IFD sorted and the strip offsets consistent)
    val (_, _, _, _, c, r, vs) = GeoTiff.decodeTile(stamped)
    assert(c == 2 && r == 2 && vs.toSeq == cells.toSeq)
    assert(GeoTiff.decodeScene(stamped)._7.head.toSeq == cells.toSeq)
    // no tag -> None; temporal ingest on tagless scenes fails loudly
    val plain = GeoTiff.encodeTile(cells, 2, 2, 0, 2, 1, 1)
    assert(GeoTiff.sceneInstant(plain).isEmpty)
    val e = intercept[org.apache.spark.SparkException](
      GeoTiff.fromGeoTiffTemporal(
        Seq((1L, plain)).toDF("scene_id", "tiff")).df.collect())
    assert(e.getMessage.contains("DateTime") || e.getCause != null)
    // custom format parses too (reference time_format option)
    val iso = GeoTiff.encodeTile(cells, 2, 2, 0, 2, 1, 1,
      dateTime = Some("2001-02-03T04:05:06"))
    assert(GeoTiff.sceneInstant(iso, "yyyy-MM-dd'T'HH:mm:ss") == Some(981173106L))
  }

  test("temporal scene ingest: two acquisitions tile into distinct instants") {
    val t1 = GeoTiff.encodeTile(Array(1.0, 2.0, 3.0, 4.0), 2, 2, 0, 8, 1, 1,
      dateTime = Some("2020:01:01 00:00:00"))
    val t2 = GeoTiff.encodeTile(Array(9.0, 8.0, 7.0, 6.0), 2, 2, 0, 8, 1, 1,
      dateTime = Some("2020:01:02 00:00:00"))
    val layer = GeoTiff.fromGeoTiffTemporal(
        Seq((1L, t1), (2L, t2)).toDF("scene_id", "tiff"))
      .tileToLayoutTemporal(layout)
    assert(layer.meta.temporal)
    val out = layer.toCells.as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val (i1, i2) = (1577836800L, 1577923200L)
    assert(out((0L, 0L, i1)) == 1.0 && out((1L, 1L, i1)) == 4.0)
    assert(out((0L, 0L, i2)) == 9.0 && out((1L, 1L, i2)) == 6.0)
    assert(out.size == 8) // same cells, two instants — nothing merged
  }

  test("encoded tiles parse as little-endian TIFF with the right shape and pixels") {
    val layer = RasterLayer.fromCells(
      Seq((0L, 0L, 1.5), (1L, 0L, 2.5), (3L, 3L, 9.0)).toDF("x", "y", "v"), layout)
    val tiles = GeoTiff.toGeoTiff(layer).collect()
    assert(tiles.length == 1)
    val b = ByteBuffer.wrap(tiles.head.tiff).order(ByteOrder.LITTLE_ENDIAN)
    assert(b.get() == 'I' && b.get() == 'I' && b.getShort() == 42)
    val ifd = b.getInt()
    b.position(ifd)
    val nTags = b.getShort()
    var width = -1; var height = -1; var stripOff = -1; var fmt = -1
    (0 until nTags).foreach { _ =>
      val id = b.getShort(); b.getShort(); b.getInt()
      val v = b.getInt()
      id match {
        case 256 => width = v
        case 257 => height = v
        case 273 => stripOff = v
        case 339 => fmt = v
        case _ =>
      }
    }
    assert(width == 4 && height == 4 && fmt == 3)
    // pixel (0,0) = 1.5, (1,0) = 2.5, (2,0) = NaN
    assert(b.getFloat(stripOff) == 1.5f)
    assert(b.getFloat(stripOff + 4) == 2.5f)
    assert(java.lang.Float.isNaN(b.getFloat(stripOff + 8)))
  }

  test("geotiff roundtrip: layer -> tiffs -> UntiledRaster -> layer") {
    val src = RasterLayer.fromCells(
      Seq((0L, 0L, 1.5), (3L, 3L, 9.0), (5L, 6L, 4.0)).toDF("x", "y", "v"), layout)
    val tiffs = GeoTiff.toGeoTiff(src)
      .map(t => (t.col.toLong * 10 + t.row, t.tiff))
      .toDF("scene_id", "tiff")
    val back = GeoTiff.fromGeoTiff(tiffs).tileToLayout(layout)
    assert(back.toCells.as[(Long, Long, Double)].collect().toSet ==
      src.toCells.as[(Long, Long, Double)].collect().toSet)
  }

  test("deflate-compressed roundtrip is lossless and smaller on redundant data") {
    val cells = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y, (x % 2).toDouble))
    val src = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val plain = GeoTiff.toGeoTiff(src, deflate = false).collect().map(_.tiff.length).sum
    val packed = GeoTiff.toGeoTiff(src, deflate = true).collect()
    assert(packed.map(_.tiff.length).sum < plain)
    val back = GeoTiff.fromGeoTiff(
      packed.toSeq.map(t => (t.col.toLong * 10 + t.row, t.tiff)).toDF("scene_id", "tiff"))
      .tileToLayout(layout)
    assert(back.toCells.as[(Long, Long, Double)].collect().toSet ==
      src.toCells.as[(Long, Long, Double)].collect().toSet)
  }

  test("multiband encode/decode roundtrip: 2 bands (inline tags) and 3 bands (external tags)") {
    for (nb <- Seq(2, 3)) {
      val bands = (0 until nb).map(b => Array.tabulate(16)(i => b * 100.0 + i))
      val bytes = GeoTiff.encodeTileMB(bands, 4, 4, 10.0, 20.0, 1.0, 1.0, deflate = nb == 3)
      val (ox, oy, cw, ch, cols, rows, back) = GeoTiff.decodeTileMB(bytes)
      assert((ox, oy, cw, ch, cols, rows) == (10.0, 20.0, 1.0, 1.0, 4, 4), s"nb=$nb")
      assert(back.length == nb, s"nb=$nb")
      (0 until nb).foreach(b => assert(back(b).toSeq == bands(b).toSeq, s"nb=$nb band=$b"))
    }
  }

  test("save_stitched roundtrip: catalog -> stitched multiband file -> decode") {
    val dir = tempDir("graft_stitch").toString
    val a = RasterLayer.fromCells(
      Seq((0L, 0L, 1.0), (7L, 7L, 2.0)).toDF("x", "y", "v"), layout)
    val b = RasterLayer.fromCells(
      Seq((0L, 0L, 3.0), (4L, 4L, 4.0)).toDF("x", "y", "v"), layout)
    val mb = MultibandLayer.fromLayers(Seq(a, b))
    graft.catalog.Catalog.writeMultiband(dir, "st", mb, zoom = 0)
    val stored = graft.catalog.Catalog.readMultiband(spark, dir, "st", zoom = 0)
    val path = s"$dir/stitched.tif"
    GeoTiff.saveStitchedMB(stored, path)
    val (ox, oy, cw, ch, cols, rows, bands) =
      GeoTiff.decodeTileMB(Files.readAllBytes(java.nio.file.Paths.get(path)))
    // georeferencing: origin = (xmin, ymax), unit cells, full 8x8 grid
    assert((ox, oy, cw, ch, cols, rows) == (0.0, 8.0, 1.0, 1.0, 8, 8))
    assert(bands.length == 2)
    assert(bands(0)(0) == 1.0 && bands(0)(7 * 8 + 7) == 2.0)
    assert(bands(1)(0) == 3.0 && bands(1)(4 * 8 + 4) == 4.0)
    assert(bands(0)(1).isNaN) // untouched cells are NoData
    // single-band path writes the same georeferencing
    val p2 = s"$dir/single.tif"
    GeoTiff.saveStitched(a, p2)
    val (ox2, _, _, _, c2, r2, cells2) =
      GeoTiff.decodeTileMB(Files.readAllBytes(java.nio.file.Paths.get(p2)))
    assert(ox2 == 0.0 && c2 == 8 && r2 == 8 && cells2.head(0) == 1.0)
    // size guard refuses oversized stitches with an actionable message
    val err = intercept[IllegalArgumentException](
      GeoTiff.saveStitchedMB(stored, path, maxCells = 10))
    assert(err.getMessage.contains("maxCells"))
  }

  test("save_stitched crop_bounds / crop_dimensions (reference layer.py:1981)") {
    val dir = tempDir("graft_crop").toString
    val l = RasterLayer.fromCells(
      Seq((0L, 0L, 1.0), (4L, 4L, 5.0), (5L, 5L, 6.0), (7L, 7L, 9.0)).toDF("x", "y", "v"),
      layout)
    // crop to the world window x:[4,6) y:[2,4) -> grid rows 4..5 (y-down
    // flip: world y in [2,4) = grid rows 4..5), cells (4,4),(5,5) inside
    val p = s"$dir/crop.tif"
    GeoTiff.saveStitched(l, p, cropBounds = Some(graft.core.Extent(4, 2, 6, 4)))
    val (ox, oy, cw, ch, cols, rows, bands) =
      GeoTiff.decodeTileMB(Files.readAllBytes(java.nio.file.Paths.get(p)))
    assert((ox, oy, cw, ch, cols, rows) == (4.0, 4.0, 1.0, 1.0, 2, 2))
    val cells = bands.head
    assert(cells(0) == 5.0 && cells(1 * 2 + 1) == 6.0) // (4,4) and (5,5)
    assert(cells(1).isNaN && cells(2).isNaN)
    // crop_dimensions: NN re-dimension of the cropped window to 4x4
    val p2 = s"$dir/crop_dim.tif"
    GeoTiff.saveStitched(l, p2, cropBounds = Some(graft.core.Extent(4, 2, 6, 4)),
      cropDimensions = Some((4, 4)))
    val (_, _, cw2, ch2, c2, r2, b2) =
      GeoTiff.decodeTileMB(Files.readAllBytes(java.nio.file.Paths.get(p2)))
    assert((c2, r2) == (4, 4) && cw2 == 0.5 && ch2 == 0.5)
    assert(b2.head(0) == 5.0 && b2.head(1 * 4 + 1) == 5.0) // NN duplicates
    // crop_dimensions without crop_bounds is refused (reference contract)
    intercept[IllegalArgumentException](
      GeoTiff.saveStitched(l, p2, cropDimensions = Some((2, 2))))
    // disjoint crop_bounds fail loudly
    intercept[IllegalArgumentException](
      GeoTiff.saveStitched(l, p2, cropBounds = Some(graft.core.Extent(100, 100, 101, 101))))
  }

  test("cog roundtrip: tiled file windows match layer cells, absent tiles are NoData") {
    // TIFF tiles must be 16-multiples: 32x32 grid of 16-tiles (2x2)
    val cogLayout = LayoutDefinition(Extent(0, 0, 32, 32), TileLayout(2, 2, 16, 16))
    // data in tiles (0,0) and (1,1); (1,0)/(0,1) never written
    val cells = Seq((0L, 0L, 1.0), (5L, 10L, 2.0), (20L, 20L, 3.0), (31L, 31L, 4.0))
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), cogLayout)
    val dir = tempDir("graft_cog").toString
    for (deflate <- Seq(true, false)) {
      val path = s"$dir/cog_$deflate.tif"
      GeoTiff.saveCog(l, path, deflate = deflate)
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
      // full-extent window reproduces every cell
      val full = GeoTiff.readCogWindow(bytes, 0, 0, 32, 32)
      cells.foreach { case (x, y, v) =>
        assert(full((y * 32 + x).toInt) == v, s"deflate=$deflate ($x,$y)")
      }
      assert(full(1).isNaN) // unwritten cell
      // a window inside the never-written tile (1,0) is all NaN
      assert(GeoTiff.readCogWindow(bytes, 20, 2, 8, 8).forall(_.isNaN))
      // a window straddling tile borders picks up both sides
      val w = GeoTiff.readCogWindow(bytes, 15, 15, 10, 10)
      assert(w((20 - 15) * 10 + (20 - 15)) == 3.0)
      // out-of-image margin is NaN
      val edge = GeoTiff.readCogWindow(bytes, 28, 28, 8, 8)
      assert(edge((31 - 28) * 8 + (31 - 28)) == 4.0 && edge(8 * 8 - 1).isNaN)
    }
    // tile cap produces an actionable error
    val err = intercept[IllegalArgumentException](
      GeoTiff.saveCog(l, s"$dir/x.tif", maxTiles = 2))
    assert(err.getMessage.contains("maxTiles"))
  }

  test("BigTIFF (magic 43): pyramid roundtrip pixel-identical to classic, decodeScene reads it") {
    val baseLayout = LayoutDefinition(Extent(0, 0, 64, 64), TileLayout(4, 4, 16, 16))
    val cells = for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x, y, ((x * 131 + y * 17) % 251).toDouble)
    val base = RasterLayer.fromCells(cells.toDF("x", "y", "v"), baseLayout)
    val over = Pyramid.levelUp(base, "Average")
    val dir = tempDir("graft_bigtiff").toString
    for (deflate <- Seq(true, false)) {
      val big = s"$dir/big_$deflate.tif"; val classic = s"$dir/classic_$deflate.tif"
      GeoTiff.saveCogPyramid(Seq(base, over), big, deflate = deflate, bigTiff = true)
      GeoTiff.saveCogPyramid(Seq(base, over), classic, deflate = deflate)
      val bb = Files.readAllBytes(java.nio.file.Paths.get(big))
      val cb = Files.readAllBytes(java.nio.file.Paths.get(classic))
      // header says BigTIFF: magic 43, offset bytesize 8
      assert(bb(2) == 43 && bb(4) == 8)
      assert(cb(2) == 42)
      // both levels window identically through the shared reader
      assert(GeoTiff.cogLevels(bb) == GeoTiff.cogLevels(cb))
      for (ov <- 0 to 1) {
        val w = if (ov == 0) 64 else 32
        assert(GeoTiff.readCogWindow(bb, 0, 0, w, w, ov).toSeq ==
          GeoTiff.readCogWindow(cb, 0, 0, w, w, ov).toSeq, s"deflate=$deflate ov=$ov")
      }
      // partial window straddling tiles
      assert(GeoTiff.readCogWindow(bb, 10, 10, 20, 20).toSeq ==
        GeoTiff.readCogWindow(cb, 10, 10, 20, 20).toSeq)
      // the general scene decoder takes the BigTIFF base image too
      val (_, _, _, _, dc, dr, bands) = GeoTiff.decodeScene(bb)
      assert(dc == 64 && dr == 64)
      cells.take(200).foreach { case (x, y, v) =>
        assert(bands.head((y * 64 + x).toInt) == v)
      }
    }
    // classic writes past 2 GiB point at bigTiff, not at sharding only
    val err = intercept[IllegalArgumentException](
      GeoTiff.saveCogPyramid(Seq(base), s"$dir/too_big.tif", maxTiles = 2))
    assert(err.getMessage.contains("maxTiles"))
  }

  test("cog byte-range serving: a window from a file:// COG never reads the whole file") {
    // sizeable pyramid so a one-tile window is a small fraction of
    // the object: 128x128 base (16 16-tiles) + one overview
    val baseLayout = LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(8, 8, 16, 16))
    val cells = for (x <- 0L until 128L; y <- 0L until 128L)
      yield (x, y, ((x * 131 + y * 17) % 251).toDouble)
    val base = RasterLayer.fromCells(cells.toDF("x", "y", "v"), baseLayout)
    val over = Pyramid.levelUp(base, "Average")
    val dir = tempDir("graft_cog_rr").toString
    val path = s"$dir/pyr.tif"
    GeoTiff.saveCogPyramid(Seq(base, over), path)
    val fileLen = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))

    val rr = graft.raster.RangeReader.hadoop(s"file://$path")
    try {
      // header-only level walk: tiny reads
      assert(GeoTiff.cogLevels(rr) == GeoTiff.cogLevels(bytes))
      val afterLevels = rr.bytesRead
      assert(afterLevels < 4096, s"level walk read $afterLevels bytes")

      // one 16x16 tile window: identical pixels to the in-memory read
      val (reqs0, bytes0) = (rr.requests, rr.bytesRead)
      val got = GeoTiff.readCogWindow(rr, 32, 48, 16, 16, 0)
      assert(got.toSeq == GeoTiff.readCogWindow(bytes, 32, 48, 16, 16, 0).toSeq)
      val reqs = rr.requests - reqs0
      val read = rr.bytesRead - bytes0
      // range discipline: header + IFD + one offs/cnts span pair +
      // one tile (the window sits inside a single tile)
      assert(reqs <= 8, s"$reqs range requests for a one-tile window")
      assert(read < fileLen / 10,
        s"window read $read of $fileLen bytes — not range-served")

      // overview window through the same reader stays cheap and exact
      val o = GeoTiff.readCogWindow(rr, 0, 0, 16, 16, 1)
      assert(o.toSeq == GeoTiff.readCogWindow(bytes, 0, 0, 16, 16, 1).toSeq)
      assert(rr.bytesRead < fileLen / 2, "cumulative serving reads approach file size")
    } finally rr.close()
  }

  test("cog overviews: chained IFDs window independently at each zoom") {
    // base 64x64 (2x2 tiles of 32), one overview 32x32 (1 tile)
    val baseLayout = LayoutDefinition(Extent(0, 0, 64, 64), TileLayout(2, 2, 32, 32))
    val cells = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, (x * 64 + y).toDouble)
    val base = RasterLayer.fromCells(cells.toDF("x", "y", "v"), baseLayout)
    val over = Pyramid.levelUp(base, "Average")
    val dir = tempDir("graft_cog_ovr").toString
    val path = s"$dir/pyr.tif"
    GeoTiff.saveCogPyramid(Seq(base, over), path)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    // base image intact through IFD 0
    val w0 = GeoTiff.readCogWindow(bytes, 10, 20, 4, 4)
    assert(w0(0) == (10 * 64 + 20).toFloat.toDouble)
    // overview IFD 1 matches levelUp's cells (2x2 Average)
    val expect = over.toCells.as[(Long, Long, Double)].collect()
      .map { case (x, y, v) => (x, y) -> v }.toMap
    val w1 = GeoTiff.readCogWindow(bytes, 0, 0, 32, 32, overview = 1)
    expect.foreach { case ((x, y), v) =>
      assert(w1((y * 32 + x).toInt) == v.toFloat.toDouble, s"overview cell ($x,$y)")
    }
    // asking for a missing overview fails loudly
    val err = intercept[IllegalArgumentException](
      GeoTiff.readCogWindow(bytes, 0, 0, 4, 4, overview = 2))
    assert(err.getMessage.contains("overview"))
  }

  // hand-rolled foreign-TIFF writer: big-endian, strip-organized,
  // integer samples — nothing our encoder produces
  private def foreignTiff(cols: Int, rows: Int, bits: Int, fmt: Int,
                          rowsPerStrip: Int, values: Array[Long]): Array[Byte] = {
    val bpp = bits / 8
    val nStrips = (rows + rowsPerStrip - 1) / rowsPerStrip
    val nTags = 10
    val ifdOff = 8
    val ifdSize = 2 + nTags * 12 + 4
    val arrOff = ifdOff + ifdSize
    val extArr = if (nStrips > 1) 8 * nStrips else 0
    val dataOff = arrOff + extArr
    val stripBytes = (0 until nStrips).map(s =>
      math.min(rowsPerStrip, rows - s * rowsPerStrip) * cols * bpp)
    val buf = ByteBuffer.allocate(dataOff + stripBytes.sum).order(ByteOrder.BIG_ENDIAN)
    buf.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nTags.toShort)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit =
      buf.putShort(id.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    val stripOffs = stripBytes.scanLeft(dataOff)(_ + _).init
    // SHORT inline values sit in the HIGH half of the 4-byte slot in BE
    def inlineShort(v: Int) = v << 16
    tag(256, 3, 1, inlineShort(cols))
    tag(257, 3, 1, inlineShort(rows))
    tag(258, 3, 1, inlineShort(bits))
    tag(259, 3, 1, inlineShort(1))
    tag(262, 3, 1, inlineShort(1))
    tag(273, 4, nStrips, if (nStrips > 1) arrOff else stripOffs.head)
    tag(277, 3, 1, inlineShort(1))
    tag(278, 3, 1, inlineShort(rowsPerStrip))
    tag(279, 4, nStrips, if (nStrips > 1) arrOff + 4 * nStrips else stripBytes.head)
    tag(339, 3, 1, inlineShort(fmt))
    buf.putInt(0)
    if (nStrips > 1) { stripOffs.foreach(buf.putInt); stripBytes.foreach(buf.putInt) }
    values.foreach { v =>
      bits match {
        case 8  => buf.put(v.toByte)
        case 16 => buf.putShort(v.toShort)
        case 32 => buf.putInt(v.toInt)
      }
    }
    buf.array()
  }

  test("decodeScene reads foreign TIFFs: big-endian, multi-strip, integer formats") {
    // 6x4 big-endian uint16, 2 strips of 2 rows, non-geo
    val vals = Array.tabulate(24)(i => (i * 1000 + 40000).toLong) // exercises >Short.MaxValue
    val t1 = foreignTiff(6, 4, 16, 1, 2, vals)
    val (ox, oy, cw, ch, c1, r1, b1) = GeoTiff.decodeScene(t1)
    assert((c1, r1, b1.length) == (6, 4, 1))
    assert((ox, oy, cw, ch) == (0.0, 4.0, 1.0, 1.0)) // non-geo unit-grid default
    assert(b1.head.toSeq == vals.map(_.toDouble).toSeq)
    // 3x3 big-endian signed 8-bit, single strip
    val t2 = foreignTiff(3, 3, 8, 2, 3, Array(-5L, 0L, 5L, -1L, 2L, -3L, 4L, -6L, 7L))
    val (_, _, _, _, _, _, b2) = GeoTiff.decodeScene(t2)
    assert(b2.head.toSeq == Seq(-5.0, 0.0, 5.0, -1.0, 2.0, -3.0, 4.0, -6.0, 7.0))
    // 2x2 big-endian int32
    val t3 = foreignTiff(2, 2, 32, 2, 2, Array(1L << 30, -(1L << 30), 7L, -7L))
    assert(GeoTiff.decodeScene(t3).`_7`.head.toSeq ==
      Seq(math.pow(2, 30), -math.pow(2, 30), 7.0, -7.0))
    // our own encoder's output decodes identically through the general path
    val own = GeoTiff.encodeTile(Array.tabulate(16)(_ * 1.5), 4, 4, 10.0, 20.0, 1.0, 1.0, deflate = true)
    val (gox, goy, _, _, gc, gr, gb) = GeoTiff.decodeScene(own)
    assert((gox, goy, gc, gr) == (10.0, 20.0, 4, 4))
    assert(gb.head.toSeq == (0 until 16).map(_ * 1.5))
    // our internally-tiled COG decodes whole through the general path
    val cogLayout = LayoutDefinition(Extent(0, 0, 32, 32), TileLayout(2, 2, 16, 16))
    val l = RasterLayer.fromCells(Seq((1L, 1L, 5.0), (20L, 20L, 9.0)).toDF("x", "y", "v"), cogLayout)
    val dir = tempDir("graft_anytiff").toString
    GeoTiff.saveCog(l, s"$dir/c.tif")
    val (_, _, _, _, cc, cr, cb) =
      GeoTiff.decodeScene(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/c.tif")))
    assert((cc, cr) == (32, 32))
    assert(cb.head(1 * 32 + 1) == 5.0 && cb.head(20 * 32 + 20) == 9.0 && cb.head(0).isNaN)
  }

  test("writeFolder/readFolder roundtrip through per-tile files") {
    val cells = Seq((0L, 0L, 1.5), (3L, 3L, 2.5), (4L, 4L, 3.5), (7L, 7L, 4.5))
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val dir = tempDir("graft_folder").toString + "/tiffs"
    GeoTiff.writeFolder(l, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".tif")) > 1)
    val back = GeoTiff.readFolder(spark, dir).tileToLayout(layout, CellOp.Max)
    val got = back.toCells.as[(Long, Long, Double)].collect().toSet
    assert(got == cells.map { case (x, y, v) => (x, y, v.toFloat.toDouble) }.toSet)
  }

  test("pyramid write stores all zoom levels side by side") {
    val dir = tempDir("graft_pyr").toString
    val base = RasterLayer.fromCells(
      Seq((0L, 0L, 4.0), (1L, 1L, 8.0), (7L, 7L, 2.0)).toDF("x", "y", "v"), layout)
    val levels = Pyramid.build(base, "Average").take(2) // zooms 1, 0
    Pyramid.write(dir, "pyr", levels)
    val z1 = graft.catalog.Catalog.read(spark, dir, "pyr", levels.head._1)
    val z0 = graft.catalog.Catalog.read(spark, dir, "pyr", levels(1)._1)
    assert(z1.toCells.count() == 3)
    assert(z0.toCells.count() > 0)
    // each zoom reads back with ITS OWN layout (per-zoom metadata
    // sidecars — a shared sidecar would leave z1 described by z0's
    // coarser layout, corrupting extent-derived ops on the read layer)
    assert(z1.meta.layout == levels.head._2.meta.layout)
    assert(z0.meta.layout == levels(1)._2.meta.layout)
    assert(z1.meta.layout != z0.meta.layout)
  }

  // ------------------------------------------------------------------
  // LZW / PackBits decode (TIFF 6.0 §13 / §9)
  // ------------------------------------------------------------------

  /** Test-side TIFF-LZW encoder (MSB-first, early change, Clear at
    * NextCode 4094 per spec) — an independent implementation the
    * decoder must roundtrip against. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var acc = 0L; var nbits = 0; var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) { out += ((acc >> (nbits - 8)) & 0xff).toByte; nbits -= 8 }
    }
    val table = new java.util.HashMap[Long, Integer]()
    var next = 258
    put(256)
    var omega = -1
    for (b <- data) {
      if (omega < 0) omega = b & 0xff
      else {
        val key = (omega.toLong << 8) | (b & 0xff)
        val hit = table.get(key)
        if (hit != null) omega = hit.intValue()
        else {
          put(omega)
          table.put(key, Integer.valueOf(next)); next += 1
          // early change, encoder side: widen as soon as the next free
          // slot needs more bits (libtiff/GDAL/ImageIO-compatible)
          if (next == (1 << width) && width < 12) width += 1
          if (next == 4094) { put(256); table.clear(); next = 258; width = 9 }
          omega = b & 0xff
        }
      }
    }
    if (omega >= 0) put(omega)
    put(257)
    if (nbits > 0) out += ((acc << (8 - nbits)) & 0xff).toByte
    out.toArray
  }

  private def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    // simple spec-conform packer: runs of >=3 as replicates, else literals
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) { out += (1 - run).toByte += data(i); i += run }
      else {
        val start = i
        while (i < data.length && (i - start) < 128 &&
          !(i + 2 < data.length && data(i) == data(i + 1) && data(i) == data(i + 2))) i += 1
        out += (i - start - 1).toByte
        out ++= data.slice(start, i)
      }
    }
    out.toArray
  }

  /** BE strip TIFF with explicit compression/predictor and caller-
    * compressed strips (the foreignTiff shape + compression tags). */
  private def compressedTiff(cols: Int, rows: Int, bits: Int, fmt: Int, rowsPerStrip: Int,
                             compression: Int, predictor: Int,
                             strips: Seq[Array[Byte]]): Array[Byte] = {
    val nStrips = strips.length
    val nTags = 11
    val ifdOff = 8
    val ifdSize = 2 + nTags * 12 + 4
    val arrOff = ifdOff + ifdSize
    val extArr = if (nStrips > 1) 8 * nStrips else 0
    val dataOff = arrOff + extArr
    val buf = ByteBuffer.allocate(dataOff + strips.map(_.length).sum).order(ByteOrder.BIG_ENDIAN)
    buf.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nTags.toShort)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit =
      buf.putShort(id.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    def inlineShort(v: Int) = v << 16
    val stripOffs = strips.map(_.length).scanLeft(dataOff)(_ + _).init
    tag(256, 3, 1, inlineShort(cols))
    tag(257, 3, 1, inlineShort(rows))
    tag(258, 3, 1, inlineShort(bits))
    tag(259, 3, 1, inlineShort(compression))
    tag(262, 3, 1, inlineShort(1))
    tag(273, 4, nStrips, if (nStrips > 1) arrOff else stripOffs.head)
    tag(277, 3, 1, inlineShort(1))
    tag(278, 3, 1, inlineShort(rowsPerStrip))
    tag(279, 4, nStrips, if (nStrips > 1) arrOff + 4 * nStrips else strips.head.length)
    tag(317, 3, 1, inlineShort(predictor))
    tag(339, 3, 1, inlineShort(fmt))
    buf.putInt(0)
    if (nStrips > 1) { stripOffs.foreach(buf.putInt); strips.map(_.length).foreach(buf.putInt) }
    strips.foreach(s => buf.put(s))
    buf.array()
  }

  test("decodeScene reads band-separate (planar=2) strip TIFFs") {
    // 4x4, 2 uint8 bands, RowsPerStrip 2 => 4 strips: band0's two
    // strips first, then band1's (TIFF 6.0 planar order)
    val cols = 4; val rows = 4
    val band0 = Array.tabulate(16)(i => (i + 1).toByte)
    val band1 = Array.tabulate(16)(i => (100 + i).toByte)
    val strips = Seq(band0.slice(0, 8), band0.slice(8, 16),
      band1.slice(0, 8), band1.slice(8, 16))
    val nTags = 11
    val ifdOff = 8
    val ifdSize = 2 + nTags * 12 + 4
    val arrOff = ifdOff + ifdSize
    val dataOff = arrOff + 8 * 4 // offsets + counts for 4 strips
    val buf = ByteBuffer.allocate(dataOff + 32).order(ByteOrder.BIG_ENDIAN)
    buf.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nTags.toShort)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit =
      buf.putShort(id.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    def inlineShort(v: Int) = v << 16
    tag(256, 3, 1, inlineShort(cols))
    tag(257, 3, 1, inlineShort(rows))
    tag(258, 3, 2, (8 << 16) | 8) // per-band bits, two inline shorts
    tag(259, 3, 1, inlineShort(1))
    tag(262, 3, 1, inlineShort(1))
    tag(273, 4, 4, arrOff)
    tag(277, 3, 1, inlineShort(2))
    tag(278, 3, 1, inlineShort(2))
    tag(279, 4, 4, arrOff + 16)
    tag(284, 3, 1, inlineShort(2)) // PlanarConfiguration = 2
    tag(339, 3, 2, (1 << 16) | 1)
    buf.putInt(0)
    strips.indices.foreach(s => buf.putInt(dataOff + 8 * s))
    strips.foreach(s => buf.putInt(s.length))
    strips.foreach(buf.put)
    val (_, _, _, _, c, r, bands) = GeoTiff.decodeScene(buf.array())
    assert((c, r, bands.length) == (4, 4, 2))
    assert(bands(0).toSeq == band0.map(b => (b & 0xff).toDouble).toSeq)
    assert(bands(1).toSeq == band1.map(b => (b & 0xff).toDouble).toSeq)
  }

  test("LZW known-answer vector decodes exactly (hand-derived bitstream)") {
    // codes [Clear=256, 7, 258(KwKwK), 8, EOI=257] at 9 bits, MSB-first,
    // worked out by hand from the TIFF 6.0 algorithm -> bytes below
    val stream = Array(0x80, 0x01, 0xE0, 0x40, 0x88, 0x08).map(_.toByte)
    val got = GeoTiff.lzwDecode(stream, 0, stream.length, 4)
    assert(got.toSeq == Seq[Byte](7, 7, 7, 8))
  }

  test("PackBits decodes the TIFF 6.0 spec example") {
    val packed = Array(0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA,
      0x03, 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA).map(_.toByte)
    val want = Array(
      0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA, 0xAA, 0x80,
      0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
      0xAA, 0xAA).map(_.toByte)
    assert(GeoTiff.packBitsDecode(packed, 0, packed.length, want.length).toSeq == want.toSeq)
  }

  test("LZW roundtrip across code-width growth, KwKwK runs, and a table reset") {
    // repetitive prefix (KwKwK), then varied data wide enough to push
    // the table past 4094 entries (forcing the mid-stream Clear) and
    // through the 9->10->11->12 bit widths
    val data = (Array.fill(64)(7.toByte) ++
      Array.tabulate(30000)(i => ((i * 131) ^ (i >> 3)).toByte))
    val enc = lzwEncode(data)
    assert(enc.length < data.length) // it actually compresses something
    val dec = GeoTiff.lzwDecode(enc, 0, enc.length, data.length)
    assert(dec.toSeq == data.toSeq)
  }

  test("decodeScene reads LZW and PackBits strip TIFFs identically to uncompressed") {
    val cols = 16; val rows = 8
    val vals = Array.tabulate(cols * rows)(i => ((i * 7) % 251).toByte)
    val strips = vals.grouped(cols * 4).toSeq // 2 strips of 4 rows
    val plain = compressedTiff(cols, rows, 8, 1, 4, 1, 1, strips)
    val lzw = compressedTiff(cols, rows, 8, 1, 4, 5, 1, strips.map(lzwEncode))
    val pb = compressedTiff(cols, rows, 8, 1, 4, 32773, 1, strips.map(packBitsEncode))
    val want = GeoTiff.decodeScene(plain)._7.head.toSeq
    assert(want == vals.map(b => (b & 0xff).toDouble).toSeq)
    assert(GeoTiff.decodeScene(lzw)._7.head.toSeq == want)
    assert(GeoTiff.decodeScene(pb)._7.head.toSeq == want)
  }

  test("LZW with horizontal predictor (the wild's default) decodes uint8 and uint16") {
    val cols = 12; val rows = 6
    // uint8: difference each row, LZW it, tag predictor=2
    val vals8 = Array.tabulate(cols * rows)(i => ((i % cols) * 3 + i / cols).toByte)
    val diff8 = vals8.clone()
    for (r <- 0 until rows; c <- (cols - 1) to 1 by -1)
      diff8(r * cols + c) = (diff8(r * cols + c) - diff8(r * cols + c - 1)).toByte
    val t8 = compressedTiff(cols, rows, 8, 1, rows, 5, 2, Seq(lzwEncode(diff8)))
    assert(GeoTiff.decodeScene(t8)._7.head.toSeq == vals8.map(b => (b & 0xff).toDouble).toSeq)

    // uint16 big-endian: per-sample differencing over 2-byte samples
    val vals16 = Array.tabulate(cols * rows)(i => (40000 + i * 17) % 65536)
    val raw16 = new Array[Byte](vals16.length * 2)
    for (i <- vals16.indices) {
      raw16(2 * i) = (vals16(i) >>> 8).toByte; raw16(2 * i + 1) = vals16(i).toByte
    }
    val diff16 = raw16.clone()
    for (r <- 0 until rows; c <- (cols - 1) to 1 by -1) {
      val p = (r * cols + c) * 2; val q = p - 2
      val cur = ((diff16(p) & 0xff) << 8) | (diff16(p + 1) & 0xff)
      val prv = ((diff16(q) & 0xff) << 8) | (diff16(q + 1) & 0xff)
      val d = (cur - prv) & 0xffff
      diff16(p) = (d >>> 8).toByte; diff16(p + 1) = d.toByte
    }
    val t16 = compressedTiff(cols, rows, 16, 1, rows, 5, 2, Seq(lzwEncode(diff16)))
    assert(GeoTiff.decodeScene(t16)._7.head.toSeq == vals16.map(_.toDouble).toSeq)
  }

  test("LZW interop: decodes TIFFs written by javax.imageio (libtiff-compatible early change)") {
    // The JDK's TIFF writer is a fully independent LZW encoder
    // interoperable with libtiff/GDAL. 200x120 of pseudo-random bytes
    // pushes the dictionary through the 9->10->11->12 bit transitions,
    // which the hand-rolled spec encoder alone cannot cross-check.
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    val cols = 200; val rows = 120
    val vals = Array.tabulate(cols * rows)(i => ((i * 131) ^ (i >> 5)) & 0xff)
    val img = new java.awt.image.BufferedImage(
      cols, rows, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, cols, rows, 0, vals)
    for (predictor <- Seq(false, true)) {
      val writer = ImageIO.getImageWritersByFormatName("tiff").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType("LZW")
      val meta =
        if (!predictor) null
        else {
          // request horizontal differencing via the native metadata tree
          val spec = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
          val m = writer.getDefaultImageMetadata(spec, p)
          val fmt = "javax_imageio_tiff_image_1.0"
          val root = new javax.imageio.metadata.IIOMetadataNode(fmt)
          val ifd = new javax.imageio.metadata.IIOMetadataNode("TIFFIFD")
          val field = new javax.imageio.metadata.IIOMetadataNode("TIFFField")
          field.setAttribute("number", "317") // Predictor
          val shorts = new javax.imageio.metadata.IIOMetadataNode("TIFFShorts")
          val short = new javax.imageio.metadata.IIOMetadataNode("TIFFShort")
          short.setAttribute("value", "2")
          shorts.appendChild(short); field.appendChild(shorts)
          ifd.appendChild(field); root.appendChild(ifd)
          m.mergeTree(fmt, root)
          m
        }
      writer.write(null, new IIOImage(img, null, meta), p)
      ios.close(); writer.dispose()
      val (_, _, _, _, c, r, bands) = GeoTiff.decodeScene(baos.toByteArray)
      assert(c == cols && r == rows)
      assert(bands.head.toSeq == vals.map(_.toDouble).toSeq,
        s"predictor=$predictor pixels differ")
    }
  }
}
