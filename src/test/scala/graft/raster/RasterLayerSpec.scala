package graft.raster

import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.vector.Geometry

class RasterLayerSpec extends SparkSpec {
  import spark.implicits._

  // 8x8 grid, 4x4 tiles (2x2 layout)
  val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))

  def cellsDf(cells: (Long, Long, Double)*) =
    cells.toSeq.toDF("x", "y", "v")

  def layer(cells: (Long, Long, Double)*): RasterLayer =
    RasterLayer.fromCells(cellsDf(cells: _*), layout)

  def cellsOf(l: RasterLayer): Set[(Long, Long, Double)] =
    l.toCells.as[(Long, Long, Double)].collect().toSet

  test("fromCells/toCells roundtrip") {
    val in = Set((0L, 0L, 1.0), (3L, 3L, 2.0), (4L, 0L, 3.0), (7L, 7L, 4.0))
    assert(cellsOf(layer(in.toSeq: _*)) == in)
  }

  test("tile DataFrame interop: schema, extents, explicit + derived roundtrip") {
    val in = Set((0L, 0L, 1.0), (3L, 3L, 2.0), (4L, 0L, 3.0), (7L, 7L, 4.0))
    val l = layer(in.toSeq: _*)
    val rf = l.toTileDataFrame
    assert(rf.columns.toSeq ==
      Seq("spatial_key", "extent", "tile_cols", "tile_rows", "cell_type", "tile"))
    // y-down per-tile extents: key (0,0) is the top-left world quarter
    val ext = rf.select(col("spatial_key.col"), col("spatial_key.row"),
        col("extent.xmin"), col("extent.ymin"), col("extent.xmax"), col("extent.ymax"))
      .as[(Int, Int, Double, Double, Double, Double)].collect().toSet
    assert(ext.contains((0, 0, 0.0, 4.0, 4.0, 8.0)))
    assert(ext.contains((1, 1, 4.0, 0.0, 8.0, 4.0)))
    // explicit-layout roundtrip is exact
    assert(cellsOf(RasterLayer.fromTileDataFrame(rf, layout)) == in)
    // derived-layout roundtrip: all four corner tiles are present, so
    // the self-described bounding box IS the world extent
    val derived = RasterLayer.fromTileDataFrame(rf)
    assert(derived.meta.layout == layout)
    assert(cellsOf(derived) == in)
  }

  test("tile DataFrame interop: temporal layers carry temporal_key") {
    val cells = Seq((0L, 0L, 5L, 1.0), (7L, 7L, 6L, 2.0)).toDF("x", "y", "instant", "v")
    val l = RasterLayer.fromCellsTemporal(cells, layout)
    val rf = l.toTileDataFrame
    assert(rf.columns.contains("temporal_key"))
    val rt = RasterLayer.fromTileDataFrame(rf, layout)
    assert(rt.meta.temporal)
    assert(rt.toCells.as[(Long, Long, Long, Double)].collect().toSet ==
      Set((0L, 0L, 5L, 1.0), (7L, 7L, 6L, 2.0)))
  }

  test("local arithmetic and NaN propagation") {
    val l = layer((0, 0, 10.0), (5, 5, 20.0))
    assert(cellsOf((l + 5.0) * 2.0) == Set((0L, 0L, 30.0), (5L, 5L, 50.0)))
    assert(cellsOf(l.localMax(15.0)) == Set((0L, 0L, 15.0), (5L, 5L, 20.0)))
  }

  test("binary op joins on key and intersects data cells") {
    val a = layer((0, 0, 1.0), (1, 1, 2.0))
    val b = layer((1, 1, 10.0), (7, 7, 5.0))
    assert(cellsOf(a + b) == Set((1L, 1L, 12.0)))
  }

  test("reclassify strategies") {
    val l = layer((0, 0, 5.0), (1, 0, 15.0), (2, 0, 25.0))
    val r = l.reclassify(Seq(10.0 -> 1.0, 20.0 -> 2.0, 1e9 -> 3.0))
    assert(cellsOf(r) == Set((0L, 0L, 1.0), (1L, 0L, 2.0), (2L, 0L, 3.0)))
    val g = l.reclassify(Seq(10.0 -> 1.0, 20.0 -> 2.0), strategy = "GreaterThanOrEqualTo",
      replaceNoData = Some(0.0))
    assert(cellsOf(g) == Set((0L, 0L, 0.0), (1L, 0L, 1.0), (2L, 0L, 2.0)))
  }

  test("per-latitude z-factor: tile rows get distinct slopes matching the closed form") {
    // 8x8 DEGREES grid (cell 1 deg), tile rows at center lats 6 and 2.
    // A full plane v = 3x has dzdx = 3, dzdy = 0 away from edges, so
    // slope = atan(3 * zf(lat)) with zf = 1/(111320 cos lat) — control
    // values computed by hand from the corrected reference formula
    // (the reference's METERSATEQUATOR constant is 10x too small; see
    // ZFactor.MetersAtEquator).
    val plane = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, 3.0 * x)
    val l = RasterLayer.fromCells(plane.toDF("x", "y", "v"), layout)
      .slope(zFactorCalc = Some(ZFactor.latLng("Meters")))
    val got = cellsOf(l).map(c => ((c._1, c._2), c._3)).toMap
    def want(lat: Double): Double =
      math.toDegrees(math.atan(3.0 / (111320.0 * math.cos(math.toRadians(lat)))))
    // interior cells: (3,2) in tile row 0 (lat 6), (3,5) in row 1 (lat 2)
    assert(math.abs(got((3L, 2L)) - want(6.0)) < 1e-12)
    assert(math.abs(got((3L, 5L)) - want(2.0)) < 1e-12)
    assert(got((3L, 2L)) > got((3L, 5L))) // higher latitude => bigger zf
    // scalar zFactor path unchanged: flat 1.0 everywhere
    val scalar = RasterLayer.fromCells(plane.toDF("x", "y", "v"), layout).slope()
    assert(math.abs(cellsOf(scalar).find(c => c._1 == 3 && c._2 == 2).get._3 -
      math.toDegrees(math.atan(3.0))) < 1e-12)
  }

  test("lat-lng z-factor uses the physically correct meters-per-degree constant") {
    // zf(0) = 1 / 111320 m/deg (WGS84 equator circumference / 360 =
    // 111319.49 m). The reference's METERSATEQUATOR = 11320 is a
    // dropped-digit bug; its own FEETATEQUATOR (365217.6 ft =
    // 111318.3 m) confirms the correct magnitude.
    val zf = ZFactor.latLng("Meters")
    assert(math.abs(zf(0.0) - 1.0 / 111320.0) < 1e-18)
    val zfFt = ZFactor.latLng("Feet")
    // meters and feet calculators agree to the constants' precision
    assert(math.abs(zf(0.0) * 111320.0 - zfFt(0.0) * 365217.6) < 1e-12)
  }

  test("z-factor table calculator interpolates piecewise-linearly") {
    val f = ZFactor.fromTable(Seq(0.0 -> 1.0, 10.0 -> 2.0, 20.0 -> 4.0))
    assert(f(0.0) == 1.0 && f(10.0) == 2.0 && f(20.0) == 4.0)
    assert(f(5.0) == 1.5 && f(15.0) == 3.0)
    intercept[IllegalArgumentException](f(25.0))
  }

  test("retile: tile-level split/assemble bit-equal to the cells path on ragged edges") {
    // sparse cells leave some tiles absent and others partially NoData
    // (the ragged shapes a cells-path rebuild produces)
    val ragged = Seq((0L, 0L, 1.0), (3L, 3L, 2.0), (5L, 1L, 3.0), (7L, 7L, 4.0),
      (2L, 6L, 5.0), (4L, 4L, 6.0))
    val base = layer(ragged: _*)
    val layout2 = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(4, 4, 2, 2))
    val layout8 = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(1, 1, 8, 8))
    // split 4 -> 2 (narrow) vs rebuild from cells
    val split = base.retile(layout2)
    val viaCells = RasterLayer.fromCells(base.toCells, layout2)
    assert(cellsOf(split) == cellsOf(viaCells))
    assert(split.meta.layout == layout2)
    // no empty tiles ship: every output tile has at least one data cell
    val tileCount = split.df.count()
    assert(tileCount == viaCells.df.count())
    // assemble 4 -> 8 (whole-tile shuffle) vs rebuild from cells
    val asm = base.retile(layout8)
    assert(cellsOf(asm) == cellsOf(RasterLayer.fromCells(base.toCells, layout8)))
    // round trip through both directions is the identity grid
    assert(cellsOf(base.retile(layout2).retile(layout8)) == cellsOf(base))
    // identity retile returns the same layer
    assert(base.retile(layout) eq base)
  }

  test("aggregateByCell sums duplicate keys cell-wise") {
    val l = layer((0, 0, 1.0), (1, 1, 2.0))
    val m = layer((0, 0, 10.0), (4, 4, 7.0))
    val u = l.union(m).aggregateByCell("Sum")
    assert(cellsOf(u) == Set((0L, 0L, 11.0), (1L, 1L, 2.0), (4L, 4L, 7.0)))
  }

  test("withNoData and convertCellType") {
    val l = layer((0, 0, 1.0), (1, 0, 2.5))
    assert(cellsOf(l.withNoData(1.0)) == Set((1L, 0L, 2.5)))
    assert(cellsOf(l.convertCellType("int32")) == Set((0L, 0L, 1.0), (1L, 0L, 2.0)))
  }

  test("bit conversion: default saturating clamp vs GeoTrellis MaskLowBit parity") {
    import graft.core.BitSemantics
    // values picked where the two rules DISAGREE: 2 (clamp 1 / &1 0),
    // 3 (1 / 1), -1 (0 / 1), 0.7 (0 / 0 — truncate-then-mask)
    val l = layer((0, 0, 2.0), (1, 0, 3.0), (2, 0, -1.0), (3, 0, 0.7))
    assert(cellsOf(l.convertCellType("bit")) ==
      Set((0L, 0L, 1.0), (1L, 0L, 1.0), (2L, 0L, 0.0), (3L, 0L, 0.0)))
    assert(cellsOf(l.convertCellType("bit", BitSemantics.MaskLowBit)) ==
      Set((0L, 0L, 0.0), (1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 0L, 0.0)))
    // both modes agree on exact 0/1 inputs (every store/oracle path)
    val clean = layer((0, 0, 1.0), (1, 0, 0.0))
    assert(cellsOf(clean.convertCellType("bit")) ==
      cellsOf(clean.convertCellType("bit", BitSemantics.MaskLowBit)))
  }

  test("normalize maps min..max to new range") {
    val l = layer((0, 0, 10.0), (1, 0, 20.0), (2, 0, 30.0))
    assert(cellsOf(l.normalize(0, 100)) == Set((0L, 0L, 0.0), (1L, 0L, 50.0), (2L, 0L, 100.0)))
  }

  test("minMax and lookup") {
    val l = layer((0, 0, -3.0), (6, 6, 42.0))
    assert(l.minMax() == (-3.0, 42.0))
    assert(RasterLayer.tilesToCells(l.lookup(1, 1), 4, 4)
      .as[(Long, Long, Double)].collect().toSet == Set((6L, 6L, 42.0)))
  }

  test("mask keeps only polygon interior") {
    val l = layer((0, 0, 1.0), (4, 4, 2.0), (7, 7, 3.0))
    val m = ZonalOps.maskGrid(l, Seq(Geometry.rect(3, 3, 6, 6)))
    assert(cellsOf(m) == Set((4L, 4L, 2.0)))
  }

  test("mask is a native codegen expression (no UDF serialization boundary)") {
    val l = layer((4, 4, 2.0))
    val m = ZonalOps.maskGrid(l, Seq(Geometry.rect(3, 3, 6, 6)))
    // CollapseProject folds the projection into the upstream aggregate's
    // result expressions, so look at the optimized plan
    val plan = m.df.queryExecution.optimizedPlan.toString
    assert(plan.contains("tile_mask"), plan.take(400))
    assert(!plan.contains("UDF("), plan.take(400))
    // world-coordinate variant rides the same expression
    val w = ZonalOps.mask(l, Seq(Geometry.rect(3, 3, 6, 6)))
    assert(w.df.queryExecution.optimizedPlan.toString.contains("tile_mask"))
  }

  test("summarySeries: one scan, one shuffle Exchange for N geometries") {
    // checkpoint the fixture so its own tile-build shuffle is not in
    // the measured plan (real layers come pre-materialized from a store)
    val built = layer((0, 0, 1.0), (4, 4, 2.0), (7, 7, 3.0))
    val l = new RasterLayer(built.df.localCheckpoint(), built.meta)
    val geoms = Seq(Geometry.rect(0, 0, 2, 2), Geometry.rect(3, 3, 6, 6),
      Geometry.rect(0, 0, 8, 8), Geometry.rect(6, 6, 8, 8))
    val out = ZonalOps.summarySeries(l, geoms)
    val rows = out.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val shuffles = finalExchanges(out).count {
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case e => e.isInstanceOf[ShuffleExchangeLike]
    }
    assert(shuffles == 1, s"expected 1 shuffle Exchange, got $shuffles")
    assert(rows(0) == 1L && rows(1) == 1L && rows(2) == 3L && rows(3) == 1L)
  }

  test("terrain indices: TRI/TPI/roughness/curvature match hand-computed window values") {
    // v = x^2 + 2y on the full 8x8 grid; cell (3,3) sits at a tile
    // corner so its window spans all four tiles (halo-exchange check).
    // Window rows (y-1, y, y+1): [8,13,20] / [10,15,22] / [12,17,24].
    val cells = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, (x * x + 2 * y).toDouble)
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    def at(r: RasterLayer): Map[(Long, Long), Double] =
      cellsOf(r).map(c => ((c._1, c._2), c._3)).toMap
    // TRI: diffs -7,-2,5,-5,7,-3,2,9 -> sum sq 246
    assert(math.abs(at(l.tri())((3L, 3L)) - math.sqrt(246.0)) < 1e-12)
    // TPI: 15 - 126/8
    assert(at(l.tpi())((3L, 3L)) == -0.75)
    // roughness: 24 - 8
    assert(at(l.roughness())((3L, 3L)) == 16.0)
    // ZT curvature: ((10+22)/2-15) + ((13+17)/2-15) = 1 -> *-200
    assert(at(l.curvature())((3L, 3L)) == -200.0)
    // all four gate on the full 3x3: only the 6x6 interior emits
    assert(at(l.tri()).size == 36)
  }

  test("profile/plan curvature: parabolic valley bends in-slope only; planes are flat") {
    def at(r: RasterLayer): Map[(Long, Long), Double] =
      cellsOf(r).map(c => ((c._1, c._2), c._3)).toMap
    // z = x^2: D = 1, G = 2x, E = F = H = 0 ->
    // profile = -200 * D, plan = 0 wherever G != 0
    val para = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, (x * x).toDouble)
    val lp = RasterLayer.fromCells(para.toDF("x", "y", "v"), layout)
    assert(at(lp.curvatureProfile())((3L, 3L)) == -200.0)
    assert(at(lp.curvaturePlan())((3L, 3L)) == 0.0)
    // inclined plane z = 3x + y: all second derivatives vanish
    val plane = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, (3 * x + y).toDouble)
    val ll = RasterLayer.fromCells(plane.toDF("x", "y", "v"), layout)
    assert(at(ll.curvatureProfile())((3L, 3L)) == 0.0)
    assert(at(ll.curvaturePlan())((3L, 3L)) == 0.0)
    // flat plateau: G^2 + H^2 = 0 takes the documented 0 branch
    val flat = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, 5.0)
    val lf = RasterLayer.fromCells(flat.toDF("x", "y", "v"), layout)
    assert(at(lf.curvatureProfile())((3L, 3L)) == 0.0)
  }

  test("multidirectional hillshade: flat terrain shades to 255*cos(zenith) everywhere") {
    def at(r: RasterLayer): Map[(Long, Long), Double] =
      cellsOf(r).map(c => ((c._1, c._2), c._3)).toMap
    val flat = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, 7.0)
    val l = RasterLayer.fromCells(flat.toDF("x", "y", "v"), layout)
    // slope 0 -> every directional shade is cos(zen), weights sum to 2
    // -> 255 * cos(45 deg) = 180.31... -> floor 180
    assert(at(l.hillshadeMultidirectional())((3L, 3L)) == 180.0)
    // a tilted plane must differ from the flat value somewhere
    val tilt = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y, (4 * x).toDouble)
    val lt = RasterLayer.fromCells(tilt.toDF("x", "y", "v"), layout)
    assert(at(lt.hillshadeMultidirectional())((3L, 3L)) != 180.0)
  }

  test("focal mean crosses tile boundaries via halo") {
    // cells straddling the boundary between tile (0,0) and (1,0): x=3 and x=4
    val l = layer((3, 0, 10.0), (4, 0, 20.0))
    val f = l.focal(Neighborhood.Square(1), "Mean")
    assert(cellsOf(f) == Set((3L, 0L, 15.0), (4L, 0L, 15.0)))
  }

  test("focal sum includes center and in-range neighbors") {
    val l = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 4.0))
    val f = l.focal(Neighborhood.Square(1), "Sum")
    assert(cellsOf(f) == Set((0L, 0L, 3.0), (1L, 0L, 7.0), (2L, 0L, 6.0)))
  }

  test("fused focal chain is cell-for-cell identical to sequential application") {
    // sparse multi-tile layer with boundary-straddling cells and NaN
    // edges — the cases where a wrong fused-halo radius would diverge
    val l = layer((3, 0, 10.0), (4, 0, 20.0), (0, 0, 1.0), (7, 7, 5.0), (4, 4, 2.0))
    val seq2 = l.focal(Neighborhood.Square(1), "Mean").focal(Neighborhood.Square(1), "Max")
    val fused = l.focalChain((Neighborhood.Square(1), "Mean"), (Neighborhood.Square(1), "Max"))
    assert(cellsOf(fused) == cellsOf(seq2))
    // three-step chain with mixed neighborhoods
    val seq3 = l.focal(Neighborhood.Square(1), "Mean")
      .focal(Neighborhood.Circle(2.0), "Max").focal(Neighborhood.Square(1), "Min")
    val fused3 = l.focalChain((Neighborhood.Square(1), "Mean"),
      (Neighborhood.Circle(2.0), "Max"), (Neighborhood.Square(1), "Min"))
    assert(cellsOf(fused3) == cellsOf(seq3))
  }

  test("focal radius beyond tile size gathers multi-ring halo") {
    // tile size 4, radius 5: cells 5 apart in different (non-adjacent)
    // tiles must still see each other
    val l = layer((0, 0, 10.0), (5, 0, 30.0))
    val f = l.focal(Neighborhood.Circle(5.0), "Mean")
    assert(cellsOf(f) == Set((0L, 0L, 20.0), (5L, 0L, 20.0)))
  }

  test("focal convolve applies positional weights") {
    val l = layer((1, 1, 1.0), (2, 1, 10.0))
    val k = Array(1.0, 2.0, 1.0, 2.0, 4.0, 2.0, 1.0, 2.0, 1.0)
    val out = cellsOf(l.focalConvolve(k, 1))
    // at (1,1): 4*1 + 2*10 (east) = 24; at (2,1): 2*1 (west) + 4*10 = 42
    assert(out == Set((1L, 1L, 24.0), (2L, 1L, 42.0)))
  }

  test("pyramid level-up block average") {
    val l = layer((0, 0, 1.0), (1, 0, 3.0), (0, 1, 5.0), (1, 1, 7.0), (6, 6, 9.0))
    val p = Pyramid.levelUp(l, "Average")
    assert(cellsOf(p) == Set((0L, 0L, 4.0), (3L, 3L, 9.0)))
  }

  test("pyramid histogram reads the base level; mapLevels applies per-level algebra") {
    val l = layer((0, 0, 1.0), (1, 0, 3.0), (6, 6, 9.0))
    val levels = Pyramid.build(l, "Average")
    // histogram comes from the max-zoom (base) level = the input layer
    val hist = Pyramid.histogram(levels).as[(Long, Long)].collect().toMap
    assert(hist.values.sum == 3L)
    // +10 over every level, layouts preserved
    val shifted = Pyramid.mapLevels(levels, _ + 10.0)
    assert(shifted.map(_._1) == levels.map(_._1))
    val base = shifted.maxBy(_._1)._2
    assert(cellsOf(base) == Set((0L, 0L, 11.0), (1L, 0L, 13.0), (6L, 6L, 19.0)))
    // a layout-changing op is rejected
    intercept[IllegalArgumentException](
      Pyramid.mapLevels(levels, lv => Pyramid.levelUp(lv)))
  }

  test("aggregateByTime buckets instants and collapses cell-wise") {
    val l = RasterLayer.fromCellsTemporal(
      Seq((0L, 0L, 10L, 1.0), (0L, 0L, 12L, 5.0), (0L, 0L, 14L, 3.0), (1L, 1L, 20L, 9.0))
        .toDF("x", "y", "instant", "v"),
      graft.core.LayoutDefinition(graft.core.Extent(0, 0, 8, 8),
        graft.core.TileLayout(2, 2, 4, 4)))
    val out = l.aggregateByTime(7L, "Max").toCells
      .as[(Long, Long, Long, Double)].collect().toSet
    // instants 10/12/14 -> buckets 7 and 14; 20 -> 14
    assert(out == Set((0L, 0L, 7L, 5.0), (0L, 0L, 14L, 3.0), (1L, 1L, 14L, 9.0)))
    intercept[IllegalArgumentException](
      layer((0, 0, 1.0)).aggregateByTime(7L, "Max"))
  }

  test("temporalSeries summarizes per instant inside the geometry") {
    val l = RasterLayer.fromCellsTemporal(
      Seq((1L, 1L, 10L, 2.0), (2L, 1L, 10L, 4.0), (1L, 2L, 11L, 8.0),
          (7L, 7L, 10L, 99.0)) // outside the diamond
        .toDF("x", "y", "instant", "v"), layout)
    val got = ZonalOps.temporalSeries(l, Geometry.diamond(2, 2, 2.5))
      .orderBy("instant")
      .as[(Long, Double, Long, Double, Double, Double)].collect()
    assert(got.toSeq == Seq(
      (10L, 6.0, 2L, 2.0, 4.0, 3.0),
      (11L, 8.0, 1L, 8.0, 8.0, 8.0)))
    intercept[IllegalArgumentException](
      ZonalOps.temporalSeries(layer((0, 0, 1.0)), Geometry.diamond(2, 2, 2.5)))
  }

  test("histogram mode and itemCount") {
    val l = layer((0, 0, 5.0), (1, 0, 5.0), (2, 0, 3.0), (3, 0, 3.0), (4, 0, 1.0))
    // tie between 5.0 and 3.0 resolves to the smaller value
    assert(HistogramOps.mode(l).as[(Double, Long)].head() == ((3.0, 2L)))
    assert(HistogramOps.itemCount(l, 5.0).as[Long].head() == 2L)
    assert(HistogramOps.itemCount(l, 7.0).as[Long].head() == 0L)
  }

  test("histogram equalization: CDF remap by hand, constant layer, NaN passthrough") {
    // values 1 (x2), 5 (x1), 9 (x1): cum = 2,3,4; cmin=2, n=4 ->
    // v'=(cum-2)*255 div 2 = 0, 127, 255
    val l = layer((0, 0, 1.0), (1, 0, 1.0), (2, 0, 5.0), (3, 0, 9.0))
    val got = cellsOf(HistogramOps.equalize(l))
    assert(got == Set((0L, 0L, 0.0), (1L, 0L, 0.0), (2L, 0L, 127.0), (3L, 0L, 255.0)))
    // constant layer maps to 0; absent (NaN) cells stay absent
    val const = layer((0, 0, 7.0), (5, 5, 7.0))
    assert(cellsOf(HistogramOps.equalize(const)) == Set((0L, 0L, 0.0), (5L, 5L, 0.0)))
  }

  test("histogram matching: source CDF lands on target quantiles by hand") {
    // source: 10 (x2), 20 (x1), 30 (x1) -> cumS = 2, 3, 4; Ns = 4
    // target: 100 (x1), 200 (x1)        -> cumT = 1, 2;    Nt = 2
    // out(v) = min t with cumT(t)*Ns >= cumS(v)*Nt:
    //   v=10: cumS*Nt = 4; cumT(100)*Ns = 4 >= 4 -> 100
    //   v=20: 6; cumT(100)*Ns = 4 < 6, cumT(200)*Ns = 8 -> 200
    //   v=30: 8; -> 200
    val src = layer((0, 0, 10.0), (1, 0, 10.0), (2, 0, 20.0), (3, 0, 30.0))
    val tgt = layer((0, 0, 100.0), (1, 0, 200.0))
    val got = cellsOf(HistogramOps.matchHistogram(src, tgt))
    assert(got == Set((0L, 0L, 100.0), (1L, 0L, 100.0), (2L, 0L, 200.0), (3L, 0L, 200.0)))
    // matching a layer to itself is the identity
    assert(cellsOf(HistogramOps.matchHistogram(src, src)) ==
      Set((0L, 0L, 10.0), (1L, 0L, 10.0), (2L, 0L, 20.0), (3L, 0L, 30.0)))
  }

  test("past-maxDistinct degrade paths: injective quantization equals the exact path") {
    // 16 distinct integer values 0..15 on a 16-bucket lattice: the
    // quantize fallback is injective, so the degraded output must be
    // BIT-EQUAL to the exact path (the guard-0 equality contract)
    val cells = (0 until 16).map(i => (i.toLong % 8, i.toLong / 8, i.toDouble))
    val l = layer(cells: _*)
    val exact = cellsOf(HistogramOps.equalize(l))
    val degraded = cellsOf(HistogramOps.equalize(l, maxDistinct = 1, quantBuckets = 16))
    assert(degraded == exact)
    // matchHistogram: force BOTH sides through the bucket path
    val tgt = layer((0, 0, 100.0), (1, 0, 200.0))
    val exactM = cellsOf(HistogramOps.matchHistogram(l, tgt))
    val degradedM = cellsOf(
      HistogramOps.matchHistogram(l, tgt, maxDistinct = 1, quantBuckets = 16))
    assert(degradedM == exactM)
    // genuinely lossy buckets still emit REAL target values, monotone in v
    val lossy = cellsOf(HistogramOps.matchHistogram(l, tgt, maxDistinct = 1, quantBuckets = 4))
    assert(lossy.map(_._3).subsetOf(Set(100.0, 200.0)))
    val byV = cells.sortBy(_._3).map { case (x, y, _) =>
      lossy.find(c => c._1 == x && c._2 == y).get._3 }
    assert(byV == byV.sorted)
  }

  test("quantileBreaksExactInt degrades to the deterministic cell-hash sample") {
    val cells = (0 until 64).map(i => (i.toLong % 8, i.toLong / 8, (i % 16).toDouble))
    val l = layer(cells: _*)
    val qs = Seq(0.25, 0.5, 0.9)
    val exact = HistogramOps.quantileBreaksExactInt(l, qs).head()
    // permille 1000 samples EVERYTHING: forced fallback == exact
    val full = HistogramOps.quantileBreaksExactInt(l, qs,
      maxDistinct = 1, samplePermille = 1000).head()
    assert((0 until 3).forall(i => full.getLong(i) == exact.getLong(i)))
    // a real sample rate returns values from the layer's domain
    val sampled = HistogramOps.quantileBreaksExactInt(l, qs,
      maxDistinct = 1, samplePermille = 400).head()
    assert((0 until 3).forall(i => sampled.getLong(i) >= 0 && sampled.getLong(i) <= 15))
  }

  test("equalize/matchHistogram keep the instant column on temporal layers") {
    val l = RasterLayer.fromCellsTemporal(
      Seq((0L, 0L, 1L, 10.0), (1L, 0L, 1L, 20.0), (0L, 0L, 2L, 30.0))
        .toDF("x", "y", "instant", "v"), layout)
    val tgt = layer((0, 0, 100.0), (1, 0, 200.0))
    val m = HistogramOps.matchHistogram(l, tgt)
    assert(m.meta.temporal && m.df.columns.contains("instant"))
    val cells = m.toCells.select("instant", "v").as[(Long, Double)].collect().toSet
    // cumS = 1,2,3 over {10,20,30}; Ns=3, Nt=2: 10->cumS*Nt=2<=cumT(100)*Ns=3
    assert(cells == Set((1L, 100.0), (1L, 200.0), (2L, 200.0)))
    val e = HistogramOps.equalize(l)
    assert(e.meta.temporal && e.df.columns.contains("instant"))
    assert(e.toCells.count() == 3L)
  }

  test("histogram median is the smallest value reaching half the count") {
    val l = layer((0, 0, 1.0), (1, 0, 3.0), (2, 0, 3.0), (3, 0, 9.0))
    assert(HistogramOps.median(l).as[Long].head() == 3L)
    val even = layer((0, 0, 2.0), (1, 0, 4.0))
    assert(HistogramOps.median(even).as[Long].head() == 2L)
  }

  test("pyramid levelUp on a temporal layer downsamples each instant independently") {
    val l = RasterLayer.fromCellsTemporal(
      Seq((0L, 0L, 1L, 2.0), (1L, 1L, 1L, 4.0), (0L, 0L, 2L, 10.0))
        .toDF("x", "y", "instant", "v"), layout)
    val up = Pyramid.levelUp(l, "Average")
    val got = up.toCells.as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((0L, 0L, 1L, 3.0), (0L, 0L, 2L, 10.0)))
    assert(up.meta.temporal)
  }

  test("resample on a temporal layer keeps instants separate") {
    // a dense 8x8 block at instant 1, a different one at instant 2:
    // upsample 8 -> 16; each instant must interpolate only its own data
    val cells = for (x <- 0L until 8L; y <- 0L until 8L; t <- Seq(1L, 2L))
      yield (x, y, t, if (t == 1L) 10.0 else 50.0)
    val l = RasterLayer.fromCellsTemporal(cells.toDF("x", "y", "instant", "v"), layout)
    val r = Resample.bilinearTiled(l, 8, 16, 4)
    assert(r.meta.temporal)
    val got = r.toCells.as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // constant grids interpolate to the constant — any instant mixing
    // would bend interior values away from it
    got.foreach { case (x, y, t, v) =>
      val expect = if (t == 1L) 10.0 else 50.0
      assert(v == expect, s"($x,$y,t=$t)")
    }
    assert(got.map(_._3).toSet == Set(1L, 2L))
  }

  test("focal on a temporal layer keeps instants separate") {
    // same cell (3,0)/(4,0) straddles a tile border; instants 1 and 2
    // would cross-contaminate if the halo ignored time
    val l = RasterLayer.fromCellsTemporal(
      Seq((3L, 0L, 1L, 10.0), (4L, 0L, 1L, 20.0), (4L, 0L, 2L, 100.0))
        .toDF("x", "y", "instant", "v"), layout)
    val got = l.focal(Neighborhood.Square(1), "Sum").toCells
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.contains((3L, 0L, 1L, 30.0))) // 10+20 across the border, same instant
    assert(got.contains((4L, 0L, 1L, 30.0)))
    assert(got.contains((4L, 0L, 2L, 100.0))) // instant 2 sees only itself
  }

  test("pointValuesBilinear interpolates 4 cell centers, drops partial taps") {
    val l = layer((0, 0, 1.0), (1, 0, 3.0), (0, 1, 5.0), (1, 1, 7.0), (4, 4, 9.0))
    val pts = Seq(
      (1L, 1.0, 1.0),   // equidistant from the 4 corners -> plain average = 4.0
      (2L, 1.0, 0.75),  // ty = 0.25 -> 0.75*(1,3 avg) + 0.25*(5,7 avg) = 3.0
      (3L, 4.5, 4.5),   // corner (5,4)/(4,5)/(5,5) missing -> dropped
      (4L, 0.2, 0.2)    // x0 = -1 outside the grid -> dropped
    ).toDF("pid", "px", "py")
    val got = ZonalOps.pointValuesBilinear(l, pts)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 4.0, 2L -> 3.0))
  }

  test("zonal stats groups cells by zone raster") {
    val v = layer((0, 0, 1.0), (1, 0, 3.0), (2, 0, 5.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 8.0))
    val out = ZonalOps.zonalStats(v, z)
      .select("zone", "cnt", "vsum").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((7L, 2L, 4.0), (8L, 1L, 5.0)))
  }

  test("zonal percentage: per-cell integer percent of zone total") {
    // zone 7: total 4 -> cells 1, 3 give 25%, 75%; zone 8: single
    // cell = 100%; cell (3,0) has no zone tile cell -> NoData (absent)
    val v = layer((0, 0, 1.0), (1, 0, 3.0), (2, 0, 5.0), (3, 0, 2.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 8.0))
    val got = ZonalOps.zonalPercentage(v, z).toCells
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map((0L, 0L) -> 25.0, (1L, 0L) -> 75.0, (2L, 0L) -> 100.0))
  }

  test("zonal percentage distributed fallback matches the driver fast path") {
    // maxDriverZones = 0 forces the exploded-join branch (the shape a
    // parcel-scale zone raster takes); results must be identical
    val v = layer((0, 0, 1.0), (1, 0, 3.0), (2, 0, 5.0), (3, 0, 2.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 8.0))
    val got = ZonalOps.zonalPercentage(v, z, maxDriverZones = 0L).toCells
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map((0L, 0L) -> 25.0, (1L, 0L) -> 75.0, (2L, 0L) -> 100.0))
  }

  test("zonal percentage: zero-sum zone yields NoData in both paths") {
    val v = layer((0, 0, 0.0), (1, 0, 0.0), (2, 0, 4.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 8.0))
    for (cap <- Seq(ZonalOps.MaxDriverZones, 0L)) {
      val got = ZonalOps.zonalPercentage(v, z, maxDriverZones = cap).toCells
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(got == Map((2L, 0L) -> 100.0), s"cap=$cap")
    }
  }

  test("temporal trend: exact least-squares slope per cell, NoData under 2 instants") {
    // cell (0,0): v = 3 + 2t at t in {0,1,2} -> slope 2 exactly;
    // cell (1,0): v = 10 - t at t in {0,2}   -> slope -1;
    // cell (2,0): single instant             -> NoData (absent)
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 5.0), (0L, 0L, 2L, 7.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0),
      (2L, 0L, 1L, 4.0))
      .toDF("x", "y", "instant", "v")
    val out = RasterLayer.fromCellsTemporal(cells, layout).temporalTrend().toCells
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((0L, 0L) -> 2.0, (1L, 0L) -> -1.0))
  }

  test("temporal anomaly: exact v*n - sum form, single-instant cells report 0") {
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 5.0), (0L, 0L, 2L, 7.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0),
      (2L, 0L, 1L, 4.0))
      .toDF("x", "y", "instant", "v")
    val out = TimeSeries.anomaly(RasterLayer.fromCellsTemporal(cells, layout))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    assert(out == Map(
      (0L, 0L, 0L) -> (3L, -6L), (0L, 0L, 1L) -> (3L, 0L), (0L, 0L, 2L) -> (3L, 6L),
      (1L, 0L, 0L) -> (2L, 2L), (1L, 0L, 2L) -> (2L, -2L),
      (2L, 0L, 1L) -> (1L, 0L)))
  }

  test("temporal median composite: odd selects, even interpolates, gaps skip") {
    // cell (0,0): 3,9,5 -> median 5; cell (1,0): 10,8 -> 9.0;
    // cell (2,0): single value -> itself
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 9.0), (0L, 0L, 2L, 5.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0),
      (2L, 0L, 1L, 4.0))
      .toDF("x", "y", "instant", "v")
    val out = TimeSeries.medianComposite(RasterLayer.fromCellsTemporal(cells, layout))
      .toCells.as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((0L, 0L) -> 5.0, (1L, 0L) -> 9.0, (2L, 0L) -> 4.0))
  }

  test("temporal harmonic: micro-quantized cos/sin weighted sums by hand") {
    // period 3 weights: qc = [1e6, -500000, -500000], qs = [0, 866025, -866025]
    // cell (0,0): v 3,5,7 at t 0,1,2 -> n=3, sc = 3e6 - 2.5e6 - 3.5e6 = -3e6,
    //   ss = 5*866025 - 7*866025 = -1732050
    // cell (1,0): 10 at t0, 8 at t2 -> n=2, sc = 10e6 - 4e6 = 6e6,
    //   ss = -8*866025 = -6928200
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 5.0), (0L, 0L, 2L, 7.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0))
      .toDF("x", "y", "instant", "v")
    val (cnt, sc, ss) = RasterLayer.fromCellsTemporal(cells, layout).temporalHarmonic(3.0)
    def m(l: RasterLayer) = l.toCells
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(m(cnt) == Map((0L, 0L) -> 3.0, (1L, 0L) -> 2.0))
    assert(m(sc) == Map((0L, 0L) -> -3000000.0, (1L, 0L) -> 6000000.0))
    assert(m(ss) == Map((0L, 0L) -> -1732050.0, (1L, 0L) -> -6928200.0))
  }

  test("mann-kendall: S, n and Sen's slope by hand (odd + even medians, ties, holes)") {
    // cell (0,0): 3,5,7 at t 0,1,2 -> all pairs rise: S=3; slopes
    //   {2, 2, 2} -> sen 2. cell (1,0): 10,8 at t 0,2 -> S=-1, one
    //   slope -1. cell (2,0): one instant -> absent. cell (3,0):
    //   4,4 at t 0,1 -> tied pair: S=0, sen 0.
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 5.0), (0L, 0L, 2L, 7.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0),
      (2L, 0L, 1L, 4.0),
      (3L, 0L, 0L, 4.0), (3L, 0L, 1L, 4.0))
      .toDF("x", "y", "instant", "v")
    val out = TimeSeries.mannKendall(RasterLayer.fromCellsTemporal(cells, layout))
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out == Map(
      (0L, 0L) -> (3L, 3L, 2.0),
      (1L, 0L) -> (2L, -1L, -1.0),
      (3L, 0L) -> (2L, 0L, 0.0)))
    // 4 instants -> 6 pairs: even count takes the midpoint of the two
    // middle slopes. v = 0,1,3,9 at t 0..3: slopes sorted
    // {1, 1.5, 2, 3, 4, 6} -> midpoint of {2, 3} = 2.5
    val four = Seq((0L, 1L, 0L, 0.0), (0L, 1L, 1L, 1.0),
      (0L, 1L, 2L, 3.0), (0L, 1L, 3L, 9.0)).toDF("x", "y", "instant", "v")
    val o4 = TimeSeries.mannKendall(RasterLayer.fromCellsTemporal(four, layout))
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(o4 == ((0L, 1L, 4L, 6L, 2.5)))
  }

  test("temporal delta: consecutive diffs, gaps and one-sided cells emit nothing") {
    // cell (0,0): 3,5,7 at t 0,1,2 -> deltas +2 at t=1, +2 at t=2;
    // cell (1,0): present at t 0 and 2 only -> no consecutive pair;
    // cell (2,0): appears only at t=1 (its tile exists at t=0 via
    // (0,0)) -> NaN - v drops it
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 5.0), (0L, 0L, 2L, 7.0),
      (1L, 0L, 0L, 10.0), (1L, 0L, 2L, 8.0),
      (2L, 0L, 1L, 4.0))
      .toDF("x", "y", "instant", "v")
    val out = RasterLayer.fromCellsTemporal(cells, layout).temporalDelta().toCells
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(out == Map((0L, 0L, 1L) -> 2.0, (0L, 0L, 2L) -> 2.0))
  }

  test("temporal gap-fill: nearest-valid linear interp, edges never extrapolate") {
    // cell A valid at t=0 (2) and t=4 (10): t=2 -> 6 (midpoint of a
    // 4-long gap), t=1 -> 4, t=3 -> 8; cell B valid only at t=2
    val cells = Seq(
      (0L, 0L, 0L, 2.0), (0L, 0L, 4L, 10.0),
      (1L, 0L, 2L, 5.0))
      .toDF("x", "y", "instant", "v")
    val l = RasterLayer.fromCellsTemporal(cells, layout)
    val out = TimeSeries.fillGaps(l, Seq(0L, 1L, 2L, 3L, 4L)).toCells
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(out((0L, 0L, 0L)) == 2.0 && out((0L, 0L, 4L)) == 10.0) // pass-through
    assert(out((0L, 0L, 1L)) == 4.0 && out((0L, 0L, 2L)) == 6.0 && out((0L, 0L, 3L)) == 8.0)
    // B: no prev before 2 / no next after 2 -> only the valid row
    assert(out.keySet.filter(k => k._1 == 1L) == Set((1L, 0L, 2L)))
  }

  test("temporal moving average smooths and fills one-wide gaps") {
    val cells = Seq((0L, 0L, 0L, 3.0), (0L, 0L, 2L, 9.0)) // gap at t=1
      .toDF("x", "y", "instant", "v")
    val l = RasterLayer.fromCellsTemporal(cells, layout)
    val out = TimeSeries.movingAverage(l, Seq(0L, 1L, 2L)).toCells
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._3 -> r._4).toMap
    assert(out == Map(0L -> 3.0, 1L -> 6.0, 2L -> 9.0)) // window means
  }

  test("temporal argmax: max composite with smallest-instant ties") {
    val cells = Seq(
      (0L, 0L, 0L, 3.0), (0L, 0L, 1L, 9.0), (0L, 0L, 2L, 7.0), // max 9 at t=1
      (1L, 0L, 0L, 5.0), (1L, 0L, 2L, 5.0))                    // tie -> t=0
      .toDF("x", "y", "instant", "v")
    val (mx, arg) = RasterLayer.fromCellsTemporal(cells, layout).temporalArgmax()
    val m = mx.toCells.as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val a = arg.toCells.as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(m == Map((0L, 0L) -> 9.0, (1L, 0L) -> 5.0))
    assert(a == Map((0L, 0L) -> 1.0, (1L, 0L) -> 0.0))
  }

  test("local mask by raster: Mask drops matching cells, InverseMask keeps only them") {
    val v = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 3.0), (3, 0, 4.0))
    val m = layer((0, 0, 9.0), (1, 0, 5.0), (2, 0, 9.0)) // (3,0) mask-NoData
    def cells(l: RasterLayer) = l.toCells
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // Mask(readMask=9): cells where mask == 9 OR mask is NoData drop
    assert(cells(v.localMask(m, 9.0)) == Map((1L, 0L) -> 2.0))
    // InverseMask: only cells where mask == 9 survive
    assert(cells(v.localMask(m, 9.0, inverse = true)) ==
      Map((0L, 0L) -> 1.0, (2L, 0L) -> 3.0))
  }

  test("focal entropy: uniform window 0, two-class split ln 2, hand mixed case") {
    def h(counts: Long*): Double = {
      val n = counts.sum
      val q = counts.map(c => math.round(c * math.log(c.toDouble) * 1e6)).sum
      val lnN = math.round(math.log(n.toDouble) * 1e6)
      (lnN * n - q).toDouble / (n * 1e6)
    }
    // 1x4 strip: windows are partial (2 or 3 cells)
    val l = layer((0, 0, 5.0), (1, 0, 5.0), (2, 0, 5.0), (3, 0, 9.0))
    val out = l.focal(Neighborhood.Square(1), "Entropy").toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    assert(out(0L) == h(2L))            // {5,5} -> ~0 (quantization residue)
    assert(math.abs(out(0L)) < 1e-6)
    assert(out(2L) == h(2L, 1L))        // {5,5,9}
    assert(out(3L) == h(1L, 1L))        // {5,9} -> ln 2
    assert(math.abs(out(3L) - math.log(2)) < 1e-6)
  }

  test("focal percentile: exact rank selection (ceil(n*num/den)), partial windows") {
    // 1x4 strip: window of (1,0) is {1,5,9}; p75 rank = ceil(3*3/4)=3 -> 9
    val l = layer((0, 0, 1.0), (1, 0, 5.0), (2, 0, 9.0), (3, 0, 2.0))
    val p75 = l.focal(Neighborhood.Square(1), FocalOp.Percentile(3, 4)).toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    assert(p75(1L) == 9.0)            // {1,5,9}: rank 3
    assert(p75(0L) == 5.0)            // {1,5}: rank ceil(2*3/4)=2
    assert(p75(3L) == 9.0)            // {9,2}: rank 2 -> 9
    // num=1,den=2 on an odd window is the lower median
    val med = l.focal(Neighborhood.Square(1), FocalOp.Percentile(1, 2)).toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    assert(med(1L) == 5.0)            // {1,5,9}: rank ceil(3/2)=2
    // num=0 clamps to rank 1 (min); num=den is max
    assert(l.focal(Neighborhood.Square(1), FocalOp.Percentile(0, 4)).toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap.apply(1L) == 1.0)
    assert(l.focal(Neighborhood.Square(1), FocalOp.Percentile(4, 4)).toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap.apply(1L) == 9.0)
  }

  test("heat load: flat surface collapses to -1.467 + 1.582 cos(lat)") {
    // flat => slope 0, so every aspect/folding term vanishes and
    // lnHL = -1.467 + 1.582*cos(tile-center lat). One 4x4 tile on a
    // 1-degree-world layout: centerLat = 1 - 0.5*1 = 0.5 degrees.
    val lay = LayoutDefinition(Extent(0, 0, 1, 1), TileLayout(1, 1, 4, 4))
    val cells = for (x <- 0 to 3; y <- 0 to 3) yield (x.toLong, y.toLong, 7.0)
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), lay)
    val out = l.heatLoad().toCells.as[(Long, Long, Double)].collect()
    assert(out.length == 4) // only the 2x2 interior has full windows
    val expect = -1.467 + 1.582 * math.cos(math.toRadians(0.5))
    assert(out.forall(c => math.abs(c._3 - expect) < 1e-12))
  }

  test("standardize: zero-mean unit-std z-scores; constant grid pins 0") {
    val l = layer((0, 0, 2.0), (1, 0, 4.0), (2, 0, 6.0))
    val out = l.standardize().toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    // mu = 4, sigma = sqrt(((4+16+36) - 144/3) / 2) = 2
    assert(out == Map(0L -> -1.0, 1L -> 0.0, 2L -> 1.0))
    val const = layer((0, 0, 5.0), (1, 0, 5.0))
    assert(const.standardize().toCells.as[(Long, Long, Double)]
      .collect().forall(_._3 == 0.0))
  }

  test("bitmask mask: flagged bits drop, QA NoData masks") {
    val v = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 3.0), (3, 0, 4.0))
    val qa = layer((0, 0, 0.0), (1, 0, 4.0), (2, 0, 2.0)) // (3,0) QA missing
    // mask bits 5 = 0b101: qa 4 (0b100) hits, qa 2 (0b010) passes
    val out = v.localBitMask(qa, bits = 5L).toCells
      .as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3).toMap
    assert(out == Map((0L, 0L) -> 1.0, (2L, 0L) -> 3.0))
  }

  test("zonal majority/minority/variety with smallest-value ties") {
    // zone 7: values 2,2,5 -> majority 2, minority 5, variety 2;
    // zone 8: values 4,9 (tie both ways) -> majority 4, minority 4
    val v = layer((0, 0, 2.0), (1, 0, 2.0), (2, 0, 5.0), (3, 0, 4.0), (0, 1, 9.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (3, 0, 8.0), (0, 1, 8.0))
    val out = ZonalOps.zonalMajority(v, z)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(7L) == ((2L, 2L, 5L)))
    assert(out(8L) == ((2L, 4L, 4L)))
  }

  test("terrain profile: DDA positions and distances by hand on a diagonal") {
    // 5x3 ramp v = x + 10 y; segment (0,0) -> (4,2): N = 4 samples at
    // y = round(t/2) = 0,1,1,2,2 (half-up)
    val l = layer((for (x <- 0 to 4; y <- 0 to 2)
      yield (x.toLong, y.toLong, (x + 10 * y).toDouble)): _*)
    val out = ZonalOps.profile(l, 0, 0, 4, 2)
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(out.map(p => (p._1, p._2, p._3, p._4)).toSeq == Seq(
      (0L, 0L, 0L, 0.0), (1L, 1L, 1L, 11.0), (2L, 2L, 1L, 12.0),
      (3L, 3L, 2L, 23.0), (4L, 4L, 2L, 24.0)))
    val step = math.sqrt(20.0) / 4
    // dist_u: 1e-5-quantized BIGINT closing (r18)
    out.foreach(p => assert(p._5 ==
      BigDecimal(p._1 * step * 100000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    // NoData holes drop out of the profile
    val holed = layer((0, 0, 1.0), (4, 2, 9.0))
    assert(ZonalOps.profile(holed, 0, 0, 4, 2).count() == 2)
  }

  test("morphological opening (Min-then-Max chain) removes a single-cell spike") {
    // flat field of 5s with one spike and one pit
    val cells = for (x <- 0 to 4; y <- 0 to 4) yield
      (x.toLong, y.toLong, if ((x, y) == (2, 2)) 99.0 else if ((x, y) == (1, 3)) 1.0 else 5.0)
    val l = layer(cells: _*)
    val opened = l.focalChain(
      (Neighborhood.Square(1), "Min"), (Neighborhood.Square(1), "Max"))
      .toCells.as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3).toMap
    assert(opened((2L, 2L)) == 5.0) // spike gone
    assert(opened((1L, 3L)) == 1.0) // pit survives opening (erosion spreads it, dilation restores)
    assert(opened((0L, 0L)) <= 5.0)
  }

  test("weighted zonal mean: exact weight sums, all-three-valid rule") {
    val v = layer((0, 0, 10.0), (1, 0, 20.0), (2, 0, 30.0))
    val w = layer((0, 0, 1.0), (1, 0, 3.0))           // (2,0) missing -> excluded
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0))
    val out = ZonalOps.zonalWeightedMean(v, w, z)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((7L, 4L, (10.0 + 60.0) / 4)))
  }

  test("zonal quantile: cross-multiplied rule by hand; median is the 2/4 case") {
    val v = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 3.0), (3, 0, 4.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (3, 0, 7.0))
    def q(num: Long, den: Long) = ZonalOps.zonalQuantile(v, z, num, den)
      .as[(Long, Long)].head()._2
    assert(q(1, 4) == 1L) // cum(1)=1, 1*4 >= 4*1
    assert(q(2, 4) == 2L)
    assert(q(3, 4) == 3L)
    assert(q(4, 4) == 4L)
    assert(q(2, 4) == ZonalOps.zonalMedian(v, z).as[(Long, Long)].head()._2)
  }

  test("zonal median: smallest value reaching half the zone's cells") {
    // zone 7: values 2,2,5 -> cum(2)=2, 2*2 >= 3 -> median 2
    // zone 8: values 4,9 -> cum(4)=1, 2*1 >= 2 -> median 4
    val v = layer((0, 0, 2.0), (1, 0, 2.0), (2, 0, 5.0), (3, 0, 4.0), (0, 1, 9.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (3, 0, 8.0), (0, 1, 8.0))
    val out = ZonalOps.zonalMedian(v, z)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(7L -> 2L, 8L -> 4L))
  }

  test("linear band transform: fixed-order sums per pixel, NoData propagates") {
    val a = layer((0, 0, 4.0), (1, 0, 8.0))
    val b = layer((0, 0, 2.0)) // (1,0) missing -> NoData out
    val mb = MultibandLayer.fromLayers(Seq(a, b))
    val out = mb.linearTransform(Seq(Seq(0.5, 0.5), Seq(1.0, -1.0))).toCells
      .as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(out == Map((0L, 0L, 0) -> 3.0, (0L, 0L, 1) -> 2.0))
  }

  test("zonal diversity: uniform zone maxes evenness, single class zeroes") {
    // zone 7: classes 1,1,2,2 -> H = ln 2, evenness 1; zone 8: one class
    val v = layer((0, 0, 1.0), (1, 0, 1.0), (2, 0, 2.0), (3, 0, 2.0), (0, 1, 5.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (3, 0, 7.0), (0, 1, 8.0))
    val out = ZonalOps.zonalDiversity(v, z)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(8L) == ((1L, 1L, 0L, 0L)))
    val (n, vr, hU, eU) = out(7L) // 1e-5-quantized BIGINTs (r18)
    assert(n == 4L && vr == 2L)
    assert(math.abs(hU / 100000.0 - math.log(2)) < 1e-4 &&
      math.abs(eU - 100000L) < 10)
  }

  test("minimum-distance classification: nearest signature, ties to smaller id, NoData holes") {
    // bands (a, b); signatures 0:(0,0), 1:(10,0), 2:(0,10)
    val a = layer((0, 0, 1.0), (1, 0, 9.0), (2, 0, 5.0), (3, 0, 1.0))
    val b = layer((0, 0, 1.0), (1, 0, 0.0), (2, 0, 5.0) /* (3,0) missing */)
    val mb = MultibandLayer.fromLayers(Seq(a, b))
    val out = mb.classifyMinDistance(
        Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 0.0), 2 -> Seq(0.0, 10.0)))
      .toCells.as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(0L) == 0.0) // (1,1): d0=2 < d1=82, d2=82
    assert(out(1L) == 1.0) // (9,0): d1=1 wins
    assert(out(2L) == 0.0) // (5,5): d0=50 = d1=50 = d2=50 -> tie -> id 0
    assert(!out.contains(3L)) // band b missing -> NoData
  }

  test("accuracy assessment: hand-computed overall and kappa") {
    // pred/truth over 4 cells: matrix [[2,1],[0,1]] -> correct 3, n 4
    // rowTot(pred): {0:3, 1:1}; colTot(truth): {0:2, 1:2}
    // pe_num = 3*2 + 1*2 = 8; overall = 3/4; kappa = (12-8)/(16-8) = .5
    val pred  = layer((0, 0, 0.0), (1, 0, 0.0), (2, 0, 0.0), (3, 0, 1.0))
    val truth = layer((0, 0, 0.0), (1, 0, 0.0), (2, 0, 1.0), (3, 0, 1.0))
    val out = Compare.accuracyAssessment(pred, truth)
      .as[(Long, Long, Long, Long)].collect().head
    assert(out == ((4L, 3L, 750000L, 500000L))) // 1e-6-quantized (r18)
    // perfect agreement -> kappa 1
    val p2 = Compare.accuracyAssessment(truth, truth)
      .as[(Long, Long, Long, Long)].collect().head
    assert(p2._3 == 1000000L && p2._4 == 1000000L)
  }

  test("change vector analysis: magnitude and direction by hand") {
    val a0 = layer((0, 0, 5.0)); val a1 = layer((0, 0, 8.0))  // d0 = 3
    val b0 = layer((0, 0, 2.0)); val b1 = layer((0, 0, 6.0))  // d1 = 4
    val out = new MultibandLayer(Compare.changeVector(
        MultibandLayer.fromLayers(Seq(a0, b0)), MultibandLayer.fromLayers(Seq(a1, b1))),
        a0.meta.copy(), 2).toCells
      .as[(Long, Long, Int, Double)].collect().map(r => r._3 -> r._4).toMap
    assert(out(0) == 5.0) // 3-4-5 triangle
    assert(math.abs(out(1) - math.toDegrees(math.atan2(4, 3))) < 1e-9)
  }

  test("pansharpen: Brovey ratio by hand, NoData propagates") {
    val a = layer((0, 0, 2.0), (1, 0, 3.0))
    val b = layer((0, 0, 6.0)) // (1,0) missing
    val pan = layer((0, 0, 8.0), (1, 0, 8.0))
    val out = MultibandLayer.fromLayers(Seq(a, b)).pansharpen(pan).toCells
      .as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    // intensity = (2+6)/2 = 4: band0 = 2*8/4 = 4, band1 = 6*8/4 = 12
    assert(out == Map((0L, 0L, 0) -> 4.0, (0L, 0L, 1) -> 12.0))
  }

  test("coverage rasterize: exact quarter-unit overlaps, clamping, guard") {
    // rect [0.25, 1.75) x [0.5, 1.0): cell (0,0) overlap 0.75 x 0.5 ->
    // quarter units (3*4)*(2*4)... scaled: x [1,7), y [2,4):
    // cell(0,0): wx = min(7,4)-max(1,0)=3, wy = min(4,4)-max(2,0)=2 -> 6
    // cell(1,0): wx = min(7,8)-max(1,4)=3, wy=2 -> 6
    val rects = Seq((1L, 0.25, 0.5, 1.75, 1.0)).toDF("fid", "x0", "y0", "x1", "y1")
    val out = graft.raster.Rasterize.fromRectsCoverage(rects, layout)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((0L, 0L) -> 6L, (1L, 0L) -> 6L))
    // overlapping rects sum; fully-outside rects vanish
    val two = Seq((1L, 0.25, 0.5, 1.75, 1.0), (2L, 0.0, 0.0, 1.0, 1.0),
      (3L, -9.0, -9.0, -1.0, -1.0)).toDF("fid", "x0", "y0", "x1", "y1")
    val o2 = graft.raster.Rasterize.fromRectsCoverage(two, layout)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(o2 == Map((0L, 0L) -> 22L, (1L, 0L) -> 6L)) // 6 + 16 full cell
    val e = intercept[IllegalArgumentException](
      graft.raster.Rasterize.fromRectsCoverage(two, layout, maxCellsPerRect = 1))
    assert(e.getMessage.contains("maxCellsPerRect"))
  }

  test("coverage rasterize clamps per axis on non-square layouts") {
    // 4 cols x 8 rows: a rect spanning the full grid must reach rows
    // 4..7 (the r12 advice bug clamped y to totalCols and lost them)
    val tall = LayoutDefinition(Extent(0, 0, 4, 8), TileLayout(1, 2, 4, 4))
    val rects = Seq((1L, 0.0, 0.0, 4.0, 8.0)).toDF("fid", "x0", "y0", "x1", "y1")
    val out = graft.raster.Rasterize.fromRectsCoverage(rects, tall)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out.size == 32 && out.values.forall(_ == 16L))
    assert(out.keySet.map(_._2).max == 7L)
    // and x still clamps at totalCols on the same layout
    val wide = Seq((1L, 0.0, 0.0, 9.0, 1.0)).toDF("fid", "x0", "y0", "x1", "y1")
    val o2 = graft.raster.Rasterize.fromRectsCoverage(wide, tall)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(o2.keySet.map(_._1).max == 3L)
  }

  test("property: coverage rasterize conserves clamped rect area exactly") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val r = (seed * 2654435761L) & 0xffffffffL
      val x0 = (r % 5).toDouble - 1.25; val y0 = ((r >> 8) % 5).toDouble - 0.75
      val x1 = x0 + 1.0 + ((r >> 16) % 4) * 0.75
      val y1 = y0 + 1.25 + ((r >> 24) % 3) * 0.5
      val rects = Seq((1L, x0, y0, x1, y1)).toDF("fid", "x0", "y0", "x1", "y1")
      val covSum = graft.raster.Rasterize.fromRectsCoverage(rects, layout)
        .agg(sum("cov_q")).as[Long].head()
      val g = layout.tileLayout.totalCols.toDouble
      val cx0 = math.max(x0, 0); val cy0 = math.max(y0, 0)
      val cx1 = math.min(x1, g); val cy1 = math.min(y1, g)
      val area16 = math.round(
        math.max(0, (cx1 - cx0) * 4) * math.max(0, (cy1 - cy0) * 4))
      assert(covSum == area16, s"seed $seed: $covSum != $area16")
    }
  }

  test("joint histogram bins pairs exactly") {
    val a = layer((0, 0, 5.0), (1, 0, 65.0), (2, 0, 70.0))
    val b = layer((0, 0, 3.0), (1, 0, 17.0), (2, 0, 31.0))
    val out = Compare.jointHistogram(a, b, widthA = 64, widthB = 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 0L, 1L), (1L, 1L, 2L)))
  }

  test("correlate: perfect positive and negative correlation, NoData excluded") {
    val a = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 3.0), (3, 0, 9.0))
    val b = layer((0, 0, 2.0), (1, 0, 4.0), (2, 0, 6.0)) // (3,0) NoData
    val r = Compare.correlate(a, b).as[(Long, Long)].head()
    assert(r == ((3L, 100000L))) // y = 2x on the 3 shared cells (corr_u)
    val neg = layer((0, 0, 3.0), (1, 0, 2.0), (2, 0, 1.0))
    assert(Compare.correlate(a, neg).as[(Long, Long)].head() == ((3L, -100000L)))
  }

  test("surface volume: exact above/below split vs the reference plane") {
    // values 1,4,9,16 vs plane 5: above {9,16} vol (4+11)=15, below {1,4} vol (4+1)=5
    val l = layer((0, 0, 1.0), (1, 0, 4.0), (2, 0, 9.0), (3, 0, 16.0))
    val r = Compare.surfaceVolume(l, 5.0).as[(Double, Double, Long, Long)].head()
    assert(r == ((15.0, 5.0, 2L, 2L)))
    // plane-equal cells count in neither bucket
    val eq = Compare.surfaceVolume(layer((0, 0, 5.0)), 5.0)
      .as[(Double, Double, Long, Long)].head()
    assert(eq == ((0.0, 0.0, 0L, 0L)))
  }

  test("geohash column matches the scalar encoder") {
    val pts = Seq((1L, 57.64911, 10.40744), (2L, -33.86, 151.21), (3L, 0.1, -0.1))
    val out = pts.toDF("id", "lat", "lon")
      .select(col("id"), graft.core.Geohash.geohashCol(col("lat"), col("lon"), 7).as("gh"))
      .as[(Long, String)].collect().toMap
    pts.foreach { case (id, la, lo) =>
      assert(out(id) == graft.core.Geohash.encode(la, lo, 7))
    }
  }

  test("aspect octant: plane gradients land in the right compass bins") {
    def bin(f: (Int, Int) => Double): Double = {
      val cells = for (x <- 0 to 3; y <- 0 to 3) yield (x.toLong, y.toLong, f(x, y))
      layer(cells: _*).aspectOctant().toCells
        .as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3)
        .toMap.apply((1L, 1L))
    }
    assert(bin((x, _) => 100.0 - x) == 0.0)          // downslope east
    assert(bin((x, y) => 200.0 - x + y) == 1.0)      // NE at exactly 45 deg
    assert(bin((_, y) => 100.0 + y) == 2.0)          // north (aspect 90)
    assert(bin((x, _) => 100.0 + x) == 4.0)          // west (aspect 180)
    assert(bin((_, y) => 100.0 - y) == 6.0)          // south (aspect 270)
    assert(bin((_, _) => 5.0) == 0.0)                // flat -> bin 0
  }

  test("dinf flow direction: plane gradients give exact compass angles") {
    def plane(f: (Int, Int) => Double): Map[(Long, Long), Double] = {
      val cells = for (x <- 0 to 3; y <- 0 to 3) yield (x.toLong, y.toLong, f(x, y))
      layer(cells: _*).flowDirectionDinf().toCells
        .as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3).toMap
    }
    // east-down plane: flow east, angle 0
    val e = plane((x, _) => 100.0 - x)
    assert(e((1L, 1L)) == 0.0)
    // south-down plane (y grows southward): angle 3π/2
    val s = plane((_, y) => 100.0 - y)
    assert(s((1L, 1L)) == 3 * (math.Pi / 2))
    // SE-diagonal plane: angle 7π/4 via the π/4-clamped facet
    val se = plane((x, y) => 200.0 - x - y)
    assert(se((1L, 1L)) == -(math.Pi / 4) + 4 * (math.Pi / 2) - 0.0)
    // flat plane: no downslope anywhere -> no cells
    assert(plane((_, _) => 7.0).isEmpty)
  }

  test("percent stretch: clamp + rescale by hand, constant layer pins 0") {
    // values 0,10,...,90 with p2/p98 cutpoints under den=10 -> lo=0, hi=90?
    // use loNum=2, hiNum=8, den=10: lo = v at cum*10>=2*10 -> 2nd value (10),
    // hi = v at cum*10>=8*10 -> 8th value (70)
    val cells = (0 until 10).map(i => (i.toLong, 0L, i * 10.0))
    val l = layer(cells: _*)
    val out = HistogramOps.percentStretch(l, loNum = 2, hiNum = 8, den = 10)
      .toCells.as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    assert(out(0L) == 0.0)                       // clamped at lo
    assert(out(1L) == 0.0)                       // v=10 == lo
    assert(out(7L) == 255.0)                     // v=70 == hi
    assert(out(9L) == 255.0)                     // clamped at hi
    assert(out(4L) == math.floor((40.0 - 10) * 255 / 60)) // interior
    val const = layer((0, 0, 5.0), (1, 0, 5.0))
    assert(HistogramOps.percentStretch(const).toCells
      .as[(Long, Long, Double)].collect().forall(_._3 == 0.0))
  }

  test("catalog diff: per-tile changed-cell counts, one-sided tiles count whole") {
    val dir = tempDir("graft_diff").toString
    val a = layer((0, 0, 1.0), (1, 0, 2.0), (5, 5, 3.0))
    val b = layer((0, 0, 1.0), (1, 0, 9.0), (5, 5, 3.0))
    graft.catalog.Catalog.write(dir, "da", a)
    graft.catalog.Catalog.write(dir, "db", b)
    val d = graft.catalog.Catalog.diff(spark, dir, "da", "db")
      .as[(Int, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // only tile (0,0) changed (cell (1,0)); tile (1,1) identical
    assert(d == Map((0, 0) -> 1))
  }

  test("majority filter: strict majority replaces, tie keeps center") {
    // strip 5,5,9: center (1,0) neighbors {5,5} -> strict majority 5 replaces 9?
    // center at (1,0) is 5 with neighbors {5,9}: tie 1-1 -> keep 5
    val l = layer((0, 0, 5.0), (1, 0, 5.0), (2, 0, 9.0), (3, 0, 9.0))
    val out = l.majorityFilter().toCells
      .as[(Long, Long, Double)].collect().map(c => c._1 -> c._3).toMap
    assert(out(0L) == 5.0) // single neighbor {5}: majority 1/1 -> 5 (unchanged)
    assert(out(1L) == 5.0) // neighbors {5,9}: 1-1 tie -> keep center
    assert(out(2L) == 9.0) // neighbors {5,9}: tie -> keep center 9
    assert(out(3L) == 9.0)
    // a real flip: center 9 surrounded by three 5s in a 2x2 block
    val m = layer((0, 0, 5.0), (1, 0, 5.0), (0, 1, 5.0), (1, 1, 9.0))
    val o2 = m.majorityFilter().toCells
      .as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3).toMap
    assert(o2((1L, 1L)) == 5.0) // 3/3 neighbors say 5 -> replaced
  }

  test("hotspot: Gi* and local Moran match the hand formula on a strip") {
    val l = layer((0, 0, 10.0), (1, 0, 2.0), (2, 0, 2.0), (3, 0, 4.0))
    val n = 4.0; val s = 18.0; val ss = 124.0
    val xbar = s / n; val m2 = ss / n - xbar * xbar
    // cell (1,0): full-strip window {10,2,2} -> sw=14, k=3, v=2
    def gi(sw: Double, k: Double) =
      (sw - xbar * k) / (math.sqrt(m2) * math.sqrt((k * n - k * k) / (n - 1.0)))
    def moran(v: Double, sw: Double, k: Double) =
      ((v - xbar) / m2) * ((sw - v) - (k - 1) * xbar)
    // the library closes via the algebraically-equal exact-integer
    // ratio (r14) and returns RAW doubles — compare to the textbook
    // x̄/m2 form within float tolerance
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val gis = Hotspot.getisOrdGi(l).as[(Long, Long, Double)].collect()
      .map(c => c._1 -> c._3).toMap
    val mor = Hotspot.localMoran(l).as[(Long, Long, Double)].collect()
      .map(c => c._1 -> c._3).toMap
    assert(close(gis(1L), gi(14.0, 3.0)))
    assert(close(gis(0L), gi(12.0, 2.0)))          // edge window {10,2}
    assert(close(mor(1L), moran(2.0, 14.0, 3.0)))
    assert(mor(1L) < 0)  // low value next to the high outlier
    assert(mor(0L) > 0 == (moran(10.0, 12.0, 2.0) > 0))
  }

  test("global autocorrelation: Moran/Geary/join counts on the strip") {
    // same 4-cell strip: n=4, S=18, SS=124, x̄=4.5, Σz²=43, W=6
    val l = layer((0, 0, 10.0), (1, 0, 2.0), (2, 0, 2.0), (3, 0, 4.0))
    // Σ zᵢ·(nbr z sum) = 5.5·(−2.5) − 2.5·3 − 2.5·(−3) − 0.5·(−2.5) = −12.5
    val gm = Hotspot.globalMoran(l).as[(Long, Long, Double)].head()
    assert(gm._1 == 4L && gm._2 == 6L)
    assert(math.abs(gm._3 - (4.0 * -12.5) / (6.0 * 43.0)) < 1e-12)
    // Σ w(xᵢ−xⱼ)² = 2·64 + 2·0 + 2·4 = 136; C = 3·136/(12·43)
    val gc = Hotspot.gearyC(l).as[(Long, Long, Double)].head()
    assert(gc._1 == 4L && gc._2 == 6L)
    assert(math.abs(gc._3 - 408.0 / 516.0) < 1e-12)
    // General G: Σv·(sw−v) = 20+24+12+8 = 64; S²−SS = 200
    val gg = Hotspot.generalG(l).as[(Long, Long, Double)].head()
    assert(gg._1 == 4L && gg._2 == 6L && math.abs(gg._3 - 0.32) < 1e-12)
    // parities B,W,B,W: all three adjacencies are BW
    val j1 = Hotspot.joinCounts(
      layer((0, 0, 3.0), (1, 0, 2.0), (2, 0, 5.0), (3, 0, 4.0)))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(j1 == ((2L, 2L, 0L, 0L, 3L, 3L)))
    // parities B,B,W,W: one BB, one BW, one WW
    val j2 = Hotspot.joinCounts(
      layer((0, 0, 3.0), (1, 0, 5.0), (2, 0, 2.0), (3, 0, 4.0)))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(j2 == ((2L, 2L, 1L, 1L, 1L, 3L)))
  }

  test("GLCM: pooled symmetric pair counts + Haralick numerators") {
    // 2x2 block (values 1,2 / 2,3): every cell queen-adjacent to every
    // other -> 12 ordered pairs
    val l = layer((0, 0, 1.0), (1, 0, 2.0), (0, 1, 2.0), (1, 1, 3.0))
    val m = Texture.glcm(l).as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m == Map((1L, 2L) -> 2L, (2L, 1L) -> 2L, (1L, 3L) -> 1L,
      (3L, 1L) -> 1L, (2L, 2L) -> 2L, (2L, 3L) -> 2L, (3L, 2L) -> 2L))
    val st = Texture.glcmStats(l)
      .as[(Long, Long, Long, Long, Long)].head()
    // contrast 16, dissim 12, asm 22, pairs 12, homog 6.4e6
    assert(st == ((16L, 12L, 22L, 12L, 6400000L)))
  }

  test("landscapeMetrics: FRAGSTATS class rollup of vectorize") {
    // cls 1: patches {(0,0),(1,0)} and {(3,0)}; cls 2: {(0,2)}
    val lab = Seq((0L, 0L, 1L, 0L), (1L, 0L, 1L, 0L), (3L, 0L, 1L, 3L),
      (0L, 2L, 2L, 512L)).toDF("x", "y", "cls", "region")
    val out = RegionGroup.landscapeMetrics(lab)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // cls 1: np=2 ca=3 largest=2 edge=6+4=10 mps=1.5e6
    assert(out(1L) == ((2L, 3L, 2L, 10L, 1500000L)))
    assert(out(2L) == ((1L, 1L, 1L, 4L, 1000000L)))
  }

  test("nnDistanceCdf: exact G-function counts") {
    // NN d²: p1=9, p2=9, p3=81, p4=900
    val pts = Seq((1L, 0.5, 0.5), (2L, 3.5, 0.5), (3L, 0.5, 9.5),
      (4L, 33.5, 0.5)).toDF("pid", "px", "py")
    val r = graft.vector.PointStats.nnDistanceCdf(pts, Seq(2, 4, 8, 16, 32))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(r == ((4L, 0L, 2L, 2L, 3L, 4L)))
  }

  test("ripleyK: exact pair counts across bucket borders") {
    // d²: p1-p2=9 (k4), p1-p3=81 and p2-p3=90 (k16), p2-p4=900
    // (k32, crosses the rmax=32 bucket border), p1-p4=1089 (out)
    val pts = Seq((1L, 0.5, 0.5), (2L, 3.5, 0.5), (3L, 0.5, 9.5),
      (4L, 33.5, 0.5)).toDF("pid", "px", "py")
    val r = graft.vector.PointStats.ripleyK(pts)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double)]
      .head()
    assert((r._1, r._2, r._3, r._4, r._5) == ((4L, 2L, 2L, 6L, 8L)))
    assert(math.abs(r._6 - 2.0 * 65536 / 12) < 1e-9)   // kh4
    assert(math.abs(r._9 - 8.0 * 65536 / 12) < 1e-9)   // kh32
  }

  test("lisaQuadrants + bivariateMoran on the strip") {
    // x̄ = 4.5: deviations (+,−,−,−); nbr sums: −2.5, +3, −3, −2.5
    val l = layer((0, 0, 10.0), (1, 0, 2.0), (2, 0, 2.0), (3, 0, 4.0))
    val q = Hotspot.lisaQuadrants(l).as[(Long, Long, Long)].collect()
      .map(c => c._1 -> c._3).toMap
    assert(q == Map(0L -> 4L, 1L -> 2L, 2L -> 3L, 3L -> 3L))
    // bivariate with itself == univariate global Moran
    val bv = Hotspot.bivariateMoran(l, l).as[(Long, Long, Double)].head()
    assert(bv._1 == 4L && bv._2 == 6L)
    assert(math.abs(bv._3 - (4.0 * -12.5) / (6.0 * 43.0)) < 1e-12)
  }

  test("moranCorrelogram: lag 1 == global Moran; ring lags hand-checked") {
    val l = layer((0, 0, 10.0), (1, 0, 2.0), (2, 0, 2.0), (3, 0, 4.0))
    val out = Hotspot.moranCorrelogram(l, maxLag = 3)
      .as[(Int, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // lag 1: the strip's global Moran (W=6, Σzᵢ·(nbr z)=−12.5)
    assert(out(1)._1 == 6L)
    assert(math.abs(out(1)._2 - (4.0 * -12.5) / (6.0 * 43.0)) < 1e-12)
    // lag 2 ring pairs (0,2),(1,3): Σ = −25, W=4 → I₂ = −25/43
    assert(out(2)._1 == 4L)
    assert(math.abs(out(2)._2 - -25.0 / 43.0) < 1e-12)
    // lag 3 pair (0,3): Σ = −5.5, W=2 → I₃ = 4·(−5.5)/(2·43)
    assert(out(3)._1 == 2L)
    assert(math.abs(out(3)._2 - 4.0 * -5.5 / (2.0 * 43.0)) < 1e-12)
  }

  test("localGeary: strip cell matches the textbook pair sum / m2") {
    val l = layer((0, 0, 10.0), (1, 0, 2.0), (2, 0, 2.0), (3, 0, 4.0))
    // cell 1 (v=2, nbrs 10,2): Σw(vᵢ−vⱼ)² = 64; m2 = 43/4
    val out = Hotspot.localGeary(l).as[(Long, Long, Double)].collect()
      .map(c => c._1 -> c._3).toMap
    assert(math.abs(out(1L) - 64.0 / (43.0 / 4.0)) < 1e-9)
    assert(math.abs(out(2L) - 4.0 / (43.0 / 4.0)) < 1e-9) // nbrs 2,4
  }

  test("quadratVmr: exact moments and quantized ratio") {
    val pts = Seq((1L, 0.5, 0.5), (2L, 1.5, 0.5), (3L, 40.5, 0.5))
      .toDF("pid", "px", "py")
    val r = graft.vector.PointStats.quadratVmr(pts)
      .as[(Long, Long, Long, Long)].head()
    // counts {2,1}: n=3, Σc²=5, q=64 → (320−9)·1e6/189 = 1645502.6…
    assert(r == ((3L, 64L, 5L, 1645503L)))
  }

  test("boxCounts: occupied-box ladder on a sparse pattern") {
    // occupied (odd) at (0,0), (1,1), (5,5)
    val l = layer((0, 0, 1.0), (1, 1, 3.0), (5, 5, 7.0), (2, 2, 4.0))
    val out = Texture.boxCounts(l, Seq(1, 2, 4, 8))
      .as[(Int, Long)].collect().toMap
    assert(out == Map(1 -> 3L, 2 -> 2L, 4 -> 2L, 8 -> 1L))
  }

  test("combine: deterministic combination table over the cell join") {
    val a = layer((0, 0, 1.0), (1, 0, 2.0), (2, 0, 1.0))
    val b = layer((0, 0, 5.0), (1, 0, 5.0), (2, 0, 5.0), (3, 0, 9.0))
    val out = Compare.combine(a, b)
      .as[(Long, Double, Double, Long)].collect().toSet
    assert(out == Set((1L, 1.0, 5.0, 2L), (2L, 2.0, 5.0, 1L)))
  }

  test("simpsonDiversity: exact SIDI on a two-class layer") {
    val l = layer((0, 0, 0.0), (1, 0, 0.0), (2, 0, 0.0), (3, 0, 1.0))
    val r = ZonalOps.simpsonDiversity(l).as[(Long, Long, Long)].head()
    assert(r == ((2L, 4L, 375000L))) // 1 − (9+1)/16 = 0.375
  }

  test("hypsometric integral: exact ratio, NULL on flat zones") {
    val v = layer((0, 0, 2.0), (1, 0, 4.0), (2, 0, 6.0), (5, 0, 3.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (5, 0, 8.0))
    val out = ZonalOps.hypsometric(v, z)
      .as[(Long, Long, Double, Double, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // zone 7: (12 - 3*2)*1e6 / (3*(6-2)) = 500000
    assert(out(7L) == ((3L, 2.0, 6.0, Some(500000L))))
    assert(out(8L) == ((1L, 3.0, 3.0, None)))
  }

  test("cutFill: sign classes with exact volumes") {
    val a = layer((0, 0, 5.0), (1, 0, 2.0), (2, 0, 7.0), (3, 0, 7.0))
    val b = layer((0, 0, 3.0), (1, 0, 6.0), (2, 0, 7.0), (3, 0, 1.0))
    val out = Compare.cutFill(a, b)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1L -> ((2L, 8L)), -1L -> ((1L, 4L)), 0L -> ((1L, 0L))))
  }

  test("zonal histogram is the (zone, value) contingency table") {
    val v = layer((0, 0, 2.0), (1, 0, 2.0), (2, 0, 5.0), (3, 0, 4.0), (0, 1, 9.0))
    val z = layer((0, 0, 7.0), (1, 0, 7.0), (2, 0, 7.0), (3, 0, 8.0), (0, 1, 8.0))
    val out = ZonalOps.zonalHistogram(v, z)
      .as[(Long, Double, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((7L, 2.0) -> 2L, (7L, 5.0) -> 1L,
      (8L, 4.0) -> 1L, (8L, 9.0) -> 1L))
    // cells where either side is NoData don't count
    val zHole = layer((0, 0, 7.0)) // (1,0).. mask-NoData
    assert(ZonalOps.zonalHistogram(v, zHole)
      .as[(Long, Double, Long)].collect().toSet == Set((7L, 2.0, 1L)))
  }

  test("rpow, layer pow, and cell-wise layer max") {
    val l = layer((0, 0, 2.0), (1, 0, 3.0))
    assert(cellsOf(l.rpow(2.0)) == Set((0L, 0L, 4.0), (1L, 0L, 8.0)))
    val e = layer((0, 0, 3.0), (1, 0, 2.0))
    assert(cellsOf(l ** e) == Set((0L, 0L, 8.0), (1L, 0L, 9.0)))
    assert(cellsOf(l.localMaxLayer(e)) == Set((0L, 0L, 3.0), (1L, 0L, 3.0)))
  }

  test("summary series reports each geometry independently") {
    val l = layer((1, 1, 10.0), (6, 6, 20.0))
    val out = ZonalOps.summarySeries(l,
      Seq(graft.vector.Geometry.rect(0, 0, 3, 3), graft.vector.Geometry.rect(5, 5, 8, 8)))
      .select("gid", "vsum").as[(Int, Double)].collect().toSet
    assert(out == Set((0, 10.0), (1, 20.0)))
  }

  test("combine_bands stacks layers with NoData -> null") {
    val a = layer((0, 0, 1.0))
    val b = layer((0, 0, 2.0), (1, 0, 3.0))
    val out = a.combineBandsCells(b)
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSet
    assert(out == Set((0L, 0L, Some(1.0), Some(2.0)), (1L, 0L, None, Some(3.0))))
  }

  test("neighborhood masks have the right shapes") {
    assert(Neighborhood.Square(1).offsets.length == 9)
    assert(Neighborhood.Nesw(1).offsets.toSet ==
      Set((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)))
    assert(Neighborhood.Circle(1.0).offsets.toSet ==
      Set((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)))
    val ann = Neighborhood.Annulus(1.0, 2.0).offsets.toSet
    assert(!ann.contains((0, 0)) && ann.contains((2, 0)) && ann.contains((1, 1)))
    val wedge = Neighborhood.Wedge(2.0, 0, 90).offsets.toSet
    assert(wedge.contains((1, -1)) && wedge.contains((2, 0)) && !wedge.contains((-1, 1)))
  }

  test("point values sample the right cells") {
    val l = layer((2, 3, 42.0))
    val pts = Seq((1L, 2.5, 3.5), (2L, 0.5, 0.5)).toDF("pid", "px", "py")
    val out = ZonalOps.pointValues(l, pts).as[(Long, Double)].collect().toSet
    assert(out == Set((1L, 42.0)))
  }

  test("merge retains base cells and fills only NoData (not Max)") {
    val base    = layer((0, 0, 5.0), (1, 0, 3.0))
    val overlay = layer((1, 0, 99.0), (2, 0, 7.0), (5, 5, 1.0))
    val got = cellsOf(base.merge(overlay))
    // (1,0): base 3.0 retained although overlay has the larger 99.0
    assert(got == Set((0L, 0L, 5.0), (1L, 0L, 3.0), (2L, 0L, 7.0), (5L, 5L, 1.0)))
    // self-merge of duplicate keys also follows the replacement rule
    assert(cellsOf(base.union(base).merge()) == cellsOf(base))
  }

  test("normalize of a constant grid pins to newMin instead of NaN") {
    val l = layer((0, 0, 7.0), (1, 0, 7.0), (2, 1, 7.0))
    assert(cellsOf(l.normalize(1.0, 10.0)) == Set((0L, 0L, 1.0), (1L, 0L, 1.0), (2L, 1L, 1.0)))
  }

  test("weightedOverlay: exact quarter weights, HALF_UP rounding, inner-join semantics") {
    val a = layer((0L, 0L, 1.0), (1L, 0L, 9.0), (2L, 0L, 1.0))
    val b = layer((0L, 0L, 3.0), (1L, 0L, 1.0))
    val out = cellsOf(a.weightedOverlay(0.75, (b, 0.25)))
    // 0.75*1 + 0.25*3 = 1.5 -> 2 (HALF_UP); 0.75*9 + 0.25*1 = 7
    assert(out == Set((0L, 0L, 2.0), (1L, 0L, 7.0))) // (2,0) has no b cell
  }
}
