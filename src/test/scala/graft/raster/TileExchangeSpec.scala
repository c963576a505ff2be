package graft.raster

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkSpec
import graft.core.{CRS, Extent, LayoutDefinition, TileLayout}

/** The contract of the one tile exchange, checked on every operator
  * that regrids through it: a spacetime layer runs each instant on its
  * own (instants never mix, the instant column survives), and the
  * operator's plan crosses exactly one shuffle exchange on both a
  * spatial and a temporal input. */
class TileExchangeSpec extends SparkSpec {
  import spark.implicits._

  // 16x16 cells of 0.1 degree, 4x4 tiles (a 4x4 layout)
  private val layout = LayoutDefinition(Extent(0, 0, 1.6, 1.6), TileLayout(4, 4, 4, 4))

  /** Integral values that differ per instant, with a few NoData holes. */
  private def cells(t: Long): Seq[(Long, Long, Double)] =
    for {
      x <- 0L until 16L; y <- 0L until 16L
      if (x * 5 + y * 3 + t) % 17 != 0
    } yield (x, y, ((x * 7 + y * 3 + t * 11) % 13 + 2 * t).toDouble)

  /** Built once and pinned, so an operator's plan holds only its own
    * exchanges. */
  private def pinned(l: RasterLayer): RasterLayer = l.copy(df = l.df.localCheckpoint())

  private lazy val spatial: Seq[RasterLayer] =
    Seq(0L, 1L).map(t => pinned(RasterLayer.fromCells(cells(t).toDF("x", "y", "v"), layout)))

  private lazy val temporal: RasterLayer = pinned(RasterLayer.fromCellsTemporal(
    Seq(0L, 1L).flatMap(t => cells(t).map { case (x, y, v) => (x, y, t, v) })
      .toDF("x", "y", "instant", "v"), layout))

  private val mercator = LayoutDefinition(
    Extent(CRS.lngToMercX(0), CRS.latToMercY(0), CRS.lngToMercX(1.6), CRS.latToMercY(1.6)),
    TileLayout(3, 3, 4, 4))

  private val ops: Seq[(String, RasterLayer => RasterLayer)] = Seq(
    "focal" -> (_.focal(Neighborhood.Square(1), "Mean")),
    "convolve" -> (l => Focal.convolve(l, Array(1.0, 2.0, 1.0, 2.0, 4.0, 2.0, 1.0, 2.0, 1.0), 1)),
    "terrain slope" -> (l => Focal.terrain(l, "slope")),
    "terrain hillshade" -> (l => Focal.terrain(l, "hillshade")),
    "levelUp" -> (l => Pyramid.levelUp(l, "Average")),
    "retile assembly" -> (_.retile(LayoutDefinition(layout.extent, TileLayout(2, 2, 8, 8)))),
    "bilinearTiled" -> (l => Resample.bilinearTiled(l, 16, 12, dstTile = 4)),
    "kernelTiled" -> (l => Resample.kernelTiled(l, 16, 12, Resample.Kernel.CubicConvolution, dstTile = 4)),
    "areaAverageTiled" -> (l => Resample.areaAverageTiled(l, 16, 12, dstTile = 4)),
    "latLngGridToWebMercatorTiled" ->
      (l => Reproject.latLngGridToWebMercatorTiled(l, 0.1, dstTile = 4, dstCols = 12)),
    "reprojectTiled" -> (l => Reproject.reprojectTiled(l, "EPSG:4326", "EPSG:3857", mercator)))

  private def shuffles(out: RasterLayer): Int = {
    out.df.collect()
    finalExchanges(out.df).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  for ((name, op) <- ops) {
    test(s"$name: each instant of a spacetime layer equals the op on that instant alone") {
      val out = op(temporal)
      assert(out.meta.temporal && out.df.columns.contains("instant"))
      val got = out.toCells.as[(Long, Long, Long, Double)].collect().groupBy(_._3)
      for ((t, alone) <- Seq(0L, 1L).zip(spatial)) {
        val want = op(alone).toCells.as[(Long, Long, Double)].collect().toSet
        assert(want.nonEmpty)
        assert(got.getOrElse(t, Array.empty).map(c => (c._1, c._2, c._4)).toSet == want,
          s"instant $t")
      }
      assert(got.keySet == Set(0L, 1L))
    }

    test(s"$name: one shuffle exchange on a spatial and on a temporal input") {
      assert(shuffles(op(spatial.head)) == 1)
      assert(shuffles(op(temporal)) == 1)
    }
  }

  test("levelUp refuses a layout it cannot halve and names it") {
    def on(lc: Int, lr: Int) = RasterLayer.fromCells(Seq((0L, 0L, 1.0)).toDF("x", "y", "v"),
      LayoutDefinition(Extent(0, 0, lc * 4.0, lr * 4.0), TileLayout(lc, lr, 4, 4)))
    for ((lc, lr) <- Seq((3, 3), (2, 1), (1, 1))) {
      val e = intercept[IllegalArgumentException](Pyramid.levelUp(on(lc, lr)))
      assert(e.getMessage.contains(s"${lc}x$lr"), e.getMessage)
    }
    val odd = RasterLayer.fromCells(Seq((0L, 0L, 1.0)).toDF("x", "y", "v"),
      LayoutDefinition(Extent(0, 0, 6, 6), TileLayout(2, 2, 3, 3)))
    assert(intercept[IllegalArgumentException](Pyramid.levelUp(odd)).getMessage.contains("3x3"))
  }

  test("Pyramid.build on a 2^k x 2^k layout reaches zoom 0") {
    val levels = Pyramid.build(spatial.head)
    assert(levels.map(_._1) == Seq(2, 1, 0))
    assert(levels.map(_._2.meta.layout.tileLayout.layoutCols) == Seq(4, 2, 1))
    val top = levels.last._2.toCells.as[(Long, Long, Double)].collect()
    assert(top.nonEmpty && top.forall { case (x, y, _) => x < 4 && y < 4 })
  }
}
