package graft.raster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Extent, LayoutDefinition, TileLayout}

/** Grid resampling — the cell-value side of the reference's
  * ResampleMethod (constants.py:123-135): NearestNeighbor, Bilinear,
  * CubicConvolution, CubicSpline, Lanczos (kernel family, tiled
  * gather below) and Average/Mode/Median/Max/Min (aggregate family,
  * one groupBy), used by reproject/tile_to_layout (layer.py:876,900).
  *
  * Verification-scale shape: the 4 corner gathers are cell-level joins
  * (exact, oracle-matching). At production scale the same gather runs
  * tile-wise: a target tile maps to a bounded source-tile rect
  * (ceil(scale)+1 tiles square), shipped through the one
  * [[TileExchange]] shuffle that also carries the focal halos — same
  * math, one keyed shuffle.
  */
object Resample {

  /** Separable resampling kernel: `support` is the one-sided tap
    * extent in source cells (2 => 4x4 taps), `weight(d)` the tap
    * weight at distance d from the sample point. */
  sealed trait Kernel extends Serializable {
    def support: Int
    def weight(d: Double): Double
  }
  object Kernel {
    /** Keys' cubic convolution, a = -0.5 (the GDAL/geotrellis
      * "CubicConvolution" default). Formula order mirrors the oracle
      * SQL text. */
    case object CubicConvolution extends Kernel {
      val support = 2
      def weight(d0: Double): Double = {
        val d = math.abs(d0)
        if (d <= 1.0) 1.5 * d * d * d - 2.5 * d * d + 1.0
        else if (d < 2.0) -0.5 * d * d * d + 2.5 * d * d - 4.0 * d + 2.0
        else 0.0
      }
    }
    /** Cubic B-spline (approximating — smooths, never overshoots). */
    case object CubicSpline extends Kernel {
      val support = 2
      def weight(d0: Double): Double = {
        val d = math.abs(d0)
        if (d <= 1.0) (3.0 * d * d * d - 6.0 * d * d + 4.0) / 6.0
        else if (d < 2.0) { val t = 2.0 - d; t * t * t / 6.0 }
        else 0.0
      }
    }
    /** Lanczos, 3 lobes. */
    case object Lanczos extends Kernel {
      val support = 3
      private def sinc(x: Double): Double =
        if (x == 0.0) 1.0 else { val px = math.Pi * x; math.sin(px) / px }
      def weight(d0: Double): Double = {
        val d = math.abs(d0)
        if (d < 3.0) sinc(d) * sinc(d / 3.0) else 0.0
      }
    }
  }

  /** Bilinear resample of a unit-grid layer (srcN x srcN cells) to
    * dstN x dstN. Output cells (x, y, v); a target cell is NoData
    * unless all 4 source corners exist. */
  def bilinearCells(layer: RasterLayer, srcN: Int, dstN: Int): DataFrame = {
    val spark = layer.spark
    val cells = layer.toCells
    val t = spark.range(dstN).select(col("id").as("i"))
      .crossJoin(spark.range(dstN).select(col("id").as("j")))
      .withColumn("sx", (col("i") + lit(0.5)) * srcN / dstN - lit(0.5))
      .withColumn("sy", (col("j") + lit(0.5)) * srcN / dstN - lit(0.5))
      .withColumn("x0", floor(col("sx")).cast("long"))
      .withColumn("y0", floor(col("sy")).cast("long"))
      .withColumn("fx", col("sx") - col("x0"))
      .withColumn("fy", col("sy") - col("y0"))
    def corner(n: String, dx: Int, dy: Int) =
      cells.select((col("x") - dx).as("x0"), (col("y") - dy).as("y0"), col("v").as(n))
    t.join(corner("va", 0, 0), Seq("x0", "y0"))
      .join(corner("vb", 1, 0), Seq("x0", "y0"))
      .join(corner("vc", 0, 1), Seq("x0", "y0"))
      .join(corner("vd", 1, 1), Seq("x0", "y0"))
      .select(col("i").as("x"), col("j").as("y"),
        (col("va") * (lit(1.0) - col("fx")) * (lit(1.0) - col("fy")) +
         col("vb") * col("fx") * (lit(1.0) - col("fy")) +
         col("vc") * (lit(1.0) - col("fx")) * col("fy") +
         col("vd") * col("fx") * col("fy")).as("v"))
  }

  /** Tile-wise kernel resample (CubicConvolution / CubicSpline /
    * Lanczos) — same gather shape as bilinearTiled: each source tile
    * ships to the bounded set of target tiles its cells can influence
    * (kernel support widens the overlap by a constant), one keyed
    * shuffle, then each target tile convolves locally. Weights are
    * normalized by their sum (partition-of-unity holds exactly for
    * cubic convolution, approximately for lanczos); a target cell is
    * NoData unless every tap in the (2*support)^2 window exists. */
  def kernelTiled(layer: RasterLayer, srcN: Int, dstN: Int, kernel: Kernel,
                  dstTile: Int = 64): RasterLayer = {
    require(dstN % dstTile == 0, "dst grid must tile evenly")
    val dstLc = dstN / dstTile
    val sup = kernel.support

    def iForSx(sx: Double): Double = (sx + 0.5) * dstN / srcN - 0.5
    def dstRange(tileIdx: Int, cells: Int): Range = {
      val m = sup + 1
      val lo = math.floor(iForSx(tileIdx.toLong * cells - m)).toInt
      val hi = math.ceil(iForSx((tileIdx + 1).toLong * cells + m)).toInt
      val dMin = math.max(0, lo / dstTile)
      val dMax = math.min(dstLc - 1, hi / dstTile)
      dMin to dMax
    }
    def compute(dc: Int, dr: Int, cell: TileExchange.Cells): Array[Double] = {
      val outTile = new Array[Double](dstTile * dstTile)
      var j = 0
      while (j < dstTile) {
        var i = 0
        while (i < dstTile) {
          val gi = dc.toLong * dstTile + i
          val gj = dr.toLong * dstTile + j
          val sx = (gi + 0.5) * srcN / dstN - 0.5
          val sy = (gj + 0.5) * srcN / dstN - 0.5
          val x0 = math.floor(sx).toLong; val y0 = math.floor(sy).toLong
          var num = 0.0; var den = 0.0; var nan = false
          var ky = 1 - sup
          while (ky <= sup && !nan) {
            val wy = kernel.weight(sy - (y0 + ky))
            var kx = 1 - sup
            while (kx <= sup && !nan) {
              val v = cell(x0 + kx, y0 + ky)
              if (v.isNaN) nan = true
              else {
                val w = kernel.weight(sx - (x0 + kx)) * wy
                num += w * v; den += w
              }
              kx += 1
            }
            ky += 1
          }
          outTile(j * dstTile + i) = if (nan) Double.NaN else num / den
          i += 1
        }
        j += 1
      }
      outTile
    }

    tiled(layer, srcN, dstN, dstTile, dstRange)(compute)
  }

  /** Area-weighted average resample for FRACTIONAL ratios (gdalwarp
    * -r average, the anti-aliasing downsample/warp GDAL recommends):
    * each target cell's value is the overlap-area-weighted mean of
    * every source cell it covers. With integer grid sizes the overlap
    * weights are EXACT integers in 1/dstN-of-a-source-cell units —
    * wx = min(dstN·(x+1), srcN·(tx+1)) − max(dstN·x, srcN·tx) — so
    * numerator and denominator are exact Longs and ONE closing
    * division produces the value (round 5 in the oracle contract).
    * NoData source cells drop out of both sums (the GDAL nodata
    * rule); a target cell covering only NoData emits NoData.
    *
    * Scale shape: the same single-shuffle tile gather as the kernel
    * resamples ([[tiled]]); each source tile ships to the
    * bounded set of target tiles its span overlaps. */
  def areaAverageTiled(layer: RasterLayer, srcN: Int, dstN: Int,
                       dstTile: Int = 64): RasterLayer = {
    require(dstN % dstTile == 0, "dst grid must tile evenly")
    val dstLc = dstN / dstTile

    // target cells overlapping a source tile's span (exact int math)
    def dstRange(tileIdx: Int, cells: Int): Range = {
      val s0 = tileIdx.toLong * cells; val s1 = (tileIdx + 1).toLong * cells
      val txLo = (dstN * s0 / srcN).toInt
      val txHi = ((dstN * s1 - 1) / srcN).toInt
      math.max(0, txLo / dstTile) to math.min(dstLc - 1, txHi / dstTile)
    }

    def compute(dc: Int, dr: Int, cell: TileExchange.Cells): Array[Double] = {
      val outTile = Array.fill(dstTile * dstTile)(Double.NaN)
      var j = 0
      while (j < dstTile) {
        var i = 0
        while (i < dstTile) {
          val tx = dc.toLong * dstTile + i
          val ty = dr.toLong * dstTile + j
          // source cells x with dstN·x < srcN·(tx+1) and dstN·(x+1) > srcN·tx
          val x0 = srcN * tx / dstN; val x1 = (srcN * (tx + 1) - 1) / dstN
          val y0 = srcN * ty / dstN; val y1 = (srcN * (ty + 1) - 1) / dstN
          var num = 0L; var den = 0L
          var y = y0
          while (y <= y1) {
            val wy = math.min(dstN * (y + 1), srcN * (ty + 1)) - math.max(dstN * y, srcN * ty)
            var x = x0
            while (x <= x1) {
              val v = cell(x, y)
              if (!v.isNaN) {
                val wx = math.min(dstN * (x + 1), srcN * (tx + 1)) - math.max(dstN * x, srcN * tx)
                val w = wx * wy
                num += w * v.toLong; den += w
              }
              x += 1
            }
            y += 1
          }
          if (den > 0) outTile(j * dstTile + i) = num.toDouble / den
          i += 1
        }
        j += 1
      }
      outTile
    }

    tiled(layer, srcN, dstN, dstTile, dstRange)(compute)
  }

  /** The tile-wise resample family's regrid: each source tile ships
    * whole to the bounded target-tile set `dstRange` gives, through
    * the one [[TileExchange]] shuffle (keyed by instant too, so
    * instants never mix), and `compute` samples the received
    * srcN x srcN source grid locally. */
  private def tiled(layer: RasterLayer, srcN: Int, dstN: Int, dstTile: Int,
                    dstRange: (Int, Int) => Range)(
                    compute: (Int, Int, TileExchange.Cells) => Array[Double]): RasterLayer = {
    val tl = layer.meta.layout.tileLayout
    val dstLc = dstN / dstTile
    val outMeta = LayerMetadata(LayoutDefinition(Extent(0, 0, dstN, dstN),
      TileLayout(dstLc, dstLc, dstTile, dstTile)), temporal = layer.meta.temporal)
    TileExchange.sample(layer, outMeta, srcN, srcN) { (c, r) =>
      for (dc <- dstRange(c, tl.tileCols).iterator; dr <- dstRange(r, tl.tileRows)) yield (dc, dr)
    }(compute)
  }

  /** Aggregate (downsampling) resample — reference ResampleMethod
    * Average/Mode/Median/Max/Min (constants.py:129-134) plus Sum: each
    * source cell center lands in target cell floor((x+0.5)*dstN/srcN);
    * duplicates collapse by the method. Declarative groupBy — map-side
    * partial aggregation for Average/Sum/Max/Min; Mode/Median carry
    * the bounded (srcN/dstN)^2-cell block per target cell. Mode ties
    * break by (count DESC, value ASC) — deterministic. */
  def aggregateCells(layer: RasterLayer, srcN: Int, dstN: Int,
                     method: String): DataFrame = {
    val cells = layer.toCells
      .select(
        floor((col("x") + lit(0.5)) * dstN / srcN).cast("long").as("x"),
        floor((col("y") + lit(0.5)) * dstN / srcN).cast("long").as("y"),
        col("v"))
    method match {
      case "Average" =>
        cells.groupBy("x", "y").agg((sum("v") / count(lit(1))).as("v"))
      case "Sum" => cells.groupBy("x", "y").agg(sum("v").as("v"))
      case "Max" => cells.groupBy("x", "y").agg(max("v").as("v"))
      case "Min" => cells.groupBy("x", "y").agg(min("v").as("v"))
      case "Median" =>
        cells.groupBy("x", "y").agg(expr("percentile(v, 0.5)").as("v"))
      case "Mode" =>
        val counts = cells.groupBy("x", "y", "v").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("x", "y").orderBy(col("cnt").desc, col("v").asc)
        counts.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select(col("x"), col("y"), col("v"))
      case m => throw new IllegalArgumentException(s"unknown aggregate resample $m")
    }
  }

  /** Tile-wise bilinear resample — the scale path: each SOURCE tile
    * ships to the bounded set of target tiles whose inverse-mapped
    * cell windows overlap it (overlap factor ~(1+scale)^2 tiles), one
    * keyed shuffle, then each target tile interpolates locally from
    * its received source tiles. Identical cell math to bilinearCells
    * (same IEEE op order), so the same oracle covers both paths.
    * Raster reproject generalizes this gather with a CRS-inverse in
    * place of the linear map. */
  def bilinearTiled(layer: RasterLayer, srcN: Int, dstN: Int,
                    dstTile: Int = 64): RasterLayer = {
    require(dstN % dstTile == 0, "dst grid must tile evenly")
    val dstLc = dstN / dstTile

    // dst cell coordinate whose sample point maps to source coord sx
    def iForSx(sx: Double): Double = (sx + 0.5) * dstN / srcN - 0.5
    def dstRange(tileIdx: Int, cells: Int): Range = {
      val lo = math.floor(iForSx(tileIdx.toLong * cells - 2)).toInt
      val hi = math.ceil(iForSx((tileIdx + 1).toLong * cells + 2)).toInt
      val dMin = math.max(0, lo / dstTile)
      val dMax = math.min(dstLc - 1, hi / dstTile)
      dMin to dMax
    }
    def compute(dc: Int, dr: Int, cell: TileExchange.Cells): Array[Double] = {
      val outTile = new Array[Double](dstTile * dstTile)
      var j = 0
      while (j < dstTile) {
        var i = 0
        while (i < dstTile) {
          val gi = dc.toLong * dstTile + i
          val gj = dr.toLong * dstTile + j
          // identical expression order to bilinearCells / the oracle
          val sx = (gi + 0.5) * srcN / dstN - 0.5
          val sy = (gj + 0.5) * srcN / dstN - 0.5
          val x0 = math.floor(sx).toLong; val y0 = math.floor(sy).toLong
          val fx = sx - x0; val fy = sy - y0
          val va = cell(x0, y0); val vb = cell(x0 + 1, y0)
          val vc = cell(x0, y0 + 1); val vd = cell(x0 + 1, y0 + 1)
          outTile(j * dstTile + i) =
            if (va.isNaN || vb.isNaN || vc.isNaN || vd.isNaN) Double.NaN
            else va * (1.0 - fx) * (1.0 - fy) + vb * fx * (1.0 - fy) +
                 vc * (1.0 - fx) * fy + vd * fx * fy
          i += 1
        }
        j += 1
      }
      outTile
    }

    tiled(layer, srcN, dstN, dstTile, dstRange)(compute)
  }
}
