package graft.raster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CRS, Extent, LayoutDefinition}

/** Raster reprojection — reference layer.py reproject (:876,1668):
  * build the target layout, inverse-project each target cell center into
  * the source CRS, and sample the source grid (nearest neighbor here;
  * bilinear composes with Resample).
  *
  * Spark shape: target cells are generated distributed, the inverse
  * transform is pure codegen'd column math, and sampling is ONE keyed
  * join against the source cells. At production scale the join becomes
  * a tile-wise gather (each target tile maps to a bounded source-tile
  * rect) through the one [[TileExchange]] shuffle that also carries
  * the focal halos and the tiled resamples; same math, same single
  * shuffle, each instant of a spacetime layer on its own.
  */
object Reproject {

  /** Reproject a unit-grid layer interpreted as lat/lng (degrees =
    * gridCoord * degPerCell) onto an N x N web-mercator grid covering
    * the same geographic box. Returns target cells (x, y, v). */
  def latLngGridToWebMercator(layer: RasterLayer, degPerCell: Double): DataFrame = {
    val spark = layer.spark
    val n = layer.meta.layout.tileLayout.totalCols
    val src = layer.toCells

    // geographic box of the source grid
    val lonMax = n * degPerCell
    val latMax = n * degPerCell
    // mercator bounds of that box (driver-side, exact same formulas)
    val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(lonMax)
    val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(latMax)
    val cw = (mxMax - mxMin) / n
    val ch = (myMax - myMin) / n

    val targets = spark.range(n).select(col("id").as("tx"))
      .crossJoin(spark.range(n).select(col("id").as("ty")))
      // target cell center in mercator coords (y-down rows)
      .withColumn("mx", lit(mxMin) + (col("tx") + lit(0.5)) * cw)
      .withColumn("my", lit(myMax) - (col("ty") + lit(0.5)) * ch)
      // inverse web-mercator -> degrees
      .withColumn("lon", degrees(col("mx") / CRS.EarthRadius))
      .withColumn("lat", degrees(atan(exp(col("my") / CRS.EarthRadius)) * 2 - lit(math.Pi / 2)))
      // nearest source cell (y-down: grid y counts down from latMax)
      .withColumn("x", floor(col("lon") / degPerCell).cast("long"))
      .withColumn("y", floor((lit(latMax) - col("lat")) / degPerCell).cast("long"))
    targets.join(src, Seq("x", "y"))
      .select(col("tx").as("x"), col("ty").as("y"), col("v"))
  }

  /** Tile-wise variant of [[latLngGridToWebMercator]] — the scale
    * path: each source tile forward-projects its corner window to find
    * the bounded set of target tiles it can feed (CRS transforms are
    * monotone per axis), ships itself there in the ONE keyed
    * [[TileExchange]] shuffle, and each target tile inverse-samples
    * locally. Cell math identical to the join variant, so the same
    * oracle covers both.
    *
    * `method` selects the warp resampling kernel — the reference's
    * ResampleMethod family (layer.py:876; constants.py:123-135):
    *  - "NearestNeighbor" (default), "Bilinear" (4-corner weighted),
    *  - "CubicConvolution": Keys 1981 bicubic, a = -0.5 (the GDAL/
    *    geotrellis default); 4x4 window, any missing sample -> NoData,
    *  - "CubicSpline": cubic B-spline (gdalwarp -r cubicspline) —
    *    same 4x4 window, APPROXIMATING kernel (smooths),
    *  - "Average"/"Max"/"Min"/"Median"/"Mode": footprint aggregates —
    *    the target cell's mercator footprint is inverse-projected to
    *    the source grid and every source cell whose CENTER falls in
    *    the half-open box contributes (gdalwarp -r average / the
    *    geotrellis AggregateResample family). Mode ties -> smallest
    *    value; Median interpolates the two middles (quantile_cont).
    * Lanczos is not supported (throws). */
  def latLngGridToWebMercatorTiled(layer: RasterLayer, degPerCell: Double,
                                   dstTile: Int = 64,
                                   bilinear: Boolean = false,
                                   dstCols: Int = 0,
                                   method: String = ""): RasterLayer = {
    import graft.core.TileLayout
    val m = if (method.nonEmpty) method else if (bilinear) "Bilinear" else "NearestNeighbor"
    val Footprint = Set("Average", "Max", "Min", "Median", "Mode")
    require(m == "NearestNeighbor" || m == "Bilinear" ||
      m == "CubicConvolution" || m == "CubicSpline" || Footprint(m),
      s"unsupported resample method '$m'")
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val n = tl.totalCols.toInt
    // target resolution (defaults to the source's). NOTE for bilinear:
    // mercator x is LINEAR in lon, so a 1:1 resolution puts every
    // sample's gx - 0.5 an ulp from a floor boundary — callers must
    // pick dn with (2i+1)*n never equal to (2k+1)*dn (e.g. n/dn =
    // 32/25: odd*32 != odd*25), which makes the boundary unreachable
    val dn = if (dstCols > 0) dstCols else n
    require(dn % dstTile == 0)
    val dstLc = dn / dstTile

    val lonMax = n * degPerCell; val latMax = n * degPerCell
    val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(lonMax)
    val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(latMax)
    val cw = (mxMax - mxMin) / dn
    val ch = (myMax - myMin) / dn

    // target-tile rect a source tile can feed: forward project the
    // tile's geographic window to the mercator grid, pad one cell
    def dstRect(c: Int, r: Int): Seq[(Int, Int)] = {
      val lonLo = c.toLong * tc * degPerCell
      val lonHi = (c + 1).toLong * tc * degPerCell
      val latHi = latMax - r.toLong * tr * degPerCell
      val latLo = latMax - (r + 1).toLong * tr * degPerCell
      def txOf(lon: Double) = (CRS.lngToMercX(lon) - mxMin) / cw
      def tyOf(lat: Double) = (myMax - CRS.latToMercY(lat)) / ch
      // bilinear reaches one source cell past the NN cell (pad 2),
      // cubic two (pad 3); footprint methods reach the projected cell
      // edges (< 1 source cell past center at these ratios, pad 3 for
      // slack). Pad affects only which tiles SHIP, never the values.
      val pad = m match {
        case "NearestNeighbor" => 1
        case "Bilinear"        => 2
        case _                 => 3
      }
      val txLo = math.max(0, math.floor(txOf(lonLo) - pad).toInt / dstTile)
      val txHi = math.min(dstLc - 1, math.ceil(txOf(lonHi) + pad).toInt / dstTile)
      val tyLo = math.max(0, math.floor(tyOf(latHi) - pad).toInt / dstTile)
      val tyHi = math.min(dstLc - 1, math.ceil(tyOf(latLo) + pad).toInt / dstTile)
      for (dc <- txLo to txHi; dr <- tyLo to tyHi) yield (dc, dr)
    }

    def compute(dc: Int, dr: Int, sv: TileExchange.Cells): Array[Double] = {
      val outTile = Array.fill(dstTile * dstTile)(Double.NaN)
      var j = 0
      while (j < dstTile) {
        var i = 0
        while (i < dstTile) {
          val gi = dc.toLong * dstTile + i
          val gj = dr.toLong * dstTile + j
          // identical expression order to the join variant / oracle
          val mx = mxMin + (gi + 0.5) * cw
          val my = myMax - (gj + 0.5) * ch
          val lon = math.toDegrees(mx / CRS.EarthRadius)
          val lat = math.toDegrees(math.atan(math.exp(my / CRS.EarthRadius)) * 2 - math.Pi / 2)
          m match {
            case "Bilinear" =>
              // 4-corner weighted sample at cell centers, pinned term
              // order (the pointValuesBilinear contract); any missing
              // corner -> NaN propagates -> NoData
              val gx = lon / degPerCell
              val gyv = (latMax - lat) / degPerCell
              val x0 = math.floor(gx - 0.5).toLong
              val y0 = math.floor(gyv - 0.5).toLong
              if (x0 >= 0 && x0 + 1 < n && y0 >= 0 && y0 + 1 < n) {
                val fx = gx - 0.5 - x0
                val fy = gyv - 0.5 - y0
                val v = (1 - fx) * (1 - fy) * sv(x0, y0) + fx * (1 - fy) * sv(x0 + 1, y0) +
                  (1 - fx) * fy * sv(x0, y0 + 1) + fx * fy * sv(x0 + 1, y0 + 1)
                outTile(j * dstTile + i) = v
              }
            case "CubicConvolution" | "CubicSpline" =>
              // separable 4x4 kernels at cell centers; Horner forms +
              // term order IDENTICAL to the SQL twins; any missing
              // sample -> NaN -> NoData.
              //  CubicConvolution: Keys 1981, a = -0.5 (interpolating)
              //    near |t|<1: ((1.5t - 2.5)t)t + 1
              //    far 1<=|t|<2: ((-0.5t + 2.5)t - 4)t + 2
              //  CubicSpline: cubic B-spline (gdalwarp -r cubicspline,
              //    APPROXIMATING — smooths, does not interpolate)
              //    near: ((0.5t - 1)t)t + 2/3
              //    far:  ((-(1/6)t + 1)t - 2)t + 4/3
              val spline = m == "CubicSpline"
              val gx = lon / degPerCell
              val gyv = (latMax - lat) / degPerCell
              val x0 = math.floor(gx - 0.5).toLong
              val y0 = math.floor(gyv - 0.5).toLong
              if (x0 >= 1 && x0 + 2 < n && y0 >= 1 && y0 + 2 < n) {
                val fx = gx - 0.5 - x0
                val fy = gyv - 0.5 - y0
                def wNear(t: Double): Double =
                  if (spline) ((0.5 * t - 1.0) * t) * t + 2.0 / 3.0
                  else ((1.5 * t - 2.5) * t) * t + 1.0
                def wFar(t: Double): Double =
                  if (spline) ((-(1.0 / 6.0) * t + 1.0) * t - 2.0) * t + 4.0 / 3.0
                  else ((-0.5 * t + 2.5) * t - 4.0) * t + 2.0
                val wxm = wFar(fx + 1.0)
                val wx0 = wNear(fx)
                val wx1 = wNear(1.0 - fx)
                val wx2 = wFar(2.0 - fx)
                val wym = wFar(fy + 1.0)
                val wy0 = wNear(fy)
                val wy1 = wNear(1.0 - fy)
                val wy2 = wFar(2.0 - fy)
                def rowAt(yy: Long): Double =
                  wxm * sv(x0 - 1, yy) + wx0 * sv(x0, yy) +
                    wx1 * sv(x0 + 1, yy) + wx2 * sv(x0 + 2, yy)
                outTile(j * dstTile + i) =
                  wym * rowAt(y0 - 1) + wy0 * rowAt(y0) +
                    wy1 * rowAt(y0 + 1) + wy2 * rowAt(y0 + 2)
              }
            case "NearestNeighbor" =>
              val x = math.floor(lon / degPerCell).toLong
              val y = math.floor((latMax - lat) / degPerCell).toLong
              if (x >= 0 && x < n && y >= 0 && y < n) {
                val t = sv(x, y)
                if (!t.isNaN) outTile(j * dstTile + i) = t
              }
            case _ => // footprint aggregate family
              // half-open box of source-grid coords whose CELL CENTERS
              // the target cell's mercator footprint covers; edge
              // expressions identical to the SQL twin
              val gxLo = math.toDegrees((mxMin + gi * cw) / CRS.EarthRadius) / degPerCell
              val gxHi = math.toDegrees((mxMin + (gi + 1) * cw) / CRS.EarthRadius) / degPerCell
              val gyLo = (latMax - math.toDegrees(math.atan(math.exp((myMax - gj * ch) / CRS.EarthRadius)) * 2 - math.Pi / 2)) / degPerCell
              val gyHi = (latMax - math.toDegrees(math.atan(math.exp((myMax - (gj + 1) * ch) / CRS.EarthRadius)) * 2 - math.Pi / 2)) / degPerCell
              val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
              var y = math.max(0L, math.ceil(gyLo - 0.5).toLong)
              while (y < n && y + 0.5 < gyHi) {
                if (y + 0.5 >= gyLo) {
                  var x = math.max(0L, math.ceil(gxLo - 0.5).toLong)
                  while (x < n && x + 0.5 < gxHi) {
                    if (x + 0.5 >= gxLo) {
                      val t = sv(x, y)
                      if (!t.isNaN) buf += t
                    }
                    x += 1
                  }
                }
                y += 1
              }
              if (buf.nonEmpty) {
                outTile(j * dstTile + i) = m match {
                  case "Average" => buf.sum / buf.size
                  case "Max"     => buf.max
                  case "Min"     => buf.min
                  case "Median"  =>
                    // quantile_cont(0.5): interpolate the two middles
                    val s = buf.sorted
                    if (s.length % 2 == 1) s(s.length / 2)
                    else s(s.length / 2 - 1) + 0.5 * (s(s.length / 2) - s(s.length / 2 - 1))
                  case "Mode" =>
                    // most frequent, ties -> smallest value
                    buf.groupBy(identity).toSeq
                      .map { case (v, g) => (v, g.size) }
                      .minBy { case (v, c) => (-c, v) }._1
                }
              }
          }
          i += 1
        }
        j += 1
      }
      outTile
    }

    val outMeta = LayerMetadata(LayoutDefinition(Extent(mxMin, myMin, mxMax, myMax),
      TileLayout(dstLc, dstLc, dstTile, dstTile)), temporal = layer.meta.temporal)

    // spacetime reproject (TemporalTiledRasterLayer.reproject): each
    // instant reprojects independently in the one exchange
    TileExchange.sample(layer, outMeta, n, n)((c, r) => dstRect(c, r).iterator)(compute)
  }

  /** General tiled reproject between ARBITRARY CRSs (reference
    * layer.py:876 accepts any target_crs — EPSG int or proj4 string;
    * see [[graft.core.CRS.fromName]] for the registry): inverse-sample
    * each target cell center through dst.inverse -> lon/lat ->
    * src.forward, nearest neighbor.
    *
    * Same scale shape as [[latLngGridToWebMercatorTiled]]: each source
    * tile forward-projects a 5x5 grid of its world window (quarter-
    * tile chords) to bound the target tiles it can feed, ships itself
    * there in ONE keyed shuffle, and each target tile samples
    * locally. Coverage is a sampling HEURISTIC, not a proof: the
    * projected bbox is padded by two destination pixels, so the
    * transform's curvature between adjacent samples must sag less
    * than that — which holds for the supported smooth projections
    * (Mercator/UTM/stereographic/LCC) away from their domain edges;
    * quartering the chord length cuts the sag ~16x vs corner-only
    * sampling. A tile feeding targets beyond the padded bbox (extreme
    * polar/zone-edge geometry) would leave those cells NoData. */
  def reprojectTiled(layer: RasterLayer, srcCrs: graft.core.CRS.Transform,
                     dstCrs: graft.core.CRS.Transform,
                     dstLayout: LayoutDefinition,
                     method: String = "NearestNeighbor"): RasterLayer = {
    require(method == "NearestNeighbor" || method == "Bilinear",
      s"reprojectTiled supports NearestNeighbor/Bilinear (got '$method'); " +
        "the full kernel family rides the web-mercator warp")
    val bilinear = method == "Bilinear"
    val sl = layer.meta.layout; val stl = sl.tileLayout
    val (tc, tr) = (stl.tileCols, stl.tileRows)
    val dtl = dstLayout.tileLayout
    val (dtc, dtr) = (dtl.tileCols, dtl.tileRows)
    val sx0 = sl.extent.xmin; val syTop = sl.extent.ymax
    val scw = sl.cellWidth; val sch = sl.cellHeight
    val dx0 = dstLayout.extent.xmin; val dyTop = dstLayout.extent.ymax
    val dcw = dstLayout.cellWidth; val dch = dstLayout.cellHeight

    def dstRect(c: Int, r: Int): Seq[(Int, Int)] = {
      val fracs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
      val xs = fracs.map(f => sx0 + (c + f) * tc * scw)
      val ys = fracs.map(f => syTop - (r + f) * tr * sch)
      val pts = for (x <- xs; y <- ys) yield {
        val (lon, lat) = srcCrs.inverse(x, y)
        dstCrs.forward(lon, lat)
      }
      def gx(wx: Double) = (wx - dx0) / dcw
      def gy(wy: Double) = (dyTop - wy) / dch
      // 2-pixel pad over the sampled bbox (see scaladoc for the sag
      // bound this assumes), one extra target pixel per source cell of
      // bilinear reach; floorDiv keeps negative coords correct
      val pad = if (bilinear) 2 + math.ceil(scw / dcw).toInt else 2
      val txLo = math.max(0, Math.floorDiv(math.floor(pts.map(p => gx(p._1)).min - pad).toInt, dtc))
      val txHi = math.min(dtl.layoutCols - 1, Math.floorDiv(math.ceil(pts.map(p => gx(p._1)).max + pad).toInt, dtc))
      val tyLo = math.max(0, Math.floorDiv(math.floor(pts.map(p => gy(p._2)).min - pad).toInt, dtr))
      val tyHi = math.min(dtl.layoutRows - 1, Math.floorDiv(math.ceil(pts.map(p => gy(p._2)).max + pad).toInt, dtr))
      for (dc <- txLo to txHi; dr <- tyLo to tyHi) yield (dc, dr)
    }

    def compute(dc: Int, dr: Int, sv: TileExchange.Cells): Array[Double] = {
      val outTile = Array.fill(dtc * dtr)(Double.NaN)
      var j = 0
      while (j < dtr) {
        var i = 0
        while (i < dtc) {
          val wx = dx0 + (dc.toLong * dtc + i + 0.5) * dcw
          val wy = dyTop - (dr.toLong * dtr + j + 0.5) * dch
          val (lon, lat) = dstCrs.inverse(wx, wy)
          val (sx, sy) = srcCrs.forward(lon, lat)
          if (bilinear) {
            // 4-corner weighted sample at source cell centers — the
            // latLngGridToWebMercatorTiled kernel on arbitrary CRSs
            // (pinned term order; any missing corner -> NaN -> NoData).
            // Callers pick resolutions keeping gx - 0.5 off floor
            // boundaries (the 32/25 rule)
            val gx = (sx - sx0) / scw
            val gyv = (syTop - sy) / sch
            val x0 = math.floor(gx - 0.5).toLong
            val y0 = math.floor(gyv - 0.5).toLong
            if (x0 >= 0 && x0 + 1 < stl.totalCols && y0 >= 0 && y0 + 1 < stl.totalRows) {
              val fx = gx - 0.5 - x0
              val fy = gyv - 0.5 - y0
              outTile(j * dtc + i) =
                (1 - fx) * (1 - fy) * sv(x0, y0) + fx * (1 - fy) * sv(x0 + 1, y0) +
                  (1 - fx) * fy * sv(x0, y0 + 1) + fx * fy * sv(x0 + 1, y0 + 1)
            }
          } else {
            val gx = math.floor((sx - sx0) / scw).toLong
            val gy = math.floor((syTop - sy) / sch).toLong
            if (gx >= 0 && gx < stl.totalCols && gy >= 0 && gy < stl.totalRows) {
              val t = sv(gx, gy)
              if (!t.isNaN) outTile(j * dtc + i) = t
            }
          }
          i += 1
        }
        j += 1
      }
      outTile
    }

    val outMeta = LayerMetadata(dstLayout, temporal = layer.meta.temporal)
    TileExchange.sample(layer, outMeta, stl.totalCols, stl.totalRows)(
      (c, r) => dstRect(c, r).iterator)(compute)
  }

  /** Name-based variant — the reference's `reproject(target_crs)`
    * surface: CRS names resolve via [[graft.core.CRS.fromName]]
    * ("EPSG:32618", "+proj=utm +zone=18", 4326, 3857, ...). */
  def reprojectTiled(layer: RasterLayer, srcCrs: String, dstCrs: String,
                     dstLayout: LayoutDefinition): RasterLayer =
    reprojectTiled(layer, graft.core.CRS.fromName(srcCrs),
      graft.core.CRS.fromName(dstCrs), dstLayout)
}
