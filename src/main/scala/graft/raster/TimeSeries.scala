package graft.raster

import org.apache.spark.sql.functions._

private[raster] final case class TileRowOut(col: Int, row: Int, tile: Seq[Double])
private[raster] final case class TileRowOutT(col: Int, row: Int, instant: Long, tile: Seq[Double])

/** Per-cell time-series repair and smoothing over SPACETIME layers —
  * the gap-filled / smoothed composite steps of optical time-series
  * pipelines (cloud-gap interpolation, temporal denoise; the
  * reference's TemporalTiledRasterLayer carries the layout, these ops
  * supply the per-cell temporal math geotrellis users reach for
  * next).
  *
  * Spark shape: ONE groupByKey on (col, row) assembles each tile's
  * full instant stack (|instants| tiles per group — the time
  * dimension is the short axis at raster scale), and the per-cell
  * walk runs in-executor. Output instants are an EXPLICIT parameter,
  * so results never depend on which tiles happened to be present at
  * an instant (cell-level semantics only — a missing tile behaves
  * exactly like a tile of NoData).
  */
object TimeSeries {

  /** Linear gap-fill: for each requested instant, a cell keeps its
    * valid value; a missing/NoData cell takes the linear
    * interpolation between its NEAREST valid instants before and
    * after — v = vp + (vn − vp)·((t − tp)/(tn − tp)) — and stays
    * NoData when either side is missing (no extrapolation). */
  def fillGaps(layer: RasterLayer, instants: Seq[Long]): RasterLayer =
    walk(layer, instants) { (m, sorted, idx, t) =>
      val cur = m.get(t).map(_(idx)).getOrElse(Double.NaN)
      if (!cur.isNaN) cur
      else {
        var tp = Long.MinValue; var tn = Long.MaxValue
        var vp = Double.NaN; var vn = Double.NaN
        var i = 0
        while (i < sorted.length) {
          val ti = sorted(i)
          val v = m(ti)(idx)
          if (!v.isNaN) {
            if (ti < t && ti > tp) { tp = ti; vp = v }
            if (ti > t && ti < tn) { tn = ti; vn = v }
          }
          i += 1
        }
        if (tp == Long.MinValue || tn == Long.MaxValue) Double.NaN
        else vp + (vn - vp) * ((t - tp).toDouble / (tn - tp).toDouble)
      }
    }

  /** Temporal moving average: per cell, the mean of its valid values
    * at instants within `radius` of t (inclusive, t itself included);
    * cells with no valid value in the window stay NoData. Valid cells
    * are smoothed AND isolated gaps narrower than the window fill. */
  def movingAverage(layer: RasterLayer, instants: Seq[Long],
                    radius: Long = 1L): RasterLayer =
    walk(layer, instants) { (m, sorted, idx, t) =>
      var s = 0.0; var n = 0L
      var i = 0
      while (i < sorted.length) {
        val ti = sorted(i)
        if (math.abs(ti - t) <= radius) {
          val v = m(ti)(idx)
          if (!v.isNaN) { s += v; n += 1 }
        }
        i += 1
      }
      if (n == 0) Double.NaN else s / n
    }

  /** Per-cell Mann-Kendall trend test + Sen's slope — the standard
    * NONPARAMETRIC trend pair remote-sensing time-series analysis
    * runs next to the least-squares fit ([[RasterLayer.temporalTrend]]):
    * S = Σ_{i<j} sign(v_j − v_i) over the instant-ordered valid values
    * (S > 0 monotone increase, magnitude vs n gives significance) and
    * Sen's slope = median of the pairwise slopes
    * (v_j − v_i)/(t_j − t_i) — robust to outliers where least squares
    * is not (Mann 1945; Sen 1968).
    *
    * Spark shape: the same ONE (col, row) groupByKey as [[fillGaps]]
    * (the short-instant-axis discipline) — the O(T²) pairwise loop
    * runs in-executor per cell over the bounded time axis; output is
    * one row per cell with ≥ 2 valid instants.
    *
    * Determinism: S and n are exact integers; each slope is ONE IEEE
    * division of exact differences stated identically in the oracle;
    * the median of an odd count selects an element exactly, and the
    * even-count midpoint is a single (a+b)/2.0.
    *
    * @return (x, y, n, s, sen) — n valid instants, S statistic,
    *         Sen's slope */
  def mannKendall(layer: RasterLayer): org.apache.spark.sql.DataFrame = {
    require(layer.meta.temporal, "mannKendall needs a spacetime layer")
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val size = tc * tr
    layer.df.select(col("col"), col("row"), col("instant"), col("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(q => (q._1, q._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Seq[Double])]) =>
        val stack = it.map(q => q._3 -> q._4.toArray).toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
        var idx = 0
        while (idx < size) {
          val ts = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          var si = 0
          while (si < stack.length) {
            val v = stack(si)._2(idx)
            if (!v.isNaN) ts += ((stack(si)._1, v))
            si += 1
          }
          val k = ts.length
          if (k >= 2) {
            var s = 0L
            val slopes = new Array[Double](k * (k - 1) / 2)
            var p = 0
            var i = 0
            while (i < k) {
              var j = i + 1
              while (j < k) {
                val dv = ts(j)._2 - ts(i)._2
                s += math.signum(dv).toLong
                slopes(p) = dv / (ts(j)._1 - ts(i)._1).toDouble
                p += 1
                j += 1
              }
              i += 1
            }
            java.util.Arrays.sort(slopes)
            val sen =
              if (slopes.length % 2 == 1) slopes(slopes.length / 2)
              else (slopes(slopes.length / 2 - 1) + slopes(slopes.length / 2)) / 2.0
            out += ((key._1.toLong * tc + idx % tc, key._2.toLong * tr + idx / tc,
              k.toLong, s, sen))
          }
          idx += 1
        }
        out.iterator
      }.toDF("x", "y", "n", "s", "sen")
  }

  /** Per-cell temporal MEDIAN composite — the robust cloud-free
    * compositing step (the median mosaic of Landsat/Sentinel
    * best-pixel pipelines; robust where [[RasterLayer.temporalArgmax]]'s
    * max composite keeps outliers): one SPATIAL output layer whose
    * cells are the median of their valid values across all instants,
    * quantile_cont .5 rule (odd count selects exactly; even count
    * interpolates the two middles — exact binary for integral
    * values). Cells valid at no instant stay NoData.
    *
    * Spark shape: the same ONE (col, row) groupByKey as [[fillGaps]]
    * (short instant axis); the sort-and-select runs in-executor. */
  def medianComposite(layer: RasterLayer): RasterLayer = {
    require(layer.meta.temporal, "medianComposite needs a spacetime layer")
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val size = tl.tileCols * tl.tileRows
    val out = layer.df.select(col("col"), col("row"), col("instant"), col("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(q => (q._1, q._2))
      .mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Seq[Double])]) =>
        val stack = it.map(_._4.toArray).toArray
        val tile = Array.tabulate(size) { idx =>
          val vs = stack.iterator.map(_(idx)).filter(!_.isNaN).toArray
          if (vs.isEmpty) Double.NaN
          else {
            java.util.Arrays.sort(vs)
            if (vs.length % 2 == 1) vs(vs.length / 2)
            else (vs(vs.length / 2 - 1) + vs(vs.length / 2)) / 2.0
          }
        }
        TileRowOut(key._1, key._2, tile.toSeq)
      }
    new RasterLayer(out.toDF(), layer.meta.copy(temporal = false))
  }

  /** Per-cell temporal PERCENTILE composite — [[medianComposite]]'s
    * general-quantile sibling (p25/p75 are the standard cloud/shadow-
    * robust compositing choices): per cell, the quantile_cont(p) of
    * the valid instants — linear interpolation at h = (n−1)·p.
    * Determinism contract: pick DYADIC p (0.25, 0.5, 0.75) so the
    * interpolation weights are exact on integral-valued stacks —
    * every arithmetic step is then exact in both engines and the
    * micro-quantized closing can't straddle a rounding boundary.
    * Same one-groupByKey shape as [[medianComposite]]. */
  def percentileComposite(layer: RasterLayer, p: Double): RasterLayer = {
    require(layer.meta.temporal, "percentileComposite needs a spacetime layer")
    require(p >= 0 && p <= 1, "p in [0, 1]")
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val size = tl.tileCols * tl.tileRows
    val out = layer.df.select(col("col"), col("row"), col("instant"), col("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(q => (q._1, q._2))
      .mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Seq[Double])]) =>
        val stack = it.map(_._4.toArray).toArray
        val tile = Array.tabulate(size) { idx =>
          val vs = stack.iterator.map(_(idx)).filter(!_.isNaN).toArray
          if (vs.isEmpty) Double.NaN
          else {
            java.util.Arrays.sort(vs)
            val h = (vs.length - 1) * p
            val lo = h.toInt
            if (lo >= vs.length - 1) vs(vs.length - 1)
            else vs(lo) + (h - lo) * (vs(lo + 1) - vs(lo))
          }
        }
        TileRowOut(key._1, key._2, tile.toSeq)
      }
    new RasterLayer(out.toDF(), layer.meta.copy(temporal = false))
  }

  /** Per-cell temporal ANOMALY — each instant's deviation from the
    * cell's own across-time mean (the climatology-anomaly step of
    * NDVI/SST monitoring). EXACT integer form: the mean needs a
    * division, so the output carries num = v·n − Σv and n per
    * (cell, instant) — anomaly = num/n, and num/n are exact Longs
    * for integral cells (no float ever crosses a rounding boundary).
    * Cells valid at a single instant report num 0 (they ARE their
    * mean). Same one-groupByKey shape as [[fillGaps]].
    *
    * @return (x, y, instant, n, num) rows */
  def anomaly(layer: RasterLayer): org.apache.spark.sql.DataFrame = {
    require(layer.meta.temporal, "anomaly needs a spacetime layer")
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val size = tc * tr
    layer.df.select(col("col"), col("row"), col("instant"), col("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(q => (q._1, q._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Seq[Double])]) =>
        val stack = it.map(q => q._3 -> q._4.toArray).toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
        var idx = 0
        while (idx < size) {
          var n = 0L
          var s = 0.0
          var si = 0
          while (si < stack.length) {
            val v = stack(si)._2(idx)
            if (!v.isNaN) { n += 1; s += v }
            si += 1
          }
          if (n > 0) {
            val x = key._1.toLong * tc + idx % tc
            val y = key._2.toLong * tr + idx / tc
            si = 0
            while (si < stack.length) {
              val v = stack(si)._2(idx)
              if (!v.isNaN)
                out += ((x, y, stack(si)._1, n, (v * n - s).toLong))
              si += 1
            }
          }
          idx += 1
        }
        out.iterator
      }.toDF("x", "y", "instant", "n", "num")
  }

  /** Shared walk: one (col, row) groupByKey, per-cell function over
    * the sorted instant stack, one output tile per requested instant. */
  private def walk(layer: RasterLayer, instants: Seq[Long])
                  (f: (Map[Long, Array[Double]], Array[Long], Int, Long) => Double): RasterLayer = {
    require(layer.meta.temporal, "time-series ops need a spacetime layer")
    require(instants.nonEmpty)
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val size = tl.tileCols * tl.tileRows
    val ts = instants.toArray.sorted
    val out = layer.df.select(col("col"), col("row"), col("instant"), col("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(q => (q._1, q._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Seq[Double])]) =>
        val m = it.map(q => q._3 -> q._4.toArray).toMap
        val sorted = m.keys.toArray.sorted
        ts.iterator.map { t =>
          TileRowOutT(key._1, key._2, t,
            Array.tabulate(size)(idx => f(m, sorted, idx, t)).toSeq)
        }
      }
    new RasterLayer(out.toDF(), layer.meta)
  }
}
