package graft.raster

/** Focal neighborhoods — reference geopyspark/geotrellis/neighborhood.py
  * (Square:42, Circle:69, Nesw:99, Wedge:126, Annulus:159). A
  * neighborhood is its set of (dx, dy) cell offsets (center included
  * when the shape covers it) plus the halo radius needed from adjacent
  * tiles.
  */
sealed trait Neighborhood extends Serializable {
  def radius: Int
  def offsets: IndexedSeq[(Int, Int)]
}
object Neighborhood {
  final case class Square(extent: Int) extends Neighborhood {
    val radius = extent
    val offsets = for (dy <- -extent to extent; dx <- -extent to extent) yield (dx, dy)
  }
  final case class Circle(r: Double) extends Neighborhood {
    val radius = math.ceil(r).toInt
    val offsets = for {
      dy <- -radius to radius; dx <- -radius to radius
      if dx * dx + dy * dy <= r * r
    } yield (dx, dy)
  }
  /** Plus-shaped: center + N/E/S/W arms. */
  final case class Nesw(extent: Int) extends Neighborhood {
    val radius = extent
    val offsets = ((1 to extent).flatMap(d => Seq((d, 0), (-d, 0), (0, d), (0, -d))) :+ (0, 0)).toIndexedSeq
  }
  /** Ring: inner <= dist <= outer. */
  final case class Annulus(inner: Double, outer: Double) extends Neighborhood {
    val radius = math.ceil(outer).toInt
    val offsets = for {
      dy <- -radius to radius; dx <- -radius to radius
      d2 = dx * dx + dy * dy
      if d2 >= inner * inner && d2 <= outer * outer
    } yield (dx, dy)
  }
  /** Angular sector of a circle; angles in degrees, 0 = +x, CCW. */
  final case class Wedge(r: Double, startAngle: Double, endAngle: Double) extends Neighborhood {
    val radius = math.ceil(r).toInt
    val offsets = for {
      dy <- -radius to radius; dx <- -radius to radius
      if dx * dx + dy * dy <= r * r
      a = { val deg = math.toDegrees(math.atan2(-dy, dx)); if (deg < 0) deg + 360 else deg }
      if (dx == 0 && dy == 0) ||
        (if (startAngle <= endAngle) a >= startAngle && a <= endAngle
         else a >= startAngle || a <= endAngle)
    } yield (dx, dy)
  }
}

/** Focal cell statistics over the non-NoData neighborhood values.
  * Reference: constants.py Operation enum (:151). */
sealed trait FocalOp extends Serializable {
  /** vals is the non-NaN neighborhood sample (unordered). */
  def apply(vals: Array[Double], n: Int): Double
}
object FocalOp {
  case object Sum extends FocalOp {
    def apply(vs: Array[Double], n: Int) = { var s = 0.0; var i = 0; while (i < n) { s += vs(i); i += 1 }; s }
  }
  case object Mean extends FocalOp {
    def apply(vs: Array[Double], n: Int) = Sum(vs, n) / n
  }
  case object Min extends FocalOp {
    def apply(vs: Array[Double], n: Int) = { var m = vs(0); var i = 1; while (i < n) { if (vs(i) < m) m = vs(i); i += 1 }; m }
  }
  case object Max extends FocalOp {
    def apply(vs: Array[Double], n: Int) = { var m = vs(0); var i = 1; while (i < n) { if (vs(i) > m) m = vs(i); i += 1 }; m }
  }
  /** Interpolated median (avg of middle two when n is even) — matches
    * DuckDB median() / Spark percentile(0.5). */
  case object Median extends FocalOp {
    def apply(vs: Array[Double], n: Int) = {
      val s = java.util.Arrays.copyOf(vs, n); java.util.Arrays.sort(s)
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  }
  /** Most frequent value; ties -> smallest value (deterministic). */
  case object Mode extends FocalOp {
    def apply(vs: Array[Double], n: Int) = {
      val s = java.util.Arrays.copyOf(vs, n); java.util.Arrays.sort(s)
      var best = s(0); var bestCnt = 0
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && s(j) == s(i)) j += 1
        if (j - i > bestCnt) { bestCnt = j - i; best = s(i) }
        i = j
      }
      best
    }
  }
  /** Least frequent value; ties -> smallest value (deterministic).
    * geotrellis focal Minority (public geotrellis-core op; Mode's
    * sibling). */
  case object Minority extends FocalOp {
    def apply(vs: Array[Double], n: Int) = {
      val s = java.util.Arrays.copyOf(vs, n); java.util.Arrays.sort(s)
      var best = s(0); var bestCnt = Int.MaxValue
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && s(j) == s(i)) j += 1
        if (j - i < bestCnt) { bestCnt = j - i; best = s(i) }
        i = j
      }
      best
    }
  }
  /** Exact rational-q percentile over the window (the zonal-quantile
    * cross-multiplied rule lifted to focal scope, ArcGIS Focal
    * Statistics PERCENTILE): the smallest window value whose 1-based
    * sorted rank i satisfies i·den ≥ n·num. Pure integer selection —
    * no interpolation, no float rank math — so the oracle twin
    * (row_number window + the same cross-multiplication) is
    * bit-identical. num=1,den=2 is the lower median; num=den is Max. */
  final case class Percentile(num: Long, den: Long) extends FocalOp {
    require(num >= 0 && num <= den && den > 0, s"bad percentile $num/$den")
    def apply(vs: Array[Double], n: Int) = {
      val s = java.util.Arrays.copyOf(vs, n); java.util.Arrays.sort(s)
      val rank = math.max(1L, (n * num + den - 1) / den) // ceil(n*num/den)
      s((rank - 1).toInt)
    }
  }
  /** Sample variance (n-1 denominator); NaN when n < 2. Computed as
    * (sum(v^2) - sum(v)^2/n) / (n-1) — the exact operation sequence the
    * oracle SQL states, so integral inputs match bit-for-bit. */
  case object Variance extends FocalOp {
    def apply(vs: Array[Double], n: Int) = {
      if (n < 2) Double.NaN
      else {
        var s = 0.0; var ss = 0.0; var i = 0
        while (i < n) { s += vs(i); ss += vs(i) * vs(i); i += 1 }
        (ss - s * s / n) / (n - 1)
      }
    }
  }
  case object StandardDeviation extends FocalOp {
    def apply(vs: Array[Double], n: Int) = math.sqrt(Variance(vs, n))
  }
  /** Shannon entropy (nats) of the window's value distribution — the
    * texture measure (r.neighbors entropy / landscape-metrics local
    * diversity): H = ln(n) − (1/n)·Σ c·ln(c) over value runs. Each
    * run's c·ln(c) quantizes ONCE to micro-nats (the charEntropy
    * determinism rule), and — r12 fix — the closing ln(n) quantizes
    * too: H = (round(ln(n)·1e6)·n − Σq) / (n·1e6). Both operands of
    * the single closing division are exact integers in BOTH engines,
    * so the IEEE quotient is bit-identical (no libm in the output
    * path — an unquantized ln(n) round-tripped through two libms was
    * the r12 hash-fail). */
  case object Entropy extends FocalOp {
    def apply(vs: Array[Double], n: Int) = {
      val s = java.util.Arrays.copyOf(vs, n); java.util.Arrays.sort(s)
      var q = 0L
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && s(j) == s(i)) j += 1
        val c = (j - i).toDouble
        q += math.round(c * math.log(c) * 1000000.0)
        i = j
      }
      val lnN = math.round(math.log(n.toDouble) * 1000000.0)
      (lnN * n - q).toDouble / (n * 1000000.0)
    }
  }
  def of(name: String): FocalOp = name match {
    case "Sum" => Sum; case "Mean" => Mean; case "Min" => Min; case "Max" => Max
    case "Median" => Median; case "Mode" => Mode; case "Minority" => Minority
    case "Variance" => Variance
    case "StandardDeviation" => StandardDeviation
    case "Entropy" => Entropy
    case s => throw new IllegalArgumentException(s)
  }
}

/** Distributed stencil via halo exchange (SURVEY.md §4): each tile
  * ships only the border strips its neighbors need (O(perimeter*r)
  * bytes) through the one [[TileExchange]] shuffle, which assembles
  * padded windows; the kernel runs per tile in a single pass.
  * Reference semantics: layer.py focal() :1866 — with the documented
  * deviation that output cells are exactly the input data cells
  * (NoData centers stay NoData). Spacetime layers run per instant.
  */
// Serializable: the exchange closures call the shared halo helper, so
// executor lambdas capture this (stateless) singleton
object Focal extends Serializable {
  import TileExchange.Piece

  /** Halo gather emitting arbitrary PER-TILE PARTIAL rows instead of a
    * transformed tile: `fn(col, row, padded, paddedWidth)` sees the
    * same radius-`r` padded window [[gather]] builds (NaN beyond the
    * grid / in holes) and returns any iterator of rows — typically a
    * bounded per-tile aggregate (zone partials, level counts). This is
    * the §4-discipline escape hatch for whole-grid summaries that need
    * CROSS-TILE adjacency: per-cell rows stay inside the tile scan,
    * only the border strips and the bounded partials cross exchanges
    * (the r12 verdict's fix for zonalGeometry/contours, which ran
    * lag/lead windows over per-cell rows keyed by grid row — a
    * single-task row scan per 10^6-cell grid line at scale). */
  def gatherPartials[T: org.apache.spark.sql.Encoder](layer: RasterLayer, r: Int)(
      fn: (Int, Int, Array[Double], Int) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    require(!layer.meta.temporal, "gatherPartials is spatial-only (temporal layers: filter/aggregate first)")
    val tl = layer.meta.layout.tileLayout
    val (w, h) = (tl.tileCols + 2 * r, tl.tileRows + 2 * r)
    TileExchange.exchange(layer)(halo(tl, r)) { case ((c, row, _), pieces) =>
      fn(c, row, TileExchange.paint(w, h, pieces), w)
    }
  }

  /** Halo ship: the clipped strips of tile (c0, r0) that each
    * neighbor's radius-`r` padded window needs, as pieces in that
    * window's frame (the tile's own cells start at (r, r)). */
  private def halo(tl: graft.core.TileLayout, r: Int)(
      c0: Int, r0: Int, tile: Array[Double]): Iterator[(Int, Int, Piece)] = {
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val (lc, lr) = (tl.layoutCols, tl.layoutRows)
    val ringC = (r + tc - 1) / tc
    val ringR = (r + tr - 1) / tr
    for {
      dc <- (-ringC to ringC).iterator
      dr <- -ringR to ringR
      dst = (c0 + dc, r0 + dr)
      if dst._1 >= 0 && dst._1 < lc && dst._2 >= 0 && dst._2 < lr
      sx = -dc * tc
      sy = -dr * tr
      iMin = math.max(0, -r - sx)
      iMax = math.min(tc, tc + r - sx)
      jMin = math.max(0, -r - sy)
      jMax = math.min(tr, tr + r - sy)
      if iMax > iMin && jMax > jMin
    } yield {
      val w = iMax - iMin; val h = jMax - jMin
      val cells = new Array[Double](w * h)
      var j = 0
      while (j < h) {
        System.arraycopy(tile, (jMin + j) * tc + iMin, cells, j * w, w)
        j += 1
      }
      (dst._1, dst._2, Piece(sx + iMin + r, sy + jMin + r, w, cells))
    }
  }

  /** Shared halo gather: ships the strips each neighbor needs, then
    * runs `kernelFn(paddedWindow, paddedWidth)` once per tile. The
    * radius may exceed the tile size (multi-ring halo). */
  def gather(layer: RasterLayer, r: Int)(
      kernelFn: (Array[Double], Int) => Array[Double]): RasterLayer = {
    val tl = layer.meta.layout.tileLayout
    val (w, h) = (tl.tileCols + 2 * r, tl.tileRows + 2 * r)
    TileExchange.regrid(layer, layer.meta)(halo(tl, r)) { (_, _, pieces) =>
      kernelFn(TileExchange.paint(w, h, pieces), w)
    }
  }

  def focal(layer: RasterLayer, nb: Neighborhood, op: FocalOp): RasterLayer =
    planned(layer, Seq((nb, op)))

  /** Route through the [[org.apache.spark.sql.graft.FocalPlan]]
    * logical node when the session carries GraftExtensions: adjacent
    * focal steps then fuse in the OPTIMIZER (FuseFocalRule) without
    * the caller spelling focalChain, and lower to the same gather
    * pipeline below. Sessions without the extensions take the eager
    * path directly — identical semantics, just no automatic fusion. */
  private def planned(layer: RasterLayer,
                      steps: Seq[(Neighborhood, FocalOp)]): RasterLayer = {
    val spark = layer.df.sparkSession
    if (org.apache.spark.sql.graft.FocalPlanApi.enabled(spark))
      layer.copy(df =
        org.apache.spark.sql.graft.FocalPlanApi.focalDf(layer.df, steps, layer.meta))
    else focalChainEager(layer, steps)
  }

  /** One focal step evaluated at EVERY position of an output window:
    * input is a (curW x curH) padded window, output shrinks by r per
    * side. Same NaN semantics as [[focal]] (NaN center -> NaN, NaN
    * neighbors skipped), same offset iteration order — so chained
    * applications are bit-identical to sequential focal() calls. */
  private def applyWindow(cur: Array[Double], curW: Int, curH: Int,
                          r: Int, op: FocalOp,
                          offs: Array[(Int, Int)]): (Array[Double], Int, Int) = {
    val outW = curW - 2 * r; val outH = curH - 2 * r
    val out = new Array[Double](outW * outH)
    val buf = new Array[Double](offs.length)
    var cy = 0
    while (cy < outH) {
      var cx = 0
      while (cx < outW) {
        val center = cur((cy + r) * curW + (cx + r))
        out(cy * outW + cx) =
          if (center.isNaN) Double.NaN
          else {
            var n = 0; var k = 0
            while (k < offs.length) {
              val v = cur((cy + offs(k)._2 + r) * curW + (cx + offs(k)._1 + r))
              if (!v.isNaN) { buf(n) = v; n += 1 }
              k += 1
            }
            if (n == 0) Double.NaN else op(buf, n)
          }
        cx += 1
      }
      cy += 1
    }
    (out, outW, outH)
  }

  /** FUSED focal chain: a sequence of focal steps in ONE halo
    * exchange. A chain of k focal() calls shuffles the whole layer k
    * times; at 100 TB each exchange is the dominant cost. Fused, the
    * gather ships radius sum(r_i) once and evaluates each step on the
    * progressively shrinking padded window — cell-for-cell identical
    * to the sequential chain (each intermediate position sees exactly
    * the neighbor data the sequential run would have shipped it,
    * including NaN outside the layer), because every step reuses the
    * same op kernels and offset order. */
  def focalChain(layer: RasterLayer, steps: Seq[(Neighborhood, String)]): RasterLayer = {
    require(steps.nonEmpty, "focalChain needs at least one step")
    planned(layer, steps.map { case (nb, name) => (nb, FocalOp.of(name)) })
  }

  /** The Dataset-built fused gather — the single-exchange execution
    * both [[planned]] (fallback) and the optimizer's LowerFocalRule
    * compile to. */
  def focalChainEager(layer: RasterLayer,
                      steps: Seq[(Neighborhood, FocalOp)]): RasterLayer = {
    require(steps.nonEmpty, "focalChain needs at least one step")
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val compiled = steps.map { case (nb, op) =>
      (op, nb.offsets.toArray, nb.radius) }
    val total = compiled.map(_._3).sum
    gather(layer, total) { (padded, w) =>
      var cur = padded; var curW = w; var curH = padded.length / w
      compiled.foreach { case (op, offs, r) =>
        val (o, ow, oh) = applyWindow(cur, curW, curH, r, op, offs)
        cur = o; curW = ow; curH = oh
      }
      assert(curW == tc && curH == tr)
      cur
    }
  }

  /** Weighted-kernel convolution: out = sum(weight * value) over the
    * non-NoData cells of a (2r+1)^2 window (kernel row-major); output
    * NaN where the center is NoData. Integral weights over integral
    * cells keep the sums exact. */
  def convolve(layer: RasterLayer, kernel: Array[Double], r: Int): RasterLayer = {
    require(kernel.length == (2 * r + 1) * (2 * r + 1), "kernel must be (2r+1)^2")
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    gather(layer, r) { (padded, w) =>
      val outTile = new Array[Double](tc * tr)
      var cy = 0
      while (cy < tr) {
        var cx = 0
        while (cx < tc) {
          val center = padded((cy + r) * w + (cx + r))
          outTile(cy * tc + cx) =
            if (center.isNaN) Double.NaN
            else {
              var s = 0.0; var any = false
              var ky = -r
              while (ky <= r) {
                var kx = -r
                while (kx <= r) {
                  val v = padded((cy + ky + r) * w + (cx + kx + r))
                  if (!v.isNaN) {
                    s += kernel((ky + r) * (2 * r + 1) + (kx + r)) * v
                    any = true
                  }
                  kx += 1
                }
                ky += 1
              }
              if (any) s else Double.NaN
            }
          cx += 1
        }
        cy += 1
      }
      outTile
    }
  }

  /** Horn 3x3 gradient (public formula): returns (dz/dx, dz/dy) per
    * cell, NaN unless all 9 window cells are data (documented
    * determinism convention, SURVEY §2). y is grid-down so "south" is
    * y+1. */
  private def horn(padded: Array[Double], W: Int, cx: Int, cy: Int,
                   cw: Double, ch: Double): (Double, Double) = {
    // n1 n2 n3 / n4 n5 n6 / n7 n8 n9 around (cx+1, cy+1) in padded coords
    val n1 = padded(cy * W + cx);       val n2 = padded(cy * W + cx + 1);       val n3 = padded(cy * W + cx + 2)
    val n4 = padded((cy + 1) * W + cx); val n5 = padded((cy + 1) * W + cx + 1); val n6 = padded((cy + 1) * W + cx + 2)
    val n7 = padded((cy + 2) * W + cx); val n8 = padded((cy + 2) * W + cx + 1); val n9 = padded((cy + 2) * W + cx + 2)
    if (n1.isNaN || n2.isNaN || n3.isNaN || n4.isNaN || n5.isNaN || n6.isNaN ||
        n7.isNaN || n8.isNaN || n9.isNaN) (Double.NaN, Double.NaN)
    else {
      val dzdx = ((n3 + 2 * n6 + n9) - (n1 + 2 * n4 + n7)) / (8.0 * cw)
      val dzdy = ((n7 + 2 * n8 + n9) - (n1 + 2 * n2 + n3)) / (8.0 * ch)
      (dzdx, dzdy)
    }
  }

  /** Terrain ops (slope layer.py:1941, aspect Operation.ASPECT,
    * hillshade hillshade.py:7) over the Horn gradient. `what` is
    * "slope" (degrees), "aspect" (degrees, atan2(dzdy,-dzdx) in
    * [0,360)), or "hillshade" (0-255 int, azimuth 315 / altitude 45).
    *
    * `zFactorCalc` (reference zfactor_lat_lng_calculator,
    * geopyspark/geotrellis/__init__.py:30 + backend
    * ZFactorCalculator.scala) derives a PER-TILE z-factor from the
    * tile extent's center latitude — the default workflow for LatLng
    * DEMs, where meters-per-degree shrinks with cos(lat); a single
    * scalar is systematically wrong across a continent-scale layer.
    * When set it overrides `zFactor`. */
  def terrain(layer: RasterLayer, what: String, zFactor: Double = 1.0,
              azimuth: Double = 315.0, altitude: Double = 45.0,
              zFactorCalc: Option[Double => Double] = None): RasterLayer = {
    // 3x3 window-index ops (vs the Horn-gradient family): same halo
    // machinery, different per-cell formula
    val indexOp = what == "tri" || what == "tpi" ||
      what == "roughness" || what == "curvature" || what == "fill" ||
      what == "curvature_profile" || what == "curvature_plan" ||
      what == "majority_filter" || what == "dinf"
    val meta = layer.meta
    val tl = meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val cw = meta.layout.cellWidth; val ch = meta.layout.cellHeight
    val W = tc + 2; val H = tr + 2
    // tile-row -> center latitude inputs for the per-tile z-factor
    // (world ymax and tile world height are plain doubles so the
    // closure ships no layout object)
    val ymax = meta.layout.extent.ymax
    val tileWorldH = ch * tr
    TileExchange.regrid(layer, meta)(halo(tl, 1)) { (_, r0, pieces) =>
      val padded = TileExchange.paint(W, H, pieces)
      // reference contract: ONE z-factor per tile, from the tile
      // extent's CENTER latitude (ZFactorCalculator.deriveZFactor);
      // heat_load reads the same center latitude directly
      val centerLat = ymax - (r0 + 0.5) * tileWorldH
      val zf = zFactorCalc.fold(zFactor)(f => f(centerLat))
      val outTile = new Array[Double](tc * tr)
      var cy = 0
      while (cy < tr) {
        var cx = 0
        while (cx < tc) {
          outTile(cy * tc + cx) = if (indexOp) {
            // window-index ops read the raw 3x3 (zf does not apply:
            // TRI/TPI/roughness/curvature are defined on elevations)
            val n1 = padded(cy * W + cx);       val n2 = padded(cy * W + cx + 1);       val n3 = padded(cy * W + cx + 2)
            val n4 = padded((cy + 1) * W + cx); val n5 = padded((cy + 1) * W + cx + 1); val n6 = padded((cy + 1) * W + cx + 2)
            val n7 = padded((cy + 2) * W + cx); val n8 = padded((cy + 2) * W + cx + 1); val n9 = padded((cy + 2) * W + cx + 2)
            if (what == "fill") {
              // geotrellis hydrology Fill (single pass): a pit — a cell
              // strictly below all eight neighbors — rises to the
              // neighbor minimum; partial windows (edge/NoData) pass
              // the center through unchanged (DEM repair keeps extent)
              if (n5.isNaN) Double.NaN
              else if (n1.isNaN || n2.isNaN || n3.isNaN || n4.isNaN ||
                       n6.isNaN || n7.isNaN || n8.isNaN || n9.isNaN) n5
              else {
                val min8 = math.min(n1, math.min(n2, math.min(n3, math.min(n4,
                  math.min(n6, math.min(n7, math.min(n8, n9)))))))
                if (n5 < min8) min8 else n5
              }
            }
            else if (what == "majority_filter") {
              // ArcGIS MajorityFilter (distinct from focal Mode):
              // replace the center with the neighbors' majority value
              // ONLY when it is a strict majority of the present
              // neighbors (ties -> smallest value, the Mode rule);
              // otherwise keep the center. NoData center stays NoData
              // (extent-preserving, the fill convention).
              if (n5.isNaN) Double.NaN
              else {
                val nb = Array(n1, n2, n3, n4, n6, n7, n8, n9).filter(v => !v.isNaN)
                if (nb.isEmpty) n5
                else {
                  java.util.Arrays.sort(nb)
                  var best = nb(0); var bestCnt = 0
                  var i = 0
                  while (i < nb.length) {
                    var j = i
                    while (j < nb.length && nb(j) == nb(i)) j += 1
                    if (j - i > bestCnt) { bestCnt = j - i; best = nb(i) }
                    i = j
                  }
                  if (2 * bestCnt > nb.length) best else n5
                }
              }
            }
            else if (n1.isNaN || n2.isNaN || n3.isNaN || n4.isNaN || n5.isNaN ||
                n6.isNaN || n7.isNaN || n8.isNaN || n9.isNaN) Double.NaN
            else what match {
              case "dinf" =>
                // Tarboton 1997 D-infinity flow direction: steepest
                // downslope over 8 triangular facets; angle CCW from
                // east in radians [0, 2π) (grid north = -y). Facet
                // table (e1 cardinal, e2 diagonal, ac quarter-turns,
                // af sign), r clamped to [0, π/4].
                //
                // Determinism note: the clamped slope magnitude s
                // never contains the atan2 VALUE — atan2 only selects
                // a branch, and at both branch boundaries the two
                // branch expressions coincide (r=0: s2=0 so
                // sqrt(s1²+s2²)=|s1|; r=π/4: s1=s2 so both give
                // √2·s1) — so facet selection compares bit-identical
                // doubles in any libm, and only the emitted angle
                // (round 5) touches atan2.
                val e1s = Array(n6, n2, n2, n4, n4, n8, n8, n6)
                val e2s = Array(n3, n3, n1, n1, n7, n7, n9, n9)
                val acs = Array(0, 1, 1, 2, 2, 3, 3, 4)
                val afs = Array(1, -1, 1, -1, 1, -1, 1, -1)
                var bestS = 0.0; var bestA = Double.NaN
                var fi = 0
                while (fi < 8) {
                  val s1 = (n5 - e1s(fi)) / cw
                  val s2 = (e1s(fi) - e2s(fi)) / cw
                  val r = math.atan2(s2, s1)
                  val quarterPi = math.Pi / 4
                  val (rc, sc) =
                    if (r < 0) (0.0, s1)
                    else if (r > quarterPi)
                      (quarterPi, (n5 - e2s(fi)) / (cw * math.sqrt(2.0)))
                    else (r, math.sqrt(s1 * s1 + s2 * s2))
                  if (sc > bestS) {
                    bestS = sc
                    val a = afs(fi) * rc + acs(fi) * (math.Pi / 2)
                    bestA = if (a >= 2 * math.Pi) a - 2 * math.Pi else a
                  }
                  fi += 1
                }
                bestA // NaN when no downslope facet (flat/pit)
              case "tri" =>
                // Riley et al. 1999 terrain ruggedness: sqrt of the
                // summed squared center-neighbor differences
                math.sqrt((n1 - n5) * (n1 - n5) + (n2 - n5) * (n2 - n5) +
                  (n3 - n5) * (n3 - n5) + (n4 - n5) * (n4 - n5) +
                  (n6 - n5) * (n6 - n5) + (n7 - n5) * (n7 - n5) +
                  (n8 - n5) * (n8 - n5) + (n9 - n5) * (n9 - n5))
              case "tpi" =>
                // topographic position: center minus 8-neighbor mean
                n5 - (n1 + n2 + n3 + n4 + n6 + n7 + n8 + n9) / 8.0
              case "roughness" =>
                // full-window range (gdaldem convention: center included)
                math.max(n1, math.max(n2, math.max(n3, math.max(n4, math.max(n5,
                  math.max(n6, math.max(n7, math.max(n8, n9)))))))) -
                math.min(n1, math.min(n2, math.min(n3, math.min(n4, math.min(n5,
                  math.min(n6, math.min(n7, math.min(n8, n9))))))))
              case "curvature" =>
                // Zevenbergen & Thorne 1987 general curvature,
                // -200 * (D + E) in the ArcGIS *100 convention:
                // D + E = ((n4+n6)/2 - n5)/L^2 + ((n2+n8)/2 - n5)/L^2
                (((n4 + n6) / 2.0 - n5) + ((n2 + n8) / 2.0 - n5)) * (-200.0 / (cw * cw))
              case "curvature_profile" | "curvature_plan" =>
                // Zevenbergen & Thorne directional curvatures (ArcGIS
                // *100 convention): curvature in (profile) / normal to
                // (plan) the slope direction; flat windows emit 0
                val l2 = cw * cw
                val d = ((n4 + n6) / 2.0 - n5) / l2
                val e = ((n2 + n8) / 2.0 - n5) / l2
                val f = (-n1 + n3 + n7 - n9) / (4.0 * l2)
                val g = (-n4 + n6) / (2.0 * cw)
                val h = (n2 - n8) / (2.0 * cw)
                val q = g * g + h * h
                if (q == 0.0) 0.0
                else if (what == "curvature_profile")
                  -200.0 * (d * g * g + e * h * h + f * g * h) / q
                else 200.0 * (d * h * h + e * g * g - f * g * h) / q
            }
          } else {
          val (dzdx0, dzdy0) = horn(padded, W, cx, cy, cw, ch)
          val dzdx = dzdx0 * zf; val dzdy = dzdy0 * zf
            if (dzdx.isNaN) Double.NaN
            else what match {
              case "slope" =>
                math.toDegrees(math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy)))
              case "aspect" =>
                val a = math.toDegrees(math.atan2(dzdy, -dzdx))
                if (a < 0) a + 360.0 else a
              case "aspect_octant" =>
                // exact 45°-octant aspect class WITHOUT computing the
                // angle: sign and |u| vs |v| comparisons on the exact
                // rational gradient — no libm, so 45° boundary cells
                // cannot flip bins between engines (the floor(a/45)
                // formulation would). Flat gradient -> bin 0 by
                // convention. Bin k covers [45k, 45(k+1))°.
                val u = 0 - dzdx; val vv = dzdy
                if (u == 0.0 && vv == 0.0) 0.0
                else if (u > 0 && vv >= 0 && vv < u) 0.0
                else if (u > 0 && vv >= u) 1.0
                else if (u <= 0 && vv > 0 && vv > -u) 2.0
                else if (u < 0 && vv > 0 && vv <= -u) 3.0
                else if (u < 0 && vv <= 0 && -vv < -u) 4.0
                else if (u < 0 && vv <= u) 5.0
                else if (u >= 0 && vv < 0 && vv < -u) 6.0
                else 7.0
              case "hillshade" =>
                val slopeR = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
                val aspR0 = math.atan2(dzdy, -dzdx)
                val aspR = if (aspR0 < 0) aspR0 + 2 * math.Pi else aspR0
                val zen = math.toRadians(90 - altitude)
                val az = math.toRadians(azimuth)
                val hs = 255.0 * (math.cos(zen) * math.cos(slopeR) +
                  math.sin(zen) * math.sin(slopeR) * math.cos(az - aspR))
                math.floor(math.max(0.0, hs))
              case "hillshade_md" =>
                // multidirectional hillshade (Mark 1992; gdaldem
                // -multidirectional): four shades at azimuths
                // 225/270/315/360 weighted by sin^2(aspect - az); the
                // four perpendicular weights always sum to 2, so the
                // combination is sum(w_i * s_i) / 2
                val slopeR = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
                val aspR0 = math.atan2(dzdy, -dzdx)
                val aspR = if (aspR0 < 0) aspR0 + 2 * math.Pi else aspR0
                val zen = math.toRadians(90 - altitude)
                def shade(azDeg: Double): Double =
                  math.cos(zen) * math.cos(slopeR) +
                    math.sin(zen) * math.sin(slopeR) * math.cos(math.toRadians(azDeg) - aspR)
                def w(azDeg: Double): Double = {
                  val s = math.sin(aspR - math.toRadians(azDeg)); s * s
                }
                val hs = 255.0 * (w(225) * shade(225) + w(270) * shade(270) +
                  w(315) * shade(315) + w(360) * shade(360)) / 2.0
                math.floor(math.max(0.0, hs))
              case "tobler" =>
                // Tobler hiking function (public): 6*e^(-3.5*|tan(slope)+0.05|)
                val tanS = math.sqrt(dzdx * dzdx + dzdy * dzdy)
                6.0 * math.exp(-3.5 * math.abs(tanS + 0.05))
              case "heat_load" =>
                // McCune & Keon 2002 heat-load index, ln form (the
                // folded-aspect equation as published): aspect folds
                // about SW (225° = 1.25π) so SW-facing slopes score
                // hottest; latitude is the tile-center latitude (the
                // ZFactorCalculator per-tile convention). Emitting the
                // ln keeps the output a linear combination of trig
                // terms — exp is monotone, so ranking/classing is
                // unchanged and no exp boundary hazard enters the
                // oracle hash.
                val slopeR = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
                val aspR0 = math.atan2(dzdy, -dzdx)
                val aspR = if (aspR0 < 0) aspR0 + 2 * math.Pi else aspR0
                val folded = math.abs(math.Pi - math.abs(aspR - 1.25 * math.Pi))
                val latR = math.toRadians(centerLat)
                -1.467 + 1.582 * math.cos(latR) * math.cos(slopeR) -
                  1.500 * math.cos(folded) * math.sin(slopeR) * math.sin(latR) -
                  0.262 * math.sin(latR) * math.sin(slopeR) +
                  0.607 * math.sin(folded) * math.sin(slopeR)
            }
          }
          cx += 1
        }
        cy += 1
      }
      outTile
    }
  }
}
