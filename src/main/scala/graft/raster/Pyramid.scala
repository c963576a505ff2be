package graft.raster

import graft.core.{LayoutDefinition, TileLayout}

/** Pyramiding: zoom z -> z-1 by 2x2 block resample, tile-aligned.
  *
  * Reference: layer.py pyramid() (:1832) with ResampleMethod
  * (constants.py:123). Each child tile downsamples locally (narrow),
  * then 4 children assemble into their parent tile in the one
  * [[TileExchange]] shuffle per level, O(tiles) rows, the standard
  * tile-pyramid shape. Spacetime layers pyramid per instant.
  */
object Pyramid {
  /** NaN-skipping 2x2 block resample of one tile (tc x tr -> tc/2 x tr/2). */
  private def downsample(tile: Array[Double], tc: Int, tr: Int, method: String): Array[Double] = {
    val hc = tc / 2; val hr = tr / 2
    val out = new Array[Double](hc * hr)
    var j = 0
    while (j < hr) {
      var i = 0
      while (i < hc) {
        val a = tile((2 * j) * tc + 2 * i);     val b = tile((2 * j) * tc + 2 * i + 1)
        val c = tile((2 * j + 1) * tc + 2 * i); val d = tile((2 * j + 1) * tc + 2 * i + 1)
        var sum = 0.0; var n = 0; var mn = Double.NaN; var mx = Double.NaN
        var k = 0
        val vals = Array(a, b, c, d)
        while (k < 4) {
          val v = vals(k)
          if (!v.isNaN) {
            sum += v; n += 1
            if (mn.isNaN || v < mn) mn = v
            if (mx.isNaN || v > mx) mx = v
          }
          k += 1
        }
        out(j * hc + i) =
          if (n == 0) Double.NaN
          else method match {
            case "Average" => sum / n
            case "Sum"     => sum
            case "Min"     => mn
            case "Max"     => mx
            case "NearestNeighbor" => if (!a.isNaN) a else if (!b.isNaN) b else if (!c.isNaN) c else d
            case s => throw new IllegalArgumentException(s)
          }
        i += 1
      }
      j += 1
    }
    out
  }

  /** One pyramid level up: halves the layout, keeps tile size. Each
    * child tile downsamples to a quadrant of its parent and ships
    * there through the one [[TileExchange]] shuffle. */
  def levelUp(layer: RasterLayer, method: String = "Average"): RasterLayer = {
    val meta = layer.meta
    val tl = meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val (lc, lr) = (tl.layoutCols, tl.layoutRows)
    require(tc % 2 == 0 && tr % 2 == 0,
      s"levelUp splits each tile into 2x2 blocks: tile size ${tc}x$tr is not even")
    require(lc % 2 == 0 && lr % 2 == 0,
      s"levelUp halves the layout: ${lc}x$lr tiles cannot halve (the parent cell " +
        "size must be twice the child's over the same extent)")
    val (hc, hr) = (tc / 2, tr / 2)
    val newLayout = LayoutDefinition(meta.layout.extent, TileLayout(lc / 2, lr / 2, tc, tr))
    TileExchange.regrid(layer, meta.copy(layout = newLayout)) { (c, r, tile) =>
      Iterator((c / 2, r / 2,
        TileExchange.Piece(c % 2 * hc, r % 2 * hr, hc, downsample(tile, tc, tr, method))))
    } { (_, _, quadrants) => TileExchange.paint(tc, tr, quadrants) }
  }

  /** Write every level of a pyramid to the catalog under one name —
    * reference Pyramid.write (layer.py:2654) — in ONE catalog write:
    * the union of the levels crosses one range exchange and lands as
    * one parquet partition per zoom. Dynamic partitionOverwriteMode
    * replaces only the zooms written, so a re-run is idempotent and
    * zooms written earlier under the same name survive. Each level
    * writes its OWN metadata sidecar (_graft_meta_$zoom.json), in
    * level order — Catalog.read resolves by zoom, so reading any level
    * back pairs tiles with that level's layout. */
  def write(uri: String, name: String, levels: Seq[(Int, RasterLayer)]): Unit =
    graft.catalog.Catalog.writeLevels(uri, name, levels)

  /** Full pyramid down to a single tile: zoom -> layer map, highest
    * zoom first (reference Pyramid class layer.py:2617). */
  def build(layer: RasterLayer, method: String = "Average"): Seq[(Int, RasterLayer)] = {
    val maxZoom = math.ceil(math.log(layer.meta.layout.tileLayout.layoutCols.toDouble) / math.log(2)).toInt
    val levels = Iterator.iterate((maxZoom, layer)) { case (z, l) => (z - 1, levelUp(l, method)) }
      .takeWhile(_._1 >= 0)
      .take(maxZoom + 1)
    levels.toSeq
  }

  /** Histogram of a pyramid — reference Pyramid.get_histogram
    * (layer.py:2641): computed once on the BASE (highest-zoom) level,
    * which the reference defines as the pyramid's histogram (coarser
    * levels are derived imagery). */
  def histogram(levels: Seq[(Int, RasterLayer)], bins: Int = 10): org.apache.spark.sql.DataFrame = {
    require(levels.nonEmpty)
    HistogramOps.binCounts(levels.maxBy(_._1)._2, bins)
  }

  /** Map a local (per-cell, layout-preserving) operation over every
    * level — the reference Pyramid arithmetic surface (layer.py:2693
    * +,-,*,/ apply to each level). Narrow per level: no shuffles. */
  def mapLevels(levels: Seq[(Int, RasterLayer)],
                f: RasterLayer => RasterLayer): Seq[(Int, RasterLayer)] =
    levels.map { case (z, l) =>
      val out = f(l)
      require(out.meta.layout == l.meta.layout,
        s"pyramid op must preserve each level's layout (zoom $z changed)")
      (z, out)
    }
}
