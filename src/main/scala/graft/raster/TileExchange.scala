package graft.raster

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.{col, lit}

/** The one tile-to-tile regrid. Cells live on the logical grid and
  * tiles are only its physical layout (PAPER §1), so every keyed
  * regrid takes the same step: each source tile ships pieces of itself
  * to destination keys, ONE keyed shuffle groups them on
  * (col, row, instant), and each destination tile is built from its
  * pieces. Focal and terrain halos, the tiled resamples and
  * reprojects, pyramid levels and retile assembly all run here.
  *
  * The instant rule: tiles are read as (col, row, instant, tile) with
  * a constant instant 0 on spatial layers, so instants never mix and
  * no caller forks on `meta.temporal`; the instant column is written
  * back only on temporal layers. */
private[raster] object TileExchange extends Serializable {
  /** A row-major rectangle of cells `w` wide whose first cell sits at
    * (x0, y0) of a frame the caller picks. */
  final case class Piece(x0: Int, y0: Int, w: Int, cells: Array[Double])

  type Tiles = Dataset[(Int, Int, Long, Array[Double])]

  /** The layer's tiles as (col, row, instant, tile). */
  def keyed(layer: RasterLayer): Tiles = {
    val spark = layer.spark
    import spark.implicits._
    val instant = if (layer.meta.temporal) col("instant") else lit(0L)
    layer.df.select(col("col"), col("row"), instant.as("instant"), col("tile"))
      .as[(Int, Int, Long, Array[Double])]
  }

  /** (col, row, instant, tile) rows as a layer of `meta`. */
  def layerOf(tiles: Tiles, meta: LayerMetadata): RasterLayer = {
    val df = tiles.toDF("col", "row", "instant", "tile")
    new RasterLayer(if (meta.temporal) df else df.drop("instant"), meta)
  }

  /** `ship(col, row, tile)` names the (dstCol, dstRow, piece) each
    * source tile sends; `build((dstCol, dstRow, instant), pieces)`
    * turns one destination's pieces into output rows. */
  def exchange[U: Encoder](layer: RasterLayer)(
      ship: (Int, Int, Array[Double]) => Iterator[(Int, Int, Piece)])(
      build: ((Int, Int, Long), Iterator[Piece]) => Iterator[U]): Dataset[U] = {
    val spark = layer.spark
    import spark.implicits._
    keyed(layer)
      .flatMap { case (c, r, t, tile) => ship(c, r, tile).map { case (dc, dr, p) => (dc, dr, t, p) } }
      .groupByKey(q => (q._1, q._2, q._3))
      .flatMapGroups { (key: (Int, Int, Long), group: Iterator[(Int, Int, Long, Piece)]) =>
        build(key, group.map(_._4))
      }
  }

  /** [[exchange]] into a layer of `outMeta`: `build(dstCol, dstRow,
    * pieces)` returns the destination tile. */
  def regrid(layer: RasterLayer, outMeta: LayerMetadata)(
      ship: (Int, Int, Array[Double]) => Iterator[(Int, Int, Piece)])(
      build: (Int, Int, Iterator[Piece]) => Array[Double]): RasterLayer = {
    val spark = layer.spark
    import spark.implicits._
    layerOf(exchange(layer)(ship) { case ((c, r, t), pieces) =>
      Iterator((c, r, t, build(c, r, pieces)))
    }, outMeta)
  }

  /** A w x h window, NaN wherever no piece lands, with each piece
    * copied in at its origin (pieces are in the window's frame). */
  def paint(w: Int, h: Int, pieces: Iterator[Piece]): Array[Double] = {
    val out = Array.fill(w * h)(Double.NaN)
    pieces.foreach { p =>
      val ph = p.cells.length / p.w
      var j = 0
      while (j < ph) {
        System.arraycopy(p.cells, j * p.w, out, (p.y0 + j) * w + p.x0, p.w)
        j += 1
      }
    }
    out
  }

  /** Bounds-checked cell lookup over whole source tiles (tc x tr
    * pieces in the source grid's cell frame): NaN outside
    * [0, cols) x [0, rows) and in tiles that did not arrive. */
  final class Cells(pieces: Iterator[Piece], tc: Int, tr: Int, cols: Long, rows: Long) {
    private val tiles: Map[(Int, Int), Array[Double]] =
      pieces.map(p => (p.x0 / tc, p.y0 / tr) -> p.cells).toMap

    def apply(x: Long, y: Long): Double =
      if (x < 0 || y < 0 || x >= cols || y >= rows) Double.NaN
      else tiles.get(((x / tc).toInt, (y / tr).toInt)) match {
        case Some(t) => t(((y % tr) * tc + (x % tc)).toInt)
        case None    => Double.NaN
      }
  }

  /** [[regrid]] for samplers (resample, reproject): each source tile
    * ships whole to the destinations `dsts(col, row)` names, and
    * `build(dstCol, dstRow, cells)` samples the received source grid,
    * `cols` x `rows` cells, through [[Cells]]. */
  def sample(layer: RasterLayer, outMeta: LayerMetadata, cols: Long, rows: Long)(
      dsts: (Int, Int) => Iterator[(Int, Int)])(
      build: (Int, Int, Cells) => Array[Double]): RasterLayer = {
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    regrid(layer, outMeta) { (c, r, tile) =>
      val p = Piece(c * tc, r * tr, tc, tile)
      dsts(c, r).map { case (dc, dr) => (dc, dr, p) }
    } { (dc, dr, pieces) => build(dc, dr, new Cells(pieces, tc, tr, cols, rows)) }
  }
}
