package graft.raster

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}

class DistanceSpec extends SparkSpec {
  import spark.implicits._

  val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))

  test("tiled Dijkstra matches cell-level Bellman-Ford on a uniform grid") {
    // full 8x8 grid, friction 1 everywhere, source at (0,0)
    val cells = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y, 1.0)
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")

    val tiled = Distance.costDistanceTiled(friction, sources)
      .toCells.as[(Long, Long, Double)].collect()
      .map { case (x, y, d) => (x, y) -> d }.toMap
    val cellsBF = Distance.costDistanceCells(friction, sources, maxIterations = 20)
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, d) => (x, y) -> d }.toMap

    assert(tiled((0L, 0L)) == 0.0)
    // diagonal step costs sqrt(2), straight 1 — cross-tile path correct
    assert(math.abs(tiled((7L, 7L)) - 7 * math.sqrt(2.0)) < 1e-9)
    assert(tiled.keySet == cellsBF.keySet)
    tiled.foreach { case (k, d) => assert(math.abs(d - cellsBF(k)) < 1e-9, s"$k") }
  }

  test("tiled Dijkstra runs a unit-friction corridor of 80 tiles to its end") {
    // a 1-cell-high corridor in 2-cell tiles: the distance front
    // crosses one tile border per round, 79 rounds in all
    val n = 160L
    val corridor = LayoutDefinition(Extent(0, 0, n.toDouble, 1), TileLayout((n / 2).toInt, 1, 2, 1))
    val friction = RasterLayer.fromCells((0L until n).map(x => (x, 0L, 1.0)).toDF("x", "y", "v"),
      corridor)
    val d = Distance.costDistanceTiled(friction, Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py"))
      .toCells.as[(Long, Long, Double)].collect().map { case (x, _, v) => x -> v }.toMap
    assert(d == (0L until n).map(x => x -> x.toDouble).toMap)
  }

  test("pruned tile-gather euclidean equals brute force over all points") {
    val pts = Seq((1L, 1.2, 6.7), (2L, 6.5, 0.4), (3L, 3.1, 3.9)).toDF("pid", "px", "py")
    val got = Distance.euclidean(spark, pts, layout)
      .as[(Long, Long, Double)].collect().map { case (x, y, v) => (x, y) -> v }.toMap
    val ps = Seq((1.2, 6.7), (6.5, 0.4), (3.1, 3.9))
    assert(got.size == 64)
    for (x <- 0L until 8L; y <- 0L until 8L) {
      val want = ps.map { case (px, py) =>
        math.sqrt((x + 0.5 - px) * (x + 0.5 - px) + (y + 0.5 - py) * (y + 0.5 - py))
      }.min
      assert(got((x, y)) == want, s"cell ($x,$y)") // bit-identical, not approx
    }
  }

  test("maxCost prunes exactly: kept cells keep their unbounded distances") {
    val cells = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y, 1.0)
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")
    val full = Distance.costDistanceTiled(friction, sources)
      .toCells.as[(Long, Long, Double)].collect().map { case (x, y, d) => (x, y) -> d }.toMap
    val capped = Distance.costDistanceTiled(friction, sources, maxCost = 4.0)
      .toCells.as[(Long, Long, Double)].collect().map { case (x, y, d) => (x, y) -> d }.toMap
    assert(capped.keySet == full.filter(_._2 <= 4.0).keySet)
    capped.foreach { case (k, d) => assert(d == full(k), s"$k") }
  }

  test("impassable cells (NaN friction) block paths") {
    // wall at x=4 except a gap at y=7 forces a detour
    val cells = for {
      x <- 0L until 8L; y <- 0L until 8L
      if !(x == 4 && y != 7)
    } yield (x, y, 1.0)
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 3.5)).toDF("pid", "px", "py")
    val d = Distance.costDistanceTiled(friction, sources)
      .toCells.as[(Long, Long, Double)].collect()
      .map { case (x, y, v) => (x, y) -> v }.toMap
    // reaching (7,3) must route via the gap at (4,7): strictly longer
    // than the blocked straight-line distance of 7
    assert(d((7L, 3L)) > 7.0 + 1e-9)
    assert(!d.contains((4L, 0L))) // wall cells unreachable/NoData
  }

  test("costPath backtracks from the farthest cell through cheap terrain") {
    // 3x3 patch, friction 1 except an expensive center (100): the
    // farthest cell IS the center, d = 1 + 100 = 101 via (1,0) (the
    // straight entry beats the 100*sqrt(2) diagonal); backtracking,
    // (1,0)'s key 101 ties (0,1)'s and wins on linear id
    val cells = Seq(
      (0L, 0L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0),
      (0L, 1L, 1.0), (1L, 1L, 100.0), (2L, 1L, 1.0),
      (0L, 2L, 1.0), (1L, 2L, 1.0), (2L, 2L, 1.0))
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")
    val path = Distance.costPath(friction, sources)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(path.map(p => (p._2, p._3)).toSeq == Seq((1L, 1L), (1L, 0L), (0L, 0L)))
    assert(path.head._4 == 10100000L) // v_u = round(d * 1e5)
    assert(path.last._4 == 0L)
  }

  test("costPath over the guard routes to the distributed backtrack, row-identical") {
    val cells = for (x <- 0L until 8L; y <- 0L until 8L)
      yield (x, y, 1.0 + ((x * 7 + y * 13) % 5))
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")
    val driver = Distance.costPath(friction, sources)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val dist = Distance.costPath(friction, sources, maxDriverCells = 0)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dist == driver && driver.length > 3)
  }

  test("costPath reuses a precomputed distance layer bit-identically") {
    val cells = Seq(
      (0L, 0L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0),
      (0L, 1L, 1.0), (1L, 1L, 100.0), (2L, 1L, 1.0),
      (0L, 2L, 1.0), (1L, 2L, 1.0), (2L, 2L, 1.0))
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")
    val dist = Distance.costDistanceTiled(friction, sources)
    val fresh = Distance.costPath(friction, sources)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val reused = Distance.costPath(friction, sources, distance = Some(dist))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(reused == fresh)
  }

  test("euclidean rejects a point set over the broadcast cap") {
    val pts = Seq((1L, 1.2, 6.7), (2L, 6.5, 0.4), (3L, 3.1, 3.9)).toDF("pid", "px", "py")
    val e = intercept[IllegalArgumentException] {
      Distance.euclidean(spark, pts, layout, maxPoints = 2)
    }
    assert(e.getMessage.contains("source points"))
  }

  test("allocation: nearest pid per cell, exact-d2 ties to the smallest pid") {
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val lo = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    // half-cell-aligned points 4 apart on the same row: cell (4,2)
    // (center 4.5) is exactly d2=4 from both -> pid 1 wins the tie
    val pts = Seq((1L, 2.5, 2.5), (2L, 6.5, 2.5)).toDF("pid", "px", "py")
    val a = Distance.allocation(spark, pts, lo)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(a.size == 64)
    assert(a((2L, 2L)) == ((1L, 0L)))     // on point 1
    assert(a((6L, 2L)) == ((2L, 0L)))     // on point 2
    assert(a((0L, 0L)) == ((1L, 8L)))     // clearly nearer point 1
    assert(a((7L, 7L)) == ((2L, 26L)))    // clearly nearer point 2
    assert(a((4L, 2L)) == ((1L, 4L)))     // exact tie -> smaller pid
  }

  test("allocation rejects points off the half-cell grid") {
    val pts = Seq((1L, 1.2, 6.5)).toDF("pid", "px", "py")
    val e = intercept[IllegalArgumentException] {
      Distance.allocation(spark, pts, layout)
    }
    assert(e.getMessage.contains("half-cell-aligned"))
  }

  test("costPath: distributed backtrack equals the driver walk on 81,920 cells (two partitions)") {
    // 320 x 256 cells in 64-px tiles: every cell is reachable, so the
    // backtrack's blocks split over two partitions in local[2]
    val big = LayoutDefinition(Extent(0, 0, 320, 256), TileLayout(5, 4, 64, 64))
    assert(graft.Fixpoint.partitioner(spark.sparkContext, 320L * 256L).numPartitions == 2)
    val cells = for (x <- 0L until 320L; y <- 0L until 256L)
      yield (x, y, 1.0 + ((x * 7 + y * 13) % 5))
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), big)
    val sources = Seq((0L, 0.5, 0.5)).toDF("pid", "px", "py")
    val dist = Distance.costDistanceTiled(friction, sources)
    val driver = Distance.costPath(friction, sources, distance = Some(dist))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val loop = Distance.costPath(friction, sources, maxDriverCells = 0, distance = Some(dist))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(loop == driver && driver.length > 300)
    assert(driver.last._2 == 0L && driver.last._3 == 0L && driver.last._4 == 0L)
  }
}
