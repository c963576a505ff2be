package graft.raster

import org.apache.spark.sql.DataFrame

import graft.{Fixpoint, SparkSpec}

class HydrologySpec extends SparkSpec {
  import spark.implicits._

  def dirs(cells: Seq[(Long, Long, Double)], gc: Long = 4, gr: Long = 4): Map[(Long, Long), Long] =
    Hydrology.flowDirection(cells.toDF("x", "y", "v"), gc, gr)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

  test("d8 direction: steepest drop wins, diagonals pay sqrt(2), pits code 0") {
    // inclined plane z = 9 - x - y with a deep pit at (3,3)
    val plane = for (x <- 0L to 3L; y <- 0L to 3L)
      yield (x, y, if (x == 3 && y == 3) 0.0 else 9.0 - x - y)
    val m = dirs(plane)
    // interior: SE diagonal drop 2/sqrt(2) ~ 1.414 beats E/S drop 1
    assert(m((0L, 0L)) == 2L && m((1L, 1L)) == 2L)
    // (2,2) -> pit: drop 5/sqrt(2); (3,2)/(2,3) fall straight into it
    assert(m((2L, 2L)) == 2L)
    assert(m((3L, 2L)) == 4L) // S drop 4 beats SW drop 0
    assert(m((2L, 3L)) == 1L) // E drop 4
    // the pit itself: every neighbor is higher
    assert(m((3L, 3L)) == 0L)
  }

  test("d8 direction: equal drops tie to the smallest ESRI code") {
    // E and S both drop 1, SE missing -> cascade picks E (code 1)
    val m = dirs(Seq((0L, 0L, 5.0), (1L, 0L, 4.0), (0L, 1L, 4.0)))
    assert(m((0L, 0L)) == 1L)
    // straight drop 2 beats diagonal drop 2/sqrt(2)
    val m2 = dirs(Seq((0L, 0L, 5.0), (1L, 0L, 3.0), (1L, 1L, 3.0)))
    assert(m2((0L, 0L)) == 1L)
  }

  test("d8 direction: flat neighborhood (no positive drop) codes 0") {
    val m = dirs(Seq((0L, 0L, 2.0), (1L, 0L, 2.0), (0L, 1L, 2.0)))
    assert(m.values.forall(_ == 0L))
  }

  test("fill raises strict pits to the neighbor minimum, passes everything else") {
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    // flat z=5 plain with a pit at (3,3) (tile-corner: halo check) and
    // a shallow bowl at (5,5) that is NOT strict (equal neighbor)
    val cells = for { x <- 0L until 8L; y <- 0L until 8L } yield
      (x, y, if (x == 3 && y == 3) 1.0 else if (x == 5 && y == 5) 5.0 else 5.0)
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val got = Hydrology.fill(l).toCells.as[(Long, Long, Double)]
      .collect().map(c => ((c._1, c._2), c._3)).toMap
    assert(got((3L, 3L)) == 5.0)       // pit rose to min neighbor
    assert(got((5L, 5L)) == 5.0)       // non-strict: unchanged
    assert(got((0L, 0L)) == 5.0)       // edge partial window: passthrough
    assert(got.size == 64)             // extent preserved
    // a pit ON the edge is not filled (partial window passthrough)
    val edge = cells.map { case (x, y, v) => if (x == 0 && y == 4) (x, y, 1.0) else (x, y, v) }
    val got2 = Hydrology.fill(RasterLayer.fromCells(edge.toDF("x", "y", "v"), layout))
      .toCells.as[(Long, Long, Double)].collect().map(c => ((c._1, c._2), c._3)).toMap
    assert(got2((0L, 4L)) == 1.0)
  }

  test("flow accumulation: chain drains cumulatively into the pit") {
    val chain = Seq((0L, 0L, 3.0), (1L, 0L, 2.0), (2L, 0L, 1.0), (3L, 0L, 0.0))
    val acc = Hydrology.flowAccumulation(chain.toDF("x", "y", "v"), 4, 1)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(acc == Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L, (3L, 0L) -> 3L))
  }

  test("flow accumulation: distributed loop (guard forced off) matches the driver walk") {
    val chain = Seq((0L, 0L, 3.0), (1L, 0L, 2.0), (2L, 0L, 1.0), (3L, 0L, 0.0))
    val loop = Hydrology.flowAccumulation(chain.toDF("x", "y", "v"), 4, 1,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(loop == Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L, (3L, 0L) -> 3L))
  }

  test("flow accumulation: log-depth lifting equals the driver walk on a long single channel (r19)") {
    // 512-cell monotone channel in a 512x1 grid: path length 511 >>
    // the ~9 doubling rounds the distributed path now takes (the old
    // per-hop loop ran 511 rounds). Driver walk and forced-distributed
    // twin must agree exactly: acc(i) = i along the channel. A
    // confluence branch joins mid-channel to exercise the count merge.
    val n = 512
    val channel = (0 until n).map(i => (i.toLong, 0L, (n - i).toDouble))
    // branch cell above the channel draining S into x=100
    val all = channel :+ ((100L, 1L, 500.0))
    val df = all.toDF("x", "y", "v")
    val expectDriver = Hydrology.flowAccumulation(df, n.toLong, 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val dist = Hydrology.flowAccumulation(df, n.toLong, 2, maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(dist == expectDriver)
    // independent closed form: upstream of channel cell i is i cells
    // plus the branch for i > 100
    assert(dist((0L, 0L)) == 0L && dist((100L, 1L)) == 0L)
    assert(dist((50L, 0L)) == 50L)
    assert(dist((100L, 0L)) == 101L)  // 100 upstream + the branch
    assert(dist((511L, 0L)) == 512L)
    // maxSteps keeps its loud contract on the lifting path
    val e = intercept[Exception] {
      Hydrology.flowAccumulation(df, n.toLong, 2, maxSteps = 16,
        maxDriverEdges = 0).collect()
    }
    assert(e.getMessage.contains("longer than 16"))
  }

  test("flow accumulation: confluence sums both branches") {
    // Y-shape: two heads at (0,0) and (0,2) drain diagonally into
    // (1,1), which drains E into the (2,1) pit
    val y = Seq((0L, 0L, 6.0), (0L, 2L, 6.0), (1L, 1L, 4.0), (2L, 1L, 0.0))
    val acc = Hydrology.flowAccumulation(y.toDF("x", "y", "v"), 3, 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (0,0): SE into (1,1); (0,2): NE into (1,1); (1,1): E into (2,1)
    assert(acc == Map((0L, 0L) -> 0L, (0L, 2L) -> 0L, (1L, 1L) -> 2L, (2L, 1L) -> 3L))
  }

  /** Two-pit valley: column x<2 drains to the (1,2) pit, x>=2 to the
    * (3,0) pit (gridCols = 4 -> pit ids 9 and 3). */
  private val twoBasins = Seq(
    (0L, 0L, 5.0), (1L, 1L, 3.0), (1L, 2L, 1.0),
    (2L, 0L, 5.0), (3L, 0L, 0.5))

  test("watershed: every cell labels with its terminal pit; pits label themselves") {
    val w = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (0,0) -> SE (1,1) -> S (1,2) pit id 2*4+1 = 9
    assert(w((0L, 0L)) == 9L && w((1L, 1L)) == 9L && w((1L, 2L)) == 9L)
    // (2,0) -> E (3,0) pit id 3
    assert(w((2L, 0L)) == 3L && w((3L, 0L)) == 3L)
  }

  test("watershed: pointer doubling (guard forced off) matches the driver walk") {
    val byDriver = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().toSet
    val byDoubling = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(byDoubling == byDriver && byDriver.nonEmpty)
  }

  test("flow length: cardinal + diagonal micro-cell sums, pits zero, doubling == driver") {
    // (0,0) -> SE diag -> (1,1) -> S -> (1,2) pit: dist(0,0) =
    // 1414214 + 1000000; (2,0) -> E -> (3,0) pit: 1000000
    val fl = Hydrology.flowLength(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(fl((0L, 0L)) == 2414214L)
    assert(fl((1L, 1L)) == 1000000L)
    assert(fl((1L, 2L)) == 0L && fl((3L, 0L)) == 0L) // pits
    assert(fl((2L, 0L)) == 1000000L)
    val byDoubling = Hydrology.flowLength(twoBasins.toDF("x", "y", "v"), 4, 4,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(byDoubling == fl)
  }

  test("strahler: two order-1 heads make an order-2 junction; single chains keep order") {
    // (0,0) and (2,0) drain diagonally into (1,1), which drains S into
    // the (1,2) pit: heads 1, junction 2, pit stays 2 (one child at max)
    val v = Seq((0L, 0L, 5.0), (2L, 0L, 5.0), (1L, 1L, 3.0), (1L, 2L, 1.0))
    val o = Hydrology.streamOrder(v.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(o == Map((0L, 0L) -> 1L, (2L, 0L) -> 1L, (1L, 1L) -> 2L, (1L, 2L) -> 2L))
  }

  test("strahler: distributed fixpoint (guard forced off) matches the driver pass") {
    // deterministic hash-noise terrain, 12x12: junction-rich forest
    val noise = for (x <- 0L until 12L; y <- 0L until 12L)
      yield (x, y, ((x * 73 + y * 151 + 7) % 97).toDouble)
    val byDriver = Hydrology.streamOrder(noise.toDF("x", "y", "v"), 12, 12)
      .as[(Long, Long, Long)].collect().toSet
    val byLoop = Hydrology.streamOrder(noise.toDF("x", "y", "v"), 12, 12,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(byLoop == byDriver && byDriver.size == 144)
    // a junction-bearing forest must contain an order >= 2 somewhere
    assert(byDriver.exists(_._3 >= 2L))
  }

  test("snapPourPoint: outlet moves to the max-accumulation cell in range; ties north-west") {
    // plane draining SE into a pit at (3,3): accumulation concentrates
    // on the diagonal; a point at (1,1) with radius 1 must snap to
    // (2,2) (the highest acc in its 3x3 window, short of the pit)
    val plane = for (x <- 0L to 3L; y <- 0L to 3L)
      yield (x, y, if (x == 3 && y == 3) 0.0 else 9.0 - x - y)
    val acc = Hydrology.flowAccumulation(plane.toDF("x", "y", "v"), 4, 4)
    val accMap = acc.as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val pts = Seq((7L, 1.5, 1.5)).toDF("pid", "px", "py")
    val out = Hydrology.snapPourPoints(pts, acc, radius = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 1)
    val (pid, sx, sy, sacc) = out.head
    assert(pid == 7L && sx == 2L && sy == 2L)
    assert(sacc == accMap((2L, 2L)))
    // and the snapped cell really is the window argmax
    val win = for (x <- 0L to 2L; y <- 0L to 2L) yield accMap((x, y))
    assert(win.max == sacc)
  }

  /** 320 x 256 = 81,920 cells — over 65,536, so the distributed loops
    * run on two partitions in the local[2] test session: a tilted
    * terrain whose hash noise bends and merges the long flow paths
    * toward the low edges (and leaves some interior pits). */
  private val (bigCols, bigRows) = (320L, 256L)
  private lazy val big = (for (x <- 0L until bigCols; y <- 0L until bigRows)
    yield (x, y, 1.0 * x + 0.7 * y + ((x * 73 + y * 151 + 7) % 97) / 60.0)).toDF("x", "y", "v")

  /** Driver walk and distributed loop outputs of one operator on `big`. */
  private def bothPaths(f: Long => DataFrame): (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
    assert(Fixpoint.partitioner(spark.sparkContext, bigCols * bigRows).numPartitions == 2)
    val driver = f(1L << 22).as[(Long, Long, Long)].collect().toSet
    val loop = f(0L).as[(Long, Long, Long)].collect().toSet
    assert(driver.size == bigCols * bigRows)
    (driver, loop)
  }

  test("flow accumulation: distributed loop equals the driver walk on 81,920 cells (two partitions)") {
    val (driver, loop) = bothPaths(m => Hydrology.flowAccumulation(big, bigCols, bigRows, maxDriverEdges = m))
    assert(loop == driver)
    assert(driver.map(_._3).max > 100L) // long channels: several doubling rounds
  }

  test("watershed: distributed loop equals the driver walk on 81,920 cells (two partitions)") {
    val (driver, loop) = bothPaths(m => Hydrology.watershed(big, bigCols, bigRows, maxDriverEdges = m))
    assert(loop == driver)
    assert(driver.map(_._3).size > 10) // many basins
  }

  test("flow length: distributed loop equals the driver walk on 81,920 cells (two partitions)") {
    val (driver, loop) = bothPaths(m => Hydrology.flowLength(big, bigCols, bigRows, maxDriverEdges = m))
    assert(loop == driver)
  }

  test("strahler: distributed loop equals the driver pass on 81,920 cells (two partitions)") {
    val (driver, loop) = bothPaths(m => Hydrology.streamOrder(big, bigCols, bigRows, maxDriverEdges = m))
    assert(loop == driver)
    assert(driver.map(_._3).max >= 3L)
  }
}
