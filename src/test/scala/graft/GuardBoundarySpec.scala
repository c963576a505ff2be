package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.pipeline.Dedup
import graft.raster.{Distance, Hydrology, RasterLayer}

/** The guarded loop operators at their guard boundary: a guard equal to
  * the count [[Fixpoint.input]] returns takes the driver fast path, one
  * below it takes the distributed loop, and both give identical rows. */
class GuardBoundarySpec extends SparkSpec {
  import spark.implicits._

  /** Rows of `run(count)` (driver) and `run(count - 1)` (loop), checking
    * that only the second ran the loop named `loop`. */
  private def atBoundary(count: Long, loop: String)(run: Long => DataFrame): (Set[Any], Set[Any]) = {
    def rows(guard: Long) = traced(run(guard).collect().map(_.toSeq).toSet[Any])
    val (driver, _, driverAccs) = rows(count)
    val (looped, _, loopAccs) = rows(count - 1)
    assert(!driverAccs.exists(_.startsWith(s"graft_${loop}_")), s"driver path ran $loop rounds")
    assert(loopAccs.exists(_.startsWith(s"graft_${loop}_")), s"the $loop loop did not run")
    (driver, looped)
  }

  test("watershed: guard at the present-cell count walks on the driver, one below loops") {
    // 14 x 12 grid with NoData holes and a few interior pits
    val cells = for (x <- 0L until 14L; y <- 0L until 12L if (x * 5 + y * 3) % 11 != 4)
      yield (x, y, 0.8 * x + 0.5 * y + ((x * 73 + y * 151 + 7) % 13) / 4.0)
    val df = cells.toDF("x", "y", "v")
    val (driver, loop) = atBoundary(cells.size.toLong, "watershed")(Hydrology.watershed(df, 14, 12, _))
    assert(loop == driver && driver.size == cells.size)
  }

  test("connectedComponents: guard at the non-self pair count runs union-find, one below loops") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 3L), (5L, 4L), (4L, 5L), (7L, 9L), (9L, 8L), (2L, 1L))
    val edges = pairs.toDF("d1", "d2")
    val verts = (1L to 10L).toDF("doc_id")
    val nonSelf = pairs.count { case (u, v) => u != v }.toLong
    val (driver, loop) = atBoundary(nonSelf, "cc")(m =>
      Dedup.connectedComponents(edges, verts, maxDriverEdges = m))
    assert(loop == driver)
    assert(driver == Set[Any](Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 4L), Seq(5L, 4L),
      Seq(6L, 6L), Seq(7L, 7L), Seq(8L, 7L), Seq(9L, 7L), Seq(10L, 10L)))
  }

  test("costPath: guard at the reachable-cell count walks on the driver, one below loops") {
    val layout = LayoutDefinition(Extent(0, 0, 12, 12), TileLayout(3, 3, 4, 4))
    val cells = for (x <- 0L until 12L; y <- 0L until 12L if !(x == 6 && y < 9))
      yield (x, y, 1.0 + ((x * 7 + y * 13) % 5))
    val friction = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val sources = Seq((0L, 1.5, 0.5)).toDF("pid", "px", "py")
    val dist = Distance.costDistanceTiled(friction, sources, maxCost = 30.0)
    val reach = dist.toCells.where(!org.apache.spark.sql.functions.isnan(col("v"))).count()
    assert(reach > 20 && reach < cells.size)
    val (driver, loop) = atBoundary(reach, "cp")(m =>
      Distance.costPath(friction, sources, maxCost = 30.0, maxDriverCells = m, distance = Some(dist)))
    assert(loop == driver && driver.size > 5)
  }
}
