package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, GeoTrellisStore}
import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.pipeline.{Dedup, TextAnalysis}
import graft.raster._
import graft.vector.Geometry

/** A workload: its inputs are located when it is constructed (set-up),
  * and `run` executes one pass of its steps. */
trait Workload {
  def run(p: Pass): Unit
  /** Counters read from disk after a timed pass (outside its timing). */
  def passMetrics(dir: Path): Seq[(String, Double)] = Nil
}

object Workloads {
  def apply(name: String, spark: SparkSession, data: String, params: Map[String, String]): Workload =
    name match {
      case "raster_tiles" => new RasterTiles(spark, data, params)
      case "loops_dedup" => new LoopsDedup(spark, data, params)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def gridLayout(g: Int, t: Int): LayoutDefinition =
    LayoutDefinition(Extent(0, 0, g, g), TileLayout(g / t, g / t, t, t))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Tile build, halo exchange, zonal join and native tile kernels over a
  * lineitem-style table re-keyed onto a large grid; the value layer is
  * then written to and read back from both catalog formats, so a tile
  * encoding or layout change that speeds the kernels but slows storage
  * shows in the same pass. */
final class RasterTiles(spark: SparkSession, data: String, params: Map[String, String]) extends Workload {
  private val g = params("grid").toInt
  private val layout = Workloads.gridLayout(g, params("tile").toInt)
  private val polys = params("polys").split(";").toSeq.map { s =>
    val Array(cx, cy, r) = s.split(",").map(_.toDouble)
    Geometry.diamond(cx, cy, r)
  }
  private val Array(qx0, qy0, qx1, qy1) = params("query").split(",").map(_.toLong)
  private val lineitem = spark.read.parquet(s"$data/lineitem.parquet")

  private def stores(dir: Path) = (dir.resolve("catalog").toString, dir.resolve("gt").toString)

  def run(p: Pass): Unit = {
    val cells = lineitem.select(
      pmod(col("l_orderkey"), lit(g.toLong)).as("x"), pmod(col("l_partkey"), lit(g.toLong)).as("y"),
      col("l_quantity").as("va"), ascii(col("l_returnflag")).cast("double").as("vb"))
    val dual = p.step("rasterLayer.fromCellsDual")(
      RasterLayer.fromCellsDual(cells, layout, CellOp.Sum, CellOp.Min))
    val vals = dual.map(_._1)
    p.stepOn(vals, "focal.focal")(Focal.focal(_, Neighborhood.Square(1), FocalOp.Mean))
    p.stepOn(vals, "focal.terrain_slope")(Focal.terrain(_, "slope"))
    p.stepOn(vals, "focal.terrain_hillshade")(Focal.terrain(_, "hillshade"))
    p.stepOn(dual, "zonalOps.zonalStats") { case (v, z) => ZonalOps.zonalStats(v, z) }
    val masked = p.stepOn(vals, "zonalOps.mask")(ZonalOps.mask(_, polys))
    p.stepOn(masked, "rasterLayer.toCells")(_.toCells)

    val (uri, gt) = stores(p.dir)
    val top = p.stepOn(vals, "pyramid.write") { l =>
      val levels = Pyramid.build(l)
      Pyramid.write(uri, "bench", levels)
      levels.head._1
    }
    p.stepOn(top, "catalog.read")(Catalog.read(spark, uri, "bench", _))
    p.stepOn(top, "catalog.query")(Catalog.query(spark, uri, "bench", _, qx0, qy0, qx1, qy1))
    val written = p.stepOn(vals, "geoTrellisStore.writeLayer")(GeoTrellisStore.writeLayer(gt, "bench", _))
    p.stepOn(written, "geoTrellisStore.readLayer")(_ =>
      GeoTrellisStore.readLayer(spark, gt, GeoTrellisStore.GtLayerId("bench", 0)))
  }

  override def passMetrics(dir: Path): Seq[(String, Double)] = {
    val (uri, gt) = stores(dir)
    Seq("catalog.write.disk_mb" ->
      (Workloads.treeBytes(Path.of(uri)) + Workloads.treeBytes(Path.of(gt))) / 1048576.0)
  }
}

/** Distributed fixpoint loops (every driver-side fast path disabled)
  * over a smooth terrain, then the text pipeline over a corpus in the
  * `documents` schema: SQL exchanges, wide aggregates, window sorts and
  * string kernels. Per-round job, shuffle and checkpoint cost dominates
  * the loops; no tile kernel beyond the D8 and friction builds runs. */
final class LoopsDedup(spark: SparkSession, data: String, params: Map[String, String]) extends Workload {
  private val g = params("grid").toInt
  private val layout = Workloads.gridLayout(g, params("tile").toInt)
  private val maxCost = params("max_cost").toDouble
  private val terrain = spark.read.parquet(s"$data/terrain.parquet")
  private val sources = spark.read.parquet(s"$data/sources.parquet")
  private val docs = spark.read.parquet(s"$data/documents.parquet")
  private val families = spark.read.parquet(s"$data/families.parquet")

  def run(p: Pass): Unit = {
    val elev = terrain.select(col("x"), col("y"), col("z").as("v"))
    p.step("hydrology.flowAccumulation")(Hydrology.flowAccumulation(elev, g, g, maxDriverEdges = 0))
    p.step("hydrology.watershed")(Hydrology.watershed(elev, g, g, maxDriverEdges = 0))
    p.step("hydrology.streamOrder")(Hydrology.streamOrder(elev, g, g, maxDriverEdges = 0))
    val friction = RasterLayer.fromCells(terrain.select(col("x"), col("y"), col("f").as("v")),
      layout, CellOp.Max)
    val dist = p.step("distance.costDistanceTiled")(
      Distance.costDistanceTiled(friction, sources, maxCost = maxCost))
    p.stepOn(dist, "distance.costPath")(d =>
      Distance.costPath(friction, sources, maxCost = maxCost, maxDriverCells = 0, distance = Some(d)))

    p.step("dedup.minhashPairs")(Dedup.minhashPairs(docs))
    p.step("dedup.connectedComponents")(
      Dedup.connectedComponents(families, docs.select(col("doc_id")), maxDriverEdges = 0))
    p.step("textAnalysis.stupidBackoff")(TextAnalysis.stupidBackoff(docs))
  }
}
