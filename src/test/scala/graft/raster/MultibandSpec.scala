package graft.raster

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Extent, LayoutDefinition, TileLayout}

class MultibandSpec extends SparkSpec {
  import spark.implicits._

  val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))

  // band 0 dense, band 1 only on the left half (tests NoData fill)
  def b0 = RasterLayer.fromCells(
    (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y, (x + 10 * y).toDouble))
      .toDF("x", "y", "v"), layout)
  def b1 = RasterLayer.fromCells(
    (for (x <- 0L until 4L; y <- 0L until 8L) yield (x, y, (100 + x + y).toDouble))
      .toDF("x", "y", "v"), layout)

  test("fromLayers/band round-trips each input layer") {
    val mb = MultibandLayer.fromLayers(Seq(b0, b1))
    assert(mb.bandCount == 2)
    val got0 = mb.band(0).toCells.as[(Long, Long, Double)].collect().toSet
    assert(got0 == b0.toCells.as[(Long, Long, Double)].collect().toSet)
    val got1 = mb.band(1).toCells.as[(Long, Long, Double)].collect().toSet
    assert(got1 == b1.toCells.as[(Long, Long, Double)].collect().toSet)
  }

  test("fromLayers agg path (> JoinStackMaxBands) matches join-path semantics") {
    // 6 bands forces the union+BandStackAgg strategy; band 5 is sparse
    val ls = (0 until 5).map(k => b0 * (k + 1).toDouble) :+ b1
    val mb = MultibandLayer.fromLayers(ls)
    assert(ls.length > MultibandLayer.JoinStackMaxBands && mb.bandCount == 6)
    (0 until 5).foreach { k =>
      val got = mb.band(k).toCells.as[(Long, Long, Double)].collect().toSet
      assert(got == (b0 * (k + 1).toDouble).toCells.as[(Long, Long, Double)].collect().toSet)
    }
    // keys absent from the sparse layer read back as NoData (dropped)
    assert(mb.band(5).toCells.as[(Long, Long, Double)].collect().toSet ==
      b1.toCells.as[(Long, Long, Double)].collect().toSet)
  }

  test("toCells emits (x, y, band, v) without NoData") {
    val cells = MultibandLayer.fromLayers(Seq(b0, b1)).toCells
      .as[(Long, Long, Int, Double)].collect()
    assert(cells.count(_._3 == 0) == 64)
    assert(cells.count(_._3 == 1) == 32)
  }

  test("combinePixels: normalized difference where both bands present") {
    val nd = MultibandLayer.fromLayers(Seq(b0, b1)).normalizedDifference(nir = 1, red = 0)
      .toCells.as[(Long, Long, Double)].collect().map(c => (c._1, c._2) -> c._3).toMap
    assert(nd.size == 32) // right half has no band 1
    val (x, y) = (2L, 3L)
    val (r, n) = ((x + 10 * y).toDouble, 100.0 + x + y)
    assert(nd((x, y)) == (n - r) / (n + r))
  }

  test("mapCells transforms every band; bands() subsets") {
    val mb = MultibandLayer.fromLayers(Seq(b0, b1)).mapCells(c => c * 2.0)
    val one = mb.bands(Seq(1))
    assert(one.bandCount == 1)
    val v = one.band(0).toCells.where(col("x") === 0 && col("y") === 0)
      .select("v").as[Double].head()
    assert(v == 200.0)
  }

  test("union + aggregateByCell reduces per band") {
    val mb = MultibandLayer.fromLayers(Seq(b0, b1))
    val agg = mb.union(mb.mapCells(_ * 3.0)).aggregateByCell("Sum")
    val v0 = agg.band(0).toCells.where(col("x") === 1 && col("y") === 1)
      .select("v").as[Double].head()
    assert(v0 == 11.0 + 33.0)
    val v1 = agg.band(1).toCells.where(col("x") === 1 && col("y") === 1)
      .select("v").as[Double].head()
    assert(v1 == 102.0 + 306.0)
  }

  test("stack appends bands with NoData padding on missing keys") {
    val mb = MultibandLayer.fromLayers(Seq(b0)).stack(MultibandLayer.fromLayers(Seq(b1)))
    assert(mb.bandCount == 2)
    assert(mb.band(1).toCells.count() == 32)
  }

  test("focalAll applies focal per band") {
    val f = MultibandLayer.fromLayers(Seq(b0, b1)).focalAll(Neighborhood.Square(1), "Max")
    val v0 = f.band(0).toCells.where(col("x") === 0 && col("y") === 0)
      .select("v").as[Double].head()
    assert(v0 == 11.0) // max of 2x2 corner neighborhood of band 0
  }

  test("focalChainAll fused equals per-band sequential chain") {
    val mb = MultibandLayer.fromLayers(Seq(b0, b1))
    val fused = mb.focalChainAll((Neighborhood.Square(1), "Mean"), (Neighborhood.Square(1), "Max"))
    val seq = MultibandLayer.fromLayers((0 until 2).map(i =>
      mb.band(i).focal(Neighborhood.Square(1), "Mean").focal(Neighborhood.Square(1), "Max")))
    def cells(m: MultibandLayer) =
      m.toCells.as[(Long, Long, Int, Double)].collect().toSet
    assert(cells(fused) == cells(seq))
  }

  test("union rejects mismatched layouts") {
    val otherLayout = LayoutDefinition(Extent(0, 0, 16, 16), TileLayout(4, 4, 4, 4))
    val other = new MultibandLayer(
      MultibandLayer.fromLayers(Seq(b0, b1)).df, LayerMetadata(otherLayout), 2)
    val e = intercept[IllegalArgumentException] {
      MultibandLayer.fromLayers(Seq(b0, b1)).union(other)
    }
    assert(e.getMessage.contains("layouts differ"))
  }

  test("writeMultiband keeps other zoom partitions (dynamic overwrite)") {
    val uri = tempDir("graft_mbz").toString
    val mb = MultibandLayer.fromLayers(Seq(b0, b1))
    graft.catalog.Catalog.writeMultiband(uri, "mbz", mb, zoom = 1)
    graft.catalog.Catalog.writeMultiband(uri, "mbz", mb, zoom = 0)
    // zoom 1 must survive the zoom-0 overwrite write
    val z1 = graft.catalog.Catalog.readMultiband(spark, uri, "mbz", zoom = 1)
    assert(z1.toCells.count() == mb.toCells.count())
  }

  test("multiband catalog roundtrip preserves bands") {
    val uri = tempDir("graft_mb").toString
    val mb = MultibandLayer.fromLayers(Seq(b0, b1))
    graft.catalog.Catalog.writeMultiband(uri, "mb", mb, zoom = 2)
    val back = graft.catalog.Catalog.readMultiband(spark, uri, "mb", zoom = 2)
    assert(back.bandCount == 2)
    assert(back.toCells.as[(Long, Long, Int, Double)].collect().toSet ==
      mb.toCells.as[(Long, Long, Int, Double)].collect().toSet)
  }

  test("multiband packed store (uint8) roundtrips bands through one binary blob") {
    val uri = tempDir("graft_mb8").toString
    val base = MultibandLayer.fromLayers(Seq(b0, b1))
    val mb = new MultibandLayer(base.df, base.meta.copy(cellType = "uint8"), base.bandCount)
    graft.catalog.Catalog.writeMultiband(uri, "mb8", mb, zoom = 0)
    // on disk: the bands column is BINARY, not array<array<double>>
    val stored = spark.read.parquet(s"$uri/mb8/tiles")
    assert(stored.schema("bands").dataType == org.apache.spark.sql.types.BinaryType)
    val back = graft.catalog.Catalog.readMultiband(spark, uri, "mb8", zoom = 0)
    assert(back.meta.cellType == "uint8" && back.bandCount == 2)
    assert(back.toCells.as[(Long, Long, Int, Double)].collect().toSet ==
      base.toCells.as[(Long, Long, Int, Double)].collect().toSet)
  }
}
