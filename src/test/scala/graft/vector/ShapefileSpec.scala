package graft.vector

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class ShapefileSpec extends SparkSpec {

  test("point shapefile roundtrip preserves order and coordinates") {
    val pts = Seq(Pt(1.5, 2.5), Pt(-3.25, 4.0), Pt(100.0, -200.5))
    val bytes = Shapefile.writePoints(pts)
    val back = Shapefile.readGeometries(bytes)
    assert(back == pts.map(Wkt.PointG(_)))
  }

  test("polygon shapefile roundtrip: holes, ring orientation, multi-record") {
    val withHole = Polygon(
      exterior = IndexedSeq(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10)),
      holes = Seq(IndexedSeq(Pt(4, 4), Pt(6, 4), Pt(6, 6), Pt(4, 6))))
    val plain = Polygon(IndexedSeq(Pt(20, 20), Pt(30, 20), Pt(25, 30)))
    val bytes = Shapefile.writePolygons(Seq(withHole, plain))
    val back = Shapefile.readPolygons(bytes)
    assert(back.size == 2)
    // containment semantics survive regardless of ring vertex order
    assert(back(0).contains(1, 1) && !back(0).contains(5, 5), "hole punched")
    assert(back(0).contains(3, 3))
    assert(back(1).contains(25, 22) && !back(1).contains(21, 29))
    // exterior/hole structure preserved
    assert(back(0).holes.size == 1 && back(1).holes.isEmpty)
  }

  test("multi-ring record groups holes with their containing exterior") {
    // ONE record holding two exteriors + one hole inside the second
    val a = IndexedSeq(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4))
    val b = IndexedSeq(Pt(10, 10), Pt(20, 10), Pt(20, 20), Pt(10, 20))
    val hole = IndexedSeq(Pt(14, 14), Pt(16, 14), Pt(16, 16), Pt(14, 16))
    // write as one MultiPolygon-style record by hand: encode two
    // polygons then splice is overkill — writePolygons writes one
    // record per polygon, so emulate via a Polygon carrying the hole
    val bytes = Shapefile.writePolygons(Seq(Polygon(a), Polygon(b, Seq(hole))))
    val gs = Shapefile.readGeometries(bytes)
    assert(gs.size == 2)
    val polys = Shapefile.readPolygons(bytes)
    assert(polys(0).contains(2, 2))
    assert(polys(1).contains(12, 12) && !polys(1).contains(15, 15))
  }

  test("distributed read yields one WKT row per record") {
    val dir = tempDir("graft_shp").toString
    Files.write(Paths.get(s"$dir/pts.shp"), Shapefile.writePoints(Seq(Pt(1, 2), Pt(3, 4))))
    Files.write(Paths.get(s"$dir/poly.shp"), Shapefile.writePolygons(
      Seq(Polygon(IndexedSeq(Pt(0, 0), Pt(8, 0), Pt(8, 8), Pt(0, 8))))))
    val rows = Shapefile.read(spark, dir).collect()
    assert(rows.length == 3)
    val wkts = rows.map(r => (r.getString(0).split('/').last, r.getInt(1), r.getString(2))).toSet
    assert(wkts.contains(("pts.shp", 0, "POINT (1 2)")))
    assert(wkts.contains(("pts.shp", 1, "POINT (3 4)")))
    assert(wkts.exists { case (f, _, w) => f == "poly.shp" && w.startsWith("POLYGON") })
    // parsed polygons flow into the existing geometry operators
    val poly = Wkt.parsePolygons(wkts.collectFirst {
      case (f, _, w) if f == "poly.shp" => w }.get).head
    assert(poly.contains(4, 4) && !poly.contains(9, 1))
  }

  test("polyline records: single part -> LINESTRING, multi-part -> all parts kept") {
    val single = Seq(IndexedSeq(Pt(0, 0), Pt(5, 5), Pt(10, 0)))
    val multi = Seq(IndexedSeq(Pt(0, 0), Pt(1, 1)), IndexedSeq(Pt(2, 2), Pt(3, 3), Pt(4, 2)))
    val bytes = Shapefile.writePolyLines(Seq(single, multi))
    val back = Shapefile.readGeometries(bytes)
    assert(back == Seq(
      Wkt.LineStringG(single.head),
      Wkt.MultiLineStringG(multi)))
    // WKT roundtrip of the multi-part form
    val wkt = Wkt.write(back(1))
    assert(wkt == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))")
    assert(Wkt.parse(wkt) == back(1))
  }

  test("readFeatures alignment survives deleted dbf records and null shapes") {
    val dir = tempDir("graft_shp_del").toString
    Files.write(Paths.get(s"$dir/t.shp"),
      Shapefile.writePoints(Seq(Pt(1, 1), Pt(2, 2), Pt(3, 3))))
    val dbfBytes = Dbf.write(
      Seq(Dbf.Field("NAME", 'C', 8)),
      Seq(Seq("first"), Seq("second"), Seq("third")))
    // delete the MIDDLE dbf record: its geometry keeps idx 1 with null
    // attrs; record 2's attrs must still land on geometry 2, not shift
    val headerSize = java.nio.ByteBuffer.wrap(dbfBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(8) & 0xffff
    val recordSize = java.nio.ByteBuffer.wrap(dbfBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(10) & 0xffff
    dbfBytes(headerSize + recordSize) = 0x2A
    Files.write(Paths.get(s"$dir/t.dbf"), dbfBytes)
    val rows = Shapefile.readFeatures(spark, dir).collect()
    assert(rows.length == 3)
    val byIdx = rows.map(r => r.getInt(1) ->
      (r.getString(2), if (r.isNullAt(3)) null else r.getMap[String, String](3))).toMap
    assert(byIdx(0)._2("NAME") == "first")
    assert(byIdx(1)._2 == null, "deleted dbf row -> null attrs, not a shifted row")
    assert(byIdx(2)._1 == "POINT (3 3)" && byIdx(2)._2("NAME") == "third")
  }

  test("malformed input fails loudly") {
    intercept[IllegalArgumentException](Shapefile.readGeometries(Array.fill(128)(0.toByte)))
  }

  test("dbf roundtrip: field metadata, padding, deleted records skipped") {
    val fields = Seq(Dbf.Field("NAME", 'C', 8), Dbf.Field("VAL", 'N', 6, 0))
    val rows = Seq(Seq("alpha", "42"), Seq("b", "-7"), Seq("gamma", "10000"))
    val bytes = Dbf.write(fields, rows)
    val (f2, r2) = Dbf.read(bytes)
    assert(f2 == fields)
    assert(r2 == rows)
    // mark the middle record deleted: flag byte -> 0x2A
    val headerSize = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(8) & 0xffff
    val recordSize = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(10) & 0xffff
    bytes(headerSize + recordSize) = 0x2A
    assert(Dbf.read(bytes)._2 == Seq(rows(0), rows(2)))
    // overlong value refused at write time
    intercept[IllegalArgumentException](
      Dbf.write(Seq(Dbf.Field("X", 'N', 2)), Seq(Seq("12345"))))
  }

  test("readFeatures pairs geometry records with their dbf attributes") {
    val dir = tempDir("graft_shp_dbf").toString
    Files.write(Paths.get(s"$dir/cities.shp"),
      Shapefile.writePoints(Seq(Pt(1, 2), Pt(3, 4), Pt(5, 6))))
    Files.write(Paths.get(s"$dir/cities.dbf"), Dbf.write(
      Seq(Dbf.Field("NAME", 'C', 8), Dbf.Field("POP", 'N', 8)),
      Seq(Seq("a", "100"), Seq("b", "250"), Seq("c", "99"))))
    val rows = Shapefile.readFeatures(spark, dir).collect()
    assert(rows.length == 3)
    val byIdx = rows.map(r => r.getInt(1) ->
      (r.getString(2), r.getMap[String, String](3))).toMap
    assert(byIdx(0)._1 == "POINT (1 2)" && byIdx(0)._2("POP") == "100")
    assert(byIdx(1)._2("NAME") == "b" && byIdx(2)._2("POP") == "99")
    // a .shp with no sibling .dbf still yields geometry (null attrs)
    Files.write(Paths.get(s"$dir/bare.shp"), Shapefile.writePoints(Seq(Pt(9, 9))))
    val all = Shapefile.readFeatures(spark, dir).collect()
    assert(all.length == 4)
    assert(all.filter(_.getString(0).endsWith("bare.shp")).forall(_.isNullAt(3)))
  }
}
