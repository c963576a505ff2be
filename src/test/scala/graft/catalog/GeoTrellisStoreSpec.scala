package graft.catalog

import graft.SparkSpec

/** GeoTrellis store adapter: layer discovery over the TRIPLE-underscore
  * FileAttributeStore separator (geotrellis `FileAttributeStore.SEP` —
  * the r18 spec's double-underscore fixture was a circular bug this
  * rewrite de-circularizes with separator literals taken from the
  * public geotrellis-store source), the guarded [layerId, value]
  * unwrap, TileLayerMetadata parsing, and the r19 Avro tile payload
  * path: hand-written spec bytes (NOT produced by the repo's encoder),
  * decode conventions per tile record type, the writeLayer/readLayer/
  * readValue roundtrip, and the loud subset walls. */
class GeoTrellisStoreSpec extends SparkSpec {

  private def writeStore(): String = {
    spark // force the session so Hadoop conf resolution has one
    val dir = tempDir("gt_store").toFile
    val attrs = new java.io.File(dir, "attributes")
    attrs.mkdirs()
    def put(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(attrs, name), "UTF-8")
      try w.write(body) finally w.close()
    }
    // the FileLayerWriter shape: [layerId, {header, metadata, ...}]
    def metaJson(name: String, zoom: Int, n: Int): String =
      s"""[{"name":"$name","zoom":$zoom},
         |{"header":{"format":"file","keyClass":"geotrellis.layer.SpatialKey",
         |  "valueClass":"geotrellis.raster.Tile","path":"$name/$zoom"},
         |"metadata":{
         |  "extent":{"xmin":0.0,"ymin":0.0,"xmax":${n * 10.0},"ymax":${n * 10.0}},
         |  "layoutDefinition":{
         |    "extent":{"xmin":0.0,"ymin":0.0,"xmax":${n * 10.0},"ymax":${n * 10.0}},
         |    "tileLayout":{"layoutCols":$n,"layoutRows":$n,"tileCols":256,"tileRows":256}},
         |  "cellType":"int32ud-2147483648",
         |  "crs":"+proj=merc +a=6378137 +b=6378137",
         |  "bounds":{"minKey":{"col":1,"row":2},"maxKey":{"col":${n - 1},"row":${n - 1}}}},
         |"keyIndex":{"type":"zorder"},"schema":{}}]""".stripMargin
    // separator is THREE underscores — geotrellis FileAttributeStore.SEP
    put("ndvi___0___metadata.json", metaJson("ndvi", 0, 4))
    put("ndvi___1___metadata.json", metaJson("ndvi", 1, 8))
    // a layer NAME containing double underscores must still parse
    put("snow__cover___2___metadata.json", metaJson("snow__cover", 2, 4))
    put("ndvi___0___histogram.json",
      """[{"name":"ndvi","zoom":0},{"buckets":[[1.0,5],[2.0,7]],"maxBucketCount":80}]""")
    // a BARE attribute whose value is itself a 2-element array: the
    // unwrap guard must leave it whole (element 0 is not a layerId)
    put("ndvi___0___breaks.json", """[10.5, 20.5]""")
    put("notalayer.json", "{}")          // ignored: no ___zoom___metadata shape
    put("ndvi__9__metadata.json", "{}")  // ignored: r18's WRONG double-underscore shape
    dir.getAbsolutePath
  }

  test("layer discovery over the triple-underscore separator") {
    val store = writeStore()
    val ids = GeoTrellisStore.layers(store)
    assert(ids == Seq(GeoTrellisStore.GtLayerId("ndvi", 0),
      GeoTrellisStore.GtLayerId("ndvi", 1),
      GeoTrellisStore.GtLayerId("snow__cover", 2)))
    val gt = GeoTrellisStore.readMetadata(store, ids.head)
    assert(gt.layout.extent == graft.core.Extent(0, 0, 40, 40))
    assert(gt.layout.tileLayout ==
      graft.core.TileLayout(4, 4, 256, 256))
    assert(gt.cellType == "int32ud-2147483648")
    assert(gt.crs.startsWith("+proj=merc"))
    assert(gt.keyBounds == ((1L, 2L), (3L, 3L)))
    // zoom 1 is the 8x8 layout
    val gt1 = GeoTrellisStore.readMetadata(store, ids(1))
    assert(gt1.layout.tileLayout.layoutCols == 8)
    // the double-underscore NAME resolves to its own metadata file
    val gt2 = GeoTrellisStore.readMetadata(store, ids(2))
    assert(gt2.layout.tileLayout.layoutCols == 4)
    // graft mapping: ud sentinel collapses to the base width
    val lm = GeoTrellisStore.toLayerMetadata(gt)
    assert(lm.cellType == "int32" && lm.layout == gt.layout)
  }

  test("attribute unwrap fires only on a real [layerId, value] tuple") {
    val store = writeStore()
    val id = GeoTrellisStore.GtLayerId("ndvi", 0)
    val h = GeoTrellisStore.readAttribute(store, id, "histogram")
      .asInstanceOf[Map[String, Any]]
    assert(h("maxBucketCount") == 80.0)
    assert(h("buckets").asInstanceOf[Seq[Any]].length == 2)
    // bare 2-element array stays WHOLE (r18 unwrapped it to 20.5)
    assert(GeoTrellisStore.readAttribute(store, id, "breaks") == Seq(10.5, 20.5))
  }

  test("missing store and absent layers stay quiet/loud appropriately") {
    assert(GeoTrellisStore.layers("/tmp/definitely_not_a_gt_store_xyz") == Nil)
    intercept[Exception] {
      GeoTrellisStore.readMetadata(writeStore(),
        GeoTrellisStore.GtLayerId("nope", 0))
    }
  }

  // ------------------------------------------------- Avro payloads (r19)

  /** Hand-written datum bytes straight from the Avro spec (zig-zag
    * varints, block-framed arrays, index-prefixed unions) — NOT
    * produced by GtAvro.encode, so decoder and encoder are checked
    * against the specification, not against each other. */
  test("hand-written KeyValueRecord bytes decode per the Avro spec") {
    val schemaJson =
      """{"type":"record","name":"KeyValueRecord","fields":[
        |{"name":"pairs","type":{"type":"array","items":
        |{"type":"record","name":"Tuple2","fields":[
        |{"name":"_1","type":{"type":"record","name":"SpatialKey","fields":[
        |{"name":"col","type":"int"},{"name":"row","type":"int"}]}},
        |{"name":"_2","type":[
        |{"type":"record","name":"IntArrayTile","fields":[
        |{"name":"cols","type":"int"},{"name":"rows","type":"int"},
        |{"name":"cells","type":{"type":"array","items":"int"}},
        |{"name":"noDataValue","type":["int","null"]}]}]}]}}}]}"""
        .stripMargin.replace("\n", "")
    val schema = GtAvro.parseSchema(schemaJson)
    // pairs: count 1 (zz 0x02); key col=2 (0x04) row=3 (0x06); union
    // branch 0 (0x00); cols=2 rows=1 (0x04 0x02); cells count 2 (0x04),
    // 7 (0x0e), -3 (0x05), end (0x00); noDataValue branch 0 (0x00)
    // value 7 (0x0e); pairs end (0x00)
    val bytes = Array(0x02, 0x04, 0x06, 0x00, 0x04, 0x02, 0x04, 0x0e,
      0x05, 0x00, 0x00, 0x0e, 0x00).map(_.toByte)
    val pairs = GeoTrellisStore.decodePairs(bytes, schema)
    assert(pairs.length == 1)
    val (c, r, inst, tc, tr, bands) = pairs.head
    assert((c, r, inst, tc, tr) == ((2L, 3L, None, 2, 1)))
    // single-band value -> one band; sentinel 7 becomes NaN, -3 survives
    assert(bands.length == 1)
    assert(bands.head(0).isNaN && bands.head(1) == -3.0)
    // the repo's encoder must reproduce the spec bytes EXACTLY
    import GtAvro.{Rec, UnionVal}
    val enc = GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> Vector(
      Rec("Tuple2", Map(
        "_1" -> Rec("SpatialKey", Map("col" -> 2, "row" -> 3)),
        "_2" -> UnionVal(0, Rec("IntArrayTile", Map(
          "cols" -> 2, "rows" -> 1, "cells" -> Vector(7, -3),
          "noDataValue" -> UnionVal(0, 7))))))))), schema)
    assert(enc.toSeq == bytes.toSeq)
  }

  test("multi-byte varints, doubles, and strings follow the spec") {
    // schema: record with a long, a double, a string
    val s = GtAvro.parseSchema(
      """{"type":"record","name":"R","fields":[
        |{"name":"n","type":"long"},{"name":"d","type":"double"},
        |{"name":"s","type":"string"}]}""".stripMargin.replace("\n", ""))
    // n = 300: zz(300) = 600 = 0b1001011000 -> 0xd8 0x04
    // d = 2.0: IEEE 4000000000000000 little-endian
    // s = "ab": len 2 (0x04) + bytes
    val bytes = Array(0xd8, 0x04,
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40,
      0x04, 'a'.toInt, 'b'.toInt).map(_.toByte)
    val rec = GtAvro.decode(bytes, s).asInstanceOf[GtAvro.Rec]
    assert(rec("n") == 300L && rec("d") == 2.0 && rec("s") == "ab")
    assert(GtAvro.encode(rec, s).toSeq == bytes.toSeq)
    // truncated datum fails with the codec's loud diagnostic, not AIOOBE
    val e = intercept[IllegalArgumentException] {
      GtAvro.decode(bytes.take(6), s)
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("enum, fixed, map, and float decode per the Avro spec") {
    val s = GtAvro.parseSchema(
      """{"type":"record","name":"R","fields":[
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["NN","BILINEAR","CUBIC"]}},
        |{"name":"fx","type":{"type":"fixed","name":"F","size":3}},
        |{"name":"m","type":{"type":"map","values":"int"}},
        |{"name":"f","type":"float"}]}""".stripMargin.replace("\n", ""))
    // e = BILINEAR (index 1 -> zz 0x02); fx = 3 raw bytes; m = one
    // block of 1 entry {"k": 7}; f = 1.5f little-endian (0x3fc00000)
    val bytes = Array[Int](0x02,
      0xaa, 0xbb, 0xcc,
      0x02, 0x02, 'k'.toInt, 0x0e, 0x00,
      0x00, 0x00, 0xc0, 0x3f).map(_.toByte)
    val rec = GtAvro.decode(bytes, s).asInstanceOf[GtAvro.Rec]
    assert(rec("e") == "BILINEAR")
    assert(rec("fx").asInstanceOf[Array[Byte]].toSeq ==
      Seq(0xaa.toByte, 0xbb.toByte, 0xcc.toByte))
    assert(rec("m") == Map("k" -> 7))
    assert(rec("f") == 1.5f)
    assert(GtAvro.encode(rec, s).toSeq == bytes.toSeq)
  }

  test("namespaced enum/fixed resolve by fullname; int datum overflow is loud (r20)") {
    // the spec allows a later reference by EITHER the short name or the
    // namespace-qualified fullname (r19 review: only records registered
    // both)
    val s = GtAvro.parseSchema(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":{"type":"enum","name":"E","namespace":"ns.x","symbols":["P","Q"]}},
        |{"name":"b","type":"ns.x.E"},
        |{"name":"c","type":{"type":"fixed","name":"F","namespace":"ns.x","size":1}},
        |{"name":"d","type":"ns.x.F"}]}""".stripMargin.replace("\n", ""))
    val bytes = Array[Int](0x02, 0x00, 0x11, 0x22).map(_.toByte)
    val rec = GtAvro.decode(bytes, s).asInstanceOf[GtAvro.Rec]
    assert(rec("a") == "Q" && rec("b") == "P")
    assert(rec("c").asInstanceOf[Array[Byte]].toSeq == Seq(0x11.toByte))
    // an int datum whose zig-zag value exceeds 32 bits fails loudly
    // instead of silently truncating (r19 review)
    val big = GtAvro.encode(1L << 40, GtAvro.ALong)
    intercept[IllegalArgumentException] { GtAvro.decode(big, GtAvro.AInt) }
    // boundary values still decode
    assert(GtAvro.decode(GtAvro.encode(Int.MaxValue.toLong, GtAvro.ALong),
      GtAvro.AInt) == Int.MaxValue)
    assert(GtAvro.decode(GtAvro.encode(Int.MinValue.toLong, GtAvro.ALong),
      GtAvro.AInt) == Int.MinValue)
  }

  test("tile record decode conventions: UByte, Bit LSB, UShort reinterpretation, float NaN") {
    import GtAvro.Rec
    // UByte: bytes reinterpret unsigned; int-sentinel NoData
    val (c1, r1, ub) = GeoTrellisStore.tileCells(Rec("UByteArrayTile", Map(
      "cols" -> 2, "rows" -> 1,
      "cells" -> Array(0xff.toByte, 0x01.toByte), "noDataValue" -> 255)))
    assert((c1, r1) == ((2, 1)) && ub(0).isNaN && ub(1) == 1.0)
    // Bit: LSB-first within each byte (the geotrellis BitArrayTile layout)
    val (_, _, bits) = GeoTrellisStore.tileCells(Rec("BitArrayTile", Map(
      "cols" -> 8, "rows" -> 1, "cells" -> Array(0x05.toByte))))
    assert(bits.toSeq == Seq(1.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    // UShort: sign-widened shorts reinterpret unsigned
    val (_, _, us) = GeoTrellisStore.tileCells(Rec("UShortArrayTile", Map(
      "cols" -> 2, "rows" -> 1, "cells" -> Vector(-1, 42), "noDataValue" -> null)))
    assert(us.toSeq == Seq(65535.0, 42.0))
    // float tile: boolean-true noDataValue = NaN is NoData (already NaN)
    val (_, _, fl) = GeoTrellisStore.tileCells(Rec("FloatArrayTile", Map(
      "cols" -> 2, "rows" -> 1, "cells" -> Vector(1.5f, Float.NaN),
      "noDataValue" -> true)))
    assert(fl(0) == 1.5 && fl(1).isNaN)
    // multiband and constant tiles fail loudly
    intercept[IllegalArgumentException] {
      GeoTrellisStore.tileCells(Rec("ArrayMultibandTile", Map("bands" -> Vector())))
    }
    intercept[IllegalStateException] {
      GeoTrellisStore.tileCells(Rec("IntConstantTile", Map("rows" -> 1)))
    }
  }

  test("writeLayer -> readLayer/readValue roundtrip is cell-exact") {
    import spark.implicits._
    val dir = tempDir("gt_rt").toFile.getAbsolutePath
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, 8, 8), graft.core.TileLayout(2, 2, 4, 4))
    // sparse cells across 3 of the 4 tiles, incl. a NaN-bearing tile
    val cells = Seq((0L, 0L, 5.0), (1L, 3L, -2.5), (5L, 1L, 7.0), (2L, 6L, 9.0))
    val layer = graft.raster.RasterLayer.fromCells(
      cells.toDF("x", "y", "v"), layout)
    GeoTrellisStore.writeLayer(dir, "rt", layer)
    val id = GeoTrellisStore.GtLayerId("rt", 0)
    // inventory + metadata round-trips
    assert(GeoTrellisStore.layers(dir) == Seq(id))
    val gt = GeoTrellisStore.readMetadata(dir, id)
    assert(gt.layout == layout && gt.cellType == "float64")
    // full read: identical data cells
    val back = GeoTrellisStore.readLayer(spark, dir, id).toCells
      .as[(Long, Long, Double)].collect().toSet
    assert(back == cells.toSet)
    // point read through the z-index: tile (1, 0) holds (5,1)=7.0
    val tile = GeoTrellisStore.readValue(dir, id, 1, 0).get
    assert(tile.length == 16)
    assert(tile(1 * 4 + (5 - 4)) == 7.0) // row-major within the tile
    assert(tile.count(!_.isNaN) == 1)
    // absent key -> None
    assert(GeoTrellisStore.readValue(dir, id, 7, 7).isEmpty)
  }

  test("multiband and space-time payloads read back (r19 walls removed)") {
    import GtAvro.{Rec, UnionVal}
    spark
    val dir = tempDir("gt_mb").toFile.getAbsolutePath
    new java.io.File(dir, "attributes").mkdirs()
    def put(rel: String, body: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      val o = new java.io.FileOutputStream(f)
      try o.write(body) finally o.close()
    }
    def meta(name: String, keyFields: String, tileRecord: String): String =
      s"""[{"name":"$name","zoom":0},
         |{"header":{"format":"file","path":"$name/0"},
         |"metadata":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":2.0},
         |"layoutDefinition":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":2.0},
         |"tileLayout":{"layoutCols":2,"layoutRows":1,"tileCols":2,"tileRows":1}},
         |"cellType":"float64","crs":"",
         |"bounds":{"minKey":{"col":0,"row":0},"maxKey":{"col":1,"row":0}}},
         |"keyIndex":{"type":"zorder"},
         |"schema":{"type":"record","name":"KeyValueRecord","fields":[
         |{"name":"pairs","type":{"type":"array","items":
         |{"type":"record","name":"Tuple2","fields":[
         |{"name":"_1","type":{"type":"record","name":"K","fields":[$keyFields]}},
         |{"name":"_2","type":[$tileRecord]}]}}}]}}]""".stripMargin
    val dblTile =
      """{"type":"record","name":"DoubleArrayTile","fields":[
        |{"name":"cols","type":"int"},{"name":"rows","type":"int"},
        |{"name":"cells","type":{"type":"array","items":"double"}},
        |{"name":"noDataValue","type":["boolean","double"]}]}""".stripMargin
    val mbTile =
      s"""{"type":"record","name":"ArrayMultibandTile","fields":[
         |{"name":"bands","type":{"type":"array","items":[$dblTile]}}]}""".stripMargin
    val spatialKey = """{"name":"col","type":"int"},{"name":"row","type":"int"}"""
    val timeKey = spatialKey + "," + """{"name":"instant","type":"long"}"""
    // ---- multiband layer: one 2-band tile at key (0,0)
    put("attributes/mb___0___metadata.json",
      meta("mb", spatialKey, mbTile).getBytes("UTF-8"))
    def dbl(cells: Seq[Double]) = Rec("DoubleArrayTile", Map(
      "cols" -> 2, "rows" -> 1, "cells" -> cells.toVector,
      "noDataValue" -> UnionVal(0, true)))
    val mbSchema = GeoTrellisStore.readSchema(dir, GeoTrellisStore.GtLayerId("mb", 0))
    val mbDatum = GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> Vector(
      Rec("Tuple2", Map(
        "_1" -> Rec("K", Map("col" -> 0, "row" -> 0)),
        "_2" -> UnionVal(0, Rec("ArrayMultibandTile", Map(
          "bands" -> Vector(UnionVal(0, dbl(Seq(1.0, 2.0))),
            UnionVal(0, dbl(Seq(10.0, 20.0)))))))))))), mbSchema)
    put("mb/0/0", mbDatum)
    val mb = GeoTrellisStore.readLayerMultiband(spark, dir,
      GeoTrellisStore.GtLayerId("mb", 0))
    assert(mb.bandCount == 2)
    import spark.implicits._
    val b1 = mb.band(1).toCells.as[(Long, Long, Double)].collect().toSet
    assert(b1 == Set((0L, 0L, 10.0), (1L, 0L, 20.0)))
    // single-band readers refuse the stack loudly
    intercept[Exception] {
      GeoTrellisStore.readLayer(spark, dir, GeoTrellisStore.GtLayerId("mb", 0))
        .toCells.collect()
    }
    // ---- space-time layer: same tile at two instants
    put("attributes/st___0___metadata.json",
      meta("st", timeKey, dblTile).getBytes("UTF-8"))
    val stSchema = GeoTrellisStore.readSchema(dir, GeoTrellisStore.GtLayerId("st", 0))
    def stDatum(inst: Long, v: Double) = GtAvro.encode(
      Rec("KeyValueRecord", Map("pairs" -> Vector(
        Rec("Tuple2", Map(
          "_1" -> Rec("K", Map("col" -> 0, "row" -> 0, "instant" -> inst)),
          "_2" -> UnionVal(0, dbl(Seq(v, v + 1)))))))), stSchema)
    put("st/0/a", stDatum(1000L, 5.0))
    put("st/0/b", stDatum(2000L, 8.0))
    val st = GeoTrellisStore.readLayer(spark, dir, GeoTrellisStore.GtLayerId("st", 0))
    assert(st.meta.temporal)
    val cells = st.toCells.as[(Long, Long, Long, Double)].collect().toSet
    assert(cells == Set((0L, 0L, 1000L, 5.0), (1L, 0L, 1000L, 6.0),
      (0L, 0L, 2000L, 8.0), (1L, 0L, 2000L, 9.0)))
  }

  test("subset walls: unknown key index and missing schema fail loudly") {
    val store = writeStore()
    val attrs = new java.io.File(store, "attributes")
    def put(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(attrs, name), "UTF-8")
      try w.write(body) finally w.close()
    }
    put("sfc___0___metadata.json",
      s"""[{"name":"sfc","zoom":0},
         |{"header":{"format":"file","path":"sfc/0"},
         |"metadata":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":4.0},
         |"layoutDefinition":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":4.0},
         |"tileLayout":{"layoutCols":1,"layoutRows":1,"tileCols":4,"tileRows":4}},
         |"cellType":"float64","crs":"",
         |"bounds":{"minKey":{"col":0,"row":0},"maxKey":{"col":0,"row":0}}},
         |"keyIndex":{"type":"peano","properties":{}},
         |"schema":${GeoTrellisStore.WriteSchemaJson}}]""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      GeoTrellisStore.readValue(store, GeoTrellisStore.GtLayerId("sfc", 0), 0, 0)
    }
    assert(e.getMessage.contains("peano"))
    // a service-backed header format still refuses loudly
    put("acc___0___metadata.json",
      s"""[{"name":"acc","zoom":0},
         |{"header":{"format":"accumulo","path":"acc_table"},
         |"metadata":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":4.0},
         |"layoutDefinition":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":4.0,"ymax":4.0},
         |"tileLayout":{"layoutCols":1,"layoutRows":1,"tileCols":4,"tileRows":4}},
         |"cellType":"float64","crs":"",
         |"bounds":{"minKey":{"col":0,"row":0},"maxKey":{"col":0,"row":0}}},
         |"keyIndex":{"type":"zorder"},
         |"schema":${GeoTrellisStore.WriteSchemaJson}}]""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      GeoTrellisStore.readLayer(spark, store, GeoTrellisStore.GtLayerId("acc", 0))
    }
    assert(e2.getMessage.contains("accumulo"))
    // the ndvi fixture has schema {} — payload decode must refuse
    intercept[Exception] {
      GeoTrellisStore.readSchema(store, GeoTrellisStore.GtLayerId("ndvi", 0))
    }
  }

  test("hilbert-indexed stores: filenames follow the compact index; point reads work (r20)") {
    import spark.implicits._
    val dir = tempDir("gt_hil").toFile.getAbsolutePath
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, 12, 8), graft.core.TileLayout(3, 2, 4, 4))
    // keys up to (2,1): xResolution = 2 bits, yResolution = 1 bit
    val cells = Seq((0L, 0L, 5.0), (5L, 1L, 7.0), (9L, 5L, 3.0))
    val layer = graft.raster.RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    GeoTrellisStore.writeLayer(dir, "hil", layer, keyIndex = "hilbert")
    val id = GeoTrellisStore.GtLayerId("hil", 0)
    // the stored keyIndex JSON carries the geotrellis hilbert shape
    val ki = GeoTrellisStore.readAttribute(dir, id, "metadata")
      .asInstanceOf[Map[String, Any]]("keyIndex").asInstanceOf[Map[String, Any]]
    assert(ki("type") == "hilbert")
    val props = ki("properties").asInstanceOf[Map[String, Any]]
    assert(props("xResolution").asInstanceOf[Double].toInt == 2)
    assert(props("yResolution").asInstanceOf[Double].toInt == 1)
    // tile filenames are the zero-padded COMPACT HILBERT indexes
    val names = new java.io.File(s"$dir/hil/0").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // LocalFileSystem .crc shadows
    def h(c: Long, r: Long) =
      graft.core.CompactHilbert.index(IndexedSeq(2, 1), IndexedSeq(c, r))
    assert(names == Set((0L, 0L), (1L, 0L), (2L, 1L)).map { case (c, r) =>
      h(c, r).toString })
    // point reads go through the hilbert index
    val tile = GeoTrellisStore.readValue(dir, id, 1, 0).get
    assert(tile(1 * 4 + 1) == 7.0 && tile.count(!_.isNaN) == 1)
    assert(GeoTrellisStore.readValue(dir, id, 0, 1).isEmpty)
    // whole-layer read is index-agnostic either way
    val back = GeoTrellisStore.readLayer(spark, dir, id).toCells
      .as[(Long, Long, Double)].collect().toSet
    assert(back == cells.toSet)
  }

  test("hadoop (MapFile) layout: export + distributed read + point read (r20)") {
    import spark.implicits._
    val dir = tempDir("gt_hadoop").toFile.getAbsolutePath
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, 8, 8), graft.core.TileLayout(2, 2, 4, 4))
    val cells = Seq((0L, 0L, 5.0), (1L, 3L, -2.5), (5L, 1L, 7.0), (2L, 6L, 9.0))
    val layer = graft.raster.RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    GeoTrellisStore.writeLayerHadoop(dir, "hd", layer)
    val id = GeoTrellisStore.GtLayerId("hd", 0)
    // HadoopAttributeStore layout: _attributes/{name}___{zoom}___{attr}.json
    assert(new java.io.File(s"$dir/_attributes/hd___0___metadata.json").isFile)
    assert(GeoTrellisStore.layers(dir) == Seq(id))
    // MapFile parts: part-r-{partition}%05d-{firstIndex} dirs holding
    // the data + index SequenceFiles (SEQ magic)
    val parts = new java.io.File(s"$dir/hd/0").listFiles()
      .filter(_.getName.startsWith("part-r-")).sortBy(_.getName)
    assert(parts.nonEmpty)
    assert(parts.forall(_.getName.matches("part-r-\\d{5}-\\d+")))
    val data = new java.io.File(parts.head, "data")
    assert(data.isFile && new java.io.File(parts.head, "index").isFile)
    val magic = new Array[Byte](3)
    val in = new java.io.FileInputStream(data)
    try in.read(magic) finally in.close()
    assert(new String(magic, "US-ASCII") == "SEQ")
    // distributed whole-layer read through the SequenceFile scan
    val back = GeoTrellisStore.readLayer(spark, dir, id).toCells
      .as[(Long, Long, Double)].collect().toSet
    assert(back == cells.toSet)
    // point read through MapFile.getClosest
    val tile = GeoTrellisStore.readValue(dir, id, 1, 0).get
    assert(tile(1 * 4 + 1) == 7.0 && tile.count(!_.isNaN) == 1)
    assert(GeoTrellisStore.readValue(dir, id, 7, 7).isEmpty)
  }

  test("hadoop block-packed records: getClosest finds pairs beyond the record key (r20)") {
    // geotrellis HadoopRDDWriter packs CONSECUTIVE indexes into one
    // MapFile record keyed by the FIRST index of the block — a point
    // read for a key that is NOT a record key must land via
    // getClosest(before) + exact pair filtering. Build such a store
    // with Hadoop's own MapFile.Writer (the same public class
    // geotrellis writes through).
    import org.apache.hadoop.io.{BytesWritable, LongWritable, MapFile}
    spark
    val dir = tempDir("gt_packed").toFile.getAbsolutePath
    new java.io.File(dir, "_attributes").mkdirs()
    val meta =
      s"""[{"name":"pk","zoom":0},
         |{"header":{"format":"hdfs","keyClass":"geotrellis.layer.SpatialKey",
         |"valueClass":"geotrellis.raster.Tile","path":"$dir/pk/0"},
         |"metadata":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":8.0,"ymax":8.0},
         |"layoutDefinition":{"extent":{"xmin":0.0,"ymin":0.0,"xmax":8.0,"ymax":8.0},
         |"tileLayout":{"layoutCols":2,"layoutRows":2,"tileCols":4,"tileRows":4}},
         |"cellType":"float64","crs":"",
         |"bounds":{"minKey":{"col":0,"row":0},"maxKey":{"col":1,"row":1}}},
         |"keyIndex":{"type":"zorder","properties":{"keyBounds":{
         |"minKey":{"col":0,"row":0},"maxKey":{"col":1,"row":1}}}},
         |"schema":${GeoTrellisStore.WriteSchemaJson}}]""".stripMargin.replace("\n", "")
    val w = new java.io.PrintWriter(
      new java.io.File(dir, "_attributes/pk___0___metadata.json"), "UTF-8")
    try w.write(meta) finally w.close()
    // one record: key = zorder(0,0) = 0, value = pairs for indexes 0..2
    // ((0,0), (1,0), (0,1)) — indexes 1 and 2 are NOT record keys
    val schema = GtAvro.parseSchema(GeoTrellisStore.WriteSchemaJson)
    import GtAvro.{Rec, UnionVal}
    def pair(c: Int, r: Int, v: Double) = Rec("Tuple2", Map(
      "_1" -> Rec("SpatialKey", Map("col" -> c, "row" -> r)),
      "_2" -> UnionVal(0, Rec("DoubleArrayTile", Map(
        "cols" -> 4, "rows" -> 4,
        "cells" -> Vector.tabulate(16)(i => if (i == 0) v else Double.NaN),
        "noDataValue" -> UnionVal(0, true))))))
    val datum = GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> Vector(
      pair(0, 0, 1.0), pair(1, 0, 2.0), pair(0, 1, 3.0)))), schema)
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = new MapFile.Writer(conf,
      new org.apache.hadoop.fs.Path(s"$dir/pk/0/part-r-00000-0"),
      MapFile.Writer.keyClass(classOf[LongWritable]),
      MapFile.Writer.valueClass(classOf[BytesWritable]))
    try writer.append(new LongWritable(0L), new BytesWritable(datum))
    finally writer.close()
    val id = GeoTrellisStore.GtLayerId("pk", 0)
    // zorder(1,0)=1 and zorder(0,1)=2 are only reachable via getClosest
    assert(GeoTrellisStore.readValue(dir, id, 1, 0).get.head == 2.0)
    assert(GeoTrellisStore.readValue(dir, id, 0, 1).get.head == 3.0)
    assert(GeoTrellisStore.readValue(dir, id, 0, 0).get.head == 1.0)
    // an index past every stored pair resolves to None, not a miss-hit
    assert(GeoTrellisStore.readValue(dir, id, 1, 1).isEmpty)
    // the whole-layer read sees every packed pair
    import spark.implicits._
    val all = GeoTrellisStore.readLayer(spark, dir, id).toCells
      .as[(Long, Long, Double)].collect().toSet
    assert(all == Set((0L, 0L, 1.0), (4L, 0L, 2.0), (0L, 4L, 3.0)))
  }

  test("hadoop layout: multiband and temporal exports roundtrip too (r20)") {
    import spark.implicits._
    // multiband through MapFile parts
    val dir = tempDir("gt_hd_mb").toFile.getAbsolutePath
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, 4, 2), graft.core.TileLayout(2, 1, 2, 1))
    val mbRows = Seq(
      (0, 0, Seq(Seq(1.0, 2.0), Seq(10.0, 20.0))),
      (1, 0, Seq(Seq(3.0, 4.0), Seq(30.0, 40.0))))
      .toDF("col", "row", "bands")
    val mb = new graft.raster.MultibandLayer(mbRows,
      graft.raster.LayerMetadata(layout), 2)
    GeoTrellisStore.writeLayerMultiband(dir, "mbhd", mb, layout = "hadoop")
    assert(new java.io.File(s"$dir/_attributes/mbhd___0___metadata.json").isFile)
    val mbBack = GeoTrellisStore.readLayerMultiband(spark, dir,
      GeoTrellisStore.GtLayerId("mbhd", 0))
    assert(mbBack.bandCount == 2)
    assert(mbBack.band(1).toCells.as[(Long, Long, Double)].collect().toSet ==
      Set((0L, 0L, 10.0), (1L, 0L, 20.0), (2L, 0L, 30.0), (3L, 0L, 40.0)))
    // temporal through MapFile parts, incl. a readValueTime point read
    val dirT = tempDir("gt_hd_t").toFile.getAbsolutePath
    val tRows = Seq(
      (0, 0, 1000L, Seq(1.0, 2.0)), (0, 0, 1500L, Seq(5.0, 6.0)),
      (1, 0, 3000L, Seq(3.0, 4.0)))
      .toDF("col", "row", "instant", "tile")
    val tl = new graft.raster.RasterLayer(tRows,
      graft.raster.LayerMetadata(layout, temporal = true))
    GeoTrellisStore.writeLayerTemporal(dirT, "sthd", tl,
      temporalResolution = 1000L, layout = "hadoop")
    val idT = GeoTrellisStore.GtLayerId("sthd", 0)
    val back = GeoTrellisStore.readLayer(spark, dirT, idT)
    assert(back.meta.temporal)
    assert(back.toCells.as[(Long, Long, Long, Double)].collect().toSet == Set(
      (0L, 0L, 1000L, 1.0), (1L, 0L, 1000L, 2.0),
      (0L, 0L, 1500L, 5.0), (1L, 0L, 1500L, 6.0),
      (2L, 0L, 3000L, 3.0), (3L, 0L, 3000L, 4.0)))
    assert(GeoTrellisStore.readValueTime(dirT, idT, 0, 0, 1500L).get.toSeq ==
      Seq(5.0, 6.0))
    assert(GeoTrellisStore.readValueTime(dirT, idT, 1, 0, 1500L).isEmpty)
  }

  test("space-time Z3 export: writeLayerTemporal roundtrips + point reads (r20)") {
    import spark.implicits._
    val dir = tempDir("gt_z3").toFile.getAbsolutePath
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, 4, 2), graft.core.TileLayout(2, 1, 2, 1))
    // two instants in the SAME 1000ms resolution bucket (1000, 1500)
    // and one in another (3000) — bucket sharing forces multi-pair datums
    val rows = Seq(
      (0, 0, 1000L, Seq(1.0, 2.0)), (0, 0, 1500L, Seq(5.0, 6.0)),
      (1, 0, 1000L, Seq(3.0, 4.0)), (0, 0, 3000L, Seq(7.0, 8.0)))
      .toDF("col", "row", "instant", "tile")
    val layer = new graft.raster.RasterLayer(rows,
      graft.raster.LayerMetadata(layout, temporal = true))
    GeoTrellisStore.writeLayerTemporal(dir, "st", layer, temporalResolution = 1000L)
    val id = GeoTrellisStore.GtLayerId("st", 0)
    // stored keyIndex carries temporalResolution + instant key bounds
    val ki = GeoTrellisStore.readAttribute(dir, id, "metadata")
      .asInstanceOf[Map[String, Any]]("keyIndex").asInstanceOf[Map[String, Any]]
    val props = ki("properties").asInstanceOf[Map[String, Any]]
    assert(props("temporalResolution").asInstanceOf[Double].toLong == 1000L)
    // bucket (0,0,t=1) holds TWO pairs in one datum file: Z3(0,0,1) = 4
    val names = new java.io.File(s"$dir/st/0").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // LocalFileSystem .crc shadows
    // zorder3(0,0,1) = 4, zero-padded to the max index width
    // (zorder3(1,0,3) = 37 -> width 2)
    assert(names.contains("04"))
    // whole-layer read comes back temporal and cell-exact
    val st = GeoTrellisStore.readLayer(spark, dir, id)
    assert(st.meta.temporal)
    val back = st.toCells.as[(Long, Long, Long, Double)].collect().toSet
    assert(back == Set(
      (0L, 0L, 1000L, 1.0), (1L, 0L, 1000L, 2.0),
      (0L, 0L, 1500L, 5.0), (1L, 0L, 1500L, 6.0),
      (2L, 0L, 1000L, 3.0), (3L, 0L, 1000L, 4.0),
      (0L, 0L, 3000L, 7.0), (1L, 0L, 3000L, 8.0)))
    // point reads pick the EXACT instant out of the shared bucket
    assert(GeoTrellisStore.readValueTime(dir, id, 0, 0, 1000L).get.toSeq == Seq(1.0, 2.0))
    assert(GeoTrellisStore.readValueTime(dir, id, 0, 0, 1500L).get.toSeq == Seq(5.0, 6.0))
    assert(GeoTrellisStore.readValueTime(dir, id, 0, 0, 3000L).get.toSeq == Seq(7.0, 8.0))
    assert(GeoTrellisStore.readValueTime(dir, id, 0, 0, 2500L).isEmpty)
    assert(GeoTrellisStore.readValueTime(dir, id, 1, 0, 1500L).isEmpty)
    // a spatial point read on a space-time index refuses loudly
    val e = intercept[IllegalArgumentException] {
      GeoTrellisStore.readValue(dir, id, 0, 0)
    }
    assert(e.getMessage.contains("readValueTime"))
  }
}
