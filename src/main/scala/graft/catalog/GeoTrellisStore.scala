package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, LongWritable, MapFile, SequenceFile}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col => fcol}

import graft.core.{CompactHilbert, Extent, LayoutDefinition, TileLayout, ZIndex}
import graft.raster.{LayerMetadata, RasterLayer}

/** Adapter over an existing GeoTrellis catalog — the migration bridge
  * for users with a store written by geotrellis `FileLayerWriter` (the
  * backend the reference reaches through catalog.py:210 /
  * LayerWriterWrapper.scala:1), plus the inverse writer so graft
  * layers can be exported INTO that layout.
  *
  * Attribute side (plain JSON, the public geotrellis-store
  * `FileAttributeStore` layout `{catalog}/attributes/
  * {layer}___{zoom}___{attribute}.json` — separator is THREE
  * underscores, geotrellis's `FileAttributeStore.SEP`; layer names
  * containing the separator itself are not representable in that
  * layout and stay out of scope; each file holds a `[layerId, value]`
  * tuple):
  *  - layer inventory (name, zoom) — `layers`;
  *  - any attribute's JSON value — `readAttribute`;
  *  - the "metadata" attribute's TileLayerMetadata — extent, layout,
  *    cellType, CRS, key bounds — mapped onto graft's
  *    [[LayoutDefinition]] (`readMetadata` / `toLayerMetadata`). Both
  *    the GT3 blob form ({header, metadata, keyIndex, schema} in ONE
  *    "metadata" attribute — `BlobLayerAttributeStore`) and separate
  *    per-field attributes are understood.
  *
  * Tile payloads (r19): GeoTrellis stores tiles as raw Avro datums —
  * one file per key-index value under `{catalog}/{header.path}/`,
  * each a KeyValueRecord of (key, tile) pairs, zero-padded decimal
  * index filenames — and the writer schema is SELF-DESCRIBING (the
  * "schema" attribute beside the metadata). [[GtAvro]] decodes the
  * datums generically from that stored schema (reference semantics:
  * catalog.py:74 `read_value` via io/ValueReaderWrapper.scala:1,
  * catalog.py:117 `query` via io/LayerReaderWrapper.scala:1):
  *  - `readValue` — one tile by key through the key index (zorder /
  *    rowmajor / hilbert — the latter via [[graft.core.CompactHilbert]],
  *    Hamilton's published compact-Hilbert algorithm that uzaygezen
  *    implements, r20); `readValueTime` (r20) point-reads space-time
  *    layers through the Z3 index ([[graft.core.ZIndex.zorder3]] of
  *    (col, row, instant/temporalResolution));
  *  - `readLayer` — the whole layer, DISTRIBUTED: a binaryFile scan
  *    over the tile directory decodes per file on executors (keys
  *    come from the records, so no index math on the read path) into
  *    a graft [[RasterLayer]] at the stored layout. HADOOP-layout
  *    stores (r20 — header format "hdfs", HadoopLayerWriter) read
  *    through the same surface: tiles live in Hadoop MapFiles
  *    (`part-r-*` dirs of LongWritable index → BytesWritable Avro
  *    datum — the public Hadoop wire formats, read with Hadoop's own
  *    SequenceFile/MapFile classes off the Spark classpath, the SAME
  *    code real geotrellis runs), attributes under `_attributes/`;
  *    point reads use MapFile.getClosest + exact-key pair filtering
  *    (the HadoopValueReader block-packing discipline).
  * Cell decode covers the GeoTrellis single-band tile records
  * (Bit/Byte/UByte/Short/UShort/Int/Float/Double ArrayTile) with the
  * noDataValue conventions ([int,null] sentinel unions for integral
  * types, [boolean,float|double] for floating — boolean true = NaN);
  * NoData maps to graft's NaN. ArrayMultibandTile payloads and
  * constant-tile records fail loudly — documented subset.
  *
  * `writeLayer` is the inverse: a graft layer exported as a
  * geotrellis-layout store (blob metadata attribute, zorder or
  * hilbert key index, one Avro KeyValueRecord datum per tile) —
  * DoubleArrayTile records with the boolean-true (NaN) noDataValue
  * branch, float64 being graft's physical cell model. It is also how
  * the spec and the `q_gt_read` oracle fixture produce byte-level
  * stores without geotrellis on the classpath. `writeLayerHadoop`
  * (r20) exports the MapFile layout, `writeLayerTemporal` (r20) the
  * Z3-indexed space-time layout.
  *
  * Distributed-read interop for Accumulo/HBase/Cassandra stores needs
  * those services and stays out of scope (they are also
  * `DiscreteLayerAttributeStore`s, not the blob layout).
  */
object GeoTrellisStore {

  final case class GtLayerId(name: String, zoom: Int)

  /** Parsed TileLayerMetadata subset. */
  final case class GtMetadata(layout: LayoutDefinition, cellType: String,
                              crs: String,
                              keyBounds: ((Long, Long), (Long, Long)))

  import Catalog.{fsPath, hadoopConf, readBytes, readString, writeString}

  /** geotrellis `FileAttributeStore.SEP` — THREE underscores. */
  private val Sep = "___"

  /** The attribute directory: `attributes/` for FileAttributeStore
    * catalogs, `_attributes/` for HadoopAttributeStore ones (r20 — the
    * hadoop backend keeps the SAME {name}___{zoom}___{attr}.json file
    * layout, just under the underscore-prefixed directory beside the
    * MapFile layers). Whichever exists wins; absent both (a fresh
    * export target) the file-store default applies. */
  private def attrsDir(catalog: String): String = {
    val file = s"$catalog/attributes"
    val (fs, p) = fsPath(file)
    if (fs.exists(p)) file
    else {
      val hadoop = s"$catalog/_attributes"
      val (fs2, p2) = fsPath(hadoop)
      if (fs2.exists(p2)) hadoop else file
    }
  }

  /** Anchored filename pattern: reluctant name group, digit zoom, the
    * literal separator — names containing single or double underscores
    * parse correctly (a name containing the triple separator itself is
    * ambiguous in geotrellis's own layout and rejected the same way). */
  private val MetadataRx = ("""^(.+?)""" + Sep + """(\d+)""" + Sep + """metadata\.json$""").r
  private def attributeFile(catalog: String, layer: GtLayerId, attribute: String): String =
    s"${attrsDir(catalog)}/${layer.name}$Sep${layer.zoom}$Sep$attribute.json"

  /** Layer ids present in the store, from the attribute filenames
    * (`{name}___{zoom}___metadata.json`), sorted (name, zoom). */
  def layers(catalog: String): Seq[GtLayerId] = {
    val (fs, root) = fsPath(attrsDir(catalog))
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .flatMap {
        case MetadataRx(name, zoom) => Some(GtLayerId(name, zoom.toInt))
        case _ => None
      }
      .sortBy(l => (l.name, l.zoom))
  }

  /** One attribute's parsed JSON VALUE (the second element of the
    * stored `[layerId, value]` tuple). Unwrap only fires when element
    * 0 actually IS a layerId ({"name":…,"zoom":…}) — a bare attribute
    * whose own value happens to be a 2-element array passes through
    * whole. */
  def readAttribute(catalog: String, layer: GtLayerId, attribute: String): Any = {
    val raw = readString(attributeFile(catalog, layer, attribute))
    graft.vector.GeoJson.parseJsonValue(raw) match {
      case tuple: Seq[Any @unchecked] if tuple.length == 2 &&
          (tuple.head match {
            case id: Map[String @unchecked, Any @unchecked] =>
              id.contains("name") && id.contains("zoom")
            case _ => false
          }) => tuple(1)
      case bare => bare
    }
  }

  private def attributeExists(catalog: String, layer: GtLayerId, attribute: String): Boolean = {
    val (fs, path) = fsPath(attributeFile(catalog, layer, attribute))
    fs.exists(path)
  }

  /** The metadata blob (GT3 `BlobLayerAttributeStore`: one "metadata"
    * attribute holding {header, metadata, keyIndex, schema}) — or, for
    * stores with separate per-field attributes, a synthesized map from
    * the individual files. */
  private def layerBlob(catalog: String, layer: GtLayerId): Map[String, Any] = {
    val top = readAttribute(catalog, layer, "metadata").asInstanceOf[Map[String, Any]]
    if (top.contains("header") || top.contains("keyIndex") || top.contains("schema")) top
    else {
      // bare TileLayerMetadata under "metadata" + separate attributes
      val extra = Seq("header", "keyIndex", "schema").flatMap { a =>
        if (attributeExists(catalog, layer, a)) Some(a -> readAttribute(catalog, layer, a))
        else None
      }
      (Map("metadata" -> (top.get("metadata").getOrElse(top))) ++ extra.toMap)
    }
  }

  /** The "metadata" attribute's TileLayerMetadata subset. */
  def readMetadata(catalog: String, layer: GtLayerId): GtMetadata =
    parseMetadata(readAttribute(catalog, layer, "metadata").asInstanceOf[Map[String, Any]])

  /** TileLayerMetadata parse given the already-read attribute tree —
    * the payload paths thread ONE blob read through metadata/schema/
    * keyIndex/tilesDir instead of re-fetching the file per facet. */
  private def parseMetadata(top: Map[String, Any]): GtMetadata = {
    // FileLayerWriter nests TileLayerMetadata under "metadata" beside
    // "header"/"keyIndex"/"schema"; tolerate a bare TileLayerMetadata
    val m = top.get("metadata") match {
      case Some(mm: Map[String @unchecked, Any @unchecked]) => mm
      case _ => top
    }
    def extent(o: Any): Extent = {
      val e = o.asInstanceOf[Map[String, Any]]
      def d(k: String) = e(k).asInstanceOf[Double]
      Extent(d("xmin"), d("ymin"), d("xmax"), d("ymax"))
    }
    val ld = m("layoutDefinition").asInstanceOf[Map[String, Any]]
    val tl = ld("tileLayout").asInstanceOf[Map[String, Any]]
    def i(o: Map[String, Any], k: String) = o(k).asInstanceOf[Double].toInt
    val layout = LayoutDefinition(extent(ld("extent")),
      TileLayout(i(tl, "layoutCols"), i(tl, "layoutRows"),
        i(tl, "tileCols"), i(tl, "tileRows")))
    val bounds = m.get("bounds").map { b =>
      val bb = b.asInstanceOf[Map[String, Any]]
      def key(k: String): (Long, Long) = {
        val kk = bb(k).asInstanceOf[Map[String, Any]]
        (kk("col").asInstanceOf[Double].toLong, kk("row").asInstanceOf[Double].toLong)
      }
      (key("minKey"), key("maxKey"))
    }.getOrElse(((0L, 0L),
      (layout.tileLayout.layoutCols - 1L, layout.tileLayout.layoutRows - 1L)))
    GtMetadata(layout,
      cellType = m.get("cellType").map(_.toString).getOrElse("float64"),
      crs = m.get("crs").map(_.toString).getOrElse(""),
      keyBounds = bounds)
  }

  /** Graft layer metadata at the stored layout — hand this to
    * [[graft.raster.Ingest.readToLayout]] / [[Catalog.writeLayer]] to
    * rebuild the layer in graft's parquet store. GeoTrellis cell
    * types map by name prefix (int8/uint8/.../float64, NoData
    * variants collapse to the base width — graft models NoData as
    * NaN, not a sentinel). */
  def toLayerMetadata(gt: GtMetadata): LayerMetadata = {
    val base = Seq("bit", "int8", "uint8", "int16", "uint16", "int32",
      "float32", "float64")
      .find(p => gt.cellType.startsWith(p)).getOrElse("float64")
    LayerMetadata(gt.layout, cellType = base)
  }

  // --------------------------------------------------- tile payloads (r19)

  /** The stored writer schema (the "schema" attribute — blob field or
    * separate file), parsed to the [[GtAvro]] AST. */
  def readSchema(catalog: String, layer: GtLayerId): GtAvro.Schema =
    GtAvro.parseSchemaValue(schemaNode(layerBlob(catalog, layer), layer))

  private def schemaNode(blob: Map[String, Any], layer: GtLayerId): Any =
    blob.getOrElse("schema", throw new IllegalStateException(
      s"geotrellis store has no Avro schema attribute for ${layer.name}/${layer.zoom} — " +
        "tile payloads cannot be decoded without the writer schema"))

  /** header.path + backend format. `file` (FileLayerHeader): one raw
    * Avro datum per zero-padded index filename, path relative to the
    * catalog root (defaults to `name/zoom` when absent). `hdfs`
    * (HadoopLayerHeader, r20): MapFile part dirs, path stored as a
    * FULL URI by geotrellis (tolerated relative for self-contained
    * exports). An "accumulo"/"cassandra"/"hbase" store keeps tiles in
    * a service — reading its path as files would misdecode, so the
    * scope is enforced loudly here. */
  private def tilesLocation(catalog: String, layer: GtLayerId,
                            blob: Map[String, Any]): (String, String) =
    blob.get("header") match {
      case Some(h: Map[String @unchecked, Any @unchecked]) =>
        val fmt = h.get("format").map(_.toString).getOrElse("file")
        require(fmt == "file" || fmt == "hdfs",
          s"geotrellis store format '$fmt' is outside the read subset " +
            "(file + hadoop backends)")
        val rel = h.get("path").map(_.toString).getOrElse(s"${layer.name}/${layer.zoom}")
        val dir =
          if (rel.contains("://") || rel.startsWith("/")) rel else s"$catalog/$rel"
        (dir, fmt)
      case _ => (s"$catalog/${layer.name}/${layer.zoom}", "file")
    }

  /** The stored keyIndex JSON (type + properties), defaulted. */
  private def keyIndexNode(blob: Map[String, Any]): (String, Map[String, Any]) = {
    val ki = blob.get("keyIndex") match {
      case Some(k: Map[String @unchecked, Any @unchecked]) => k
      case _ => Map[String, Any]("type" -> "zorder")
    }
    val props = ki.get("properties") match {
      case Some(p: Map[String @unchecked, Any @unchecked]) => p
      case _ => Map.empty[String, Any]
    }
    (ki.getOrElse("type", "zorder").toString, props)
  }

  private def jnum(v: Any): Long = v match {
    case d: Double => d.toLong
    case s: String => s.toLong // geotrellis writes some props as strings
    case other => throw new IllegalArgumentException(s"numeric property expected, got $other")
  }

  /** The key-index function (linear index of a spatial key) + the
    * zero-pad width, from the stored keyIndex JSON. Subset: "zorder"
    * (geotrellis Z2 — column bits even, row bits odd, exactly
    * [[ZIndex.zorder]]), "rowmajor" (relative to keyBounds), and
    * "hilbert" (r20 — Hamilton's compact Hilbert index at the stored
    * xResolution/yResolution bit widths, [[CompactHilbert]]; the
    * geotrellis/uzaygezen convention of indexing raw col/row with no
    * min-key shift). Space-time indexes go through
    * [[keyIndexTimeOf]]. */
  private def keyIndexOf(blob: Map[String, Any],
                         meta: GtMetadata): ((Long, Long) => Long, Int) = {
    val (kiType, props) = keyIndexNode(blob)
    require(!props.contains("temporalResolution"),
      "space-time key index on a spatial point read — use readValueTime")
    val bounds = props.get("keyBounds") match {
      case Some(b: Map[String @unchecked, Any @unchecked]) =>
        def key(k: String): (Long, Long) = {
          val kk = b(k).asInstanceOf[Map[String, Any]]
          (jnum(kk("col")), jnum(kk("row")))
        }
        (key("minKey"), key("maxKey"))
      case _ => meta.keyBounds
    }
    val fn: (Long, Long) => Long = kiType match {
      case "zorder" => (c, r) => ZIndex.zorder(c, r, 31)
      case "rowmajor" =>
        val ((minC, minR), (maxC, _)) = bounds
        val w = maxC - minC + 1
        (c, r) => (r - minR) * w + (c - minC)
      case "hilbert" =>
        val xr = jnum(props.getOrElse("xResolution", throw new IllegalArgumentException(
          "hilbert key index without xResolution"))).toInt
        val yr = jnum(props.getOrElse("yResolution", throw new IllegalArgumentException(
          "hilbert key index without yResolution"))).toInt
        (c, r) => CompactHilbert.index(IndexedSeq(xr, yr), IndexedSeq(c, r))
      case other => throw new IllegalArgumentException(
        s"geotrellis key index '$other' is outside the POINT-READ subset " +
          "(zorder/rowmajor/hilbert) — whole-layer readLayer/readLayerMultiband " +
          "work regardless (keys come from the records, not the index)")
    }
    val maxIdx = fn(bounds._2._1, bounds._2._2)
    (fn, maxIdx.toString.length)
  }

  /** Space-time key index (r20): geotrellis `ZSpaceTimeKeyIndex` —
    * type "zorder" with a `temporalResolution` property; index =
    * Z3(col, row, instantMillis / temporalResolution)
    * ([[ZIndex.zorder3]], the public geotrellis Z3 bit interleave).
    * Hilbert space-time stays outside the subset (loud). */
  private def keyIndexTimeOf(blob: Map[String, Any])
      : ((Long, Long, Long) => Long, Int) = {
    val (kiType, props) = keyIndexNode(blob)
    require(kiType == "zorder",
      s"geotrellis space-time key index '$kiType' is outside the POINT-READ " +
        "subset (zorder/Z3) — whole-layer readLayer works regardless")
    val res = jnum(props.getOrElse("temporalResolution",
      throw new IllegalArgumentException(
        "space-time read on a spatial key index — use readValue")))
    require(res > 0, s"temporalResolution $res must be positive")
    val b = props.get("keyBounds") match {
      case Some(bb: Map[String @unchecked, Any @unchecked]) =>
        val kk = bb("maxKey").asInstanceOf[Map[String, Any]]
        (jnum(kk("col")), jnum(kk("row")), jnum(kk("instant")))
      case _ => throw new IllegalArgumentException(
        "space-time key index without keyBounds — pad width is undefined")
    }
    val fn: (Long, Long, Long) => Long =
      (c, r, inst) => ZIndex.zorder3(c, r, math.floorDiv(inst, res))
    (fn, fn(b._1, b._2, b._3).toString.length)
  }

  private def zeroPad(idx: Long, width: Int): String = {
    val s = idx.toString
    if (s.length >= width) s else ("0" * (width - s.length)) + s
  }

  // ------------------------------------------------ hadoop (MapFile) layout

  /** geotrellis `HadoopRDDWriter` part naming:
    * `part-r-{partition}%05d-{firstIndexInFile}` — the trailing first
    * index is how `FilterMapFileInputFormat` derives per-file key
    * ranges without opening them. */
  private val PartRx = """^part-r-\d+-(\d+)$""".r

  private def partDirs(dir: String): Seq[Path] = {
    val (fs, root) = fsPath(dir)
    require(fs.exists(root), s"hadoop-layout layer directory $dir does not exist")
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
  }

  /** Every stored Avro KeyValueRecord datum of a layer, DISTRIBUTED.
    * File layout: one binaryFile row per zero-padded index file.
    * Hadoop layout (r20): the MapFile part dirs' `data` SequenceFiles
    * — `SequenceFile<LongWritable, BytesWritable>` per the public
    * Hadoop wire format geotrellis writes through `MapFile.Writer` —
    * one read task per part (the same per-file parallelism geotrellis
    * gets from FilterMapFileInputFormat; parts are HDFS-block-sized by
    * the writer, so file granularity IS block granularity at scale).
    * Keys (linear indexes) are ignored: record keys come from the
    * decoded datums. */
  private def datumDs(spark: SparkSession, dir: String,
                      format: String): Dataset[Array[Byte]] = {
    import spark.implicits._
    if (format == "hdfs") {
      val parts = partDirs(dir).map(p => s"$p/data")
      require(parts.nonEmpty, s"hadoop-layout layer at $dir has no part-* MapFiles")
      val props = Catalog.confProps()
      spark.createDataset(parts).repartition(parts.length)
        .mapPartitions { it =>
          val conf = Catalog.confFrom(props)
          it.flatMap { f =>
            val rd = new SequenceFile.Reader(conf, SequenceFile.Reader.file(new Path(f)))
            val key = new LongWritable()
            val value = new BytesWritable()
            new Iterator[Array[Byte]] {
              private var ready = advance()
              private def advance(): Boolean = {
                val has = rd.next(key, value)
                if (!has) rd.close()
                has
              }
              def hasNext: Boolean = ready
              def next(): Array[Byte] = {
                // BytesWritable pads its backing array — copy the length
                val b = java.util.Arrays.copyOfRange(value.getBytes, 0, value.getLength)
                ready = advance()
                b
              }
            }
          }
        }
    } else
      spark.read.format("binaryFile").load(dir)
        .select(fcol("content").as[Array[Byte]])
  }

  /** Hadoop-layout point read: locate the covering MapFile record for
    * a linear index. geotrellis block-packs records — a record's key
    * is the FIRST index in its block — so the lookup is
    * `getClosest(before = true)` followed by an exact key match over
    * the decoded pairs (the HadoopValueReader discipline). Part dirs
    * carrying the writer's `-firstIndex` name suffix prune to the one
    * candidate; foreign names fall back to scanning each part. */
  private def hadoopDatumFor(dir: String, idx: Long): Option[Array[Byte]] = {
    val parts = partDirs(dir)
    val named = parts.flatMap(p => p.getName match {
      case PartRx(first) => Some((first.toLong, p))
      case _ => None
    })
    val candidates =
      if (named.length == parts.length && named.nonEmpty)
        named.sortBy(_._1).takeWhile(_._1 <= idx).lastOption.map(_._2).toSeq
      else parts
    val conf = hadoopConf
    candidates.iterator.map { p =>
      val rd = new MapFile.Reader(p, conf)
      try {
        val value = new BytesWritable()
        val hit = rd.getClosest(new LongWritable(idx), value, true)
        if (hit == null) None
        else Some(java.util.Arrays.copyOfRange(value.getBytes, 0, value.getLength))
      } finally rd.close()
    }.collectFirst { case Some(b) => b }
  }

  /** Decode one KeyValueRecord datum to (col, row, instantOpt, cols,
    * rows, bands) tuples — static so the distributed read path ships
    * no enclosing state. Single-band tiles come back as one-element
    * band lists; ArrayMultibandTile records as one entry per band. */
  private[catalog] def decodePairs(bytes: Array[Byte], schema: GtAvro.Schema)
      : Seq[(Long, Long, Option[Long], Int, Int, Seq[Array[Double]])] = {
    val rec = GtAvro.decode(bytes, schema) match {
      case r: GtAvro.Rec => r
      case other => throw new IllegalStateException(
        s"geotrellis tile datum decoded to ${other.getClass.getName}, expected a record")
    }
    rec.fields.getOrElse("pairs", throw new IllegalStateException(
      s"record ${rec.name} has no 'pairs' field — not a KeyValueRecord"))
      .asInstanceOf[Vector[Any]]
      .map { p =>
        val pair = p.asInstanceOf[GtAvro.Rec]
        val key = pair("_1").asInstanceOf[GtAvro.Rec]
        val c = key("col").asInstanceOf[Int].toLong
        val r = key("row").asInstanceOf[Int].toLong
        val inst = key.fields.get("instant").map(_.asInstanceOf[Long])
        val (tc, tr, bands) = valueBands(pair("_2").asInstanceOf[GtAvro.Rec])
        (c, r, inst, tc, tr, bands)
      }
  }

  /** Tile VALUE record → (cols, rows, bands): ArrayMultibandTile
    * unpacks per band (r19 — the multiband wall removed), anything
    * else goes through the single-band [[tileCells]]. */
  private[catalog] def valueBands(v: GtAvro.Rec): (Int, Int, Seq[Array[Double]]) =
    if (v.name.contains("Multiband")) {
      val bands = v.fields.getOrElse("bands", throw new IllegalStateException(
        s"multiband record ${v.name} has no 'bands' field"))
        .asInstanceOf[Vector[Any]]
        .map(b => tileCells(b.asInstanceOf[GtAvro.Rec]))
      require(bands.nonEmpty, "multiband tile with zero bands")
      require(bands.map(b => (b._1, b._2)).distinct.length == 1,
        "multiband tile bands disagree on dimensions")
      (bands.head._1, bands.head._2, bands.map(_._3))
    } else {
      val (c, r, cells) = tileCells(v)
      (c, r, Seq(cells))
    }

  /** GeoTrellis tile record -> (cols, rows, float64 cells, NoData as
    * NaN). Handles the public TileCodecs conventions: bytes-typed
    * cells for Bit/Byte/UByte (Bit packs LSB-first within each byte,
    * the geotrellis BitArrayTile layout), int arrays for
    * Short/UShort/Int (UShort stored as sign-widened shorts —
    * reinterpreted unsigned), float/double arrays for the floating
    * tiles; noDataValue unions [int,null] (sentinel / none) and
    * [boolean,float|double] (true = NaN constant NoData). */
  private[catalog] def tileCells(t: GtAvro.Rec): (Int, Int, Array[Double]) = {
    require(!t.name.contains("Multiband"),
      s"${t.name} is a band STACK — decode it through valueBands/readLayerMultiband")
    val cols = t.fields.getOrElse("cols", throw new IllegalStateException(
      s"tile record ${t.name} has no 'cols' — constant/unknown tile " +
        "records are outside the read subset")).asInstanceOf[Int]
    val rows = t("rows").asInstanceOf[Int]
    val nd: Option[Double] = t.fields.get("noDataValue") match {
      case None | Some(null)  => None
      case Some(b: Boolean)   => if (b) Some(Double.NaN) else None
      case Some(i: Int)       => Some(i.toDouble)
      case Some(l: Long)      => Some(l.toDouble)
      case Some(f: Float)     => Some(f.toDouble)
      case Some(d: Double)    => Some(d)
      case Some(other) => throw new IllegalStateException(
        s"tile record ${t.name}: unsupported noDataValue $other")
    }
    val raw: Array[Double] = t("cells") match {
      case b: Array[Byte] if t.name.startsWith("Bit") =>
        val out = new Array[Double](cols * rows)
        var i = 0
        while (i < out.length) {
          out(i) = ((b(i >> 3) >> (i & 7)) & 1).toDouble
          i += 1
        }
        out
      case b: Array[Byte] if t.name.startsWith("UByte") =>
        b.map(x => (x & 0xff).toDouble)
      case b: Array[Byte] => b.map(_.toDouble)
      case v: Vector[Any @unchecked] =>
        val unsignedShort = t.name.startsWith("UShort")
        v.map {
          case i: Int =>
            if (unsignedShort && i < 0) (i + 65536).toDouble else i.toDouble
          case l: Long   => l.toDouble
          case f: Float  => f.toDouble
          case d: Double => d
          case other => throw new IllegalStateException(
            s"tile record ${t.name}: unsupported cell $other")
        }.toArray
      case other => throw new IllegalStateException(
        s"tile record ${t.name}: unsupported cells payload ${other.getClass.getName}")
    }
    require(raw.length == cols * rows,
      s"tile record ${t.name}: ${raw.length} cells for $cols x $rows")
    val cells = nd match {
      case Some(s) if s.isNaN => raw // NaN is already graft's NoData
      case Some(s)            => raw.map(x => if (x == s) Double.NaN else x)
      case None               => raw
    }
    (cols, rows, cells)
  }

  /** ValueReader point read (reference catalog.py:74 `read_value`):
    * one tile by (col, row) through the key index — a single-file
    * fetch (file layout) or one MapFile `getClosest` (hadoop layout,
    * r20) + datum decode, no layer scan. None when no tile is stored
    * at the key. */
  def readValue(catalog: String, layer: GtLayerId,
                col: Long, row: Long): Option[Array[Double]] = {
    val blob = layerBlob(catalog, layer) // ONE attribute fetch per point read
    val meta = parseMetadata(blob)
    val schema = GtAvro.parseSchemaValue(schemaNode(blob, layer))
    val (toIndex, width) = keyIndexOf(blob, meta)
    pointDatum(catalog, layer, blob, toIndex(col, row), width)
      .flatMap(decodePairs(_, schema)
        .collectFirst { case (c, r, _, _, _, bands) if c == col && r == row =>
          require(bands.length == 1,
            s"${bands.length}-band tile — use readLayerMultiband for band stacks")
          bands.head
        })
  }

  /** Space-time ValueReader point read (r20): one tile by (col, row,
    * instant) through the Z3 space-time key index — the temporal twin
    * of [[readValue]]. The instant is epoch millis (as geotrellis
    * stores SpaceTimeKey.instant); instants quantized to the same
    * temporalResolution bucket share one datum, so the exact-key
    * filter over the decoded pairs is load-bearing. */
  def readValueTime(catalog: String, layer: GtLayerId,
                    col: Long, row: Long, instant: Long): Option[Array[Double]] = {
    val blob = layerBlob(catalog, layer)
    val schema = GtAvro.parseSchemaValue(schemaNode(blob, layer))
    val (toIndex, width) = keyIndexTimeOf(blob)
    pointDatum(catalog, layer, blob, toIndex(col, row, instant), width)
      .flatMap(decodePairs(_, schema)
        .collectFirst { case (c, r, i, _, _, bands)
            if c == col && r == row && i.contains(instant) =>
          require(bands.length == 1,
            s"${bands.length}-band tile — use readLayerMultiband for band stacks")
          bands.head
        })
  }

  /** The raw datum covering one linear index — layout-dispatched. */
  private def pointDatum(catalog: String, layer: GtLayerId,
                         blob: Map[String, Any], idx: Long,
                         width: Int): Option[Array[Byte]] = {
    val (dir, fmt) = tilesLocation(catalog, layer, blob)
    if (fmt == "hdfs") hadoopDatumFor(dir, idx)
    else {
      val file = s"$dir/${zeroPad(idx, width)}"
      val (fs, path) = fsPath(file)
      if (!fs.exists(path)) None else Some(readBytes(file))
    }
  }

  /** Does the stored key schema carry a time instant (SpaceTimeKey)? */
  private def keyHasInstant(schema: GtAvro.Schema): Boolean = schema match {
    case GtAvro.ARecord(_, fields) =>
      fields.collectFirst { case ("pairs", GtAvro.AArray(GtAvro.ARecord(_, pf))) =>
        pf.collectFirst {
          case ("_1", GtAvro.ARecord(_, kf)) => kf.exists(_._1 == "instant")
        }.getOrElse(false)
      }.getOrElse(false)
    case _ => false
  }

  /** Whole-layer read (reference catalog.py:117 `query`) into a graft
    * [[RasterLayer]] at the stored layout — DISTRIBUTED: the tile
    * directory scans as binary files, each datum decodes on an
    * executor against the broadcast schema, keys come from the
    * records themselves (no index math), NoData arrives as NaN.
    * SpaceTimeKey layers (r19) come back TEMPORAL (col, row, instant,
    * tile; epoch millis as geotrellis stores them). Hadoop-layout
    * (MapFile) stores read through the same path (r20) — the datum
    * source dispatches on header.format. At 100 TB this is one
    * file-source scan Spark parallelizes by file; nothing collects.
    * Single-band values only — band stacks go through
    * [[readLayerMultiband]]. */
  def readLayer(spark: SparkSession, catalog: String, layer: GtLayerId): RasterLayer = {
    val blob = layerBlob(catalog, layer) // ONE attribute fetch
    val meta = parseMetadata(blob)
    val tl = meta.layout.tileLayout
    val (schemaStr, temporal) = schemaForRead(blob, layer)
    val (dir, fmt) = tilesLocation(catalog, layer, blob)
    import spark.implicits._
    val files = datumDs(spark, dir, fmt)
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val rows =
      if (temporal)
        files.mapPartitions { it =>
          val schema = GtAvro.parseSchema(schemaStr)
          it.flatMap { bytes =>
            decodePairs(bytes, schema).map { case (c, r, inst, cc, rr, bands) =>
              require(cc == tc && rr == tr,
                s"stored tile is $cc x $rr but the layout says $tc x $tr")
              require(bands.length == 1,
                s"${bands.length}-band tile — use readLayerMultiband for band stacks")
              (c.toInt, r.toInt, inst.get, bands.head)
            }
          }
        }.toDF("col", "row", "instant", "tile")
      else
        files.mapPartitions { it =>
          val schema = GtAvro.parseSchema(schemaStr)
          it.flatMap { bytes =>
            decodePairs(bytes, schema).map { case (c, r, _, cc, rr, bands) =>
              require(cc == tc && rr == tr,
                s"stored tile is $cc x $rr but the layout says $tc x $tr")
              require(bands.length == 1,
                s"${bands.length}-band tile — use readLayerMultiband for band stacks")
              (c.toInt, r.toInt, bands.head)
            }
          }
        }.toDF("col", "row", "tile")
    new RasterLayer(rows, toLayerMetadata(meta).copy(temporal = temporal))
  }

  /** Multiband whole-layer read: ArrayMultibandTile payloads →
    * [[MultibandLayer]] (col, row, bands ARRAY<ARRAY<DOUBLE>>).
    * Spatial keys only (graft's multiband model is spatial). */
  def readLayerMultiband(spark: SparkSession, catalog: String,
                         layer: GtLayerId): graft.raster.MultibandLayer = {
    val blob = layerBlob(catalog, layer) // ONE attribute fetch
    val meta = parseMetadata(blob)
    val tl = meta.layout.tileLayout
    val (schemaStr, temporal) = schemaForRead(blob, layer)
    require(!temporal, "multiband reads are spatial-only (graft's multiband model)")
    val (dir, fmt) = tilesLocation(catalog, layer, blob)
    import spark.implicits._
    val files = datumDs(spark, dir, fmt)
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val rows = files.mapPartitions { it =>
      val schema = GtAvro.parseSchema(schemaStr)
      it.flatMap { bytes =>
        decodePairs(bytes, schema).map { case (c, r, _, cc, rr, bands) =>
          require(cc == tc && rr == tr,
            s"stored tile is $cc x $rr but the layout says $tc x $tr")
          (c.toInt, r.toInt, bands.map(_.toSeq))
        }
      }
    }.toDF("col", "row", "bands").localCheckpoint()
    val n = rows.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.size(fcol("bands")))).head()
    val bandCount = if (n.isNullAt(0)) 0 else n.getInt(0)
    new graft.raster.MultibandLayer(rows, toLayerMetadata(meta), bandCount)
  }

  /** Canonical schema string + temporal flag for the distributed read
    * paths (the parsed tree itself isn't serializable-stable). */
  private def schemaForRead(blob: Map[String, Any],
                            layer: GtLayerId): (String, Boolean) = {
    val str = Json.write(schemaNode(blob, layer))
    (str, keyHasInstant(GtAvro.parseSchema(str)))
  }

  // ----------------------------------------------------------- write (r19)

  /** The KeyValueRecord writer schema `writeLayer` stores — the
    * geotrellis wire convention (KeyValueRecordCodec over
    * (SpatialKey, Tile)) with a single-branch tile union:
    * DoubleArrayTile + the [boolean, double] noDataValue union,
    * float64/NaN being graft's physical cell model. */
  private[catalog] val WriteSchemaJson: String =
    """{"type":"record","name":"KeyValueRecord","namespace":"geotrellis.spark.io","fields":[
      |{"name":"pairs","type":{"type":"array","items":
      |{"type":"record","name":"Tuple2","namespace":"scala","fields":[
      |{"name":"_1","type":{"type":"record","name":"SpatialKey","namespace":"geotrellis.spark","fields":[
      |{"name":"col","type":"int"},{"name":"row","type":"int"}]}},
      |{"name":"_2","type":[
      |{"type":"record","name":"DoubleArrayTile","namespace":"geotrellis.raster","fields":[
      |{"name":"cols","type":"int"},{"name":"rows","type":"int"},
      |{"name":"cells","type":{"type":"array","items":"double"}},
      |{"name":"noDataValue","type":["boolean","double"],"default":true}]}]}]}}}]}"""
      .stripMargin.replace("\n", "")

  /** Multiband writer schema: the same KeyValueRecord frame with an
    * ArrayMultibandTile value whose bands are DoubleArrayTile records
    * (the geotrellis MultibandTile codec shape). */
  private[catalog] val WriteSchemaMbJson: String =
    """{"type":"record","name":"KeyValueRecord","namespace":"geotrellis.spark.io","fields":[
      |{"name":"pairs","type":{"type":"array","items":
      |{"type":"record","name":"Tuple2","namespace":"scala","fields":[
      |{"name":"_1","type":{"type":"record","name":"SpatialKey","namespace":"geotrellis.spark","fields":[
      |{"name":"col","type":"int"},{"name":"row","type":"int"}]}},
      |{"name":"_2","type":[
      |{"type":"record","name":"ArrayMultibandTile","namespace":"geotrellis.raster","fields":[
      |{"name":"bands","type":{"type":"array","items":[
      |{"type":"record","name":"DoubleArrayTile","namespace":"geotrellis.raster","fields":[
      |{"name":"cols","type":"int"},{"name":"rows","type":"int"},
      |{"name":"cells","type":{"type":"array","items":"double"}},
      |{"name":"noDataValue","type":["boolean","double"],"default":true}]}]}}]}]}]}}}]}"""
      .stripMargin.replace("\n", "")

  private def doubleTileRec(cols: Int, rows: Int, cells: Array[Double]): GtAvro.Rec =
    GtAvro.Rec("DoubleArrayTile", Map(
      "cols" -> cols, "rows" -> rows,
      "cells" -> cells.toVector,
      "noDataValue" -> GtAvro.UnionVal(0, true)))

  /** Encode one (col, row, cells) tile as a KeyValueRecord datum. */
  private[catalog] def encodePair(schema: GtAvro.Schema, col: Int, row: Int,
                                  cols: Int, rows: Int,
                                  cells: Array[Double]): Array[Byte] = {
    import GtAvro.{Rec, UnionVal}
    val pair = Rec("Tuple2", Map(
      "_1" -> Rec("SpatialKey", Map("col" -> col, "row" -> row)),
      "_2" -> UnionVal(0, doubleTileRec(cols, rows, cells))))
    GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> Vector(pair))), schema)
  }

  /** Multiband twin of [[encodePair]]. */
  private[catalog] def encodeMbPair(schema: GtAvro.Schema, col: Int, row: Int,
                                    cols: Int, rows: Int,
                                    bands: Seq[Array[Double]]): Array[Byte] = {
    import GtAvro.{Rec, UnionVal}
    val pair = Rec("Tuple2", Map(
      "_1" -> Rec("SpatialKey", Map("col" -> col, "row" -> row)),
      "_2" -> UnionVal(0, Rec("ArrayMultibandTile", Map(
        "bands" -> bands.map(b => UnionVal(0, doubleTileRec(cols, rows, b))).toVector)))))
    GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> Vector(pair))), schema)
  }

  /** Export a graft layer as a geotrellis-layout store: the blob
    * "metadata" attribute (header + TileLayerMetadata + keyIndex + the
    * Avro writer schema) and the tile datums in the layout's physical
    * form — readable by geotrellis `FileLayerReader` /
    * `HadoopLayerReader` and by [[readLayer]]/[[readValue]] above.
    * Tile writes run DISTRIBUTED ([[writeDatums]]). `keyIndex` picks
    * the stored index: "zorder" (default) or "hilbert" (r20 —
    * Hamilton's compact Hilbert, the geotrellis/uzaygezen curve);
    * `layout` the store family ("file" per-index datum files /
    * "hadoop" MapFile parts). Spatial layers only. */
  def writeLayer(catalog: String, name: String, layer: RasterLayer,
                 zoom: Int = 0,
                 crs: String = "+proj=longlat +datum=WGS84 +no_defs",
                 keyIndex: String = "zorder",
                 layout: String = "file"): Unit = {
    require(!layer.meta.temporal, "writeLayer exports SPATIAL layers only")
    val (dir, width, tc, tr, toIndex) = prepareWrite(catalog, name, zoom, layer.df,
      layer.meta.layout, crs, "geotrellis.raster.Tile", WriteSchemaJson,
      layout = layout, keyIndexType = keyIndex)
    val spark = layer.df.sparkSession
    import spark.implicits._
    val datums = layer.df.select(fcol("col"), fcol("row"), fcol("tile"))
      .as[(Int, Int, Seq[Double])]
      .mapPartitions { it =>
        val schema = GtAvro.parseSchema(WriteSchemaJson)
        it.map { case (c, r, t) =>
          (toIndex(c.toLong, r.toLong), encodePair(schema, c, r, tc, tr, t.toArray))
        }
      }.toDF("idx", "datum")
    writeDatums(datums, dir, width, layout)
  }

  /** Multiband export twin: ArrayMultibandTile records (one
    * DoubleArrayTile per band) in the same store layouts (`layout`
    * "file" / "hadoop", r20). */
  def writeLayerMultiband(catalog: String, name: String,
                          layer: graft.raster.MultibandLayer, zoom: Int = 0,
                          crs: String = "+proj=longlat +datum=WGS84 +no_defs",
                          layout: String = "file"): Unit = {
    val (dir, width, tc, tr, toIndex) = prepareWrite(catalog, name, zoom, layer.df,
      layer.meta.layout, crs, "geotrellis.raster.MultibandTile", WriteSchemaMbJson,
      layout = layout)
    val spark = layer.df.sparkSession
    import spark.implicits._
    val datums = layer.df.select(fcol("col"), fcol("row"), fcol("bands"))
      .as[(Int, Int, Seq[Seq[Double]])]
      .mapPartitions { it =>
        val schema = GtAvro.parseSchema(WriteSchemaMbJson)
        it.map { case (c, r, bands) =>
          (toIndex(c.toLong, r.toLong),
            encodeMbPair(schema, c, r, tc, tr, bands.map(_.toArray)))
        }
      }.toDF("idx", "datum")
    writeDatums(datums, dir, width, layout)
  }

  /** Export a graft layer as a HADOOP-layout geotrellis store (r20 —
    * the write twin of the MapFile read path): `writeLayer` with
    * `layout = "hadoop"` — HadoopAttributeStore blob metadata under
    * `_attributes/`, header format "hdfs" with the layer directory as
    * its path, tiles in MapFile parts ([[writeDatums]]). Readable by
    * geotrellis `HadoopLayerReader`/`HadoopValueReader` and by
    * [[readLayer]]/[[readValue]] above. */
  def writeLayerHadoop(catalog: String, name: String, layer: RasterLayer,
                       zoom: Int = 0,
                       crs: String = "+proj=longlat +datum=WGS84 +no_defs"): Unit =
    writeLayer(catalog, name, layer, zoom, crs, layout = "hadoop")

  /** Write (idx, datum) pairs in the layout's physical form (r20 —
    * the shared tail of every exporter). `file` (FileLayerWriter): one
    * datum file per zero-padded index. `hadoop` (HadoopRDDWriter):
    * ascending-key `MapFile`s named `part-r-{partition}%05d-{first
    * index}` — LongWritable keys, BytesWritable values; tiles
    * range-partition + sort by index so each task streams one MapFile
    * in key order (the writer's ascending-key contract), exactly the
    * shape HadoopRDDWriter uses. */
  private def writeDatums(datums: DataFrame, dir: String, width: Int,
                          layout: String): Unit = {
    val props = Catalog.confProps()
    if (layout == "hadoop") {
      val parts = math.max(1, datums.sparkSession.sparkContext.defaultParallelism)
      datums.repartitionByRange(parts, fcol("idx"))
        .sortWithinPartitions("idx")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val conf = Catalog.confFrom(props)
            val pid = org.apache.spark.TaskContext.getPartitionId()
            var writer: MapFile.Writer = null
            try {
              it.foreach { r =>
                val idx = r.getLong(0)
                if (writer == null) // first (smallest) index names the part
                  writer = new MapFile.Writer(conf,
                    new Path(f"$dir/part-r-$pid%05d-$idx"),
                    MapFile.Writer.keyClass(classOf[LongWritable]),
                    MapFile.Writer.valueClass(classOf[BytesWritable]))
                writer.append(new LongWritable(idx),
                  new BytesWritable(r.getAs[Array[Byte]](1)))
              }
            } finally if (writer != null) writer.close()
          }
        }
    } else
      datums.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = Catalog.confFrom(props)
        it.foreach(r =>
          writeTileFile(dir, width, conf, r.getAs[Array[Byte]](1), r.getLong(0)))
      }
  }

  /** Space-time writer schema: the KeyValueRecord frame keyed by
    * SpaceTimeKey (col, row, instant epoch-millis — the geotrellis
    * SpaceTimeKey codec fields). */
  private[catalog] val WriteSchemaTimeJson: String =
    """{"type":"record","name":"KeyValueRecord","namespace":"geotrellis.spark.io","fields":[
      |{"name":"pairs","type":{"type":"array","items":
      |{"type":"record","name":"Tuple2","namespace":"scala","fields":[
      |{"name":"_1","type":{"type":"record","name":"SpaceTimeKey","namespace":"geotrellis.spark","fields":[
      |{"name":"col","type":"int"},{"name":"row","type":"int"},{"name":"instant","type":"long"}]}},
      |{"name":"_2","type":[
      |{"type":"record","name":"DoubleArrayTile","namespace":"geotrellis.raster","fields":[
      |{"name":"cols","type":"int"},{"name":"rows","type":"int"},
      |{"name":"cells","type":{"type":"array","items":"double"}},
      |{"name":"noDataValue","type":["boolean","double"],"default":true}]}]}]}}}]}"""
      .stripMargin.replace("\n", "")

  /** Encode one datum of space-time pairs (one per (col,row,instant)
    * tile sharing the Z3 index bucket). */
  private[catalog] def encodePairsTime(schema: GtAvro.Schema,
                                       pairs: Seq[(Int, Int, Long, Array[Double])],
                                       cols: Int, rows: Int): Array[Byte] = {
    import GtAvro.{Rec, UnionVal}
    val recs = pairs.map { case (c, r, inst, cells) =>
      Rec("Tuple2", Map(
        "_1" -> Rec("SpaceTimeKey", Map("col" -> c, "row" -> r, "instant" -> inst)),
        "_2" -> UnionVal(0, doubleTileRec(cols, rows, cells))))
    }
    GtAvro.encode(Rec("KeyValueRecord", Map("pairs" -> recs.toVector)), schema)
  }

  /** Export a TEMPORAL graft layer as a geotrellis space-time store
    * (r20 — the write twin of the r19 space-time READ): SpaceTimeKey
    * Avro payloads under Z3 space-time z-index filenames
    * ([[ZIndex.zorder3]] of (col, row, instant/temporalResolution) —
    * the public geotrellis ZSpaceTimeKeyIndex semantics), the
    * `temporalResolution` property in the stored keyIndex, and instant
    * bounds in its keyBounds. Instants quantized to the same
    * resolution bucket share ONE datum with multiple pairs (the
    * KeyValueRecord contract — filenames must be unique per index), so
    * the export first groups by index. Readable by geotrellis
    * `FileLayerReader` and by [[readLayer]] (temporal) /
    * [[readValueTime]]. */
  def writeLayerTemporal(catalog: String, name: String, layer: RasterLayer,
                         zoom: Int = 0,
                         crs: String = "+proj=longlat +datum=WGS84 +no_defs",
                         temporalResolution: Long = 1000L,
                         layout: String = "file"): Unit = {
    require(layer.meta.temporal, "writeLayerTemporal exports TEMPORAL layers")
    val (dir, width, tc, tr) = prepareWriteTemporal(catalog, name, zoom,
      layer.df, layer.meta.layout, crs, temporalResolution, layout)
    val spark = layer.df.sparkSession
    import spark.implicits._
    val datums = layer.df.select(fcol("col"), fcol("row"), fcol("instant"), fcol("tile"))
      .as[(Int, Int, Long, Seq[Double])]
      .map { case (c, r, inst, t) =>
        (ZIndex.zorder3(c.toLong, r.toLong, math.floorDiv(inst, temporalResolution)),
          c, r, inst, t)
      }
      .toDF("idx", "col", "row", "instant", "tile")
      .groupBy("idx")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(
            fcol("instant"), fcol("col"), fcol("row"), fcol("tile")))).as("pairs"))
      .as[(Long, Seq[(Long, Int, Int, Seq[Double])])]
      .mapPartitions { it =>
        val schema = GtAvro.parseSchema(WriteSchemaTimeJson)
        it.map { case (idx, pairs) =>
          (idx, encodePairsTime(schema,
            pairs.map { case (inst, c, r, t) => (c, r, inst, t.toArray) }, tc, tr))
        }
      }.toDF("idx", "datum")
    writeDatums(datums, dir, width, layout)
  }

  /** Temporal twin of [[prepareWrite]]: SpaceTimeKey header/bounds,
    * the Z3 keyIndex with its temporalResolution, instant-carrying
    * keyBounds. Returns (tilesDir, pad width, tileCols, tileRows). */
  private def prepareWriteTemporal(catalog: String, name: String, zoom: Int,
                                   df: DataFrame, lay: LayoutDefinition,
                                   crs: String, temporalResolution: Long,
                                   layout: String = "file")
      : (String, Int, Int, Int) = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"layer name '$name' must match [A-Za-z0-9._-]+ (it becomes a file path)")
    require(layout == "file" || layout == "hadoop", s"unknown layout '$layout'")
    require(temporalResolution > 0, s"temporalResolution $temporalResolution must be positive")
    val tl = lay.tileLayout
    import org.apache.spark.sql.functions.{max, min}
    val b = df.agg(min("col"), max("col"), min("row"), max("row"),
      min("instant"), max("instant")).head()
    require(!b.isNullAt(0), "writeLayerTemporal: empty layer")
    val (minC, maxC, minR, maxR) = (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3))
    val (minI, maxI) = (b.getLong(4), b.getLong(5))
    require(minI >= 0, s"negative instant $minI — Z3 interleaves non-negative buckets")
    val width = ZIndex.zorder3(maxC.toLong, maxR.toLong,
      math.floorDiv(maxI, temporalResolution)).toString.length
    val dir = s"$catalog/$name/$zoom"
    val (fmt, headerPath, attrDir) =
      if (layout == "hadoop") ("hdfs", dir, s"$catalog/_attributes")
      else ("file", s"$name/$zoom", s"$catalog/attributes")
    val e = lay.extent
    def ext(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"""{"xmin":$x0,"ymin":$y0,"xmax":$x1,"ymax":$y1}"""
    def key(c: Int, r: Int, i: Long) = s"""{"col":$c,"row":$r,"instant":$i}"""
    val metaJson =
      s"""[{"name":"$name","zoom":$zoom},{
         |"header":{"format":"$fmt","keyClass":"geotrellis.layer.SpaceTimeKey",
         |"valueClass":"geotrellis.raster.Tile","path":${Json.write(headerPath)}},
         |"metadata":{
         |"extent":${ext(e.xmin, e.ymin, e.xmax, e.ymax)},
         |"layoutDefinition":{"extent":${ext(e.xmin, e.ymin, e.xmax, e.ymax)},
         |"tileLayout":{"layoutCols":${tl.layoutCols},"layoutRows":${tl.layoutRows},
         |"tileCols":${tl.tileCols},"tileRows":${tl.tileRows}}},
         |"cellType":"float64","crs":${Json.write(crs)},
         |"bounds":{"minKey":${key(minC, minR, minI)},"maxKey":${key(maxC, maxR, maxI)}}},
         |"keyIndex":{"type":"zorder","properties":{"keyBounds":{
         |"minKey":${key(minC, minR, minI)},"maxKey":${key(maxC, maxR, maxI)}},
         |"temporalResolution":$temporalResolution}},
         |"schema":$WriteSchemaTimeJson}]""".stripMargin.replace("\n", "")
    writeString(s"$attrDir/$name$Sep$zoom${Sep}metadata.json", metaJson)
    val (fs0, dirPath) = fsPath(dir)
    if (fs0.exists(dirPath)) fs0.delete(dirPath, true)
    fs0.mkdirs(dirPath)
    (dir, width, tl.tileCols, tl.tileRows)
  }

  /** Shared write-side setup: bounds scan, metadata-blob attribute,
    * tile-directory reset. `layout` picks the store family: "file"
    * (FileLayerWriter — attributes/, header format "file", relative
    * path) or "hadoop" (HadoopLayerWriter, r20 — _attributes/, header
    * format "hdfs", absolute path, MapFile parts). `keyIndexType`:
    * "zorder" or "hilbert" (r20 — stored with the geotrellis
    * xResolution/yResolution properties). Returns (tilesDir, index pad
    * width, tileCols, tileRows, key→index fn). */
  private def prepareWrite(catalog: String, name: String, zoom: Int,
                           df: DataFrame, lay: LayoutDefinition, crs: String,
                           valueClass: String, schemaJson: String,
                           layout: String = "file",
                           keyIndexType: String = "zorder")
      : (String, Int, Int, Int, (Long, Long) => Long) = {
    // path-safe, JSON-safe, separator-free: the name lands in both the
    // attribute FILENAME and the header path
    require(name.matches("[A-Za-z0-9._-]+"),
      s"layer name '$name' must match [A-Za-z0-9._-]+ (it becomes a file path)")
    require(!name.contains(Sep),
      s"layer name '$name' contains the attribute separator '$Sep'")
    require(layout == "file" || layout == "hadoop", s"unknown layout '$layout'")
    val tl = lay.tileLayout
    val b = df.agg(
      org.apache.spark.sql.functions.min("col"), org.apache.spark.sql.functions.max("col"),
      org.apache.spark.sql.functions.min("row"), org.apache.spark.sql.functions.max("row"))
      .head()
    require(!b.isNullAt(0), "writeLayer: empty layer")
    val (minC, maxC, minR, maxR) = (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3))
    val dir = s"$catalog/$name/$zoom"
    val (toIndex, keyIndexJson): ((Long, Long) => Long, String) = keyIndexType match {
      case "zorder" =>
        ((c, r) => ZIndex.zorder(c, r, 31),
          s"""{"type":"zorder","properties":{"keyBounds":{
             |"minKey":{"col":$minC,"row":$minR},"maxKey":{"col":$maxC,"row":$maxR}}}}"""
            .stripMargin.replace("\n", ""))
      case "hilbert" =>
        // the geotrellis HilbertKeyIndexMethod shape: per-axis bit
        // widths in properties; raw col/row indexed (no min shift)
        val xr = CompactHilbert.resolutionFor(maxC.toLong)
        val yr = CompactHilbert.resolutionFor(maxR.toLong)
        ((c, r) => CompactHilbert.index(IndexedSeq(xr, yr), IndexedSeq(c, r)),
          s"""{"type":"hilbert","properties":{"keyBounds":{
             |"minKey":{"col":$minC,"row":$minR},"maxKey":{"col":$maxC,"row":$maxR}},
             |"xResolution":$xr,"yResolution":$yr}}""".stripMargin.replace("\n", ""))
      case other => throw new IllegalArgumentException(
        s"key index '$other' is outside the WRITE subset (zorder/hilbert)")
    }
    val width = toIndex(maxC.toLong, maxR.toLong).toString.length
    val (fmt, headerPath, attrDir) =
      if (layout == "hadoop") ("hdfs", dir, s"$catalog/_attributes")
      else ("file", s"$name/$zoom", s"$catalog/attributes")
    val e = lay.extent
    def ext(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"""{"xmin":$x0,"ymin":$y0,"xmax":$x1,"ymax":$y1}"""
    def key(c: Int, r: Int) = s"""{"col":$c,"row":$r}"""
    val metaJson =
      s"""[{"name":"$name","zoom":$zoom},{
         |"header":{"format":"$fmt","keyClass":"geotrellis.layer.SpatialKey",
         |"valueClass":"$valueClass","path":${Json.write(headerPath)}},
         |"metadata":{
         |"extent":${ext(e.xmin, e.ymin, e.xmax, e.ymax)},
         |"layoutDefinition":{"extent":${ext(e.xmin, e.ymin, e.xmax, e.ymax)},
         |"tileLayout":{"layoutCols":${tl.layoutCols},"layoutRows":${tl.layoutRows},
         |"tileCols":${tl.tileCols},"tileRows":${tl.tileRows}}},
         |"cellType":"float64","crs":${Json.write(crs)},
         |"bounds":{"minKey":${key(minC, minR)},"maxKey":${key(maxC, maxR)}}},
         |"keyIndex":$keyIndexJson,
         |"schema":$schemaJson}]""".stripMargin.replace("\n", "")
    writeString(s"$attrDir/$name$Sep$zoom${Sep}metadata.json", metaJson)
    val (fs0, dirPath) = fsPath(dir)
    if (fs0.exists(dirPath)) fs0.delete(dirPath, true) // no stale tiles on re-export
    fs0.mkdirs(dirPath)
    (dir, width, tl.tileCols, tl.tileRows, toIndex)
  }

  private def writeTileFile(dir: String, width: Int, conf: Configuration,
                            bytes: Array[Byte], idx: Long): Unit = {
    val p = new Path(s"$dir/${zeroPad(idx, width)}")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Minimal JSON re-serializer for the parsed attribute trees (the
    * schema node shipped to executors). Strings escape the JSON
    * control set; numbers print integral values without the ".0" so
    * Avro "size"-style ints survive the Double round-trip. */
  private[catalog] object Json {
    def write(v: Any): String = v match {
      case null => "null"
      case s: String =>
        "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      case b: Boolean => b.toString
      case d: Double =>
        if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case seq: Seq[Any @unchecked] => seq.map(write).mkString("[", ",", "]")
      case m: Map[String @unchecked, Any @unchecked] =>
        m.toSeq.sortBy(_._1).map { case (k, mv) => write(k) + ":" + write(mv) }
          .mkString("{", ",", "}")
      case other =>
        throw new IllegalArgumentException(s"json write: unsupported ${other.getClass}")
    }
  }
}
