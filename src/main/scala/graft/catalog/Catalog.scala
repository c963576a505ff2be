package graft.catalog

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CellType, Extent, LayoutDefinition, TileLayout, ZIndex}
import graft.raster.{LayerMetadata, MultibandLayer, RasterLayer}

/** Layer catalog: persistent tile store + attribute store.
  *
  * Reference: geopyspark/geotrellis/catalog.py — write (:210) indexes
  * tiles by a space-filling curve; query (:117) reads a layer filtered
  * by extent/time; AttributeStore (:332) holds layer metadata.
  *
  * Spark-first shape: tiles live in parquet partitioned by zoom and
  * sorted by z-order index within files, so an extent query turns into
  * (a) partition pruning on zoom and (b) row-group pruning via min/max
  * statistics on `zindex` + pushed col/row predicates — visible as
  * PushedFilters in `.explain`. Metadata is a JSON sidecar (the
  * attribute store), read driver-side.
  */
object Catalog {

  private def metaPath(uri: String, name: String) = s"$uri/$name/_graft_meta.json"
  private def metaPathZoom(uri: String, name: String, zoom: Int) =
    s"$uri/$name/_graft_meta_$zoom.json"

  // ---- URI-transparent sidecar IO ---------------------------------
  // Tiles already go through Spark's Hadoop FS; the attribute store
  // must use the SAME resolution or a store at s3a://… would write
  // tiles remotely and throw on its metadata (catalog.py's
  // AttributeStore is URI-based: file/hdfs/s3). Resolution uses the
  // active session's hadoopConfiguration so fs.s3a.* etc. credentials
  // configured on the session apply to sidecars too.

  private[catalog] def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** A Hadoop conf (the session's by default) flattened to serializable
    * properties: executor-side reads and writes must see the session's
    * spark.hadoop.* settings (s3a credentials, defaultFS, …) — a bare
    * `new Configuration()` on the executor would silently drop them and
    * half-write a store (attributes from the driver conf, no tiles).
    * [[confFrom]] rebuilds the conf from them. */
  private[graft] def confProps(conf: Configuration = hadoopConf): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private[graft] def confFrom(props: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private[catalog] def fsPath(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(hadoopConf), path)
  }

  private[catalog] def writeString(p: String, content: String): Unit = {
    val (fs, path) = fsPath(p)
    val out = fs.create(path, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private[catalog] def readString(p: String): String =
    new String(readBytes(p), StandardCharsets.UTF_8)

  private[catalog] def readBytes(p: String): Array[Byte] = {
    val (fs, path) = fsPath(p)
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  private def pathExists(p: String): Boolean = {
    val (fs, path) = fsPath(p)
    fs.exists(path)
  }

  /** Pack/unpack the tile column at the layer's NATIVE storage width
    * (meta.cellType) — float64 layers store the plain array<double>
    * (legacy-compatible), everything else stores LE-packed BINARY with
    * the [[CellType]] NoData sentinel. A uint8 layer's tile bytes (and
    * the shuffle feeding the z-ordered write) shrink 8x. */
  private def packCol(cellType: String): Column =
    org.apache.spark.sql.graft.TilePackExpr.packCol(col("tile"), cellType)
  private def unpackCol(cellType: String): Column =
    org.apache.spark.sql.graft.TileUnpackExpr.unpackCol(col("tile"), cellType)
  private def packed(cellType: String): Boolean = cellType != "float64"

  /** A layer's tiles as the store keeps them: the keys, the tile packed
    * at the layer's width (BEFORE the writer's range exchange, so the
    * write shuffle carries native-width bytes) and the `zoom` column. */
  private def packedTiles(layer: RasterLayer, zoom: Int): DataFrame = {
    val ct = layer.meta.cellType
    val keys = if (layer.meta.temporal) Seq("col", "row", "instant") else Seq("col", "row")
    val tile = if (packed(ct)) packCol(ct).as("tile") else col("tile")
    layer.df.select(keys.map(col) :+ tile :+ lit(zoom).as("zoom"): _*)
  }

  /** The one tile-store writer: every store path's on-disk layout is
    * decided here. `tiles` are already packed and carry a `zoom`
    * column; the writer adds the z-order `zindex` of (col, row),
    * range-partitions and sorts on (zoom, [instant,] zindex) and writes
    * one parquet partition per zoom. `zoom` leads the key so each
    * zoom's files stay zindex-sorted when several levels are written
    * at once (a single level's layout is the plain zindex one).
    * Temporal tiles (an `instant` column) sort time-major — the
    * reference's space-time index (__init__.py:645 time-resolution
    * partitioners; catalog.py:117 temporal query): a time-interval
    * query prunes whole files via parquet min/max stats on `instant`
    * before the zindex stats cut in. Overwrite is DYNAMIC: only the
    * zooms present in `tiles` are replaced — static mode would wipe
    * every other zoom already in the store. */
  private def writeTiles(uri: String, name: String, tiles: DataFrame, mode: SaveMode): Unit = {
    val key = (if (tiles.columns.contains("instant")) Seq("zoom", "instant", "zindex")
               else Seq("zoom", "zindex")).map(col)
    tiles.withColumn("zindex", ZIndex.zorderCol(col("col").cast("long"), col("row").cast("long")))
      .repartitionByRange(key: _*)
      .sortWithinPartitions(key: _*)
      .write.mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("zoom")
      .parquet(s"$uri/$name/tiles")
  }

  def write(uri: String, name: String, layer: RasterLayer, zoom: Int = 0): Unit =
    writeLevels(uri, name, Seq(zoom -> layer))

  /** Write several zoom levels under one name in ONE writer call: the
    * union of the packed levels crosses one range exchange into one
    * write ([[graft.raster.Pyramid.write]]). The sidecars follow in
    * the given order, so the shared `_graft_meta.json` describes the
    * last level. The union refuses levels whose tile columns differ
    * (float64 and packed, temporal and spatial): one store directory
    * holds one tile schema. */
  private[graft] def writeLevels(uri: String, name: String, levels: Seq[(Int, RasterLayer)]): Unit = {
    require(levels.nonEmpty && levels.map(_._1).distinct.size == levels.size,
      s"write('$name') needs distinct zooms, got ${levels.map(_._1).mkString(", ")}")
    writeTiles(uri, name, levels.map { case (z, l) => packedTiles(l, z) }.reduce(_ union _),
      SaveMode.Overwrite)
    levels.foreach { case (z, l) => writeMetadata(uri, name, l.meta, z) }
  }

  /** Write just the attribute-store metadata sidecar (used by
    * streaming ingestion, which appends tiles incrementally). Each
    * zoom gets its OWN sidecar (_graft_meta_$zoom.json) — pyramid
    * levels have different layouts, so a shared file would leave the
    * store described by whichever level wrote last. The unsuffixed
    * _graft_meta.json is also refreshed as the store-exists marker and
    * legacy fallback. */
  def writeMetadata(uri: String, name: String, meta: LayerMetadata, zoom: Int = 0): Unit = {
    val e = meta.layout.extent; val tl = meta.layout.tileLayout
    val json =
      s"""{"extent":[${e.xmin},${e.ymin},${e.xmax},${e.ymax}],
         |"layout":[${tl.layoutCols},${tl.layoutRows},${tl.tileCols},${tl.tileRows}],
         |"cellType":"${meta.cellType}","temporal":${meta.temporal},"zoom":$zoom}""".stripMargin
    writeString(metaPathZoom(uri, name, zoom), json)
    writeString(metaPath(uri, name), json)
  }

  def metadataExists(uri: String, name: String): Boolean =
    pathExists(metaPath(uri, name))

  /** Resolve the sidecar for `zoom`: the per-zoom file when present,
    * else the shared legacy file (single-zoom stores, pre-per-zoom
    * layouts). */
  def readMetadata(uri: String, name: String, zoom: Int = 0): LayerMetadata = {
    val pz = metaPathZoom(uri, name, zoom)
    val s = readString(if (pathExists(pz)) pz else metaPath(uri, name))
    def nums(key: String): Array[Double] =
      s.split(s""""$key":\\[""")(1).split("]")(0).split(",").map(_.trim.toDouble)
    val e = nums("extent"); val l = nums("layout")
    val cellType = "\"cellType\":\"([a-z0-9]+)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("float64")
    LayerMetadata(
      LayoutDefinition(Extent(e(0), e(1), e(2), e(3)),
        TileLayout(l(0).toInt, l(1).toInt, l(2).toInt, l(3).toInt)),
      cellType = cellType,
      temporal = s.contains("\"temporal\":true"))
  }

  def read(spark: SparkSession, uri: String, name: String, zoom: Int = 0): RasterLayer =
    readResolved(spark, uri, name, zoom, readMetadata(uri, name, zoom))

  /** [[read]] with the zoom's sidecar already resolved: each query
    * resolves it once (an exists plus an open) and reads through this. */
  private def readResolved(spark: SparkSession, uri: String, name: String, zoom: Int,
                           meta: LayerMetadata): RasterLayer = {
    val keys = if (meta.temporal) Seq("col", "row", "instant") else Seq("col", "row")
    val raw = spark.read.parquet(s"$uri/$name/tiles")
      .where(col("zoom") === zoom)
      .select((keys :+ "tile").map(col): _*)
    val df = if (packed(meta.cellType)) raw.withColumn("tile", unpackCol(meta.cellType)) else raw
    new RasterLayer(df, meta)
  }

  /** The tiles covering the grid-coordinate extent [gxMin, gxMax) x
    * [gyMin, gyMax): tile-key range predicates that push to the parquet
    * scan. */
  private def keyBox(meta: LayerMetadata, gxMin: Long, gyMin: Long, gxMax: Long, gyMax: Long): Column = {
    val tl = meta.layout.tileLayout
    col("col") >= (gxMin / tl.tileCols).toInt && col("col") <= ((gxMax - 1) / tl.tileCols).toInt &&
    col("row") >= (gyMin / tl.tileRows).toInt && col("row") <= ((gyMax - 1) / tl.tileRows).toInt
  }

  /** Temporal catalog query (catalog.py:117 query with a time
    * interval): zoom partition pruning + `instant` range predicates
    * pushed to the parquet scan (file skip via min/max stats — the
    * write path range-partitions by instant first) + tile-key extent
    * pruning. */
  def queryTime(spark: SparkSession, uri: String, name: String, zoom: Int,
                gxMin: Long, gyMin: Long, gxMax: Long, gyMax: Long,
                tMin: Long, tMax: Long): RasterLayer = {
    val meta = readMetadata(uri, name, zoom)
    require(meta.temporal, s"layer $name is not temporal")
    val full = readResolved(spark, uri, name, zoom, meta)
    new RasterLayer(full.df.where(col("instant") >= tMin && col("instant") <= tMax &&
      keyBox(meta, gxMin, gyMin, gxMax, gyMax)), meta)
  }

  /** Multiband layer store: same z-ordered parquet layout with the
    * band stack as a nested array column; band count rides the
    * attribute store. Non-float64 cell types pack the whole band stack
    * into ONE binary column (bands contiguous, LE, native width) —
    * the same up-to-8x byte saving as single-band stores. */
  def writeMultiband(uri: String, name: String, layer: MultibandLayer, zoom: Int = 0): Unit = {
    val ct = layer.meta.cellType
    val bands =
      if (packed(ct)) org.apache.spark.sql.graft.BandsPackExpr.packCol(col("bands"), ct)
      else col("bands")
    writeTiles(uri, name,
      layer.df.select(col("col"), col("row"), bands.as("bands"), lit(zoom).as("zoom")),
      SaveMode.Overwrite)
    writeMetadata(uri, name, layer.meta, zoom)
    writeAttribute(uri, name, "bands", layer.bandCount.toString)
  }

  def readMultiband(spark: SparkSession, uri: String, name: String, zoom: Int = 0): MultibandLayer = {
    val meta = readMetadata(uri, name, zoom)
    val bands = readAttribute(uri, name, "bands").trim.toInt
    val raw = spark.read.parquet(s"$uri/$name/tiles")
      .where(col("zoom") === zoom)
      .select(col("col"), col("row"), col("bands"))
    val df =
      if (packed(meta.cellType))
        raw.withColumn("bands",
          org.apache.spark.sql.graft.BandsUnpackExpr.unpackCol(col("bands"), meta.cellType, bands))
      else raw
    new MultibandLayer(df, meta, bands)
  }

  /** Extent query (catalog.py:117 query with intersects): tile-key
    * range predicates push to the parquet scan. Extent in grid coords. */
  def query(spark: SparkSession, uri: String, name: String, zoom: Int,
            gxMin: Long, gyMin: Long, gxMax: Long, gyMax: Long): RasterLayer = {
    val meta = readMetadata(uri, name, zoom)
    val full = readResolved(spark, uri, name, zoom, meta)
    new RasterLayer(full.df.where(keyBox(meta, gxMin, gyMin, gxMax, gyMax)), meta)
  }

  /** Geometry-scoped read — reference catalog.py query with a
    * geometry + key_conversion.py geometry_to_keys: only tiles whose
    * extent intersects the WKT geometry (grid coordinates) are kept.
    * The bbox range predicates push to the parquet scan (min/max file
    * skip via the z-ordered write layout); the exact key set — driver
    * -side, bounded by the geometry's bbox in tiles — then refines via
    * an isin on the packed key (one pushable IN filter, no join). */
  def queryGeometry(spark: SparkSession, uri: String, name: String, zoom: Int,
                    wkt: String): RasterLayer = {
    val meta = readMetadata(uri, name, zoom)
    val keys = graft.raster.Rasterize.geometryToKeys(meta.layout, graft.vector.Wkt.parse(wkt))
    val full = readResolved(spark, uri, name, zoom, meta)
    if (keys.isEmpty) return new RasterLayer(full.df.where(lit(false)), meta)
    // pack on the ROW stride so distinct (col,row) never collide
    val lr = meta.layout.tileLayout.layoutRows.toLong
    val packed = keys.map { case (c, r) => c.toLong * lr + r }
    val pruned = full.df.where(
      col("col") >= keys.map(_._1).min && col("col") <= keys.map(_._1).max &&
      col("row") >= keys.map(_._2).min && col("row") <= keys.map(_._2).max &&
      (col("col").cast("long") * lr + col("row")).isInCollection(packed))
    new RasterLayer(pruned, meta)
  }

  /** Append tiles of `layer` to an existing stored layer — reference
    * update_layer (catalog.py:287). Readers resolve duplicate keys via
    * aggregateByCell/merge on read. Appends through write's own writer,
    * so the appended files keep the same parquet min/max pruning
    * properties: temporal layers sort on (instant, zindex), so
    * queryTime's file-skipping promise holds for appended instants. */
  def update(uri: String, name: String, layer: RasterLayer, zoom: Int = 0): Unit = {
    // appended tiles must match the STORED encoding, not whatever the
    // incoming layer claims — mixing array<double> and binary files in
    // one parquet directory corrupts the store with no error until the
    // next read. Fail loudly at write time instead.
    val storedType =
      if (metadataExists(uri, name)) readMetadata(uri, name, zoom).cellType
      else layer.meta.cellType
    require(storedType == layer.meta.cellType,
      s"update('$name') cellType mismatch: store is $storedType, layer is " +
      s"${layer.meta.cellType} — convertCellType the layer first")
    writeTiles(uri, name, packedTiles(layer, zoom), SaveMode.Append)
  }

  /** Compact one zoom partition: incremental appends (update /
    * streaming ingestion micro-batches) leave many small files whose
    * zindex ranges overlap, eroding the min/max file skipping that
    * query/queryTime rely on. Compaction reads the partition back,
    * restores the canonical write layout (range-partition + sort on
    * (instant,) zindex), and atomically replaces ONLY that zoom via
    * dynamic partition overwrite — the standard small-file compaction
    * any streaming-ingested table needs at scale.
    *
    * Physical re-layout only: duplicate (col,row[,instant]) keys from
    * appends are preserved (readers resolve them cell-wise, the
    * update() contract); pass `mergeDuplicates = true` to collapse
    * them with aggregate_by_cell Max instead. */
  def compact(spark: SparkSession, uri: String, name: String, zoom: Int = 0,
              mergeDuplicates: Boolean = false, force: Boolean = false): Unit = {
    // the streaming source's append-only contract is ENFORCED, not
    // just documented (r16): an attached stream reader tracks emitted
    // tile FILES, and compaction rewrites the same rows under new
    // names — the stream would re-emit every tile. Readers leave a
    // lock file while attached; refuse loudly unless forced (a
    // crashed reader can leave a stale lock — force after confirming
    // no live query, or delete the lock file).
    require(force || !hasStreamReaders(uri, name),
      s"stream reader(s) attached to $uri/$name " +
        s"(${streamReaderLocks(uri, name).mkString(", ")}): compaction would " +
        "re-emit rewritten files; stop the stream first or pass force = true")
    val base = read(spark, uri, name, zoom)
    val resolved = if (mergeDuplicates) base.aggregateByCell("Max") else base
    // materialize before the overwrite: the write would otherwise
    // race its own input scan on the same files
    val frozen = resolved.df.localCheckpoint()
    write(uri, name, new RasterLayer(frozen, resolved.meta), zoom)
  }

  /** Lock files left by attached streaming readers (see
    * [[GraftDataSource]]'s MicroBatchStream): `_stream_reader_*.lock`
    * under the layer directory. */
  private[catalog] def streamReaderLocks(uri: String, name: String): Seq[String] = {
    val (fs, root) = fsPath(s"$uri/$name")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_stream_reader_") && n.endsWith(".lock"))
  }

  /** True while any streaming query reads this layer (its source
    * holds a lock file) — the [[compact]] guard. */
  def hasStreamReaders(uri: String, name: String): Boolean =
    streamReaderLocks(uri, name).nonEmpty

  /** Layer names present in the store — reference AttributeStore.layers
    * (catalog.py :332 surface). A layer exists iff its metadata sidecar
    * does (tiles without metadata are unreadable by contract). */
  def layers(uri: String): Seq[String] = {
    val (fs, root) = fsPath(uri)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && metadataExists(uri, st.getPath.getName))
      .map(_.getPath.getName).sorted
  }

  /** Reference AttributeStore.contains. */
  def contains(uri: String, name: String): Boolean = metadataExists(uri, name)

  /** Delete a stored layer (tiles + every sidecar) — reference
    * AttributeStore.delete. Idempotent: deleting an absent layer is a
    * no-op. */
  def delete(uri: String, name: String): Unit = {
    val (fs, root) = fsPath(s"$uri/$name")
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** The tile files whose parquet zindex row-group statistics can
    * contain key (c, r) — driver-side FOOTER reads only (bounded small
    * range requests; no tile data). The write path range-partitions
    * and sorts by zindex, so this is almost always exactly one file. */
  private[catalog] def candidateTileFiles(uri: String, name: String, zoom: Int,
                                          c: Int, r: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val z = ZIndex.zorder(c.toLong, r.toLong)
    val (fs, dir) = fsPath(s"$uri/$name/tiles/zoom=$zoom")
    if (!fs.exists(dir)) return Nil
    val conf = hadoopConf
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try {
          val hit = reader.getFooter.getBlocks.asScala.exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "zindex").forall { cc =>
              val s = cc.getStatistics
              s == null || !s.hasNonNullValue || {
                (s.genericGetMin, s.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) => mn <= z && z <= mx
                  case _ => true // unexpected stats type: cannot prune
                }
              }
            }
          }
          if (hit) Some(st.getPath.toString) else None
        } finally reader.close()
      }
  }

  /** ValueReader-equivalent point read (reference catalog.py:74 /
    * geopyspark ValueReader): fetch ONE tile by key at serving
    * latency, WITHOUT a Spark job. Footer statistics prune to the
    * candidate file(s) ([[candidateTileFiles]]); each is then read
    * with a direct ParquetReader — the (col, row[, instant]) filter
    * prunes row groups via stats/dictionaries and drops non-matching
    * records during assembly, all on the calling thread. The previous
    * spark.read.collect() path paid driver job-scheduling latency per
    * request, which a tile server cannot. Duplicate keys from
    * [[update]] appends resolve cell-wise Max (the update contract);
    * temporal stores disambiguate with `instant`. The SparkSession
    * parameter is kept for API stability (and is untouched — specs
    * assert zero jobs). */
  def readTile(spark: SparkSession, uri: String, name: String, zoom: Int,
               tileCol: Int, tileRow: Int,
               instant: Option[Long] = None): Option[Array[Double]] = {
    val meta = readMetadata(uri, name, zoom)
    require(!meta.temporal || instant.isDefined,
      s"layer $name is temporal — readTile needs an instant")
    val files = candidateTileFiles(uri, name, zoom, tileCol, tileRow)
    if (files.isEmpty) return None
    val ct = CellType.fromName(meta.cellType)
    val isPacked = packed(meta.cellType)
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.compat.FilterCompat
    var pred = FilterApi.and(
      FilterApi.eq(FilterApi.intColumn("col"), Int.box(tileCol)),
      FilterApi.eq(FilterApi.intColumn("row"), Int.box(tileRow)))
    instant.foreach(t => pred =
      FilterApi.and(pred, FilterApi.eq(FilterApi.longColumn("instant"), Long.box(t))))
    val conf = hadoopConf
    val tiles = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf)
        .withFilter(FilterCompat.get(pred))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          tiles +=
            (if (isPacked) ct.unpack(g.getBinary("tile", 0).getBytes)
             else {
               // Spark's list encoding: tile (LIST) > repeated list > element
               val list = g.getGroup("tile", 0)
               val n = list.getFieldRepetitionCount(0)
               Array.tabulate(n)(i => list.getGroup(0, i).getDouble(0, 0))
             })
          g = reader.read()
        }
      } finally reader.close()
    }
    if (tiles.isEmpty) None
    else Some(tiles.reduce { (a, b) =>
      Array.tabulate(a.length) { i =>
        if (a(i).isNaN) b(i) else if (b(i).isNaN) a(i) else math.max(a(i), b(i))
      }
    })
  }

  /** Diff two stored layers at a zoom: tiles whose cell content
    * differs, with the changed-cell count per tile (the catalog
    * audit/validation tool — "what did the last ingest touch?").
    * NaN==NaN counts as unchanged; a tile present on only one side
    * counts every data cell of the present side as changed (full
    * outer join — nothing silently drops).
    *
    * Scale: co-keyed tile join (both sides share the catalog's
    * spatial partitioning) + a per-tile zip_with fold — no per-cell
    * rows cross any exchange. */
  def diff(spark: org.apache.spark.sql.SparkSession, uri: String,
           nameA: String, nameB: String, zoom: Int = 0): org.apache.spark.sql.DataFrame = {
    val a = read(spark, uri, nameA, zoom).df.select(col("col"), col("row"), col("tile").as("ta"))
    val b = read(spark, uri, nameB, zoom).df.select(col("col"), col("row"), col("tile").as("tb"))
    def dataCells(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(t, lit(0), (acc, x) => acc + when(isnan(x), 0).otherwise(1))
    a.join(b, Seq("col", "row"), "full_outer")
      .select(col("col"), col("row"),
        when(col("ta").isNull, dataCells(col("tb")))
          .when(col("tb").isNull, dataCells(col("ta")))
          .otherwise(aggregate(
            zip_with(col("ta"), col("tb"), (x, y) =>
              when((isnan(x) && isnan(y)) || x === y, 0).otherwise(1)),
            lit(0), (acc, e) => acc + e))
          .as("n_changed"))
      .where(col("n_changed") > 0)
  }

  /** Attribute store key-value access (catalog.py AttributeStore :332). */
  def writeAttribute(uri: String, name: String, key: String, value: String): Unit =
    writeString(s"$uri/$name/_attributes_$key.json", value)
  def readAttribute(uri: String, name: String, key: String): String =
    readString(s"$uri/$name/_attributes_$key.json")

  // ---- generic TABLE store (pipeline indexes, r17) -----------------

  /** Persist an arbitrary TABLE under the catalog — the home of the
    * pipeline's durable indexes (MinHash signature tables, IVF
    * centroid lists), so incremental ingest and ANN probing read a
    * stored index instead of recomputing the base corpus (Dedup.
    * incrementalDedupIndexed / Similarity.ivfTopKIndexed). Plain
    * parquet at `uri/name/table` plus a marker sidecar; overwrite
    * semantics — rebuilding the index is a full re-write. */
  def writeTable(uri: String, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$uri/$name/table")
    writeString(s"$uri/$name/_graft_table.json",
      s"""{"kind":"table","name":"$name"}""")
  }

  def tableExists(uri: String, name: String): Boolean =
    pathExists(s"$uri/$name/_graft_table.json")

  def readTable(spark: SparkSession, uri: String, name: String): org.apache.spark.sql.DataFrame = {
    require(tableExists(uri, name), s"no catalog table '$name' at $uri")
    spark.read.parquet(s"$uri/$name/table")
  }
}
