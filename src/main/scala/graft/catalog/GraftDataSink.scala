package graft.catalog

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.core.CellType
import graft.raster.LayerMetadata

/** DataSource V2 WRITE path for the graft tile catalog — the
  * SQL-facing INSERT twin of [[GraftDataSource]]'s read relation:
  *
  * {{{
  *   layerDf.write.format("graft")
  *     .option("path", uri).option("layer", "nlcd").option("zoom", "4")
  *     .mode("append")   // or "overwrite" (truncates the zoom)
  *     .save()
  * }}}
  *
  * The writer declares `RequiresDistributionAndOrdering` clustered +
  * sorted on (col, row[, instant]), so Spark plans the shuffle/sort —
  * each task then streams its ordered rows into ONE parquet file with
  * the catalog's native-width cell packing applied in-writer. Sorted
  * (col, row) files give the footer min/max statistics the read
  * path's pruning feeds on. The canonical Z-ORDER layout (better 2D
  * locality) remains [[Catalog.write]] / compaction — stated in the
  * scaladoc rather than silently approximated.
  *
  * Metadata: appending to an existing store reuses its sidecar; a
  * fresh store takes `extent` ("xmin,ymin,xmax,ymax") and `layout`
  * ("lcols,lrows,tcols,trows") options (+ optional `celltype`,
  * `temporal`). The sidecar is (re)written once, at commit, on the
  * driver.
  */
private[catalog] object GraftDataSink {

  def distribution(schema: StructType): Distribution =
    Distributions.clustered(Array(Expressions.column("col"), Expressions.column("row")))

  def ordering(schema: StructType): Array[SortOrder] = {
    val keys = Seq("col", "row") ++
      (if (schema.fieldNames.contains("instant")) Seq("instant") else Nil)
    keys.map(k => Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)).toArray
  }

  def parquetSchema(temporal: Boolean, packedTile: Boolean): String = {
    val instant = if (temporal) "  optional int64 instant;\n" else ""
    val tile =
      if (packedTile) "  optional binary tile;"
      else "  optional group tile (LIST) { repeated group list { optional double element; } }"
    s"message graft_tiles {\n  optional int32 col;\n  optional int32 row;\n$instant$tile\n}"
  }

  /** Resolve the layer metadata. Append: existing sidecar wins (the
    * incoming tiles must share the established grid). Overwrite/
    * truncate: explicit extent/layout/celltype/temporal options win
    * over the old sidecar — an overwrite that silently packed with
    * the OLD cellType and re-published the OLD layout was the r12
    * advice bug; conflicting leftovers fail loudly instead. A fresh
    * store always requires the options. */
  def metaFor(opts: GraftTable.Opts, options: Map[String, String],
              truncate: Boolean = false): LayerMetadata = {
    val explicit = Seq("extent", "layout", "celltype", "temporal").filter(options.contains)
    if (Catalog.metadataExists(opts.uri, opts.layer) && truncate && explicit.nonEmpty) {
      // honor the writer's options wholesale; partial override of an
      // existing grid is ambiguous (which half of the old sidecar
      // still applies?) so demand the full layout description
      if (!(options.contains("extent") && options.contains("layout")))
        throw new IllegalArgumentException(
          s"graft sink: overwrite with ${explicit.mkString("/")} set must also give " +
            "'extent' and 'layout' (a partial grid override is ambiguous; drop the " +
            "options to keep the existing layer grid)")
      freshMeta(options)
    }
    else if (Catalog.metadataExists(opts.uri, opts.layer))
      Catalog.readMetadata(opts.uri, opts.layer, opts.zoom)
    else freshMeta(options)
  }

  private def freshMeta(options: Map[String, String]): LayerMetadata = {
    {
      def nums(key: String): Array[Double] = options.getOrElse(key,
        throw new IllegalArgumentException(
          s"graft sink: new store needs option '$key'")).split(",").map(_.trim.toDouble)
      val e = nums("extent"); val l = nums("layout")
      LayerMetadata(
        graft.core.LayoutDefinition(
          graft.core.Extent(e(0), e(1), e(2), e(3)),
          graft.core.TileLayout(l(0).toInt, l(1).toInt, l(2).toInt, l(3).toInt)),
        cellType = options.getOrElse("celltype", "float64"),
        temporal = options.getOrElse("temporal", "false").toBoolean)
    }
  }
}

private[catalog] final class GraftWriteBuilder(
    opts: GraftTable.Opts, info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val schema = info.schema()
    val names = schema.fieldNames.toSeq
    require(names.contains("col") && names.contains("row") && names.contains("tile"),
      s"graft sink needs columns col, row, tile (got ${names.mkString(", ")})")
    val optMap = info.options().asScala.toMap
    new GraftWrite(opts, schema, optMap, doTruncate)
  }
}

private[catalog] final class GraftWrite(
    opts: GraftTable.Opts, schema: StructType, options: Map[String, String],
    truncate: Boolean) extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution = GraftDataSink.distribution(schema)
  override def requiredOrdering(): Array[SortOrder] = GraftDataSink.ordering(schema)

  override def toBatch: BatchWrite = {
    val meta = GraftDataSink.metaFor(opts, options, truncate)
    new GraftBatchWrite(opts, schema, meta, truncate)
  }

  /** Streaming sink half (`df.writeStream.format("graft")`): the
    * micro-batch twin of the batch write, closing the ingest loop the
    * streaming SOURCE opened (readStream over a live store). Append
    * output mode only — a tile catalog accretes scenes; Complete
    * would truncate the store every epoch. */
  override def toStreaming: StreamingWrite = {
    if (truncate) throw new UnsupportedOperationException(
      "graft streaming sink supports outputMode=append only (a Complete-mode " +
        "truncate per epoch would drop previously ingested tiles)")
    val meta = GraftDataSink.metaFor(opts, options, truncate = false)
    new GraftStreamingWrite(opts, schema, meta)
  }
}

private[catalog] final case class GraftCommit(file: String) extends WriterCommitMessage

private[catalog] final class GraftBatchWrite(
    opts: GraftTable.Opts, schema: StructType, meta: LayerMetadata,
    truncate: Boolean) extends BatchWrite {

  private val zoomDir = s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(zoomDir, schema, meta.cellType,
      meta.temporal, UUID.randomUUID().toString, Catalog.confProps())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = Catalog.confFrom(Catalog.confProps())
    val dir = new Path(zoomDir)
    val fs = dir.getFileSystem(conf)
    if (truncate && fs.exists(dir)) {
      val keep = messages.map(_.asInstanceOf[GraftCommit].file)
        .map(f => new Path(f).getName).toSet
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.endsWith(".parquet") && !keep(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
    }
    Catalog.writeMetadata(opts.uri, opts.layer, meta, opts.zoom)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = Catalog.confFrom(Catalog.confProps())
    messages.filter(_ != null).foreach { m =>
      val p = new Path(m.asInstanceOf[GraftCommit].file)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

/** Micro-batch write: exactly-once by epoch-deterministic FINAL file
  * names plus attempt-unique temp files (r15, hardening the r14
  * overwrite-in-place contract):
  *
  *  - every task attempt writes `part-epoch<e>-<p>.<taskId>.tmp.parquet`
  *    and RENAMES it to `part-epoch<e>-<p>.parquet` at task commit —
  *    concurrent attempts of one partition (speculation, a zombie
  *    racing a retry) can no longer interleave bytes into the final
  *    path, and only the attempt the commit coordinator picked
  *    publishes;
  *  - epoch commit() reconciles the directory against the commit
  *    messages: any `part-epoch<e>-*` file NOT in the messages (a
  *    stale file from an earlier attempt of this epoch that planned
  *    MORE partitions, or an orphaned temp) is deleted BEFORE the
  *    metadata sidecar publishes, so a replayed epoch that re-plans
  *    with fewer partitions cannot leave duplicate tiles on read.
  *
  * The metadata sidecar is (re)published on the driver at each epoch
  * commit (idempotent: same grid, same bytes). */
private[catalog] final class GraftStreamingWrite(
    opts: GraftTable.Opts, schema: StructType, meta: LayerMetadata)
    extends StreamingWrite {

  private val zoomDir = s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamingWriterFactory(zoomDir, schema, meta.cellType,
      meta.temporal, Catalog.confProps())

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = Catalog.confFrom(Catalog.confProps())
    val dir = new Path(zoomDir)
    val fs = dir.getFileSystem(conf)
    val committed = messages.filter(_ != null)
      .map(m => new Path(m.asInstanceOf[GraftCommit].file).getName).toSet
    if (fs.exists(dir)) {
      val prefix = s"part-epoch$epochId-"
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix) && !committed(name))
          fs.delete(st.getPath, false)
      }
    }
    Catalog.writeMetadata(opts.uri, opts.layer, meta, opts.zoom)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = Catalog.confFrom(Catalog.confProps())
    messages.filter(_ != null).foreach { m =>
      val p = new Path(m.asInstanceOf[GraftCommit].file)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

private[catalog] final case class GraftStreamingWriterFactory(
    zoomDir: String, schema: StructType, cellType: String, temporal: Boolean,
    confProps: Map[String, String]) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // .tmp (NOT .parquet): readers glob *.parquet, so an in-flight or
    // orphaned temp is invisible to them by construction
    val fin = f"$zoomDir/part-epoch$epochId-$partitionId.parquet"
    new GraftDataWriter(s"$fin.$taskId.tmp",
      schema, cellType, temporal, confProps, renameTo = Some(fin))
  }
}

private[catalog] final case class GraftWriterFactory(
    zoomDir: String, schema: StructType, cellType: String, temporal: Boolean,
    writeId: String, confProps: Map[String, String]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      s"$zoomDir/part-$writeId-$partitionId.parquet",
      schema, cellType, temporal, confProps)
}

/** One parquet file per task, rows already (col, row)-sorted by the
  * required ordering; tiles pack to the store's native width here so
  * only packed bytes hit the disk (the Catalog.write discipline). */
private[catalog] final class GraftDataWriter(
    file: String, schema: StructType, cellType: String, temporal: Boolean,
    confProps: Map[String, String],
    renameTo: Option[String] = None) extends DataWriter[InternalRow] {

  private val conf = Catalog.confFrom(confProps)
  private val ct = CellType.fromName(cellType)
  private val isPacked = cellType != "float64"
  private val msgType = MessageTypeParser.parseMessageType(
    GraftDataSink.parquetSchema(temporal, isPacked))
  private val factory = new SimpleGroupFactory(msgType)
  private val idx = schema.fieldNames.zipWithIndex.toMap

  // OVERWRITE: batch file names carry a per-write UUID (never
  // collide); streaming names are epoch-deterministic ON PURPOSE so a
  // replayed epoch rewrites its files (exactly-once) instead of
  // failing on create
  private val writer = ExampleParquetWriter.builder(new Path(file))
    .withConf(conf).withType(msgType)
    .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
    .build()

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    g.append("col", row.getInt(idx("col")))
    g.append("row", row.getInt(idx("row")))
    if (temporal) g.append("instant", row.getLong(idx("instant")))
    val cells = row.getArray(idx("tile")).toDoubleArray()
    if (isPacked) g.append("tile", Binary.fromConstantByteArray(ct.pack(cells)))
    else {
      val list = g.addGroup("tile")
      cells.foreach(v => list.addGroup("list").append("element", v))
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    renameTo match {
      case None => GraftCommit(file)
      case Some(fin) =>
        // temp-then-rename: the coordinator admits one commit per
        // partition, so the delete+rename pair never races another
        // committer; a losing attempt's temp dies in abort()/epoch
        // reconcile instead of tearing the final file
        val tmp = new Path(file); val dst = new Path(fin)
        val fs = tmp.getFileSystem(conf)
        if (fs.exists(dst)) fs.delete(dst, false) // replayed epoch
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"rename $file -> $fin failed")
        GraftCommit(fin)
    }
  }
  override def abort(): Unit = {
    writer.close()
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, false)
  }
  override def close(): Unit = ()
}
