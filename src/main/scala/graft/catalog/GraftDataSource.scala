package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.CellType

/** Spark DataSource V2 facade over the graft tile catalog:
  *
  * {{{
  *   spark.read.format("graft")
  *     .option("path", storeUri).option("layer", "nlcd").option("zoom", "4")
  *     .load()
  *     .where($"col" >= 1 && $"col" <= 2 && $"row" === 0)
  * }}}
  *
  * yields `col INT, row INT[, instant BIGINT], tile ARRAY<DOUBLE>` —
  * the RasterLayer physical model — with the catalog's native-width
  * cell packing decoded in the reader. This is the SQL-facing twin of
  * [[Catalog.read]]/[[Catalog.query]] (reference catalog.py:117):
  * instead of a driver-side helper shaping the plan, Catalyst sees a
  * real V2 relation, so key predicates written in SQL push down
  * (`SupportsPushDownFilters`) and column pruning reaches the parquet
  * scan (`SupportsPushDownRequiredColumns`).
  *
  * Pushdown path: col/row/instant range predicates narrow a key box;
  * planning prunes whole files via parquet footer min/max statistics
  * on those columns (the [[Catalog.candidateTileFiles]] idea,
  * generalized from a point to a box — the write path's zindex sort
  * makes per-file col/row ranges tight), and each surviving file's
  * reader re-applies the box as a parquet-mr record filter, skipping
  * row groups by the same statistics. Spark re-evaluates the
  * predicates post-scan, so partially-handled filters stay correct.
  *
  * Scale shape: one InputPartition per surviving parquet file (the
  * write path sizes files via repartitionByRange, so files are the
  * natural work unit); a 100 TB store prunes to the queried extent
  * before any task launches. The session's Hadoop configuration is
  * carried to executors as plain properties, so object-store
  * credentials and endpoints survive the trip.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = GraftTable.optsFrom(options)
    if (Catalog.metadataExists(opts.uri, opts.layer)) GraftTable.schemaFor(opts)
    else GraftTable.freshSchema(options) // fresh store: the writer's shape
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(new CaseInsensitiveStringMap(properties))
}

private[catalog] object GraftTable {
  final case class Opts(uri: String, layer: String, zoom: Int)

  def optsFrom(m: CaseInsensitiveStringMap): Opts = {
    val uri = Option(m.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source needs option 'path' (store uri)"))
    val layer = Option(m.get("layer")).getOrElse(
      throw new IllegalArgumentException("graft source needs option 'layer'"))
    Opts(uri, layer, Option(m.get("zoom")).map(_.toInt).getOrElse(0))
  }

  def schemaFor(opts: Opts): StructType = {
    val meta = Catalog.readMetadata(opts.uri, opts.layer, opts.zoom)
    val keys = Seq(StructField("col", IntegerType), StructField("row", IntegerType)) ++
      (if (meta.temporal) Seq(StructField("instant", LongType)) else Nil)
    StructType(keys :+ StructField("tile", ArrayType(DoubleType)))
  }

  /** Writer-input schema for a store with no sidecar yet: the option
    * `temporal=true` declares the instant column (a fresh temporal
    * append would otherwise fail Spark's write-schema validation). */
  def freshSchema(options: CaseInsensitiveStringMap): StructType = {
    val temporal = Option(options.get("temporal")).exists(_.toBoolean)
    val keys = Seq(StructField("col", IntegerType), StructField("row", IntegerType)) ++
      (if (temporal) Seq(StructField("instant", LongType)) else Nil)
    StructType(keys :+ StructField("tile", ArrayType(DoubleType)))
  }
}

/** Key box accumulated from pushed filters; Int/Long.MinValue..MaxValue
  * when unconstrained. */
private[catalog] final case class KeyBox(
    cMin: Long = Int.MinValue, cMax: Long = Int.MaxValue,
    rMin: Long = Int.MinValue, rMax: Long = Int.MaxValue,
    tMin: Long = Long.MinValue, tMax: Long = Long.MaxValue) {

  def narrowed(name: String, lo: Long, hi: Long): KeyBox = name match {
    case "col"     => copy(cMin = math.max(cMin, lo), cMax = math.min(cMax, hi))
    case "row"     => copy(rMin = math.max(rMin, lo), rMax = math.min(rMax, hi))
    case "instant" => copy(tMin = math.max(tMin, lo), tMax = math.min(tMax, hi))
    case _         => this
  }

  def boundsFor(name: String): (Long, Long) = name match {
    case "col"     => (cMin, cMax)
    case "row"     => (rMin, rMax)
    case "instant" => (tMin, tMax)
  }
}

private[catalog] object KeyBox {
  private val keyNames = Set("col", "row", "instant")

  /** Fold a v1 filter into the box; None when the filter doesn't
    * constrain a key column (left to Spark's post-scan evaluation). */
  def apply(box: KeyBox, f: Filter): Option[KeyBox] = f match {
    case EqualTo(a, v: Number) if keyNames(a) =>
      Some(box.narrowed(a, v.longValue, v.longValue))
    case GreaterThan(a, v: Number) if keyNames(a) =>
      Some(box.narrowed(a, v.longValue + 1, Long.MaxValue))
    case GreaterThanOrEqual(a, v: Number) if keyNames(a) =>
      Some(box.narrowed(a, v.longValue, Long.MaxValue))
    case LessThan(a, v: Number) if keyNames(a) =>
      Some(box.narrowed(a, Long.MinValue, v.longValue - 1))
    case LessThanOrEqual(a, v: Number) if keyNames(a) =>
      Some(box.narrowed(a, Long.MinValue, v.longValue))
    case In(a, vs) if keyNames(a) && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      val ls = vs.map(_.asInstanceOf[Number].longValue)
      Some(box.narrowed(a, ls.min, ls.max))
    case _ => None
  }
}

private[catalog] final class GraftTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val opts = GraftTable.optsFrom(options)

  override def name(): String = s"graft:${opts.layer}@z${opts.zoom}"
  override def schema(): StructType =
    // a fresh store has no sidecar to infer from: writes carry their
    // own shape (temporal declared via the writer option)
    if (Catalog.metadataExists(opts.uri, opts.layer)) GraftTable.schemaFor(opts)
    else GraftTable.freshSchema(options)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // READ path: a missing sidecar means a nonexistent store or a
    // typoed layer name — fail loudly rather than scan an implicit
    // empty frame. (schema()'s freshSchema fallback stays for the
    // WRITE path only, where a fresh store legitimately has no
    // sidecar yet and the writer options carry the shape.)
    if (!Catalog.metadataExists(opts.uri, opts.layer))
      throw new IllegalArgumentException(
        s"graft source: no layer '${opts.layer}' at ${opts.uri} " +
          "(no metadata sidecar found — check the path/layer options)")
    new GraftScanBuilder(opts, schema())
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(opts, info)
}

private[catalog] final class GraftScanBuilder(opts: GraftTable.Opts, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var box: KeyBox = KeyBox()
  private var agg: Option[Seq[GraftAgg]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.filter { f =>
      KeyBox(box, f) match {
        case Some(b) => box = b; true
        case None    => false
      }
    }
    pushed = usable
    filters // source-side pruning is best-effort; Spark re-checks all
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(s: StructType): Unit =
    // preserve table column order whatever order Catalyst asks in
    required = StructType(full.fields.filter(f => s.fieldNames.contains(f.name)))

  /** COUNT(*) / MIN / MAX over key columns answer straight from the
    * parquet FOOTERS (block row counts + column statistics): a
    * store-wide count or key-extent probe reads zero data pages.
    * Pushed only for the whole, unfiltered zoom (row-level filters
    * would need the data; Spark only offers the pushdown when every
    * filter was fully handled, and ours re-evaluate post-scan — but
    * guard on the box anyway), with no GROUP BY. Partial-aggregate
    * contract: Spark merges what the one footer task returns. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (aggregation.groupByExpressions.nonEmpty) return false
    if (box != KeyBox()) return false
    def keyName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          Set("col", "row", "instant").contains(r.fieldNames.head) &&
          full.fieldNames.contains(r.fieldNames.head) => Some(r.fieldNames.head)
        case _ => None
      }
    val resolved = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftAgg("count", "*"))
      case m: Min       => keyName(m.column).map(GraftAgg("min", _))
      case m: Max       => keyName(m.column).map(GraftAgg("max", _))
      case _            => None
    }
    if (resolved.exists(_.isEmpty)) return false
    val wanted = resolved.flatten
    // decline min/max pushdown unless EVERY non-empty row group has
    // footer statistics for the column (stats-disabled writers): a
    // NULL partial would silently answer NULL where the row scan
    // answers the true extremum
    val statCols = wanted.collect { case GraftAgg(op, c) if op != "count" => c }.toSet
    if (statCols.nonEmpty && !footerStatsCover(statCols)) return false
    agg = Some(wanted); true
  }

  /** Planning-time footer walk: true iff every non-empty row group in
    * the zoom directory carries min/max statistics for all of `cols`.
    * Metadata-only (same footers the agg scan reads at execution). */
  private def footerStatsCover(cols: Set[String]): Boolean = {
    val conf = Catalog.confFrom(Catalog.confProps())
    val dir = new Path(s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return true // empty store: count-only row is fine
    fs.listStatus(dir).forall { st =>
      !st.getPath.getName.endsWith(".parquet") || {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getBlocks.asScala.forall { b =>
          b.getRowCount == 0 || cols.forall { c =>
            b.getColumns.asScala.exists { cc =>
              cc.getPath.toDotString == c && cc.getStatistics != null &&
                cc.getStatistics.hasNonNullValue
            }
          }
        } finally reader.close()
      }
    }
  }

  override def build(): Scan = agg match {
    case Some(as) => new GraftAggScan(opts, as)
    case None     => new GraftScan(opts, required, box)
  }
}

/** One pushed aggregate: op in {count, min, max}, key column or "*". */
private[catalog] final case class GraftAgg(op: String, column: String)

/** Footer-only scan for pushed aggregates: one task walks the zoom
  * directory's parquet footers and emits one PARTIAL row (total block
  * row count, stats min/max per key column) — no data page is ever
  * read; Spark's final aggregate merges it. */
private[catalog] final class GraftAggScan(opts: GraftTable.Opts, aggs: Seq[GraftAgg])
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(aggs.map {
      case GraftAgg("count", _)     => StructField("count", LongType)
      case GraftAgg(op, "instant")  => StructField(s"$op(instant)", LongType)
      case GraftAgg(op, c)          => StructField(s"$op($c)", IntegerType)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan layer=${opts.layer} zoom=${opts.zoom} " +
      s"aggs=${aggs.map(a => s"${a.op}(${a.column})").mkString(",")} (footer-only)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftInputPartition("footers"))

  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggReaderFactory(opts, aggs, Catalog.confProps())
}

private[catalog] final case class GraftAggReaderFactory(
    opts: GraftTable.Opts, aggs: Seq[GraftAgg],
    confProps: Map[String, String]) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (done) return false
        done = true
        row = compute()
        row != null
      }

      override def get(): InternalRow = row

      /** Always emits exactly one partial row: count = summed footer
        * row counts (0 for an empty store — a NULL partial would make
        * COUNT(*) merge to NULL, diverging from the unpushed plan's
        * 0), min/max = footer stats or NULL when a footer carries no
        * statistics for the column (stats-disabled writers) — the
        * final aggregate ignores NULL partials, matching the row-scan
        * plan instead of failing at execution. */
      private def compute(): InternalRow = {
        val conf = Catalog.confFrom(confProps)
        val dir = new Path(s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}")
        val fs = dir.getFileSystem(conf)
        var count = 0L
        val mins = scala.collection.mutable.HashMap.empty[String, Long]
        val maxs = scala.collection.mutable.HashMap.empty[String, Long]
        if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
          if (st.getPath.getName.endsWith(".parquet")) {
            val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
            try reader.getFooter.getBlocks.asScala.foreach { b =>
              count += b.getRowCount
              b.getColumns.asScala.foreach { cc =>
                val name = cc.getPath.toDotString
                val s = cc.getStatistics
                if (Set("col", "row", "instant").contains(name) &&
                    s != null && s.hasNonNullValue) {
                  (s.genericGetMin, s.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      mins(name) = math.min(mins.getOrElse(name, Long.MaxValue), mn.longValue)
                      maxs(name) = math.max(maxs.getOrElse(name, Long.MinValue), mx.longValue)
                    case _ =>
                  }
                }
              }
            } finally reader.close()
          }
        }
        val vals: Array[Any] = aggs.map {
          case GraftAgg("count", _) => count: java.lang.Long
          case GraftAgg(op, c) =>
            val m = if (op == "min") mins.get(c) else maxs.get(c)
            m.map(v => if (c == "instant") (v: java.lang.Long)
                       else (v.toInt: java.lang.Integer)).orNull
        }.toArray
        new GenericInternalRow(vals)
      }

      override def close(): Unit = ()
    }
}

private[catalog] final case class GraftInputPartition(file: String) extends InputPartition

private[catalog] final class GraftScan(opts: GraftTable.Opts, required: StructType, box: KeyBox)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(opts, required, box)
  override def description(): String =
    s"GraftScan layer=${opts.layer} zoom=${opts.zoom} box=$box columns=${required.fieldNames.mkString(",")}"

  /** One partition per parquet file surviving footer min/max pruning
    * on the key box. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = Catalog.confFrom(Catalog.confProps())
    val dir = new Path(s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val hit = reader.getFooter.getBlocks.asScala.exists(blockOverlaps)
          if (hit) Some(GraftInputPartition(st.getPath.toString)) else None
        } finally reader.close()
      }
      .toArray
  }

  private def blockOverlaps(b: BlockMetaData): Boolean = {
    def ok(name: String): Boolean = {
      val (lo, hi) = box.boundsFor(name)
      b.getColumns.asScala.find(_.getPath.toDotString == name).forall { cc =>
        val s = cc.getStatistics
        s == null || !s.hasNonNullValue || {
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: Number, mx: Number) => mx.longValue >= lo && mn.longValue <= hi
            case _                        => true // unexpected stats type: cannot prune
          }
        }
      }
    }
    ok("col") && ok("row") && (!required.fieldNames.contains("instant") || ok("instant"))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val meta = Catalog.readMetadata(opts.uri, opts.layer, opts.zoom)
    GraftReaderFactory(required, meta.cellType, box, Catalog.confProps())
  }
}

private[catalog] final case class GraftReaderFactory(
    required: StructType, cellType: String, box: KeyBox,
    confProps: Map[String, String]) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(p.asInstanceOf[GraftInputPartition].file,
      required, cellType, box, confProps)
}

/** Reads one catalog parquet file as InternalRows: parquet-mr record
  * filter from the key box (row-group skip via statistics), column
  * projection via the requested read schema, native-width tile decode.
  */
private[catalog] final class GraftPartitionReader(
    file: String, required: StructType, cellType: String, box: KeyBox,
    confProps: Map[String, String]) extends PartitionReader[InternalRow] {

  private val conf = Catalog.confFrom(confProps)
  private val ct = CellType.fromName(cellType)
  private val isPacked = cellType != "float64"

  private val reader: ParquetReader[org.apache.parquet.example.data.Group] = {
    val path = new Path(file)
    // project the file schema down to the requested columns (plus one
    // key column when everything was pruned, e.g. count(*))
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val fileSchema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    val wanted = if (required.isEmpty) Seq("col") else required.fieldNames.toSeq
    val projected = new org.apache.parquet.schema.MessageType(fileSchema.getName,
      fileSchema.getFields.asScala.filter(f => wanted.contains(f.getName)).asJava)
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projected.toString)
    val b = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf)
    predicate(required).fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
  }

  /** Key-box bounds as a parquet-mr predicate over the projected
    * columns only (a filter on a non-read column is invalid). */
  private def predicate(s: StructType): Option[FilterPredicate] = {
    def range(name: String): Seq[FilterPredicate] = {
      val (lo, hi) = box.boundsFor(name)
      val isInt = name != "instant"
      val (defLo, defHi) =
        if (isInt) (Int.MinValue.toLong, Int.MaxValue.toLong)
        else (Long.MinValue, Long.MaxValue)
      val mk: Long => FilterPredicate = if (isInt) {
        v => FilterApi.gtEq(FilterApi.intColumn(name), Int.box(v.toInt))
      } else { v => FilterApi.gtEq(FilterApi.longColumn(name), Long.box(v)) }
      val mkHi: Long => FilterPredicate = if (isInt) {
        v => FilterApi.ltEq(FilterApi.intColumn(name), Int.box(v.toInt))
      } else { v => FilterApi.ltEq(FilterApi.longColumn(name), Long.box(v)) }
      (if (lo > defLo) Seq(mk(lo)) else Nil) ++ (if (hi < defHi) Seq(mkHi(hi)) else Nil)
    }
    val names = s.fieldNames.toSet
    val ps = Seq("col", "row", "instant").filter(names.contains).flatMap(range)
    ps.reduceOption(FilterApi.and)
  }

  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = { current = reader.read(); current != null }

  override def get(): InternalRow = {
    val g = current
    val vals: Array[Any] = required.fields.map { f =>
      f.name match {
        case "col" | "row" => g.getInteger(f.name, 0)
        case "instant"     => g.getLong(f.name, 0)
        case "tile" =>
          val arr =
            if (isPacked) ct.unpack(g.getBinary("tile", 0).getBytes)
            else {
              // Spark's list encoding: tile (LIST) > repeated list > element
              val list = g.getGroup("tile", 0)
              val n = list.getFieldRepetitionCount(0)
              Array.tabulate(n)(i => list.getGroup(0, i).getDouble(0, 0))
            }
          ArrayData.toArrayData(arr)
        case other => throw new IllegalStateException(s"unexpected column $other")
      }
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}

/** Offset for the streaming catalog source: the set of tile parquet
  * file names already emitted. JSON-array serialized (names are
  * [A-Za-z0-9._-] by the writer's own naming, so no escaping is
  * needed). At a 10^6-file store the names list is a few tens of MB
  * per offset — the scale path is the FileStreamSource discipline (a
  * compacted seen-files log keyed by batch id); this source targets
  * live-ingest stores where batches are the recent tail. */
private[catalog] final case class GraftOffset(files: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.toSeq.sorted.map(f => "\"" + f + "\"").mkString("[", ",", "]")
}

private[catalog] object GraftOffset {
  def fromJson(s: String): GraftOffset = {
    val t = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (t.isEmpty) GraftOffset(Set.empty)
    else GraftOffset(t.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet)
  }
}

/** Structured Streaming source over a graft catalog zoom directory —
  * the read twin of [[graft.streaming.Events.ingestScenes]]'s live
  * ingest: `spark.readStream.format("graft").option(...)` emits each
  * newly-landed tile parquet file exactly once per micro-batch,
  * decoded through the SAME [[GraftReaderFactory]] (native-width tile
  * unpack, column projection, key-box record filter) as the batch
  * scan — batch and streaming reads cannot diverge.
  *
  * Contract: the store is APPEND-ONLY while a stream reads it (the
  * ingestScenes path). [[Catalog.compact]] rewrites data under new
  * file names and would re-emit it — run compaction only when no
  * stream is attached, exactly like running it mid-batch-query.
  *
  * Offsets are checkpoint-replayable: planInputPartitions(start, end)
  * derives the batch as the file-set difference, so recovery resumes
  * from the checkpointed offset with no source-side state. */
private[catalog] final class GraftMicroBatchStream(
    opts: GraftTable.Opts, required: StructType, box: KeyBox)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def dir = new Path(s"${opts.uri}/${opts.layer}/tiles/zoom=${opts.zoom}")

  private def listFiles(): Set[String] = {
    val fs = dir.getFileSystem(Catalog.confFrom(Catalog.confProps()))
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  // presence lock enforcing the append-only contract: Catalog.compact
  // refuses while any `_stream_reader_*.lock` exists (it would rewrite
  // already-emitted files under new names and re-emit them). Created
  // when the stream starts, removed in stop(); a crashed query leaves
  // a stale lock that compact(force = true) or a manual delete clears.
  private val lockPath = new Path(
    s"${opts.uri}/${opts.layer}/_stream_reader_${java.util.UUID.randomUUID()}.lock")
  locally {
    val fs = lockPath.getFileSystem(Catalog.confFrom(Catalog.confProps()))
    val out = fs.create(lockPath, true)
    out.write(s"started=${java.time.Instant.now()}\n".getBytes("UTF-8"))
    out.close()
  }

  override def initialOffset(): Offset = GraftOffset(Set.empty)
  override def latestOffset(): Offset = GraftOffset(listFiles())
  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = {
    val fs = lockPath.getFileSystem(Catalog.confFrom(Catalog.confProps()))
    if (fs.exists(lockPath)) fs.delete(lockPath, false)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].files
    val e = end.asInstanceOf[GraftOffset].files
    (e -- s).toSeq.sorted
      .map(name => GraftInputPartition(s"$dir/$name"): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val meta = Catalog.readMetadata(opts.uri, opts.layer, opts.zoom)
    GraftReaderFactory(required, meta.cellType, box, Catalog.confProps())
  }
}
