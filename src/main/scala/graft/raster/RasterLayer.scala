package graft.raster

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Extent, LayoutDefinition, TileLayout}

/** Layer metadata — the WHAT of the reference's
  * `Metadata`/`collect_metadata` (geopyspark/geotrellis/layer.py:858):
  * layout (extent + tile grid), cell type, nodata.
  *
  * NoData is uniformly `Double.NaN` in the physical tiles; `cellType`
  * records the logical type for convert_data_type/with_no_data
  * semantics (layer.py:747,777).
  */
final case class LayerMetadata(
    layout: LayoutDefinition,
    cellType: String = "float64",
    temporal: Boolean = false)

/** A tiled raster layer, Spark-first.
  *
  * Physical model: a DataFrame with columns
  *   `col INT, row INT[, instant BIGINT], tile ARRAY<DOUBLE>`
  * where `tile` is a row-major tileCols x tileRows cell array and NaN is
  * NoData. This is the Dataset re-expression of the reference's
  * `TiledRasterLayer` (RDD[(SpatialKey, Tile)] — layer.py:1074): tiles
  * stay the unit of distribution (no per-cell rows in the physical
  * path), map algebra runs as codegen'd higher-order array functions,
  * and keyed ops shuffle once on (col, row).
  *
  * At 100 TB: a layer is O(10^8) tile rows; every op below is either
  * per-row (no shuffle) or a single keyed shuffle that AQE can size.
  */
final class RasterLayer(val df: DataFrame, val meta: LayerMetadata) {
  import RasterLayer._

  private def tl: TileLayout = meta.layout.tileLayout
  private def tc: Int        = tl.tileCols
  private def tr: Int        = tl.tileRows

  def spark: SparkSession = df.sparkSession

  private def keyCols: Seq[String] =
    if (meta.temporal) Seq("col", "row", "instant") else Seq("col", "row")

  private def withTile(tile: Column): DataFrame =
    df.select(keyCols.map(df.col) :+ tile.as("tile"): _*)

  def copy(df: DataFrame = df, meta: LayerMetadata = meta): RasterLayer =
    new RasterLayer(df, meta)

  // ------------------------------------------------------------------
  // RDD-ish basics (reference layer.py: count/isEmpty/getNumPartitions,
  // cache/persist/repartition/partitionBy :280-670)
  // ------------------------------------------------------------------
  def count(): Long        = df.count()
  def isEmpty: Boolean     = df.isEmpty
  def numPartitions: Int   = df.rdd.getNumPartitions
  def cache(): RasterLayer = copy(df = df.cache())
  def persist(level: org.apache.spark.storage.StorageLevel): RasterLayer =
    copy(df = df.persist(level))
  def unpersist(): RasterLayer = copy(df = df.unpersist())

  /** Spatial partitioning: hash-shuffle on the tile key so downstream
    * keyed ops (merge/binary algebra/focal) reuse the exchange.
    * Reference: partitionBy + SpatialPartitionStrategy (layer.py:642). */
  def partitionByKey(n: Int): RasterLayer =
    copy(df = df.repartition(n, keyCols.map(df.col): _*))

  /** Keys present in the layer — reference collect_keys (layer.py:801). */
  def collectKeys(): DataFrame = df.select(keyCols.map(df.col): _*)

  /** Single-tile fetch — reference lookup (layer.py:1735). Stays a
    * DataFrame so the key predicate pushes into the scan. */
  def lookup(c: Int, r: Int): DataFrame =
    df.filter(col("col") === c && col("row") === r)

  // ------------------------------------------------------------------
  // Local map algebra (reference layer.py:2495-2567 __add__ etc.)
  // Per-tile `transform(...)` — narrow, codegen'd, shuffle-free.
  // ------------------------------------------------------------------
  def localMap(f: Column => Column): RasterLayer =
    copy(df = withTile(transform(col("tile"), f)))

  def +(v: Double): RasterLayer = localMap(_ + lit(v))
  def -(v: Double): RasterLayer = localMap(_ - lit(v))
  def *(v: Double): RasterLayer = localMap(_ * lit(v))
  def /(v: Double): RasterLayer = localMap(_ / lit(v))
  def **(v: Double): RasterLayer = localMap(c => pow(c, lit(v)))
  def abs_ : RasterLayer        = localMap(abs(_))

  /** localMax against a scalar (layer.py:2513). NaN-safe: NoData stays
    * NoData (greatest() would swallow NaN). */
  def localMax(v: Double): RasterLayer =
    localMap(c => when(isnan(c), c).otherwise(greatest(c, lit(v))))

  /** Binary cell-wise op between two layers with matching layouts —
    * reference __add__(layer) etc. One co-keyed shuffle join; NaN in
    * either side propagates (NoData semantics). */
  def localBinary(other: RasterLayer, f: (Column, Column) => Column): RasterLayer = {
    val a = df.select(keyCols.map(df.col) :+ col("tile").as("_ta"): _*)
    val b = other.df.select(keyCols.map(other.df.col) :+ col("tile").as("_tb"): _*)
    val joined = a.join(b, keyCols)
    copy(df = joined.select(keyCols.map(joined.col) :+
      zip_with(col("_ta"), col("_tb"), f).as("tile"): _*))
  }

  /** ArcGIS Weighted Overlay closing step: round(Σ wᵢ·layerᵢ) over
    * co-keyed tiles (inner join of all inputs; NaN propagates),
    * HALF_UP to the integer suitability scale. Callers reclassify
    * each input to the common 1..9 scale first (the ArcGIS remap
    * table); exact binary weights (0.75, 0.25, ...) keep the sum
    * bit-reproducible. */
  def weightedOverlay(weight: Double, others: (RasterLayer, Double)*): RasterLayer =
    others.foldLeft(localMap(_ * lit(weight))) {
      case (acc, (l, w)) => acc.localBinary(l, (a, b) => a + b * lit(w))
    }.localMap(round(_))

  def +(other: RasterLayer): RasterLayer = localBinary(other, _ + _)
  def -(other: RasterLayer): RasterLayer = localBinary(other, _ - _)
  def *(other: RasterLayer): RasterLayer = localBinary(other, _ * _)
  def /(other: RasterLayer): RasterLayer = localBinary(other, _ / _)
  /** layer ** layer (reference test_pow_layer). */
  def **(other: RasterLayer): RasterLayer = localBinary(other, (a, b) => pow(a, b))
  /** scalar ** layer (reference __rpow__ layer.py:2567). */
  def rpow(base: Double): RasterLayer =
    localMap(c => when(isnan(c), c).otherwise(pow(lit(base), c)))
  /** cell-wise max of two layers (reference test_max_layer). */
  def localMaxLayer(other: RasterLayer): RasterLayer =
    localBinary(other, (a, b) => when(isnan(a) || isnan(b), lit(Double.NaN)).otherwise(greatest(a, b)))

  /** Mask by QA BITMASK — the Landsat/Sentinel quality-band workflow
    * (pixel_qa / QA_PIXEL): cells whose QA band has ANY of `bits` set
    * (cloud/shadow/saturation flags) become NoData; QA-NoData always
    * masks. Same co-keyed zip_with shape as [[localMask]], integer
    * bit test per pixel. */
  def localBitMask(qa: RasterLayer, bits: Long): RasterLayer =
    localBinary(qa, (v, q) =>
      when(isnan(q) || (q.cast("long").bitwiseAND(lit(bits)) =!= 0), lit(Double.NaN))
        .otherwise(v))

  /** Local mask by RASTER (geotrellis local.Mask / InverseMask, the
    * raster sibling of the geometry mask): cells where the mask layer
    * equals `readMask` (Mask) — or does NOT equal it (InverseMask) —
    * become NoData; mask-NoData cells always mask. One co-keyed tile
    * join + zip_with, same shuffle shape as every local binary op. */
  def localMask(mask: RasterLayer, readMask: Double, inverse: Boolean = false): RasterLayer =
    localBinary(mask, (v, m) =>
      if (inverse) when(!isnan(m) && m === readMask, v).otherwise(lit(Double.NaN))
      else when(isnan(m) || m === readMask, lit(Double.NaN)).otherwise(v))

  // ------------------------------------------------------------------
  // N-ary local algebra (geotrellis.raster.mapalgebra.local Variety /
  // Majority / Minority / Mean): one full-outer co-keyed join of all
  // layers (missing tiles = all-NoData), then per-position stats as
  // codegen'd array expressions — no per-cell shuffle, the join is the
  // only exchange. The per-position valid-values arrays are built ONCE
  // into an intermediate column (HOF lambdas have no CSE — the
  // q_repetition lesson) before any stat consumes them.
  // ------------------------------------------------------------------

  /** keys + `vt: ARRAY<ARRAY<DOUBLE>>` — per cell position, the
    * non-NoData values across `this +: others` in layer order. */
  private def nAryValsDf(others: Seq[RasterLayer]): DataFrame = {
    val all = this +: others
    val n = all.size
    val renamed = all.zipWithIndex.map { case (l, i) =>
      l.df.select(keyCols.map(l.df.col) :+ col("tile").as(s"_t$i"): _*) }
    val joined = renamed.reduce((a, b) => a.join(b, keyCols, "full_outer"))
    val ts = array((0 until n).map(i => col(s"_t$i")): _*)
    val base = coalesce((0 until n).map(i => col(s"_t$i")): _*)
    joined.select(keyCols.map(col) :+
      transform(base, (_, i) =>
        filter(transform(ts, t => element_at(t, i + lit(1))),
          v => v.isNotNull && !isnan(v))).as("vt"): _*)
  }

  private def nAryLayer(others: Seq[RasterLayer], f: Column => Column): RasterLayer = {
    val vdf = nAryValsDf(others)
    val tile = transform(col("vt"), vals =>
      when(size(vals) > 0, f(vals)).otherwise(lit(Double.NaN)))
    copy(df = vdf.select(keyCols.map(vdf.col) :+ tile.as("tile"): _*))
  }

  /** Smallest value holding the max (most=true) / min count — the
    * deterministic Majority/Minority tie-break (geotrellis leaves ties
    * unspecified; we pin the smallest value). */
  private def extremeByCount(vals: Column, most: Boolean): Column = {
    val cnts = transform(vals, v => size(filter(vals, w => w === v)))
    val target = if (most) array_max(cnts) else array_min(cnts)
    array_min(zip_with(vals, cnts, (v, c) => when(c === target, v)))
  }

  /** Cell-wise count of distinct non-NoData values across layers
    * (geotrellis local Variety). All-NoData cells stay NoData. */
  def localVariety(others: Seq[RasterLayer]): RasterLayer =
    nAryLayer(others, vals => size(array_distinct(vals)).cast("double"))

  /** Cell-wise most frequent value across layers (local Majority). */
  def localMajority(others: Seq[RasterLayer]): RasterLayer =
    nAryLayer(others, extremeByCount(_, most = true))

  /** Cell-wise least frequent value across layers (local Minority). */
  def localMinority(others: Seq[RasterLayer]): RasterLayer =
    nAryLayer(others, extremeByCount(_, most = false))

  /** Cell-wise mean over the non-NoData layers (local Mean). */
  def localMeanLayer(others: Seq[RasterLayer]): RasterLayer =
    nAryLayer(others, vals => aggregate(vals, lit(0.0), _ + _) / size(vals))

  /** All four N-ary stats at once as cells — the oracle surface:
    * (x, y, variety, majority, minority, mean5). `mean5` is exact for
    * integral-valued layers (integer sum, one IEEE division) and
    * rounded to 5 places on both sides. */
  def localStats(others: Seq[RasterLayer]): DataFrame = {
    val vdf = nAryValsDf(others)
    val cells = vdf
      .select(keyCols.map(vdf.col) :+ posexplode(col("vt")).as(Seq("off", "vals")): _*)
      .where(size(col("vals")) > 0)
      .withColumn("x", col("col").cast("long") * tc + col("off") % tc)
      .withColumn("y", col("row").cast("long") * tr + floor(col("off") / tc).cast("long"))
      .withColumn("cnts", transform(col("vals"), v => size(filter(col("vals"), w => w === v))))
      .withColumn("mx", array_max(col("cnts")))
      .withColumn("mn", array_min(col("cnts")))
    cells.select(col("x"), col("y"),
      size(array_distinct(col("vals"))).cast("long").as("variety"),
      array_min(zip_with(col("vals"), col("cnts"), (v, c) => when(c === col("mx"), v))).as("majority"),
      array_min(zip_with(col("vals"), col("cnts"), (v, c) => when(c === col("mn"), v))).as("minority"),
      round(aggregate(col("vals"), lit(0.0), _ + _) / size(col("vals"))
        * lit(100000.0)).cast("long").as("mean_u"))
  }

  /** map_tiles / map_cells parity (layer.py:700,721): localMap IS the
    * cell-function map; tile-function maps take Column->Column over
    * the whole array. */
  def mapCells(f: Column => Column): RasterLayer = localMap(f)
  def mapTiles(f: Column => Column): RasterLayer = copy(df = withTile(f(col("tile"))))

  /** Reclassify by break points — reference reclassify
    * (layer.py:955,2106) with ClassificationStrategy. Breaks broadcast
    * as a literal CASE chain (codegen'd, no join). */
  def reclassify(breaks: Seq[(Double, Double)], strategy: String = "LessThanOrEqualTo",
                 replaceNoData: Option[Double] = None): RasterLayer = {
    def classify(c: Column): Column = {
      val base: Column = replaceNoData.map(v => lit(v)).getOrElse(lit(Double.NaN))
      val cmp: (Column, Double) => Column = strategy match {
        case "LessThanOrEqualTo"    => (x, b) => x <= b
        case "LessThan"             => (x, b) => x < b
        case "GreaterThanOrEqualTo" => (x, b) => x >= b
        case "GreaterThan"          => (x, b) => x > b
        case "Exact"                => (x, b) => x === b
        case s                      => throw new IllegalArgumentException(s)
      }
      // GreaterThan* strategies match the highest break first.
      val ordered =
        if (strategy.startsWith("Greater")) breaks.sortBy(-_._1) else breaks.sortBy(_._1)
      // CASE chain: first matching break (in strategy order) wins
      ordered.reverse.foldLeft(base) { case (elseC, (b, out)) =>
        when(cmp(c, b), lit(out)).otherwise(elseC)
      }
    }
    localMap(c => when(isnan(c), lit(Double.NaN)).otherwise(classify(c)))
  }

  /** Rescale cell values to [newMin, newMax] — reference normalize
    * (layer.py:2152). Old min/max computed layer-wide when absent
    * (tiny 2-value broadcast, not a collect of data rows). */
  def normalize(newMin: Double, newMax: Double,
                oldMinMax: Option[(Double, Double)] = None): RasterLayer = {
    // r20: when the min/max probe must run, pin the tiles first — the
    // probe and every downstream consumer of the remapped layer
    // otherwise re-execute the whole upstream build (2 passes -> 1)
    val base =
      if (oldMinMax.isDefined) this
      else copy(df = df.localCheckpoint())
    val (omin, omax) = oldMinMax.getOrElse(base.minMax())
    if (omax > omin)
      base.localMap(c => (c - lit(omin)) / lit(omax - omin) * lit(newMax - newMin) + lit(newMin))
    else
      // degenerate constant grid: (c - omin) / 0 would be NaN
      // everywhere (silently NoData-ing the layer); pin to newMin
      base.localMap(c => when(isnan(c), c).otherwise(lit(newMin)))
  }

  /** Z-score standardization — the ML-preprocessing sibling of
    * [[normalize]]: (v − μ)/σ with the sample std (n−1). Moments are
    * collected driver-side as EXACT Long sums over the integral cells
    * (one tiny aggregate) and folded into the per-cell expression
    * with a pinned op order — μ = S/n and σ² = (SS − S·S/n)/(n−1)
    * stated identically in the oracle. Degenerate σ = 0 pins to 0. */
  def standardize(): RasterLayer = {
    import org.apache.spark.sql.functions.{count => fcount, sum => fsum}
    // r20: pin the tiles — the moment probe and the remapped layer's
    // consumer re-executed the whole upstream build separately before
    val base = copy(df = df.localCheckpoint())
    val m = base.toCells.agg(
      fcount(lit(1)).cast("long").as("n"),
      fsum(col("v").cast("long")).cast("long").as("s"),
      fsum(col("v").cast("long") * col("v").cast("long")).cast("long").as("ss")).first()
    val n = m.getLong(0); val s = m.getLong(1); val ss = m.getLong(2)
    require(n > 1, "standardize needs at least two cells")
    val mu = s.toDouble / n
    val sigma = math.sqrt((ss.toDouble - s.toDouble * s / n) / (n - 1))
    if (sigma > 0) base.localMap(c => (c - lit(mu)) / lit(sigma))
    else base.localMap(c => when(isnan(c), c).otherwise(lit(0.0)))
  }

  /** Cells equal to `v` become NoData — reference with_no_data
    * (layer.py:777). */
  def withNoData(v: Double): RasterLayer =
    localMap(c => when(c === lit(v), lit(Double.NaN)).otherwise(c))

  /** Cast cell values to a native type's domain — reference
    * convert_data_type (layer.py:747). Integers truncate toward zero
    * then CLAMP to the type's packable range (so the metadata honestly
    * describes the cells and the catalog's packed encoding is
    * lossless); float32 rounds through single precision; NaN survives
    * as NoData. The width takes physical effect at the catalog store
    * ([[graft.catalog.Catalog.write]] packs native-width binary).
    * `bit` clamps to 0/1 and — like GeoTrellis `bool` — has NO NoData
    * at the store: in-memory NaN cells pack to 0 on write. Pass
    * `bitSemantics = BitSemantics.MaskLowBit` for bug-for-bug
    * GeoTrellis BitArrayTile parity (`value & 1`: 2 -> 0, -1 -> 1)
    * instead of the default saturating clamp — see
    * [[graft.core.BitSemantics]] and the README migration notes. */
  def convertCellType(newType: String,
                      bitSemantics: graft.core.BitSemantics.Mode =
                        graft.core.BitSemantics.Clamp): RasterLayer = {
    val ct = graft.core.CellType.fromName(newType)
    val converted =
      if (ct.name == "float64") this
      else if (ct.name == "float32")
        localMap(c => c.cast("float").cast("double"))
      else if (ct.name == "bit" && bitSemantics == graft.core.BitSemantics.MaskLowBit)
        localMap(c => when(isnan(c), c).otherwise(
          c.cast("long").bitwiseAND(lit(1L)).cast("double")))
      else
        localMap(c => when(isnan(c), c).otherwise(
          least(greatest(c.cast("long").cast("double"), lit(ct.lo)), lit(ct.hi))))
    converted.copy(meta = meta.copy(cellType = ct.name))
  }

  // ------------------------------------------------------------------
  // Multi-layer ops
  // ------------------------------------------------------------------
  /** Concatenate layers (duplicate keys allowed) — reference union
    * (union.py:9). Pure union, no shuffle. */
  def union(other: RasterLayer): RasterLayer = copy(df = df.unionByName(other.df))

  /** Stack two layers into a 2-band layer — reference combine_bands
    * (combine_bands.py:9). Full-outer keyed join; a missing tile on
    * either side becomes an all-NoData band. Result df: col, row,
    * bands ARRAY<ARRAY<DOUBLE>>. */
  def combineBands(other: RasterLayer): DataFrame = {
    val nodataTile = array_repeat(lit(Double.NaN), tl.tileSize)
    val a = df.select(col("col"), col("row"), col("tile").as("_ba"))
    val b = other.df.select(col("col"), col("row"), col("tile").as("_bb"))
    a.join(b, Seq("col", "row"), "full_outer")
      .select(col("col"), col("row"),
        array(coalesce(col("_ba"), nodataTile), coalesce(col("_bb"), nodataTile)).as("bands"))
  }

  /** Flatten a 2-band stack to (x, y, b0, b1) rows (NoData -> NULL),
    * dropping all-NoData cells. */
  def combineBandsCells(other: RasterLayer): DataFrame = {
    val bands = combineBands(other)
    def v(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)
    bands
      .select(col("col"), col("row"),
        posexplode(zip_with(element_at(col("bands"), 1), element_at(col("bands"), 2),
          (x, y) => struct(x.as("b0"), y.as("b1")))).as(Seq("off", "p")))
      .where(!isnan(col("p.b0")) || !isnan(col("p.b1")))
      .select(
        (col("col").cast("long") * tc + col("off") % tc).as("x"),
        (col("row").cast("long") * tr + floor(col("off") / tc).cast("long")).as("y"),
        v(col("p.b0")).as("b0"), v(col("p.b1")).as("b1"))
  }

  /** Collapse duplicate keys with a cell-wise aggregation — reference
    * merge (layer.py:818) / aggregate_by_cell (layer.py:1500).
    * One keyed shuffle; cell-wise combine via zip_with in a reduce-style
    * aggregation (map-side partial applies per partition). */
  def aggregateByCell(op: String): RasterLayer = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    val agg = op match {
      case "Mean" | "Variance" | "StandardDeviation" =>
        udaf(new TileMomentsAgg(tl.tileSize, op), enc)
      case _ => udaf(new TileReduceAgg(tl.tileSize, CellOp.of(op)), enc)
    }
    val reduced = df.groupBy(keyCols.map(df.col): _*)
      .agg(agg(col("tile")).as("tile"))
    copy(df = reduced)
  }

  private def mergeOrdered(withOrd: DataFrame): RasterLayer = {
    val agg = udaf(new TileFirstAgg(tl.tileSize),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Seq[Double])]())
    val reduced = withOrd.groupBy(keyCols.map(withOrd.col): _*)
      .agg(agg(col("_ord"), col("tile")).as("tile"))
    copy(df = reduced)
  }

  /** Merge `other` into this layer — reference layer.py:818-830: per
    * cell, this layer's value is retained unless it is NoData, in
    * which case `other`'s value fills it (first non-NoData in argument
    * order wins — NOT Max). One keyed shuffle through TileFirstAgg. */
  def merge(other: RasterLayer): RasterLayer = {
    require(meta.layout == other.meta.layout, "layouts differ")
    require(meta.temporal == other.meta.temporal,
      "temporal flags differ: merging a temporal layer into a spatial one would drop its instant column")
    val a = df.select(keyCols.map(df.col) ++ Seq(lit(0).as("_ord"), df("tile")): _*)
    val b = other.df.select(keyCols.map(other.df.col) ++
      Seq(lit(1).as("_ord"), other.df("tile")): _*)
    mergeOrdered(a.unionByName(b))
  }

  /** Collapse duplicate keys within this layer by the same replacement
    * rule (a cell is replaced only while NoData). Duplicate-key tile
    * order is the fold order, matching the reference's unordered RDD
    * fold (layer.py:818 merge()) — which means the result is
    * NON-deterministic when duplicate-key tiles disagree on a cell
    * (both engines pick "whichever arrived first"); don't build
    * hash-matched oracles on conflicting self-merges. */
  def merge(): RasterLayer = mergeOrdered(df.withColumn("_ord", lit(0)))

  // ------------------------------------------------------------------
  // SpaceTime (reference to_spatial_layer / filter_by_times
  // layer.py:608,1007)
  // ------------------------------------------------------------------
  /** Keep tiles whose instant falls in any [from, to] interval. Pure
    * filter — pushes to scan. */
  def filterByTimes(intervals: Seq[(Long, Long)]): RasterLayer = {
    require(meta.temporal, "filterByTimes on spatial-only layer")
    val pred = intervals.map { case (a, b) =>
      col("instant") >= a && col("instant") <= b
    }.reduce(_ || _)
    copy(df = df.filter(pred))
  }

  /** Coarsen the time resolution: floor each instant to a `bucket`
    * boundary and collapse the duplicates per (key, bucket) cell-wise
    * — the reference's time-resolution re-partitioning
    * (__init__.py:645 partition strategies with time_resolution).
    * One keyed shuffle through the usual tile aggregators. */
  def aggregateByTime(bucket: Long, op: String = "Max"): RasterLayer = {
    require(meta.temporal, "aggregateByTime on spatial-only layer")
    require(bucket > 0, "bucket must be positive")
    copy(df = df.withColumn("instant", expr(s"(instant div $bucket) * $bucket")))
      .aggregateByCell(op)
  }

  /** Per-cell linear TREND across the layer's instants (least-squares
    * slope of v over t) — the change-detection composite. One keyed
    * shuffle through [[TileTrendAgg]] (five exact per-cell moments,
    * map-side combine); cells with < 2 instants or zero time variance
    * emit NoData. Returns a SPATIAL layer of slopes. */
  def temporalTrend(): RasterLayer = {
    require(meta.temporal, "temporalTrend on spatial-only layer")
    val agg = udaf(new TileTrendAgg(tl.tileSize),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Double])]())
    val reduced = df.groupBy(col("col"), col("row"))
      .agg(agg(col("instant"), col("tile")).as("tile"))
    copy(df = reduced, meta = meta.copy(temporal = false))
  }

  /** Per-cell change detection: tile(t) − tile(t−1) for every
    * unit-stride instant pair present in the layer (the standard
    * image-differencing step of a change-detection composite;
    * [[temporalTrend]] is its regression sibling). Instants without a
    * t−1 snapshot emit nothing; a cell NoData on either side stays
    * NoData ([[Resample.resampleTime]] first for non-unit strides).
    *
    * Scale shape: one self-equi-join on (col, row, instant) — tiles
    * stay the unit of work, per-cell math is a codegen'd zip_with,
    * and the join is the honest minimum (consecutive snapshots must
    * meet somewhere). */
  def temporalDelta(): RasterLayer = {
    require(meta.temporal, "temporalDelta on spatial-only layer")
    val prev = df.select(col("col"), col("row"),
      (col("instant") + 1).as("instant"), col("tile").as("prev"))
    copy(df = df.join(prev, Seq("col", "row", "instant"))
      .select(col("col"), col("row"), col("instant"),
        zip_with(col("tile"), col("prev"), (x, p) => x - p).as("tile")))
  }

  /** Per-cell temporal MAX composite plus the instant achieving it
    * (ties -> smallest instant) — the "greenest pixel + day of peak"
    * composite. One keyed shuffle through [[TileArgmaxAgg]]; the
    * packed result is checkpointed so the two layer views share the
    * aggregation. Returns (max layer, arg-instant layer), both
    * spatial. */
  def temporalArgmax(): (RasterLayer, RasterLayer) = {
    require(meta.temporal, "temporalArgmax on spatial-only layer")
    val n = tl.tileSize
    val agg = udaf(new TileArgmaxAgg(n),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Double])]())
    val packed = df.groupBy(col("col"), col("row"))
      .agg(agg(col("instant"), col("tile")).as("packed"))
      .localCheckpoint()
    val m = meta.copy(temporal = false)
    (copy(df = packed.select(col("col"), col("row"),
        slice(col("packed"), 1, n).as("tile")), meta = m),
     copy(df = packed.select(col("col"), col("row"),
        slice(col("packed"), n + 1, n).as("tile")), meta = m))
  }

  /** Per-cell harmonic (seasonal) regression sums: (count layer,
    * Σ qcos·v layer, Σ qsin·v layer) with qcos/qsin the
    * micro-quantized weights round(cos|sin(2πt/period)·10⁶) — the
    * phenology-model fitting composite (see [[TileHarmonicAgg]]).
    * One keyed shuffle; the packed result is checkpointed so the
    * three layer views share the aggregation. */
  def temporalHarmonic(period: Double): (RasterLayer, RasterLayer, RasterLayer) = {
    require(meta.temporal, "temporalHarmonic on spatial-only layer")
    require(period > 0, "period must be positive")
    val n = tl.tileSize
    val agg = udaf(new TileHarmonicAgg(n, period),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Double])]())
    val packed = df.groupBy(col("col"), col("row"))
      .agg(agg(col("instant"), col("tile")).as("packed"))
      .localCheckpoint()
    val m = meta.copy(temporal = false)
    (copy(df = packed.select(col("col"), col("row"),
        slice(col("packed"), 1, n).as("tile")), meta = m),
     copy(df = packed.select(col("col"), col("row"),
        slice(col("packed"), n + 1, n).as("tile")), meta = m),
     copy(df = packed.select(col("col"), col("row"),
        slice(col("packed"), 2 * n + 1, n).as("tile")), meta = m))
  }

  /** Drop the time dimension, aggregating duplicate spatial keys. */
  def toSpatialLayer(op: String = "Max"): RasterLayer = {
    require(meta.temporal)
    val spatial = copy(df = df.select(col("col"), col("row"), col("tile")),
                       meta = meta.copy(temporal = false))
    spatial.aggregateByCell(op)
  }

  // ------------------------------------------------------------------
  // Layer-wide statistics (reference get_min_max layer.py:223,
  // get_histogram :209, get_quantile_breaks :233)
  // ------------------------------------------------------------------
  /** Per-tile partial min/max then a tiny global combine — no data
    * leaves the executors except 2 doubles per tile. */
  def minMax(): (Double, Double) = {
    val st = org.apache.spark.sql.graft.TileStatsExpr.tileStats(col("tile"))
    def nanNull(c: Column) = when(isnan(c), lit(null)).otherwise(c)
    val row = df.select(st.as("st"))
      .select(min(nanNull(col("st.vmin"))).as("mn"), max(nanNull(col("st.vmax"))).as("mx"))
      .head()
    (row.getDouble(0), row.getDouble(1))
  }

  // ------------------------------------------------------------------
  // Focal / terrain (reference layer.py:1866 focal, :1941 slope,
  // hillshade.py; implementation in Focal.scala — halo exchange)
  // ------------------------------------------------------------------
  def focal(nb: Neighborhood, op: FocalOp): RasterLayer = Focal.focal(this, nb, op)
  def focal(nb: Neighborhood, op: String): RasterLayer = Focal.focal(this, nb, FocalOp.of(op))
  /** Fused chain of focal steps: ONE halo exchange instead of one per
    * step, bit-identical to applying them sequentially. */
  def focalChain(steps: (Neighborhood, String)*): RasterLayer =
    Focal.focalChain(this, steps)
  def focalConvolve(kernel: Array[Double], r: Int): RasterLayer = Focal.convolve(this, kernel, r)
  def slope(zFactor: Double = 1.0,
            zFactorCalc: Option[Double => Double] = None): RasterLayer =
    Focal.terrain(this, "slope", zFactor, zFactorCalc = zFactorCalc)
  def aspect(): RasterLayer                         = Focal.terrain(this, "aspect")
  /** Exact 45°-octant aspect class (0..7, flat -> 0): sign/magnitude
    * comparisons on the rational gradient, no libm in the bin. */
  def aspectOctant(): RasterLayer                   = Focal.terrain(this, "aspect_octant")
  def hillshade(azimuth: Double = 315.0, altitude: Double = 45.0, zFactor: Double = 1.0,
                zFactorCalc: Option[Double => Double] = None): RasterLayer =
    Focal.terrain(this, "hillshade", zFactor, azimuth, altitude, zFactorCalc)
  def tobler(): RasterLayer                         = Focal.terrain(this, "tobler")
  /** McCune & Keon 2002 heat-load index (ln form, folded aspect about
    * SW); latitude from the tile-center (ZFactorCalculator convention).
    * The layer must be on a degrees layout. */
  def heatLoad(): RasterLayer                       = Focal.terrain(this, "heat_load")
  /** Terrain ruggedness index (Riley et al. 1999). */
  def tri(): RasterLayer                            = Focal.terrain(this, "tri")
  /** Topographic position index: center minus 8-neighbor mean. */
  def tpi(): RasterLayer                            = Focal.terrain(this, "tpi")
  /** 3x3 window range (gdaldem roughness convention). */
  def roughness(): RasterLayer                      = Focal.terrain(this, "roughness")
  /** D-infinity flow direction (Tarboton 1997): steepest-descent
    * angle over 8 triangular facets, radians CCW from east, NaN (and
    * hence dropped from cells) where no downslope facet exists. */
  def flowDirectionDinf(): RasterLayer             = Focal.terrain(this, "dinf")
  /** ArcGIS MajorityFilter: strict-majority neighborhood smoothing
    * (keeps the center unless the 8 present neighbors agree by a
    * strict majority; ties -> smallest). */
  def majorityFilter(): RasterLayer                 = Focal.terrain(this, "majority_filter")
  /** ArcGIS Expand: grow the listed zone classes by r cells (list
    * order = zone priority). */
  def expand(classes: Seq[Double], r: Int = 1): RasterLayer =
    Morphology.expand(this, classes, r)
  /** ArcGIS Shrink: contract zone `cls` by r cells (boundary cells
    * take the neighborhood mode of the other classes). */
  def shrink(cls: Double, r: Int = 1): RasterLayer = Morphology.shrink(this, cls, r)
  /** ArcGIS Nibble (bounded radius): replace cells matching `masked`
    * with the nearest non-masked value within r cells. */
  def nibble(masked: Double => Boolean, r: Int = 8): RasterLayer =
    Morphology.nibble(this, masked, r)
  /** Geomorphon 10-landform classification (Jasiewicz & Stepinski
    * 2013; exact-integer ternary patterns, radius-4 halo). */
  def geomorphon(t12: Long = 12): RasterLayer       = Geomorphon(this, t12)
  /** Topographic openness (Yokoyama 2002), positive or negative. */
  def openness(positive: Boolean = true): RasterLayer =
    Geomorphon.openness(this, positive)
  /** Zevenbergen-Thorne general curvature (ArcGIS *100 convention). */
  def curvature(): RasterLayer                      = Focal.terrain(this, "curvature")
  /** Profile curvature (in the slope direction; ZT 1987, *100). */
  def curvatureProfile(): RasterLayer               = Focal.terrain(this, "curvature_profile")
  /** Plan curvature (normal to the slope direction; ZT 1987, *100). */
  def curvaturePlan(): RasterLayer                  = Focal.terrain(this, "curvature_plan")
  /** Multidirectional hillshade (Mark 1992; gdaldem -multidirectional). */
  def hillshadeMultidirectional(altitude: Double = 45.0): RasterLayer =
    Focal.terrain(this, "hillshade_md", altitude = altitude)

  /** Flatten to one row per data cell (x, y, v). Verification /
    * boundary-export path only — never used tile-to-tile. */
  def toCells: DataFrame = RasterLayer.tilesToCells(df, tc, tr, meta.temporal)

  /** Export as a self-describing RasterFrames-style tile DataFrame
    * (reference layer.py:1248 `to_rasterframe`): the public
    * RasterFrames column convention —
    *   `spatial_key STRUCT<col INT, row INT>`
    *   [`temporal_key BIGINT`]                 (temporal layers)
    *   `extent STRUCT<xmin,ymin,xmax,ymax DOUBLE>`  (per-tile, y-down)
    *   `tile_cols INT, tile_rows INT, cell_type STRING`
    *   `tile ARRAY<DOUBLE>`                    (row-major, NaN NoData)
    * Tile dims + per-tile extents make the frame reconstructable
    * without side-band metadata (see [[RasterLayer.fromTileDataFrame]]).
    * Pure per-row projection — no shuffle, stays in codegen. */
  def toTileDataFrame: DataFrame = {
    val l  = meta.layout
    val tw = l.cellWidth * tc  // tile world width
    val th = l.cellHeight * tr
    val key = struct(col("col").cast("int").as("col"),
                     col("row").cast("int").as("row")).as("spatial_key")
    val ext = struct(
      (lit(l.extent.xmin) + col("col") * tw).as("xmin"),
      (lit(l.extent.ymax) - (col("row") + 1) * th).as("ymin"),
      (lit(l.extent.xmin) + (col("col") + 1) * tw).as("xmax"),
      (lit(l.extent.ymax) - col("row") * th).as("ymax")).as("extent")
    val cols = Seq(key) ++
      (if (meta.temporal) Seq(col("instant").as("temporal_key")) else Nil) ++
      Seq(ext, lit(tc).as("tile_cols"), lit(tr).as("tile_rows"),
          lit(meta.cellType).as("cell_type"), col("tile"))
    df.select(cols: _*)
  }

  /** Re-tile to a new layout over the SAME extent and cell size
    * (reference tile_to_layout between layouts, layer.py:900).
    *
    * Integer-ratio layouts stay TILE-LEVEL: splitting a tile into
    * k^2 subtiles is a narrow flatMap — NO shuffle at all — and
    * assembling k^2 tiles into one shuffles whole tiles on the new
    * key instead of exploding to per-cell rows (the per-cell
    * posexplode + rebuild burned ~2x CPU and a cell-granular
    * exchange). Non-integer ratios fall back to the cells path,
    * which handles any alignment. All-NoData subtiles are dropped on
    * split, matching what a cells-path rebuild produces. */
  def retile(newLayout: LayoutDefinition): RasterLayer = {
    require(newLayout.extent == meta.layout.extent,
      "retile keeps the extent (use reproject/crop to change it)")
    require(newLayout.cellWidth == meta.layout.cellWidth &&
      newLayout.cellHeight == meta.layout.cellHeight,
      "retile keeps the cell size (use resample to change it)")
    val ntc = newLayout.tileLayout.tileCols
    val ntr = newLayout.tileLayout.tileRows
    val outMeta = meta.copy(layout = newLayout)
    val (oldTc, oldTr) = (tc, tr)
    if (tc == ntc && tr == ntr) this
    else if (tc % ntc == 0 && tr % ntr == 0) {
      // split: every input tile yields kx*ky smaller tiles, narrow
      val kx = tc / ntc; val ky = tr / ntr
      def split(c: Int, r: Int, t: Long, tile: Array[Double]): Seq[(Int, Int, Long, Array[Double])] =
        for { sr <- 0 until ky; sc <- 0 until kx
              sub = {
                val a = new Array[Double](ntc * ntr)
                var j = 0
                while (j < ntr) {
                  var i = 0
                  while (i < ntc) {
                    a(j * ntc + i) = tile((sr * ntr + j) * oldTc + (sc * ntc + i))
                    i += 1
                  }
                  j += 1
                }
                a
              }
              if sub.exists(v => !v.isNaN) } yield
          (c * kx + sc, r * ky + sr, t, sub)
      val sess = spark
      import sess.implicits._
      TileExchange.layerOf(TileExchange.keyed(this).flatMap { case (c, r, t, tile) =>
        split(c, r, t, tile)
      }, outMeta)
    } else if (ntc % tc == 0 && ntr % tr == 0) {
      // assemble: kx*ky input tiles build one output tile in the one
      // TileExchange shuffle, which carries whole tiles keyed by the
      // new (col, row)
      val kx = ntc / tc; val ky = ntr / tr
      TileExchange.regrid(this, outMeta) { (c, r, tile) =>
        Iterator((c / kx, r / ky, TileExchange.Piece(c % kx * oldTc, r % ky * oldTr, oldTc, tile)))
      } { (_, _, pieces) => TileExchange.paint(ntc, ntr, pieces) }
    } else if (meta.temporal)
      RasterLayer.fromCellsTemporal(toCells, newLayout, CellOp.Last)
    else
      RasterLayer.fromCells(toCells, newLayout, CellOp.Last)
  }
}

object RasterLayer {
  /** Assemble a tiled layer from a cell DataFrame `(x LONG, y LONG,
    * v DOUBLE)` with unique (x, y). The dense tile array is built with
    * map_from_entries + a sequence-transform lookup — fully codegen'd,
    * single keyed shuffle (the groupBy). Reference: tile_to_layout
    * (layer.py:900). */
  def fromCells(cells: DataFrame, layout: LayoutDefinition, op: CellOp = CellOp.Sum): RasterLayer = {
    val tl = layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val keyed = cells.select(
      (col("x") / tc).cast("int").as("col"),
      (col("y") / tr).cast("int").as("row"),
      ((col("y") % tr) * tc + (col("x") % tc)).cast("int").as("off"),
      col("v").cast("double").as("v"))
    val agg = udaf(new TileBuildAgg(tl.tileSize, op),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Double)]())
    val df = keyed.groupBy("col", "row")
      .agg(agg(col("off"), col("v")).as("tile"))
    new RasterLayer(df, LayerMetadata(layout))
  }

  /** Fused TWIN build (r20 optimization round): assemble two layers
    * over the SAME grid keys from one cell DataFrame `(x, y, va, vb)`
    * in ONE scan + ONE keyed shuffle — the groupBy carries both tile
    * aggregates (guide §2.4: two operations keyed the same way share
    * one exchange). The pinned result feeds both layers, so a
    * downstream tile join on (col, row) reads co-partitioned input
    * instead of re-executing two separate builds. Values are identical
    * to building each layer with [[fromCells]] separately. */
  def fromCellsDual(cells: DataFrame, layout: LayoutDefinition,
                    opA: CellOp, opB: CellOp): (RasterLayer, RasterLayer) = {
    val tl = layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val keyed = cells.select(
      (col("x") / tc).cast("int").as("col"),
      (col("y") / tr).cast("int").as("row"),
      ((col("y") % tr) * tc + (col("x") % tc)).cast("int").as("off"),
      col("va").cast("double").as("va"),
      col("vb").cast("double").as("vb"))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Double)]()
    val aggA = udaf(new TileBuildAgg(tl.tileSize, opA), enc)
    val aggB = udaf(new TileBuildAgg(tl.tileSize, opB), enc)
    val df = keyed.groupBy("col", "row")
      .agg(aggA(col("off"), col("va")).as("tile"),
           aggB(col("off"), col("vb")).as("btile"))
      .localCheckpoint()
    (new RasterLayer(df.select(col("col"), col("row"), col("tile")), LayerMetadata(layout)),
     new RasterLayer(df.select(col("col"), col("row"), col("btile").as("tile")), LayerMetadata(layout)))
  }

  /** Temporal variant: cells `(x, y, instant, v)`. */
  def fromCellsTemporal(cells: DataFrame, layout: LayoutDefinition, op: CellOp = CellOp.Sum): RasterLayer = {
    val tl = layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val keyed = cells.select(
      (col("x") / tc).cast("int").as("col"),
      (col("y") / tr).cast("int").as("row"),
      col("instant").cast("long").as("instant"),
      ((col("y") % tr) * tc + (col("x") % tc)).cast("int").as("off"),
      col("v").cast("double").as("v"))
    val agg = udaf(new TileBuildAgg(tl.tileSize, op),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Double)]())
    val df = keyed.groupBy("col", "row", "instant")
      .agg(agg(col("off"), col("v")).as("tile"))
    new RasterLayer(df, LayerMetadata(layout, temporal = true))
  }

  /** Re-ingest a RasterFrames-style tile DataFrame produced by
    * [[RasterLayer.toTileDataFrame]] (or any frame matching that
    * schema — reference layer.py:1282 `from_rasterframe`) under an
    * EXPLICIT layout: a pure column projection, no shuffle, no action.
    * `temporal_key` presence decides the spacetime flag. */
  def fromTileDataFrame(df: DataFrame, layout: LayoutDefinition,
                        cellType: String = "float64"): RasterLayer = {
    val temporal = df.columns.contains("temporal_key")
    val cols = Seq(col("spatial_key.col").as("col"),
                   col("spatial_key.row").as("row")) ++
      (if (temporal) Seq(col("temporal_key").as("instant")) else Nil) :+
      col("tile")
    new RasterLayer(df.select(cols: _*), LayerMetadata(layout, cellType, temporal))
  }

  /** Self-describing variant: derives the layout from the frame's own
    * `extent`/`tile_cols`/`tile_rows` columns with ONE tiny driver
    * aggregate (8 scalars). The world extent is the bounding box of
    * the PRESENT tiles — for a layer sparse at its boundary, pass the
    * layout explicitly via the other overload instead. */
  def fromTileDataFrame(df: DataFrame): RasterLayer = {
    val r = df.agg(
      min(col("extent.xmin")), min(col("extent.ymin")),
      max(col("extent.xmax")), max(col("extent.ymax")),
      first(col("extent.xmax") - col("extent.xmin")),
      first(col("extent.ymax") - col("extent.ymin")),
      first(col("tile_cols")), first(col("tile_rows")),
      first(col("cell_type"))).first()
    require(!r.isNullAt(0), "fromTileDataFrame: empty frame — pass an explicit layout")
    val (xmin, ymin, xmax, ymax) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val (tw, th) = (r.getDouble(4), r.getDouble(5))
    val (tc, tr) = (r.getInt(6), r.getInt(7))
    val layout = LayoutDefinition(
      Extent(xmin, ymin, xmax, ymax),
      TileLayout(math.round((xmax - xmin) / tw).toInt,
                 math.round((ymax - ymin) / th).toInt, tc, tr))
    fromTileDataFrame(df, layout, r.getString(8))
  }

  /** Inverse of fromCells: explode tiles to (x, y, v) rows, dropping
    * NoData. */
  def tilesToCells(df: DataFrame, tc: Int, tr: Int, temporal: Boolean = false): DataFrame = {
    val keyC = if (temporal) Seq(col("col"), col("row"), col("instant")) else Seq(col("col"), col("row"))
    val exploded = df.select(keyC :+ posexplode(col("tile")).as(Seq("off", "v")): _*)
    val out = exploded
      .where(!isnan(col("v")))
      .withColumn("x", col("col").cast("long") * tc + col("off") % tc)
      .withColumn("y", col("row").cast("long") * tr + floor(col("off") / tc).cast("long"))
    if (temporal) out.select(col("x"), col("y"), col("instant"), col("v"))
    else out.select(col("x"), col("y"), col("v"))
  }
}
