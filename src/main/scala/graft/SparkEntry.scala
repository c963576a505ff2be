package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.core.{CRS, Geohash, ZIndex}
import graft.raster.{CellOp, Compare, Contour, Distance, FocalOp, GeoTiff, Grib2, HistogramOps, Interpolate, MultibandLayer, Neighborhood, NetCdf, NetCdf4, Pyramid, RasterLayer, Reproject, Resample, TimeSeries, ZFactor, Zarr, ZonalOps}
import graft.render.ColorMap
import graft.vector.Geometry

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each query key maps to. Every query reads only the
  * driver's parquet tables under `dir` and must match its `oracleSql`
  * DuckDB result (same column names, deterministic values).
  */
object SparkEntry {
  import GridSource._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. One composite plan through the engine's core path:
    * rasterize lineitem -> 3x3 focal mean -> zonal stats by the
    * returnflag zone raster. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val smoothed = lineitemLayer(spark, dir).focal(Neighborhood.Square(1), "Mean")
    val zones = RasterLayer.fromCells(
      zoneCells(spark, dir).select(col("x"), col("y"), ascii(col("zone")).cast("double").as("v")),
      layout)
    ZonalOps.zonalStats(smoothed, zones)
  }

  // ----------------------------------------------------------------
  // helpers
  // ----------------------------------------------------------------
  private def flat(l: RasterLayer): DataFrame = l.toCells

  /** Pin a layer consumed from SEVERAL plan branches of one query
    * (r20 optimization round): per-call TileBuildAgg instances defeat
    * ReuseExchange, so each branch re-runs the whole upstream
    * scan+shuffle without the pin. One materialization, same values. */
  private def pinL(l: RasterLayer): RasterLayer =
    l.copy(df = l.df.localCheckpoint())

  /** Micro-quantized closing (the CLAUDE.md determinism rule): emit
    * round(x·scale) as BIGINT instead of round(x, k) DOUBLE. Integer
    * rounding of an identical IEEE chain is engine-portable; decimal
    * k-dp rounding of 9+-significant-digit doubles is not (the r16
    * sf0.1 sweep failed 12 queries on exactly that class). */
  private def uq(c: org.apache.spark.sql.Column,
                 scale: Double = 100000.0): org.apache.spark.sql.Column =
    round(c * lit(scale)).cast("long")

  /** Oracle twin of [[uq]]: both engines multiply the SAME IEEE double
    * by the scale and round to integer — no decimal path anywhere. */
  private def uqSql(e: String, scale: String = "100000.0"): String =
    s"CAST(round(($e) * $scale) AS BIGINT)"

  /** Driver-side twin of [[uq]] for literal-restating oracles:
    * BigDecimal HALF_UP of x*1e5 — the same rounding Spark's Round
    * applies to the identical IEEE product on the engine side. */
  private def u5(x: Double): Long =
    BigDecimal(x * 100000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Fixture rings for q_clip (sf-independent formulas — the q_tin
    * literal-restating precedent): diamonds scattered so some sit
    * inside, some cross, and some miss the clip window entirely. */
  private[graft] def clipFixtures: Seq[(Long, Seq[Double], Seq[Double])] =
    (1L to 12L).map { i =>
      val cx = (i * 37 % 200 + 20).toDouble
      val cy = (i * 53 % 200 + 20).toDouble
      val r = (15 + i * 7 % 40).toDouble
      (i, Seq(cx - r, cx, cx + r, cx), Seq(cy, cy - r, cy, cy + r))
    }

  /** Convex hexagon clip polygon for the boolean-op queries (integer
    * vertices; shared by query and literal-restating oracle). */
  private val hexClip = graft.vector.Polygon(IndexedSeq(
    graft.vector.Pt(188, 128), graft.vector.Pt(158, 180), graft.vector.Pt(98, 180),
    graft.vector.Pt(68, 128), graft.vector.Pt(98, 76), graft.vector.Pt(158, 76)))

  /** CONCAVE star fixtures for the general-overlay queries (r16):
    * 10-vertex 5-point stars, sf-independent formulas — the q_tin
    * literal-restating precedent. Driver-side cos/sin, so engine and
    * oracle share the exact same doubles. */
  private[graft] def concaveFixtures: Seq[(Long, Seq[Double], Seq[Double])] =
    (1L to 10L).map { i =>
      val cx = (i * 37 % 200 + 20) + 0.3
      val cy = (i * 53 % 200 + 20) + 0.7
      val ro = (18 + i * 7 % 36).toDouble
      val ri = ro * 0.45
      val rot = i.toDouble * 0.37
      val pts = (0 until 10).map { k =>
        val r = if (k % 2 == 0) ro else ri
        val a = rot + k * math.Pi / 5
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      (i, pts.map(_._1): Seq[Double], pts.map(_._2): Seq[Double])
    }

  /** Concave plus-sign clip polygon (4 reflex vertices) for the
    * general-overlay queries. */
  private[graft] val crossClip = {
    val w = 25.3; val l = 75.7; val cx = 128.0; val cy = 128.0
    import graft.vector.Pt
    graft.vector.Polygon(IndexedSeq(
      Pt(cx - w, cy - l), Pt(cx + w, cy - l), Pt(cx + w, cy - w),
      Pt(cx + l, cy - w), Pt(cx + l, cy + w), Pt(cx + w, cy + w),
      Pt(cx + w, cy + l), Pt(cx - w, cy + l), Pt(cx - w, cy + w),
      Pt(cx - l, cy + w), Pt(cx - l, cy - w), Pt(cx - w, cy - w)))
  }

  /** Concave axis-aligned L for q_buffer_concave. Fractional parts
    * are .31 for every x and .74 for every y: axis-aligned edges miss
    * the half-odd centers, and since neither .31+.74 nor .74−.31 is
    * an integer, the ±45° arc-fan radii and diagonal midpoints miss
    * the center lattice too (a .3/.7 choice put both exactly ON
    * centers). OverlayOracleSpec audits the margin of EVERY piece
    * edge against every grid center. */
  private[graft] val bufferConcaveL = {
    import graft.vector.Pt
    graft.vector.Polygon(IndexedSeq(
      Pt(60.31, 60.74), Pt(170.31, 60.74), Pt(170.31, 120.74),
      Pt(120.31, 120.74), Pt(120.31, 170.74), Pt(60.31, 170.74)))
  }
  private[graft] def bufferConcavePieces: Seq[graft.vector.Polygon] =
    graft.vector.Buffer.bufferPieces(bufferConcaveL, 9.3, graft.vector.Buffer.Round(4))

  /** Erosion containment-test pair (interior tris, boundary corridor)
    * for q_buffer_erode_concave — same L fixture and .31/.74 margin
    * discipline; OverlayOracleSpec audits BOTH piece sets' edges
    * against every grid center. */
  private[graft] def erodeConcavePieces: (Seq[graft.vector.Polygon], Seq[graft.vector.Polygon]) =
    graft.vector.Buffer.erodePieces(bufferConcaveL, 9.3, graft.vector.Buffer.Round(4))

  /** Strict half-plane containment SQL for one CONVEX piece at the
    * grid cell center (x+0.5, y+0.5) — the dual-containment oracle
    * every buffer/erode mask twin uses (piece coords literal-restated;
    * DuckDB recomputes the per-cell verdict). */
  private def pieceInsideSql(poly: graft.vector.Polygon): String = {
    val e0 = poly.exterior
    // normalize CCW so inside is "all cross products > 0"
    val ring =
      if (graft.vector.Overlay.signedArea2(e0) >= 0) e0 else e0.reverse
    val n = ring.length
    (0 until n).map { i =>
      val a = ring(i); val b = ring((i + 1) % n)
      val c1 = b.x - a.x; val c2 = b.y - a.y
      val rhs = c1 * a.y - c2 * a.x
      s"(CAST($c1 AS DOUBLE) * (y + 0.5) - CAST($c2 AS DOUBLE) * (x + 0.5) > CAST($rhs AS DOUBLE))"
    }.mkString("(", " AND ", ")")
  }

  /** DISSOLVE fixtures (r16): 4 groups of 3 GENUINELY-overlapping
    * polygons each — diamonds and concave stars sharing a group
    * center, so the union area exercises the n-ary
    * inclusion-exclusion (not just disjoint adds). sf-independent
    * formulas, driver-side trig — the literal-restating discipline. */
  private[graft] def dissolveFixtures: Seq[(Long, Long, Seq[Double], Seq[Double])] =
    (0L until 4L).flatMap { g =>
      val cx = (g * 61 % 160 + 48) + 0.3
      val cy = (g * 97 % 160 + 48) + 0.7
      (0L until 3L).map { j =>
        val pid = g * 3 + j
        // member centers offset < r so the trio genuinely overlaps
        val mx = cx + (j.toDouble - 1.0) * 14.0
        val my = cy + ((j * 7 % 3).toDouble - 1.0) * 11.0
        if (j % 2 == 0) {
          // diamond
          val r = 20.0 + g * 3 + j * 5
          (g, pid, Seq(mx - r, mx, mx + r, mx): Seq[Double],
            Seq(my, my - r, my, my + r): Seq[Double])
        } else {
          // 8-vertex concave star
          val ro = 24.0 + g * 2; val ri = ro * 0.5
          val rot = (g * 3 + j).toDouble * 0.41
          val pts = (0 until 8).map { k =>
            val r = if (k % 2 == 0) ro else ri
            val a = rot + k * math.Pi / 4
            (mx + r * math.cos(a), my + r * math.sin(a))
          }
          (g, pid, pts.map(_._1): Seq[Double], pts.map(_._2): Seq[Double])
        }
      }
    }

  /** Polyline fixture for q_buffer_line — the .31/.74 fractional
    * discipline (axis-aligned pieces miss half-odd cell centers;
    * OverlayOracleSpec audits every edge's margin to every center). */
  private[graft] val bufferLinePath = IndexedSeq(
    graft.vector.Pt(40.31, 60.74), graft.vector.Pt(100.31, 80.74),
    graft.vector.Pt(130.31, 150.74), graft.vector.Pt(190.31, 120.74),
    graft.vector.Pt(210.31, 190.74))
  private[graft] def bufferLinePieces: Seq[graft.vector.Polygon] =
    graft.vector.Buffer.bufferLinePieces(bufferLinePath, 10.3,
      graft.vector.Buffer.Round(3), graft.vector.Buffer.RoundCap(3))

  /** Polyline fixtures for q_clip_lines: zig-zags scattered so some
    * cross the (64,64)-(192,192) window, some sit inside, and at
    * least one misses entirely (sf-independent formulas). */
  private[graft] def lineFixtures: Seq[(Long, Seq[Double], Seq[Double])] =
    (1L to 8L).map { i =>
      val n = 4 + (i % 3).toInt
      val x0 = (i * 29 % 180 + 10).toDouble + 0.3
      val y0 = (i * 47 % 180 + 10).toDouble + 0.7
      val pts = (0 until n).map { k =>
        (x0 + k * (17.0 + (i % 5)),
         y0 + ((i * 7 + k * 31) % 97 - 48).toDouble * 0.9)
      }
      (i, pts.map(_._1): Seq[Double], pts.map(_._2): Seq[Double])
    }

  /** Query-term set for q_bm25 (words from the synthetic vocabulary). */
  private[graft] val Bm25Terms = Seq("table", "spark", "window", "hash", "stream")

  /** Blocklist for q_blocklist — lowercase, self-border-free (so the
    * Aho-Corasick total count equals the oracle's replace-and-measure
    * non-overlapping count); includes nested terms ("table" inside
    * "table value") to exercise the automaton's suffix outputs. */
  private[graft] val BlocklistTerms = Seq(
    "table", "table value", "fast", "fast table", "scan query",
    "stream", "window spark", "merge batch")

  /** Shared dedup intermediates, materialized once per (session, sf)
    * — a real pipeline derives the MinHash pair graph and its
    * connected components ONE time and feeds the keep-manifest, size
    * histogram, and source matrix from them; five bench queries
    * re-deriving the same ~2-3s upstream measured the re-derivation,
    * not the operators (r12 verdict item 6). localCheckpoint pins the
    * materialized edges/components for the session (the
    * hashedShingles discipline). */
  private val sharedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def shared(s: SparkSession, dir: String, key: String)
                    (f: => DataFrame): DataFrame =
    // note: resolve any OTHER shared(...) dependency before entering
    // computeIfAbsent — recursive updates to one ConcurrentHashMap
    // are not allowed
    sharedMemo.computeIfAbsent(s"${System.identityHashCode(s)}:$dir:$key",
      _ => f.localCheckpoint())

  /** RDD ids backing the [[sharedMemo]] localCheckpoints. The bench's
    * per-query isolation sweep must NOT evict these: their lineage is
    * truncated, so an evicted block is unrecoverable and the six
    * dedup-reporting queries die mid-suite with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (r14 first isolated run). */
  def sharedRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    sharedMemo.values().asScala.flatMap { df =>
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    }.toSet
  }

  /** The MinHash-LSH near-dup pair graph (d1, d2), materialized. */
  private def minhashEdges(s: SparkSession, dir: String): DataFrame =
    shared(s, dir, "minhash_edges")(
      pipeline.Dedup.minhashPairs(table(s, dir, "documents"))
        .select(col("d1"), col("d2")))

  /** LPA community labels (doc_id, label), materialized — shared by
    * q_label_prop and q_modularity. */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashEdges(s, dir) // resolve BEFORE entering the memo
    shared(s, dir, "lpa_labels")(
      pipeline.Dedup.labelPropagation(edges,
        table(s, dir, "documents").select(col("doc_id"))))
  }

  /** Duplicate-family assignment (doc_id, component), materialized. */
  private def dupComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashEdges(s, dir)
    shared(s, dir, "dup_components")(
      pipeline.Dedup.connectedComponents(edges,
        table(s, dir, "documents").select(col("doc_id"))))
  }

  /** BM25 oracle body — shared verbatim by q_bm25 and (as a subquery)
    * q_rrf_fusion, so the fused ranking and the standalone scores can
    * never drift apart. */
  private def bm25OracleSql: String =
    s"""WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
       |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM ws),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
       |tk AS (SELECT doc_id, unnest(w) AS term FROM ws),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
       |       WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |idf AS (SELECT term, CAST(round(ln((CAST(nd AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_q, avgdl
       |        FROM dfq, stats),
       |sc AS (SELECT tf.doc_id,
       |         CAST(round((CAST(idf_q AS DOUBLE) / 1000000.0) * (CAST(tf.tf AS DOUBLE) * 2.2) /
       |           (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / idf.avgdl))) * 1000000.0) AS BIGINT) AS sq
       |       FROM tf JOIN idf USING (term) JOIN d USING (doc_id))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |  CAST(sum(sq) AS DOUBLE) / 1000000.0 AS bm25
       |FROM sc GROUP BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- rasterize + layer round-trip (SURVEY §2: rasterize, tile_to_layout)
    "q_rasterize" -> ((s, dir) => flat(lineitemLayer(s, dir))),

    "q_tile_to_layout" -> ((s, dir) => {
      // retile 64 -> 32 and back to cells: identity on the logical
      // grid. Integer-ratio layouts take the TILE-LEVEL path — the
      // split is a narrow flatMap, no per-cell explode, no shuffle
      val small = lineitemLayer(s, dir).retile(
        core.LayoutDefinition(layout.extent, core.TileLayout(G / 32, G / 32, 32, 32)))
      small.toCells
    }),

    "q_collect_keys" -> ((s, dir) =>
      lineitemLayer(s, dir).collectKeys().orderBy("col", "row")),

    // --- RasterFrames-style interop (reference layer.py:1248,1282):
    // export -> re-ingest under the explicit layout -> re-export, then
    // verify the self-describing schema (keys, per-tile extents) and
    // tile contents (non-NoData count + exact sum) against the grid
    "q_tile_df" -> ((s, dir) => {
      val rf = lineitemLayer(s, dir).toTileDataFrame
      val rt = RasterLayer.fromTileDataFrame(rf, layout)
      rt.toTileDataFrame
        // name the filtered array ONCE — HOF lambdas have no CSE
        .select(col("spatial_key.col").as("col"), col("spatial_key.row").as("row"),
          col("extent.xmin").as("xmin"), col("extent.ymin").as("ymin"),
          col("extent.xmax").as("xmax"), col("extent.ymax").as("ymax"),
          filter(col("tile"), c => !isnan(c)).as("valid"))
        .select(col("col"), col("row"), col("xmin"), col("ymin"),
          col("xmax"), col("ymax"),
          size(col("valid")).cast("long").as("n_cells"),
          aggregate(col("valid"), lit(0.0), (a, x) => a + x).as("v_sum"))
    }),

    "q_lookup" -> ((s, dir) =>
      RasterLayer.tilesToCells(lineitemLayer(s, dir).lookup(2, 3), T, T)),

    // --- local map algebra
    "q_local_arith" -> ((s, dir) => {
      val l = lineitemLayer(s, dir)
      flat(((l + 10.0) * 2.0 - 5.0) / 4.0)
    }),

    "q_local_max" -> ((s, dir) => flat(lineitemLayer(s, dir).localMax(25.0))),

    "q_local_binary" -> ((s, dir) =>
      flat(lineitemLayer(s, dir) + ordersLayer(s, dir))),

    "q_reclassify" -> ((s, dir) =>
      flat(lineitemLayer(s, dir)
        .reclassify(Seq(50.0 -> 1.0, 150.0 -> 2.0, 300.0 -> 3.0, 1e9 -> 4.0)))),

    "q_weighted_overlay" -> ((s, dir) => {
      // ArcGIS Weighted Overlay: both inputs remapped to the 1..9
      // suitability scale, then round(0.75·s1 + 0.25·s2) — exact
      // binary weights over small ints, HALF_UP in both engines
      val s1 = lineitemLayer(s, dir).reclassify(
        Seq(50.0 -> 1.0, 100.0 -> 3.0, 200.0 -> 5.0, 400.0 -> 7.0, 1e9 -> 9.0))
      val s2 = ordersLayer(s, dir).reclassify(
        Seq(1.0 -> 1.0, 2.0 -> 3.0, 4.0 -> 5.0, 8.0 -> 7.0, 1e9 -> 9.0))
      flat(s1.weightedOverlay(0.75, (s2, 0.25)))
    }),

    "q_standardize" -> ((s, dir) =>
      // z-score standardization: exact-Long moments folded into one
      // per-cell expression, pinned op order, round 5
      lineitemLayer(s, dir).standardize().toCells
        .select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_normalize" -> ((s, dir) => {
      val n = lineitemLayer(s, dir).normalize(0.0, 100.0)
      n.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_with_no_data" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).withNoData(1.0))),

    // --- multi-layer
    "q_union" -> ((s, dir) => {
      val u = lineitemLayer(s, dir).union(ordersLayer(s, dir)).aggregateByCell("Sum")
      u.toCells
    }),

    "q_aggregate_by_cell" -> ((s, dir) => {
      val l = lineitemLayer(s, dir)
      flat(l.union(l).aggregateByCell("Sum"))
    }),

    "q_merge" -> ((s, dir) => {
      // overlay burns a LARGER constant over a diamond: Max would take
      // 1e6 everywhere; merge retains the base value and fills only
      // base-NoData cells — the oracle's coalesce(base, overlay)
      val base = lineitemLayer(s, dir)
      val overlay = graft.raster.Rasterize.features(s,
        Seq(Geometry.diamond(128, 128, 60.3) -> 1e6), layout)
      flat(base.merge(overlay))
    }),

    // --- focal suite (SURVEY §2 focal ops)
    "q_focal_sum" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Sum"))),
    "q_focal_mean" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Mean"))),
    "q_focal_min" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Min"))),
    "q_focal_max" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Max"))),
    "q_focal_median" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Median"))),
    "q_focal_mode" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Mode"))),
    "q_focal_entropy" -> ((s, dir) =>
      // window texture: classes = v mod 8 so runs actually repeat.
      // No closing round: Entropy emits (round(ln n·1e6)·n − Σq)/(n·1e6)
      // — integer/integer IEEE division, bit-identical to the oracle.
      flat(lineitemLayer(s, dir).localMap(c => pmod(c, lit(8.0)))
          .focal(Neighborhood.Square(1), "Entropy"))),
    "q_focal_minority" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Minority"))),
    "q_majority_filter" -> ((s, dir) =>
      // ArcGIS MajorityFilter over v mod 8 classes (strict majority
      // of present neighbors replaces the center; ties keep it)
      flat(lineitemLayer(s, dir).localMap(c => pmod(c, lit(8.0))).majorityFilter())),
    "q_expand" -> ((s, dir) =>
      // ArcGIS Expand over v mod 8 zones: grow classes {3, 5} by one
      // cell, 3 before 5 (list order = zone priority)
      flat(lineitemLayer(s, dir).localMap(c => pmod(c, lit(8.0)))
        .expand(Seq(3.0, 5.0)))),
    "q_shrink" -> ((s, dir) =>
      // ArcGIS Shrink of zone 3 by one cell: boundary 3-cells take the
      // neighborhood mode of the other classes (ties -> smallest)
      flat(lineitemLayer(s, dir).localMap(c => pmod(c, lit(8.0))).shrink(3.0))),
    "q_nibble" -> ((s, dir) =>
      // ArcGIS Nibble: sentinel-flagged cells (v % 97 == 0, the
      // cloud-mask workflow) take the nearest unflagged value within
      // 8 cells ((d², dy, dx) lexicographic tie-break)
      flat(lineitemLayer(s, dir).nibble(v => v % 97.0 == 0.0, r = 8))),
    "q_focal_percentile" -> ((s, dir) =>
      // exact 75th percentile (rational-q cross-multiplied rule in
      // focal scope — integer selection, no interpolation)
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), FocalOp.Percentile(3, 4)))),
    "q_focal_stddev" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "StandardDeviation"))),
    "q_focal_variance" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Square(1), "Variance"))),
    "q_focal_chain" -> ((s, dir) =>
      // Mean then Max FUSED into one halo exchange (radius 2 gather);
      // bit-identical to the sequential chain — Mean's sums are exact
      // (integral inputs), Max is order-free selection
      flat(lineitemLayer(s, dir).focalChain(
        (Neighborhood.Square(1), "Mean"), (Neighborhood.Square(1), "Max")))),
    "q_focal_circle" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Circle(2.0), "Mean"))),
    "q_slope" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).slope()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_slope_latlng" -> ((s, dir) => {
      // per-latitude z-factor (reference zfactor_lat_lng_calculator):
      // same lineitem cells on the DEGREES layout; each tile row gets
      // zf = 1/(111320 cos(center lat)) before the gradient
      // (corrected constant — see ZFactor.MetersAtEquator)
      val l = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % G).as("x"), (col("l_partkey") % G).as("y"),
          col("l_quantity").as("v")),
        layoutLatLng, CellOp.Sum)
        .slope(zFactorCalc = Some(graft.raster.ZFactor.latLng("Meters")))
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_geomorphon" -> ((s, dir) => {
      // geomorphon landforms (r15) on the DENSER 128-grid (~97%
      // occupancy — the full-32-sample rule keeps ~43% of cells vs
      // ~nothing on the 256-grid); the whole ternary-pattern decision
      // is exact integer arithmetic via the 12/k LCM trick, and the
      // (hi, lo) -> form LUT is ONE Scala map rendered into both
      // engines
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      l128.geomorphon().toCells
        .select(col("x"), col("y"), col("v").cast("long").as("form"))
    }),

    "q_landforms" -> ((s, dir) => {
      // Weiss (2001) multi-scale TPI landform classes (r17) on the
      // same dense 128-grid: small-ring/large-annulus TPI signs plus
      // the 3×3 relief split — every decision exact integer
      // arithmetic (z0·n − Σ vs ±t·n, no division), full-81-window
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      graft.raster.Geomorphon.landforms(l128, t = 2L, relief = 6L).toCells
        .select(col("x"), col("y"), col("v").cast("long").as("class"))
    }),

    "q_cast_shadow" -> ((s, dir) => {
      // cast-shadow mask (r17): east azimuth, tan(altitude) = 1/2 —
      // the z_k − z0 − k/2 comparison is exact on the integral grid
      // (dyadic step), full-4-ray rule
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      graft.raster.Geomorphon.castShadow(l128, dirIdx = 2, tanAlt = 0.5).toCells
        .select(col("x"), col("y"), col("v").cast("long").as("shadowed"))
    }),

    "q_openness" -> ((s, dir) => {
      // positive + negative topographic openness (Yokoyama 2002) on
      // geomorphon's rays: exact-integer max tangents, one atan per
      // ray, pinned 8-term sum — both signs joined per cell
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      val pos = l128.openness(positive = true).toCells
        .select(col("x"), col("y"), uq(col("v")).as("pos_u"))
      val neg = l128.openness(positive = false).toCells
        .select(col("x"), col("y"), uq(col("v")).as("neg_u"))
      pos.join(neg, Seq("x", "y"))
    }),

    "q_aspect" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).aspect()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_tri" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).tri()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_tpi" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).tpi()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    // exact: window range of integral cells needs no rounding
    "q_roughness" -> ((s, dir) => flat(lineitemLayer(s, dir).roughness())),
    // exact: pit fill only selects among existing integral cell values
    "q_fill" -> ((s, dir) =>
      flat(graft.raster.Hydrology.fill(lineitemLayer(s, dir)))),
    "q_curvature" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).curvature()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_hillshade" -> ((s, dir) => flat(lineitemLayer(s, dir).hillshade())),
    "q_hillshade_md" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).hillshadeMultidirectional())),
    "q_curvature_profile" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).curvatureProfile()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_curvature_plan" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).curvaturePlan()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_tobler" -> ((s, dir) => {
      val l = lineitemLayer(s, dir).tobler()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),
    "q_ks_test" -> ((s, dir) =>
      // KS drift statistic: even- vs odd-numbered sources on n_chars
      pipeline.TextAnalysis.ksTest(table(s, dir, "documents"),
        substring(col("source"), 4, 10).cast("int") % 2 === 0,
        col("n_chars"))),

    "q_aspect_rose" -> ((s, dir) => {
      // slope-aspect rose: exact octant bins, per-bin cell counts
      val l = lineitemLayer(s, dir).aspectOctant()
      l.toCells.groupBy(col("v").as("bin")).agg(count(lit(1)).as("cnt"))
    }),

    "q_flow_dinf" -> ((s, dir) => {
      // Tarboton D-infinity steepest-descent angle (radians, round 5)
      val l = lineitemLayer(s, dir).flowDirectionDinf()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_stretch" -> ((s, dir) =>
      // 2-98 percent-clip contrast stretch to 0..255
      flat(HistogramOps.percentStretch(lineitemLayer(s, dir)))),

    "q_catalog_diff" -> ((s, dir) => {
      // layer diff audit: B bumps cells where v % 7 == 0; diff
      // reports changed-cell counts per tile
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val a = lineitemLayer(s, dir)
      val b = a.localMap(c => when(pmod(c, lit(7.0)) === 0.0, c + 1).otherwise(c))
      Catalog.write(uri, "diff_a", a, zoom = 4)
      Catalog.write(uri, "diff_b", b, zoom = 4)
      Catalog.diff(s, uri, "diff_a", "diff_b", 4)
    }),

    "q_hotspot_gi" -> ((s, dir) =>
      // Getis-Ord Gi* hot-spot z-scores, binary 3x3 weights;
      // micro-quantized (×1e5, BIGINT) — the raw double is an
      // exact-integer single-divide ratio, bit-identical to the oracle
      graft.raster.Hotspot.getisOrdGi(lineitemLayer(s, dir))
        .select(col("x"), col("y"),
          round(col("gi") * lit(100000.0)).cast("long").as("gi"))),

    "q_local_moran" -> ((s, dir) =>
      // Anselin local Moran's I (cluster/outlier statistic),
      // micro-quantized like q_hotspot_gi
      graft.raster.Hotspot.localMoran(lineitemLayer(s, dir))
        .select(col("x"), col("y"),
          round(col("moran_i") * lit(100000.0)).cast("long").as("moran_i"))),

    "q_global_moran" -> ((s, dir) =>
      // GLOBAL Moran's I scalar (ArcGIS Spatial Autocorrelation):
      // exact-integer decimal numerator, single IEEE divide closing,
      // micro-quantized ×1e6
      graft.raster.Hotspot.globalMoran(lineitemLayer(s, dir))
        .select(col("n"), col("w"),
          round(col("moran_i") * lit(1000000.0)).cast("long").as("moran_i"))),

    "q_geary" -> ((s, dir) =>
      // Geary's C global autocorrelation: mean-free exact pair sum,
      // micro-quantized ×1e6
      graft.raster.Hotspot.gearyC(lineitemLayer(s, dir))
        .select(col("n"), col("w"),
          round(col("geary_c") * lit(1000000.0)).cast("long").as("geary_c"))),

    "q_join_counts" -> ((s, dir) =>
      // binary join-count statistics (odd-parity Black), queen
      // adjacency — all-integer outputs, no float anywhere
      graft.raster.Hotspot.joinCounts(lineitemLayer(s, dir))),

    "q_local_geary" -> ((s, dir) =>
      // Anselin LISA local Geary c, micro-quantized like the other
      // hotspot closings
      graft.raster.Hotspot.localGeary(lineitemLayer(s, dir))
        .select(col("x"), col("y"),
          round(col("geary_i") * lit(100000.0)).cast("long").as("geary_i"))),

    "q_quadrat" -> ((s, dir) =>
      // quadrat-count CSR dispersion test over the supplier points:
      // exact integer moments, VMR micro-quantized ×1e6
      graft.vector.PointStats.quadratVmr(supplierPoints(s, dir))),

    "q_correlogram" -> ((s, dir) =>
      // Moran correlogram at ring lags 1..3, ×1e6 — spatial
      // structure decay from cumulative-focal-sum differences
      graft.raster.Hotspot.moranCorrelogram(lineitemLayer(s, dir))
        .select(col("lag"), col("n"), col("w"),
          round(col("moran_i") * lit(1000000.0)).cast("long").as("moran_i"))),

    "q_general_g" -> ((s, dir) =>
      // ArcGIS High/Low Clustering (General G), ×1e9 (G ~ W/n² is
      // tiny — ~2e-4 — so the quantizer keeps 6 significant digits)
      graft.raster.Hotspot.generalG(lineitemLayer(s, dir))
        .select(col("n"), col("w"),
          round(col("general_g") * lit(1000000000.0)).cast("long").as("general_g"))),

    "q_lisa_quadrant" -> ((s, dir) =>
      // Moran-scatterplot quadrant labels (HH/LH/LL/HL) — exact
      // integer signs, no quantization at all
      graft.raster.Hotspot.lisaQuadrants(lineitemLayer(s, dir))),

    "q_moran_bv" -> ((s, dir) =>
      // bivariate Moran's I of lineitem vs the orders lag on the
      // common support, ×1e6
      graft.raster.Hotspot.bivariateMoran(
        lineitemLayer(s, dir), ordersLayer(s, dir))
        .select(col("n"), col("w"),
          round(col("moran_bv") * lit(1000000.0)).cast("long").as("moran_bv"))),

    "q_glcm" -> ((s, dir) =>
      // pooled symmetric gray-level co-occurrence matrix, 16 levels,
      // queen adjacency — pure integer pair counts
      graft.raster.Texture.glcm(lineitemLayer(s, dir))),

    "q_glcm_stats" -> ((s, dir) =>
      // Haralick texture summary: exact integer numerators + the
      // per-term micro-quantized homogeneity
      graft.raster.Texture.glcmStats(lineitemLayer(s, dir))),

    "q_box_count" -> ((s, dir) =>
      // box-counting occupancy series (odd-valued cells) at scales
      // 1/2/4/8/16 — exact integer box counts
      graft.raster.Texture.boxCounts(lineitemLayer(s, dir))),

    "q_combine" -> ((s, dir) =>
      // ArcGIS Combine: unique (v1 mod 7, v2 mod 5) combination table
      // of the lineitem and orders grids, deterministic combo ids
      Compare.combine(
        lineitemLayer(s, dir).localMap(c => pmod(c, lit(7.0))),
        ordersLayer(s, dir).localMap(c => pmod(c, lit(5.0))))),

    "q_simpson" -> ((s, dir) =>
      // FRAGSTATS Simpson diversity (SIDI) over v mod 7 classes:
      // exact integer moments, single-divide ×1e6
      ZonalOps.simpsonDiversity(
        lineitemLayer(s, dir).localMap(c => pmod(c, lit(7.0))))),

    "q_lm_backoff" -> ((s, dir) =>
      // stupid-backoff trigram LM (train even doc_ids, score odd):
      // per-token micro-quantized scores, order-free integer sums
      pipeline.TextAnalysis.stupidBackoff(table(s, dir, "documents"))),

    "q_hypsometric" -> ((s, dir) => {
      // hypsometric integral per returnflag zone: exact zone moments,
      // one micro-quantized ratio (fused one-scan twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.hypsometric(vals, zones)
    }),

    "q_ripley" -> ((s, dir) => {
      // Ripley's K pair counts at radii 4/8/16/32 over the supplier
      // point field; K̂ micro-quantized ×1e4
      val raw = graft.vector.PointStats.ripleyK(supplierPoints(s, dir))
      raw.select(col("n") +: Seq(4, 8, 16, 32).flatMap(r => Seq(
        col(s"k$r"),
        round(col(s"kh$r") * lit(10000.0)).cast("long").as(s"kh$r"))): _*)
    }),

    "q_heat_load" -> ((s, dir) => {
      // McCune-Keon ln heat load on the DEGREES layout: slope/aspect
      // from the Horn gradient, latitude from the tile-center row
      // (the q_slope_latlng lat convention)
      val l = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % G).as("x"), (col("l_partkey") % G).as("y"),
          col("l_quantity").as("v")),
        layoutLatLng, CellOp.Sum).heatLoad()
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    // --- zonal / polygonal / masking
    "q_mask" -> ((s, dir) =>
      flat(ZonalOps.maskGrid(lineitemLayer(s, dir), Seq(Geometry.diamond(128, 128, 60.3))))),

    "q_buffer_mask" -> ((s, dir) =>
      // polygon buffer (r15) feeding mask — the shapely buffer->mask
      // workflow: a miter-buffered diamond IS the diamond with
      // r + d*sqrt(2) (edge normals at 45 deg), a buffered rect the
      // rect widened by d, an eroded diamond r - d*sqrt(2) — all
      // closed forms the oracle restates; union-mask semantics
      flat(ZonalOps.maskGrid(lineitemLayer(s, dir), Seq(
        graft.vector.Buffer.buffer(Geometry.diamond(64, 64, 30.3), 10.0),
        graft.vector.Buffer.buffer(
          Geometry.rect(150.2, 100.4, 190.7, 140.9), 7.5),
        graft.vector.Buffer.buffer(Geometry.diamond(200, 60, 25.3), -6.0))))),

    "q_buffer_concave" -> ((s, dir) =>
      // CONCAVE polygon buffer (r16): the convex-piece union
      // construction (interior triangles + edge rectangles +
      // round-join arc fans, JTS quad_segs convention) feeding the
      // same union-mask; the oracle re-derives point-in-union per
      // cell from the pieces' half-plane tests
      flat(ZonalOps.maskGrid(lineitemLayer(s, dir), bufferConcavePieces))),

    "q_buffer_erode_concave" -> ((s, dir) =>
      // CONCAVE negative buffer (r17): erode(P, d) = P \ dilate(∂P, d)
      // — keep cells inside an interior triangle and OUTSIDE every
      // boundary-corridor piece, one codegen'd mask pass; the oracle
      // re-derives the same dual containment per cell
      flat(ZonalOps.erodeMaskGrid(lineitemLayer(s, dir), bufferConcaveL, 9.3,
        graft.vector.Buffer.Round(4)))),

    "q_polygonal_summary" -> ((s, dir) =>
      ZonalOps.polygonalSummary(lineitemLayer(s, dir), Geometry.diamond(128, 128, 60.3))),

    "q_summary_series" -> ((s, dir) =>
      ZonalOps.summarySeries(lineitemLayer(s, dir),
        Seq(Geometry.diamond(64, 64, 40.3), Geometry.diamond(192, 192, 40.3)))),

    "q_zonal_stats" -> ((s, dir) => {
      // fused one-scan twin build (r20): value + zone tiles from one
      // groupBy, co-partitioned into the zonal tile join
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalStats(vals, zones)
    }),

    "q_bitmask" -> ((s, dir) => {
      // QA-bitmask cloud mask: drop cells whose derived QA band has
      // bit 0 or bit 2 set (mask 5); base pinned — QA band + mask
      // input are two branches of the same build (r20)
      val base = pinL(lineitemLayer(s, dir))
      val qa = base.localMap(c => pmod(c * 13, lit(16.0)))
      base.localBitMask(qa, bits = 5L).toCells
    }),

    "q_local_mask" -> ((s, dir) => {
      // raster-mask sibling of the geometry mask: cells whose zone
      // raster reads 65 ('A') become NoData (fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      vals.localMask(zones, readMask = 65).toCells
    }),

    "q_zonal_majority" -> ((s, dir) => {
      // per-zone modal / rarest cell value (ties -> smallest value)
      // and distinct-value count (fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalMajority(vals, zones)
    }),

    "q_zonal_quartiles" -> ((s, dir) => {
      // q1 + q3 per zone via the exact cross-multiplied rule (fused
      // twin build, r20 — the pin feeds all four join branches)
      val (l, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalQuantile(l, zones, 1, 4).withColumnRenamed("q", "q1")
        .join(ZonalOps.zonalQuantile(l, zones, 3, 4).withColumnRenamed("q", "q3"), "zone")
    }),

    "q_zonal_median" -> ((s, dir) => {
      // per-zone exact-int median (quantile_breaks_int rule by zone;
      // fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalMedian(vals, zones)
    }),

    "q_raster_corr" -> ((s, dir) => {
      // Pearson correlation between the grid and a derived layer:
      // exact integer moments, one closing float expression (base
      // pinned — both correlation sides share one build, r20)
      val a = pinL(lineitemLayer(s, dir))
      Compare.correlate(a, a.localMap(c => pmod(c * 37, lit(101.0))))
    }),

    "q_cutfill" -> ((s, dir) => {
      // cut/fill report of grid vs a derived design surface (base
      // pinned — both sides share one build, r20)
      val a = pinL(lineitemLayer(s, dir))
      Compare.cutFill(a, a.localMap(c => pmod(c * 13, lit(50.0))))
    }),

    "q_jsonl_roundtrip" -> ((s, dir) =>
      // corpus interchange: encode to JSON lines, parse back — the
      // identity on the record (text compared by content hash)
      pipeline.Curation.fromJsonl(
          pipeline.Curation.toJsonl(table(s, dir, "documents")))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("h"))),

    "q_zonal_weighted" -> ((s, dir) => {
      // population-weighted zonal mean: orders grid as weights (value
      // + zone sides from the fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalWeightedMean(vals, ordersLayer(s, dir), zones)
        .select(col("zone"), col("w_total"), uq(col("wmean")).as("wmean_u"))
    }),

    "q_dup_source_matrix" -> ((s, dir) =>
      // cross-source duplication matrix over the SHARED pair graph
      pipeline.Dedup.duplicationBySourceFrom(
        minhashEdges(s, dir), table(s, dir, "documents"))),

    "q_zonal_diversity" -> ((s, dir) => {
      // FRAGSTATS SHDI/SHEI per returnflag zone over 8 classes (fused
      // twin build, r20; the class remap is a narrow localMap on top)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalDiversity(vals.localMap(c => pmod(c, lit(8.0))), zones)
    }),

    "q_change_vector" -> ((s, dir) => {
      // CVA: magnitude + direction of the band-space displacement
      // between the (lineitem, orders) stack and its shifted twin
      // (both bases pinned — each feeds the stack AND its shifted
      // twin, r20: 4 upstream builds -> 2)
      val li = pinL(lineitemLayer(s, dir))
      val or = pinL(ordersLayer(s, dir))
      val before = MultibandLayer.fromLayers(Seq(li, or))
      val after = MultibandLayer.fromLayers(
        Seq(li + 10.0, or * 2.0))
      new MultibandLayer(Compare.changeVector(before, after), before.meta, 2).toCells
        .select(col("x"), col("y"), col("band"), uq(col("v")).as("v_u"))
    }),

    "q_zonal_histogram" -> ((s, dir) => {
      // zone x class contingency table (ESRI TabulateArea long form):
      // cell values bucketed to 8 classes so the table stays a real
      // crosstab rather than |distinct values| rows (fused twin build)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalHistogram(vals.localMap(c => pmod(c, lit(8.0))), zones)
        .select(col("zone"), col("v").cast("long").as("class"), col("cnt"))
    }),

    "q_zonal_aspect" -> ((s, dir) => {
      // directional statistics: circular mean + resultant length of a
      // synthetic whole-degree angle raster, per returnflag zone
      // (fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalCircularMean(vals.localMap(c => pmod(c * 37, lit(360.0))), zones)
    }),

    "q_zonal_geometry" -> ((s, dir) => {
      // per-zone area / 4-connected perimeter / isoperimetric
      // compactness over the returnflag zone raster (one-shuffle
      // TileBuildAgg(Min) zone build, r20 — skips the per-cell groupBy)
      ZonalOps.zonalGeometry(zoneLayer(s, dir))
    }),

    "q_contours" -> ((s, dir) =>
      // marching-squares iso-line segment counts at 4 levels
      Contour.segmentCounts(lineitemLayer(s, dir), Seq(20.0, 40.0, 80.0, 160.0))),

    "q_cell_area" -> ((s, dir) => {
      // geodesic cell-area raster on the LatLng layout, summarized
      // per grid row (area is constant along a row by construction)
      val l = ZFactor.cellAreaLayer(s, GridSource.layoutLatLng)
      l.toCells.groupBy(col("y"))
        .agg(count(lit(1)).as("n_cells"), uq(min(col("v")), 1000000.0).as("area_km2_u"))
    }),

    "q_geodesic" -> ((s, dir) =>
      // haversine distance + initial bearing to a fixed anchor
      graft.vector.Measures.geodesic(customerLonLat(s, dir), 2.25, 48.85)),

    "q_hexbin" -> ((s, dir) =>
      // hexagonal point binning (axial ids via cube rounding)
      graft.vector.Hexbin.bin(supplierPoints(s, dir), size = 20.0)),

    "q_convex_hull" -> ((s, dir) =>
      // strict convex hull of the supplier points: per-vertex rows +
      // hull size, exact area, micro-quantized perimeter
      graft.vector.Hull.convex(supplierPoints(s, dir))),

    "q_spatial_join" -> ((s, dir) => {
      // point-in-polygon join: every supplier point against 5 WKT
      // diamonds (broadcast dim side, even-odd test in executors);
      // the diamond's L1 closed form is the oracle's containment
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val r = lit(20.3)
      val polys = supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 5)
        .select(col("pid").as("gid"), concat(
          lit("POLYGON (("),
          str(col("px")), lit(" "), str(col("py") - r), lit(", "),
          str(col("px") + r), lit(" "), str(col("py")), lit(", "),
          str(col("px")), lit(" "), str(col("py") + r), lit(", "),
          str(col("px") - r), lit(" "), str(col("py")), lit(", "),
          str(col("px")), lit(" "), str(col("py") - r), lit("))")).as("wkt"))
      graft.vector.SpatialJoin.pointsInPolygons(supplierPoints(s, dir), polys)
        .groupBy("gid")
        .agg(count(lit(1)).as("n_points"), sum("pid").cast("long").as("pid_sum"))
    }),

    "q_spatial_join_grid" -> ((s, dir) => {
      // r16: the SAME join FORCED through the distributed grid-bucket
      // plan (maxPolys = 0) — exact-equal to the broadcast plan, so it
      // shares q_spatial_join's oracle SQL verbatim
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val r = lit(20.3)
      val polys = supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 5)
        .select(col("pid").as("gid"), concat(
          lit("POLYGON (("),
          str(col("px")), lit(" "), str(col("py") - r), lit(", "),
          str(col("px") + r), lit(" "), str(col("py")), lit(", "),
          str(col("px")), lit(" "), str(col("py") + r), lit(", "),
          str(col("px") - r), lit(" "), str(col("py")), lit(", "),
          str(col("px")), lit(" "), str(col("py") - r), lit("))")).as("wkt"))
      graft.vector.SpatialJoin.pointsInPolygons(supplierPoints(s, dir), polys,
          maxPolys = 0)
        .groupBy("gid")
        .agg(count(lit(1)).as("n_points"), sum("pid").cast("long").as("pid_sum"))
    }),

    "q_class_breaks_equal" -> ((s, dir) =>
      // equal-interval classification breaks over the grid stats
      HistogramOps.equalIntervalBreaks(lineitemLayer(s, dir), 7)),

    "q_zonal_pct" -> ((s, dir) => {
      // per-cell percent of zone total: (v*100) div zoneSum, exact
      // (fused twin build, r20)
      val (vals, zones) = lineitemWithZoneLayers(s, dir)
      ZonalOps.zonalPercentage(vals, zones).toCells
        .select(col("x"), col("y"), col("v").cast("long").as("pct"))
    }),

    "q_cell_value_counts" -> ((s, dir) =>
      ZonalOps.cellValueCounts(lineitemLayer(s, dir))),

    "q_point_values" -> ((s, dir) =>
      ZonalOps.pointValues(lineitemLayer(s, dir), supplierPoints(s, dir))),

    "q_terrain_profile" -> ((s, dir) =>
      // elevation profile along (5,10) -> (240,200): exact integer DDA
      // sampling, one float multiply per sample for the distance
      ZonalOps.profile(lineitemLayer(s, dir), 5, 10, 240, 200)),

    "q_morphology" -> ((s, dir) =>
      // grayscale morphological OPENING (erode -> dilate, the
      // gdal/ArcGIS Shrink+Expand denoise): Min then Max FUSED into
      // one halo exchange; exact integer selections end to end
      flat(lineitemLayer(s, dir).focalChain(
        (Neighborhood.Square(1), "Min"), (Neighborhood.Square(1), "Max")))),

    "q_heavy_hitters" -> ((s, dir) =>
      // exact counts of every token with cnt >= 100, CMS-prefiltered
      // so the exact aggregate only ever sees sketch-hot tokens
      pipeline.Sketch.heavyHitters(table(s, dir, "documents"))),

    "q_point_values_bilinear" -> ((s, dir) =>
      // 4-corner weighted sums of non-integral products -> round both
      // sides (CLAUDE.md float rule)
      ZonalOps.pointValuesBilinear(lineitemLayer(s, dir), supplierPoints(s, dir))
        .select(col("pid"), uq(col("v")).as("v_u"))),

    "q_rasterize_geoms" -> ((s, dir) => {
      // diamond features DERIVED from the supplier table, serialized
      // to WKT text and parsed back in the executors — the data-driven
      // rasterize path; centers/radii stated identically in the oracle.
      // Overlaps resolve by Max of the burn value (pid).
      val p = supplierPoints(s, dir).where(col("pid") <= 8)
        .withColumn("r", (col("pid") % 3).cast("double") * 10.0 + lit(20.3))
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val wkt = concat(
        lit("POLYGON (("),
        str(col("px")), lit(" "), str(col("py") - col("r")), lit(", "),
        str(col("px") + col("r")), lit(" "), str(col("py")), lit(", "),
        str(col("px")), lit(" "), str(col("py") + col("r")), lit(", "),
        str(col("px") - col("r")), lit(" "), str(col("py")), lit(", "),
        str(col("px")), lit(" "), str(col("py") - col("r")), lit("))"))
      val feats = p.select(wkt.as("wkt"), col("pid").cast("double").as("v"))
      flat(graft.raster.Rasterize.fromWktTable(feats, layout))
    }),

    "q_mask_wkt" -> ((s, dir) => {
      // arbitrary-geometry mask: a MULTIPOLYGON with a holed member,
      // parsed from WKT (reference layer.py:2044 accepts any
      // Polygon/MultiPolygon); diamonds keep the oracle in exact
      // L1 arithmetic
      val wkt = "MULTIPOLYGON (((80 29.7, 130.3 80, 80 130.3, 29.7 80, 80 29.7), " +
        "(80 59.7, 100.3 80, 80 100.3, 59.7 80, 80 59.7)), " +
        "((180 149.7, 210.3 180, 180 210.3, 149.7 180, 180 149.7)))"
      flat(ZonalOps.maskGrid(lineitemLayer(s, dir), graft.vector.Wkt.parsePolygons(wkt)))
    }),

    "q_rasterize_lines" -> ((s, dir) => {
      // LINESTRING burn (reference rasterize takes any geometry):
      // axis-aligned segments derived from supplier, all-touched grid
      // traversal, Max overlap priority. Oblique traversal is
      // spec-verified (RasterizeSpec) — the oracle stays on segments
      // whose touched set is exactly a coordinate range.
      val p = supplierPoints(s, dir)
        .withColumn("len", (col("pid") % 7 + 2).cast("double"))
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val wkt = when(col("pid") % 2 === 0,
        concat(lit("LINESTRING ("), str(col("px")), lit(" "), str(col("py")),
          lit(", "), str(col("px") + col("len")), lit(" "), str(col("py")), lit(")")))
        .otherwise(
          concat(lit("LINESTRING ("), str(col("px")), lit(" "), str(col("py")),
            lit(", "), str(col("px")), lit(" "), str(col("py") + col("len")), lit(")")))
      val feats = p.select(wkt.as("wkt"), col("pid").cast("double").as("v"))
      flat(graft.raster.Rasterize.fromWktFeatures(feats, layout))
    }),

    "q_vector_tile" -> ((s, dir) =>
      // MVT encode of the supplier points, one blob per layout tile;
      // the binary column is exercised inside mapGroups (and pruned
      // after), the oracle pins the per-tile feature assignment
      graft.render.VectorTile.pointTiles(supplierPoints(s, dir), layout)
        .select(col("col"), col("row"), col("n_features"))),

    "q_vector_tile_lines" -> ((s, dir) => {
      // linestring MVT path: an L-shaped 3-vertex polyline per
      // supplier point, encoded per tile then DECODED back — the
      // output is arithmetic over the decoded command streams, so the
      // zigzag-delta roundtrip itself is what the oracle certifies
      val lines = supplierPoints(s, dir).select(col("pid"),
        array(col("px"), col("px") + 3, col("px") + 3).as("xs"),
        array(col("py"), col("py"), col("py") + 2).as("ys"))
      graft.render.VectorTile.decodeStats(
        graft.render.VectorTile.lineTiles(lines, layout))
    }),

    "q_geojson_roundtrip" -> ((s, dir) =>
      // GeoJSON point-feature codec roundtrip, fully columnar: encode
      // every supplier point with to_json, parse back with from_json
      // (both codegen'd, no UDFs) and recover (pid, px, py)
      supplierPoints(s, dir)
        .select(graft.vector.GeoJson.pointFeature(
          col("pid"), col("px"), col("py")).as("j"))
        .select(graft.vector.GeoJson.parsePointFeature(col("j")).as("f"))
        .select(col("f.pid").as("pid"), col("f.px").as("px"), col("f.py").as("py"))),

    "q_shapefile" -> ((s, dir) => {
      // real vector-file ingestion (shapefile.py:68): supplier points
      // written as a spec-conform ESRI .shp, read back DISTRIBUTED via
      // the binaryFile source, coordinates recovered from the WKT rows
      val pts = supplierPoints(s, dir).orderBy("pid").collect()
        .map(r => graft.vector.Pt(r.getDouble(1), r.getDouble(2)))
      val shpDir = s"${System.getProperty("java.io.tmpdir")}/graft_shp"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(shpDir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$shpDir/supplier.shp"),
        graft.vector.Shapefile.writePoints(pts.toSeq))
      graft.vector.Shapefile.read(s, shpDir, "supplier.shp").select(
        col("idx"),
        regexp_extract(col("wkt"), "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 1)
          .cast("double").as("px"),
        regexp_extract(col("wkt"), "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 2)
          .cast("double").as("py"))
    }),

    "q_shapefile_rasterize" -> ((s, dir) => {
      // valued rasterize straight from a shapefile + dbf attribute
      // sidecar (the reference's feature path: geometry + attributes):
      // burn VAL with Max overlap priority through TileBuildAgg
      val rows = supplierPoints(s, dir).orderBy("pid").collect()
      val pts = rows.map(r => graft.vector.Pt(r.getDouble(1), r.getDouble(2)))
      val vals = rows.map(r => Seq(r.getLong(0).toString))
      val shpDir = s"${System.getProperty("java.io.tmpdir")}/graft_shp_feat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(shpDir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$shpDir/sup.shp"),
        graft.vector.Shapefile.writePoints(pts.toSeq))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$shpDir/sup.dbf"),
        graft.vector.Dbf.write(Seq(graft.vector.Dbf.Field("VAL", 'N', 18)), vals.toSeq))
      val feats = graft.vector.Shapefile.readFeatures(s, shpDir)
      val cells = feats.select(
        regexp_extract(col("wkt"), "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 1)
          .cast("double").as("px"),
        regexp_extract(col("wkt"), "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 2)
          .cast("double").as("py"),
        element_at(col("attrs"), "VAL").cast("double").as("v"))
        .select(floor(col("px")).cast("long").as("x"),
                floor(col("py")).cast("long").as("y"), col("v"))
      flat(RasterLayer.fromCells(cells, layout, CellOp.Max))
    }),

    // --- distances
    "q_euclidean_distance" -> ((s, dir) =>
      Distance.euclidean(s, supplierPoints(s, dir), layout)),

    "q_euclidean_allocation" -> ((s, dir) =>
      // nearest-source id per cell (gdal_proximity companion); exact
      // integer squared distances, ties to the smallest pid
      Distance.allocation(s, supplierPoints(s, dir), layout)),

    "q_idw" -> ((s, dir) =>
      // IDW surface from the supplier points (pv = pid % 97 + 1,
      // stated in the oracle); 16-cell radius, power 2, exact-hit rule
      Interpolate.idw(
        supplierPoints(s, dir).withColumn("value", col("pid") % 97 + 1),
        layout)),

    "q_voronoi" -> ((s, dir) => {
      // vector Voronoi cells (geotrellis VoronoiDiagram, r17 — the
      // Delaunay dual): supplier sites at .31/.74 offsets (no grid
      // center ever ties or sits on a cell edge — VoronoiSpec audits
      // the margins), cells built by all-pairs bisector clipping and
      // rasterized by containment; the oracle recomputes each cell
      // center's nearest site DIRECTLY — a dual computation
      import s.implicits._
      val sites = table(s, dir, "supplier").where(col("s_suppkey") <= 10)
        .select(col("s_suppkey").cast("long").as("pid"),
          ((col("s_suppkey") * 13) % 256 + lit(0.31)).cast("double").as("px"),
          ((col("s_suppkey") * 29) % 256 + lit(0.74)).cast("double").as("py"))
        .as[(Long, Double, Double)].collect().sortBy(_._1).toIndexedSeq
      val cells = graft.vector.Voronoi.cells(
        sites.map(p => graft.vector.Pt(p._2, p._3)), 0, 0, 256, 256)
      graft.raster.Rasterize.features(s,
          cells.map { case (i, poly) => (poly, sites(i)._1.toDouble) }, layout)
        .toCells.select(col("x"), col("y"), col("v").cast("long").as("pid"))
    }),

    "q_voronoi_dual" -> ((s, dir) => {
      // the SAME diagram through the Delaunay-dual scale path (r18):
      // cells from neighbor-only bisector clipping (cellsDual,
      // scale 100 for the .31/.74 offsets) — region-identical to the
      // all-pairs path by the duality theorem, so it shares
      // q_voronoi's nearest-site oracle verbatim
      import s.implicits._
      val sites = table(s, dir, "supplier").where(col("s_suppkey") <= 10)
        .select(col("s_suppkey").cast("long").as("pid"),
          ((col("s_suppkey") * 13) % 256 + lit(0.31)).cast("double").as("px"),
          ((col("s_suppkey") * 29) % 256 + lit(0.74)).cast("double").as("py"))
        .as[(Long, Double, Double)].collect().sortBy(_._1).toIndexedSeq
      val cells = graft.vector.Voronoi.cellsDual(
        sites.map(p => graft.vector.Pt(p._2, p._3)), 0, 0, 256, 256, scale = 100L)
      graft.raster.Rasterize.features(s,
          cells.map { case (i, poly) => (poly, sites(i)._1.toDouble) }, layout)
        .toCells.select(col("x"), col("y"), col("v").cast("long").as("pid"))
    }),

    "q_tin" -> ((s, dir) =>
      // Delaunay TIN over the 11 suppliers with pid <= 10 (fixed pid
      // formulas -> fixed triangulation, stated as literals in the
      // oracle), barycentric fill inside the hull
      Interpolate.tin(s,
        supplierPoints(s, dir).where(col("pid") <= 10)
          .withColumn("value", col("pid") % 97 + 1),
        layout)),

    "q_voronoi_dist" -> ((s, dir) => {
      // the SAME diagram with the cells built DISTRIBUTED (r20):
      // DelaunayDist.cells clips each site's box against its
      // distributed-triangulation neighbors in executors — shares
      // q_voronoi's nearest-site oracle verbatim (the q_voronoi_dual
      // precedent; regions are exact, vertex doubles at worst
      // last-ulp different, audited off every cell-center decision)
      import s.implicits._
      val sites = table(s, dir, "supplier")
        .where(col("s_suppkey") <= 10) // ELEVEN sites, like q_voronoi
        .select(col("s_suppkey").cast("long").as("id"),
          ((col("s_suppkey") * 13) % 256 + lit(0.31)).cast("double").as("x"),
          ((col("s_suppkey") * 29) % 256 + lit(0.74)).cast("double").as("y"))
      val cells = graft.vector.DelaunayDist
        .cells(s, sites, 100L, 0, 0, 256, 256)
        .as[(Long, Seq[Double], Seq[Double])].collect()
      graft.raster.Rasterize.features(s,
          cells.toSeq.map { case (id, xs, ys) =>
            (graft.vector.Polygon(
              xs.zip(ys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq),
              id.toDouble) }, layout)
        .toCells.select(col("x"), col("y"), col("v").cast("long").as("pid"))
    }),

    "q_delaunay_dist" -> ((s, dir) => {
      // DISTRIBUTED Delaunay (r20 — the past-MaxSitesDual scale path):
      // grid-bucketed local stars + exact BigInt disk/fan certificates
      // (vector.DelaunayDist), sites from the supplier table at the
      // q_voronoi .31/.74 offsets. The oracle restates the DRIVER
      // Bowyer-Watson's triples — an independent-algorithm pairing
      // (local insertion order vs certified distributed stars), not a
      // self-restatement.
      val sites = table(s, dir, "supplier")
        .where(col("s_suppkey").between(1, 10))
        .select(col("s_suppkey").cast("long").as("id"),
          ((col("s_suppkey") * 13) % 256 + lit(0.31)).cast("double").as("x"),
          ((col("s_suppkey") * 29) % 256 + lit(0.74)).cast("double").as("y"))
      graft.vector.DelaunayDist.triangulate(s, sites, 100L)
        .orderBy("a", "b", "c")
    }),

    "q_geom_measures" -> ((s, dir) => {
      // two polygon families per supplier point: a diamond (radius
      // pid%5+1) and a right triangle (legs pid%4+1, pid%6+1); the
      // oracle checks the shoelace pipeline against CLOSED FORMS —
      // an independent derivation, not a restatement
      val p = supplierPoints(s, dir)
        .select(col("pid"), col("px"), col("py"),
          (pmod(col("pid"), lit(5)) + 1).cast("double").as("r"),
          (pmod(col("pid"), lit(4)) + 1).cast("double").as("a"),
          (pmod(col("pid"), lit(6)) + 1).cast("double").as("b"))
      val diamonds = p.select(col("pid"), lit("diamond").as("shape"),
        array(col("px") + col("r"), col("px"), col("px") - col("r"), col("px"), col("px") + col("r")).as("xs"),
        array(col("py"), col("py") + col("r"), col("py"), col("py") - col("r"), col("py")).as("ys"))
      val tris = p.select(col("pid"), lit("triangle").as("shape"),
        array(col("px"), col("px") + col("a"), col("px"), col("px")).as("xs"),
        array(col("py"), col("py"), col("py") + col("b"), col("py")).as("ys"))
      graft.vector.Measures.measures(diamonds.unionByName(tris))
    }),

    "q_kernel_density" -> ((s, dir) =>
      // Epanechnikov-parabola kernel stamps from the supplier points
      // (pv = pid % 97 + 1); exact integer densities
      Interpolate.kernelDensity(
        supplierPoints(s, dir).withColumn("value", col("pid") % 97 + 1),
        layout)),

    "q_vectorize" -> ((s, dir) =>
      // geotrellis vectorize, summary form: per-region area/perimeter/
      // bbox over the same labeled components as q_region_group
      graft.raster.RegionGroup.vectorize(
        graft.raster.RegionGroup.regionGroup(
          lineitemCells(s, dir).select(col("x"), col("y"), col("v").cast("long").as("vv"))
            .where(pmod(col("vv"), lit(4)) === 0)
            .select(col("x"), col("y"), pmod(col("vv"), lit(3)).as("cls")),
          gridCols = G))),

    "q_kriging" -> ((s, dir) => {
      // simple kriging from 6 supplier points (key-derived integral
      // coords, z = acctbal): fit driver-side (unpivoted elimination,
      // op order mirrored by the unrolled-SQL oracle), predict as one
      // per-cell expression over a dense 64x64 grid
      val zs = table(s, dir, "supplier")
        .where(col("s_suppkey").between(1, 6)) // keys start at 0 in this data
        .orderBy("s_suppkey").select(col("s_suppkey"), col("s_acctbal"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val pts = zs.map { case (k, z) =>
        ((k * 13 % 64).toDouble, (k * 29 % 64).toDouble, z) }
      Interpolate.simpleKriging(s, pts, 64, 48.0, 0.01)
    }),

    "q_kriging_ordinary" -> ((s, dir) => {
      // ordinary kriging over the same 6 supplier points: augmented
      // (constraint) system solved driver-side, dual constant folded
      // into the per-cell prediction expression
      val zs = table(s, dir, "supplier")
        .where(col("s_suppkey").between(1, 6))
        .orderBy("s_suppkey").select(col("s_suppkey"), col("s_acctbal"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val pts = zs.map { case (k, z) =>
        ((k * 13 % 64).toDouble, (k * 29 % 64).toDouble, z) }
      Interpolate.ordinaryKriging(s, pts, 64, 48.0, 0.01)
    }),

    "q_local_nary" -> ((s, dir) =>
      // N-ary local algebra (Variety/Majority/Minority/Mean) across
      // three layers; the part grid misses whole tiles, exercising the
      // full-outer missing-tile NoData path
      lineitemLayer(s, dir).localStats(
        Seq(ordersLayer(s, dir), partLayer(s, dir)))),

    "q_region_group" -> ((s, dir) =>
      // 4-connected components of equal-class cells on a SPARSE grid
      // (v%4==0 activity, v%3 class — subcritical site density, so
      // regions stay small and the recursive-CTE oracle stays bounded)
      graft.raster.RegionGroup.regionGroup(
        lineitemCells(s, dir).select(col("x"), col("y"), col("v").cast("long").as("vv"))
          .where(pmod(col("vv"), lit(4)) === 0)
          .select(col("x"), col("y"), pmod(col("vv"), lit(3)).as("cls")),
        gridCols = G)),

    "q_landscape" -> ((s, dir) =>
      // FRAGSTATS class-level metrics over the q_region_group labels:
      // patch count / class area / largest patch / total edge exact,
      // mean patch size micro-quantized
      graft.raster.RegionGroup.landscapeMetrics(
        graft.raster.RegionGroup.regionGroup(
          lineitemCells(s, dir).select(col("x"), col("y"), col("v").cast("long").as("vv"))
            .where(pmod(col("vv"), lit(4)) === 0)
            .select(col("x"), col("y"), pmod(col("vv"), lit(3)).as("cls")),
          gridCols = G))),

    "q_flow_direction" -> ((s, dir) =>
      // ESRI D8 over the lineitem elevation grid; NoData holes are
      // walls, pits/flats code 0
      graft.raster.Hydrology.flowDirection(lineitemCells(s, dir), G, G)),

    "q_sieve" -> ((s, dir) =>
      // gdal_sieve single pass over the q_region_group labels: regions
      // under 3 cells adopt the class of their largest 4-adjacent
      // region (ties -> smallest region id); isolated islands keep cls
      graft.raster.RegionGroup.sieve(
        graft.raster.RegionGroup.regionGroup(
          lineitemCells(s, dir).select(col("x"), col("y"), col("v").cast("long").as("vv"))
            .where(pmod(col("vv"), lit(4)) === 0)
            .select(col("x"), col("y"), pmod(col("vv"), lit(3)).as("cls")),
          gridCols = G),
        minSize = 3)),

    "q_flow_accum" -> ((s, dir) =>
      // upstream drainage counts along the D8 graph (unit weights);
      // hash-noise terrain keeps flow paths short (depth ~6 at sf0.01)
      graft.raster.Hydrology.flowAccumulation(lineitemCells(s, dir), G, G)),

    "q_flow_accum_dist" -> ((s, dir) =>
      // r17: the SAME walk FORCED through the distributed token-walk
      // loop (maxDriverEdges = 0) — exact-equal to the driver path,
      // so it shares q_flow_accum's oracle SQL verbatim (the
      // q_spatial_join_grid precedent for guarded fallbacks)
      graft.raster.Hydrology.flowAccumulation(lineitemCells(s, dir), G, G,
        maxDriverEdges = 0)),

    "q_snap_pour" -> ((s, dir) =>
      // ArcGIS SnapPourPoint: each outlet moves to the max-accumulation
      // cell within Chebyshev 2 of its own cell (ties north-then-west)
      graft.raster.Hydrology.snapPourPoints(
        supplierPoints(s, dir).filter(col("pid").between(1, 12)),
        graft.raster.Hydrology.flowAccumulation(lineitemCells(s, dir), G, G),
        radius = 2)),

    "q_twi" -> ((s, dir) => {
      // topographic wetness index ln((acc+1) / max(tan(slope), 1e-3))
      // (Beven & Kirkby 1979) — a COMPOSITION of flow accumulation and
      // the Horn slope over the same grid; only full-window cells emit
      val acc = graft.raster.Hydrology.flowAccumulation(lineitemCells(s, dir), G, G)
      val slope = lineitemLayer(s, dir).slope().toCells
        .select(col("x"), col("y"), col("v").as("sdeg"))
      acc.join(slope, Seq("x", "y"))
        .select(col("x"), col("y"),
          uq(log((col("acc") + lit(1L)).cast("double") /
            greatest(tan(radians(col("sdeg"))), lit(0.001)))).as("twi_u"))
    }),

    "q_watershed" -> ((s, dir) =>
      // drainage-basin labels: every cell takes its terminal pit's
      // linear id (pointer doubling above the driver-walk guard)
      graft.raster.Hydrology.watershed(lineitemCells(s, dir), G, G)),

    "q_watershed_dist" -> ((s, dir) =>
      // r17 forced-distributed twin: pointer doubling with guard 0,
      // shares q_watershed's oracle verbatim
      graft.raster.Hydrology.watershed(lineitemCells(s, dir), G, G,
        maxDriverEdges = 0)),

    "q_stream_order" -> ((s, dir) =>
      // Strahler order over the full D8 forest (fixpoint above the
      // guarded topological driver pass)
      graft.raster.Hydrology.streamOrder(lineitemCells(s, dir), G, G)),

    "q_stream_order_dist" -> ((s, dir) =>
      // r17 forced-distributed twin: the Strahler fixpoint loop with
      // guard 0, shares q_stream_order's oracle verbatim
      graft.raster.Hydrology.streamOrder(lineitemCells(s, dir), G, G,
        maxDriverEdges = 0)),

    "q_flow_length" -> ((s, dir) =>
      // downstream flow length in exact micro-cell integers (sqrt(2)
      // diagonals quantized; distance-accumulating pointer doubling)
      graft.raster.Hydrology.flowLength(lineitemCells(s, dir), G, G)),

    "q_flow_length_dist" -> ((s, dir) =>
      // r17 forced-distributed twin: distance-accumulating pointer
      // doubling with guard 0, shares q_flow_length's oracle verbatim
      graft.raster.Hydrology.flowLength(lineitemCells(s, dir), G, G,
        maxDriverEdges = 0)),

    "q_viewshed" -> ((s, dir) =>
      // observer tower at (128,128), eye elevation 100, 24-cell radius
      graft.raster.Viewshed.viewshed(lineitemCells(s, dir),
        ox = 128, oy = 128, zObs = 100)),

    "q_cost_distance" -> ((s, dir) =>
      // friction normalized to [1, 10] => every edge costs >= 1, so
      // maxCost=32 is provably converged by 32 Bellman-Ford rounds —
      // that bound is what makes the unrolled DuckDB oracle exact
      Distance.costDistanceTiled(lineitemLayer(s, dir).normalize(1.0, 10.0),
        supplierPoints(s, dir), maxCost = CostDistanceMaxCost).toCells
        .select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_corridor" -> ((s, dir) =>
      // ArcGIS Corridor: costA + costB over one friction surface;
      // each side's optimal-path folds are bit-identical to the
      // oracle's (q_cost_distance precedent), so the sum is too
      // pids 79 apart land (3, -13) cells apart on the scatter
      // (13·79 ≡ 3, 29·79 ≡ -13 mod 256); 3/82 is the pair whose
      // cells BOTH exist in the 60%-dense grid, so the two maxCost
      // disks genuinely overlap (95 corridor cells at sf0.01)
      Distance.corridor(lineitemLayer(s, dir).normalize(1.0, 10.0),
          supplierPoints(s, dir).filter(col("pid") === 3),
          supplierPoints(s, dir).filter(col("pid") === 82),
          maxCost = CostDistanceMaxCost).toCells
        .select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_cost_path" -> ((s, dir) =>
      // least-cost path from the farthest reachable cell back to its
      // source — the walk is driver-side over the maxCost disk; the
      // oracle replays it as a single-row recursive CTE
      Distance.costPath(lineitemLayer(s, dir).normalize(1.0, 10.0),
        supplierPoints(s, dir), maxCost = CostDistanceMaxCost)),

    "q_cost_path_dist" -> ((s, dir) =>
      // r17: the SAME path FORCED through the distributed backtrack
      // (maxDriverCells = 0): next-hop argmin forest + pointer-
      // doubling chain extraction — row-identical, shares the oracle
      Distance.costPath(lineitemLayer(s, dir).normalize(1.0, 10.0),
        supplierPoints(s, dir), maxCost = CostDistanceMaxCost,
        maxDriverCells = 0)),

    // --- statistics
    "q_histogram" -> ((s, dir) => HistogramOps.binCounts(lineitemLayer(s, dir))),
    // exact: the CDF remap is all-integer ((cum-cmin)*255 div range)
    "q_equalize" -> ((s, dir) =>
      flat(HistogramOps.equalize(lineitemLayer(s, dir)))),
    "q_hist_match" -> ((s, dir) =>
      // geotrellis HistogramMatching: remap lineitem values onto the
      // orders grid's distribution; all-integer cross-multiplied CDFs
      flat(HistogramOps.matchHistogram(lineitemLayer(s, dir), ordersLayer(s, dir)))),
    "q_histogram_merge" -> ((s, dir) =>
      // reference Histogram.merge: one histogram covering BOTH layers'
      // ranges — bins from the combined min/max over the unioned cells
      HistogramOps.mergedBinCounts(lineitemLayer(s, dir), ordersLayer(s, dir))),
    "q_min_max" -> ((s, dir) => {
      val st = HistogramOps.stats(lineitemLayer(s, dir))
      st.select(col("vmin"), col("vmax"), col("vcount"), col("vmean"))
    }),
    "q_quantile_breaks" -> ((s, dir) =>
      HistogramOps.quantileBreaks(lineitemLayer(s, dir), Seq(0.25, 0.5, 0.75))),

    "q_quantile_breaks_int" -> ((s, dir) =>
      HistogramOps.quantileBreaksExactInt(lineitemLayer(s, dir), Seq(0.25, 0.5, 0.75))),

    "q_quantile_degrade" -> ((s, dir) =>
      // r16 degrade path FORCED (maxDistinct = 1): same rank selection
      // over the deterministic md5 cell-hash sample at 137 permille
      HistogramOps.quantileBreaksExactInt(lineitemLayer(s, dir),
        Seq(0.25, 0.5, 0.75), maxDistinct = 1, samplePermille = 137)),

    "q_equalize_degrade" -> ((s, dir) =>
      // r16 degrade path FORCED: 64-bucket quantized CDF remap
      flat(HistogramOps.equalize(lineitemLayer(s, dir),
        maxDistinct = 1, quantBuckets = 64))),

    "q_hist_match_degrade" -> ((s, dir) =>
      // r16 degrade path FORCED on both sides: bucket CDFs, smallest
      // real member value as each bucket's representative
      flat(HistogramOps.matchHistogram(lineitemLayer(s, dir), ordersLayer(s, dir),
        maxDistinct = 1, quantBuckets = 64))),

    "q_histogram_cdf" -> ((s, dir) => HistogramOps.cdf(lineitemLayer(s, dir))),

    "q_resample_bilinear" -> ((s, dir) => {
      // tile-wise gather path (one keyed shuffle); same math as
      // Resample.bilinearCells, same oracle
      val r = Resample.bilinearTiled(lineitemLayer(s, dir), G, 200, dstTile = 50)
      r.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_resample_cubic" -> ((s, dir) => {
      // cubic-convolution (Keys a=-0.5) through the same tile-wise
      // gather; normalized 4x4 window, all-16-taps-present convention.
      // MICRO-QUANTIZED closing (v_u = round(v*1e5) as BIGINT): the
      // old round(v,5) DOUBLE hit the Spark-decimal vs DuckDB-float
      // divergence on 9-digit values at sf0.1 (6 cells of 39k)
      val r = Resample.kernelTiled(lineitemLayer(s, dir), G, 200,
        Resample.Kernel.CubicConvolution, dstTile = 50)
      r.toCells.select(col("x"), col("y"),
        round(col("v") * lit(100000.0)).cast("long").as("v_u"))
    }),

    "q_resample_average" -> ((s, dir) =>
      Resample.aggregateCells(lineitemLayer(s, dir), G, 64, "Average")),

    "q_resample_sum" -> ((s, dir) =>
      Resample.aggregateCells(lineitemLayer(s, dir), G, 64, "Sum")),

    "q_resample_mode" -> ((s, dir) =>
      Resample.aggregateCells(lineitemLayer(s, dir), G, 64, "Mode")),

    "q_resample_max" -> ((s, dir) =>
      Resample.aggregateCells(lineitemLayer(s, dir), G, 64, "Max")),

    "q_resample_median" -> ((s, dir) =>
      Resample.aggregateCells(lineitemLayer(s, dir), G, 64, "Median")
        .select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    // --- pyramid / stitch
    "q_pyramid" -> ((s, dir) => flat(Pyramid.levelUp(lineitemLayer(s, dir), "Average"))),

    "q_pyramid_hist" -> ((s, dir) =>
      // per-level histogram (layer.py:2641 get_histogram over a
      // pyramid level): bin counts of the levelUp layer
      HistogramOps.binCounts(Pyramid.levelUp(lineitemLayer(s, dir), "Average"))),

    "q_pyramid_arith" -> ((s, dir) =>
      // per-level local arithmetic (layer.py:2693): map algebra applies
      // to a pyramid level exactly as to the base layer
      flat((Pyramid.levelUp(lineitemLayer(s, dir), "Average") + 10.0) * 2.0)),

    "q_pyramid_time" -> ((s, dir) =>
      // temporal pyramid: each instant downsamples independently; avg
      // of <=4 integral sums is a divide-by-power-of-2, exact in both
      // engines
      Pyramid.levelUp(
        RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64),
        "Average").toCells),

    "q_cell_trend" -> ((s, dir) =>
      // per-cell least-squares slope of v over the 3 instants; five
      // exact integer moments, one closing division
      RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
        .temporalTrend().toCells
        .select(col("x"), col("y"), col("v").as("slope"))),

    "q_mann_kendall" -> ((s, dir) =>
      // nonparametric per-cell trend: Mann-Kendall S + Sen's slope
      // over the instant stack (exact S; slope = one IEEE division,
      // odd pair counts select the median exactly)
      TimeSeries.mannKendall(
        RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64))),

    "q_temporal_argmax" -> ((s, dir) => {
      // greenest-pixel composite: per-cell max value + the instant
      // achieving it (ties -> smallest instant)
      val (mx, arg) = RasterLayer
        .fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
        .temporalArgmax()
      mx.toCells.select(col("x"), col("y"), col("v").as("vmax"))
        .join(arg.toCells.select(col("x"), col("y"), col("v").cast("long").as("tmax")),
          Seq("x", "y"))
    }),

    "q_stitch" -> ((s, dir) => {
      val one = RasterLayer.fromCells(flat(lineitemLayer(s, dir)),
        core.LayoutDefinition(layout.extent, core.TileLayout(1, 1, G, G)))
      one.toCells
    }),

    // --- CRS / keys / index
    "q_reproject" -> ((s, dir) =>
      customerLonLat(s, dir).select(col("pid"),
        uq(CRS.lngToMercXCol(col("lon")), 10000.0).as("mx_u"),
        uq(CRS.latToMercYCol(col("lat")), 10000.0).as("my_u"))),

    "q_reproject_utm" -> ((s, dir) => {
      // arbitrary-CRS surface (layer.py:876 takes any target_crs):
      // ellipsoidal Transverse Mercator, UTM zone 33N, over the
      // customer points near the zone (|dlon| <= 15 deg keeps the
      // Krüger series in its accurate domain). The formula STEPS are
      // one shared SQL text (CRS.forwardSqlSteps) evaluated by expr()
      // here and as a CTE chain in the oracle — the twins cannot
      // drift. The 1e4 quantum (0.1 mm) absorbs last-ulp libm
      // differences; closing micro-quantized to BIGINT (r18).
      val (steps, eE, nE) = graft.core.CRS.TransverseMercator.forwardSqlSteps(33, south = false)
      val base = customerLonLat(s, dir).where(col("lon") >= 0 && col("lon") <= 30)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_utm_u"), uq(expr(nE), 10000.0).as("n_utm_u"))
    }),

    "q_reproject_polar" -> ((s, dir) => {
      // polar-grid surface (EPSG:3413, the NSIDC Arctic grid): customer
      // points above 60N through the ellipsoidal Polar Stereographic
      // forward — same one-SQL-text-two-engines contract as
      // q_reproject_utm
      val ps = graft.core.CRS.fromName("EPSG:3413")
        .asInstanceOf[graft.core.CRS.PolarStereographic]
      val (steps, eE, nE) = ps.forwardSqlSteps
      val base = customerLonLat(s, dir).where(col("lat") >= 60)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_ps_u"), uq(expr(nE), 10000.0).as("n_ps_u"))
    }),

    "q_warp_bilinear" -> ((s, dir) => {
      // general-CRS tiled warp (reprojectTiled) with BILINEAR
      // resampling (r15) on an identity transform + resolution change
      // (256 -> 200 cols, the boundary-safe 32/25 ratio): the whole
      // sampling chain is rational arithmetic, so the oracle restates
      // it with no transcendentals at all — the strongest oracle the
      // general gather machinery gets. The non-identity CRS legs are
      // covered by the point-transform oracles + ReprojectSpec.
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val dst = LayoutDefinition(Extent(0, 0, 256, 256), TileLayout(4, 4, 50, 50))
      Reproject.reprojectTiled(lineitemLayer(s, dir), CRS.LatLng, CRS.LatLng,
          dst, method = "Bilinear")
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_reproject_osgb" -> ((s, dir) => {
      // EPSG:27700 British National Grid — generic +proj=tmerc (Airy
      // 1830 ellipsoid, lat_0=49, k0=0.9996012717, false origin) plus
      // the published 7-param WGS84->OSGB36 Helmert; the full datum +
      // Krüger chain is ONE shared SQL text (Tmerc.forwardSqlSteps,
      // datum fixed point unrolled to the same 6 rounds) evaluated by
      // expr() here and as a CTE chain in the oracle. |dl| <= 18 deg
      // keeps the series honest; the 1e4 quantum (0.1 mm) absorbs
      // libm ulps, closing micro-quantized to BIGINT (r18).
      val (steps, eE, nE) = graft.core.CRS.Osgb36.forwardSqlSteps
      val base = customerLonLat(s, dir).where(col("lon") >= -20 && col("lon") <= 16 &&
        col("lat") >= 35 && col("lat") <= 75)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_osgb_u"), uq(expr(nE), 10000.0).as("n_osgb_u"))
    }),

    "q_reproject_albers" -> ((s, dir) => {
      // CONUS Albers Equal-Area (EPSG:5070, the standard US
      // continental-analysis CRS) over the customer points inside the
      // cone's designed window — same one-SQL-text-two-engines
      // contract as q_reproject_utm; 1e4 quantum = 0.1 mm
      val aea = graft.core.CRS.fromName("EPSG:5070")
        .asInstanceOf[graft.core.CRS.AlbersEqualArea]
      val (steps, eE, nE) = aea.forwardSqlSteps
      val base = customerLonLat(s, dir).where(
        col("lon") >= -130 && col("lon") <= -60 && col("lat") >= 20 && col("lat") <= 55)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_aea_u"), uq(expr(nE), 10000.0).as("n_aea_u"))
    }),

    "q_reproject_lambert93" -> ((s, dir) => {
      // RGF93 / Lambert-93 (EPSG:2154, the French national grid) —
      // LCC registered by NUMBER (r16); same one-SQL-text contract
      val l93 = graft.core.CRS.fromName("EPSG:2154")
        .asInstanceOf[graft.core.CRS.LambertConformalConic]
      val (steps, eE, nE) = l93.forwardSqlSteps
      val base = customerLonLat(s, dir).where(
        col("lon") >= -10 && col("lon") <= 15 && col("lat") >= 38 && col("lat") <= 55)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_l93_u"), uq(expr(nE), 10000.0).as("n_l93_u"))
    }),

    "q_reproject_nztm" -> ((s, dir) => {
      // NZGD2000 / NZTM2000 (EPSG:2193) — generic tmerc on GRS80
      // registered by NUMBER (r16)
      val nztm = graft.core.CRS.fromName("EPSG:2193")
        .asInstanceOf[graft.core.CRS.Tmerc]
      val (steps, eE, nE) = nztm.forwardSqlSteps
      val base = customerLonLat(s, dir).where(
        col("lon") >= 165 && col("lon") <= 180 && col("lat") >= -48 && col("lat") <= -34)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_nztm_u"), uq(expr(nE), 10000.0).as("n_nztm_u"))
    }),

    "q_reproject_laea" -> ((s, dir) => {
      // ETRS89-extended / LAEA Europe (EPSG:3035, the pan-European
      // statistical grid) — Snyder §24 ellipsoidal (r16)
      val laea = graft.core.CRS.fromName("EPSG:3035")
        .asInstanceOf[graft.core.CRS.LambertAzimuthalEqualArea]
      val (steps, eE, nE) = laea.forwardSqlSteps
      val base = customerLonLat(s, dir).where(
        col("lon") >= -15 && col("lon") <= 35 && col("lat") >= 30 && col("lat") <= 72)
      val full = steps.foldLeft(base) { case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_laea_u"), uq(expr(nE), 10000.0).as("n_laea_u"))
    }),

    "q_reproject_cea" -> ((s, dir) => {
      // EASE-Grid 2.0 Global (EPSG:6933, cylindrical equal-area
      // lat_ts 30) over ALL customer points — Snyder §10 (r16)
      val cea = graft.core.CRS.fromName("EPSG:6933")
        .asInstanceOf[graft.core.CRS.CylindricalEqualArea]
      val (steps, eE, nE) = cea.forwardSqlSteps
      val full = steps.foldLeft(customerLonLat(s, dir)) {
        case (df, (name, f)) => df.withColumn(name, expr(f)) }
      full.select(col("pid"),
        uq(expr(eE), 10000.0).as("e_cea_u"), uq(expr(nE), 10000.0).as("n_cea_u"))
    }),

    "q_reproject_sinu" -> ((s, dir) => {
      // MODIS sinusoidal sphere (+proj=sinu +R=6371007.181) over ALL
      // customer points — the spherical forward is exact everywhere
      val sinu = graft.core.CRS
        .fromName("+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +R=6371007.181")
        .asInstanceOf[graft.core.CRS.Sinusoidal]
      val (steps, eE, nE) = sinu.forwardSqlSteps
      // 1e3 quantum, not the family's 1e4: the r14 boundary sweep found
      // a sf0.01 point EXACTLY on a 4-dp half boundary (slack 0 ulps —
      // one libm ulp flips it); at 3 dp the minimum slack is 95 ulps
      // (LibmBoundarySpec gates it)
      val full = steps.foldLeft(customerLonLat(s, dir)) {
        case (df, (name, f)) => df.withColumn(name, expr(f))
      }
      full.select(col("pid"),
        uq(expr(eE), 1000.0).as("e_sinu_u"), uq(expr(nE), 1000.0).as("n_sinu_u"))
    }),

    "q_reproject_raster" -> ((s, dir) =>
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1).toCells),

    "q_resample_area" -> ((s, dir) =>
      // fractional-ratio area-weighted average (gdalwarp -r average):
      // 256 -> 200 with exact integer overlap weights, one division
      Resample.areaAverageTiled(lineitemLayer(s, dir), 256, 200, dstTile = 50)
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_reproject_bilinear" -> ((s, dir) =>
      // warp with bilinear resampling onto a 200-col target grid (the
      // 32/25 resolution ratio keeps gx - 0.5 provably off every floor
      // boundary — mercator x is linear in lon, so 1:1 resolution
      // would put EVERY sample an ulp from one); 4-corner weighted
      // sums of non-integral products -> round both sides
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1,
          dstTile = 50, bilinear = true, dstCols = 200)
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_read_to_layout" -> ((s, dir) => {
      // ONE-CALL scene ingest (r18 — reference vlm/RasterSource
      // .scala:89 get / rasterio.py:72): lineitem grid georeferenced
      // to 0.1-degree cells -> per-tile GeoTiff scene blobs ->
      // Ingest.readToLayout composes decode -> metadata-snapped cut
      // -> general tiled warp (EPSG:4326 -> EPSG:3857, Bilinear) in
      // one call. Shares q_reproject_bilinear's oracle: the general
      // gather samples the identical inverse chain (normLon is exact
      // identity in-range, x - 0.0 = x), and the 32/25 resolution
      // ratio keeps every gx - 0.5 off floor boundaries so the
      // metadata-roundtripped cell size (last-ulp of 0.1) cannot
      // move a corner choice.
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val degLayout = LayoutDefinition(Extent(0, 0, 25.6, 25.6), TileLayout(4, 4, 64, 64))
      val l = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % G).as("x"), (col("l_partkey") % G).as("y"),
          col("l_quantity").as("v")),
        degLayout, CellOp.Sum)
      val scenes = GeoTiff.toGeoTiff(l)
        .select((col("col").cast("long") * 4 + col("row")).as("scene_id"), col("tiff"))
      val dst = graft.raster.Ingest.mercatorLayout(0, 0, 25.6, 25.6, 200, 200, 50)
      graft.raster.Ingest.readToLayout(scenes, "geotiff", dst,
          srcCrs = "EPSG:4326", dstCrs = "EPSG:3857", method = "Bilinear")
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_reproject_cubic" -> ((s, dir) => {
      // Keys a=-0.5 bicubic warp. Source is the DENSER 128-grid (~97%
      // occupancy at sf0.01 vs ~60% for the 256-grid) so the 16-tap
      // full-window rule leaves thousands of checkable cells; target
      // 100 cols keeps the boundary-safe 32/25 ratio (bilinear's
      // argument). 16-tap weighted sums of non-integral products ->
      // round both sides, term order pinned to the SQL twin.
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      Reproject.latLngGridToWebMercatorTiled(l128, 0.1,
          dstTile = 50, dstCols = 100, method = "CubicConvolution")
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_reproject_bspline" -> ((s, dir) => {
      // cubic B-SPLINE warp (gdalwarp -r cubicspline): same 4x4
      // window and 128-grid as q_reproject_cubic, approximating
      // kernel — the smoothing companion of the interpolating Keys
      // cubic; identical oracle discipline
      import graft.core.{Extent, LayoutDefinition, TileLayout}
      val l128 = RasterLayer.fromCells(
        table(s, dir, "lineitem").select(
          (col("l_orderkey") % 128).as("x"), (col("l_partkey") % 128).as("y"),
          col("l_quantity").as("v")),
        LayoutDefinition(Extent(0, 0, 128, 128), TileLayout(2, 2, 64, 64)),
        graft.raster.CellOp.Sum)
      Reproject.latLngGridToWebMercatorTiled(l128, 0.1,
          dstTile = 50, dstCols = 100, method = "CubicSpline")
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_reproject_average" -> ((s, dir) =>
      // gdalwarp -r average: mean of source cells whose centers fall
      // in the target cell's inverse-projected footprint; integral v
      // -> exact order-free sums, one division, round 5
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1,
          dstTile = 50, dstCols = 200, method = "Average")
        .toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))),

    "q_reproject_mode" -> ((s, dir) =>
      // footprint Mode, ties -> smallest value; selection of an exact
      // grid value, no rounding needed
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1,
          dstTile = 50, dstCols = 200, method = "Mode").toCells),

    "q_reproject_median" -> ((s, dir) =>
      // footprint Median (quantile_cont rule: interpolate the two
      // middles); integral v -> the .5 interpolation is exact binary
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1,
          dstTile = 50, dstCols = 200, method = "Median").toCells),

    "q_reproject_max" -> ((s, dir) =>
      // footprint Max — order-free selection, exact
      Reproject.latLngGridToWebMercatorTiled(lineitemLayer(s, dir), 0.1,
          dstTile = 50, dstCols = 200, method = "Max").toCells),

    "q_zoom_keys" -> ((s, dir) => {
      val p = customerLonLat(s, dir)
      val (tx, ty) = CRS.tmsTileCol(col("lon"), col("lat"), 10)
      p.select(col("pid"), tx.as("tx"), ty.as("ty"))
    }),

    "q_clip" -> ((s, dir) => {
      // Sutherland-Hodgman clip of the fixture diamonds to the
      // (64,64)-(192,192) window; report vertex count + shoelace area
      import s.implicits._
      graft.vector.Clip.clipPolygons(
          clipFixtures.toDF("pid", "xs", "ys"), 64, 64, 192, 192)
        .select(col("pid"), col("n"), uq(col("area")).as("area_u"))
    }),

    "q_poly_intersect" -> ((s, dir) => {
      // general convex-clip Sutherland-Hodgman = polygon INTERSECTION
      // (r15): fixture diamonds x the hexagon; per-row transform, no
      // shuffle; literal-restating oracle (q_clip precedent)
      import s.implicits._
      graft.vector.Clip.intersectConvex(
          clipFixtures.toDF("pid", "xs", "ys"), hexClip)
        .select(col("pid"), col("n"), uq(col("area")).as("area_u"))
    }),

    "q_poly_union" -> ((s, dir) => {
      // union AREA by inclusion-exclusion over the intersection op
      // (exact for the convex fixtures)
      import s.implicits._
      graft.vector.Clip.unionAreaConvex(
          clipFixtures.toDF("pid", "xs", "ys"), hexClip)
        .select(col("pid"), uq(col("area_union")).as("area_union_u"))
    }),

    "q_poly_intersect_concave" -> ((s, dir) => {
      // GENERAL concave x concave intersection (r16): signed convex
      // decomposition (Overlay) — star fixtures x the plus-sign clip;
      // per-row transform, no shuffle; literal-restating oracle
      import s.implicits._
      graft.vector.Overlay.intersect(
          concaveFixtures.toDF("pid", "xs", "ys"), crossClip)
        .select(col("pid"), col("n_pieces"), uq(col("area")).as("area_u"))
    }),

    "q_poly_union_concave" -> ((s, dir) => {
      // general concave union area by inclusion-exclusion on the
      // signed piece algebra
      import s.implicits._
      graft.vector.Overlay.unionWith(
          concaveFixtures.toDF("pid", "xs", "ys"), crossClip)
        .select(col("pid"), uq(col("area_union")).as("area_union_u"))
    }),

    "q_poly_difference_concave" -> ((s, dir) => {
      // JTS difference + symDifference on the same algebra (r16)
      import s.implicits._
      graft.vector.Overlay.differenceFrom(
          concaveFixtures.toDF("pid", "xs", "ys"), crossClip)
        .select(col("pid"), uq(col("area_diff")).as("area_diff_u"),
          uq(col("area_symdiff")).as("area_symdiff_u"))
    }),

    "q_semivariogram" -> ((s, dir) =>
      // Matheron variogram over supplier points, v = pid*7 % 23
      graft.vector.PointStats.semivariogram(
        supplierPoints(s, dir).withColumn("v",
          (col("pid") * 7 % 23).cast("double")))),

    "q_clark_evans" -> ((s, dir) =>
      // nearest-neighbor aggregation index on the 256x256 frame
      graft.vector.PointStats.clarkEvans(supplierPoints(s, dir), 65536.0)),

    "q_zorder" -> ((s, dir) =>
      supplierPoints(s, dir).select(col("pid"),
        ZIndex.zorderCol(floor(col("px")).cast("long"), floor(col("py")).cast("long"), 8).as("zindex"))),

    "q_geohash" -> ((s, dir) =>
      // grid cells -> exact degree coords (px*45/32, py*45/64 are
      // exact doubles, so the quantizer lands mid-cell — no
      // floor-boundary hazard), precision-6 base32 keys
      supplierPoints(s, dir).select(col("pid"),
        Geohash.geohashCol(
          floor(col("py")) * lit(0.703125) - lit(90.0),
          floor(col("px")) * lit(1.40625) - lit(180.0), 6).as("gh"))),

    "q_surface_volume" -> ((s, dir) =>
      // ArcGIS SurfaceVolume vs the z=30 reference plane: exact
      // integer volumes, unit cell area
      Compare.surfaceVolume(lineitemLayer(s, dir), 30.0)),

    // --- catalog
    "q_catalog_roundtrip" -> ((s, dir) => {
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "lineitem_rt", lineitemLayer(s, dir), zoom = 4)
      flat(Catalog.read(s, uri, "lineitem_rt", zoom = 4))
    }),

    "q_gt_read" -> ((s, dir) => {
      // GeoTrellis-store payload bridge (r19, reference catalog.py:74
      // read_value / catalog.py:117 query): export the grid layer as a
      // byte-level geotrellis FileLayerWriter store (blob "metadata"
      // attribute, zorder key index, one Avro KeyValueRecord datum per
      // tile), then read the payloads back DISTRIBUTED through the
      // self-describing stored schema — identity on the grid
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_gt_store"
      graft.catalog.GeoTrellisStore.writeLayer(uri, "lineitem_gt",
        lineitemLayer(s, dir))
      flat(graft.catalog.GeoTrellisStore.readLayer(s, uri,
        graft.catalog.GeoTrellisStore.GtLayerId("lineitem_gt", 0)))
    }),

    "q_gt_read_hadoop" -> ((s, dir) => {
      // hadoop-layout GeoTrellis store (r20, the reference's
      // geotrellis.spark.io.hadoop backend — LayerReaderWrapper.scala:14,
      // catalog.py:23 hdfs URIs): export the grid as a HadoopLayerWriter
      // store (MapFile parts of LongWritable z-index -> BytesWritable
      // Avro datum, _attributes blob) and read the MapFiles back
      // DISTRIBUTED (one SequenceFile scan task per part) — identity
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_gt_hadoop"
      graft.catalog.GeoTrellisStore.writeLayerHadoop(uri, "lineitem_hd",
        lineitemLayer(s, dir))
      flat(graft.catalog.GeoTrellisStore.readLayer(s, uri,
        graft.catalog.GeoTrellisStore.GtLayerId("lineitem_hd", 0)))
    }),

    "q_gt_read_time" -> ((s, dir) => {
      // space-time Z3 export (r20, the r19 spacetime-READ's write twin
      // — reference LayerWriterWrapper.scala:10 writes SpaceTimeKey
      // layers): export the temporal event grid under Z3 space-time
      // z-index filenames (instants sharing a temporalResolution bucket
      // pack into ONE multi-pair datum), read back temporal — identity
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_gt_store"
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      graft.catalog.GeoTrellisStore.writeLayerTemporal(uri, "events_gt", l,
        temporalResolution = 1000L)
      graft.catalog.GeoTrellisStore.readLayer(s, uri,
        graft.catalog.GeoTrellisStore.GtLayerId("events_gt", 0)).toCells
    }),

    "q_gt_read_hilbert" -> ((s, dir) => {
      // compact-Hilbert point read (r20 — geotrellis IndexingMethod
      // HILBERT, constants.py:98, via the uzaygezen curve; Hamilton's
      // published algorithm in graft.core.CompactHilbert): export the
      // grid hilbert-indexed, then serve ONE tile through the stored
      // xResolution/yResolution index — the q_read_tile latency path
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_gt_store"
      graft.catalog.GeoTrellisStore.writeLayer(uri, "lineitem_hil",
        lineitemLayer(s, dir), keyIndex = "hilbert")
      import s.implicits._
      val T = GridSource.T
      val tile = graft.catalog.GeoTrellisStore.readValue(uri,
        graft.catalog.GeoTrellisStore.GtLayerId("lineitem_hil", 0), 2, 3)
        .getOrElse(Array.fill(T * T)(Double.NaN))
      (for (j <- 0 until T; i <- 0 until T; v = tile(j * T + i) if !v.isNaN)
        yield (2L * T + i, 3L * T + j, v)).toDF("x", "y", "v")
    }),

    "q_read_tile" -> ((s, dir) => {
      // ValueReader point read (catalog.py:74): store the layer, fetch
      // ONE tile by key through parquet-footer pruning + a single-file
      // read, re-emit its data cells. Same semantics as q_lookup but
      // through the serving-latency path instead of a layer scan.
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "lineitem_vr", lineitemLayer(s, dir))
      import s.implicits._
      val T = GridSource.T // the derived-grid contract's tile stride
      // an absent tile (tiny SF) is an all-NoData tile -> zero rows,
      // exactly the oracle's empty slice
      val tile = Catalog.readTile(s, uri, "lineitem_vr", 0, 2, 3)
        .getOrElse(Array.fill(T * T)(Double.NaN))
      (for (j <- 0 until T; i <- 0 until T; v = tile(j * T + i) if !v.isNaN)
        yield (2L * T + i, 3L * T + j, v)).toDF("x", "y", "v")
    }),

    "q_celltype_store" -> ((s, dir) => {
      // native storage width (convert_data_type, layer.py:747): store
      // the grid as uint16 — the catalog packs 2-byte LE cells with the
      // 65535 NoData sentinel — and read it back; integral quantities
      // clamp to [0, 65534] identically in the oracle
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "lineitem_u16", lineitemLayer(s, dir).convertCellType("uint16"))
      flat(Catalog.read(s, uri, "lineitem_u16"))
    }),

    "q_celltype_bit" -> ((s, dir) => {
      // 1-bit cell type (GeoTrellis bool, reference geopyspark-backend
      // BitArrayTileWrapper.scala:1): mask = (v % 3 == 0) keeping
      // NoData, stored packed 8 cells/byte. bit has NO NoData, so the
      // store maps in-tile NaN to 0 — the read-back yields EVERY cell
      // of every stored tile, which the oracle restates with a
      // tile-bounded left join
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val mask = lineitemLayer(s, dir).localMap(c =>
        when(isnan(c), c)
          .otherwise(when(pmod(c, lit(3.0)) === 0.0, lit(1.0)).otherwise(lit(0.0))))
      Catalog.write(uri, "lineitem_bit", mask.convertCellType("bit"))
      flat(Catalog.read(s, uri, "lineitem_bit"))
    }),

    "q_pyramid_write" -> ((s, dir) => {
      // Pyramid.write all zooms (layer.py:2654), read one back: the
      // stored level must equal the in-memory levelUp (q_pyramid)
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val levels = Pyramid.build(lineitemLayer(s, dir), "Average")
      Pyramid.write(uri, "pyr_w", levels)
      flat(Catalog.read(s, uri, "pyr_w", zoom = levels.head._1 - 1))
    }),

    "q_geotiff_roundtrip" -> ((s, dir) => {
      // to_geotiff_rdd -> scene ingestion (layer.py:542,1546): encode
      // every tile as a deflate float32 GeoTIFF, decode as scenes,
      // re-cut to the layout — identity on the grid (values integral,
      // << 2^24, so float32 is exact)
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val scenes = GeoTiff.toGeoTiff(l, deflate = true).toDF()
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("tiff"))
      GeoTiff.fromGeoTiff(scenes).tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_geotiff_temporal" -> ((s, dir) => {
      // temporal scene ingest via TIFF DateTime (reference geotiff.py
      // :25 time_tag, SPACETIME layer_type): stamp every encoded tile
      // with a tag-306 instant derived from its key, parse the tag
      // back distributed (GeoTiff.sceneInstant), tile temporally —
      // both the instant derivation AND the cut are oracle-restated
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val dtOf = (c: Int, r: Int) => java.time.LocalDateTime
        .ofEpochSecond(86400L * (20000 + c.toLong * lr + r), 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy:MM:dd HH:mm:ss"))
      val scenes = GeoTiff.toGeoTiff(l, deflate = true, dateTimeOf = Some(dtOf)).toDF()
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("tiff"))
      GeoTiff.fromGeoTiffTemporal(scenes)
        .tileToLayoutTemporal(l.meta.layout, CellOp.Max).toCells
    }),

    "q_ascii_roundtrip" -> ((s, dir) => {
      // ESRI ASCII Grid codec: encode every tile as .asc text, decode
      // distributed, re-cut — identity on the grid
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val scenes = graft.raster.AsciiGrid.toAscii(l)
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("asc"))
      graft.raster.AsciiGrid.fromAscii(scenes)
        .tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_nn_cdf" -> ((s, dir) =>
      // G-function: NN-distance CDF counts at radii 2/4/8/16 — exact
      // integers off the exact NN d²
      graft.vector.PointStats.nnDistanceCdf(supplierPoints(s, dir))),

    "q_wkb_roundtrip" -> ((s, dir) => {
      // OGC WKB codec: point geometry bytes both endiannesses (by pid
      // parity), parsed back distributed — identity on the point set
      import s.implicits._
      supplierPoints(s, dir).select(col("pid"), col("px"), col("py"))
        .as[(Long, Double, Double)]
        .map { case (pid, px, py) =>
          val g = graft.vector.Wkb.parse(graft.vector.Wkb.write(
            graft.vector.Wkt.PointG(graft.vector.Pt(px, py)),
            littleEndian = pid % 2 == 0))
          val p = g.asInstanceOf[graft.vector.Wkt.PointG].p
          (pid, p.x, p.y)
        }.toDF("pid", "px", "py")
    }),

    "q_netcdf_roundtrip" -> ((s, dir) => {
      // native CDF-1 codec: encode every tile as a classic-format
      // NetCDF scene (double var + extent attrs), decode distributed,
      // re-cut to the layout — identity on the grid
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val scenes = NetCdf.toNetCdf(l)
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("nc"))
      NetCdf.fromNetCdf(scenes).tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_netcdf_temporal" -> ((s, dir) => {
      // record-dimension ingest: each tile rides one record whose time
      // coordinate is the q_geotiff_temporal instant arithmetic;
      // decode explodes records into stamped scenes, tiled temporally
      val l = lineitemLayer(s, dir)
      val lay = l.meta.layout
      val tl = lay.tileLayout
      val lr = tl.layoutRows
      import s.implicits._
      val scenes = l.df.select(col("col"), col("row"), col("tile"))
        .as[(Int, Int, Seq[Double])]
        .map { case (c, r, tile) =>
          val id = c.toLong * lr + r
          val xmin = lay.extent.xmin + c.toLong * tl.tileCols * lay.cellWidth
          val ymax = lay.extent.ymax - r.toLong * tl.tileRows * lay.cellHeight
          (id, NetCdf.encodeScenes(
            Array(86400L * (20000 + id)), Array(tile.toArray),
            tl.tileCols, tl.tileRows,
            xmin, ymax - tl.tileRows * lay.cellHeight,
            xmin + tl.tileCols * lay.cellWidth, ymax))
        }
        .toDF("scene_id", "nc")
      NetCdf.fromNetCdfTemporal(scenes)
        .tileToLayoutTemporal(lay, CellOp.Max).toCells
    }),

    "q_netcdf4_roundtrip" -> ((s, dir) => {
      // native NetCDF-4/HDF5 codec (r16): every tile encodes as an
      // HDF5 scene (deflate-chunked double var + coordinate datasets
      // + extent root attrs), decodes distributed through the chunk
      // B-tree + inflate path, re-cuts to the layout — identity
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val scenes = NetCdf4.toNetCdf4(l)
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("nc"))
      NetCdf4.fromNetCdf4(scenes).tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_netcdf4_temporal" -> ((s, dir) => {
      // record-dimension NetCDF-4 stacks: TWO records per scene (one
      // chunk per record in the HDF5 chunk B-tree), exploding to two
      // stamped instants per tile on ingest
      val l = lineitemLayer(s, dir)
      val lay = l.meta.layout
      val tl = lay.tileLayout
      val lr = tl.layoutRows
      import s.implicits._
      val scenes = l.df.select(col("col"), col("row"), col("tile"))
        .as[(Int, Int, Seq[Double])]
        .map { case (c, r, tile) =>
          val id = c.toLong * lr + r
          val xmin = lay.extent.xmin + c.toLong * tl.tileCols * lay.cellWidth
          val ymax = lay.extent.ymax - r.toLong * tl.tileRows * lay.cellHeight
          (id, NetCdf4.encodeScenes(
            Array(86400L * (20000 + id), 86400L * (30000 + id)),
            Array(tile.toArray, tile.toArray),
            tl.tileCols, tl.tileRows,
            xmin, ymax - tl.tileRows * lay.cellHeight,
            xmin + tl.tileCols * lay.cellWidth, ymax))
        }
        .toDF("scene_id", "nc")
      NetCdf4.fromNetCdf4Temporal(scenes)
        .tileToLayoutTemporal(lay, CellOp.Max).toCells
    }),

    "q_grib_roundtrip" -> ((s, dir) => {
      // native GRIB2 codec (r17): every tile encodes as one message
      // (regulation framing, template 3.0 grid / 4.0 product / 5.0
      // simple packing, integral grids pack exactly), decodes
      // distributed, re-cuts to the layout — identity
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val scenes = Grib2.toGrib(l)
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"), col("grib"))
      Grib2.fromGrib(scenes).tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_grib_temporal" -> ((s, dir) => {
      // message-stream stacks: TWO messages per blob, each stamped by
      // its section-1 reference time (calendar roundtrip), exploding
      // to two instants per tile — the q_netcdf4_temporal twin
      val l = lineitemLayer(s, dir)
      val lay = l.meta.layout
      val tl = lay.tileLayout
      val lr = tl.layoutRows
      import s.implicits._
      val scenes = l.df.select(col("col"), col("row"), col("tile"))
        .as[(Int, Int, Seq[Double])]
        .map { case (c, r, tile) =>
          val id = c.toLong * lr + r
          val xmin = lay.extent.xmin + c.toLong * tl.tileCols * lay.cellWidth
          val ymax = lay.extent.ymax - r.toLong * tl.tileRows * lay.cellHeight
          (id, Grib2.encodeScenes(
            Array(86400L * (20000 + id), 86400L * (30000 + id)),
            Array(tile.toArray, tile.toArray),
            tl.tileCols, tl.tileRows,
            xmin, ymax - tl.tileRows * lay.cellHeight,
            xmin + tl.tileCols * lay.cellWidth, ymax))
        }
        .toDF("scene_id", "grib")
      Grib2.fromGribTemporal(scenes)
        .tileToLayoutTemporal(lay, CellOp.Max).toCells
    }),

    "q_read_to_layout_temporal" -> ((s, dir) => {
      // the one-call ingest's TEMPORAL leg (r18): the q_grib_temporal
      // scene stream through Ingest.readToLayout(temporal = true) —
      // decode + per-instant cut in one call, row-identical to the
      // hand-composed fromGribTemporal + tileToLayoutTemporal chain,
      // so it shares q_grib_temporal's oracle verbatim
      val l = lineitemLayer(s, dir)
      val lay = l.meta.layout
      val tl = lay.tileLayout
      val lr = tl.layoutRows
      import s.implicits._
      val scenes = l.df.select(col("col"), col("row"), col("tile"))
        .as[(Int, Int, Seq[Double])]
        .map { case (c, r, tile) =>
          val id = c.toLong * lr + r
          val xmin = lay.extent.xmin + c.toLong * tl.tileCols * lay.cellWidth
          val ymax = lay.extent.ymax - r.toLong * tl.tileRows * lay.cellHeight
          (id, Grib2.encodeScenes(
            Array(86400L * (20000 + id), 86400L * (30000 + id)),
            Array(tile.toArray, tile.toArray),
            tl.tileCols, tl.tileRows,
            xmin, ymax - tl.tileRows * lay.cellHeight,
            xmin + tl.tileCols * lay.cellWidth, ymax))
        }
        .toDF("scene_id", "grib")
      graft.raster.Ingest.readToLayout(scenes, "grib2", lay, temporal = true)
        .toCells
    }),

    "q_zarr_roundtrip" -> ((s, dir) => {
      // native Zarr v2 codec (r17): every tile encodes as a chunked
      // store (2×2 zlib chunk grid + coordinate arrays + .zattrs
      // extent), one DataFrame row PER STORE OBJECT — the
      // object-storage layout — then re-assembles per scene with one
      // keyed gather and re-cuts to the layout — identity
      val l = lineitemLayer(s, dir)
      val lr = l.meta.layout.tileLayout.layoutRows
      val stores = Zarr.toZarr(l)
        .select((col("col").cast("long") * lr + col("row")).as("scene_id"),
          col("key"), col("value"))
      Zarr.fromZarr(stores).tileToLayout(l.meta.layout, CellOp.Max).toCells
    }),

    "q_zarr_temporal" -> ((s, dir) => {
      // record-dimension Zarr stacks: TWO records per scene (chunked
      // one record per slab), exploding to two stamped instants per
      // tile on ingest — the q_netcdf4_temporal twin
      val l = lineitemLayer(s, dir)
      val lay = l.meta.layout
      val tl = lay.tileLayout
      val lr = tl.layoutRows
      import s.implicits._
      val stores = l.df.select(col("col"), col("row"), col("tile"))
        .as[(Int, Int, Seq[Double])]
        .flatMap { case (c, r, tile) =>
          val id = c.toLong * lr + r
          val xmin = lay.extent.xmin + c.toLong * tl.tileCols * lay.cellWidth
          val ymax = lay.extent.ymax - r.toLong * tl.tileRows * lay.cellHeight
          Zarr.encodeScenes(
            Array(86400L * (20000 + id), 86400L * (30000 + id)),
            Array(tile.toArray, tile.toArray),
            tl.tileCols, tl.tileRows,
            xmin, ymax - tl.tileRows * lay.cellHeight,
            xmin + tl.tileCols * lay.cellWidth, ymax)
            .map { case (k, v) => (id, k, v) }
        }
        .toDF("scene_id", "key", "value")
      Zarr.fromZarrTemporal(stores)
        .tileToLayoutTemporal(lay, CellOp.Max).toCells
    }),

    "q_catalog_query" -> ((s, dir) => {
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "lineitem_q", lineitemLayer(s, dir), zoom = 4)
      flat(Catalog.query(s, uri, "lineitem_q", 4, 64, 0, 192, 128))
    }),

    "q_catalog_dsv2" -> ((s, dir) => {
      // SQL-facing catalog read through the "graft" DataSource V2:
      // key predicates push into the source (footer file pruning +
      // parquet record filter) instead of a driver-side query helper
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "li_dsv2", lineitemLayer(s, dir), zoom = 4)
      val df = s.read.format("graft")
        .option("path", uri).option("layer", "li_dsv2").option("zoom", "4")
        .load()
        .where(col("col").between(1, 2) && col("row") <= 1)
      RasterLayer.tilesToCells(df, T, T)
    }),

    "q_catalog_agg" -> ((s, dir) => {
      // aggregate pushdown: COUNT/MIN/MAX answered from parquet
      // FOOTERS (GraftAggScan — zero data pages read; spec asserts
      // the plan), merged by Spark's final aggregate
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "li_agg", lineitemLayer(s, dir), zoom = 5)
      s.read.format("graft")
        .option("path", uri).option("layer", "li_agg").option("zoom", "5")
        .load()
        .agg(expr("count(*)").as("n_tiles"),
          min("col").as("min_col"), max("col").as("max_col"),
          min("row").as("min_row"), max("row").as("max_row"))
    }),

    "q_catalog_dsv2_write" -> ((s, dir) => {
      // full V2 ROUNDTRIP: the grid layer written through the V2
      // writer (required (col,row) distribution+sort, in-writer
      // uint16 packing, truncate-on-overwrite, sidecar at commit),
      // read back through the V2 reader
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val la = lineitemLayer(s, dir).convertCellType("uint16")
      la.df.write.format("graft")
        .option("path", uri).option("layer", "li_w").option("zoom", "3")
        .option("extent", "0,0,256,256").option("layout", "4,4,64,64")
        .option("celltype", "uint16")
        .mode("overwrite").save()
      val df = s.read.format("graft")
        .option("path", uri).option("layer", "li_w").option("zoom", "3")
        .load()
      RasterLayer.tilesToCells(df, T, T)
    }),

    "q_catalog_geom" -> ((s, dir) => {
      // geometry-scoped read (key_conversion geometry_to_keys +
      // catalog query): whole tiles intersecting the WKT rect — the
      // tile range is restated statically in the oracle
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "li_geom", lineitemLayer(s, dir), zoom = 2)
      flat(Catalog.queryGeometry(s, uri, "li_geom", 2,
        "POLYGON ((70 10, 190 10, 190 100, 70 100))"))
    }),

    "q_catalog_update" -> ((s, dir) => {
      // update_layer append (catalog.py:287): write lineitem, append
      // orders, read back resolving duplicate keys by cell-wise Max
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      Catalog.write(uri, "li_upd", lineitemLayer(s, dir), zoom = 1)
      Catalog.update(uri, "li_upd", ordersLayer(s, dir), zoom = 1)
      flat(Catalog.read(s, uri, "li_upd", zoom = 1).aggregateByCell("Max"))
    }),

    "q_catalog_time_query" -> ((s, dir) => {
      // temporal store: (instant, zindex)-ordered parquet; query prunes
      // by time interval (file-level min/max stats) + tile-aligned
      // extent (col/row predicates) — reference catalog.py:117
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      Catalog.write(uri, "events_t", l, zoom = 0)
      Catalog.queryTime(s, uri, "events_t", 0, 0, 32, 32, 64, 19725L, 19735L).toCells
    }),

    // --- rendering
    "q_color_map" -> ((s, dir) => {
      val cells = flat(lineitemLayer(s, dir))
      cells.select(col("x"), col("y"),
        ColorMap.classify(col("v"), Seq(100.0, 200.0, 400.0)).as("idx"))
    }),

    "q_color_ramp" -> ((s, dir) => {
      // classify + ramp-colorize in one codegen'd CASE chain; the ramp
      // interpolation happens driver-side so colors are shared literals
      val cells = flat(lineitemLayer(s, dir))
      cells.select(col("x"), col("y"),
        ColorMap.colorize(col("v"), Seq(100.0, 200.0, 400.0), "Viridis").as("argb"))
    }),

    "q_color_matplotlib" -> ((s, dir) => {
      // get_colors_from_matplotlib surface (r16): lowercase matplotlib
      // spelling, DENSE 16-color resample of the 5-anchor plasma ramp
      // — exercises the interpolation at non-anchor fractions
      val cells = flat(lineitemLayer(s, dir))
      val breaks = (1 to 16).map(i => i * 25.0)
      cells.select(col("x"), col("y"),
        ColorMap.colorFor(
          ColorMap.classify(col("v"), breaks),
          ColorMap.fromMatplotlib("plasma", 16)).as("argb"))
    }),

    "q_render_png" -> ((s, dir) => {
      // to_png_rdd (layer.py:524) END-TO-END: classify + ramp + PNG
      // encode in executors, then decode every tile's PNG back with
      // the in-tree ImageCodec and compare pixel colors against the
      // same CASE chain in SQL — the full byte-level render path is
      // oracle-checked, not just spec'd. Out-of-breaks cells render
      // transparent exactly like NoData, so both sides keep v <= 400.
      import s.implicits._
      render.Render.renderPng(lineitemLayer(s, dir), Seq(100.0, 200.0, 400.0), "Viridis")
        .flatMap { t =>
          val img = pipeline.ImageCodec.decodePng(t.png)
          for (j <- 0 until img.height; i <- 0 until img.width;
               argb = img.argb(i, j) if argb != 0)
            yield (t.col.toLong * 64 + i, t.row.toLong * 64 + j, argb)
        }.toDF("x", "y", "argb")
    }),

    "q_tms_payload" -> ((s, dir) => {
      // the TMS response bytes, oracle-checked: run TmsServer.payload
      // — the EXACT function both /tiles and /cog hand fetched cells
      // to — over every tile of two pyramid zooms, decode the PNGs
      // back, compare pixels vs the CASE-chain oracle per zoom. Only
      // the HTTP GET framing stays spec-only (RenderSpec).
      import s.implicits._
      val base = lineitemLayer(s, dir)
      val levels = Seq(1 -> base, 0 -> Pyramid.levelUp(base, "Average"))
      levels.map { case (z, layer) =>
        val tl = layer.meta.layout.tileLayout
        val (tc, tr) = (tl.tileCols, tl.tileRows)
        layer.df.select(col("col"), col("row"), col("tile"))
          .as[(Int, Int, Seq[Double])]
          .flatMap { case (c, r, cells) =>
            val bytes = render.TmsServer.payload(cells.toIndexedSeq, tc, tr,
              Seq(100.0, 200.0, 400.0), "Viridis")
            val img = pipeline.ImageCodec.decodePng(bytes)
            for (j <- 0 until img.height; i <- 0 until img.width;
                 argb = img.argb(i, j) if argb != 0)
              yield (z, c.toLong * tc + i, r.toLong * tr + j, argb)
          }.toDF("zoom", "x", "y", "argb")
      }.reduce(_ union _)
    }),

    "q_color_nlcd" -> ((s, dir) => {
      // exact-value break-map classification (from_break_map / the NLCD
      // palette): fold the grid values onto NLCD class codes, then map
      // each code to its color literal — fallback transparent
      val cells = flat(lineitemLayer(s, dir))
      cells.select(col("x"), col("y"),
        ColorMap.nlcdColor(col("v") % 100).as("argb"))
    }),

    // --- spacetime
    "q_filter_by_times" -> ((s, dir) => {
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      l.filterByTimes(Seq((19725L, 19730L), (19740L, 19745L))).toCells
    }),

    "q_to_spatial" -> ((s, dir) => {
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      l.toSpatialLayer("Max").toCells
    }),

    "q_focal_time" -> ((s, dir) => {
      // focal on a SPACETIME layer (TemporalTiledRasterLayer focal):
      // halo exchange keys on (instant, col, row) so instants never
      // mix; non-integral sums -> round(...,5) both sides
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      l.focal(Neighborhood.Square(1), "Sum").toCells
        .select(col("x"), col("y"), col("instant"), uq(col("v")).as("v_u"))
    }),

    "q_star_series" -> ((s, dir) => {
      // star_series / mean_series family (layer.py:2014-2042): summary
      // per instant inside a geometry; exact decimal sums make every
      // column deterministic with no rounding (see temporalSeries doc)
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      ZonalOps.temporalSeries(l, Geometry.diamond(32, 32, 20.3))
    }),

    "q_hist_mode" -> ((s, dir) =>
      HistogramOps.mode(lineitemLayer(s, dir))),

    "q_hist_median" -> ((s, dir) =>
      HistogramOps.median(lineitemLayer(s, dir))),

    "q_hist_series" -> ((s, dir) => {
      // histogram_series (layer.py:2024): per-instant histogram inside
      // a geometry, bins from that instant's own min/max
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      ZonalOps.histogramSeries(l, Geometry.diamond(32, 32, 20.3))
    }),

    "q_temporal_fill" -> ((s, dir) => {
      // per-cell linear gap-fill across the 3 instants: only t=1 can
      // interpolate (edges never extrapolate); round 5 (interp mixes
      // non-integral fractions)
      val l = RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
      TimeSeries.fillGaps(l, Seq(0L, 1L, 2L)).toCells
        .select(col("x"), col("y"), col("instant"), uq(col("v")).as("v_u"))
    }),

    "q_temporal_smooth" -> ((s, dir) => {
      // temporal moving average, radius 1 instant
      val l = RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
      TimeSeries.movingAverage(l, Seq(0L, 1L, 2L)).toCells
        .select(col("x"), col("y"), col("instant"), uq(col("v")).as("v_u"))
    }),

    "q_time_resample" -> ((s, dir) => {
      // day instants -> 7-day buckets, cell-wise Max per bucket
      // (Max: deterministic under any fold order, unlike re-summed
      // non-integral doubles)
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      l.aggregateByTime(7L, "Max").toCells
    }),

    "q_resample_time" -> ((s, dir) => {
      // bilinear resample of a SPACETIME layer: instant rides the
      // gather's shuffle key, each instant interpolates independently
      // (dense lineitem temporal grid — events is too sparse for the
      // all-4-corners rule to leave a meaningful result)
      val l = RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
      val r = Resample.bilinearTiled(l, 64, 48, dstTile = 16)
      r.toCells.select(col("x"), col("y"), col("instant"), uq(col("v")).as("v_u"))
    }),

    "q_reproject_time" -> ((s, dir) => {
      // reproject a SPACETIME layer: per-instant inverse sampling
      // through the same tiled gather keyed on (instant, col, row)
      val l = RasterLayer.fromCellsTemporal(eventCells(s, dir), layout64)
      Reproject.latLngGridToWebMercatorTiled(l, 0.1, dstTile = 32).toCells
    }),

    "q_spatial_partition" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).partitionByKey(8))),

    "q_combine_bands" -> ((s, dir) =>
      lineitemLayer(s, dir).combineBandsCells(ordersLayer(s, dir))),

    "q_bands" -> ((s, dir) => {
      // band selection (layer.py:670): combine then take band 1
      val b = lineitemLayer(s, dir).combineBandsCells(ordersLayer(s, dir))
      b.where(col("b1").isNotNull).select(col("x"), col("y"), col("b1").as("v"))
    }),

    // --- first-class multiband (MultibandLayer)
    "q_mb_ndvi" -> ((s, dir) => {
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      mb.normalizedDifference(nir = 1, red = 0).toCells
        .select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_mb_map" -> ((s, dir) => {
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      mb.mapCells(c => c * 2.0 + 1.0).toCells
    }),

    "q_classify_mindist" -> ((s, dir) => {
      // minimum-distance supervised classification over the 2-band
      // stack; integral signature means, packed-argmin determinism
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      mb.classifyMinDistance(Seq(0 -> Seq(100.0, 50.0), 1 -> Seq(300.0, 100.0),
        2 -> Seq(120.0, 80.0))).toCells
    }),

    "q_accuracy" -> ((s, dir) => {
      // error-matrix statistics: overall accuracy + Cohen's kappa of
      // two mod-3 class rasters (exact-integer closing divisions)
      val pred = lineitemLayer(s, dir).localMap(c => pmod(c, lit(3.0)))
      val truth = ordersLayer(s, dir).localMap(c => pmod(c, lit(3.0)))
      Compare.accuracyAssessment(pred, truth)
    }),

    "q_pansharpen" -> ((s, dir) => {
      // Brovey ratio pansharpen: (lineitem, orders) stack against a
      // derived pan band; per-pixel ratio math, round 5
      val li = pinL(lineitemLayer(s, dir)) // stack band + pan, one build
      val mb = MultibandLayer.fromLayers(Seq(li, ordersLayer(s, dir)))
      val pan = li.localMap(c => c + 100.0)
      mb.pansharpen(pan).toCells
        .select(col("x"), col("y"), col("band"), uq(col("v")).as("v_u"))
    }),

    "q_rasterize_coverage" -> ((s, dir) => {
      // anti-aliased rect burn: exact 1/16-cell^2 coverage integers
      val rects = supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 20)
        .select(col("pid").as("fid"),
          (col("px") - 10.25).as("x0"), (col("py") - 6.75).as("y0"),
          (col("px") + 5.5).as("x1"), (col("py") + 3.25).as("y1"))
      graft.raster.Rasterize.fromRectsCoverage(rects, layout)
    }),

    "q_zonal_coverage" -> ((s, dir) => {
      // exactextract-style area-weighted zonal stats: boundary cells
      // contribute their exact 1/16-cell^2 covered fraction per zone
      val rects = supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 20)
        .select((col("pid") % 4).as("zone"),
          (col("px") - 10.25).as("x0"), (col("py") - 6.75).as("y0"),
          (col("px") + 5.5).as("x1"), (col("py") + 3.25).as("y1"))
      ZonalOps.zonalStatsCoverage(lineitemLayer(s, dir), rects)
    }),

    "q_mb_transform" -> ((s, dir) => {
      // tasseled-cap-shape linear band transform: brightness (mean)
      // and difference bands from fixed coefficient rows
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      mb.linearTransform(Seq(Seq(0.5, 0.5), Seq(1.0, -1.0))).toCells
        .select(col("x"), col("y"), col("band"), uq(col("v")).as("v_u"))
    }),

    "q_mb_agg" -> ((s, dir) => {
      val a = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      val b = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir) + 10.0, ordersLayer(s, dir) * 2.0))
      a.union(b).aggregateByCell("Sum").toCells
    }),

    "q_mb_focal" -> ((s, dir) => {
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      mb.focalBand(1, Neighborhood.Square(1), "Mean").toCells
    }),

    "q_mb_catalog_roundtrip" -> ((s, dir) => {
      // single-shuffle stack -> z-ordered multiband store -> read back
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      Catalog.writeMultiband(uri, "mb_rt", mb, zoom = 2)
      Catalog.readMultiband(s, uri, "mb_rt", zoom = 2).toCells
    }),

    "q_gt_read_mb" -> ((s, dir) => {
      // multiband GT payload path (r19): stack two grids, export as a
      // geotrellis ArrayMultibandTile store (per-band DoubleArrayTile
      // records inside the KeyValueRecord datums), read back
      // distributed through the stored schema — identity on both grids
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_gt_store"
      val mb = MultibandLayer.fromLayers(Seq(lineitemLayer(s, dir), ordersLayer(s, dir)))
      graft.catalog.GeoTrellisStore.writeLayerMultiband(uri, "mb_gt", mb)
      graft.catalog.GeoTrellisStore.readLayerMultiband(s, uri,
        graft.catalog.GeoTrellisStore.GtLayerId("mb_gt", 0)).toCells
    }),

    "q_aggregate_mean" -> ((s, dir) => {
      val l = lineitemLayer(s, dir)
      flat(l.union(l + 10.0).aggregateByCell("Mean"))
    }),

    "q_local_pow" -> ((s, dir) => {
      val l = lineitemLayer(s, dir) ** 1.5
      l.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_pyramid2" -> ((s, dir) => {
      // second-level averages re-aggregate non-integral doubles, so the
      // last ulp depends on summation order -> round both sides
      val p2 = Pyramid.levelUp(Pyramid.levelUp(lineitemLayer(s, dir), "Average"), "Average")
      p2.toCells.select(col("x"), col("y"), uq(col("v")).as("v_u"))
    }),

    "q_focal_nesw" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Nesw(1), "Sum"))),

    "q_focal_annulus" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Annulus(1.0, 2.0), "Sum"))),

    "q_focal_wedge" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focal(Neighborhood.Wedge(2.0, 0, 90), "Sum"))),

    "q_focal_convolve" -> ((s, dir) =>
      flat(lineitemLayer(s, dir).focalConvolve(
        Array(1.0, 2.0, 1.0, 2.0, 4.0, 2.0, 1.0, 2.0, 1.0), 1))),

    // --- LLM-pipeline: dedup family (documents)
    "q_repetition" -> ((s, dir) =>
      // Gopher-style repetition rule: duplicate-bigram fraction per doc
      pipeline.TextAnalysis.repetitionScore(table(s, dir, "documents"))),

    "q_dedup_segments" -> ((s, dir) =>
      // CCNet/RefinedWeb-style boilerplate removal: 10-word segments
      // occurring > 2 times within a source are dropped, surviving
      // text reassembled in order (docs left empty disappear)
      pipeline.Dedup.dropBoilerplateSegments(table(s, dir, "documents"))),

    "q_dedup_exact" -> ((s, dir) =>
      pipeline.Dedup.exact(table(s, dir, "documents"))),

    "q_dedup_jaccard" -> ((s, dir) =>
      pipeline.Dedup.jaccardPairs(table(s, dir, "documents"), k = 5, threshold = 0.5)),

    "q_dedup_minhash" -> ((s, dir) =>
      pipeline.Dedup.minhashPairs(table(s, dir, "documents"))),

    "q_minhash_eval" -> ((s, dir) =>
      // estimator audit: signature agreement vs EXACT shingle Jaccard
      // on every (floor-free) LSH candidate pair
      pipeline.Dedup.minhashEval(table(s, dir, "documents"))),

    "q_triangles" -> ((s, dir) =>
      // triangle count of the SHARED minhash pair graph (clique vs
      // chain shape of duplicate families)
      pipeline.Dedup.triangleCount(minhashEdges(s, dir))),

    "q_event_transitions" -> ((s, dir) =>
      // first-order Markov transition counts of per-user event streams
      streaming.Events.transitionMatrix(eventsTable(s, dir))),

    "q_cdc_dedup" -> ((s, dir) =>
      // content-defined chunking: rolling-boundary chunks + cross-doc
      // duplicated-chunk instance counts
      pipeline.Dedup.cdcChunks(table(s, dir, "documents"))),

    "q_blocklist" -> ((s, dir) =>
      // fused Aho-Corasick blocklist scan (native codegen expression)
      pipeline.TextAnalysis.blocklistScan(
        table(s, dir, "documents"), BlocklistTerms)),

    "q_dedup_clusters" -> ((s, dir) =>
      // duplicate families: connected components (large-star/small-
      // star) over the MinHash-LSH pair graph; component = min doc_id.
      // Shared stage: the components materialize once per session/sf.
      dupComponents(s, dir)),

    "q_dedup_clusters_dist" -> ((s, dir) =>
      // r17: the SAME components FORCED through the distributed
      // large-star/small-star loop (maxDriverEdges = 0) — label-
      // identical to the guarded union-find, shares its oracle
      pipeline.Dedup.connectedComponents(minhashEdges(s, dir),
        table(s, dir, "documents").select(col("doc_id")),
        maxDriverEdges = 0)),

    "q_dedup_simhash" -> ((s, dir) =>
      pipeline.Dedup.simhashPairs(table(s, dir, "documents"))),

    "q_label_prop" -> ((s, dir) =>
      // LPA communities over the SHARED near-dup pair graph (r15):
      // 4 synchronized rounds, neighbor-majority labels, ties ->
      // smallest — deterministic, oracle unrolls the same rounds
      lpaLabels(s, dir)),

    "q_modularity" -> ((s, dir) =>
      // Newman modularity of the LPA communities, EXACT integer form
      // Q*4m^2 = sum_c (4m*e_c - d_c^2) — one row, no rounding
      pipeline.Dedup.modularity(minhashEdges(s, dir), lpaLabels(s, dir))),

    "q_dup_size_hist" -> ((s, dir) =>
      // dedup reporting artifact: duplicate-family size histogram
      // over the shared component assignment
      pipeline.Dedup.duplicationProfileFrom(dupComponents(s, dir))),

    "q_dup_rank" -> ((s, dir) =>
      // boilerplate-hub centrality: 3 exact-integer PageRank rounds
      // over the SHARED near-dup pair graph
      pipeline.Dedup.dupRank(minhashEdges(s, dir),
        table(s, dir, "documents").select(col("doc_id")))),

    "q_dedup_keep_best" -> ((s, dir) => {
      // FineWeb-style keep rule: the LONGEST doc survives each family
      // (n_chars as the exact-integer quality score, ties -> min id)
      val docs = table(s, dir, "documents")
      pipeline.Dedup.keepBestQualityFrom(dupComponents(s, dir),
        docs.select(col("doc_id"), col("n_chars").as("score")))
    }),

    "q_novelty" -> ((s, dir) =>
      // per-doc fraction of df=1 shingles (memorization diagnostic)
      pipeline.Dedup.noveltyScore(table(s, dir, "documents"))),

    "q_dup_ngram_rate" -> ((s, dir) =>
      // RefinedWeb-style corpus-health headline: per source, the
      // fraction of its distinct per-doc 5-grams that occur in >1
      // document corpus-wide (rounded 6, the novelty convention)
      pipeline.Dedup.dupNgramRate(table(s, dir, "documents"))
        .withColumn("dup_rate_u", uq(col("dup_rate"), 1000000.0))
        .drop("dup_rate")),

    "q_sampled_quantiles" -> ((s, dir) =>
      // deterministic 5% md5-sample + exact rational-rank selection:
      // the oracle-twinnable stand-in for t-digest/KLL quantiles
      pipeline.Curation.sampledQuantiles(table(s, dir, "documents"))),

    "q_winnowing" -> ((s, dir) =>
      // MOSS winnowing fingerprints: per-window rightmost-min of the
      // packed (hash, position) key, distinct selections per doc
      pipeline.Dedup.winnow(table(s, dir, "documents"))),

    "q_winnow_pairs" -> ((s, dir) =>
      // MOSS candidate pairs: docs sharing >= 2 selected fingerprint
      // hashes through the capped inverted index
      pipeline.Dedup.winnowPairs(table(s, dir, "documents"))),

    "q_readability" -> ((s, dir) =>
      // Flesch-Kincaid grade from three regex counts, pinned floats
      pipeline.TextAnalysis.readability(table(s, dir, "documents"))),

    "q_ttr" -> ((s, dir) =>
      // lexical diversity: distinct/total tokens per doc
      pipeline.TextAnalysis.typeTokenRatio(table(s, dir, "documents"))),

    "q_simplify" -> ((s, dir) =>
      // Douglas-Peucker on two 16-vertex polylines threaded through
      // the supplier points (pid order); exact integer split tests
      graft.vector.Simplify.simplifyLines(
        supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 32)
          .withColumn("fid", expr("(pid - 1) div 16")), eps = 4.0)),

    "q_simplify_vw" -> ((s, dir) =>
      // Visvalingam–Whyatt (r17): smallest-effective-area removal
      // with exact doubled-coords triangle areas, earliest-min tie
      // rule; a half-integral y-wobble breaks the supplier walk's
      // constant-step collinearity so areas form a real gradient
      // (without it every interior vertex is collinear and VW
      // collapses to the wrap corners at any threshold)
      graft.vector.Simplify.simplifyLinesVW(
        supplierPoints(s, dir).where(col("pid") >= 1 && col("pid") <= 32)
          .withColumn("py", col("py") + (col("pid") % 3) * 1.5)
          .withColumn("fid", expr("(pid - 1) div 16")), minArea = 30.0)),

    "q_dedup_keep" -> ((s, dir) =>
      // the dedup pipeline's shippable artifact: per-doc component +
      // keep flag (component representative survives, the rest drop)
      dupComponents(s, dir)
        .select(col("doc_id"), col("component"),
          when(col("component") === col("doc_id"), 1L).otherwise(0L).as("keep"))),

    "q_maxsim" -> ((s, dir) =>
      // ColBERT-style multi-vector late interaction: labels < 2 are
      // query bags, the rest candidate bags; per-query-vector best
      // match micro-quantized before the per-pair sum
      pipeline.Similarity.maxSim(table(s, dir, "embeddings"),
        col("label") < 2, col("label") >= 2)),

    "q_temporal_delta" -> ((s, dir) =>
      // change detection: tile(t) - tile(t-1) across the 3 instants
      RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
        .temporalDelta().toCells
        .select(col("x"), col("y"), col("instant"), col("v"))),

    "q_contamination" -> ((s, dir) =>
      // decontamination sweep: docs with doc_id % 20 == 0 act as the
      // "eval set"; low threshold so partial quotes surface too
      pipeline.Dedup.contamination(table(s, dir, "documents"),
        col("doc_id") % 20 === 0, threshold = 0.3)),

    "q_bloom_contamination" -> ((s, dir) =>
      // constant-memory decontamination: 2^18-bit Bloom of the eval
      // set's shingles, 3 salted hashes; corpus-side bit-test scan
      pipeline.Dedup.bloomContamination(table(s, dir, "documents"),
        col("doc_id") % 20 === 0)),

    "q_dedup_cosine" -> ((s, dir) =>
      pipeline.Similarity.cosinePairs(table(s, dir, "embeddings"), threshold = 0.3)),

    // --- LLM-pipeline: similarity search (embeddings)
    "q_ann_brute" -> ((s, dir) =>
      pipeline.Similarity.bruteTopK(table(s, dir, "embeddings"), col("vec_id") % 50 === 0, k = 5)),

    "q_ann_lsh" -> ((s, dir) =>
      pipeline.Similarity.lshPairs(table(s, dir, "embeddings"), threshold = 0.25)),

    "q_knn_label" -> ((s, dir) =>
      // exact k-NN majority label (ties -> smallest label)
      pipeline.Similarity.knnLabel(table(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, k = 5)),

    "q_ann_ivf" -> ((s, dir) =>
      pipeline.Similarity.ivfTopK(table(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, col("vec_id") % 37 === 0)),

    "q_ann_recall" -> ((s, dir) => {
      // recall@5 of IVF vs the exact brute top-5 (index tuning report)
      val e = table(s, dir, "embeddings")
      pipeline.Similarity.recallAtK(
        pipeline.Similarity.bruteTopK(e, col("vec_id") % 50 === 0, 5),
        pipeline.Similarity.ivfTopK(e, col("vec_id") % 50 === 0,
          col("vec_id") % 37 === 0), 5)
    }),

    "q_props_stats" -> ((s, dir) =>
      // JSON props.k extraction + per-type rollup (codegen'd path)
      streaming.Events.propsStats(eventsTable(s, dir))),

    "q_ann_pq" -> ((s, dir) =>
      // product-quantization ADC top-k: codes from the vec_id % 37
      // sampled codebooks, queries vec_id % 50 — third scale path
      // beside LSH/IVF; all-integer distances
      pipeline.Similarity.pqTopK(table(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, col("vec_id") % 37 === 0)),

    "q_embed_centroids" -> ((s, dir) =>
      // per-label element-wise mean of the quantized embeddings
      pipeline.Similarity.labelCentroids(table(s, dir, "embeddings"))),

    "q_embed_gram" -> ((s, dir) =>
      // exact Gram matrix (whitening/PCA prep): per-partition d(d+1)/2
      // Long fold, bounded partial merge — no per-doc d^2 rows
      pipeline.Similarity.gramMatrix(table(s, dir, "embeddings"))),

    "q_hist2d" -> ((s, dir) => {
      // joint histogram of the grid vs a derived layer: the
      // continuous change-detection confusion matrix
      val a = lineitemLayer(s, dir)
      Compare.jointHistogram(a, a.localMap(c => pmod(c * 37, lit(101.0))),
        widthA = 64, widthB = 16)
    }),

    "q_event_enrich" -> ((s, dir) =>
      // stream-static dim enrichment (batch form; MemoryStream twin
      // spec-proves stream == batch)
      streaming.Events.enrichByNation(eventsTable(s, dir), table(s, dir, "nation"))),

    "q_embed_cluster" -> ((s, dir) =>
      // nearest-centroid assignment (semantic bucketing): centroids =
      // the deterministic vec_id % 37 subset, broadcast; exact integer
      // dot products (Similarity determinism contract)
      pipeline.Similarity.clusterAssign(table(s, dir, "embeddings"),
        col("vec_id") % 37 === 0)),

    "q_kmeans" -> ((s, dir) =>
      // 2 Lloyd rounds from the vec_id % 37 init; output is the final
      // assignment with EXACT integer L2^2 distances — no rounding
      // anywhere (integer centroids via round-half-up requantization)
      pipeline.Similarity.kmeans(table(s, dir, "embeddings"),
        col("vec_id") % 37 === 0, iters = 2)),

    "q_wasserstein" -> ((s, dir) =>
      // W1 between source doc-length distributions (r15): CDF-diff
      // sum restated as exact integers — no rounding anywhere
      pipeline.TextAnalysis.lengthWasserstein(table(s, dir, "documents"))),

    "q_js_divergence" -> ((s, dir) =>
      // per-source-pair token-distribution JS divergence (r15):
      // top-200 shared vocab + OOV bucket, add-1 smoothing; each
      // bucket term micro-nat-quantized BEFORE the exact integer sum
      pipeline.TextAnalysis.jsDivergence(table(s, dir, "documents"))),

    "q_embed_drift" -> ((s, dir) =>
      // linear-MMD distribution shift between label populations (r15):
      // exact-integer numerator over quantized sums, one double cast
      pipeline.Similarity.labelDrift(table(s, dir, "embeddings"))),

    "q_random_project" -> ((s, dir) =>
      // 64 -> 16 dim JL sketch with the deterministic LCG matrix
      pipeline.Similarity.randomProject(table(s, dir, "embeddings"))),

    "q_semdedup" -> ((s, dir) =>
      // SemDeDup: cluster on the % 37 centroids, drop vectors with an
      // eps-similar earlier vector (centroid-similarity order) in the
      // same cluster
      pipeline.Similarity.semDedup(table(s, dir, "embeddings"),
        eps = 0.2, col("vec_id") % 37 === 0)),

    // --- LLM-pipeline: corpus curation (documents)
    "q_split" -> ((s, dir) =>
      // content-stable train/val/test assignment (90/5/5 permille)
      pipeline.Curation.trainValTestSplit(table(s, dir, "documents"))),

    "q_cms_estimate" -> ((s, dir) =>
      // CMS point estimates for a fixed probe list (min over rows)
      pipeline.Sketch.cmsEstimates(table(s, dir, "documents"),
        Seq("the", "spark", "table", "zzzNeverSeen"))),

    "q_sample_hash" -> ((s, dir) =>
      // deterministic 10% id-hash sample — same docs on every run/engine
      pipeline.Curation.hashSample(table(s, dir, "documents"), permille = 100)),

    "q_sample_strat" -> ((s, dir) =>
      // per-source keep rates: sources with suffix % 4 == 0 keep 40%,
      // == 1 keep 20%, == 2 keep 10%, == 3 dropped (stated in the SQL)
      pipeline.Curation.stratifiedSample(table(s, dir, "documents"),
        rates = (0 until 20).map(i => s"src$i" -> Seq(400, 200, 100, 0)(i % 4)).toMap)),

    "q_upsample" -> ((s, dir) =>
      // epochs per source: suffix % 4 == 0 -> 2.5 epochs, == 1 -> 1.5,
      // == 2 -> 1, == 3 -> 0.4 (the permille remainder picks the extra
      // copy by the same portable id hash the samplers use)
      pipeline.Curation.upsampleBySource(table(s, dir, "documents"),
        rates = (0 until 20).map(i => s"src$i" -> Seq(2500, 1500, 1000, 400)(i % 4)).toMap)),

    "q_pack_sequences" -> ((s, dir) =>
      // concatenate-and-chunk packing at a 2048-token budget per source
      pipeline.Curation.packSequences(table(s, dir, "documents"))),

    "q_pack_spans" -> ((s, dir) =>
      // attention-span manifest (r17): one row per (sequence, doc)
      // span — the document-boundary masks a packed training loader
      // consumes; pure integer arithmetic over the packing
      pipeline.Curation.packedSpans(table(s, dir, "documents"))),

    "q_mixture_rates" -> ((s, dir) =>
      // sqrt-temperature mixture weights anchored on the largest
      // source (max is order-free; a float sum is not)
      pipeline.Curation.mixtureRates(table(s, dir, "documents"))),

    "q_chunk_docs" -> ((s, dir) =>
      // 32-token windows every 24 tokens (8-token overlap); chunk_fp
      // pins the exact token spans
      pipeline.Curation.chunkDocuments(table(s, dir, "documents"))),

    // --- LLM-pipeline: text analysis (documents)
    "q_token_count" -> ((s, dir) =>
      pipeline.TextAnalysis.tokenCounts(table(s, dir, "documents"))),

    "q_bpe_tokens" -> ((s, dir) =>
      // exact BPE apply: count + md5 of the token sequence pins every
      // merge decision, not just the totals
      pipeline.TextAnalysis.bpeTokenize(table(s, dir, "documents"))),

    "q_bpe_train" -> ((s, dir) => {
      // greedy BPE TRAINER: distributed vocab count, driver merge
      // loop; every learned (rank, a, b) row pins a merge decision
      // (counts + lexicographic tie-break) against the unrolled oracle
      import s.implicits._
      pipeline.Bpe.train(table(s, dir, "documents"), numMerges = 8)
        .zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "a", "b")
    }),

    "q_quality_score" -> ((s, dir) =>
      pipeline.TextAnalysis.qualityScore(table(s, dir, "documents"))),

    "q_lang_id" -> ((s, dir) =>
      pipeline.TextAnalysis.langId(table(s, dir, "documents"))),

    "q_lang_confusion" -> ((s, dir) =>
      // langid evaluation artifact: declared vs predicted crosstab
      pipeline.TextAnalysis.langConfusion(table(s, dir, "documents"))),

    "q_corpus_stats" -> ((s, dir) =>
      // one-row corpus manifest header, all exact integers
      pipeline.TextAnalysis.corpusStats(table(s, dir, "documents"))),

    "q_geodesic_area" -> ((s, dir) =>
      // spherical-excess area of a 0.5-degree diamond around each
      // customer point (l'Huilier per fan triangle, summed in-row);
      // the formula is ONE shared SQL text in both engines
      customerLonLat(s, dir).select(col("pid"),
        uq(expr(graft.vector.Measures.diamondAreaSql(0.5)), 10000.0)
          .as("area_km2_u"))),

    "q_quality_filter" -> ((s, dir) =>
      pipeline.TextAnalysis.qualityFilter(table(s, dir, "documents"))),

    "q_fingerprint" -> ((s, dir) =>
      pipeline.TextAnalysis.fingerprint(table(s, dir, "documents"))),

    "q_pii_redact" -> ((s, dir) =>
      // the synthetic corpus carries no natural PII, so the query
      // injects a deterministic email/IP/phone per doc (identical
      // string construction in the oracle) and redacts it back out
      pipeline.TextAnalysis.piiRedact(
        table(s, dir, "documents").withColumn("text", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."), pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".7 or +1555000"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))))),

    "q_lm_score" -> ((s, dir) =>
      pipeline.TextAnalysis.unigramLmScore(table(s, dir, "documents"))),

    "q_bigram_lm" -> ((s, dir) =>
      // add-one bigram model with <s> BOS contexts; per-pair micro-nat
      // quantization, exact per-doc sums
      pipeline.TextAnalysis.bigramLmScore(table(s, dir, "documents"))),

    "q_char_entropy" -> ((s, dir) =>
      // Shannon entropy of the per-doc alnum char distribution
      // (gibberish / encoding-error pre-filter)
      pipeline.TextAnalysis.charEntropy(table(s, dir, "documents"))),

    "q_pmi" -> ((s, dir) =>
      // corpus collocations: PMI of adjacent word bigrams (floor
      // bounds the output — no float-ranked top-k to tie-flip)
      pipeline.TextAnalysis.pmiCollocations(table(s, dir, "documents"))),

    "q_ngram_matrix" -> ((s, dir) =>
      // cross-source 3-gram containment (asymmetric provenance matrix)
      pipeline.Dedup.ngramSourceMatrix(table(s, dir, "documents"))),

    "q_embed_outliers" -> ((s, dir) =>
      // label-noise audit: top-3 farthest-from-centroid per label,
      // exact integer m^2*d^2 ranking
      pipeline.Similarity.embedOutliers(table(s, dir, "embeddings"))),

    "q_contrastive" -> ((s, dir) =>
      // hard-negative mining: top same-label positive + 3 hardest
      // other-label negatives per anchor (vec_id % 25 == 0)
      pipeline.Similarity.contrastivePairs(
        table(s, dir, "embeddings"), col("vec_id") % 25 === 0)),

    "q_jm_lm" -> ((s, dir) =>
      // Jelinek-Mercer interpolated bigram NLL (lambda = 3/4)
      pipeline.TextAnalysis.jmLmScore(table(s, dir, "documents"))),

    "q_fertility" -> ((s, dir) =>
      // tokenizer fertility per source (BPE tokens per word, chars
      // per token)
      pipeline.TextAnalysis.fertility(table(s, dir, "documents"))),

    "q_skipgram" -> ((s, dir) =>
      // word2vec-prep SPPMI matrix: window-2 symmetric co-occurrence,
      // pair-universe marginals, ln-5 shift (Levy & Goldberg 2014)
      pipeline.TextAnalysis.skipgramPmi(table(s, dir, "documents"))),

    "q_oov_rate" -> ((s, dir) =>
      // OOV rate vs the top-20 corpus vocabulary (ties -> token asc)
      pipeline.TextAnalysis.oovRate(table(s, dir, "documents"))),

    "q_html_extract" -> ((s, dir) => {
      // the corpus is plain text, so the query wraps each doc in a
      // deterministic HTML page (identical construction in the
      // oracle — the pii_redact injection precedent) and strips it
      // back out; content hash + length pin the cleaned text
      val wrapped = table(s, dir, "documents").withColumn("html", concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<style>p { color: red; }</style></head><body><h1>"),
        col("source"), lit("</h1>\n<p>"), col("text"),
        lit("</p>\n<div>&amp;copy &lt;b&gt;bold&#39;s&quot; &gt;</div></body></html>")))
      pipeline.TextAnalysis.htmlExtract(wrapped)
        .select(col("doc_id"), length(col("clean")).cast("long").as("n_clean"),
          md5(col("clean")).as("h"))
    }),

    "q_ppl_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail perplexity thirds per source
      pipeline.TextAnalysis.perplexityBuckets(table(s, dir, "documents"))),

    "q_ppl_buckets_degrade" -> ((s, dir) =>
      // the SAME corpus FORCED through the threshold-sketch degrade
      // (r18, maxExactPerSource = 0): milli-nat histogram sketch ->
      // rational-rank tercile thresholds -> bucket by VALUE; its own
      // oracle (value semantics put nll ties in one bucket where the
      // exact path splits them by rank)
      pipeline.TextAnalysis.perplexityBuckets(table(s, dir, "documents"),
        maxExactPerSource = 0)),

    "q_cms_sketch" -> ((s, dir) =>
      // 4 x 256 count-min sketch of the token frequency stream
      pipeline.Sketch.countMinSketch(table(s, dir, "documents"))),

    "q_dedup_spans" -> ((s, dir) =>
      // Lee et al. exact-substring dedup: all non-first occurrences of
      // any duplicated 10-token span, min-aggregate keeper (no window)
      pipeline.Dedup.duplicateSpans(table(s, dir, "documents"))),

    "q_hll_sketch" -> ((s, dir) =>
      // 64 HyperLogLog registers over distinct tokens — the m-row
      // mergeable state, all-integer (rho from the hash bit length)
      pipeline.Sketch.hllSketch(table(s, dir, "documents"))),

    "q_hll_estimate" -> ((s, dir) => {
      // the estimator as a checked endpoint: Z = exact integer
      // Σ 2^(55-rho); E = 0.709 * m^2 * 2^55 / Z is ONE float
      // expression stated identically in SQL (the linear-counting
      // branch compares on the same exact doubles; documents' vocab
      // >> 5m/2 so the raw branch holds, deterministically)
      val regs = pipeline.Sketch.hllSketch(table(s, dir, "documents"))
      regs.agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - rho AS INT))")).as("z"),
          sum(when(col("rho") === 0, 1L).otherwise(0L)).as("zeros"))
        .select(uq(
          when(lit(0.709) * 64 * 64 * lit(36028797018963968.0) / col("z") <= 160.0
               && col("zeros") > 0,
            lit(64.0) * log(lit(64.0) / col("zeros")))
          .otherwise(lit(0.709) * 64 * 64 * lit(36028797018963968.0) / col("z")))
          .as("est_u"))
    }),

    "q_gopher_filter" -> ((s, dir) =>
      // MassiveText document-level rules on the raw corpus; the
      // synthetic vocabulary carries only "the" from the Gopher
      // stopword 8, so the query relaxes minStopTypes to 1 (the
      // operator default stays at the paper's 2) — the word-count
      // rule then provides the other live decision boundary
      pipeline.TextAnalysis.gopherFilter(table(s, dir, "documents"),
        minStopTypes = 1)),

    "q_url_stats" -> ((s, dir) =>
      // synthetic docs carry no URLs, so the query injects two per doc
      // (pii_redact precedent, identical construction in the oracle):
      // a wWw.-prefixed mixed-case host and a ported host — both must
      // normalize (lowercase, strip www., drop port/path)
      pipeline.TextAnalysis.domainStats(
        table(s, dir, "documents").withColumn("text", concat(
          col("text"), lit(" see https://wWw.Site"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com/page/"), col("doc_id").cast("string"),
          lit(" and http://cdn"), pmod(col("doc_id"), lit(3)).cast("string"),
          lit(".example.net:8080/x?y=1"))))),

    "q_c4_filter" -> ((s, dir) =>
      // the synthetic corpus is single-line / punctuation-free, so the
      // query reshapes each doc into a deterministic multi-line page
      // (identical construction in the oracle, pii_redact precedent):
      // text-derived lines exercise the word-count + terminal-punct
      // rules; modulus-selected lines inject the page-level drops
      // (curly brace, lorem ipsum) and the line-level javascript rule
      pipeline.TextAnalysis.c4Clean(
        table(s, dir, "documents").select(col("doc_id"), concat(
          substring(col("text"), 1, 120), lit(".\n"),
          substring(col("text"), 121, 90), lit("\n"),
          substring(col("text"), 211, 70), lit("!\n"),
          lit("tiny one.\n"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            "Code sample { x = 1 } appears here today.")
            .otherwise("A perfectly good closing sentence with many words?"),
          lit("\n"),
          when(pmod(col("doc_id"), lit(13)) === 0,
            "Standard lorem ipsum filler text goes right here.")
            .otherwise("Final words of the page end here."),
          lit("\n"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            "This line mentions javascript so it must go away.")
            .otherwise("Seven more words complete this very document nicely."))
          .as("text")))),

    "q_tfidf_terms" -> ((s, dir) =>
      // top-3 characteristic terms per doc; log-free tf*N/df score so
      // both engines rank identically (see tfidfTopTerms scaladoc)
      pipeline.TextAnalysis.tfidfTopTerms(table(s, dir, "documents"))),

    "q_tfrecord_roundtrip" -> ((s, dir) => {
      // TFRecord shard export + re-read: tf.train.Example protobufs in
      // CRC32C-framed records, hand-coded from the public specs; the
      // re-read rows must match the source table content-exactly
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_tfrecord"
      pipeline.TFRecord.writeShards(
        table(s, dir, "documents").select(col("doc_id"), col("text")), out, n = 4)
      pipeline.TFRecord.read(s, out)
        .select(col("shard").cast("long").as("shard"), col("doc_id"),
          length(col("text")).cast("long").as("n_text"), md5(col("text")).as("h"))
    }),

    "q_webdataset_roundtrip" -> ((s, dir) => {
      // WebDataset tar shards: {doc_id}.txt entries in deterministic
      // ustar archives; re-read content must match the source table
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_wds"
      pipeline.WebDataset.writeShards(
        table(s, dir, "documents").select(col("doc_id").as("key"),
          map(lit("txt"), encode(col("text"), "UTF-8")).as("entries")), out, n = 4)
      pipeline.WebDataset.read(s, out)
        .where(col("ext") === "txt")
        .select(col("shard").cast("long").as("shard"), col("key").as("doc_id"),
          length(decode(col("payload"), "UTF-8")).cast("long").as("n_text"),
          md5(decode(col("payload"), "UTF-8")).as("h"))
    }),

    "q_bm25" -> ((s, dir) =>
      // BM25 retrieval scores for a fixed query-term set; idf and
      // per-(doc,term) scores quantize to integer micro-units before
      // the per-doc sum (see bm25 scaladoc)
      pipeline.TextAnalysis.bm25(table(s, dir, "documents"), Bm25Terms)),

    "q_rrf_fusion" -> ((s, dir) =>
      // hybrid retrieval: BM25 + tf-idf top-20 lists fused by
      // reciprocal-rank fusion (micro-quantized; see hybridRetrieval)
      pipeline.TextAnalysis.hybridRetrieval(table(s, dir, "documents"), Bm25Terms)),

    "q_cross_dedup" -> ((s, dir) =>
      // cross-corpus dedup: flag crawl docs whose 8-token prefix key
      // already appears in the reference sources (src0..src9)
      pipeline.Dedup.crossDedup(table(s, dir, "documents"),
        col("source").rlike("^src[0-9]$"))),

    "q_shards" -> ((s, dir) =>
      // deterministic shard manifest with order-free xor fingerprints
      pipeline.Curation.shardAssign(table(s, dir, "documents"))),

    "q_token_buckets" -> ((s, dir) =>
      // token-length histogram in 32-token bins (packing planning)
      pipeline.Curation.tokenLengthHistogram(table(s, dir, "documents"))),

    "q_quality_classifier" -> ((s, dir) =>
      // hashed unigram+bigram linear classifier (fastText inference
      // shape) with pinned arithmetic weights
      pipeline.TextAnalysis.classifierScore(table(s, dir, "documents"))),

    "q_dsir" -> ((s, dir) =>
      // DSIR importance scores: target = English docs, raw = the rest;
      // hashed unigram+bigram buckets, micro-nat quantized log-ratios
      pipeline.TextAnalysis.dsirScore(table(s, dir, "documents"),
        col("lang") === "en")),

    // --- LLM-pipeline: multimodal plumbing (stubbed decode)
    "q_multimodal_meta" -> ((s, dir) =>
      pipeline.Multimodal.metadata(pipeline.Multimodal.asBlobs(table(s, dir, "documents")))),

    "q_multimodal_audio" -> ((s, dir) =>
      // synthetic PCM through the REAL WAV byte path: encode -> RIFF
      // chunk-walk decode -> exact integer features; the oracle states
      // the closed form of the synth samples directly
      pipeline.Multimodal.decodeAudioFeatures(
        pipeline.Multimodal.synthWavBlobs(table(s, dir, "documents"))).toDF()),

    "q_image_resize" -> ((s, dir) =>
      // nearest-neighbor 2x downsample through the REAL BMP byte path
      // (synthetic 24-bit BMPs; oracle restates the closed pixel form)
      pipeline.Multimodal.resizeFeatures(
        pipeline.Multimodal.synthBmpBlobs(table(s, dir, "documents")))),

    "q_image_dedup" -> ((s, dir) =>
      // perceptual-hash (aHash-64) image NEAR-DUP pairs through the
      // REAL BMP byte path (r17): groups-of-4 fixtures where variants
      // perturb one pixel, signatures from the 8×8 mean test, pairs
      // from the SAME pigeonhole-banded hamming join text SimHash
      // uses; the oracle recomputes the sampled bits from the closed
      // pixel form and brute-pairs them
      // failOnHot: the brute-pair oracle assumes pigeonhole
      // completeness — a capped bucket must fail loudly, not drop
      pipeline.Multimodal.imageHashPairs(
        pipeline.Multimodal.synthBmpNearDupBlobs(
          table(s, dir, "documents").where(expr("doc_id div 4") % 199 === 0)),
        failOnHot = true)),

    "q_audio_dedup" -> ((s, dir) =>
      // audio-fingerprint near-dup pairs through the REAL WAV path
      // (r17): energy-delta 32-bit fingerprints (exact integer Σs²
      // comparisons), groups-of-4 perturbed fixtures, banded hamming
      // join; brute-pair oracle from the closed sample form
      pipeline.Multimodal.audioHashPairs(
        pipeline.Multimodal.synthWavNearDupBlobs(
          table(s, dir, "documents").where(expr("doc_id div 4") % 199 === 0)),
        failOnHot = true)),

    "q_split_safe" -> ((s, dir) =>
      // LEAKAGE-SAFE split (r17): permille over the normalized
      // CONTENT fingerprint, so exact dups and punctuation variants
      // co-travel — no train/test contamination through dup families
      pipeline.Curation.splitByContent(table(s, dir, "documents"))),

    "q_audio_windows" -> ((s, dir) =>
      // exact per-window PCM energies through the real WAV path
      pipeline.Multimodal.audioWindows(
        pipeline.Multimodal.synthWavBlobs(table(s, dir, "documents")))),

    "q_audio_autocorr" -> ((s, dir) =>
      // exact-integer PCM autocorrelation (periodicity feature)
      // through the real WAV byte path; oracle restates the synthetic
      // sample closed form
      pipeline.Multimodal.audioAutocorr(
        pipeline.Multimodal.synthWavBlobs(table(s, dir, "documents")))),

    "q_multimodal_frames" -> ((s, dir) =>
      // row-per-sampled-frame plumbing; frame count from byte length,
      // frame signature from the content MD5 (both restated in SQL)
      pipeline.Multimodal.sampleFrames(
        pipeline.Multimodal.asBlobs(table(s, dir, "documents"))).toDF()),

    "q_video_frames" -> ((s, dir) =>
      // REAL container byte path (r15): synthetic uncompressed-DIB
      // AVIs encode through AviCodec, demux back, and every sampled
      // frame reports its exact gray pixel sum — the closed form the
      // oracle restates (frame pixels g = (id*7 + f*17 + 3x + 11y)
      // mod 256; all integers)
      pipeline.Multimodal.videoFrames(
        pipeline.Multimodal.synthAviBlobs(table(s, dir, "documents"))).toDF()),

    // --- streaming-shaped event ops (batch form; streaming path in specs)
    "q_event_window" -> ((s, dir) =>
      streaming.Events.hourlyAgg(eventsTable(s, dir))),

    "q_lateness" -> ((s, dir) =>
      // per-minute event-time lateness histogram (watermark tuning)
      streaming.Events.latenessAudit(eventsTable(s, dir))),

    "q_zipf" -> ((s, dir) =>
      // rank-frequency slope over the top-30 tokens
      pipeline.TextAnalysis.zipfFit(table(s, dir, "documents"))),

    "q_cusum" -> ((s, dir) =>
      // per-user one-sided CUSUM drift summary (Page 1954), exact
      // integer cents via the prefix-min identity
      streaming.Events.cusumDrift(eventsTable(s, dir))),

    "q_funnel" -> ((s, dir) =>
      // view -> click -> purchase min-chaining funnel
      streaming.Events.funnel(eventsTable(s, dir), Seq("view", "click", "purchase"))),

    "q_retention" -> ((s, dir) =>
      // first-active-day cohorts x day offset (DAU triangle)
      streaming.Events.retentionCohorts(eventsTable(s, dir))),

    "q_sessionize" -> ((s, dir) =>
      streaming.Events.sessionize(eventsTable(s, dir))),

    "q_session_window" -> ((s, dir) =>
      // Spark's NATIVE session_window aggregation (inclusive-gap
      // merge pinned by spec — identical sessions to q_sessionize)
      streaming.Events.sessionWindowAgg(eventsTable(s, dir))),

    "q_asof_join" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      streaming.Events.asofJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
    }),

    "q_interval_join" -> ((s, dir) =>
      // all events within 10 min after each error, same user —
      // bucket-decomposed range join (equi-join + exact filter)
      streaming.Events.intervalJoin(eventsTable(s, dir))),

    // --- r16 second wave: n-ary overlay / knn / line buffer /
    //     harmonic fit / incremental dedup
    "q_dissolve" -> ((s, dir) => {
      // union-by-attribute (JTS unaryUnion grouped by key): exact
      // n-ary union areas from the signed-piece algebra, overlaps
      // counted once; literal-restating oracle
      import s.implicits._
      graft.vector.Overlay.dissolve(
          dissolveFixtures.toDF("key", "pid", "xs", "ys"))
        .select(col("key"), col("n_polys"), col("n_pieces"),
          uq(col("area")).as("area_u"))
    }),

    "q_knn_join" -> ((s, dir) =>
      // k-nearest-neighbor join within radius 24 (ArcGIS near table):
      // customer queries x supplier references on the shared 256
      // frame; exact integer d2 (the +0.5 offsets cancel)
      graft.vector.SpatialJoin.knnWithin(
          customerPoints(s, dir),
          supplierPoints(s, dir).select(col("pid").as("rid"),
            col("px").as("rx"), col("py").as("ry")),
          radius = 24.0, k = 3)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("rid"), col("d2"))),

    "q_buffer_line" -> ((s, dir) =>
      // polyline buffer (JTS buffer on a LineString): segment slabs +
      // outer-turn arc fans + round end caps feeding the same
      // union-mask; grid-containment dual oracle (q_buffer_concave
      // precedent)
      flat(ZonalOps.maskGrid(lineitemLayer(s, dir), bufferLinePieces))),

    "q_harmonic" -> ((s, dir) => {
      // per-cell harmonic (seasonal) regression sums over the 3
      // instants: n + micro-quantized cos/sin weighted sums, all
      // exact integers
      val (cnt, sc, ss) = RasterLayer
        .fromCellsTemporal(lineitemTemporalCells(s, dir), layout64)
        .temporalHarmonic(3.0)
      cnt.toCells.select(col("x"), col("y"), col("v").cast("long").as("n"))
        .join(sc.toCells.select(col("x"), col("y"),
          col("v").cast("long").as("sc")), Seq("x", "y"))
        .join(ss.toCells.select(col("x"), col("y"),
          col("v").cast("long").as("ss")), Seq("x", "y"))
    }),

    "q_dedup_incremental" -> ((s, dir) =>
      // incremental ingest dedup: delta docs (doc_id % 4 = 0) LSH-
      // checked against the base corpus only — no base x base work
      pipeline.Dedup.incrementalDedup(
        table(s, dir, "documents"), col("doc_id") % 4 === 0)),

    "q_dedup_incremental_indexed" -> ((s, dir) => {
      // persistent-index twin (r17): the base corpus's signatures are
      // STORED as a catalog table and read back — only the delta
      // batch's text is scanned; results identical to the recompute
      // path (shares its oracle verbatim)
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val docs = table(s, dir, "documents")
      pipeline.Dedup.writeSignatureIndex(uri, "sig_index",
        docs.where(col("doc_id") % 4 =!= 0))
      pipeline.Dedup.incrementalDedupIndexed(
        docs.where(col("doc_id") % 4 === 0), uri, "sig_index")
    }),

    "q_semdedup_gate" -> ((s, dir) => {
      // semantic ingest gate (r17): the base corpus (vec_id % 50 ≠ 0)
      // is IVF-indexed once; arriving vectors probe the stored lists
      // and report base matches at cos_u ≥ 950000 — the embedding
      // twin of q_dedup_incremental_indexed, stream-safe by
      // construction (row-local HOF probe, no windows)
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val emb = table(s, dir, "embeddings")
      pipeline.Similarity.writeIvfIndex(uri, "ivf_gate",
        emb.where(col("vec_id") % 50 =!= 0), col("vec_id") % 37 === 0)
      pipeline.Similarity.semDedupGateIndexed(
        emb.where(col("vec_id") % 50 === 0), uri, "ivf_gate")
    }),

    "q_ann_ivf_indexed" -> ((s, dir) => {
      // persistent IVF index (r17): centroid + list tables stored in
      // the catalog, probing reads them back — zero corpus reads at
      // query time; shares q_ann_ivf's oracle verbatim
      val uri = s"${System.getProperty("java.io.tmpdir")}/graft_catalog"
      val emb = table(s, dir, "embeddings")
      pipeline.Similarity.writeIvfIndex(uri, "ivf_index", emb,
        col("vec_id") % 37 === 0)
      pipeline.Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") % 50 === 0), uri, "ivf_index")
    }),

    "q_overlay_join" -> ((s, dir) => {
      // polygon-layer overlay join (ArcGIS Intersect): concave stars
      // x diamond fixtures through the grid-bucket pair plan, exact
      // piece-algebra intersection areas; literal-restating oracle
      import s.implicits._
      graft.vector.Overlay.overlayJoin(
          concaveFixtures.toDF("aid", "xs", "ys"),
          clipFixtures.toDF("bid", "xs", "ys"))
        .select(col("aid"), col("bid"), col("n_pieces"),
          uq(col("area")).as("area_u"))
    }),

    "q_knn_exact" -> ((s, dir) =>
      // EXACT unbounded kNN (expanding-radius rounds): every customer
      // finds its true 3 nearest suppliers whatever the local density
      graft.vector.SpatialJoin.knnJoin(
          customerPoints(s, dir),
          supplierPoints(s, dir).select(col("pid").as("rid"),
            col("px").as("rx"), col("py").as("ry")),
          k = 3, initRadius = 8.0, maxRadius = 512.0)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("rid"), col("d2"))),

    "q_clip_lines" -> ((s, dir) => {
      // polyline clip to the (64,64)-(192,192) window (Liang-Barsky
      // per segment, path-order fold); literal-restating oracle
      import s.implicits._
      graft.vector.Clip.clipLines(
          lineFixtures.toDF("pid", "xs", "ys"), 64, 64, 192, 192)
        .select(col("pid"), col("n_segs"),
          uq(col("length")).as("length_u"))
    }),

    "q_mixture_sample" -> ((s, dir) =>
      // the mixture EXECUTED: temperature-smoothed per-source keep
      // rates folded into one stratified hash-sample scan
      pipeline.Curation.sampleByMixture(table(s, dir, "documents"))),

    "q_dbscan" -> ((s, dir) =>
      // grid-accelerated DBSCAN over supplier points (eps 20,
      // minPts 3 self-inclusive per Ester/sklearn): pinned-
      // deterministic core/border/noise labels, clusters = min-pid
      // components of the core eps-graph
      graft.vector.SpatialJoin.dbscan(
        supplierPoints(s, dir), eps = 20.0, minPts = 3)),

    "q_pipeline_report" -> ((s, dir) =>
      // the staged curation funnel (raw -> gopher -> quality ->
      // exact-dedup keepers): per-stage survivor doc/char counts;
      // minStopTypes = 1 per the q_gopher_filter corpus note
      pipeline.Curation.pipelineReport(
        table(s, dir, "documents"), gopherMinStopTypes = 1)),

    "q_areal" -> ((s, dir) => {
      // areal interpolation (census reaggregation): dissolve-fixture
      // polygons carry v = pid*7%23+1; diamonds are the targets;
      // per-pair micro-quantized contributions, exact integer sums
      import s.implicits._
      val src = dissolveFixtures.map { case (_, pid, xs, ys) =>
        (pid, xs, ys, (pid * 7 % 23 + 1).toDouble)
      }.toDF("aid", "xs", "ys", "v")
      graft.vector.Overlay.arealInterpolate(src, clipFixtures.toDF("bid", "xs", "ys"))
    }),

    "q_near_join" -> ((s, dir) => {
      // ArcGIS Near with polygon targets: each supplier point's
      // nearest star fixture within radius 20, boundary distance
      // micro-quantized (0 inside); dual-computation SQL oracle
      import s.implicits._
      graft.vector.SpatialJoin.nearJoin(
        supplierPoints(s, dir),
        concaveFixtures.toDF("gid", "xs", "ys"), radius = 20.0)
    }),

    "q_temporal_anomaly" -> ((s, dir) =>
      // per-cell climatology anomaly: num = v*n - sum(v) and n per
      // (cell, instant) — the exact-integer anomaly form
      TimeSeries.anomaly(
        RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64))
        .select(col("x"), col("y"), col("instant"), col("n"), col("num"))),

    "q_temporal_median" -> ((s, dir) =>
      // per-cell temporal MEDIAN composite (robust cloud-free mosaic):
      // quantile_cont .5 over each cell's valid instants
      TimeSeries.medianComposite(
        RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64))
        .toCells
        .select(col("x"), col("y"), round(col("v") * lit(100000.0)).cast("long").as("v_u"))),

    "q_temporal_percentile" -> ((s, dir) =>
      // per-cell temporal QUANTILE composite (r17): quantile_cont .25
      // — dyadic p keeps every interpolation step exact on integral
      // stacks (the percentileComposite determinism contract)
      TimeSeries.percentileComposite(
        RasterLayer.fromCellsTemporal(lineitemTemporalCells(s, dir), layout64), 0.25)
        .toCells
        .select(col("x"), col("y"), round(col("v") * lit(100000.0)).cast("long").as("v_u"))),

    "q_erase" -> ((s, dir) => {
      // ArcGIS Erase between two layers: stars minus ALL overlapping
      // diamonds, B-overlaps counted once (n-ary union of the cut
      // pieces per A); literal-restating oracle
      import s.implicits._
      graft.vector.Overlay.eraseJoin(
          concaveFixtures.toDF("aid", "xs", "ys"),
          clipFixtures.toDF("bid", "xs", "ys"))
        .select(col("aid"), col("n_cutters"),
          uq(col("area_left")).as("area_left_u"))
    }),

    "q_line_overlay" -> ((s, dir) => {
      // line x polygon overlay join ("road length per district"):
      // zig-zag polylines x concave stars, exact inside length via
      // the signed piece algebra (Cyrus-Beck spans, no interval
      // union); literal-restating oracle
      import s.implicits._
      graft.vector.Overlay.lineOverlayJoin(
          lineFixtures.toDF("lid", "xs", "ys"),
          concaveFixtures.toDF("gid", "xs", "ys"))
        .select(col("lid"), col("gid"), uq(col("len_in")).as("len_in_u"))
    }),
  )

  /** cost-distance ceiling: with friction in [1,10] every edge costs
    * >= 1, so ceil(maxCost) relaxation rounds reach a provable
    * fixpoint for all surviving cells. */
  val CostDistanceMaxCost = 32.0

  /** Unrolled bounded Bellman-Ford oracle for cost_distance: r0 =
    * source cells at d=0; each round relaxes every cell into its 8
    * grid neighbors (step 1 or sqrt(2), cost = step * friction(n)) and
    * keeps the per-cell min <= maxCost. Path prefixes are monotone, so
    * per-round pruning never cuts a surviving path, and both engines
    * fold identical doubles along identical optimal paths. CTEs are
    * MATERIALIZED: DuckDB would otherwise inline the grid scan into
    * every round (and run out of file handles). */
  /** Shared cost-distance CTE chain (normalized friction g, sources,
    * offsets o, unrolled relaxation r0..rN); returns (ctes, "rN") so
    * q_cost_distance and the q_cost_path walk state ONE derivation. */
  /** Shared head (normalized friction g + offsets o), emitted once
    * even when several relaxation chains follow (corridor). */
  private def costHeadCtes(grid: String): String = {
    val s2 = math.sqrt(2.0).toString
    Seq(
      // CASE mirrors RasterLayer.normalize's degenerate-grid guard:
      // on a constant grid (mx == mn) friction pins to 1.0 instead of
      // dividing by zero
      s"""g AS MATERIALIZED (SELECT x, y,
         |  CASE WHEN mx > mn THEN (v - mn) / (mx - mn) * 9.0 + 1.0 ELSE 1.0 END AS f
         |  FROM ($grid), (SELECT min(v) AS mn, max(v) AS mx FROM ($grid)))""".stripMargin,
      s"""o(dx, dy, step) AS (VALUES (-1,-1,$s2),(0,-1,1.0),(1,-1,$s2),(-1,0,1.0),
         |  (1,0,1.0),(-1,1,$s2),(0,1,1.0),(1,1,$s2))""".stripMargin).mkString(",\n")
  }

  /** One prefixed unrolled-relaxation chain over the shared g/o CTEs;
    * returns (ctes, final-round name). */
  private def costRelaxCtes(pts: String, pfx: String): (String, String) = {
    val c = CostDistanceMaxCost
    val rounds = math.ceil(c).toInt
    val head = Seq(
      s"""src_$pfx AS MATERIALIZED (SELECT DISTINCT g.x, g.y FROM ($pts) p
         |  JOIN g ON g.x = CAST(floor(p.px) AS BIGINT) AND g.y = CAST(floor(p.py) AS BIGINT))""".stripMargin,
      s"${pfx}0 AS MATERIALIZED (SELECT x, y, 0.0 AS d FROM src_$pfx)")
    val rels = (0 until rounds).map { i =>
      s"""$pfx${i + 1} AS MATERIALIZED (SELECT x, y, min(d) AS d FROM (
         |  SELECT x, y, d FROM $pfx$i
         |  UNION ALL
         |  SELECT g.x, g.y, $pfx$i.d + o.step * g.f AS d
         |  FROM $pfx$i JOIN o ON true JOIN g ON g.x = $pfx$i.x + o.dx AND g.y = $pfx$i.y + o.dy
         |) WHERE d <= $c GROUP BY 1, 2)""".stripMargin
    }
    ((head ++ rels).mkString(",\n"), s"$pfx$rounds")
  }

  private def costDistanceCtes(grid: String, pts: String): (String, String) = {
    val (relax, last) = costRelaxCtes(pts, "r")
    (s"${costHeadCtes(grid)},\n$relax", last)
  }

  private def costDistanceSql(grid: String, pts: String): String = {
    val (ctes, rN) = costDistanceCtes(grid, pts)
    s"WITH $ctes\nSELECT x, y, ${uqSql("d")} AS v_u FROM $rN"
  }

  /** Backtrack walk over the shared cost-distance CTEs: dest = argmax
    * d (ties min id), each step the neighbor minimizing
    * d(n) + step * f(cur) (ties min id) — the engine's exact
    * arithmetic, single-row recursive walk. */
  private def costPathSql(grid: String, pts: String): String = {
    val (ctes, rN) = costDistanceCtes(grid, pts)
    s"""WITH RECURSIVE $ctes,
       |dd AS MATERIALIZED (SELECT y * $G + x AS id, x, y, d FROM $rN),
       |gg AS MATERIALIZED (SELECT y * $G + x AS id, f FROM g),
       |walk(seq, cur) AS (
       |  SELECT CAST(0 AS BIGINT), (SELECT id FROM dd ORDER BY d DESC, id LIMIT 1)
       |  UNION ALL
       |  SELECT w.seq + 1,
       |    (SELECT n.id FROM dd n JOIN o ON n.x = (w.cur % $G) + o.dx AND n.y = (w.cur // $G) + o.dy
       |     JOIN gg cg ON cg.id = w.cur
       |     ORDER BY n.d + o.step * cg.f, n.id LIMIT 1)
       |  FROM walk w JOIN dd dc ON dc.id = w.cur
       |  WHERE dc.d > 0 AND w.seq < 1000
       |)
       |SELECT w.seq, dd.x, dd.y, CAST(round(dd.d * 100000.0) AS BIGINT) AS v_u
       |FROM walk w JOIN dd ON dd.id = w.cur""".stripMargin
  }

  /** 3x3 neighbor join over the lineitem grid (shared focal-oracle CTE). */
  private def focalJoin(agg: String): String =
    s"""WITH g AS ($lineitemCellsSql)
       |SELECT c.x AS x, c.y AS y, $agg AS v
       |FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
       |GROUP BY c.x, c.y""".stripMargin

  /** Horn-gradient pivot oracle (all-9-present convention, SURVEY §2).
    * `cellSize` scales the gradient denominators (degree grids);
    * `zfExpr` is a per-cell z-factor expression over nb columns
    * (notably y), exposed to `select` as `zf`. */
  private def hornSql(select: String, cellSize: Double = 1.0,
                      zfExpr: String = "1.0", alias: String = "v"): String =
    s"""WITH g AS ($lineitemCellsSql), nb AS (
       |  SELECT c.x AS x, c.y AS y,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y - 1 THEN n.v END) AS n1,
       |    max(CASE WHEN n.x = c.x     AND n.y = c.y - 1 THEN n.v END) AS n2,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y - 1 THEN n.v END) AS n3,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y     THEN n.v END) AS n4,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y     THEN n.v END) AS n6,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y + 1 THEN n.v END) AS n7,
       |    max(CASE WHEN n.x = c.x     AND n.y = c.y + 1 THEN n.v END) AS n8,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y + 1 THEN n.v END) AS n9,
       |    count(*) AS cnt
       |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
       |  GROUP BY c.x, c.y
       |), d AS (
       |  SELECT x, y,
       |    ((n3 + 2 * n6 + n9) - (n1 + 2 * n4 + n7)) / ${8.0 * cellSize} AS dzdx,
       |    ((n7 + 2 * n8 + n9) - (n1 + 2 * n2 + n3)) / ${8.0 * cellSize} AS dzdy,
       |    $zfExpr AS zf
       |  FROM nb WHERE cnt = 9
       |)
       |SELECT x, y, $select AS $alias FROM d""".stripMargin

  /** Full 3x3 window (n1..n9 incl center n5), NaN-gated on all 9
    * present — the oracle twin of Focal.terrain's window-index ops. */
  private def windowSql(select: String, where: String = "cnt = 9",
                        alias: String = "v"): String =
    s"""WITH g AS ($lineitemCellsSql), nb AS (
       |  SELECT c.x AS x, c.y AS y,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y - 1 THEN n.v END) AS n1,
       |    max(CASE WHEN n.x = c.x     AND n.y = c.y - 1 THEN n.v END) AS n2,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y - 1 THEN n.v END) AS n3,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y     THEN n.v END) AS n4,
       |    max(CASE WHEN n.x = c.x     AND n.y = c.y     THEN n.v END) AS n5,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y     THEN n.v END) AS n6,
       |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y + 1 THEN n.v END) AS n7,
       |    max(CASE WHEN n.x = c.x     AND n.y = c.y + 1 THEN n.v END) AS n8,
       |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y + 1 THEN n.v END) AS n9,
       |    count(*) AS cnt
       |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
       |  GROUP BY c.x, c.y
       |)
       |SELECT x, y, $select AS $alias FROM nb WHERE $where""".stripMargin

  /** Shared DuckDB CTE chain deriving the MinHash-LSH signature and
    * candidate-pair graph — the single source of truth for BOTH
    * q_dedup_minhash and q_dedup_clusters (same shingles, same hash
    * params as [[pipeline.Dedup.minhashPairs]]). */
  private lazy val minhashCtes: String = {
    val p = pipeline.Dedup.MinhashP
    val params = pipeline.Dedup.minhashParams(16)
    val minCols = params.zipWithIndex.map { case ((a, b), i) =>
      s"min((x * $a + $b) % $p) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 4 until (b + 1) * 4).map(i => s"m$i").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
       |  FROM t WHERE len(toks) >= 5)),
       |hx AS (SELECT doc_id, h % $p AS x FROM sh),
       |sig AS (SELECT doc_id, $minCols FROM hx GROUP BY 1),
       |banded0 AS ($bandSelects),
       |hotb AS (SELECT band, bkey FROM banded0 GROUP BY 1, 2
       |         HAVING count(*) > ${pipeline.Dedup.MinhashMaxBucket}),
       |banded AS (SELECT banded0.* FROM banded0 ANTI JOIN hotb USING (band, bkey)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  private lazy val minhashSimExpr: String =
    (0 until 16).map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** Declares every CTE of a chain (each `name AS (` at a line start,
    * after an optional `WITH`) `AS MATERIALIZED`. DuckDB inlines CTEs
    * otherwise, so a chain whose CTEs are each read twice by the next
    * (the unrolled LPA rounds) re-expands exponentially: q_modularity
    * ran for minutes, not seconds. Same rows either way. */
  private def materialized(ctes: String): String =
    ctes.replaceAll("(?m)^((?:WITH )?\\w+) AS \\(", "$1 AS MATERIALIZED (")

  /** Minhash-LSH duplicate components (doc_id, component) — shared
    * verbatim by q_dedup_clusters and (as a subquery) q_dedup_keep. */
  private lazy val dedupComponentsSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (
       |  SELECT d1, d2
       |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
       |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
       |sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
       |comp AS (SELECT u AS doc_id, least(min(v), u) AS component FROM reach GROUP BY u)
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** Shared D8 direction CTE chain (8 shifted left joins -> coalesced
    * drops -> greatest + CASE cascade, mirroring Hydrology exactly);
    * `tail` is either a final SELECT over `fdir` or further CTEs. */
  private def flowDirSql(tail: String): String = {
    val joins = graft.raster.Hydrology.Dirs.map { case (dx, dy, code) =>
      def off(c: String, d: Int) = if (d == 0) s"c.$c" else if (d > 0) s"c.$c + $d" else s"c.$c - ${-d}"
      s"  LEFT JOIN g e$code ON e$code.x = ${off("x", dx)} AND e$code.y = ${off("y", dy)}"
    }.mkString("\n")
    val nsel = graft.raster.Hydrology.Dirs.map { case (_, _, c) => s"e$c.z AS n$c" }.mkString(", ")
    val drops = graft.raster.Hydrology.Dirs.map { case (dx, dy, c) =>
      val dist = if (dx != 0 && dy != 0) " / sqrt(2.0)" else " / 1.0"
      s"coalesce((zc - n$c)$dist, -1e300) AS d$c"
    }.mkString(",\n    ")
    val dlist = graft.raster.Hydrology.Dirs.map { case (_, _, c) => s"d$c" }.mkString(", ")
    val cascade = graft.raster.Hydrology.Dirs.init.map { case (_, _, c) =>
      s"WHEN d$c = best THEN $c"
    }.mkString(" ") + s" ELSE ${graft.raster.Hydrology.Dirs.last._3}"
    val ctes =
      s"""WITH RECURSIVE g AS (SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, CAST(v AS DOUBLE) AS z FROM ($lineitemCellsSql)),
         |n AS (SELECT c.x, c.y, c.z AS zc, $nsel
         |  FROM g c
         |$joins),
         |d AS (SELECT x, y,
         |    $drops
         |  FROM n),
         |f AS (SELECT x, y, greatest($dlist) AS best, $dlist FROM d),
         |fdir AS (SELECT x, y, CAST(CASE WHEN best <= 0 THEN 0 $cascade END AS BIGINT) AS dir FROM f)""".stripMargin
    if (tail.trim.startsWith("SELECT")) s"$ctes\n$tail" else s"$ctes,\n$tail"
  }

  /** Linear-id out-edges of the D8 graph (one per non-pit cell) — the
    * shared `e` CTE behind q_flow_accum / q_watershed / q_stream_order. */
  private val d8EdgeCte: String =
    s"""e AS (SELECT y * 256 + x AS src,
       |    CASE dir WHEN 1 THEN y * 256 + x + 1 WHEN 2 THEN (y + 1) * 256 + x + 1
       |      WHEN 4 THEN (y + 1) * 256 + x WHEN 8 THEN (y + 1) * 256 + x - 1
       |      WHEN 16 THEN y * 256 + x - 1 WHEN 32 THEN (y - 1) * 256 + x - 1
       |      WHEN 64 THEN (y - 1) * 256 + x ELSE (y - 1) * 256 + x + 1 END AS dst
       |  FROM fdir WHERE dir <> 0)""".stripMargin

  /** Strahler fixpoint unrolled `rounds` times (the cost-distance
    * unrolled-Bellman-Ford precedent): each round rebuilds every
    * cell's (max upstream order, contributor count at that max) and
    * applies the Strahler bump. `rounds` must cover the drainage-tree
    * depth at the gate's scale factor (hash-noise terrain is depth ~6
    * at sf0.01; the engine iterates to the true fixpoint at any SF).
    * pk packs (ord, k) as ord * 16 + k — at most 8 upstream neighbors,
    * so k < 16 keeps the pack lexicographic. */
  private def streamOrderSql(rounds: Int): String = {
    // MATERIALIZED on every round: DuckDB inlines plain CTEs, so the
    // unrolled chain would re-evaluate the whole upstream tree per
    // reference (the cost-distance unrolled-Bellman-Ford precedent)
    val body = (1 to rounds).map { r =>
      s"""u$r AS (SELECT e.dst AS id, o.ord FROM e JOIN o${r - 1} o ON o.id = e.src),
         |g$r AS (SELECT id, ord, count(*) AS k FROM u$r GROUP BY 1, 2),
         |m$r AS (SELECT id, max(ord * 16 + k) AS pk FROM g$r GROUP BY 1),
         |o$r AS MATERIALIZED (SELECT c.id, coalesce(CASE WHEN m.pk % 16 >= 2 THEN m.pk // 16 + 1
         |          ELSE m.pk // 16 END, 1) AS ord
         |        FROM c LEFT JOIN m$r m ON m.id = c.id)""".stripMargin
    }.mkString(",\n")
    flowDirSql(
      s"""c AS MATERIALIZED (SELECT y * 256 + x AS id FROM fdir),
         |${d8EdgeCte.replace("e AS (", "e AS MATERIALIZED (")},
         |o0 AS (SELECT id, CAST(1 AS BIGINT) AS ord FROM c),
         |$body
         |SELECT f.x, f.y, CAST(o.ord AS BIGINT) AS ord
         |FROM fdir f JOIN o$rounds o ON o.id = f.y * 256 + f.x""".stripMargin)
  }

  def oracleSql: Map[String, String] = {
    val grid   = lineitemCellsSql
    val ogrid  = ordersCellsSql
    val zgrid  = zoneCellsSql
    // shared WITH-prologue of the footprint-aggregate warp family
    // (q_reproject_average/mode/median/max): target cell -> half-open
    // source-grid box whose CELL CENTERS it covers; edge expressions
    // identical to Reproject's footprint kernel
    val warpFootprintSql: String = {
      val n = 256; val d = 0.1; val dn = 200
      val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(n * d)
      val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(n * d)
      val cw = (mxMax - mxMin) / dn; val ch = (myMax - myMin) / dn
      s"""WITH g AS ($lineitemCellsSql), t AS (
         |  SELECT t1.range AS tx, t2.range AS ty FROM range(0, $dn) t1, range(0, $dn) t2),
         |c AS (SELECT tx, ty,
         |        degrees(($mxMin + tx * $cw) / 6378137.0) / $d AS gxLo,
         |        degrees(($mxMin + (tx + 1) * $cw) / 6378137.0) / $d AS gxHi,
         |        (${n * d} - degrees(atan(exp(($myMax - ty * $ch) / 6378137.0)) * 2 - pi() / 2)) / $d AS gyLo,
         |        (${n * d} - degrees(atan(exp(($myMax - (ty + 1) * $ch) / 6378137.0)) * 2 - pi() / 2)) / $d AS gyHi
         |      FROM t),
         |f AS (SELECT tx, ty, g.v FROM c JOIN g
         |        ON g.x + 0.5 >= gxLo AND g.x + 0.5 < gxHi
         |       AND g.y + 0.5 >= gyLo AND g.y + 0.5 < gyHi)""".stripMargin
    }
    // shared 4x4-kernel warp oracle on the dense 128-grid (cubic /
    // b-spline): weight Horner forms injected per kernel, everything
    // else identical (see q_reproject_cubic)
    def warpCubic128Sql(wNear: String => String, wFar: String => String): String = {
      val n = 128; val d = 0.1; val dn = 100
      val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(n * d)
      val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(n * d)
      val cw = (mxMax - mxMin) / dn; val ch = (myMax - myMin) / dn
      val joins = (for (dy <- -1 to 2; dx <- -1 to 2) yield {
        val a = s"g${dx + 1}${dy + 1}"
        val xo = if (dx == 0) "" else if (dx > 0) s" + $dx" else s" - ${-dx}"
        val yo = if (dy == 0) "" else if (dy > 0) s" + $dy" else s" - ${-dy}"
        s"JOIN g $a ON $a.x = w.x0$xo AND $a.y = w.y0$yo"
      }).mkString("\n|  ")
      def rowExpr(dy: Int) =
        s"(wxm * g0${dy + 1}.v + wx0 * g1${dy + 1}.v + wx1 * g2${dy + 1}.v + wx2 * g3${dy + 1}.v)"
      val grid128 =
        s"SELECT l_orderkey % $n AS x, l_partkey % $n AS y, sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2"
      s"""WITH g AS ($grid128), t AS (
         |  SELECT t1.range AS tx, t2.range AS ty,
         |         $mxMin + (t1.range + 0.5) * $cw AS mx,
         |         $myMax - (t2.range + 0.5) * $ch AS my
         |  FROM range(0, $dn) t1, range(0, $dn) t2),
         |c AS (SELECT tx, ty,
         |        degrees(mx / 6378137.0) / $d AS gx,
         |        (${n * d} - degrees(atan(exp(my / 6378137.0)) * 2 - pi() / 2)) / $d AS gy
         |      FROM t),
         |b AS (SELECT tx, ty,
         |        CAST(floor(gx - 0.5) AS BIGINT) AS x0, CAST(floor(gy - 0.5) AS BIGINT) AS y0,
         |        gx - 0.5 - floor(gx - 0.5) AS fx, gy - 0.5 - floor(gy - 0.5) AS fy
         |      FROM c),
         |w AS (SELECT tx, ty, x0, y0,
         |        ${wFar("(fx + 1.0)")} AS wxm,
         |        ${wNear("fx")} AS wx0,
         |        ${wNear("(1.0 - fx)")} AS wx1,
         |        ${wFar("(2.0 - fx)")} AS wx2,
         |        ${wFar("(fy + 1.0)")} AS wym,
         |        ${wNear("fy")} AS wy0,
         |        ${wNear("(1.0 - fy)")} AS wy1,
         |        ${wFar("(2.0 - fy)")} AS wy2
         |      FROM b)
         |SELECT w.tx AS x, w.ty AS y,
         |  ${uqSql(s"""wym * ${rowExpr(-1)}
         |      + wy0 * ${rowExpr(0)}
         |      + wy1 * ${rowExpr(1)}
         |      + wy2 * ${rowExpr(2)}""")} AS v_u
         |FROM w
         |  $joins""".stripMargin
    }
    // langid CASE chain shared by q_lang_id and q_lang_confusion
    val langIdSql =
      """SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM (SELECT doc_id, text,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')) AS en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS es
        |  FROM documents)""".stripMargin
    val pts    = supplierPointsSql
    val lonlat = customerLonLatSql
    val egrid  = eventCellsSql
    val tgrid  = lineitemTemporalCellsSql
    // min-label closure over the subcritical sparse grid: the shared
    // label CTE chain behind q_region_group and q_vectorize (labels =
    // the engine's large-star/small-star fixpoint labels)
    val regionLabelsCte =
      s"""g0 AS ($grid),
         |g AS (SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         |             CAST(v AS BIGINT) % 3 AS cls,
         |             CAST(y AS BIGINT) * 256 + CAST(x AS BIGINT) AS id
         |      FROM g0 WHERE CAST(v AS BIGINT) % 4 = 0),
         |e AS (SELECT a.id AS src, b.id AS dst FROM g a JOIN g b ON b.x = a.x + 1 AND b.y = a.y AND b.cls = a.cls
         |  UNION ALL SELECT b.id, a.id FROM g a JOIN g b ON b.x = a.x + 1 AND b.y = a.y AND b.cls = a.cls
         |  UNION ALL SELECT a.id, b.id FROM g a JOIN g b ON b.x = a.x AND b.y = a.y + 1 AND b.cls = a.cls
         |  UNION ALL SELECT b.id, a.id FROM g a JOIN g b ON b.x = a.x AND b.y = a.y + 1 AND b.cls = a.cls),
         |r AS (SELECT id, id AS lbl FROM g
         |  UNION SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id),
         |m AS (SELECT id, CAST(min(lbl) AS BIGINT) AS region FROM r GROUP BY 1),
         |lab AS (SELECT g.x, g.y, g.cls, m.region FROM g JOIN m USING (id))""".stripMargin
    val base = Map(
      "q_rasterize" -> s"SELECT x, y, v FROM ($grid)",

      "q_tile_to_layout" -> s"SELECT x, y, v FROM ($grid)",

      // per-tile keys, y-down extents (256x256 world, 64-cell tiles),
      // non-NoData cell count and exact integral sum
      "q_tile_df" ->
        s"""SELECT CAST(x // $T AS INT) AS col, CAST(y // $T AS INT) AS row,
           |  CAST((x // $T) * $T AS DOUBLE) AS xmin,
           |  CAST($G - (y // $T + 1) * $T AS DOUBLE) AS ymin,
           |  CAST((x // $T + 1) * $T AS DOUBLE) AS xmax,
           |  CAST($G - (y // $T) * $T AS DOUBLE) AS ymax,
           |  CAST(count(*) AS BIGINT) AS n_cells, sum(v) AS v_sum
           |FROM ($grid) GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

      "q_collect_keys" ->
        s"SELECT DISTINCT CAST(x // 64 AS INT) AS col, CAST(y // 64 AS INT) AS row FROM ($grid) ORDER BY col, row",

      "q_lookup" ->
        s"SELECT x, y, v FROM ($grid) WHERE x // 64 = 2 AND y // 64 = 3",

      "q_local_arith" ->
        s"SELECT x, y, ((v + 10) * 2 - 5) / 4 AS v FROM ($grid)",

      "q_local_max" ->
        s"SELECT x, y, CASE WHEN v > 25 THEN v ELSE 25.0 END AS v FROM ($grid)",

      "q_local_binary" ->
        s"SELECT a.x, a.y, a.v + b.v AS v FROM ($grid) a JOIN ($ogrid) b ON a.x = b.x AND a.y = b.y",

      // Weighted Overlay: both remaps restated as CASE chains; the
      // weighted sum is exact (quarters) so round() agrees bit-for-bit
      "q_weighted_overlay" ->
        s"""WITH a AS (SELECT x, y,
           |  CAST(CASE WHEN v <= 50 THEN 1 WHEN v <= 100 THEN 3 WHEN v <= 200 THEN 5
           |            WHEN v <= 400 THEN 7 ELSE 9 END AS DOUBLE) AS s FROM ($grid)),
           |b AS (SELECT x, y,
           |  CAST(CASE WHEN v <= 1 THEN 1 WHEN v <= 2 THEN 3 WHEN v <= 4 THEN 5
           |            WHEN v <= 8 THEN 7 ELSE 9 END AS DOUBLE) AS s FROM ($ogrid))
           |SELECT a.x AS x, a.y AS y,
           |  round(a.s * CAST(0.75 AS DOUBLE) + b.s * CAST(0.25 AS DOUBLE)) AS v
           |FROM a JOIN b ON a.x = b.x AND a.y = b.y""".stripMargin,

      "q_reclassify" ->
        // CAST: DuckDB types a numeric-literal CASE as DECIMAL(2,1);
        // the driver's hash is dtype-aware (the q_pack_sequences lesson)
        s"SELECT x, y, CAST(CASE WHEN v <= 50 THEN 1.0 WHEN v <= 150 THEN 2.0 WHEN v <= 300 THEN 3.0 ELSE 4.0 END AS DOUBLE) AS v FROM ($grid)",

      "q_normalize" ->
        s"SELECT x, y, ${uqSql("(v - mn) / (mx - mn) * 100.0")} AS v_u FROM ($grid), (SELECT min(v) AS mn, max(v) AS mx FROM ($grid))",

      // z-score from exact integer moments, engine op order restated:
      // mu = s/n, sigma = sqrt((ss - s*s/n)/(n-1))
      "q_standardize" ->
        s"""WITH g AS ($grid),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS s,
           |        CAST(sum(CAST(v AS BIGINT) * CAST(v AS BIGINT)) AS BIGINT) AS ss FROM g),
           |p AS (SELECT CAST(s AS DOUBLE) / n AS mu,
           |        sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS sigma FROM m)
           |SELECT x, y, ${uqSql("(v - mu) / sigma")} AS v_u FROM g, p""".stripMargin,

      "q_with_no_data" -> s"SELECT x, y, v FROM ($grid) WHERE v <> 1.0",

      "q_union" ->
        s"SELECT x, y, sum(v) AS v FROM (SELECT * FROM ($grid) UNION ALL SELECT * FROM ($ogrid)) GROUP BY x, y",

      "q_aggregate_by_cell" -> s"SELECT x, y, v + v AS v FROM ($grid)",

      "q_merge" ->
        s"""WITH b AS ($grid),
           |o AS (SELECT t1.range AS x, t2.range AS y, 1000000.0 AS v
           |      FROM range(0, $G) t1, range(0, $G) t2
           |      WHERE abs(t1.range + 0.5 - 128) + abs(t2.range + 0.5 - 128) < 60.3)
           |SELECT coalesce(b.x, o.x) AS x, coalesce(b.y, o.y) AS y, coalesce(b.v, o.v) AS v
           |FROM b FULL OUTER JOIN o ON b.x = o.x AND b.y = o.y""".stripMargin,

      "q_focal_sum"    -> focalJoin("sum(n.v)"),
      "q_focal_mean"   -> focalJoin("avg(n.v)"),
      "q_focal_min"    -> focalJoin("min(n.v)"),
      "q_focal_max"    -> focalJoin("max(n.v)"),
      "q_focal_median" -> focalJoin("median(n.v)"),

      "q_focal_mode" ->
        s"""WITH g AS ($grid)
           |SELECT x, y, v FROM (
           |  SELECT c.x AS x, c.y AS y, n.v AS v,
           |    row_number() OVER (PARTITION BY c.x, c.y ORDER BY count(*) DESC, n.v ASC) AS rn
           |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |  GROUP BY c.x, c.y, n.v
           |) WHERE rn = 1""".stripMargin,

      "q_focal_minority" ->
        s"""WITH g AS ($grid)
           |SELECT x, y, v FROM (
           |  SELECT c.x AS x, c.y AS y, n.v AS v,
           |    row_number() OVER (PARTITION BY c.x, c.y ORDER BY count(*) ASC, n.v ASC) AS rn
           |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |  GROUP BY c.x, c.y, n.v
           |) WHERE rn = 1""".stripMargin,

      // MajorityFilter: per-(cell, class) neighbor counts excluding
      // the center; smallest max-count class wins (the Mode tie rule)
      // and replaces the center only on a STRICT majority; isolated
      // centers pass through via the left join
      "q_majority_filter" ->
        s"""WITH g0 AS ($grid),
           |g AS (SELECT x, y, CAST(CAST(v AS BIGINT) % 8 AS DOUBLE) AS v FROM g0),
           |cnts AS (SELECT c.x AS x, c.y AS y, n.v AS nv, count(*) AS cnt
           |         FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |          AND NOT (n.x = c.x AND n.y = c.y)
           |         GROUP BY 1, 2, 3),
           |pick AS (SELECT x, y, nv, cnt,
           |           row_number() OVER (PARTITION BY x, y ORDER BY cnt DESC, nv ASC) AS rn,
           |           CAST(sum(cnt) OVER (PARTITION BY x, y) AS BIGINT) AS tot
           |         FROM cnts),
           |m AS (SELECT x, y, nv, cnt, tot FROM pick WHERE rn = 1)
           |SELECT c.x AS x, c.y AS y,
           |  CASE WHEN m.x IS NOT NULL AND 2 * m.cnt > m.tot THEN m.nv ELSE c.v END AS v
           |FROM g c LEFT JOIN m ON m.x = c.x AND m.y = c.y""".stripMargin,

      // Expand {3, 5}: a cell takes 3 if any window cell is class 3,
      // else 5 on the same test, else itself (priority = list order)
      "q_expand" ->
        s"""WITH g0 AS ($grid),
           |g AS (SELECT x, y, CAST(CAST(v AS BIGINT) % 8 AS DOUBLE) AS v FROM g0),
           |n3 AS (SELECT DISTINCT c.x, c.y FROM g c JOIN g n
           |       ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |       WHERE n.v = 3.0),
           |n5 AS (SELECT DISTINCT c.x, c.y FROM g c JOIN g n
           |       ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |       WHERE n.v = 5.0)
           |SELECT c.x AS x, c.y AS y,
           |  CAST(CASE WHEN n3.x IS NOT NULL THEN 3.0
           |            WHEN n5.x IS NOT NULL THEN 5.0
           |            ELSE c.v END AS DOUBLE) AS v
           |FROM g c
           |LEFT JOIN n3 ON n3.x = c.x AND n3.y = c.y
           |LEFT JOIN n5 ON n5.x = c.x AND n5.y = c.y""".stripMargin,

      // Shrink zone 3: boundary 3-cells take the mode of the non-3
      // window classes (ties -> smallest); interior 3s and non-3s keep
      "q_shrink" ->
        s"""WITH g0 AS ($grid),
           |g AS (SELECT x, y, CAST(CAST(v AS BIGINT) % 8 AS DOUBLE) AS v FROM g0),
           |oth AS (SELECT c.x AS x, c.y AS y, n.v AS nv, count(*) AS cnt
           |        FROM g c JOIN g n
           |        ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |        WHERE c.v = 3.0 AND n.v <> 3.0
           |        GROUP BY 1, 2, 3),
           |pick AS (SELECT x, y, nv,
           |           row_number() OVER (PARTITION BY x, y ORDER BY cnt DESC, nv ASC) AS rn
           |         FROM oth)
           |SELECT c.x AS x, c.y AS y,
           |  CAST(CASE WHEN c.v = 3.0 AND p.nv IS NOT NULL THEN p.nv ELSE c.v END AS DOUBLE) AS v
           |FROM g c LEFT JOIN (SELECT x, y, nv FROM pick WHERE rn = 1) p
           |  ON p.x = c.x AND p.y = c.y""".stripMargin,

      // Nibble: flagged cells (v % 97 = 0) take the nearest unflagged
      // value within Chebyshev 8, nearest by (d², y, x); no-donor
      // flagged cells keep their value via the left join
      "q_nibble" ->
        s"""WITH g AS ($grid),
           |m AS (SELECT x, y FROM g WHERE CAST(v AS BIGINT) % 97 = 0),
           |d AS (SELECT x, y, v FROM g WHERE CAST(v AS BIGINT) % 97 <> 0),
           |best AS (SELECT m.x AS x, m.y AS y, n.v AS v,
           |           row_number() OVER (PARTITION BY m.x, m.y
           |             ORDER BY (n.x - m.x) * (n.x - m.x) + (n.y - m.y) * (n.y - m.y),
           |                      n.y, n.x) AS rn
           |         FROM m JOIN d n
           |         ON n.x BETWEEN m.x - 8 AND m.x + 8 AND n.y BETWEEN m.y - 8 AND m.y + 8)
           |SELECT g.x AS x, g.y AS y, coalesce(b.v, g.v) AS v
           |FROM g LEFT JOIN (SELECT x, y, v FROM best WHERE rn = 1) b
           |  ON b.x = g.x AND b.y = g.y""".stripMargin,

      // exact 75th percentile: smallest 1-based rank rn with
      // rn*4 >= cnt*3 — the zonal-quantile cross-multiplied rule; the
      // rank-boundary VALUE is unique in the sorted multiset even
      // where row_number breaks ties arbitrarily
      "q_focal_percentile" ->
        s"""WITH g AS ($grid),
           |r AS (SELECT c.x AS x, c.y AS y, n.v AS v,
           |        row_number() OVER (PARTITION BY c.x, c.y ORDER BY n.v) AS rn,
           |        count(*) OVER (PARTITION BY c.x, c.y) AS cnt
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1)
           |SELECT x, y, v FROM r WHERE rn * 4 >= cnt * 3 AND (rn - 1) * 4 < cnt * 3""".stripMargin,

      "q_focal_stddev" ->
        (focalJoin("sqrt((sum(n.v * n.v) - sum(n.v) * sum(n.v) / count(*)) / (count(*) - 1))")
          + " HAVING count(*) > 1"),

      "q_focal_variance" ->
        (focalJoin("(sum(n.v * n.v) - sum(n.v) * sum(n.v) / count(*)) / (count(*) - 1)")
          + " HAVING count(*) > 1"),

      // window entropy over v mod 8 classes: per-(cell, class) counts,
      // micro-nat c*ln(c) terms AND a micro-nat closing ln(n) — the
      // output is an exact-integer/exact-integer IEEE division, so no
      // libm value ever reaches the hashed column (r12 fix)
      "q_focal_entropy" ->
        s"""WITH g AS ($grid),
           |nb AS (SELECT c.x AS x, c.y AS y, CAST(n.v AS BIGINT) % 8 AS nv, count(*) AS cnt
           |       FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |       GROUP BY 1, 2, 3),
           |a AS (SELECT x, y, CAST(sum(cnt) AS BIGINT) AS n,
           |        CAST(sum(CAST(round(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
           |      FROM nb GROUP BY 1, 2)
           |SELECT x, y,
           |  CAST(CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) * n - s AS DOUBLE)
           |    / (CAST(n AS DOUBLE) * 1000000.0) AS v
           |FROM a""".stripMargin,

      "q_focal_chain" ->
        s"""WITH g AS ($lineitemCellsSql),
           |m AS (SELECT c.x AS x, c.y AS y, sum(n.v) / count(*) AS v
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY c.x, c.y)
           |SELECT c.x AS x, c.y AS y, max(n.v) AS v
           |FROM m c JOIN m n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |GROUP BY c.x, c.y""".stripMargin,

      "q_focal_circle" ->
        s"""WITH g AS ($grid)
           |SELECT c.x AS x, c.y AS y, avg(n.v) AS v
           |FROM g c JOIN g n
           |  ON n.x BETWEEN c.x - 2 AND c.x + 2 AND n.y BETWEEN c.y - 2 AND c.y + 2
           | AND (n.x - c.x) * (n.x - c.x) + (n.y - c.y) * (n.y - c.y) <= 4
           |GROUP BY c.x, c.y""".stripMargin,

      "q_slope" ->
        hornSql(uqSql("degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy)))"), alias = "v_u"),

      // DEGREES grid (cell 0.25): gradient denominators scale by the
      // cell size, and the tile row y//64 (center lat 64-(row+0.5)*16)
      // sets zf = 1/(111320 cos lat) — the reference's lat-lng
      // calculator in closed form, with the corrected meters-per-
      // degree constant (ZFactor.MetersAtEquator)
      "q_slope_latlng" ->
        hornSql(
          uqSql("degrees(atan(sqrt((dzdx * zf) * (dzdx * zf) + (dzdy * zf) * (dzdy * zf))))"),
          cellSize = 0.25,
          zfExpr = "1.0 / (111320 * cos(radians(64 - ((y // 64) + 0.5) * 16)))",
          alias = "v_u"),

      "q_aspect" ->
        hornSql(uqSql("CASE WHEN degrees(atan2(dzdy, -dzdx)) < 0 THEN degrees(atan2(dzdy, -dzdx)) + 360 ELSE degrees(atan2(dzdy, -dzdx)) END"), alias = "v_u"),

      // geomorphon: 8 rays x 4 steps, exact-integer 12/k slope
      // comparisons, full-window rule = count(*) == 32, shared LUT
      "q_geomorphon" ->
        s"""WITH g AS (SELECT l_orderkey % 128 AS x, l_partkey % 128 AS y, sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
           |dirs(dx, dy) AS (VALUES (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1)),
           |r AS (SELECT c.x, c.y, d.dx, d.dy,
           |        max(CAST((n.v - c.v) * (12 // k.range) AS BIGINT)) AS up12,
           |        max(CAST((c.v - n.v) * (12 // k.range) AS BIGINT)) AS dn12,
           |        count(*) AS cnt
           |      FROM g c CROSS JOIN dirs d CROSS JOIN range(1, 5) k
           |      JOIN g n ON n.x = c.x + d.dx * k.range AND n.y = c.y + d.dy * k.range
           |      GROUP BY 1, 2, 3, 4),
           |t AS (SELECT x, y,
           |        sum(CASE WHEN up12 > 12 AND up12 > dn12 THEN 1 ELSE 0 END) AS hi,
           |        sum(CASE WHEN dn12 > 12 AND dn12 > up12 THEN 1 ELSE 0 END) AS lo
           |      FROM r GROUP BY 1, 2 HAVING sum(cnt) = 32),
           |lut(hi, lo, form) AS (VALUES ${graft.raster.Geomorphon.lutValuesSql})
           |SELECT t.x, t.y, CAST(lut.form AS BIGINT) AS form
           |FROM t JOIN lut ON lut.hi = t.hi AND lut.lo = t.lo""".stripMargin,

      // openness: geomorphon's ray maxima pivoted per direction, one
      // atan each, pinned left-assoc 8-term sums for both signs
      "q_openness" -> {
        val pivots = (0 to 7).map(i =>
          s"max(CASE WHEN di = $i THEN up12 END) AS u$i, " +
            s"max(CASE WHEN di = $i THEN dn12 END) AS d$i").mkString(",\n|        ")
        def sumExpr(p: Char) =
          (0 to 7).map(i => s"(90 - degrees(atan($p$i / 12.0)))").mkString(" + ")
        s"""WITH g AS (SELECT l_orderkey % 128 AS x, l_partkey % 128 AS y, sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
           |dirs(di, dx, dy) AS (VALUES (0, 0, -1), (1, 1, -1), (2, 1, 0), (3, 1, 1), (4, 0, 1), (5, -1, 1), (6, -1, 0), (7, -1, -1)),
           |r AS (SELECT c.x, c.y, d.di,
           |        max(CAST((n.v - c.v) * (12 // k.range) AS BIGINT)) AS up12,
           |        max(CAST((c.v - n.v) * (12 // k.range) AS BIGINT)) AS dn12,
           |        count(*) AS cnt
           |      FROM g c CROSS JOIN dirs d CROSS JOIN range(1, 5) k
           |      JOIN g n ON n.x = c.x + d.dx * k.range AND n.y = c.y + d.dy * k.range
           |      GROUP BY 1, 2, 3),
           |t AS (SELECT x, y,
           |        $pivots,
           |        sum(cnt) AS m
           |      FROM r GROUP BY 1, 2 HAVING sum(cnt) = 32)
           |SELECT x, y,
           |  ${uqSql(s"(${sumExpr('u')}) / 8.0")} AS pos_u,
           |  ${uqSql(s"(${sumExpr('d')}) / 8.0")} AS neg_u
           |FROM t""".stripMargin
      },

      // Weiss multi-scale TPI landforms: one 9×9 window join feeding
      // the small ring (cheb = 1), large annulus (cheb 3..4) and 3×3
      // relief; the ±t decisions restated as exact z0·n − Σ integers
      "q_landforms" ->
        s"""WITH g AS (SELECT l_orderkey % 128 AS x, l_partkey % 128 AS y, sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
           |w AS (SELECT c.x, c.y, c.v AS z0,
           |        sum(CASE WHEN greatest(abs(n.x - c.x), abs(n.y - c.y)) = 1 THEN n.v ELSE 0 END) AS sum_s,
           |        sum(CASE WHEN greatest(abs(n.x - c.x), abs(n.y - c.y)) >= 3 THEN n.v ELSE 0 END) AS sum_l,
           |        max(CASE WHEN greatest(abs(n.x - c.x), abs(n.y - c.y)) <= 1 THEN n.v END) AS mx,
           |        min(CASE WHEN greatest(abs(n.x - c.x), abs(n.y - c.y)) <= 1 THEN n.v END) AS mn,
           |        count(*) AS cnt
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 4 AND c.x + 4
           |                       AND n.y BETWEEN c.y - 4 AND c.y + 4
           |      GROUP BY 1, 2, 3 HAVING count(*) = 81),
           |t AS (SELECT x, y,
           |        CASE WHEN CAST(z0 * 8 - sum_s AS BIGINT) <= -16 THEN -1
           |             WHEN CAST(z0 * 8 - sum_s AS BIGINT) >= 16 THEN 1 ELSE 0 END AS cs,
           |        CASE WHEN CAST(z0 * 56 - sum_l AS BIGINT) <= -112 THEN -1
           |             WHEN CAST(z0 * 56 - sum_l AS BIGINT) >= 112 THEN 1 ELSE 0 END AS cl,
           |        CAST(mx - mn AS BIGINT) AS rng
           |      FROM w)
           |SELECT x, y, CAST(CASE
           |  WHEN cs = -1 AND cl = -1 THEN 1
           |  WHEN cs = -1 AND cl = 0 THEN 2
           |  WHEN cs = -1 AND cl = 1 THEN 3
           |  WHEN cs = 0 AND cl = -1 THEN 4
           |  WHEN cs = 0 AND cl = 0 THEN (CASE WHEN rng <= 6 THEN 5 ELSE 6 END)
           |  WHEN cs = 0 AND cl = 1 THEN 7
           |  WHEN cs = 1 AND cl = -1 THEN 8
           |  WHEN cs = 1 AND cl = 0 THEN 9
           |  ELSE 10 END AS BIGINT) AS class
           |FROM t""".stripMargin,

      // cast shadows: max over the 4 east-ray steps of the exact
      // z_k − z0 − k/2 test, full-ray rule
      "q_cast_shadow" ->
        s"""WITH g AS (SELECT l_orderkey % 128 AS x, l_partkey % 128 AS y, sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
           |r AS (SELECT c.x, c.y,
           |        max(CASE WHEN n.v - c.v - 0.5 * (n.x - c.x) > 0 THEN 1 ELSE 0 END) AS sh,
           |        count(*) AS cnt
           |      FROM g c JOIN g n ON n.y = c.y AND n.x BETWEEN c.x + 1 AND c.x + 4
           |      GROUP BY 1, 2 HAVING count(*) = 4)
           |SELECT x, y, CAST(sh AS BIGINT) AS shadowed FROM r""".stripMargin,

      // Riley TRI: sqrt of exact-integer squared-difference sum
      "q_tri" ->
        windowSql(uqSql("sqrt((n1 - n5) * (n1 - n5) + (n2 - n5) * (n2 - n5) + (n3 - n5) * (n3 - n5) + (n4 - n5) * (n4 - n5) + (n6 - n5) * (n6 - n5) + (n7 - n5) * (n7 - n5) + (n8 - n5) * (n8 - n5) + (n9 - n5) * (n9 - n5))"), alias = "v_u"),
      "q_tpi" ->
        windowSql(uqSql("n5 - (n1 + n2 + n3 + n4 + n6 + n7 + n8 + n9) / 8.0"), alias = "v_u"),
      "q_roughness" ->
        windowSql("greatest(n1, n2, n3, n4, n5, n6, n7, n8, n9) - least(n1, n2, n3, n4, n5, n6, n7, n8, n9)"),
      // single-pass pit fill: full-window sinks rise to the 8-neighbor
      // minimum, partial windows pass the center through
      "q_fill" ->
        windowSql(
          "CASE WHEN cnt = 9 AND n5 < least(n1, n2, n3, n4, n6, n7, n8, n9) THEN least(n1, n2, n3, n4, n6, n7, n8, n9) ELSE n5 END",
          where = "TRUE"),
      // Zevenbergen-Thorne general curvature, cell size 1:
      // -200 * (D + E) with the engine's exact operation order
      "q_curvature" ->
        // `+ 0.0` normalizes IEEE -0.0 (flat windows: 0.0 * -200.0 = -0.0 in
        // DuckDB) to +0.0, matching Spark Round's BigDecimal path which has no
        // negative zero.
        windowSql(uqSql("(((n4 + n6) / 2.0 - n5) + ((n2 + n8) / 2.0 - n5)) * -200.0"), alias = "v_u"),

      "q_hillshade" ->
        hornSql("floor(greatest(0, 255 * (cos(radians(45)) * cos(atan(sqrt(dzdx * dzdx + dzdy * dzdy))) + sin(radians(45)) * sin(atan(sqrt(dzdx * dzdx + dzdy * dzdy))) * cos(radians(315) - (CASE WHEN atan2(dzdy, -dzdx) < 0 THEN atan2(dzdy, -dzdx) + 2 * pi() ELSE atan2(dzdy, -dzdx) END)))))"),

      // Mark 1992 multidirectional: four azimuth shades weighted by
      // sin^2(aspect - az); weights of perpendicular azimuths sum to 2
      "q_hillshade_md" -> {
        val slope = "atan(sqrt(dzdx * dzdx + dzdy * dzdy))"
        val asp = "(CASE WHEN atan2(dzdy, -dzdx) < 0 THEN atan2(dzdy, -dzdx) + 2 * pi() ELSE atan2(dzdy, -dzdx) END)"
        def shade(az: Int) =
          s"(cos(radians(45)) * cos($slope) + sin(radians(45)) * sin($slope) * cos(radians($az) - $asp))"
        def w(az: Int) = s"(sin($asp - radians($az)) * sin($asp - radians($az)))"
        val sum = Seq(225, 270, 315, 360).map(a => s"${w(a)} * ${shade(a)}").mkString(" + ")
        hornSql(s"floor(greatest(0, 255 * ($sum) / 2.0))")
      },

      // Zevenbergen-Thorne directional curvatures over the same 3x3,
      // flat windows (G^2 + H^2 = 0) emit 0; engine op order restated
      "q_curvature_profile" -> {
        val (d, e) = ("(((n4 + n6) / 2.0 - n5) / 1.0)", "(((n2 + n8) / 2.0 - n5) / 1.0)")
        val f = "((-n1 + n3 + n7 - n9) / 4.0)"
        val (g, h) = ("((-n4 + n6) / 2.0)", "((n2 - n8) / 2.0)")
        val q = s"($g * $g + $h * $h)"
        windowSql(uqSql(s"CASE WHEN $q = 0 THEN 0.0 ELSE -200.0 * ($d * $g * $g + $e * $h * $h + $f * $g * $h) / $q END"), alias = "v_u")
      },
      "q_curvature_plan" -> {
        val (d, e) = ("(((n4 + n6) / 2.0 - n5) / 1.0)", "(((n2 + n8) / 2.0 - n5) / 1.0)")
        val f = "((-n1 + n3 + n7 - n9) / 4.0)"
        val (g, h) = ("((-n4 + n6) / 2.0)", "((n2 - n8) / 2.0)")
        val q = s"($g * $g + $h * $h)"
        windowSql(uqSql(s"CASE WHEN $q = 0 THEN 0.0 ELSE 200.0 * ($d * $h * $h + $e * $g * $g - $f * $g * $h) / $q END"), alias = "v_u")
      },

      // KS: exact rational CDF-gap maximum
      "q_ks_test" ->
        """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v, CAST(substr(source, 4) AS INT) % 2 = 0 AS a FROM documents),
          |c AS (SELECT v, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          |        CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb FROM v GROUP BY 1),
          |w AS (SELECT CAST(sum(ca) OVER win AS BIGINT) AS cuma, CAST(sum(cb) OVER win AS BIGINT) AS cumb
          |      FROM c WINDOW win AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c)
          |SELECT na AS n_a, nb AS n_b,
          |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
          |  CAST(CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS DOUBLE) / (na * nb) AS d
          |FROM w, t GROUP BY 1, 2""".stripMargin,

      // aspect rose: the same octant CASE chain, exact comparisons
      // on the rational gradient (no angle is ever computed)
      "q_aspect_rose" -> {
        val u = "(0 - dzdx)"; val vv = "dzdy"
        val bin =
          s"""CASE WHEN $u = 0 AND $vv = 0 THEN CAST(0 AS DOUBLE)
             | WHEN $u > 0 AND $vv >= 0 AND $vv < $u THEN CAST(0 AS DOUBLE)
             | WHEN $u > 0 AND $vv >= $u THEN CAST(1 AS DOUBLE)
             | WHEN $u <= 0 AND $vv > 0 AND $vv > -$u THEN CAST(2 AS DOUBLE)
             | WHEN $u < 0 AND $vv > 0 AND $vv <= -$u THEN CAST(3 AS DOUBLE)
             | WHEN $u < 0 AND $vv <= 0 AND -$vv < -$u THEN CAST(4 AS DOUBLE)
             | WHEN $u < 0 AND $vv <= $u THEN CAST(5 AS DOUBLE)
             | WHEN $u >= 0 AND $vv < 0 AND $vv < -$u THEN CAST(6 AS DOUBLE)
             | ELSE CAST(7 AS DOUBLE) END""".stripMargin.replace("\n", "")
        s"SELECT v AS bin, count(*) AS cnt FROM (${hornSql(bin)}) GROUP BY 1"
      },

      // D-infinity: 8 facet structs per cell, rank by (s DESC, i) —
      // the s values contain no atan2 output (branch-only, boundary-
      // continuous), so selection is bit-identical; the angle rounds 5
      "q_flow_dinf" -> {
        val facets = Seq(("n6", "n3", 0, 1), ("n2", "n3", 1, -1),
          ("n2", "n1", 1, 1), ("n4", "n1", 2, -1), ("n4", "n7", 2, 1),
          ("n8", "n7", 3, -1), ("n8", "n9", 3, 1), ("n6", "n9", 4, -1))
        val items = facets.zipWithIndex.map { case ((e1, e2, ac, af), i) =>
          val s1 = s"(n5 - $e1)"
          val s2 = s"($e1 - $e2)"
          val r = s"atan2($s2, $s1)"
          val sc = s"CASE WHEN $r < 0 THEN $s1 WHEN $r > pi() / 4 THEN (n5 - $e2) / sqrt(CAST(2 AS DOUBLE)) ELSE sqrt($s1 * $s1 + $s2 * $s2) END"
          val rc = s"CASE WHEN $r < 0 THEN CAST(0 AS DOUBLE) WHEN $r > pi() / 4 THEN pi() / 4 ELSE $r END"
          s"struct_pack(s := $sc, i := $i, a := $af * ($rc) + $ac * (pi() / 2))"
        }.mkString(", ")
        s"""WITH g AS ($grid), nb AS (
           |  SELECT c.x AS x, c.y AS y,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y - 1 THEN n.v END) AS n1,
           |    max(CASE WHEN n.x = c.x     AND n.y = c.y - 1 THEN n.v END) AS n2,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y - 1 THEN n.v END) AS n3,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y     THEN n.v END) AS n4,
           |    max(CASE WHEN n.x = c.x     AND n.y = c.y     THEN n.v END) AS n5,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y     THEN n.v END) AS n6,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y + 1 THEN n.v END) AS n7,
           |    max(CASE WHEN n.x = c.x     AND n.y = c.y + 1 THEN n.v END) AS n8,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y + 1 THEN n.v END) AS n9,
           |    count(*) AS cnt
           |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |  GROUP BY c.x, c.y
           |),
           |f AS (SELECT x, y, unnest([$items]) AS fc FROM nb WHERE cnt = 9),
           |r AS (SELECT x, y, fc.s AS s, fc.a AS a,
           |        row_number() OVER (PARTITION BY x, y ORDER BY fc.s DESC, fc.i) AS rn FROM f)
           |SELECT x, y,
           |  ${uqSql("CASE WHEN a >= 2 * pi() THEN a - 2 * pi() ELSE a END")} AS v_u
           |FROM r WHERE rn = 1 AND s > 0""".stripMargin
      },

      // percent-clip stretch: exact cross-multiplied percentile
      // cutpoints, then the identical clamp-rescale-floor chain
      "q_stretch" ->
        s"""WITH g AS ($grid),
           |c AS (SELECT CAST(v AS BIGINT) AS v, count(*) AS cnt FROM g GROUP BY 1),
           |w AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
           |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
           |b AS (SELECT min(CASE WHEN cum * 100 >= 2 * total THEN v END) AS lo,
           |             min(CASE WHEN cum * 100 >= 98 * total THEN v END) AS hi FROM w, n)
           |SELECT g.x, g.y,
           |  floor((least(greatest(g.v, CAST(b.lo AS DOUBLE)), CAST(b.hi AS DOUBLE)) - b.lo) * CAST(255.0 AS DOUBLE) / (b.hi - b.lo)) AS v
           |FROM g, b""".stripMargin,

      // diff audit: the derived change set restated on the grid
      "q_catalog_diff" ->
        s"""SELECT CAST(x // 64 AS INT) AS col, CAST(y // 64 AS INT) AS row, CAST(count(*) AS INT) AS n_changed
           |FROM ($grid) WHERE CAST(v AS BIGINT) % 7 = 0
           |GROUP BY 1, 2""".stripMargin,

      // Getis-Ord Gi* / local Moran: exact global moments (n, S, SS)
      // + 3x3 sums; the closing is the exact-integer single-divide
      // ratio stated in the identical op order as Hotspot.scala, then
      // micro-quantized (×1e5 → BIGINT) so no round(,5)-of-1e4 value
      // can straddle a HALF_UP boundary (the r13 q_local_moran fail)
      "q_hotspot_gi" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y, sum(n.v) AS sw, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2)
           |SELECT x, y,
           |  CASE WHEN k < n THEN CAST(round(
           |    (sw * n - s * k) /
           |    sqrt(((ss * n - s * s) * (k * n - k * k)) / (n - 1.0))
           |    * 100000.0) AS BIGINT) END AS gi
           |FROM f, gl""".stripMargin,

      "q_local_moran" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2)
           |SELECT x, y,
           |  CASE WHEN (ss * n - s * s) > 0 THEN CAST(round(
           |    ((v * n - s) * ((sw - v) * n - (k - 1) * s)) / (ss * n - s * s)
           |    * 100000.0) AS BIGINT) END AS moran_i
           |FROM f, gl""".stripMargin,

      // GLOBAL Moran's I: per-cell exact-integer factors as in the
      // local statistic, but the product exceeds 2^53 so the Σ runs in
      // DECIMAL(18,0)×DECIMAL(18,0); the closing is one decimal→double
      // cast per side + a single IEEE multiply and divide, then the
      // ×1e6 micro-quantization
      "q_global_moran" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2),
           |a AS (SELECT sum(CAST(v * n - s AS DECIMAL(18,0)) * CAST((sw - v) * n - (k - 1) * s AS DECIMAL(18,0))) AS num,
           |        CAST(sum(k - 1) AS BIGINT) AS w,
           |        max(n) AS n, max(s) AS s, max(ss) AS ss
           |      FROM f, gl)
           |SELECT n, w, CAST(round(CAST(num AS DOUBLE) / (CAST(w AS DOUBLE) *
           |    CAST(CAST(n AS DECIMAL(18,0)) * CAST(ss AS DECIMAL(18,0)) - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0)) AS DOUBLE))
           |  * 1000000.0) AS BIGINT) AS moran_i
           |FROM a""".stripMargin,

      // Geary's C: the pair sum is mean-free so every per-cell term is
      // an exact integer-valued double and the plain Σ stays under
      // 2^53; closing multiplies the exact n·(n−1) and 2W longs cast
      // to double, one divide, ×1e6 quantize
      "q_geary" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, sum(n.v * n.v) AS sq, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2),
           |a AS (SELECT sum(CAST((k - 1) * (v * v) - 2 * v * (sw - v) + (sq - v * v) AS DECIMAL(18,0))) AS e,
           |        CAST(sum(k - 1) AS BIGINT) AS w,
           |        max(n) AS n, max(s) AS s, max(ss) AS ss
           |      FROM f, gl)
           |SELECT n, w, CAST(round(CAST(n * (n - 1) AS DOUBLE) * CAST(e AS DOUBLE) / (CAST(w * 2 AS DOUBLE) *
           |    CAST(CAST(n AS DECIMAL(18,0)) * CAST(ss AS DECIMAL(18,0)) - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0)) AS DOUBLE))
           |  * 1000000.0) AS BIGINT) AS geary_c
           |FROM a""".stripMargin,

      // join counts: Black = odd cell value; BB/WW halved (counted at
      // both ends), BW counted once from the black end — all integers
      "q_join_counts" ->
        s"""WITH g AS ($grid),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        CAST(max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS BIGINT) % 2 AS b,
           |        CAST(sum(CAST(n.v AS BIGINT) % 2) AS BIGINT) AS swb,
           |        count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2)
           |SELECT CAST(sum(b) AS BIGINT) AS n_black,
           |  CAST(sum(1 - b) AS BIGINT) AS n_white,
           |  CAST(sum(b * (swb - b)) // 2 AS BIGINT) AS bb,
           |  CAST(sum((1 - b) * (k - swb - (1 - b))) // 2 AS BIGINT) AS ww,
           |  CAST(sum(b * (k - swb)) AS BIGINT) AS bw,
           |  CAST(sum(k - 1) // 2 AS BIGINT) AS joins
           |FROM f""".stripMargin,

      // LISA local Geary: the mean-free per-cell pair sum over the
      // same f CTE, fixed-order closing ((e·n·n)/den), ×1e5
      "q_local_geary" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, sum(n.v * n.v) AS sq, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2)
           |SELECT x, y,
           |  CASE WHEN (ss * n - s * s) > 0 THEN CAST(round(
           |    (((k - 1) * (v * v) - 2 * v * (sw - v) + (sq - v * v)) * n * n) / (ss * n - s * s)
           |    * 100000.0) AS BIGINT) END AS geary_i
           |FROM f, gl""".stripMargin,

      // Moran correlogram: per-lag ring sums as DIFFERENCES of the
      // cumulative square-window joins, each lag the globalMoran
      // decimal closing ×1e6
      "q_correlogram" -> {
        def fd(d: Int) =
          s"""f$d AS (SELECT c.x AS x, c.y AS y,
             |  max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
             |  sum(n.v) AS sv$d, count(*) AS k$d
             |  FROM g c JOIN g n ON n.x BETWEEN c.x - $d AND c.x + $d AND n.y BETWEEN c.y - $d AND c.y + $d
             |  GROUP BY 1, 2)""".stripMargin
        def lagSel(d: Int) = {
          val (sw, k) =
            if (d == 1) ("(sv1 - v)", "(k1 - 1)")
            else (s"(sv$d - sv${d - 1})", s"(k$d - k${d - 1})")
          s"""SELECT $d AS lag, n, CAST(sum($k) AS BIGINT) AS w,
             |  CAST(round(CAST(sum(CAST(v * n - s AS DECIMAL(18,0)) * CAST($sw * n - $k * s AS DECIMAL(18,0))) AS DOUBLE) /
             |    (CAST(CAST(sum($k) AS BIGINT) AS DOUBLE) *
             |     CAST(CAST(n AS DECIMAL(18,0)) * CAST(ss AS DECIMAL(18,0)) - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0)) AS DOUBLE))
             |  * 1000000.0) AS BIGINT) AS moran_i
             |FROM j, gl GROUP BY n, s, ss""".stripMargin
        }
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |${fd(1)},
           |${fd(2)},
           |${fd(3)},
           |j AS (SELECT f1.x, f1.y, f1.v, f1.sv1, f1.k1, f2.sv2, f2.k2, f3.sv3, f3.k3
           |      FROM f1 JOIN f2 USING (x, y) JOIN f3 USING (x, y))
           |${lagSel(1)}
           |UNION ALL ${lagSel(2)}
           |UNION ALL ${lagSel(3)}""".stripMargin
      },

      // General G: decimal-exact Σ v·(Sw−v) over S²−SS, ×1e9
      "q_general_g" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS ss FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2),
           |a AS (SELECT sum(CAST(v AS DECIMAL(18,0)) * CAST(sw - v AS DECIMAL(18,0))) AS num,
           |        CAST(sum(k - 1) AS BIGINT) AS w,
           |        max(n) AS n, max(s) AS s, max(ss) AS ss
           |      FROM f, gl)
           |SELECT n, w, CAST(round(CAST(num AS DOUBLE) /
           |    CAST(CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0)) - CAST(ss AS DECIMAL(18,0)) AS DOUBLE)
           |  * 1000000000.0) AS BIGINT) AS general_g
           |FROM a""".stripMargin,

      // LISA quadrants: the exact-integer deviation signs, no floats
      "q_lisa_quadrant" ->
        s"""WITH g AS ($grid),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s FROM g),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v END) AS v,
           |        sum(n.v) AS sw, count(*) AS k
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2)
           |SELECT x, y, CAST(CASE
           |    WHEN v * n - s > 0 AND (sw - v) * n - (k - 1) * s > 0 THEN 1
           |    WHEN v * n - s < 0 AND (sw - v) * n - (k - 1) * s > 0 THEN 2
           |    WHEN v * n - s < 0 AND (sw - v) * n - (k - 1) * s < 0 THEN 3
           |    WHEN v * n - s > 0 AND (sw - v) * n - (k - 1) * s < 0 THEN 4
           |    ELSE 0 END AS BIGINT) AS quadrant
           |FROM f, gl""".stripMargin,

      // bivariate Moran: v1 against the lag of v2 on the common
      // support; decimal numerator, one sqrt-of-product normalizer
      "q_moran_bv" ->
        s"""WITH ga AS ($grid), gb AS ($ogrid),
           |j AS (SELECT ga.x AS x, ga.y AS y, ga.v AS v1, gb.v AS v2
           |      FROM ga JOIN gb ON ga.x = gb.x AND ga.y = gb.y),
           |gl AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v1) AS s1, sum(v1 * v1) AS ss1,
           |         sum(v2) AS s2, sum(v2 * v2) AS ss2 FROM j),
           |f AS (SELECT c.x AS x, c.y AS y,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v1 END) AS v1,
           |        max(CASE WHEN n.x = c.x AND n.y = c.y THEN n.v2 END) AS v2,
           |        sum(n.v2) AS sw2, count(*) AS k
           |      FROM j c JOIN j n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY 1, 2),
           |a AS (SELECT sum(CAST(v1 * n - s1 AS DECIMAL(18,0)) * CAST((sw2 - v2) * n - (k - 1) * s2 AS DECIMAL(18,0))) AS num,
           |        CAST(sum(k - 1) AS BIGINT) AS w,
           |        max(n) AS n, max(s1) AS s1, max(ss1) AS ss1, max(s2) AS s2, max(ss2) AS ss2
           |      FROM f, gl)
           |SELECT n, w, CAST(round(CAST(num AS DOUBLE) / (CAST(w AS DOUBLE) *
           |    sqrt(CAST(CAST(n AS DECIMAL(18,0)) * CAST(ss1 AS DECIMAL(18,0)) - CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0)) AS DOUBLE) *
           |         CAST(CAST(n AS DECIMAL(18,0)) * CAST(ss2 AS DECIMAL(18,0)) - CAST(s2 AS DECIMAL(18,0)) * CAST(s2 AS DECIMAL(18,0)) AS DOUBLE)))
           |  * 1000000.0) AS BIGINT) AS moran_bv
           |FROM a""".stripMargin,

      // quadrat VMR: exact integer moments (empty quadrats add 0 to
      // both), single-divide closing ×1e6
      "q_quadrat" ->
        s"""WITH p AS ($pts),
           |c AS (SELECT CAST(floor(px / 32) AS BIGINT) AS qx, CAST(floor(py / 32) AS BIGINT) AS qy,
           |        CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
           |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM c)
           |SELECT n, CAST(64 AS BIGINT) AS q, sum_c2,
           |  CAST(round((sum_c2 * 64 - n * n) * CAST(1000000 AS DOUBLE) / (63 * n)) AS BIGINT) AS vmr_u
           |FROM a""".stripMargin,

      // pooled symmetric GLCM = all ordered queen-adjacent level
      // pairs; levels are the integral value mod 16 — pure counts
      "q_glcm" ->
        s"""WITH g AS ($grid),
           |q AS (SELECT x, y, CAST(v AS BIGINT) % 16 AS gl FROM g)
           |SELECT c.gl AS gi, n.gl AS gj, count(*) AS cnt
           |FROM q c JOIN q n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |  AND NOT (n.x = c.x AND n.y = c.y)
           |GROUP BY 1, 2""".stripMargin,

      // Haralick summary: exact integer numerators; homogeneity is
      // micro-quantized PER TERM before the sum (order-free integers)
      "q_glcm_stats" ->
        s"""WITH g AS ($grid),
           |q AS (SELECT x, y, CAST(v AS BIGINT) % 16 AS gl FROM g),
           |m AS (SELECT c.gl AS gi, n.gl AS gj, count(*) AS cnt
           |      FROM q c JOIN q n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |        AND NOT (n.x = c.x AND n.y = c.y)
           |      GROUP BY 1, 2)
           |SELECT CAST(sum(cnt * (gi - gj) * (gi - gj)) AS BIGINT) AS contrast_num,
           |  CAST(sum(cnt * abs(gi - gj)) AS BIGINT) AS dissim_num,
           |  CAST(sum(cnt * cnt) AS BIGINT) AS asm_num,
           |  CAST(sum(cnt) AS BIGINT) AS n_pairs,
           |  CAST(sum(CAST(round(CAST(cnt * 1000000 AS DOUBLE) / CAST(1 + (gi - gj) * (gi - gj) AS DOUBLE)) AS BIGINT)) AS BIGINT) AS homogeneity_u
           |FROM m""".stripMargin,

      // box-counting occupancy: odd cells, distinct boxes per scale
      "q_box_count" -> {
        val perScale = Seq(1, 2, 4, 8, 16).map(sc =>
          s"SELECT CAST($sc AS INT) AS scale, CAST(count(*) AS BIGINT) AS n_boxes FROM (SELECT DISTINCT x // $sc AS a, y // $sc AS b FROM occ)")
          .mkString("\n  UNION ALL ")
        s"""WITH occ AS (SELECT x, y FROM ($grid) WHERE CAST(v AS BIGINT) % 2 = 1)
           |$perScale""".stripMargin
      },

      // ArcGIS Combine attribute table: combo ids dense-ranked by the
      // (v1, v2) pair — deterministic in both engines
      "q_combine" ->
        s"""WITH j AS (SELECT CAST(CAST(a.v AS BIGINT) % 7 AS DOUBLE) AS v1,
           |             CAST(CAST(b.v AS BIGINT) % 5 AS DOUBLE) AS v2
           |           FROM ($grid) a JOIN ($ogrid) b ON a.x = b.x AND a.y = b.y),
           |t AS (SELECT v1, v2, count(*) AS cnt FROM j GROUP BY 1, 2)
           |SELECT CAST(row_number() OVER (ORDER BY v1, v2) AS BIGINT) AS combo, v1, v2, cnt FROM t""".stripMargin,

      // FRAGSTATS Simpson diversity: exact class areas, one divide
      "q_simpson" ->
        s"""WITH g AS ($grid),
           |cl AS (SELECT CAST(v AS BIGINT) % 7 AS cls, CAST(count(*) AS BIGINT) AS a FROM g GROUP BY 1),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n_classes, CAST(sum(a) AS BIGINT) AS a_total,
           |        CAST(sum(a * a) AS BIGINT) AS sum_a2 FROM cl)
           |SELECT n_classes, a_total,
           |  CAST(round((a_total * a_total - sum_a2) * CAST(1000000 AS DOUBLE) / (a_total * a_total)) AS BIGINT) AS sidi_u
           |FROM t""".stripMargin,

      // stupid backoff (α=0.5, exact in binary): train even doc_ids,
      // score odd; per-token quantize before the order-free sum
      "q_lm_backoff" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |tk AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos, toks FROM t),
          |w AS (SELECT doc_id, pos, toks[pos + 1] AS w FROM tk),
          |g AS (SELECT doc_id, pos, w,
          |        lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
          |        lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
          |      FROM w),
          |tr AS (SELECT * FROM g WHERE doc_id % 2 = 0),
          |c1 AS (SELECT w AS u, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
          |c2 AS (SELECT w AS a, w2 AS b, CAST(count(*) AS BIGINT) AS c2 FROM tr WHERE w2 IS NOT NULL GROUP BY 1, 2),
          |c3 AS (SELECT w AS a, w2 AS b, w3 AS c, CAST(count(*) AS BIGINT) AS c3 FROM tr WHERE w3 IS NOT NULL GROUP BY 1, 2, 3),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS ntr FROM tr),
          |sc AS (SELECT s.doc_id,
          |         CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / CAST(cx.c2 AS DOUBLE)
          |              WHEN cb.c2 IS NOT NULL THEN 0.5 * (CAST(cb.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
          |              WHEN u3.c1 IS NOT NULL THEN 0.5 * 0.5 * (CAST(u3.c1 AS DOUBLE) / CAST(nn.ntr AS DOUBLE))
          |              ELSE CAST(0 AS DOUBLE) END AS s
          |       FROM g s
          |       LEFT JOIN c3 ON c3.a = s.w AND c3.b = s.w2 AND c3.c = s.w3
          |       LEFT JOIN c2 cx ON cx.a = s.w AND cx.b = s.w2
          |       LEFT JOIN c2 cb ON cb.a = s.w2 AND cb.b = s.w3
          |       LEFT JOIN c1 u2 ON u2.u = s.w2
          |       LEFT JOIN c1 u3 ON u3.u = s.w3
          |       CROSS JOIN nn
          |       WHERE s.doc_id % 2 = 1 AND s.w3 IS NOT NULL)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
          |  CAST(sum(CAST(round(s * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score_q
          |FROM sc GROUP BY 1""".stripMargin,

      // hypsometric integral: exact zone moments, one quantized ratio
      "q_hypsometric" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |a AS (SELECT CAST(z.zone AS BIGINT) AS zone, CAST(count(*) AS BIGINT) AS n,
           |        sum(g.v) AS vsum, min(g.v) AS vmin, max(g.v) AS vmax
           |      FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1)
           |SELECT zone, n, vmin, vmax,
           |  CASE WHEN vmax > vmin THEN CAST(round((vsum - n * vmin) * CAST(1000000 AS DOUBLE) / (n * (vmax - vmin))) AS BIGINT) END AS hi_u
           |FROM a""".stripMargin,

      // Ripley's K: the engine blocks pairs by an r_max bucket; the
      // oracle restates as the sf-bounded all-pairs join. d² is an
      // exact integer; K̂ = A·k/(n(n−1)) micro-quantized ×1e4
      "q_ripley" ->
        s"""WITH p AS ($pts),
           |d AS (SELECT (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) AS d2
           |      FROM p a JOIN p b ON a.pid <> b.pid),
           |c AS (SELECT CAST(sum(CASE WHEN d2 <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS k4,
           |        CAST(sum(CASE WHEN d2 <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS k8,
           |        CAST(sum(CASE WHEN d2 <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS k16,
           |        CAST(sum(CASE WHEN d2 <= 1024 THEN 1 ELSE 0 END) AS BIGINT) AS k32
           |      FROM d),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
           |SELECT n,
           |  k4, CAST(round(CAST(k4 * 65536 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) * 10000.0) AS BIGINT) AS kh4,
           |  k8, CAST(round(CAST(k8 * 65536 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) * 10000.0) AS BIGINT) AS kh8,
           |  k16, CAST(round(CAST(k16 * 65536 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) * 10000.0) AS BIGINT) AS kh16,
           |  k32, CAST(round(CAST(k32 * 65536 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) * 10000.0) AS BIGINT) AS kh32
           |FROM c, nn""".stripMargin,

      // McCune-Keon 2002 ln heat load: identical term order to
      // Focal.terrain's heat_load case; zf carries the latitude
      // (radians) through the hornSql pivot
      "q_heat_load" -> {
        val sR = "atan(sqrt(dzdx * dzdx + dzdy * dzdy))"
        val a0 = "atan2(dzdy, -dzdx)"
        val aR = s"(CASE WHEN $a0 < 0 THEN $a0 + 2 * pi() ELSE $a0 END)"
        val fR = s"abs(pi() - abs($aR - 1.25 * pi()))"
        hornSql(
          uqSql(s"-1.467 + 1.582 * cos(zf) * cos($sR) - 1.500 * cos($fR) * sin($sR) * sin(zf) - 0.262 * sin(zf) * sin($sR) + 0.607 * sin($fR) * sin($sR)"),
          cellSize = 0.25,
          zfExpr = "radians(64 - ((y // 64) + 0.5) * 16)",
          alias = "v_u")
      },

      "q_tobler" ->
        hornSql(uqSql("6 * exp(-3.5 * abs(sqrt(dzdx * dzdx + dzdy * dzdy) + 0.05))"), alias = "v_u"),

      "q_mask" ->
        s"SELECT x, y, v FROM ($grid) WHERE abs(x + 0.5 - 128) + abs(y + 0.5 - 128) < 60.3",

      // buffered-geometry closed forms: diamond grows/shrinks by
      // d*sqrt(2) in L1 radius, rect by d per side (miter joins)
      "q_buffer_mask" ->
        s"""SELECT x, y, v FROM ($grid)
           |WHERE abs(x + 0.5 - 64) + abs(y + 0.5 - 64) < 30.3 + 10.0 * sqrt(2)
           |   OR (x + 0.5 > 150.2 - 7.5 AND x + 0.5 < 190.7 + 7.5
           |       AND y + 0.5 > 100.4 - 7.5 AND y + 0.5 < 140.9 + 7.5)
           |   OR abs(x + 0.5 - 200) + abs(y + 0.5 - 60) < 25.3 - 6.0 * sqrt(2)""".stripMargin,

      "q_polygonal_summary" ->
        s"""SELECT sum(v) AS vsum, count(*) AS vcount, min(v) AS vmin, max(v) AS vmax, sum(v) / count(*) AS vmean
           |FROM ($grid) WHERE abs(x + 0.5 - 128) + abs(y + 0.5 - 128) < 60.3""".stripMargin,

      "q_summary_series" -> {
        def one(i: Int, cx: Int): String =
          s"""SELECT $i AS gid, sum(v) AS vsum, count(*) AS vcount, min(v) AS vmin, max(v) AS vmax, sum(v) / count(*) AS vmean
             |FROM ($grid) WHERE abs(x + 0.5 - $cx) + abs(y + 0.5 - $cx) < 40.3""".stripMargin
        s"${one(0, 64)} UNION ALL ${one(1, 192)}"
      },

      "q_zonal_stats" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid))
           |SELECT CAST(z.zone AS BIGINT) AS zone, count(*) AS cnt, sum(g.v) AS vsum,
           |       min(g.v) AS vmin, max(g.v) AS vmax, avg(g.v) AS vmean
           |FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y
           |GROUP BY 1""".stripMargin,

      "q_local_mask" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid))
           |SELECT g.x, g.y, g.v FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y
           |WHERE z.zone <> 65""".stripMargin,

      // QA bit test: survivors have (qa & 5) = 0
      "q_bitmask" ->
        s"""SELECT x, y, v FROM ($grid)
           |WHERE ((CAST(v AS BIGINT) * 13) % 16 & 5) = 0""".stripMargin,

      // (zone, value) histogram -> min-packed argmax/argmin with the
      // engine's smallest-value tie rule
      "q_zonal_majority" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |c AS (SELECT CAST(z.zone AS BIGINT) AS zone, CAST(g.v AS BIGINT) AS v,
           |        count(*) AS cnt
           |      FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1, 2),
           |mx AS (SELECT zone, max(cnt) AS mc, min(cnt) AS nc, count(*) AS variety
           |       FROM c GROUP BY 1)
           |SELECT c.zone, CAST(mx.variety AS BIGINT) AS variety,
           |  min(CASE WHEN c.cnt = mx.mc THEN c.v END) AS majority,
           |  min(CASE WHEN c.cnt = mx.nc THEN c.v END) AS minority
           |FROM c JOIN mx USING (zone) GROUP BY 1, 2""".stripMargin,

      // cross-multiplied quantile rule per zone, q1 and q3 joined
      "q_zonal_quartiles" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |c AS (SELECT CAST(z.zone AS BIGINT) AS zone, g.v AS v, count(*) AS cnt
           |      FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1, 2),
           |t AS (SELECT zone, v,
           |        sum(cnt) OVER (PARTITION BY zone ORDER BY v) AS cum,
           |        sum(cnt) OVER (PARTITION BY zone) AS tot FROM c),
           |q1 AS (SELECT zone, CAST(min(v) AS BIGINT) AS q1 FROM t WHERE cum * 4 >= tot GROUP BY 1),
           |q3 AS (SELECT zone, CAST(min(v) AS BIGINT) AS q3 FROM t WHERE cum * 4 >= tot * 3 GROUP BY 1)
           |SELECT q1.zone, q1.q1, q3.q3 FROM q1 JOIN q3 USING (zone)""".stripMargin,

      // per-zone discrete median: smallest v with 2*cum >= total
      "q_zonal_median" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |c AS (SELECT CAST(z.zone AS BIGINT) AS zone, g.v AS v, count(*) AS cnt
           |      FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1, 2),
           |t AS (SELECT zone, v,
           |        sum(cnt) OVER (PARTITION BY zone ORDER BY v) AS cum,
           |        sum(cnt) OVER (PARTITION BY zone) AS tot FROM c)
           |SELECT zone, CAST(min(v) AS BIGINT) AS median
           |FROM t WHERE cum * 2 >= tot GROUP BY 1""".stripMargin,

      // exact integer moments -> one pinned float expression
      "q_raster_corr" ->
        s"""WITH g AS ($grid),
           |p AS (SELECT CAST(v AS BIGINT) AS x, (CAST(v AS BIGINT) * 37) % 101 AS y FROM g),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy,
           |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
           |      FROM p)
           |SELECT n AS n_cells,
           |  ${uqSql("""CAST(n * sxy - sx * sy AS DOUBLE) /
           |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))""")} AS corr_u
           |FROM m""".stripMargin,

      // cut/fill: sign classes of a - b with exact |volume| sums
      "q_cutfill" ->
        s"""WITH g AS ($grid),
           |d AS (SELECT CAST(v AS BIGINT) - (CAST(v AS BIGINT) * 13) % 50 AS d FROM g)
           |SELECT CAST(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END AS BIGINT) AS cls,
           |  count(*) AS n_cells, CAST(sum(abs(d)) AS BIGINT) AS volume
           |FROM d GROUP BY 1""".stripMargin,

      // the JSON text is engine-internal; the oracle pins that
      // encode -> parse is the identity on the record
      "q_jsonl_roundtrip" ->
        "SELECT doc_id, lang, source, n_chars, md5(text) AS h FROM documents",

      // exact Long weight sums per zone, one closing division
      "q_zonal_weighted" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid))
           |SELECT CAST(z.zone AS BIGINT) AS zone,
           |  CAST(sum(CAST(o.v AS BIGINT)) AS BIGINT) AS w_total,
           |  ${uqSql("""CAST(sum(CAST(o.v AS BIGINT) * CAST(g.v AS BIGINT)) AS DOUBLE)
           |    / CAST(sum(CAST(o.v AS BIGINT)) AS DOUBLE)""")} AS wmean_u
           |FROM ($grid) g JOIN ($ogrid) o ON o.x = g.x AND o.y = g.y
           |  JOIN z ON z.x = g.x AND z.y = g.y
           |GROUP BY 1""".stripMargin,

      // SHDI: per-(zone,class) c*ln(c) micro-nat terms (charEntropy
      // rule), SHEI = H / ln(variety), 1-class zones 0. Closing ln(n)
      // and ln(variety) are micro-quantized too (r13 hardening): the
      // hashed values are quotients of exact integers, never raw libm.
      "q_zonal_diversity" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |c AS (SELECT CAST(z.zone AS BIGINT) AS zone, CAST(g.v AS BIGINT) % 8 AS cls,
           |        count(*) AS cnt
           |      FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1, 2),
           |a AS (SELECT zone, CAST(sum(cnt) AS BIGINT) AS n_cells, CAST(count(*) AS BIGINT) AS variety,
           |        CAST(sum(CAST(round(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
           |      FROM c GROUP BY 1),
           |e AS (SELECT zone, n_cells, variety,
           |        CAST(CAST(round(ln(CAST(n_cells AS DOUBLE)) * 1000000.0) AS BIGINT) * n_cells - s AS DOUBLE)
           |          / (CAST(n_cells AS DOUBLE) * 1000000.0) AS he,
           |        CAST(CAST(round(ln(CAST(variety AS DOUBLE)) * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0 AS lv
           |      FROM a)
           |SELECT zone, n_cells, variety,
           |  ${uqSql("he")} AS shannon_u,
           |  ${uqSql("CASE WHEN variety > 1 THEN he / lv ELSE CAST(0.0 AS DOUBLE) END")} AS evenness_u
           |FROM e""".stripMargin,

      // CVA displacement: d0 and d1 stated with the engine's exact
      // arithmetic ((va+10)-va collapses exactly on integral cells)
      "q_change_vector" ->
        s"""WITH a AS ($grid), b AS ($ogrid),
           |dd AS (SELECT a.x, a.y, (a.v + 10) - a.v AS d0, b.v * 2 - b.v AS d1
           |       FROM a JOIN b USING (x, y))
           |SELECT x, y, CAST(0 AS INT) AS band, ${uqSql("sqrt(d0 * d0 + d1 * d1)")} AS v_u FROM dd
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band,
           |  ${uqSql("""CASE WHEN degrees(atan2(d1, d0)) < 0 THEN degrees(atan2(d1, d0)) + 360
           |        ELSE degrees(atan2(d1, d0)) END""")} AS v_u FROM dd""".stripMargin,

      // zone x class contingency table (TabulateArea long form)
      "q_zonal_histogram" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid))
           |SELECT CAST(z.zone AS BIGINT) AS zone,
           |       CAST(g.v AS BIGINT) % 8 AS class, count(*) AS cnt
           |FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y
           |GROUP BY 1, 2""".stripMargin,

      "q_zonal_pct" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |s AS (SELECT z.zone, CAST(sum(g.v) AS BIGINT) AS zsum
           |  FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y GROUP BY 1)
           |SELECT g.x, g.y, CAST(g.v AS BIGINT) * 100 // s.zsum AS pct
           |FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y JOIN s ON s.zone = z.zone""".stripMargin,

      // circular mean: per-cell sin/cos micro-quantized to longs
      // before the zone sums (order-free), one atan2 at the end;
      // whole-degree angles keep every rounding 2.6e-4 away from a
      // .5 boundary, so JVM-vs-libm ulps cannot flip a quantum
      "q_zonal_aspect" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |a AS (SELECT z.zone, (g.v * 37) % 360 AS ang FROM ($grid) g JOIN z ON g.x = z.x AND g.y = z.y),
           |p AS (SELECT zone, CAST(count(*) AS BIGINT) AS n_cells,
           |        CAST(sum(CAST(round(sin(radians(ang)) * 1000000.0) AS BIGINT)) AS BIGINT) AS sq,
           |        CAST(sum(CAST(round(cos(radians(ang)) * 1000000.0) AS BIGINT)) AS BIGINT) AS cq
           |      FROM a GROUP BY 1),
           |d AS (SELECT zone, n_cells, sq, cq,
           |        degrees(atan2(CAST(sq AS DOUBLE), CAST(cq AS DOUBLE))) AS deg FROM p)
           |SELECT CAST(zone AS BIGINT) AS zone, n_cells,
           |  ${uqSql("CASE WHEN deg < 0 THEN deg + 360 ELSE deg END")} AS mean_deg_u,
           |  ${uqSql("sqrt(CAST(sq AS DOUBLE) * sq + CAST(cq AS DOUBLE) * cq) / (CAST(n_cells AS DOUBLE) * 1000000.0)", "1000000.0")} AS resultant_u
           |FROM d""".stripMargin,

      // per-cell perimeter contribution via 4 neighbor left-joins
      // (missing neighbor / different zone / grid edge all read as
      // boundary — the engine's lag/lead gap-check rule restated)
      "q_zonal_geometry" ->
        s"""WITH z AS (SELECT x, y, ascii(zone) AS zone FROM ($zgrid)),
           |n AS (SELECT z.zone AS zn,
           |  4 - (CASE WHEN l.zone = z.zone THEN 1 ELSE 0 END)
           |    - (CASE WHEN r.zone = z.zone THEN 1 ELSE 0 END)
           |    - (CASE WHEN u.zone = z.zone THEN 1 ELSE 0 END)
           |    - (CASE WHEN d.zone = z.zone THEN 1 ELSE 0 END) AS p
           |  FROM z LEFT JOIN z l ON l.x = z.x - 1 AND l.y = z.y
           |         LEFT JOIN z r ON r.x = z.x + 1 AND r.y = z.y
           |         LEFT JOIN z u ON u.x = z.x AND u.y = z.y - 1
           |         LEFT JOIN z d ON d.x = z.x AND d.y = z.y + 1)
           |SELECT CAST(zn AS BIGINT) AS zone, count(*) AS n_cells,
           |  CAST(sum(p) AS BIGINT) AS perimeter,
           |  ${uqSql("4 * pi() * count(*) / (CAST(sum(p) AS BIGINT) * CAST(sum(p) AS BIGINT))", "1000000.0")} AS compactness_u
           |FROM n GROUP BY 1""".stripMargin,

      // marching squares: right-neighbor pairs, stacked row pairs,
      // 4-bit case per complete block (v00=1, v10=2, v01=4, v11=8);
      // diagonal saddles (6, 9) = 2 segments
      "q_contours" ->
        s"""WITH g AS ($grid),
           |r AS (SELECT a.x, a.y, a.v AS v00, b.v AS v10 FROM g a JOIN g b ON b.y = a.y AND b.x = a.x + 1),
           |blk AS (SELECT t.v00, t.v10, u.v00 AS v01, u.v10 AS v11
           |        FROM r t JOIN r u ON u.x = t.x AND u.y = t.y + 1),
           |lv AS (SELECT CAST(lvl AS DOUBLE) AS level FROM (VALUES (20), (40), (80), (160)) q(lvl)),
           |c AS (SELECT level,
           |  (CASE WHEN v00 >= level THEN 1 ELSE 0 END) + (CASE WHEN v10 >= level THEN 2 ELSE 0 END) +
           |  (CASE WHEN v01 >= level THEN 4 ELSE 0 END) + (CASE WHEN v11 >= level THEN 8 ELSE 0 END) AS cs
           |  FROM blk CROSS JOIN lv)
           |SELECT level,
           |  CAST(sum(CASE WHEN cs IN (0, 15) THEN 0 WHEN cs IN (6, 9) THEN 2 ELSE 1 END) AS BIGINT) AS n_segments,
           |  CAST(sum(CASE WHEN cs IN (0, 15) THEN 0 ELSE 1 END) AS BIGINT) AS n_blocks
           |FROM c GROUP BY 1""".stripMargin,

      // spherical cell area per grid row of the LatLng layout; the
      // R^2 * d-lambda factor is the engine's driver-side constant
      // interpolated verbatim so both sides share one double
      "q_cell_area" -> {
        val scale = graft.raster.ZFactor.cellAreaScale(GridSource.layoutLatLng)
        s"""SELECT CAST(t.y AS BIGINT) AS y, CAST(256 AS BIGINT) AS n_cells,
           |  ${uqSql(s"""$scale * (sin(radians(CAST(64 AS DOUBLE) - CAST(t.y AS DOUBLE) * CAST(0.25 AS DOUBLE)))
           |                - sin(radians(CAST(64 AS DOUBLE) - CAST(t.y AS DOUBLE) * CAST(0.25 AS DOUBLE) - CAST(0.25 AS DOUBLE))))""", "1000000.0")} AS area_km2_u
           |FROM range(256) t(y)""".stripMargin
      },

      // hex cube-rounding restated step for step over identical
      // doubles (pure arithmetic + sqrt — no libm trig anywhere);
      // sqrt(3)/3 is the engine's driver-side constant verbatim
      "q_hexbin" -> {
        val s33 = graft.vector.Hexbin.S33
        val t23 = 2.0 / 3
        s"""WITH p AS ($pts),
           |t AS (SELECT pid, ($s33 * px - py / 3) / CAST(20 AS DOUBLE) AS q,
           |        (py * $t23) / CAST(20 AS DOUBLE) AS r FROM p),
           |c AS (SELECT pid, q AS x, -q - r AS y, r AS z FROM t),
           |d AS (SELECT pid, x, y, z, round(x) AS rx, round(y) AS ry, round(z) AS rz FROM c),
           |e AS (SELECT pid, rx, ry, rz, abs(rx - x) AS dx, abs(ry - y) AS dy, abs(rz - z) AS dz FROM d),
           |f AS (SELECT pid,
           |  CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT) AS hq,
           |  CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz) THEN -rx - ry ELSE rz END AS BIGINT) AS hr
           |  FROM e)
           |SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_points, CAST(sum(pid) AS BIGINT) AS pid_sum
           |FROM f GROUP BY 1, 2""".stripMargin
      },

      // strict-hull edge predicate: a directed edge (a -> b) is on the
      // CCW hull iff every other point is strictly left of it, or
      // collinear strictly between its endpoints. Vertices are the
      // edge starts; the directed edge set gives the shoelace area and
      // the quantized perimeter with no order reconstruction.
      "q_convex_hull" ->
        s"""WITH p0 AS ($pts),
           |pts AS (SELECT DISTINCT CAST(px * 2 AS BIGINT) AS x, CAST(py * 2 AS BIGINT) AS y FROM p0),
           |e AS (SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
           |      FROM pts a, pts b
           |      WHERE NOT (a.x = b.x AND a.y = b.y)
           |        AND NOT EXISTS (
           |          SELECT 1 FROM pts r
           |          WHERE NOT (r.x = a.x AND r.y = a.y) AND NOT (r.x = b.x AND r.y = b.y)
           |            AND ((b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) < 0
           |              OR ((b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) = 0
           |                  AND NOT ((r.x - a.x) * (b.x - a.x) + (r.y - a.y) * (b.y - a.y) > 0
           |                           AND (r.x - b.x) * (a.x - b.x) + (r.y - b.y) * (a.y - b.y) > 0))))),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_hull,
           |        CAST(sum(ax * by - bx * ay) AS BIGINT) AS s2,
           |        CAST(sum(CAST(round(sqrt((CAST(bx - ax AS DOUBLE) / 2) * (CAST(bx - ax AS DOUBLE) / 2)
           |          + (CAST(by - ay AS DOUBLE) / 2) * (CAST(by - ay AS DOUBLE) / 2)) * 1000000.0) AS BIGINT)) AS BIGINT) AS pq
           |        FROM e)
           |SELECT CAST(ax AS DOUBLE) / 2 AS px, CAST(ay AS DOUBLE) / 2 AS py, n_hull,
           |  CAST(s2 AS DOUBLE) / 8 AS area,
           |  (pq + 5) // 10 AS perim_u
           |FROM e, agg""".stripMargin,

      // the ray-cast even-odd test on a diamond == the L1 closed form
      // (strict interior; r = 20.3 vs integral |dx|+|dy| -> no ties);
      // the grid-bucket plan is exact-equal, so it shares the SQL
      "q_spatial_join" ->
        s"""WITH g AS (SELECT pid AS gid, px AS cx, py AS cy FROM ($pts) WHERE pid BETWEEN 1 AND 5),
           |p AS ($pts)
           |SELECT g.gid, count(*) AS n_points, CAST(sum(p.pid) AS BIGINT) AS pid_sum
           |FROM g JOIN p ON abs(p.px - g.cx) + abs(p.py - g.cy) < 20.3
           |GROUP BY 1""".stripMargin,

      "q_spatial_join_grid" ->
        s"""WITH g AS (SELECT pid AS gid, px AS cx, py AS cy FROM ($pts) WHERE pid BETWEEN 1 AND 5),
           |p AS ($pts)
           |SELECT g.gid, count(*) AS n_points, CAST(sum(p.pid) AS BIGINT) AS pid_sum
           |FROM g JOIN p ON abs(p.px - g.cx) + abs(p.py - g.cy) < 20.3
           |GROUP BY 1""".stripMargin,

      // break_i = vmin + i * ((vmax - vmin) / 7), same op order
      "q_class_breaks_equal" ->
        s"""WITH m AS (SELECT min(v) AS vmin, max(v) AS vmax FROM ($grid))
           |SELECT CAST(i.range AS BIGINT) AS i,
           |  ${uqSql("vmin + i.range * ((vmax - vmin) / 7)")} AS brk_u
           |FROM range(1, 8) i, m""".stripMargin,

      // haversine + initial bearing, op-order-identical to the engine
      "q_geodesic" ->
        s"""WITH p AS ($lonlat),
           |t AS (SELECT pid, radians(lat) AS f1, radians(CAST(48.85 AS DOUBLE)) AS f2,
           |  radians(CAST(48.85 AS DOUBLE) - lat) AS dphi,
           |  radians(CAST(2.25 AS DOUBLE) - lon) AS dlam FROM p),
           |u AS (SELECT pid, sin(dphi / 2) AS sp, sin(dlam / 2) AS sl, f1, f2, dlam FROM t),
           |v AS (SELECT pid, sp * sp + cos(f1) * cos(f2) * (sl * sl) AS a,
           |  degrees(atan2(sin(dlam) * cos(f2), cos(f1) * sin(f2) - sin(f1) * cos(f2) * cos(dlam))) AS deg FROM u)
           |SELECT pid, ${uqSql("CAST(12742.0 AS DOUBLE) * asin(least(CAST(1.0 AS DOUBLE), sqrt(a)))", "10000.0")} AS dist_km_u,
           |  ${uqSql("CASE WHEN deg < 0 THEN deg + 360 ELSE deg END", "10000.0")} AS bearing_deg_u
           |FROM v""".stripMargin,

      "q_cell_value_counts" ->
        s"SELECT CAST(v AS BIGINT) AS value, count(*) AS cnt FROM ($grid) GROUP BY 1",

      // identical feature derivation to the Spark side (supplier ->
      // diamond center/radius); cell centers at half-odd coords and
      // fractional radii keep the L1 test tie-free, so ray-cast
      // containment of the parsed WKT == this arithmetic test
      "q_rasterize_geoms" ->
        s"""WITH s AS (SELECT s_suppkey AS pid,
           |         CAST(s_suppkey * 13 % $G + 0.5 AS DOUBLE) AS px,
           |         CAST(s_suppkey * 29 % $G + 0.5 AS DOUBLE) AS py,
           |         CAST(s_suppkey % 3 AS DOUBLE) * 10.0 + 20.3 AS r
           |       FROM supplier WHERE s_suppkey <= 8),
           |t AS (SELECT t1.range AS x, t2.range AS y FROM range(0, $G) t1, range(0, $G) t2),
           |b AS (SELECT t.x, t.y, CAST(s.pid AS DOUBLE) AS v
           |      FROM t JOIN s ON abs(t.x + 0.5 - s.px) + abs(t.y + 0.5 - s.py) < s.r)
           |SELECT x, y, max(v) AS v FROM b GROUP BY 1, 2""".stripMargin,

      "q_mask_wkt" ->
        s"""SELECT x, y, v FROM ($grid)
           |WHERE (abs(x + 0.5 - 80) + abs(y + 0.5 - 80) < 50.3
           |       AND NOT (abs(x + 0.5 - 80) + abs(y + 0.5 - 80) < 20.3))
           |   OR abs(x + 0.5 - 180) + abs(y + 0.5 - 180) < 30.3""".stripMargin,

      "q_rasterize_lines" ->
        s"""WITH s AS (SELECT pid, px, py, pid % 7 + 2 AS len FROM ($pts)),
           |h AS (SELECT unnest(range(CAST(floor(px) AS BIGINT),
           |                          least(CAST(floor(px + len) AS BIGINT) + 1, 256))) AS x,
           |             CAST(floor(py) AS BIGINT) AS y, CAST(pid AS DOUBLE) AS v
           |      FROM s WHERE pid % 2 = 0),
           |vv AS (SELECT CAST(floor(px) AS BIGINT) AS x,
           |              unnest(range(CAST(floor(py) AS BIGINT),
           |                           least(CAST(floor(py + len) AS BIGINT) + 1, 256))) AS y,
           |              CAST(pid AS DOUBLE) AS v
           |       FROM s WHERE pid % 2 = 1)
           |SELECT x, y, max(v) AS v
           |FROM (SELECT * FROM h UNION ALL SELECT * FROM vv) GROUP BY 1, 2""".stripMargin,

      // the JSON text is engine-internal; what the oracle pins is that
      // the encode->parse pair is the identity on (pid, px, py)
      "q_geojson_roundtrip" -> s"SELECT pid, px, py FROM ($pts)",

      // MVT blobs are spec-verified byte-exactly; the oracle pins the
      // tile assignment and per-tile feature counts
      "q_vector_tile" ->
        s"""SELECT CAST(floor(px / 64) AS INT) AS col, CAST(floor(py / 64) AS INT) AS row,
           |  count(*) AS n_features
           |FROM ($pts) GROUP BY 1, 2""".stripMargin,

      // decoded-linestring closed form: each L-polyline contributes 3
      // vertices at x0/x0+192/x0+192 and y0/y0/y0+128 in tile-local
      // extent units (x0 = (px - 64*col) * 64, exact half-cell ints)
      "q_vector_tile_lines" ->
        s"""WITH t AS (SELECT pid, CAST(floor(px / 64) AS INT) AS col, CAST(floor(py / 64) AS INT) AS row,
           |  (CAST(px * 2 AS BIGINT) - 128 * CAST(floor(px / 64) AS BIGINT)) * 32 AS x0,
           |  (CAST(py * 2 AS BIGINT) - 128 * CAST(floor(py / 64) AS BIGINT)) * 32 AS y0
           |  FROM ($pts))
           |SELECT col, row, count(*) AS n_features,
           |  CAST(count(*) * 3 AS BIGINT) AS n_vertices,
           |  CAST(sum(3 * x0 + 384) AS BIGINT) AS sum_lx,
           |  CAST(sum(3 * y0 + 128) AS BIGINT) AS sum_ly
           |FROM t GROUP BY 1, 2""".stripMargin,

      "q_shapefile" ->
        s"""SELECT CAST(row_number() OVER (ORDER BY pid) - 1 AS INT) AS idx, px, py
           |FROM ($pts)""".stripMargin,

      "q_shapefile_rasterize" ->
        s"""SELECT CAST(floor(px) AS BIGINT) AS x, CAST(floor(py) AS BIGINT) AS y,
           |       max(CAST(pid AS DOUBLE)) AS v
           |FROM ($pts) GROUP BY 1, 2""".stripMargin,

      "q_point_values" ->
        s"""SELECT p.pid AS pid, g.v AS v
           |FROM ($pts) p JOIN ($grid) g
           |  ON g.x = CAST(floor(p.px) AS BIGINT) AND g.y = CAST(floor(p.py) AS BIGINT)""".stripMargin,

      // rounded-DDA line sampling: cell = p0 + (2 t d + N) // (2 N)
      // exactly as the engine states it; dist = t * step (one float
      // multiply of the shared driver constant, round 5)
      "q_terrain_profile" -> {
        val dx = 235L; val dy = 190L; val n = 235L
        val step = math.sqrt((dx * dx + dy * dy).toDouble) / n
        s"""WITH g AS ($grid),
           |p AS (SELECT range AS t, 5 + (2 * range * $dx + $n) // (2 * $n) AS x,
           |             10 + (2 * range * $dy + $n) // (2 * $n) AS y
           |      FROM range(0, ${n + 1}))
           |SELECT p.t, p.x, p.y, g.v,
           |  ${uqSql(s"p.t * CAST($step AS DOUBLE)")} AS dist_u
           |FROM p JOIN g ON g.x = p.x AND g.y = p.y""".stripMargin
      },

      // opening = Min window then Max window over the partial-window
      // join neighborhoods (the focal-chain oracle shape)
      "q_morphology" ->
        s"""WITH g AS ($lineitemCellsSql),
           |m AS (SELECT c.x AS x, c.y AS y, min(n.v) AS v
           |      FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |      GROUP BY c.x, c.y)
           |SELECT c.x AS x, c.y AS y, max(n.v) AS v
           |FROM m c JOIN m n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |GROUP BY c.x, c.y""".stripMargin,

      // the CMS prefilter only ever OVERcounts, so prefilter + exact
      // verify equals the plain HAVING query the oracle states
      "q_heavy_hitters" ->
        """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
          |SELECT w, count(*) AS cnt FROM t GROUP BY 1 HAVING count(*) >= 100""".stripMargin,

      "q_point_values_bilinear" ->
        s"""WITH b AS (
           |  SELECT pid, CAST(floor(px - 0.5) AS BIGINT) AS x0, CAST(floor(py - 0.5) AS BIGINT) AS y0,
           |         px - 0.5 - floor(px - 0.5) AS tx, py - 0.5 - floor(py - 0.5) AS ty
           |  FROM ($pts)),
           |c AS (
           |  SELECT pid, x0 AS cx, y0 AS cy, (1 - tx) * (1 - ty) AS w FROM b
           |  UNION ALL SELECT pid, x0 + 1, y0, tx * (1 - ty) FROM b
           |  UNION ALL SELECT pid, x0, y0 + 1, (1 - tx) * ty FROM b
           |  UNION ALL SELECT pid, x0 + 1, y0 + 1, tx * ty FROM b),
           |j AS (SELECT c.pid, c.w, g.v FROM c JOIN ($grid) g ON g.x = c.cx AND g.y = c.cy)
           |SELECT pid, ${uqSql("sum(w * v)")} AS v_u FROM j GROUP BY pid HAVING count(*) = 4""".stripMargin,

      "q_cost_distance" -> costDistanceSql(grid, pts),
      "q_cost_path" -> costPathSql(grid, pts),

      // Corridor: two prefixed relaxation chains over ONE shared
      // friction/offsets head, inner-joined and summed
      "q_corridor" -> {
        val ptsA = s"SELECT * FROM ($pts) WHERE pid = 3"
        val ptsB = s"SELECT * FROM ($pts) WHERE pid = 82"
        val (ra, aN) = costRelaxCtes(ptsA, "a")
        val (rb, bN) = costRelaxCtes(ptsB, "b")
        s"""WITH ${costHeadCtes(grid)},
           |$ra,
           |$rb
           |SELECT a.x AS x, a.y AS y, ${uqSql("a.d + b.d")} AS v_u
           |FROM $aN a JOIN $bN b ON a.x = b.x AND a.y = b.y""".stripMargin
      },

      "q_euclidean_distance" ->
        s"""SELECT t1.range AS x, t2.range AS y,
           |  min(sqrt((t1.range + 0.5 - p.px) * (t1.range + 0.5 - p.px) +
           |           (t2.range + 0.5 - p.py) * (t2.range + 0.5 - p.py))) AS v
           |FROM range(0, 256) t1, range(0, 256) t2, ($pts) p
           |GROUP BY 1, 2""".stripMargin,

      // nearest-source argmin on EXACT integer squared distances
      // (points are half-cell-aligned), ties to the smallest pid
      // vector Voronoi: the oracle is the DEFINITION — nearest site
      // per cell center (fractional .31/.74 site offsets: no ties, no
      // center on a cell edge; VoronoiSpec audits the margins)
      "q_voronoi" ->
        s"""WITH p AS (SELECT CAST(s_suppkey AS BIGINT) AS pid,
           |        CAST(s_suppkey * 13 % 256 + 0.31 AS DOUBLE) AS px,
           |        CAST(s_suppkey * 29 % 256 + 0.74 AS DOUBLE) AS py
           |      FROM supplier WHERE s_suppkey <= 10),
           |d AS (SELECT t1.range AS x, t2.range AS y, p.pid,
           |        (t1.range + 0.5 - p.px) * (t1.range + 0.5 - p.px) +
           |        (t2.range + 0.5 - p.py) * (t2.range + 0.5 - p.py) AS d2
           |      FROM range(0, 256) t1, range(0, 256) t2, p),
           |r AS (SELECT x, y, pid,
           |        row_number() OVER (PARTITION BY x, y ORDER BY d2, pid) AS rk FROM d)
           |SELECT x, y, pid FROM r WHERE rk = 1""".stripMargin,

      "q_euclidean_allocation" ->
        s"""WITH d AS (SELECT t1.range AS x, t2.range AS y, p.pid,
           |        CAST((t1.range + 0.5 - p.px) * (t1.range + 0.5 - p.px) +
           |             (t2.range + 0.5 - p.py) * (t2.range + 0.5 - p.py) AS BIGINT) AS d2
           |      FROM range(0, 256) t1, range(0, 256) t2, ($pts) p),
           |r AS (SELECT x, y, pid, d2,
           |        row_number() OVER (PARTITION BY x, y ORDER BY d2, pid) AS rk FROM d)
           |SELECT x, y, pid, d2 FROM r WHERE rk = 1""".stripMargin,

      // Delaunay TIN: the triangulation of the 10 FIXED formula points
      // is computed by the same exact-predicate code at oracle-build
      // time and stated as pid-triple literals (the LSH planeWeights
      // precedent); everything else — barycentric cross products on
      // doubled integer coords, the single closing division — is
      // restated in SQL
      // the DRIVER Bowyer-Watson's answer as literals — the engine
      // side runs the distributed certified-star algorithm, so the
      // two paths check each other (general-position fixture: the
      // triangulation is unique and both must land on it)
      "q_delaunay_dist" -> {
        val pts = (1 to 10).map(k =>
          (k.toLong, (k * 13 % 256) + 0.31, (k * 29 % 256) + 0.74))
        val tris = graft.vector.Delaunay.triangulateScaled(
          pts.map(p => (p._2, p._3)).toArray, 100L)
        val vals = tris.map { case (a, b, c) =>
          val s3 = Array(pts(a)._1, pts(b)._1, pts(c)._1).sorted
          s"(${s3(0)}, ${s3(1)}, ${s3(2)})" }.mkString(", ")
        s"""SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           |       CAST(c AS BIGINT) AS c
           |FROM (VALUES $vals) AS t(a, b, c) ORDER BY a, b, c""".stripMargin
      },

      "q_tin" -> {
        // s_suppkey starts at 0, so pid <= 10 is ELEVEN points
        val tinPts = (0 to 10).map { pid =>
          (pid.toLong, (pid * 13 % 256) + 0.5, (pid * 29 % 256) + 0.5) }
        val tris = graft.vector.Delaunay.triangulate(
          tinPts.map(p => (p._2, p._3)).toArray)
        val vals = tris.zipWithIndex.map { case ((a, b, c), t) =>
          s"($t, ${tinPts(a)._1}, ${tinPts(b)._1}, ${tinPts(c)._1})" }.mkString(", ")
        s"""WITH p AS (SELECT s_suppkey AS pid,
           |        CAST(2 * (s_suppkey * 13 % 256) + 1 AS BIGINT) AS qx,
           |        CAST(2 * (s_suppkey * 29 % 256) + 1 AS BIGINT) AS qy,
           |        CAST(s_suppkey % 97 + 1 AS BIGINT) AS z
           |      FROM supplier WHERE s_suppkey <= 10),
           |tri AS (SELECT * FROM (VALUES $vals) AS t(tid, pa, pb, pc)),
           |tv AS (SELECT t.tid, a.qx AS ax, a.qy AS ay, a.z AS az,
           |               b.qx AS bx, b.qy AS by, b.z AS bz,
           |               c.qx AS cx, c.qy AS cy, c.z AS cz
           |       FROM tri t JOIN p a ON a.pid = t.pa
           |         JOIN p b ON b.pid = t.pb JOIN p c ON c.pid = t.pc),
           |cells AS (SELECT t1.range AS x, t2.range AS y,
           |            2 * t1.range + 1 AS qx, 2 * t2.range + 1 AS qy
           |          FROM range(0, 256) t1, range(0, 256) t2),
           |w AS (SELECT cells.x, cells.y, tv.tid,
           |        (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) AS det,
           |        (bx - qx) * (cy - qy) - (by - qy) * (cx - qx) AS wa,
           |        (cx - qx) * (ay - qy) - (cy - qy) * (ax - qx) AS wb,
           |        (ax - qx) * (by - qy) - (ay - qy) * (bx - qx) AS wc,
           |        az, bz, cz
           |      FROM cells, tv),
           |i AS (SELECT *, row_number() OVER (PARTITION BY x, y ORDER BY tid) AS rk
           |      FROM w WHERE (det > 0 AND wa >= 0 AND wb >= 0 AND wc >= 0)
           |              OR (det < 0 AND wa <= 0 AND wb <= 0 AND wc <= 0))
           |SELECT x, y, CAST(wa * az + wb * bz + wc * cz AS DOUBLE) / det AS v
           |FROM i WHERE rk = 1""".stripMargin
      },

      // per-point 16-radius disk -> per-cell exact integer weight sums
      // (w_q = round(1e9/d^2); d^2 is integral for half-cell-aligned
      // points) -> one division; d = 0 takes the point value verbatim
      "q_idw" ->
        s"""WITH p AS (SELECT pid, px, py, pid % 97 + 1 AS pv FROM ($pts)),
           |o AS (SELECT dx.range AS dx, dy.range AS dy FROM range(-16, 17) dx, range(-16, 17) dy),
           |c AS (SELECT CAST(floor(p.px) + o.dx AS BIGINT) AS x, CAST(floor(p.py) + o.dy AS BIGINT) AS y,
           |             p.pid, p.pv, p.px, p.py FROM p, o),
           |f AS (SELECT x, y, pid, pv,
           |        (px - (x + 0.5)) * (px - (x + 0.5)) + (py - (y + 0.5)) * (py - (y + 0.5)) AS d2
           |      FROM c WHERE x >= 0 AND x < 256 AND y >= 0 AND y < 256),
           |g AS (SELECT x, y,
           |        CAST(sum(CASE WHEN d2 > 0 THEN CAST(round(1000000000.0 / d2) AS BIGINT) * pv ELSE 0 END) AS BIGINT) AS swv,
           |        CAST(sum(CASE WHEN d2 > 0 THEN CAST(round(1000000000.0 / d2) AS BIGINT) ELSE 0 END) AS BIGINT) AS sw,
           |        min(CASE WHEN d2 = 0 THEN pv END) AS hit
           |      FROM f WHERE d2 <= 256 GROUP BY 1, 2)
           |SELECT x, y, CASE WHEN hit IS NOT NULL THEN CAST(hit AS DOUBLE)
           |             ELSE CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) END AS v
           |FROM g""".stripMargin,

      // closed forms, not a shoelace restatement: diamond area 2r^2
      // centered on the point; right-triangle area ab/2 with the
      // centroid a/3, b/3 off the corner
      "q_geom_measures" ->
        s"""WITH p AS (SELECT pid, px, py,
           |    CAST(pid % 5 + 1 AS DOUBLE) AS r,
           |    CAST(pid % 4 + 1 AS DOUBLE) AS a,
           |    CAST(pid % 6 + 1 AS DOUBLE) AS b
           |  FROM ($pts))
           |SELECT pid, 'diamond' AS shape, 2 * r * r AS area,
           |  ${uqSql("px", "1000000.0")} AS cx_u,
           |  ${uqSql("py", "1000000.0")} AS cy_u FROM p
           |UNION ALL
           |SELECT pid, 'triangle', a * b / 2,
           |  ${uqSql("px + a / 3", "1000000.0")},
           |  ${uqSql("py + b / 3", "1000000.0")} FROM p""".stripMargin,

      "q_kernel_density" ->
        s"""WITH p AS (SELECT pid, px, py, pid % 97 + 1 AS pv FROM ($pts)),
           |o AS (SELECT dx.range AS dx, dy.range AS dy FROM range(-8, 9) dx, range(-8, 9) dy),
           |c AS (SELECT CAST(floor(p.px) + o.dx AS BIGINT) AS x, CAST(floor(p.py) + o.dy AS BIGINT) AS y,
           |             p.pv, p.px, p.py FROM p, o),
           |f AS (SELECT x, y, pv,
           |        CAST((px - (x + 0.5)) * (px - (x + 0.5)) + (py - (y + 0.5)) * (py - (y + 0.5)) AS BIGINT) AS d2
           |      FROM c WHERE x >= 0 AND x < 256 AND y >= 0 AND y < 256)
           |SELECT x, y, CAST(sum((64 - d2) * pv) AS DOUBLE) AS v
           |FROM f WHERE d2 < 64 GROUP BY 1, 2""".stripMargin,

      "q_kriging" -> Interpolate.krigingSql(
        Array.tabulate(6)(i => (((i + 1) * 13 % 64).toDouble, ((i + 1) * 29 % 64).toDouble)),
        i => s"SELECT s_acctbal FROM supplier WHERE s_suppkey = ${i + 1}",
        64, 48.0, 0.01),

      "q_kriging_ordinary" -> Interpolate.ordinaryKrigingSql(
        Array.tabulate(6)(i => (((i + 1) * 13 % 64).toDouble, ((i + 1) * 29 % 64).toDouble)),
        i => s"SELECT s_acctbal FROM supplier WHERE s_suppkey = ${i + 1}",
        64, 48.0, 0.01),

      // N-ary local stats: distinct-value count, min-value tie-broken
      // majority/minority, exact-integer mean — cells present in >= 1
      // grid (the engine's full-outer tile join)
      "q_local_nary" ->
        s"""WITH u AS (SELECT x, y, v FROM ($grid)
           |  UNION ALL SELECT x, y, v FROM ($ogrid)
           |  UNION ALL SELECT x, y, v FROM (${GridSource.partCellsSql})),
           |c AS (SELECT x, y, v, count(*) AS cnt FROM u GROUP BY 1, 2, 3),
           |a AS (SELECT x, y, count(*) AS variety, max(cnt) AS mx, min(cnt) AS mn
           |      FROM c GROUP BY 1, 2)
           |SELECT c.x, c.y, CAST(a.variety AS BIGINT) AS variety,
           |  min(CASE WHEN c.cnt = a.mx THEN c.v END) AS majority,
           |  min(CASE WHEN c.cnt = a.mn THEN c.v END) AS minority,
           |  ${uqSql("sum(c.v * c.cnt) / sum(c.cnt)")} AS mean_u
           |FROM c JOIN a USING (x, y) GROUP BY c.x, c.y, a.variety""".stripMargin,

      // min-label closure as a recursive CTE: bidirectional neighbor
      // edges, label set grows to the component, min per cell = the
      // engine's large-star/small-star fixpoint labels. Bounded by
      // sum(region_size^2) — small by the subcritical grid design
      "q_region_group" ->
        s"WITH RECURSIVE $regionLabelsCte\nSELECT x, y, cls, region FROM lab",

      // vectorize summary form over the SAME labels: area = cells,
      // perimeter = 4*area - same-region adjacency claims (each shared
      // edge matches twice), bbox — all exact integers
      "q_vectorize" ->
        s"""WITH RECURSIVE $regionLabelsCte,
           |nb AS (SELECT a.region, CAST(count(*) AS BIGINT) AS same
           |  FROM lab a JOIN lab b ON b.region = a.region AND
           |    ((b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x - 1 AND b.y = a.y) OR
           |     (b.x = a.x AND b.y = a.y + 1) OR (b.x = a.x AND b.y = a.y - 1))
           |  GROUP BY 1),
           |st AS (SELECT region, CAST(min(cls) AS BIGINT) AS cls, CAST(count(*) AS BIGINT) AS area,
           |    min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax
           |  FROM lab GROUP BY 1)
           |SELECT st.region, st.cls, st.area, 4 * st.area - coalesce(nb.same, 0) AS perimeter,
           |  st.xmin, st.ymin, st.xmax, st.ymax
           |FROM st LEFT JOIN nb USING (region)""".stripMargin,

      // FRAGSTATS class-level rollup of the vectorize chain: NP / CA /
      // largest patch / total edge exact, mean patch size ×1e6
      "q_landscape" ->
        s"""WITH RECURSIVE $regionLabelsCte,
           |nb AS (SELECT a.region, CAST(count(*) AS BIGINT) AS same
           |  FROM lab a JOIN lab b ON b.region = a.region AND
           |    ((b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x - 1 AND b.y = a.y) OR
           |     (b.x = a.x AND b.y = a.y + 1) OR (b.x = a.x AND b.y = a.y - 1))
           |  GROUP BY 1),
           |st AS (SELECT region, CAST(min(cls) AS BIGINT) AS cls, CAST(count(*) AS BIGINT) AS area
           |  FROM lab GROUP BY 1),
           |vec AS (SELECT st.region, st.cls, st.area, 4 * st.area - coalesce(nb.same, 0) AS perimeter
           |  FROM st LEFT JOIN nb USING (region))
           |SELECT cls, CAST(count(*) AS BIGINT) AS np, CAST(sum(area) AS BIGINT) AS ca,
           |  CAST(max(area) AS BIGINT) AS largest, CAST(sum(perimeter) AS BIGINT) AS edge,
           |  CAST(round(CAST(sum(area) * 1000000 AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mps_u
           |FROM vec GROUP BY 1""".stripMargin,

      // single-pass sieve over the SAME labels: regions under 3 cells
      // take the class of their largest 4-adjacent region (area DESC,
      // region id ASC = the engine's min-struct argmax); islands with
      // no neighbor keep their class
      "q_sieve" ->
        s"""WITH RECURSIVE $regionLabelsCte,
           |info AS (SELECT region, CAST(count(*) AS BIGINT) AS area, min(cls) AS rcls
           |         FROM lab GROUP BY 1),
           |adj AS (SELECT DISTINCT a.region, b.region AS nbr FROM lab a JOIN lab b ON
           |          ((b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x - 1 AND b.y = a.y) OR
           |           (b.x = a.x AND b.y = a.y + 1) OR (b.x = a.x AND b.y = a.y - 1))
           |          AND b.region <> a.region),
           |best AS (SELECT region, ncls FROM (
           |    SELECT adj.region, i.rcls AS ncls,
           |      row_number() OVER (PARTITION BY adj.region ORDER BY i.area DESC, adj.nbr) AS rk
           |    FROM adj JOIN info i ON i.region = adj.nbr) WHERE rk = 1)
           |SELECT l.x, l.y,
           |  CAST(CASE WHEN i.area < 3 THEN coalesce(b.ncls, l.cls) ELSE l.cls END AS BIGINT) AS cls
           |FROM lab l JOIN info i USING (region) LEFT JOIN best b USING (region)""".stripMargin,

      "q_flow_direction" -> flowDirSql(s"SELECT x, y, dir FROM fdir"),

      // R3 viewshed: NN-sampled rays, signed-square integer angle
      // compare (sign(u) u^2 is monotone => no sqrt, no division)
      "q_viewshed" ->
        s"""WITH g AS (SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, CAST(v AS BIGINT) AS z FROM ($grid)),
           |t AS (SELECT x, y, x - 128 AS dx, y - 128 AS dy, z - 100 AS dzt,
           |        (x - 128) * (x - 128) + (y - 128) * (y - 128) AS qt,
           |        greatest(abs(x - 128), abs(y - 128)) AS n
           |      FROM g WHERE (x - 128) * (x - 128) + (y - 128) * (y - 128) <= 576),
           |s AS (SELECT x, y, qt, dzt, dx, dy, n, unnest(range(1, n)) AS k FROM t WHERE n >= 2),
           |sp AS (SELECT x, y, qt, dzt,
           |        128 + CAST(floor((2.0 * k * dx + n) / (2 * n)) AS BIGINT) AS sx,
           |        128 + CAST(floor((2.0 * k * dy + n) / (2 * n)) AS BIGINT) AS sy
           |      FROM s),
           |blk AS (SELECT sp.x, sp.y, max(CASE WHEN
           |          (CASE WHEN gz.z - 100 >= 0 THEN (gz.z - 100) * (gz.z - 100)
           |                ELSE -((gz.z - 100) * (gz.z - 100)) END) * sp.qt
           |          >= (CASE WHEN sp.dzt >= 0 THEN sp.dzt * sp.dzt
           |                   ELSE -(sp.dzt * sp.dzt) END)
           |             * ((sp.sx - 128) * (sp.sx - 128) + (sp.sy - 128) * (sp.sy - 128))
           |          THEN 1 ELSE 0 END) AS b
           |        FROM sp JOIN g gz ON gz.x = sp.sx AND gz.y = sp.sy
           |        WHERE NOT (sp.sx = 128 AND sp.sy = 128)
           |          AND NOT (sp.sx = sp.x AND sp.sy = sp.y)
           |        GROUP BY 1, 2)
           |SELECT t.x, t.y, CAST(CASE WHEN coalesce(blk.b, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS visible
           |FROM t LEFT JOIN blk ON blk.x = t.x AND blk.y = t.y""".stripMargin,

      // token walk as a recursive CTE over the single-out-edge D8
      // graph (acyclic by strict descent); acc = visits per cell
      "q_flow_accum" -> flowDirSql(
        s"""$d8EdgeCte,
           |p AS (SELECT src AS start, dst AS cur FROM e
           |  UNION ALL SELECT p.start, e.dst FROM p JOIN e ON e.src = p.cur),
           |a AS (SELECT cur, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1)
           |SELECT f.x, f.y, coalesce(a.cnt, 0) AS acc
           |FROM fdir f LEFT JOIN a ON a.cur = f.y * 256 + f.x""".stripMargin),

      // SnapPourPoint: the q_flow_accum accumulation CTE + a bounded
      // window argmax per pour point (acc DESC, y, x)
      "q_snap_pour" -> flowDirSql(
        s"""$d8EdgeCte,
           |p AS (SELECT src AS start, dst AS cur FROM e
           |  UNION ALL SELECT p.start, e.dst FROM p JOIN e ON e.src = p.cur),
           |a AS (SELECT cur, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
           |acc AS (SELECT f.x, f.y, coalesce(a.cnt, 0) AS acc
           |  FROM fdir f LEFT JOIN a ON a.cur = f.y * 256 + f.x),
           |pts AS (SELECT pid, CAST(floor(px) AS BIGINT) AS cx, CAST(floor(py) AS BIGINT) AS cy
           |  FROM ($supplierPointsSql) WHERE pid BETWEEN 1 AND 12),
           |j AS (SELECT pts.pid, acc.x, acc.y, acc.acc,
           |        row_number() OVER (PARTITION BY pts.pid
           |          ORDER BY acc.acc DESC, acc.y ASC, acc.x ASC) AS rn
           |      FROM pts JOIN acc ON acc.x BETWEEN pts.cx - 2 AND pts.cx + 2
           |        AND acc.y BETWEEN pts.cy - 2 AND pts.cy + 2)
           |SELECT pid, x, y, acc FROM j WHERE rn = 1""".stripMargin),

      // weighted recursive walk: dist(start) = max accumulated dq on
      // its (linear) path — exact micro-cell integers end to end
      "q_flow_length" -> flowDirSql(
        s"""ew AS (SELECT y * 256 + x AS src,
           |    CASE dir WHEN 1 THEN y * 256 + x + 1 WHEN 2 THEN (y + 1) * 256 + x + 1
           |      WHEN 4 THEN (y + 1) * 256 + x WHEN 8 THEN (y + 1) * 256 + x - 1
           |      WHEN 16 THEN y * 256 + x - 1 WHEN 32 THEN (y - 1) * 256 + x - 1
           |      WHEN 64 THEN (y - 1) * 256 + x ELSE (y - 1) * 256 + x + 1 END AS dst,
           |    CASE WHEN dir IN (2, 8, 32, 128) THEN 1414214 ELSE 1000000 END AS wq
           |  FROM fdir WHERE dir <> 0),
           |p AS (SELECT src AS start, dst AS cur, CAST(wq AS BIGINT) AS dq FROM ew
           |  UNION ALL SELECT p.start, ew.dst, p.dq + ew.wq FROM p JOIN ew ON ew.src = p.cur),
           |a AS (SELECT start, max(dq) AS dist_q FROM p GROUP BY 1)
           |SELECT f.x, f.y, CAST(coalesce(a.dist_q, 0) AS BIGINT) AS dist_q
           |FROM fdir f LEFT JOIN a ON a.start = f.y * 256 + f.x""".stripMargin),

      // TWI = ln((acc+1) / max(tan(slope), 1e-3)): the flow-accum walk
      // and the Horn slope chain COMPOSED over the shared g CTE
      "q_twi" -> flowDirSql(
        s"""${d8EdgeCte.replace("e AS (", "e AS MATERIALIZED (")},
           |p AS (SELECT src AS start, dst AS cur FROM e
           |  UNION ALL SELECT p.start, e.dst FROM p JOIN e ON e.src = p.cur),
           |a AS (SELECT cur, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
           |nb AS (SELECT c.x AS x, c.y AS y,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y - 1 THEN n.z END) AS n1,
           |    max(CASE WHEN n.x = c.x     AND n.y = c.y - 1 THEN n.z END) AS n2,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y - 1 THEN n.z END) AS n3,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y     THEN n.z END) AS n4,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y     THEN n.z END) AS n6,
           |    max(CASE WHEN n.x = c.x - 1 AND n.y = c.y + 1 THEN n.z END) AS n7,
           |    max(CASE WHEN n.x = c.x     AND n.y = c.y + 1 THEN n.z END) AS n8,
           |    max(CASE WHEN n.x = c.x + 1 AND n.y = c.y + 1 THEN n.z END) AS n9,
           |    count(*) AS cnt
           |  FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |  GROUP BY c.x, c.y),
           |dd AS (SELECT x, y,
           |    ((n3 + 2 * n6 + n9) - (n1 + 2 * n4 + n7)) / 8.0 AS dzdx,
           |    ((n7 + 2 * n8 + n9) - (n1 + 2 * n2 + n3)) / 8.0 AS dzdy
           |  FROM nb WHERE cnt = 9),
           |sl AS (SELECT x, y, degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy))) AS sdeg FROM dd)
           |SELECT sl.x, sl.y,
           |  ${uqSql("ln((coalesce(a.cnt, 0) + 1) / greatest(tan(radians(sl.sdeg)), 0.001))")} AS twi_u
           |FROM sl LEFT JOIN a ON a.cur = sl.y * 256 + sl.x""".stripMargin),

      // the SAME walk kept only at its terminal (a pit has no
      // out-edge): basin label = terminal pit id; pits label themselves
      "q_watershed" -> flowDirSql(
        s"""${d8EdgeCte.replace("e AS (", "e AS MATERIALIZED (")},
           |p AS (SELECT src AS start, dst AS cur FROM e
           |  UNION ALL SELECT p.start, e.dst FROM p JOIN e ON e.src = p.cur),
           |t AS (SELECT start, cur AS basin FROM p
           |      WHERE cur NOT IN (SELECT src FROM e))
           |SELECT f.x, f.y, CAST(coalesce(t.basin, f.y * 256 + f.x) AS BIGINT) AS basin
           |FROM fdir f LEFT JOIN t ON t.start = f.y * 256 + f.x""".stripMargin),

      // Strahler fixpoint, 12 unrolled rounds (covers the sf0.01
      // drainage depth with margin; see streamOrderSql)
      "q_stream_order" -> streamOrderSql(12),

      "q_histogram" ->
        s"""WITH g AS ($grid), mm AS (SELECT min(v) AS mn, max(v) AS mx FROM g)
           |SELECT CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin, count(*) AS cnt
           |FROM g, mm GROUP BY 1""".stripMargin,

      // CDF remap, all-integer: cum/cmin/n from exact counts, floor
      // division; constant grid maps to 0 (stated in the CASE)
      "q_equalize" ->
        s"""WITH g AS ($grid),
           |c AS (SELECT v, count(*) AS cnt FROM g GROUP BY 1),
           |cu AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c),
           |p AS (SELECT (SELECT sum(cnt) FROM c) AS n, (SELECT min(cum) FROM cu) AS cmin),
           |m AS (SELECT v, CASE WHEN p.n > p.cmin
           |        THEN (cu.cum - p.cmin) * 255 // (p.n - p.cmin) ELSE 0 END AS nv
           |      FROM cu, p)
           |SELECT g.x, g.y, CAST(m.nv AS DOUBLE) AS v FROM g JOIN m USING (v)""".stripMargin,

      // histogram matching: out(v) = min target t with
      // cumT(t) * Ns >= cumS(v) * Nt — pure integer cross-multiply
      "q_hist_match" ->
        s"""WITH g AS ($grid),
           |s0 AS (SELECT v, count(*) AS c FROM g GROUP BY 1),
           |sc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM s0),
           |sn AS (SELECT sum(c) AS n FROM s0),
           |t0 AS (SELECT v, count(*) AS c FROM ($ogrid) GROUP BY 1),
           |tc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM t0),
           |tn AS (SELECT sum(c) AS n FROM t0),
           |mp AS (SELECT sc.v AS v, min(tc.v) AS mv
           |  FROM sc, sn, tc, tn WHERE tc.cum * sn.n >= sc.cum * tn.n GROUP BY 1)
           |SELECT g.x, g.y, mp.mv AS v FROM g JOIN mp USING (v)""".stripMargin,

      "q_histogram_merge" ->
        s"""WITH g AS (SELECT v FROM ($grid) UNION ALL SELECT v FROM ($ogrid)),
           |mm AS (SELECT min(v) AS mn, max(v) AS mx FROM g)
           |SELECT CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin, count(*) AS cnt
           |FROM g, mm GROUP BY 1""".stripMargin,

      "q_min_max" ->
        s"SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS vcount, sum(v) / count(*) AS vmean FROM ($grid)",

      "q_quantile_breaks" ->
        s"""SELECT ${uqSql("quantile_cont(v, 0.25)")} AS q0_u, ${uqSql("quantile_cont(v, 0.5)")} AS q1_u,
           |       ${uqSql("quantile_cont(v, 0.75)")} AS q2_u FROM ($grid)""".stripMargin,

      "q_quantile_breaks_int" ->
        s"""WITH c AS (SELECT CAST(v AS BIGINT) AS v, count(*) AS cnt FROM ($grid) GROUP BY 1),
           |w AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
           |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
           |SELECT min(CASE WHEN cum >= 0.25 * total THEN v END) AS q0,
           |       min(CASE WHEN cum >= 0.5 * total THEN v END) AS q1,
           |       min(CASE WHEN cum >= 0.75 * total THEN v END) AS q2
           |FROM w, n""".stripMargin,

      // the forced sample fallback: identical rank machinery over the
      // portable md5 cell-hash sample (137 permille)
      "q_quantile_degrade" ->
        s"""WITH s AS (SELECT v FROM ($grid)
           |  WHERE ('0x' || substr(md5(CAST(x AS VARCHAR) || ',' || CAST(y AS VARCHAR)), 1, 15))::BIGINT % 1000 < 137),
           |c AS (SELECT CAST(v AS BIGINT) AS v, count(*) AS cnt FROM s GROUP BY 1),
           |w AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
           |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
           |SELECT min(CASE WHEN cum >= 0.25 * total THEN v END) AS q0,
           |       min(CASE WHEN cum >= 0.5 * total THEN v END) AS q1,
           |       min(CASE WHEN cum >= 0.75 * total THEN v END) AS q2
           |FROM w, n""".stripMargin,

      // the forced 64-bucket quantized equalize: binCounts' proven
      // bucket formula feeding the same all-integer CDF remap
      "q_equalize_degrade" ->
        s"""WITH g AS ($grid),
           |mm AS (SELECT min(v) AS mn, max(v) AS mx FROM g),
           |b AS (SELECT x, y, least(floor((v - mn) / ((mx - mn) / 64)), 63) AS k FROM g, mm),
           |c AS (SELECT k, count(*) AS cnt FROM b GROUP BY 1),
           |cu AS (SELECT k, sum(cnt) OVER (ORDER BY k) AS cum FROM c),
           |p AS (SELECT (SELECT sum(cnt) FROM c) AS n, (SELECT min(cum) FROM cu) AS cmin),
           |m AS (SELECT k, CASE WHEN p.n > p.cmin
           |        THEN (cu.cum - p.cmin) * 255 // (p.n - p.cmin) ELSE 0 END AS nv
           |      FROM cu, p)
           |SELECT b.x, b.y, CAST(m.nv AS DOUBLE) AS v FROM b JOIN m USING (k)""".stripMargin,

      // the forced bucket histogram match: bucket CDFs on both sides,
      // smallest member value as each target bucket's representative
      "q_hist_match_degrade" ->
        s"""WITH g AS ($grid),
           |smm AS (SELECT min(v) AS mn, max(v) AS mx FROM g),
           |sb AS (SELECT x, y, least(floor((v - mn) / ((mx - mn) / 64)), 63) AS k FROM g, smm),
           |s0 AS (SELECT k, count(*) AS c FROM sb GROUP BY 1),
           |sc AS (SELECT k, sum(c) OVER (ORDER BY k) AS cum FROM s0),
           |sn AS (SELECT sum(c) AS n FROM s0),
           |og AS ($ogrid),
           |tmm AS (SELECT min(v) AS mn, max(v) AS mx FROM og),
           |tb AS (SELECT least(floor((v - mn) / ((mx - mn) / 64)), 63) AS k, v FROM og, tmm),
           |t0 AS (SELECT k, count(*) AS c, min(v) AS rep FROM tb GROUP BY 1),
           |tc AS (SELECT k, rep, sum(c) OVER (ORDER BY k) AS cum FROM t0),
           |tn AS (SELECT sum(c) AS n FROM t0),
           |mp AS (SELECT sc.k AS k, min(tc.rep) AS mv
           |  FROM sc, sn, tc, tn WHERE tc.cum * sn.n >= sc.cum * tn.n GROUP BY 1)
           |SELECT sb.x, sb.y, mp.mv AS v FROM sb JOIN mp USING (k)""".stripMargin,

      "q_histogram_cdf" ->
        s"""WITH g AS ($grid), mm AS (SELECT min(v) AS mn, max(v) AS mx FROM g),
           |c AS (SELECT CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin, count(*) AS cnt
           |      FROM g, mm GROUP BY 1)
           |SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           |       / (SELECT CAST(sum(cnt) AS DOUBLE) FROM c) AS cdf FROM c""".stripMargin,

      "q_resample_bilinear" ->
        s"""WITH g AS ($grid), t AS (
           |  SELECT t1.range AS i, t2.range AS j,
           |         (t1.range + 0.5) * 256 / 200 - 0.5 AS sx,
           |         (t2.range + 0.5) * 256 / 200 - 0.5 AS sy
           |  FROM range(0, 200) t1, range(0, 200) t2),
           |k AS (SELECT i, j, CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
           |             sx - CAST(floor(sx) AS BIGINT) AS fx, sy - CAST(floor(sy) AS BIGINT) AS fy FROM t)
           |SELECT k.i AS x, k.j AS y,
           |  ${uqSql("""a.v * (1.0 - fx) * (1.0 - fy) + b.v * fx * (1.0 - fy)
           |      + c.v * (1.0 - fx) * fy + d.v * fx * fy""")} AS v_u
           |FROM k JOIN g a ON a.x = k.x0 AND a.y = k.y0
           |       JOIN g b ON b.x = k.x0 + 1 AND b.y = k.y0
           |       JOIN g c ON c.x = k.x0 AND c.y = k.y0 + 1
           |       JOIN g d ON d.x = k.x0 + 1 AND d.y = k.y0 + 1""".stripMargin,

      "q_resample_cubic" -> {
        // weight formulas stated with the same operation order as
        // Kernel.CubicConvolution.weight; per-tap distance branches are
        // static (fx in [0,1) pins each tap's |d| range)
        def win(e: String)  = s"(1.5*$e*$e*$e - 2.5*$e*$e + 1)"
        def wout(e: String) = s"(-0.5*$e*$e*$e + 2.5*$e*$e - 4*$e + 2)"
        def wcase(d: String, f: String) =
          s"(CASE $d WHEN -1 THEN ${wout(s"(1 + $f)")} WHEN 0 THEN ${win(s"($f)")} " +
          s"WHEN 1 THEN ${win(s"(1 - $f)")} ELSE ${wout(s"(2 - $f)")} END)"
        val offs = (for { dy <- -1 to 2; dx <- -1 to 2 } yield s"($dx, $dy)").mkString(", ")
        s"""WITH g AS ($grid), t AS (
           |  SELECT t1.range AS i, t2.range AS j,
           |         (t1.range + 0.5) * $G / 200 - 0.5 AS sx,
           |         (t2.range + 0.5) * $G / 200 - 0.5 AS sy
           |  FROM range(0, 200) t1, range(0, 200) t2),
           |k AS (SELECT i, j, CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
           |             sx - floor(sx) AS fx, sy - floor(sy) AS fy FROM t),
           |o(dx, dy) AS (VALUES $offs),
           |w AS (SELECT k.i, k.j, o.dx, o.dy, k.x0 + o.dx AS gx, k.y0 + o.dy AS gy,
           |        ${wcase("o.dx", "fx")} * ${wcase("o.dy", "fy")} AS wt
           |      FROM k JOIN o ON true),
           |s AS (SELECT w.i AS x, w.j AS y,
           |        list_reduce(list(wt * g.v ORDER BY w.dy, w.dx), (a, b) -> a + b) AS num,
           |        list_reduce(list(wt ORDER BY w.dy, w.dx), (a, b) -> a + b) AS den,
           |        count(*) AS n
           |      FROM w JOIN g ON g.x = w.gx AND g.y = w.gy
           |      GROUP BY 1, 2)
           |SELECT x, y, CAST(round(num / den * 100000.0) AS BIGINT) AS v_u
           |FROM s WHERE n = 16""".stripMargin
      },

      "q_resample_average" ->
        s"""WITH m AS (SELECT CAST(floor((x + 0.5) * 64 / $G) AS BIGINT) AS x,
           |                  CAST(floor((y + 0.5) * 64 / $G) AS BIGINT) AS y, v FROM ($grid))
           |SELECT x, y, sum(v) / count(*) AS v FROM m GROUP BY 1, 2""".stripMargin,

      "q_resample_sum" ->
        s"""WITH m AS (SELECT CAST(floor((x + 0.5) * 64 / $G) AS BIGINT) AS x,
           |                  CAST(floor((y + 0.5) * 64 / $G) AS BIGINT) AS y, v FROM ($grid))
           |SELECT x, y, sum(v) AS v FROM m GROUP BY 1, 2""".stripMargin,

      "q_resample_mode" ->
        s"""WITH m AS (SELECT CAST(floor((x + 0.5) * 64 / $G) AS BIGINT) AS x,
           |                  CAST(floor((y + 0.5) * 64 / $G) AS BIGINT) AS y, v FROM ($grid)),
           |c AS (SELECT x, y, v, count(*) AS cnt FROM m GROUP BY 1, 2, 3)
           |SELECT x, y, v FROM (
           |  SELECT x, y, v, row_number() OVER (PARTITION BY x, y ORDER BY cnt DESC, v ASC) AS rn
           |  FROM c) WHERE rn = 1""".stripMargin,

      "q_resample_max" ->
        s"""WITH m AS (SELECT CAST(floor((x + 0.5) * 64 / $G) AS BIGINT) AS x,
           |                  CAST(floor((y + 0.5) * 64 / $G) AS BIGINT) AS y, v FROM ($grid))
           |SELECT x, y, max(v) AS v FROM m GROUP BY 1, 2""".stripMargin,

      "q_resample_median" ->
        s"""WITH m AS (SELECT CAST(floor((x + 0.5) * 64 / $G) AS BIGINT) AS x,
           |                  CAST(floor((y + 0.5) * 64 / $G) AS BIGINT) AS y, v FROM ($grid))
           |SELECT x, y, ${uqSql("median(v)")} AS v_u FROM m GROUP BY 1, 2""".stripMargin,

      "q_pyramid" ->
        s"SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2",

      "q_pyramid_time" ->
        s"SELECT x // 2 AS x, y // 2 AS y, instant, avg(v) AS v FROM ($tgrid) GROUP BY 1, 2, 3",

      // least-squares slope from the five exact integer moments; cells
      // with < 2 instants or zero time variance drop (engine NoData)
      "q_cell_trend" ->
        s"""WITH t AS ($tgrid),
           |a AS (SELECT x, y, count(*) AS n, sum(instant) AS st,
           |        sum(instant * instant) AS st2, sum(v) AS sv, sum(instant * v) AS stv
           |      FROM t GROUP BY 1, 2)
           |SELECT x, y, (n * stv - st * sv) / (n * st2 - st * st) AS slope
           |FROM a WHERE n >= 2 AND n * st2 - st * st <> 0""".stripMargin,

      // Mann-Kendall S (exact integer sign sum) + Sen's slope (median
      // of pairwise slopes; 1 or 3 pairs per cell here -> odd counts,
      // the median SELECTS an element — no midpoint averaging to
      // diverge); cells with < 2 instants have no pair rows and drop
      "q_mann_kendall" ->
        s"""WITH t AS ($tgrid),
           |p AS (SELECT a.x AS x, a.y AS y, CAST(sign(b.v - a.v) AS BIGINT) AS sg,
           |        (b.v - a.v) / CAST(b.instant - a.instant AS DOUBLE) AS slope
           |      FROM t a JOIN t b ON a.x = b.x AND a.y = b.y AND b.instant > a.instant),
           |agg AS (SELECT x, y, CAST(sum(sg) AS BIGINT) AS s, median(slope) AS sen
           |        FROM p GROUP BY 1, 2),
           |c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2)
           |SELECT c.x, c.y, c.n, agg.s, agg.sen
           |FROM c JOIN agg ON agg.x = c.x AND agg.y = c.y""".stripMargin,

      // image differencing: consecutive-instant inner join (a cell
      // missing at either instant emits nothing, exactly the engine's
      // NaN-propagating zip_with over the tile join)
      "q_temporal_delta" ->
        s"""WITH t AS ($tgrid)
           |SELECT a.x, a.y, a.instant, a.v - b.v AS v
           |FROM t a JOIN t b ON b.x = a.x AND b.y = a.y AND b.instant = a.instant - 1""".stripMargin,

      // max composite + smallest instant achieving the max
      "q_temporal_argmax" ->
        s"""WITH t AS ($tgrid),
           |m AS (SELECT x, y, max(v) AS vmax FROM t GROUP BY 1, 2)
           |SELECT m.x, m.y, m.vmax, CAST(min(t.instant) AS BIGINT) AS tmax
           |FROM m JOIN t ON t.x = m.x AND t.y = m.y AND t.v = m.vmax
           |GROUP BY 1, 2, 3""".stripMargin,

      // harmonic sums: the SAME micro-quantized weights the engine's
      // aggregator computes (driver-side rint(cos|sin(2pi*t/3)*1e6)),
      // restated as a CASE over the 3 instants; integral v keeps the
      // weighted sums exact
      "q_harmonic" -> {
        def qw(f: Double => Double)(t: Int): Long =
          math.rint(f(2 * math.Pi * t / 3.0) * 1e6).toLong
        val qcCase = s"CASE instant WHEN 0 THEN ${qw(math.cos)(0)} WHEN 1 THEN ${qw(math.cos)(1)} ELSE ${qw(math.cos)(2)} END"
        val qsCase = s"CASE instant WHEN 0 THEN ${qw(math.sin)(0)} WHEN 1 THEN ${qw(math.sin)(1)} ELSE ${qw(math.sin)(2)} END"
        s"""WITH t AS ($tgrid)
           |SELECT x, y, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum($qcCase * v) AS BIGINT) AS sc,
           |  CAST(sum($qsCase * v) AS BIGINT) AS ss
           |FROM t GROUP BY 1, 2""".stripMargin
      },

      "q_pyramid_hist" ->
        s"""WITH p AS (SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2),
           |mm AS (SELECT min(v) AS mn, max(v) AS mx FROM p)
           |SELECT CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin, count(*) AS cnt
           |FROM p, mm GROUP BY 1""".stripMargin,

      "q_pyramid_arith" ->
        s"""SELECT x, y, (v + 10) * 2 AS v
           |FROM (SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2)""".stripMargin,

      "q_stitch" -> s"SELECT x, y, v FROM ($grid)",

      "q_reproject" ->
        s"""SELECT pid, ${uqSql("radians(lon) * 6378137.0", "10000.0")} AS mx_u,
           |       ${uqSql("ln(tan(pi() / 4 + radians(lat) / 2)) * 6378137.0", "10000.0")} AS my_u
           |FROM ($lonlat)""".stripMargin,

      "q_reproject_polar" -> {
        val ps = graft.core.CRS.fromName("EPSG:3413")
          .asInstanceOf[graft.core.CRS.PolarStereographic]
        val (steps, eE, nE) = ps.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"p${i + 1} AS (SELECT *, $f AS $name FROM p$i)"
        }
        (s"WITH p0 AS (SELECT * FROM ($lonlat) WHERE lat >= 60), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_ps_u, ${uqSql(nE, "10000.0")} AS n_ps_u FROM p${steps.size}")
      },

      "q_reproject_utm" -> {
        // same formula text as the Spark query, chained through CTEs
        val (steps, eE, nE) = graft.core.CRS.TransverseMercator.forwardSqlSteps(33, south = false)
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"c${i + 1} AS (SELECT *, $f AS $name FROM c$i)"
        }
        (s"WITH c0 AS (SELECT * FROM ($lonlat) WHERE lon >= 0 AND lon <= 30), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_utm_u, ${uqSql(nE, "10000.0")} AS n_utm_u FROM c${steps.size}")
      },

      // identity-CRS bilinear warp: the engine computes
      // gy = (256 - (256 - (ty+0.5)*dch)) / 1 — restate the SAME
      // double chain (the two 256-subtractions are NOT algebraically
      // droppable in floats); dcw = 256/200 and the literal 1.28 are
      // the same double
      "q_warp_bilinear" ->
        s"""WITH g AS ($grid), t AS (
           |  SELECT t1.range AS tx, t2.range AS ty,
           |         (0 + (t1.range + 0.5) * 1.28 - 0) / 1.0 AS gx,
           |         (256 - (256 - (t2.range + 0.5) * 1.28)) / 1.0 AS gy
           |  FROM range(0, 200) t1, range(0, 200) t2),
           |b AS (SELECT tx, ty,
           |        CAST(floor(gx - 0.5) AS BIGINT) AS x0, CAST(floor(gy - 0.5) AS BIGINT) AS y0,
           |        gx - 0.5 - floor(gx - 0.5) AS fx, gy - 0.5 - floor(gy - 0.5) AS fy
           |      FROM t)
           |SELECT b.tx AS x, b.ty AS y,
           |  ${uqSql("""(1 - fx) * (1 - fy) * g00.v + fx * (1 - fy) * g10.v
           |      + (1 - fx) * fy * g01.v + fx * fy * g11.v""")} AS v_u
           |FROM b JOIN g g00 ON g00.x = b.x0 AND g00.y = b.y0
           |       JOIN g g10 ON g10.x = b.x0 + 1 AND g10.y = b.y0
           |       JOIN g g01 ON g01.x = b.x0 AND g01.y = b.y0 + 1
           |       JOIN g g11 ON g11.x = b.x0 + 1 AND g11.y = b.y0 + 1""".stripMargin,

      "q_reproject_osgb" -> {
        // same one-text contract as q_reproject_utm, with the datum
        // leg's fixed point unrolled inside the shared steps
        val (steps, eE, nE) = graft.core.CRS.Osgb36.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"o${i + 1} AS (SELECT *, $f AS $name FROM o$i)"
        }
        (s"WITH o0 AS (SELECT * FROM ($lonlat) WHERE lon >= -20 AND lon <= 16 AND lat >= 35 AND lat <= 75), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_osgb_u, ${uqSql(nE, "10000.0")} AS n_osgb_u FROM o${steps.size}")
      },

      "q_reproject_albers" -> {
        val aea = graft.core.CRS.fromName("EPSG:5070")
          .asInstanceOf[graft.core.CRS.AlbersEqualArea]
        val (steps, eE, nE) = aea.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"a${i + 1} AS (SELECT *, $f AS $name FROM a$i)"
        }
        (s"WITH a0 AS (SELECT * FROM ($lonlat) WHERE lon >= -130 AND lon <= -60 AND lat >= 20 AND lat <= 55), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_aea_u, ${uqSql(nE, "10000.0")} AS n_aea_u FROM a${steps.size}")
      },

      "q_reproject_lambert93" -> {
        val l93 = graft.core.CRS.fromName("EPSG:2154")
          .asInstanceOf[graft.core.CRS.LambertConformalConic]
        val (steps, eE, nE) = l93.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"l${i + 1} AS (SELECT *, $f AS $name FROM l$i)"
        }
        (s"WITH l0 AS (SELECT * FROM ($lonlat) WHERE lon >= -10 AND lon <= 15 AND lat >= 38 AND lat <= 55), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_l93_u, ${uqSql(nE, "10000.0")} AS n_l93_u FROM l${steps.size}")
      },

      "q_reproject_nztm" -> {
        val nztm = graft.core.CRS.fromName("EPSG:2193")
          .asInstanceOf[graft.core.CRS.Tmerc]
        val (steps, eE, nE) = nztm.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"z${i + 1} AS (SELECT *, $f AS $name FROM z$i)"
        }
        (s"WITH z0 AS (SELECT * FROM ($lonlat) WHERE lon >= 165 AND lon <= 180 AND lat >= -48 AND lat <= -34), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_nztm_u, ${uqSql(nE, "10000.0")} AS n_nztm_u FROM z${steps.size}")
      },

      "q_reproject_laea" -> {
        val laea = graft.core.CRS.fromName("EPSG:3035")
          .asInstanceOf[graft.core.CRS.LambertAzimuthalEqualArea]
        val (steps, eE, nE) = laea.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"e${i + 1} AS (SELECT *, $f AS $name FROM e$i)"
        }
        (s"WITH e0 AS (SELECT * FROM ($lonlat) WHERE lon >= -15 AND lon <= 35 AND lat >= 30 AND lat <= 72), " +
          ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_laea_u, ${uqSql(nE, "10000.0")} AS n_laea_u FROM e${steps.size}")
      },

      "q_reproject_cea" -> {
        val cea = graft.core.CRS.fromName("EPSG:6933")
          .asInstanceOf[graft.core.CRS.CylindricalEqualArea]
        val (steps, eE, nE) = cea.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"c${i + 1} AS (SELECT *, $f AS $name FROM c$i)"
        }
        (s"WITH c0 AS (SELECT * FROM ($lonlat)), " + ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "10000.0")} AS e_cea_u, ${uqSql(nE, "10000.0")} AS n_cea_u FROM c${steps.size}")
      },

      "q_reproject_sinu" -> {
        val sinu = graft.core.CRS
          .fromName("+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +R=6371007.181")
          .asInstanceOf[graft.core.CRS.Sinusoidal]
        val (steps, eE, nE) = sinu.forwardSqlSteps
        val ctes = steps.zipWithIndex.map { case ((name, f), i) =>
          s"s${i + 1} AS (SELECT *, $f AS $name FROM s$i)"
        }
        (s"WITH s0 AS (SELECT * FROM ($lonlat)), " + ctes.mkString(", ") +
          s" SELECT pid, ${uqSql(eE, "1000.0")} AS e_sinu_u, ${uqSql(nE, "1000.0")} AS n_sinu_u FROM s${steps.size}")
      },

      "q_reproject_raster" -> {
        // embed the driver-side mercator constants verbatim so both
        // engines share bit-identical bounds (transcendental library
        // calls could differ in the last ulp)
        val n = 256; val d = 0.1
        val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(n * d)
        val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(n * d)
        val cw = (mxMax - mxMin) / n; val ch = (myMax - myMin) / n
        s"""WITH g AS ($grid), t AS (
           |  SELECT t1.range AS tx, t2.range AS ty,
           |         $mxMin + (t1.range + 0.5) * $cw AS mx,
           |         $myMax - (t2.range + 0.5) * $ch AS my
           |  FROM range(0, $n) t1, range(0, $n) t2)
           |SELECT tx AS x, ty AS y, v
           |FROM t JOIN g
           |  ON g.x = CAST(floor(degrees(mx / 6378137.0) / $d) AS BIGINT)
           | AND g.y = CAST(floor((${n * d} - degrees(atan(exp(my / 6378137.0)) * 2 - pi() / 2)) / $d) AS BIGINT)""".stripMargin
      },

      // exact integer overlap weights in 1/200-cell units: source x
      // feeds target tx iff the scaled spans intersect; sums of
      // integral doubles are exact, one division, round 5
      "q_resample_area" ->
        s"""WITH g AS ($grid),
           |p AS (SELECT x, y, v, unnest(range(200 * x // 256, (200 * (x + 1) - 1) // 256 + 1)) AS tx FROM g),
           |p2 AS (SELECT x, y, v, tx, unnest(range(200 * y // 256, (200 * (y + 1) - 1) // 256 + 1)) AS ty FROM p),
           |w AS (SELECT tx, ty, v,
           |        (least(CAST(200 * (x + 1) AS BIGINT), 256 * (tx + 1)) - greatest(CAST(200 * x AS BIGINT), 256 * tx)) AS wx,
           |        (least(CAST(200 * (y + 1) AS BIGINT), 256 * (ty + 1)) - greatest(CAST(200 * y AS BIGINT), 256 * ty)) AS wy
           |      FROM p2)
           |SELECT tx AS x, ty AS y,
           |  ${uqSql("sum(wx * wy * v) / CAST(sum(wx * wy) AS DOUBLE)")} AS v_u
           |FROM w GROUP BY 1, 2""".stripMargin,

      // bilinear warp: same inverse-projection chain as the NN oracle,
      // then the pointValuesBilinear corner/weight construction with a
      // pinned left-assoc term order; inner joins = all-4-corners rule
      "q_reproject_bilinear" -> {
        val n = 256; val d = 0.1; val dn = 200
        val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(n * d)
        val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(n * d)
        val cw = (mxMax - mxMin) / dn; val ch = (myMax - myMin) / dn
        s"""WITH g AS ($grid), t AS (
           |  SELECT t1.range AS tx, t2.range AS ty,
           |         $mxMin + (t1.range + 0.5) * $cw AS mx,
           |         $myMax - (t2.range + 0.5) * $ch AS my
           |  FROM range(0, $dn) t1, range(0, $dn) t2),
           |c AS (SELECT tx, ty,
           |        degrees(mx / 6378137.0) / $d AS gx,
           |        (${n * d} - degrees(atan(exp(my / 6378137.0)) * 2 - pi() / 2)) / $d AS gy
           |      FROM t),
           |b AS (SELECT tx, ty,
           |        CAST(floor(gx - 0.5) AS BIGINT) AS x0, CAST(floor(gy - 0.5) AS BIGINT) AS y0,
           |        gx - 0.5 - floor(gx - 0.5) AS fx, gy - 0.5 - floor(gy - 0.5) AS fy
           |      FROM c)
           |SELECT b.tx AS x, b.ty AS y,
           |  ${uqSql("""(1 - fx) * (1 - fy) * g00.v + fx * (1 - fy) * g10.v
           |      + (1 - fx) * fy * g01.v + fx * fy * g11.v""")} AS v_u
           |FROM b JOIN g g00 ON g00.x = b.x0 AND g00.y = b.y0
           |       JOIN g g10 ON g10.x = b.x0 + 1 AND g10.y = b.y0
           |       JOIN g g01 ON g01.x = b.x0 AND g01.y = b.y0 + 1
           |       JOIN g g11 ON g11.x = b.x0 + 1 AND g11.y = b.y0 + 1""".stripMargin
      },

      // 4x4-kernel warps: bilinear's inverse-projection chain, then
      // 16 taps with Horner weight forms and a pinned term order
      // IDENTICAL to the Scala kernel; 16 inner joins = full-window
      // rule. Shared builder; the kernels differ only in wNear/wFar.
      "q_reproject_cubic" -> warpCubic128Sql( // Keys 1981, a = -0.5
        t => s"((1.5 * $t - 2.5) * $t) * $t + 1.0",
        t => s"((-0.5 * $t + 2.5) * $t - 4.0) * $t + 2.0"),

      "q_reproject_bspline" -> warpCubic128Sql( // cubic B-spline
        t => s"((0.5 * $t - 1.0) * $t) * $t + 2.0 / 3.0",
        t => s"((-(1.0 / 6.0) * $t + 1.0) * $t - 2.0) * $t + 4.0 / 3.0"),

      // footprint edges: the SAME expression chain as the Scala
      // kernel's gxLo/gxHi/gyLo/gyHi; cell-center-in-half-open-box
      "q_reproject_average" ->
        s"""$warpFootprintSql
           |SELECT tx AS x, ty AS y, ${uqSql("sum(v) / count(v)")} AS v_u
           |FROM f GROUP BY 1, 2""".stripMargin,

      "q_reproject_mode" ->
        s"""$warpFootprintSql,
           |m AS (SELECT tx, ty, v, count(*) AS c FROM f GROUP BY 1, 2, 3)
           |SELECT tx AS x, ty AS y, v FROM m
           |QUALIFY row_number() OVER (PARTITION BY tx, ty ORDER BY c DESC, v ASC) = 1""".stripMargin,

      "q_reproject_median" ->
        s"""$warpFootprintSql
           |SELECT tx AS x, ty AS y, median(v) AS v
           |FROM f GROUP BY 1, 2""".stripMargin,

      "q_reproject_max" ->
        s"""$warpFootprintSql
           |SELECT tx AS x, ty AS y, max(v) AS v
           |FROM f GROUP BY 1, 2""".stripMargin,

      "q_zoom_keys" ->
        s"""SELECT pid,
           |  CAST(floor((lon + 180.0) / 360.0 * 1024.0) AS BIGINT) AS tx,
           |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 1024.0) AS BIGINT) AS ty
           |FROM ($lonlat)""".stripMargin,

      "q_zorder" -> {
        val terms = (0 until 8).flatMap { i =>
          Seq(s"(((CAST(floor(px) AS BIGINT) >> $i) & 1) * ${1L << (2 * i)})",
              s"(((CAST(floor(py) AS BIGINT) >> $i) & 1) * ${1L << (2 * i + 1)})")
        }.mkString(" + ")
        s"SELECT pid, $terms AS zindex FROM ($pts)"
      },

      // literal-restating oracles (q_tin precedent) for the boolean
      // ops: the pure-Scala twins run over the same sf-independent
      // fixtures at oracle-build time and pin the expected rows
      "q_poly_intersect" -> {
        val cxs = hexClip.exterior.map(_.x); val cys = hexClip.exterior.map(_.y)
        val rows = clipFixtures.flatMap { case (pid, xs, ys) =>
          val (ix, iy) = graft.vector.Clip.clipRingConvex(
            xs.toIndexedSeq, ys.toIndexedSeq, cxs, cys)
          if (ix.isEmpty) None
          else Some(s"(CAST($pid AS BIGINT), ${ix.length}, " +
            s"CAST(${u5(graft.vector.Clip.ringArea(ix, iy))} AS BIGINT))")
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, n, area_u)"
      },

      "q_poly_union" -> {
        val cxs = hexClip.exterior.map(_.x); val cys = hexClip.exterior.map(_.y)
        val areaB = graft.vector.Clip.ringArea(cxs, cys)
        val rows = clipFixtures.map { case (pid, xs, ys) =>
          val (ix, iy) = graft.vector.Clip.clipRingConvex(
            xs.toIndexedSeq, ys.toIndexedSeq, cxs, cys)
          val inter = if (ix.isEmpty) 0.0 else graft.vector.Clip.ringArea(ix, iy)
          val u = graft.vector.Clip.ringArea(xs.toIndexedSeq, ys.toIndexedSeq) + areaB - inter
          s"(CAST($pid AS BIGINT), CAST(${u5(u)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, area_union_u)"
      },

      // concave overlay (r16): literal-restating over the same
      // sf-independent star/cross fixtures — the pure-Scala signed
      // decomposition runs at oracle-build time (driver side, the
      // exact doubles the engine ships to executors)
      "q_poly_intersect_concave" -> {
        val rows = concaveFixtures.flatMap { case (pid, xs, ys) =>
          val p = graft.vector.Polygon(
            xs.zip(ys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          val ps = graft.vector.Overlay.intersectionPieces(p, crossClip)
          if (ps.isEmpty) None
          else {
            val a = ps.foldLeft(0.0)((s, pp) =>
              s + pp.sign * graft.vector.Clip.ringArea(pp.xs, pp.ys))
            Some(s"(CAST($pid AS BIGINT), ${ps.length}, CAST(${u5(a)} AS BIGINT))")
          }
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, n_pieces, area_u)"
      },

      "q_poly_union_concave" -> {
        val areaB = graft.vector.Overlay.area(crossClip)
        val rows = concaveFixtures.map { case (pid, xs, ys) =>
          val p = graft.vector.Polygon(
            xs.zip(ys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          val ps = graft.vector.Overlay.intersectionPieces(p, crossClip)
          val inter = ps.foldLeft(0.0)((s, pp) =>
            s + pp.sign * graft.vector.Clip.ringArea(pp.xs, pp.ys))
          val u = graft.vector.Overlay.area(p) + areaB - inter
          s"(CAST($pid AS BIGINT), CAST(${u5(u)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, area_union_u)"
      },

      "q_poly_difference_concave" -> {
        val areaB = graft.vector.Overlay.area(crossClip)
        val rows = concaveFixtures.map { case (pid, xs, ys) =>
          val p = graft.vector.Polygon(
            xs.zip(ys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          val ps = graft.vector.Overlay.intersectionPieces(p, crossClip)
          val inter = ps.foldLeft(0.0)((s, pp) =>
            s + pp.sign * graft.vector.Clip.ringArea(pp.xs, pp.ys))
          val aA = graft.vector.Overlay.area(p)
          s"(CAST($pid AS BIGINT), CAST(${u5(aA - inter)} AS BIGINT), " +
            s"CAST(${u5(aA + areaB - 2.0 * inter)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, area_diff_u, area_symdiff_u)"
      },

      // concave buffer: the oracle re-derives point-in-union per grid
      // cell with half-plane tests over the SAME convex pieces the
      // engine masks by (piece coords are literal-restated; the
      // per-cell containment math is computed by DuckDB — a dual
      // computation, not a pinned result). Strict > is safe:
      // OverlayOracleSpec proves every cell center clears every piece
      // edge by a wide margin.
      "q_buffer_concave" -> {
        val anyPiece = bufferConcavePieces.map(pieceInsideSql).mkString("(", "\n   OR ", ")")
        s"SELECT x, y, v FROM ($grid) WHERE $anyPiece"
      },

      // erosion: inside SOME interior triangle AND NOT inside any
      // boundary-corridor piece — the same dual, negated on the
      // corridor side (strict > both ways: the margin audit covers
      // both piece sets, so NOT(inside) is just as safe)
      "q_buffer_erode_concave" -> {
        val (keep, drop) = erodeConcavePieces
        val inP = keep.map(pieceInsideSql).mkString("(", "\n   OR ", ")")
        val inC = drop.map(pieceInsideSql).mkString("(", "\n   OR ", ")")
        s"SELECT x, y, v FROM ($grid) WHERE $inP AND NOT $inC"
      },

      // line buffer: the same grid-containment dual over the polyline
      // pieces (slabs + outer-turn fans + round caps)
      "q_buffer_line" -> {
        val anyPiece = bufferLinePieces.map(pieceInsideSql).mkString("(", "\n   OR ", ")")
        s"SELECT x, y, v FROM ($grid) WHERE $anyPiece"
      },

      // dissolve: literal-restating over the grouped fixtures — the
      // pure-Scala n-ary union algebra runs at oracle-build time in
      // the SAME ascending-pid fold order the engine pins
      "q_dissolve" -> {
        val rows = dissolveFixtures.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (key, members) =>
            val polys = members.sortBy(_._2).map { case (_, _, xs, ys) =>
              graft.vector.Polygon(
                xs.zip(ys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
            }
            val ps = graft.vector.Overlay.unionAll(polys)
            val a = graft.vector.Overlay.pieceSetArea(ps)
            s"(CAST($key AS BIGINT), ${members.length}, ${ps.length}, " +
              s"CAST(${u5(a)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(key, n_polys, n_pieces, area_u)"
      },

      // knn-within-radius: exact integer d2 (the +0.5 center offsets
      // cancel), rank over (d2, rid) — the engine's tie-break
      "q_knn_join" ->
        s"""WITH q AS ($customerPointsSql), r AS ($pts),
           |p AS (SELECT q.qid, r.pid AS rid,
           |        (q.qx - r.px) * (q.qx - r.px) + (q.qy - r.py) * (q.qy - r.py) AS d2
           |      FROM q, r),
           |f AS (SELECT qid, rid, d2,
           |        row_number() OVER (PARTITION BY qid ORDER BY d2, rid) AS rnk
           |      FROM p WHERE d2 <= 576.0)
           |SELECT qid, CAST(rnk AS BIGINT) AS rnk, rid, d2 FROM f WHERE rnk <= 3""".stripMargin,

      // exact unbounded kNN: the same rank with NO radius filter —
      // the expanding-radius engine must converge to this
      "q_knn_exact" ->
        s"""WITH q AS ($customerPointsSql), r AS ($pts),
           |p AS (SELECT q.qid, r.pid AS rid,
           |        (q.qx - r.px) * (q.qx - r.px) + (q.qy - r.py) * (q.qy - r.py) AS d2
           |      FROM q, r),
           |f AS (SELECT qid, rid, d2,
           |        row_number() OVER (PARTITION BY qid ORDER BY d2, rid) AS rnk
           |      FROM p)
           |SELECT qid, CAST(rnk AS BIGINT) AS rnk, rid, d2 FROM f WHERE rnk <= 3""".stripMargin,

      // overlay join: the pure-Scala pair twin runs at oracle-build
      // time over the same sf-independent star x diamond fixtures
      "q_overlay_join" -> {
        val rows = for {
          (aid, axs, ays) <- concaveFixtures
          (bid, bxs, bys) <- clipFixtures
          a = graft.vector.Polygon(
            axs.zip(ays).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          b = graft.vector.Polygon(
            bxs.zip(bys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          ps = graft.vector.Overlay.intersectionPieces(a, b)
          if ps.nonEmpty
        } yield {
          val area = graft.vector.Overlay.pieceSetArea(ps)
          s"(CAST($aid AS BIGINT), CAST($bid AS BIGINT), ${ps.length}, " +
            s"CAST(${u5(area)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(aid, bid, n_pieces, area_u)"
      },

      // polyline clip: the Liang-Barsky driver twin restates per-pid
      // surviving-segment counts and clipped lengths
      "q_clip_lines" -> {
        val rows = lineFixtures.flatMap { case (pid, xs, ys) =>
          var n = 0
          var len = 0.0
          (0 until xs.length - 1).foreach { i =>
            graft.vector.Clip.clipSegment(xs(i), ys(i), xs(i + 1), ys(i + 1),
                64, 64, 192, 192).foreach { case (t0, t1) =>
              n += 1
              len += (t1 - t0) * math.hypot(xs(i + 1) - xs(i), ys(i + 1) - ys(i))
            }
          }
          if (n == 0) None
          else Some(s"(CAST($pid AS BIGINT), $n, CAST(${u5(len)} AS BIGINT))")
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, n_segs, length_u)"
      },

      // the mixture rates CTE reused, then the stratified keep scan
      "q_mixture_sample" ->
        s"""WITH t AS (SELECT source,
           |  CAST(sum(${pipeline.Bpe.countSql("text")}) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |m AS (SELECT max(n_tokens) AS mx FROM t),
           |r AS (SELECT source,
           |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / mx) * 1000) AS BIGINT) AS permille
           |  FROM t, m)
           |SELECT d.doc_id, d.source FROM documents d JOIN r ON r.source = d.source
           |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < r.permille""".stripMargin,

      // dbscan: exact-integer eps pairs, recursive-CTE components
      // over the core graph (the dedup-components oracle pattern),
      // min-cluster border assignment; core counts the point ITSELF
      // (Ester/sklearn min_samples), so self-excluded pairs compare
      // against minPts − 1 = 2
      "q_dbscan" ->
        s"""WITH RECURSIVE p AS ($pts),
           |pr AS (SELECT a.pid AS qid, b.pid AS rid FROM p a JOIN p b
           |       ON a.pid <> b.pid
           |       AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 400.0),
           |core AS (SELECT qid AS pid FROM pr GROUP BY 1 HAVING count(*) >= 2),
           |sym AS (SELECT pr.qid AS u, pr.rid AS v FROM pr
           |        JOIN core c1 ON c1.pid = pr.qid JOIN core c2 ON c2.pid = pr.rid),
           |reach(u, v) AS (
           |  SELECT u, v FROM sym
           |  UNION
           |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
           |comp AS (SELECT u AS pid, least(min(v), u) AS cluster FROM reach GROUP BY u),
           |corec AS (SELECT c.pid, coalesce(comp.cluster, c.pid) AS cluster
           |          FROM core c LEFT JOIN comp USING (pid)),
           |borderc AS (SELECT pr.qid AS pid, min(cc.cluster) AS cluster
           |            FROM pr JOIN corec cc ON cc.pid = pr.rid
           |            WHERE pr.qid NOT IN (SELECT pid FROM core) GROUP BY 1)
           |SELECT pid, 'core' AS kind, cluster FROM corec
           |UNION ALL SELECT pid, 'border', cluster FROM borderc
           |UNION ALL SELECT p.pid, 'noise', CAST(-1 AS BIGINT) FROM p
           |  WHERE p.pid NOT IN (SELECT pid FROM corec)
           |    AND p.pid NOT IN (SELECT pid FROM borderc)""".stripMargin,

      // curation funnel: the gopher + quality + dedup stage sets
      // restated as nested CTEs, exact integer stage counts
      "q_pipeline_report" -> {
        val stopSum = pipeline.TextAnalysis.GopherStops
          .map(w => s"(CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH g AS (SELECT doc_id FROM (SELECT doc_id,
           |    CAST(len(w) AS BIGINT) AS n_words,
           |    CAST(length(array_to_string(w, '')) AS BIGINT) AS tot_len,
           |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
           |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
           |    CAST($stopSum AS BIGINT) AS stop_types
           |    FROM (SELECT doc_id, text, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w FROM documents))
           |  WHERE n_words >= 50 AND n_words <= 100000
           |    AND CAST(tot_len AS DOUBLE) / n_words >= 3.0
           |    AND CAST(tot_len AS DOUBLE) / n_words <= 10.0
           |    AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
           |    AND CAST(alpha_words AS DOUBLE) / n_words >= 0.8
           |    AND stop_types >= 1),
           |q AS (SELECT doc_id FROM (
           |    SELECT doc_id, n_chars,
           |      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
           |      CAST(round((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS punct_ratio_u,
           |      CAST(round((CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|to|in|and|is|was|for|on|with)\\b')) AS DOUBLE)
           |            / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS stop_ratio_u
           |    FROM documents)
           |  WHERE n_chars >= 100 AND n_chars <= 20000 AND n_tokens >= 10
           |    AND punct_ratio_u <= 100000 AND stop_ratio_u >= 10000),
           |s1 AS (SELECT d.doc_id, d.text, d.n_chars FROM documents d JOIN g USING (doc_id)),
           |s2 AS (SELECT s1.* FROM s1 JOIN q USING (doc_id)),
           |k AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
           |s3 AS (SELECT s2.doc_id, s2.n_chars FROM s2 JOIN k USING (doc_id))
           |SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
           |  coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS n_chars FROM documents
           |UNION ALL SELECT 1, 'gopher', count(*), coalesce(CAST(sum(n_chars) AS BIGINT), 0) FROM s1
           |UNION ALL SELECT 2, 'quality', count(*), coalesce(CAST(sum(n_chars) AS BIGINT), 0) FROM s2
           |UNION ALL SELECT 3, 'dedup', count(*), coalesce(CAST(sum(n_chars) AS BIGINT), 0) FROM s3""".stripMargin
      },

      // areal interpolation: the per-pair quantized contributions
      // restated by the driver twin, exact integer group sums
      "q_areal" -> {
        import graft.vector.{Overlay, Polygon, Pt}
        def poly(xs: Seq[Double], ys: Seq[Double]) =
          Polygon(xs.zip(ys).map { case (x, y) => Pt(x, y) }.toIndexedSeq)
        val contribs = for {
          (_, pid, sxs, sys) <- dissolveFixtures
          (bid, txs, tys) <- clipFixtures
          s = poly(sxs, sys)
          ps = Overlay.intersectionPieces(s, poly(txs, tys))
          if ps.nonEmpty
        } yield (bid, math.rint((pid * 7 % 23 + 1).toDouble *
            (Overlay.pieceSetArea(ps) / Overlay.area(s)) * 1e6).toLong)
        val rows = contribs.groupBy(_._1).toSeq.sortBy(_._1).map { case (tid, cs) =>
          s"(CAST($tid AS BIGINT), CAST(${cs.length} AS BIGINT), " +
            s"CAST(${cs.map(_._2).sum} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(tid, n_sources, est_u)"
      },

      // near join: polygon edges restated as VALUES (shortest
      // round-trip double literals); DuckDB recomputes ray-cast
      // containment + clamped-projection segment distances over the
      // SAME IEEE chain — a dual computation, not a pinned result
      "q_near_join" -> {
        // engine iterates i with j = previous vertex: pairs (cur, prev)
        val segRows = concaveFixtures.flatMap { case (gid, xs, ys) =>
          val n = xs.length
          (0 until n).map { i =>
            val j = (i + n - 1) % n
            s"(CAST($gid AS BIGINT), CAST(${xs(i)} AS DOUBLE), CAST(${ys(i)} AS DOUBLE), " +
              s"CAST(${xs(j)} AS DOUBLE), CAST(${ys(j)} AS DOUBLE))"
          }
        }
        s"""WITH p AS ($pts),
           |e(gid, cx, cy, qx, qy) AS (VALUES ${segRows.mkString(", ")}),
           |crossings AS (SELECT p.pid, e.gid,
           |    sum(CASE WHEN (e.cy > p.py) <> (e.qy > p.py)
           |             AND p.px < (e.qx - e.cx) * (p.py - e.cy) / (e.qy - e.cy) + e.cx
           |        THEN 1 ELSE 0 END) AS k
           |  FROM p, e GROUP BY 1, 2),
           |dd AS (SELECT p.pid, e.gid,
           |    min((p.px - (e.cx + greatest(0.0, least(1.0,
           |          ((p.px - e.cx) * (e.qx - e.cx) + (p.py - e.cy) * (e.qy - e.cy))
           |          / ((e.qx - e.cx) * (e.qx - e.cx) + (e.qy - e.cy) * (e.qy - e.cy))))
           |        * (e.qx - e.cx)))
           |      * (p.px - (e.cx + greatest(0.0, least(1.0,
           |          ((p.px - e.cx) * (e.qx - e.cx) + (p.py - e.cy) * (e.qy - e.cy))
           |          / ((e.qx - e.cx) * (e.qx - e.cx) + (e.qy - e.cy) * (e.qy - e.cy))))
           |        * (e.qx - e.cx)))
           |      + (p.py - (e.cy + greatest(0.0, least(1.0,
           |          ((p.px - e.cx) * (e.qx - e.cx) + (p.py - e.cy) * (e.qy - e.cy))
           |          / ((e.qx - e.cx) * (e.qx - e.cx) + (e.qy - e.cy) * (e.qy - e.cy))))
           |        * (e.qy - e.cy)))
           |      * (p.py - (e.cy + greatest(0.0, least(1.0,
           |          ((p.px - e.cx) * (e.qx - e.cx) + (p.py - e.cy) * (e.qy - e.cy))
           |          / ((e.qx - e.cx) * (e.qx - e.cx) + (e.qy - e.cy) * (e.qy - e.cy))))
           |        * (e.qy - e.cy)))) AS mindd
           |  FROM p, e GROUP BY 1, 2),
           |d AS (SELECT dd.pid, dd.gid,
           |    CASE WHEN c.k % 2 = 1 THEN 0.0 ELSE sqrt(dd.mindd) END AS dist
           |  FROM dd JOIN crossings c ON c.pid = dd.pid AND c.gid = dd.gid),
           |f AS (SELECT pid, gid, CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT) AS dist_u,
           |    row_number() OVER (PARTITION BY pid ORDER BY
           |      CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT), gid) AS rn
           |  FROM d WHERE dist <= 20.0)
           |SELECT pid, gid, dist_u FROM f WHERE rn = 1""".stripMargin
      },

      // anomaly: v*n - sum(v) per cell-instant, exact integers
      "q_temporal_anomaly" ->
        s"""WITH t AS ($tgrid),
           |m AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(v) AS BIGINT) AS s
           |      FROM t GROUP BY 1, 2)
           |SELECT t.x, t.y, t.instant, m.n,
           |  CAST(t.v * m.n - m.s AS BIGINT) AS num
           |FROM t JOIN m ON m.x = t.x AND m.y = t.y""".stripMargin,

      // per-cell median over instants: quantile_cont .5 == the
      // engine's interpolate-two-middles rule (integral v -> exact)
      "q_temporal_median" ->
        s"""WITH t AS ($tgrid)
           |SELECT x, y,
           |  CAST(round(quantile_cont(v, 0.5) * 100000.0) AS BIGINT) AS v_u
           |FROM t GROUP BY 1, 2""".stripMargin,

      "q_temporal_percentile" ->
        s"""WITH t AS ($tgrid)
           |SELECT x, y,
           |  CAST(round(quantile_cont(v, 0.25) * 100000.0) AS BIGINT) AS v_u
           |FROM t GROUP BY 1, 2""".stripMargin,

      // erase: the n-ary cut-union driver twin at oracle-build time
      "q_erase" -> {
        import graft.vector.{Overlay, Polygon, Pt}
        def poly(xs: Seq[Double], ys: Seq[Double]) =
          Polygon(xs.zip(ys).map { case (x, y) => Pt(x, y) }.toIndexedSeq)
        val rows = concaveFixtures.map { case (aid, axs, ays) =>
          val a = poly(axs, ays)
          val cutters = clipFixtures
            .map { case (bid, bxs, bys) =>
              (bid, Overlay.intersectionPieces(a, poly(bxs, bys)))
            }
            .filter(_._2.nonEmpty)
            .sortBy(_._1)
          val cut = cutters.foldLeft(IndexedSeq.empty[Overlay.Piece]) { (acc, m) =>
            if (acc.isEmpty) m._2 else Overlay.pieceSetUnion(acc, m._2)
          }
          val left = Overlay.area(a) - Overlay.pieceSetArea(cut)
          s"(CAST($aid AS BIGINT), ${cutters.length}, CAST(${u5(left)} AS BIGINT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(aid, n_cutters, area_left_u)"
      },

      // line x polygon overlay: the signed-algebra driver twin runs
      // at oracle-build time over the same fixtures
      "q_line_overlay" -> {
        val rows = for {
          (lid, lxs, lys) <- lineFixtures
          (gid, pxs, pys) <- concaveFixtures
          line = lxs.zip(lys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq
          poly = graft.vector.Polygon(
            pxs.zip(pys).map { case (x, y) => graft.vector.Pt(x, y) }.toIndexedSeq)
          len = graft.vector.Overlay.lineLengthIn(line, graft.vector.Overlay.pieces(poly))
          if len > 1e-9
        } yield s"(CAST($lid AS BIGINT), CAST($gid AS BIGINT), CAST(${u5(len)} AS BIGINT))"
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(lid, gid, len_in_u)"
      },

      // literal-restating oracle (q_tin precedent): the pure-Scala
      // clip twin runs over the same sf-independent fixtures at
      // oracle-build time and pins the expected rows
      "q_clip" -> {
        val rows = clipFixtures.flatMap { case (pid, xs, ys) =>
          val (cx, cy) = graft.vector.Clip.clipRing(
            xs.toIndexedSeq, ys.toIndexedSeq, 64, 64, 192, 192)
          if (cx.isEmpty) None
          else Some(s"(CAST($pid AS BIGINT), ${cx.length}, " +
            s"CAST(${u5(graft.vector.Clip.ringArea(cx, cy))} AS BIGINT))")
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(pid, n, area_u)"
      },

      // variogram: exact-integer d2/dv2, IEEE sqrt lag binning, one
      // closing division per lag
      "q_semivariogram" ->
        s"""WITH p AS (SELECT pid, px, py, CAST(pid * 7 % 23 AS DOUBLE) AS v FROM ($pts)),
           |pr AS (SELECT CAST(floor(sqrt((a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)) / 16.0) AS BIGINT) AS lag,
           |         (a.v - b.v) * (a.v - b.v) AS dv2
           |       FROM p a JOIN p b ON a.pid < b.pid)
           |SELECT lag, count(*) AS n_pairs,
           |  CAST(CAST(sum(dv2) AS BIGINT) AS DOUBLE) / (2 * count(*)) AS gamma
           |FROM pr GROUP BY 1""".stripMargin,

      // Clark-Evans: min-d2 per point (exact), micro-quantized sqrt
      // terms summed as BIGINTs, pinned closing expression
      "q_clark_evans" ->
        s"""WITH p AS (SELECT pid, px, py FROM ($pts)),
           |nn AS (SELECT a.pid, min((a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)) AS d2
           |       FROM p a JOIN p b ON a.pid <> b.pid GROUP BY 1),
           |q AS (SELECT CAST(round(sqrt(d2) * 1000000.0) AS BIGINT) AS q FROM nn),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq FROM q)
           |SELECT n, CAST(sq AS DOUBLE) / (n * CAST(1000000.0 AS DOUBLE)) AS mean_nn,
           |  (CAST(sq AS DOUBLE) / (n * CAST(1000000.0 AS DOUBLE))) / (CAST(0.5 AS DOUBLE) * sqrt(CAST(65536.0 AS DOUBLE) / n)) AS r
           |FROM s""".stripMargin,

      // geohash: quantized grid coords are exactly px*128 / py*128
      // (the engine's degree mapping is constructed to make the
      // quantizer exact); interleave MSB-first starting with lon
      // (odd positions for even total bits), then base32 chars
      "q_geohash" -> {
        val terms = (0 until 15).flatMap { i =>
          Seq(s"((((CAST(floor(px) AS BIGINT) * 128) >> $i) & 1) * ${1L << (2 * i + 1)})",
              s"((((CAST(floor(py) AS BIGINT) * 128) >> $i) & 1) * ${1L << (2 * i)})")
        }.mkString(" + ")
        val chars = (0 until 6).map(j =>
          s"substr('${Geohash.Alphabet}', 1 + CAST((code >> ${5 * (5 - j)}) & 31 AS INT), 1)")
          .mkString(" || ")
        s"SELECT pid, $chars AS gh FROM (SELECT pid, $terms AS code FROM ($pts))"
      },

      // SurfaceVolume vs z=30: exact integer sums, unit cell area
      "q_surface_volume" ->
        s"""SELECT
           |  CAST(CAST(sum(CASE WHEN v > 30.0 THEN v - 30.0 ELSE CAST(0 AS DOUBLE) END) AS BIGINT) AS DOUBLE) AS vol_above,
           |  CAST(CAST(sum(CASE WHEN v < 30.0 THEN 30.0 - v ELSE CAST(0 AS DOUBLE) END) AS BIGINT) AS DOUBLE) AS vol_below,
           |  CAST(sum(CASE WHEN v > 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS cells_above,
           |  CAST(sum(CASE WHEN v < 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS cells_below
           |FROM ($grid)""".stripMargin,

      "q_catalog_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      // geotrellis-store payload bridge: export + self-describing Avro
      // read-back is an identity on the grid (q_catalog_roundtrip twin)
      "q_gt_read" -> s"SELECT x, y, v FROM ($grid)",

      // hadoop (MapFile) layout export + distributed SequenceFile
      // read-back is the same identity
      "q_gt_read_hadoop" -> s"SELECT x, y, v FROM ($grid)",

      // space-time Z3 export + temporal read-back: identity on the
      // temporal event grid
      "q_gt_read_time" -> s"SELECT x, y, instant, v FROM ($egrid)",

      // hilbert-indexed point read serves exactly tile (2,3)'s cells
      "q_gt_read_hilbert" ->
        s"SELECT x, y, v FROM ($grid) WHERE x // 64 = 2 AND y // 64 = 3",

      "q_read_tile" ->
        s"SELECT x, y, v FROM ($grid) WHERE x // 64 = 2 AND y // 64 = 3",

      // uint16 packed store: truncate-to-integer is the identity on the
      // integral sums; the clamp is restated verbatim
      "q_celltype_store" ->
        s"SELECT x, y, LEAST(GREATEST(v, 0.0), 65534.0) AS v FROM ($grid)",

      // bit store: every cell of every STORED tile comes back 0/1
      // (NaN -> 0, no NoData in the bit domain); tiles exist where the
      // grid has at least one cell
      "q_celltype_bit" ->
        s"""WITH g AS ($grid),
           |tiles AS (SELECT DISTINCT x // 64 AS tc, y // 64 AS tr FROM g),
           |xs AS (SELECT unnest(range(0, 256)) AS x),
           |ys AS (SELECT unnest(range(0, 256)) AS y)
           |SELECT xs.x AS x, ys.y AS y,
           |  CAST(CASE WHEN g.v IS NOT NULL AND CAST(g.v AS BIGINT) % 3 = 0
           |       THEN 1 ELSE 0 END AS DOUBLE) AS v
           |FROM xs CROSS JOIN ys
           |JOIN tiles ON xs.x // 64 = tiles.tc AND ys.y // 64 = tiles.tr
           |LEFT JOIN g ON g.x = xs.x AND g.y = ys.y""".stripMargin,

      // stored zoom (maxZoom-1) == one 2x Average level (same formula
      // as q_pyramid)
      "q_pyramid_write" ->
        s"SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2",

      // float32 encode/decode of integral values is exact -> identity
      "q_geotiff_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      // tag-306 instants restated: scene_id = tilecol*layoutRows +
      // tilerow, instant = 86400 * (20000 + scene_id) epoch seconds —
      // the SAME arithmetic the engine formats into the DateTime
      // string and parses back out of the TIFF bytes
      "q_geotiff_temporal" -> {
        val t = layout.tileLayout
        s"""SELECT x, y,
           |  CAST(86400 * (20000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)""".stripMargin
      },

      // CDF-1 roundtrip is the identity on the grid; the temporal twin
      // restates the record time coordinate with the q_geotiff_temporal
      // instant arithmetic
      "q_netcdf_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      // .asc text roundtrip is the identity on the grid
      "q_ascii_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      // WKB roundtrip is the identity on the point set
      "q_wkb_roundtrip" -> s"SELECT pid, px, py FROM ($pts)",

      // G-function: exact NN d² per point, counts at the radius ladder
      "q_nn_cdf" ->
        s"""WITH p AS ($pts),
           |nn AS (SELECT a.pid, min((a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)) AS d2
           |       FROM p a JOIN p b ON a.pid <> b.pid GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN d2 <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
           |  CAST(sum(CASE WHEN d2 <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS g4,
           |  CAST(sum(CASE WHEN d2 <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS g8,
           |  CAST(sum(CASE WHEN d2 <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS g16
           |FROM nn""".stripMargin,

      "q_netcdf_temporal" -> {
        val t = layout.tileLayout
        s"""SELECT x, y,
           |  CAST(86400 * (20000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)""".stripMargin
      },

      "q_netcdf4_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      "q_netcdf4_temporal" -> {
        val t = layout.tileLayout
        s"""SELECT x, y,
           |  CAST(86400 * (20000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)
           |UNION ALL
           |SELECT x, y,
           |  CAST(86400 * (30000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)""".stripMargin
      },

      "q_grib_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      "q_grib_temporal" -> {
        val t = layout.tileLayout
        s"""SELECT x, y,
           |  CAST(86400 * (20000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)
           |UNION ALL
           |SELECT x, y,
           |  CAST(86400 * (30000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)""".stripMargin
      },

      "q_zarr_roundtrip" -> s"SELECT x, y, v FROM ($grid)",

      "q_zarr_temporal" -> {
        val t = layout.tileLayout
        s"""SELECT x, y,
           |  CAST(86400 * (20000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)
           |UNION ALL
           |SELECT x, y,
           |  CAST(86400 * (30000 + (x // ${t.tileCols}) * ${t.layoutRows} + y // ${t.tileRows}) AS BIGINT) AS instant,
           |  v FROM ($grid)""".stripMargin
      },

      "q_catalog_query" ->
        s"SELECT x, y, v FROM ($grid) WHERE x >= 64 AND x < 192 AND y < 128",

      // the DSv2 read over tile cols 1..2, rows 0..1 — same slice as
      // q_catalog_query, reached through the Spark source API
      "q_catalog_dsv2" ->
        s"SELECT x, y, v FROM ($grid) WHERE x >= 64 AND x < 192 AND y < 128",

      // footer-answered store aggregates: tile count + key extents
      "q_catalog_agg" ->
        s"""WITH t AS (SELECT DISTINCT x // 64 AS c, y // 64 AS r FROM ($grid))
           |SELECT count(*) AS n_tiles,
           |  CAST(min(c) AS INT) AS min_col, CAST(max(c) AS INT) AS max_col,
           |  CAST(min(r) AS INT) AS min_row, CAST(max(r) AS INT) AS max_row
           |FROM t""".stripMargin,

      // V2 writer roundtrip at uint16: truncate-to-integer is the
      // identity on the integral sums, clamp restated (celltype rule)
      "q_catalog_dsv2_write" ->
        s"SELECT x, y, LEAST(GREATEST(v, 0.0), 65534.0) AS v FROM ($grid)",

      // tile-level pruning: the rect (70,10)-(190,100) intersects tile
      // cols 1..2 and rows 0..1 of the 64-cell tiles; a geometry read
      // keeps WHOLE intersecting tiles
      "q_catalog_geom" ->
        s"SELECT x, y, v FROM ($grid) WHERE x // 64 BETWEEN 1 AND 2 AND y // 64 BETWEEN 0 AND 1",

      // NaN-aware cell-wise Max over the appended store == full-outer
      // join of the two grids taking the greater present value
      "q_catalog_update" ->
        s"""SELECT coalesce(a.x, b.x) AS x, coalesce(a.y, b.y) AS y,
           |  CASE WHEN a.v IS NULL THEN b.v WHEN b.v IS NULL THEN a.v
           |       WHEN a.v > b.v THEN a.v ELSE b.v END AS v
           |FROM ($grid) a FULL OUTER JOIN ($ogrid) b ON a.x = b.x AND a.y = b.y""".stripMargin,

      // tile-aligned extent (tiles are 32x32 in layout64): x in [0,32),
      // y in [32,64) — exactly tile (0,1); plus the instant interval
      "q_catalog_time_query" ->
        s"""SELECT x, y, instant, v FROM ($egrid)
           |WHERE instant BETWEEN 19725 AND 19735 AND x < 32 AND y >= 32""".stripMargin,

      "q_color_map" ->
        s"""SELECT x, y, CASE WHEN v <= 100 THEN 0 WHEN v <= 200 THEN 1
           |WHEN v <= 400 THEN 2 ELSE -1 END AS idx FROM ($grid)""".stripMargin,

      "q_color_ramp" -> {
        val cs = render.ColorMap.rampColors("Viridis", 3)
        s"""SELECT x, y, CAST(CASE WHEN v <= 100 THEN ${cs(0)} WHEN v <= 200 THEN ${cs(1)}
           |WHEN v <= 400 THEN ${cs(2)} ELSE 0 END AS INT) AS argb FROM ($grid)""".stripMargin
      },

      // dense matplotlib-name resample: the same CASE-chain contract
      // with 16 interpolated plasma colors as shared literals
      "q_color_matplotlib" -> {
        val cs = render.ColorMap.fromMatplotlib("plasma", 16)
        val whens = (1 to 16).map(i =>
          s"WHEN v <= ${i * 25.0} THEN ${cs(i - 1)}").mkString(" ")
        s"SELECT x, y, CAST(CASE $whens ELSE 0 END AS INT) AS argb FROM ($grid)"
      },

      // same interpolated palette as q_color_ramp (renderImage and
      // colorize share it), recovered from the ENCODED PNG bytes;
      // out-of-breaks cells are transparent like NoData -> both sides
      // restrict to classified cells
      "q_render_png" -> {
        val cs = render.ColorMap.rampColors("Viridis", 3)
        s"""SELECT x, y, CAST(CASE WHEN v <= 100 THEN ${cs(0)} WHEN v <= 200 THEN ${cs(1)}
           |ELSE ${cs(2)} END AS INT) AS argb FROM ($grid) WHERE v <= 400""".stripMargin
      },

      // both zooms of the served payload: base grid + Average level-up
      // (quarter-integral avgs are exact in binary, so the break
      // comparisons agree); transparent (out-of-breaks/NoData) pixels
      // are absent on both sides
      "q_tms_payload" -> {
        val cs = render.ColorMap.rampColors("Viridis", 3)
        def cc = s"CAST(CASE WHEN v <= 100 THEN ${cs(0)} WHEN v <= 200 THEN ${cs(1)} ELSE ${cs(2)} END AS INT)"
        s"""SELECT 1 AS zoom, x, y, $cc AS argb FROM ($grid) WHERE v <= 400
           |UNION ALL
           |SELECT 0 AS zoom, x, y, $cc AS argb FROM (
           |  SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2)
           |WHERE v <= 400""".stripMargin
      },

      "q_color_nlcd" -> {
        // CASE chain generated from the SAME NlcdColorMap constant the
        // Spark side folds over — the two sides cannot drift
        val cases = render.ColorMap.NlcdColorMap.toSeq.sortBy(_._1)
          .map { case (v, c) => s"WHEN v % 100 = ${v.toInt} THEN $c" }
          .mkString(" ")
        s"""SELECT x, y, CAST(CASE $cases ELSE 0 END AS INT) AS argb FROM ($grid)""".stripMargin
      },

      "q_filter_by_times" ->
        s"""SELECT x, y, instant, v FROM ($egrid)
           |WHERE (instant BETWEEN 19725 AND 19730) OR (instant BETWEEN 19740 AND 19745)""".stripMargin,

      "q_to_spatial" ->
        s"SELECT x, y, max(v) AS v FROM ($egrid) GROUP BY 1, 2",

      "q_focal_time" ->
        s"""WITH g AS ($egrid)
           |SELECT c.x AS x, c.y AS y, c.instant AS instant, ${uqSql("sum(n.v)")} AS v_u
           |FROM g c JOIN g n ON n.instant = c.instant
           |  AND n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |GROUP BY 1, 2, 3""".stripMargin,

      "q_star_series" ->
        s"""SELECT instant, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS vsum,
           |  count(*) AS vcount, min(v) AS vmin, max(v) AS vmax,
           |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS vmean
           |FROM ($egrid) WHERE abs(x + 0.5 - 32) + abs(y + 0.5 - 32) < 20.3
           |GROUP BY instant""".stripMargin,

      "q_hist_mode" ->
        s"SELECT v, count(*) AS n FROM ($grid) GROUP BY v ORDER BY n DESC, v LIMIT 1",

      "q_hist_median" ->
        s"""WITH c AS (SELECT CAST(v AS BIGINT) AS v, count(*) AS cnt FROM ($grid) GROUP BY 1),
           |w AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
           |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
           |SELECT min(CASE WHEN cum >= 0.5 * total THEN v END) AS median FROM w, n""".stripMargin,

      "q_hist_series" ->
        s"""WITH g AS (SELECT * FROM ($egrid)
           |           WHERE abs(x + 0.5 - 32) + abs(y + 0.5 - 32) < 20.3),
           |mm AS (SELECT instant, min(v) AS mn, max(v) AS mx FROM g GROUP BY 1)
           |SELECT g.instant AS instant,
           |  CASE WHEN mx > mn
           |       THEN CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT)
           |       ELSE 0 END AS bin, count(*) AS cnt
           |FROM g JOIN mm ON g.instant = mm.instant GROUP BY 1, 2""".stripMargin,

      // gap-fill: present cells pass through; a missing (x,y,t) takes
      // the nearest-valid linear interpolation, edges stay missing
      "q_temporal_fill" ->
        s"""WITH g AS ($tgrid),
           |k AS (SELECT DISTINCT x, y FROM g),
           |t AS (SELECT k.x, k.y, i.range AS instant FROM k, range(0, 3) i),
           |miss AS (SELECT t.x, t.y, t.instant FROM t LEFT JOIN g USING (x, y, instant) WHERE g.v IS NULL),
           |pv AS (SELECT m.x, m.y, m.instant, max(g2.instant) AS pt
           |       FROM miss m JOIN g g2 ON g2.x = m.x AND g2.y = m.y AND g2.instant < m.instant
           |       GROUP BY 1, 2, 3),
           |nx AS (SELECT m.x, m.y, m.instant, min(g2.instant) AS nt
           |       FROM miss m JOIN g g2 ON g2.x = m.x AND g2.y = m.y AND g2.instant > m.instant
           |       GROUP BY 1, 2, 3),
           |fill AS (SELECT pv.x, pv.y, pv.instant,
           |    gp.v + (gn.v - gp.v) * ((pv.instant - pv.pt) / (nx.nt - pv.pt)) AS v
           |  FROM pv JOIN nx USING (x, y, instant)
           |       JOIN g gp ON gp.x = pv.x AND gp.y = pv.y AND gp.instant = pv.pt
           |       JOIN g gn ON gn.x = pv.x AND gn.y = pv.y AND gn.instant = nx.nt)
           |SELECT x, y, instant, ${uqSql("v")} AS v_u
           |FROM (SELECT x, y, instant, v FROM g UNION ALL SELECT x, y, instant, v FROM fill)""".stripMargin,

      // radius-1 temporal mean over valid values (exact integral sums)
      "q_temporal_smooth" ->
        s"""WITH g AS ($tgrid),
           |k AS (SELECT DISTINCT x, y FROM g),
           |t AS (SELECT k.x, k.y, i.range AS instant FROM k, range(0, 3) i)
           |SELECT t.x, t.y, t.instant, ${uqSql("sum(g2.v) / count(*)")} AS v_u
           |FROM t JOIN g g2 ON g2.x = t.x AND g2.y = t.y AND abs(g2.instant - t.instant) <= 1
           |GROUP BY 1, 2, 3""".stripMargin,

      "q_time_resample" ->
        s"""SELECT x, y, (instant // 7) * 7 AS instant, max(v) AS v
           |FROM ($egrid) GROUP BY 1, 2, 3""".stripMargin,

      "q_resample_time" ->
        // one (x,y)-keyed join + a corner pivot instead of four
        // corner self-joins: the self-join form only links corners
        // through a shared instant, which invites a cross-product
        // join order; the pivot keeps max-of-one-value determinism
        // and states the blend in Spark's exact expression order
        s"""WITH g AS ($tgrid), t AS (
           |  SELECT t1.range AS i, t2.range AS j,
           |         (t1.range + 0.5) * 64 / 48 - 0.5 AS sx,
           |         (t2.range + 0.5) * 64 / 48 - 0.5 AS sy
           |  FROM range(0, 48) t1, range(0, 48) t2),
           |k AS (SELECT i, j, CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
           |             sx - CAST(floor(sx) AS BIGINT) AS fx, sy - CAST(floor(sy) AS BIGINT) AS fy FROM t),
           |o(dx, dy) AS (VALUES (0, 0), (1, 0), (0, 1), (1, 1)),
           |c AS (SELECT k.i, k.j, k.fx, k.fy, g.instant, o.dx, o.dy, g.v
           |      FROM k JOIN o ON true
           |             JOIN g ON g.x = k.x0 + o.dx AND g.y = k.y0 + o.dy),
           |p AS (SELECT i, j, fx, fy, instant,
           |             max(CASE WHEN dx = 0 AND dy = 0 THEN v END) AS va,
           |             max(CASE WHEN dx = 1 AND dy = 0 THEN v END) AS vb,
           |             max(CASE WHEN dx = 0 AND dy = 1 THEN v END) AS vc,
           |             max(CASE WHEN dx = 1 AND dy = 1 THEN v END) AS vd,
           |             count(*) AS n
           |      FROM c GROUP BY 1, 2, 3, 4, 5)
           |SELECT i AS x, j AS y, instant,
           |  ${uqSql("""va * (1.0 - fx) * (1.0 - fy) + vb * fx * (1.0 - fy)
           |      + vc * (1.0 - fx) * fy + vd * fx * fy""")} AS v_u
           |FROM p WHERE n = 4""".stripMargin,

      "q_reproject_time" -> {
        // same embedded-constant discipline as q_reproject_raster, on
        // the 64-grid events layer; v is moved, never recomputed
        val n = 64; val d = 0.1
        val mxMin = CRS.lngToMercX(0); val mxMax = CRS.lngToMercX(n * d)
        val myMin = CRS.latToMercY(0); val myMax = CRS.latToMercY(n * d)
        val cw = (mxMax - mxMin) / n; val ch = (myMax - myMin) / n
        s"""WITH g AS ($egrid), t AS (
           |  SELECT t1.range AS tx, t2.range AS ty,
           |         $mxMin + (t1.range + 0.5) * $cw AS mx,
           |         $myMax - (t2.range + 0.5) * $ch AS my
           |  FROM range(0, $n) t1, range(0, $n) t2)
           |SELECT tx AS x, ty AS y, instant, v
           |FROM t JOIN g
           |  ON g.x = CAST(floor(degrees(mx / 6378137.0) / $d) AS BIGINT)
           | AND g.y = CAST(floor((${n * d} - degrees(atan(exp(my / 6378137.0)) * 2 - pi() / 2)) / $d) AS BIGINT)""".stripMargin
      },

      "q_spatial_partition" -> s"SELECT x, y, v FROM ($grid)",

      "q_combine_bands" ->
        s"""SELECT coalesce(a.x, b.x) AS x, coalesce(a.y, b.y) AS y, a.v AS b0, b.v AS b1
           |FROM ($grid) a FULL OUTER JOIN ($ogrid) b ON a.x = b.x AND a.y = b.y""".stripMargin,

      "q_bands" -> s"SELECT x, y, v FROM ($ogrid)",

      // --- multiband: band 0 = lineitem grid, band 1 = orders grid;
      // cells where a band is missing are NoData for that band
      "q_mb_ndvi" ->
        s"""SELECT a.x AS x, a.y AS y, ${uqSql("(b.v - a.v) / (b.v + a.v)")} AS v_u
           |FROM ($grid) a JOIN ($ogrid) b ON a.x = b.x AND a.y = b.y""".stripMargin,

      "q_mb_map" ->
        s"""SELECT x, y, CAST(0 AS INT) AS band, v * 2 + 1 AS v FROM ($grid)
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band, v * 2 + 1 AS v FROM ($ogrid)""".stripMargin,

      // Brovey ratio: out_i = b_i * pan / ((b0 + b1) / 2), identical
      // op order both sides
      "q_pansharpen" ->
        s"""WITH a AS ($grid), b AS ($ogrid),
           |j AS (SELECT a.x, a.y, a.v AS va, b.v AS vb, a.v + 100 AS p FROM a JOIN b USING (x, y))
           |SELECT x, y, CAST(0 AS INT) AS band, ${uqSql("va * p / ((va + vb) / 2)")} AS v_u FROM j
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band, ${uqSql("vb * p / ((va + vb) / 2)")} AS v_u FROM j""".stripMargin,

      // exact quarter-unit overlap products, clamped to the grid
      "q_rasterize_coverage" ->
        s"""WITH r AS (SELECT greatest(CAST(round((px - 10.25) * 4) AS BIGINT), 0) AS sx0,
           |    least(CAST(round((px + 5.5) * 4) AS BIGINT), 1024) AS sx1,
           |    greatest(CAST(round((py - 6.75) * 4) AS BIGINT), 0) AS sy0,
           |    least(CAST(round((py + 3.25) * 4) AS BIGINT), 1024) AS sy1
           |  FROM ($pts) WHERE pid BETWEEN 1 AND 20),
           |c AS (SELECT * FROM r WHERE sx1 > sx0 AND sy1 > sy0),
           |ex AS (SELECT sx0, sx1, sy0, sy1, unnest(range(sx0 // 4, (sx1 - 1) // 4 + 1)) AS cx FROM c),
           |ey AS (SELECT sx0, sx1, sy0, sy1, cx, unnest(range(sy0 // 4, (sy1 - 1) // 4 + 1)) AS cy FROM ex)
           |SELECT cx AS x, cy AS y,
           |  CAST(sum((least(sx1, (cx + 1) * 4) - greatest(sx0, cx * 4)) *
           |           (least(sy1, (cy + 1) * 4) - greatest(sy0, cy * 4))) AS BIGINT) AS cov_q
           |FROM ey GROUP BY 1, 2""".stripMargin,

      // per-zone coverage restated (the q_rasterize_coverage chain +
      // zone key), inner-joined to the grid: exact integer weights and
      // weighted sums, one closing division round 6
      "q_zonal_coverage" ->
        s"""WITH r AS (SELECT pid % 4 AS zone,
           |    greatest(CAST(round((px - 10.25) * 4) AS BIGINT), 0) AS sx0,
           |    least(CAST(round((px + 5.5) * 4) AS BIGINT), 1024) AS sx1,
           |    greatest(CAST(round((py - 6.75) * 4) AS BIGINT), 0) AS sy0,
           |    least(CAST(round((py + 3.25) * 4) AS BIGINT), 1024) AS sy1
           |  FROM ($pts) WHERE pid BETWEEN 1 AND 20),
           |c AS (SELECT * FROM r WHERE sx1 > sx0 AND sy1 > sy0),
           |ex AS (SELECT zone, sx0, sx1, sy0, sy1, unnest(range(sx0 // 4, (sx1 - 1) // 4 + 1)) AS cx FROM c),
           |ey AS (SELECT zone, sx0, sx1, sy0, sy1, cx, unnest(range(sy0 // 4, (sy1 - 1) // 4 + 1)) AS cy FROM ex),
           |cov AS (SELECT zone, cx AS x, cy AS y,
           |    CAST(sum((least(sx1, (cx + 1) * 4) - greatest(sx0, cx * 4)) *
           |             (least(sy1, (cy + 1) * 4) - greatest(sy0, cy * 4))) AS BIGINT) AS cov_q
           |  FROM ey GROUP BY 1, 2, 3),
           |j AS (SELECT cov.zone, g.v, cov.cov_q FROM cov JOIN ($grid) g ON g.x = cov.x AND g.y = cov.y)
           |SELECT zone, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(cov_q) AS BIGINT) AS cov_q,
           |  CAST(sum(CAST(v AS BIGINT) * cov_q) AS BIGINT) AS wsum_q,
           |  ${uqSql("CAST(sum(CAST(v AS BIGINT) * cov_q) AS DOUBLE) / CAST(sum(cov_q) AS DOUBLE)", "1000000.0")} AS wmean_u
           |FROM j GROUP BY 1""".stripMargin,

      // linear band transform over the joined stacks: a pixel missing
      // in EITHER band is NoData in every output band (NaN rule)
      "q_mb_transform" ->
        s"""WITH a AS ($grid), b AS ($ogrid),
           |j AS (SELECT a.x, a.y, a.v AS va, b.v AS vb FROM a JOIN b USING (x, y))
           |SELECT x, y, CAST(0 AS INT) AS band,
           |  ${uqSql("CAST(0.5 AS DOUBLE) * va + CAST(0.5 AS DOUBLE) * vb")} AS v_u FROM j
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band,
           |  ${uqSql("CAST(1.0 AS DOUBLE) * va + CAST(-1.0 AS DOUBLE) * vb")} AS v_u FROM j""".stripMargin,

      // quantized component means per label (exact integer sums)
      "q_embed_centroids" ->
        """WITH q AS (SELECT label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |p AS (SELECT label, unnest(range(len(qv))) AS pos, qv FROM q),
          |u AS (SELECT label, pos, qv[pos + 1] AS qc FROM p)
          |SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
          |  CAST(round(CAST(sum(qc) * 1000 AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_u
          |FROM u GROUP BY 1, 2""".stripMargin,

      // upper-triangle Gram entries, exact integer products
      "q_embed_gram" ->
        """WITH q AS (SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |p AS (SELECT CAST(ia - 1 AS INTEGER) AS i, CAST(ib - 1 AS INTEGER) AS j,
          |        qv[ia] * qv[ib] AS g
          |      FROM q, range(1, 65) ra(ia), range(1, 65) rb(ib)
          |      WHERE ib >= ia)
          |SELECT i, j, CAST(sum(g) AS BIGINT) AS g FROM p GROUP BY 1, 2""".stripMargin,

      // packed argmin restated: least(dist_k*16 + k) % 16, exact for
      // integral cells/means; cells missing either band drop
      "q_classify_mindist" ->
        s"""WITH a AS ($grid), b AS ($ogrid),
           |j AS (SELECT a.x, a.y, a.v AS va, b.v AS vb FROM a JOIN b USING (x, y))
           |SELECT x, y,
           |  least(((va - 100) * (va - 100) + (vb - 50) * (vb - 50)) * 16 + 0,
           |        ((va - 300) * (va - 300) + (vb - 100) * (vb - 100)) * 16 + 1,
           |        ((va - 120) * (va - 120) + (vb - 80) * (vb - 80)) * 16 + 2) % 16 AS v
           |FROM j""".stripMargin,

      // error matrix: exact counts and marginal products; overall and
      // kappa each close in ONE division of exact integers (the
      // pe-clearing algebra), round 6
      "q_accuracy" ->
        s"""WITH g AS ($grid), o AS ($ogrid),
           |j AS (SELECT CAST(g.v AS BIGINT) % 3 AS p, CAST(o.v AS BIGINT) % 3 AS t
           |      FROM g JOIN o USING (x, y)),
           |c AS (SELECT p, t, count(*) AS cnt FROM j GROUP BY 1, 2),
           |m AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |        CAST(sum(CASE WHEN p = t THEN cnt ELSE 0 END) AS BIGINT) AS correct
           |      FROM c),
           |pe AS (SELECT CAST(coalesce(sum(rt * ct), 0) AS BIGINT) AS pen
           |       FROM (SELECT p, sum(cnt) AS rt FROM c GROUP BY 1) r
           |       JOIN (SELECT t, sum(cnt) AS ct FROM c GROUP BY 1) cc ON r.p = cc.t)
           |SELECT n, correct,
           |  ${uqSql("CAST(correct AS DOUBLE) / CAST(n AS DOUBLE)", "1000000.0")} AS overall_acc_u,
           |  ${uqSql("CAST(correct * n - pen AS DOUBLE) / CAST(n * n - pen AS DOUBLE)", "1000000.0")} AS kappa_u
           |FROM m, pe""".stripMargin,

      // joint bin counts, exact integer binning
      "q_hist2d" ->
        s"""WITH g AS ($grid)
           |SELECT CAST(v AS BIGINT) // 64 AS bin_a,
           |  ((CAST(v AS BIGINT) * 37) % 101) // 16 AS bin_b, count(*) AS cnt
           |FROM g GROUP BY 1, 2""".stripMargin,

      // broadcast dim join + exact decimal sums
      "q_event_enrich" ->
        """SELECT n.n_name, count(*) AS n_events,
          |  CAST(sum(CAST(e."value" AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
          |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
          |GROUP BY 1""".stripMargin,

      "q_mb_agg" ->
        s"""SELECT x, y, CAST(0 AS INT) AS band, v + (v + 10) AS v FROM ($grid)
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band, v + v * 2 AS v FROM ($ogrid)""".stripMargin,

      "q_mb_focal" ->
        s"""WITH g AS ($ogrid)
           |SELECT c.x AS x, c.y AS y, avg(n.v) AS v
           |FROM g c JOIN g n ON n.x BETWEEN c.x - 1 AND c.x + 1 AND n.y BETWEEN c.y - 1 AND c.y + 1
           |GROUP BY c.x, c.y""".stripMargin,

      "q_mb_catalog_roundtrip" ->
        s"""SELECT x, y, CAST(0 AS INT) AS band, v FROM ($grid)
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band, v FROM ($ogrid)""".stripMargin,

      // geotrellis multiband export + read-back is the same identity
      "q_gt_read_mb" ->
        s"""SELECT x, y, CAST(0 AS INT) AS band, v FROM ($grid)
           |UNION ALL
           |SELECT x, y, CAST(1 AS INT) AS band, v FROM ($ogrid)""".stripMargin,

      "q_aggregate_mean" ->
        s"SELECT x, y, (v + (v + 10)) / 2 AS v FROM ($grid)",

      "q_local_pow" ->
        s"SELECT x, y, ${uqSql("pow(v, 1.5)")} AS v_u FROM ($grid)",

      "q_pyramid2" ->
        s"""WITH p1 AS (SELECT x // 2 AS x, y // 2 AS y, avg(v) AS v FROM ($grid) GROUP BY 1, 2)
           |SELECT x // 2 AS x, y // 2 AS y, ${uqSql("avg(v)")} AS v_u FROM p1 GROUP BY 1, 2""".stripMargin,

      "q_focal_nesw" ->
        s"""WITH g AS ($grid)
           |SELECT c.x AS x, c.y AS y, sum(n.v) AS v
           |FROM g c JOIN g n ON (n.x = c.x AND n.y BETWEEN c.y - 1 AND c.y + 1)
           |                  OR (n.y = c.y AND n.x BETWEEN c.x - 1 AND c.x + 1)
           |GROUP BY c.x, c.y""".stripMargin,

      "q_focal_annulus" ->
        s"""WITH g AS ($grid)
           |SELECT c.x AS x, c.y AS y, sum(n.v) AS v
           |FROM g c JOIN g n
           |  ON n.x BETWEEN c.x - 2 AND c.x + 2 AND n.y BETWEEN c.y - 2 AND c.y + 2
           | AND (n.x - c.x) * (n.x - c.x) + (n.y - c.y) * (n.y - c.y) BETWEEN 1 AND 4
           |GROUP BY c.x, c.y""".stripMargin,

      "q_focal_convolve" ->
        s"""WITH g AS ($grid), k(dx, dy, w) AS (VALUES
           |  (-1, -1, 1.0), (0, -1, 2.0), (1, -1, 1.0),
           |  (-1,  0, 2.0), (0,  0, 4.0), (1,  0, 2.0),
           |  (-1,  1, 1.0), (0,  1, 2.0), (1,  1, 1.0))
           |SELECT c.x AS x, c.y AS y, sum(k.w * n.v) AS v
           |FROM g c JOIN k ON true JOIN g n ON n.x = c.x + k.dx AND n.y = c.y + k.dy
           |GROUP BY c.x, c.y""".stripMargin,

      "q_focal_wedge" -> {
        // angle-boundary float comparisons differ across engines, so the
        // oracle states the wedge's offset mask literally
        val vals = graft.raster.Neighborhood.Wedge(2.0, 0, 90).offsets
          .map { case (dx, dy) => s"($dx, $dy)" }.mkString(", ")
        s"""WITH g AS ($grid), o(dx, dy) AS (VALUES $vals)
           |SELECT c.x AS x, c.y AS y, sum(n.v) AS v
           |FROM g c JOIN o ON true JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
           |GROUP BY c.x, c.y""".stripMargin
      },

      // --- pipeline: dedup
      "q_dedup_exact" ->
        "SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS dups FROM documents GROUP BY 1",

      // duplicate-bigram fraction: exact integer counts, one IEEE
      // division — engine-identical with no rounding
      "q_repetition" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |g AS (SELECT doc_id, list_transform(range(1, len(toks)),
          |  i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS grams
          |  FROM t WHERE len(toks) >= 2)
          |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_fraction
          |FROM g""".stripMargin,

      // segment-level boilerplate removal: 10-word windows, per-source
      // frequency cap 2, portable 60-bit segment hash, ordered
      // reassembly — every step restated
      "q_dedup_segments" ->
        """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
          |segs AS (SELECT doc_id, source, w,
          |  unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos FROM t),
          |seg2 AS (SELECT doc_id, source, pos,
          |  array_to_string(list_slice(w, pos * 10 + 1, pos * 10 + 10), ' ') AS seg FROM segs),
          |h AS (SELECT *, ('0x' || substr(md5(seg), 1, 15))::BIGINT AS hh FROM seg2),
          |hot AS (SELECT source, hh FROM h GROUP BY source, hh HAVING count(*) > 2),
          |keep AS (SELECT h.doc_id, h.source, h.pos, h.seg FROM h
          |  LEFT JOIN hot ON h.source = hot.source AND h.hh = hot.hh
          |  WHERE hot.hh IS NULL)
          |SELECT doc_id, source, string_agg(seg, ' ' ORDER BY pos) AS text
          |FROM keep GROUP BY doc_id, source""".stripMargin,

      // maxDocFreq skew cap (1000) mirrored via the hot/ANTI JOIN CTEs;
      // shingles are hashed before the self-join exactly like Spark
      "q_dedup_jaccard" ->
        s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
           |sh0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM (
           |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
           |  FROM t WHERE len(toks) >= 5)),
           |hot AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) > 1000),
           |sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 ANTI JOIN hot USING (h)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
           |       FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT d1, d2, CAST(shared AS DOUBLE) / (n1.n + n2.n - shared) AS jaccard
           |FROM pr JOIN sz n1 ON pr.d1 = n1.doc_id JOIN sz n2 ON pr.d2 = n2.doc_id
           |WHERE CAST(shared AS DOUBLE) / (n1.n + n2.n - shared) >= 0.5""".stripMargin,

      "q_contamination" ->
        s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
           |sh0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM (
           |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
           |  FROM t WHERE len(toks) >= 5)),
           |hot AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) > 1000),
           |sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 ANTI JOIN hot USING (h)),
           |pb AS (SELECT doc_id AS probe_id, h FROM sh WHERE doc_id % 20 = 0),
           |np AS (SELECT probe_id, count(*) AS np FROM pb GROUP BY 1),
           |pr AS (SELECT pb.probe_id, sh.doc_id, count(*) AS shared
           |       FROM sh JOIN pb ON sh.h = pb.h AND sh.doc_id <> pb.probe_id GROUP BY 1, 2)
           |SELECT pr.probe_id, pr.doc_id, CAST(shared AS DOUBLE) / np.np AS containment
           |FROM pr JOIN np ON pr.probe_id = np.probe_id
           |WHERE CAST(shared AS DOUBLE) / np.np >= 0.3""".stripMargin,

      // a corpus shingle hits when ALL 3 salted positions are set by
      // some probe shingle (false positives included — deterministic)
      "q_bloom_contamination" ->
        s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
           |sh AS (SELECT DISTINCT doc_id, shingle FROM (
           |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
           |  FROM t WHERE len(toks) >= 5)),
           |j AS (SELECT unnest(range(3)) AS j),
           |pp AS (SELECT DISTINCT ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || sh.shingle), 1, 15))::BIGINT % 262144 AS p
           |       FROM sh, j WHERE doc_id % 20 = 0),
           |cp AS (SELECT doc_id, shingle,
           |         ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT % 262144 AS p
           |       FROM sh, j WHERE doc_id % 20 <> 0),
           |hits AS (SELECT doc_id, shingle FROM cp LEFT JOIN pp ON cp.p = pp.p
           |         GROUP BY doc_id, shingle HAVING count(pp.p) = 3)
           |SELECT doc_id, count(*) AS bloom_hits FROM hits GROUP BY 1""".stripMargin,

      "q_dedup_minhash" ->
        s"""WITH $minhashCtes
           |SELECT d1, d2, CAST($minhashSimExpr AS DOUBLE) / 16 AS est_sim
           |FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5""".stripMargin,

      // incremental ingest dedup: the shared banded index, candidates
      // restricted to delta (doc_id % 4 = 0) x base — no base x base
      // or delta x delta pairs, mirroring the engine's join shape
      "q_dedup_incremental" ->
        s"""WITH $minhashCtes,
           |cd AS (SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS base_id
           |       FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
           |       WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
           |sc AS (SELECT delta_id, base_id
           |       FROM cd JOIN sig sa ON cd.delta_id = sa.doc_id
           |               JOIN sig sb ON cd.base_id = sb.doc_id
           |       WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |m AS (SELECT delta_id, CAST(count(*) AS BIGINT) AS n_matches,
           |        min(base_id) AS match_id
           |      FROM sc GROUP BY 1)
           |SELECT s.doc_id,
           |  coalesce(m.n_matches, 0) AS n_matches,
           |  coalesce(m.match_id, -1) AS match_id
           |FROM (SELECT doc_id FROM sig WHERE doc_id % 4 = 0) s
           |LEFT JOIN m ON m.delta_id = s.doc_id""".stripMargin,

      // estimator audit: agreement count (no floor) + exact Jaccard
      // from the same shingle CTE the signatures derive from
      "q_minhash_eval" ->
        s"""WITH $minhashCtes,
           |est AS (SELECT d1, d2, CAST($minhashSimExpr AS BIGINT) AS est_matches
           |        FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
           |itr AS (SELECT e.d1, e.d2, CAST(count(*) AS BIGINT) AS inter
           |        FROM est e JOIN sh a ON a.doc_id = e.d1 JOIN sh b ON b.doc_id = e.d2 AND b.h = a.h
           |        GROUP BY 1, 2)
           |SELECT e.d1, e.d2, e.est_matches,
           |  coalesce(i.inter, 0) AS inter,
           |  sa.sz + sb.sz - coalesce(i.inter, 0) AS uni,
           |  CAST(round(CAST(coalesce(i.inter, 0) * 1000000 AS DOUBLE) / CAST(sa.sz + sb.sz - coalesce(i.inter, 0) AS DOUBLE)) AS BIGINT) AS jac_u
           |FROM est e
           |JOIN sz sa ON sa.doc_id = e.d1
           |JOIN sz sb ON sb.doc_id = e.d2
           |LEFT JOIN itr i ON i.d1 = e.d1 AND i.d2 = e.d2""".stripMargin,

      // CDC: boundary AFTER token p when the 3-gram hash % 16 == 0;
      // chunk id = prefix sum of boundary flags; chunk key = 60-bit
      // hash of the ORDER BY pos joined chunk text
      "q_cdc_dedup" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |tk AS (SELECT doc_id, unnest(range(len(toks))) AS p0, toks FROM t WHERE len(toks) >= 1 AND len(toks) < 1048576),
          |r AS (SELECT doc_id, CAST(p0 AS BIGINT) AS pos, toks[p0 + 1] AS tok,
          |        CASE WHEN p0 <= len(toks) - 3 AND ('0x' || substr(md5(array_to_string(toks[p0+1:p0+3], ' ')), 1, 15))::BIGINT % 16 = 0 THEN 1 ELSE 0 END AS flag
          |      FROM tk),
          |c AS (SELECT doc_id, pos, tok,
          |        coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ch
          |      FROM r),
          |ck AS (SELECT doc_id, ch, ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT AS ckey
          |       FROM c GROUP BY 1, 2),
          |fq AS (SELECT ckey, count(DISTINCT doc_id) AS dfd FROM ck GROUP BY 1),
          |pd AS (SELECT ck.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
          |         CAST(sum(CASE WHEN dfd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
          |       FROM ck JOIN fq USING (ckey) GROUP BY 1)
          |SELECT d.doc_id, coalesce(pd.n_chunks, 0) AS n_chunks, coalesce(pd.n_dup, 0) AS n_dup
          |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

      // per-term replace-and-measure counts — equal to the engine's
      // one-pass Aho-Corasick totals because every term is
      // self-border-free (non-overlapping == total occurrences)
      "q_blocklist" -> {
        val values = BlocklistTerms.map(t => s"('$t')").mkString(", ")
        s"""WITH terms(term) AS (VALUES $values),
           |c AS (SELECT d.doc_id, t.term,
           |        CAST((length(lower(d.text)) - length(replace(lower(d.text), t.term, ''))) // length(t.term) AS BIGINT) AS cnt
           |      FROM documents d CROSS JOIN terms t)
           |SELECT doc_id, term, cnt FROM c WHERE cnt > 0""".stripMargin
      },

      // same LSH pair graph, closed transitively (recursive CTE);
      // component = min reachable doc_id, singletons map to themselves
      "q_dedup_clusters" -> dedupComponentsSql,

      // LPA: the engine's 4 synchronized rounds unrolled — neighbor
      // label mode with ties -> smallest, isolated keep their own
      "q_label_prop" -> {
        val roundCtes = (1 to 4).map { i =>
          s"""n$i AS (SELECT e.u AS a, l.lbl, count(*) AS c
             |        FROM sym e JOIN l${i - 1} l ON l.a = e.v GROUP BY 1, 2),
             |m$i AS (SELECT a, lbl FROM n$i
             |        QUALIFY row_number() OVER (PARTITION BY a ORDER BY c DESC, lbl ASC) = 1),
             |l$i AS (SELECT p.a, coalesce(m.lbl, p.lbl) AS lbl
             |        FROM l${i - 1} p LEFT JOIN m$i m USING (a))""".stripMargin
        }.mkString(",\n")
        materialized(s"""WITH $minhashCtes,
           |pairs AS (
           |  SELECT d1, d2
           |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
           |l0 AS (SELECT doc_id AS a, doc_id AS lbl FROM documents),
           |$roundCtes
           |SELECT a AS doc_id, lbl AS label FROM l4""".stripMargin)
      },

      // W1 over doc-length histograms: exact-integer CDF cross
      // products, |cum_a*n_b - cum_b*n_a| summed, no rounding
      "q_wasserstein" ->
        """WITH d AS (SELECT source,
          |             least(len(regexp_extract_all(lower(text), '[a-z0-9]+')) // 8, 63) AS b
          |           FROM documents),
          |h AS (SELECT source, b, count(*) AS c FROM d GROUP BY 1, 2),
          |g AS (SELECT s.source, r.range AS b, coalesce(h.c, 0) AS c
          |      FROM (SELECT DISTINCT source FROM h) s
          |      CROSS JOIN range(0, 64) r
          |      LEFT JOIN h ON h.source = s.source AND h.b = r.range),
          |cm AS (SELECT source, b,
          |         sum(c) OVER (PARTITION BY source ORDER BY b
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |       FROM g),
          |nt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY 1)
          |SELECT a.source AS src_a, b2.source AS src_b,
          |       na.n AS n_a, nb.n AS n_b,
          |       CAST(sum(abs(a.cum * nb.n - b2.cum * na.n)) AS BIGINT) AS w1_num
          |FROM cm a JOIN cm b2 ON a.b = b2.b AND a.source < b2.source
          |JOIN nt na ON na.source = a.source JOIN nt nb ON nb.source = b2.source
          |GROUP BY 1, 2, 3, 4""".stripMargin,

      // JS divergence: identical p/q/m double chains, per-bucket
      // micro-nat quantization before the (order-free) integer sum
      "q_js_divergence" ->
        """WITH tk AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
          |v AS (SELECT t FROM (SELECT t, count(*) AS cc FROM tk GROUP BY 1 ORDER BY cc DESC, t ASC LIMIT 200)),
          |nt AS (SELECT source, count(*) AS ntot FROM tk GROUP BY 1),
          |cv AS (SELECT source, tk.t, count(*) AS c FROM tk JOIN v ON v.t = tk.t GROUP BY 1, 2),
          |dense AS (SELECT nt.source, v.t, coalesce(cv.c, 0) AS c, nt.ntot
          |          FROM nt CROSS JOIN v LEFT JOIN cv ON cv.source = nt.source AND cv.t = v.t),
          |iv AS (SELECT source, sum(c) AS s FROM dense GROUP BY 1),
          |bk AS (SELECT source, t, c, ntot FROM dense
          |       UNION ALL
          |       SELECT nt.source, '', nt.ntot - iv.s, nt.ntot FROM nt JOIN iv USING (source)),
          |pr AS (SELECT a.source AS src_a, b.source AS src_b,
          |         (a.c + 1) / CAST(a.ntot + 201 AS DOUBLE) AS p,
          |         (b.c + 1) / CAST(b.ntot + 201 AS DOUBLE) AS q
          |       FROM bk a JOIN bk b ON a.t = b.t AND a.source < b.source)
          |SELECT src_a, src_b,
          |  CAST(sum(CAST(round((p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))) * 1000000.0) AS BIGINT)) AS BIGINT) AS js2_micro
          |FROM pr GROUP BY 1, 2""".stripMargin,

      // linear-MMD drift: per-label per-dim quantized sums, exact
      // integer diffs, DECIMAL(18,0)^2 sum, one double cast (the
      // globalMoran discipline), pinned denominator product order
      "q_embed_drift" ->
        """WITH q AS (SELECT label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT label, unnest(range(len(qv))) AS d, qv FROM q),
          |s AS (SELECT label, d, sum(qv[CAST(d + 1 AS INT)]) AS sv FROM e GROUP BY 1, 2),
          |n AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
          |p AS (SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
          |        na.n AS n_a, nb.n AS n_b,
          |        a.sv * nb.n - b.sv * na.n AS dd
          |      FROM s a JOIN s b ON a.d = b.d AND a.label < b.label
          |      JOIN n na ON na.label = a.label JOIN n nb ON nb.label = b.label)
          |SELECT label_a, label_b, n_a, n_b,
          |  CAST(round(CAST(sum(CAST(dd AS DECIMAL(18,0)) * CAST(dd AS DECIMAL(18,0))) AS DOUBLE) /
          |        ((1000.0 * n_a * n_b) * (1000.0 * n_a * n_b)) * 1000000.0) AS BIGINT) AS mmd2_u
          |FROM p GROUP BY 1, 2, 3, 4""".stripMargin,

      // modularity: the LPA chain extended with exact-integer
      // community sums — Q*4m^2 = sum_c (4m*e_c - d_c^2), one row
      "q_modularity" -> {
        val roundCtes = (1 to 4).map { i =>
          s"""n$i AS (SELECT e.u AS a, l.lbl, count(*) AS c
             |        FROM sym e JOIN l${i - 1} l ON l.a = e.v GROUP BY 1, 2),
             |m$i AS (SELECT a, lbl FROM n$i
             |        QUALIFY row_number() OVER (PARTITION BY a ORDER BY c DESC, lbl ASC) = 1),
             |l$i AS (SELECT p.a, coalesce(m.lbl, p.lbl) AS lbl
             |        FROM l${i - 1} p LEFT JOIN m$i m USING (a))""".stripMargin
        }.mkString(",\n")
        materialized(s"""WITH $minhashCtes,
           |pairs AS (
           |  SELECT d1, d2
           |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
           |l0 AS (SELECT doc_id AS a, doc_id AS lbl FROM documents),
           |$roundCtes,
           |deg AS (SELECT u AS a, count(*) AS dg FROM sym GROUP BY 1),
           |dcs AS (SELECT l.lbl, sum(coalesce(deg.dg, 0)) AS d
           |        FROM l4 l LEFT JOIN deg USING (a) GROUP BY 1),
           |ecs AS (SELECT la.lbl, count(*) AS ec
           |        FROM pairs e JOIN l4 la ON la.a = e.d1
           |                     JOIN l4 lb ON lb.a = e.d2 AND lb.lbl = la.lbl
           |        GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs)
           |SELECT max(mm.m) AS m,
           |       CAST(sum(4 * mm.m * coalesce(ecs.ec, 0) - dcs.d * dcs.d) AS BIGINT) AS q4m2
           |FROM dcs CROSS JOIN mm LEFT JOIN ecs ON ecs.lbl = dcs.lbl""".stripMargin)
      },

      // 3 unrolled damped-PageRank rounds over the shared pair CTEs:
      // micro-quantized ranks, truncating `//` divisions — every step
      // exact integers, identical to the engine's loop
      "q_dup_rank" -> {
        def step(prev: String, out: String) =
          s"""$out AS (SELECT d.doc_id,
             |    ((15 * 1000000) // (100 * nn.n)) + (85 * coalesce(f.s, 0)) // 100 AS rq
             |  FROM documents d CROSS JOIN nn
             |  LEFT JOIN (SELECT sym.v AS doc_id, CAST(sum($prev.rq // deg.deg) AS BIGINT) AS s
             |             FROM sym JOIN $prev ON $prev.doc_id = sym.u JOIN deg ON deg.u = sym.u
             |             GROUP BY 1) f USING (doc_id))""".stripMargin
        s"""WITH $minhashCtes,
           |pairs AS (
           |  SELECT d1, d2
           |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
           |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |r0 AS (SELECT doc_id, (1000000 // nn.n) AS rq FROM documents CROSS JOIN nn),
           |${step("r0", "r1")},
           |${step("r1", "r2")},
           |${step("r2", "r3")}
           |SELECT doc_id, CAST(rq AS BIGINT) AS rank_q FROM r3""".stripMargin
      },

      // per-doc marginal of the inverted index: distinct shingles and
      // the df = 1 subset (NO boilerplate cap here — novelty wants
      // the uncapped df)
      "q_novelty" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
          |  FROM t WHERE len(toks) >= 5)),
          |d AS (SELECT h, count(*) AS df FROM sh GROUP BY 1)
          |SELECT doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
          |  CAST(round((CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000.0) AS BIGINT) AS novelty_u
          |FROM sh JOIN d USING (h) GROUP BY 1""".stripMargin,

      // per-source duplicate-5-gram instance rate; df computed on
      // the WHOLE corpus, attributed to each source's instances
      "q_dup_ngram_rate" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
          |  FROM t WHERE len(toks) >= 5)),
          |d AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
          |j AS (SELECT doc.source, sh.h, d.df
          |      FROM sh JOIN d USING (h) JOIN documents doc USING (doc_id))
          |SELECT source, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
          |  CAST(round((CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000.0) AS BIGINT) AS dup_rate_u
          |FROM j GROUP BY 1""".stripMargin,

      // deterministic md5 5% sample + cross-multiplied rank rule:
      // smallest rn with rn*1000 >= n*q (boundary VALUE is unique in
      // the sorted multiset even where row_number ties arbitrarily)
      "q_sampled_quantiles" ->
        """WITH s AS (SELECT source, n_chars AS v FROM documents
          |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 50),
          |r AS (SELECT source, v,
          |        row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
          |        count(*) OVER (PARTITION BY source) AS n FROM s),
          |q(q) AS (VALUES (500), (900), (990))
          |SELECT r.source, q.q AS q, r.v AS v
          |FROM r JOIN q ON r.rn * 1000 >= r.n * q.q AND (r.rn - 1) * 1000 < r.n * q.q""".stripMargin,

      // argmax by quality (n_chars), tie -> min doc_id, over the
      // shared components CTE
      "q_dedup_keep_best" ->
        s"""WITH c AS ($dedupComponentsSql),
           |s AS (SELECT c.doc_id, c.component, d.n_chars AS score
           |      FROM c JOIN documents d USING (doc_id)),
           |mx AS (SELECT component, max(score) AS ms FROM s GROUP BY 1),
           |k AS (SELECT s.component, min(s.doc_id) AS keep_id
           |      FROM s JOIN mx ON s.component = mx.component AND s.score = mx.ms
           |      GROUP BY 1)
           |SELECT s.doc_id, s.component,
           |  CAST(CASE WHEN s.doc_id = k.keep_id THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM s JOIN k USING (component)""".stripMargin,

      // the winnowing CTE's selected keys, position-stripped, through
      // a capped inverted-index self-join
      "q_winnow_pairs" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |g0 AS (SELECT doc_id, unnest(range(len(toks) - 2)) AS p0, toks
          |       FROM t WHERE len(toks) >= 6 AND len(toks) < 1048578),
          |g AS (SELECT doc_id, CAST(p0 AS BIGINT) AS pos,
          |        (('0x' || substr(md5(array_to_string(toks[p0+1:p0+3], ' ')), 1, 15))::BIGINT % 1099511627776) * 1048576
          |          + (1048575 - p0) AS key
          |      FROM g0),
          |s AS (SELECT doc_id, pos,
          |        min(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
          |        count(*) OVER (PARTITION BY doc_id) AS m
          |      FROM g),
          |d AS (SELECT DISTINCT doc_id, mk // 1048576 AS h FROM s WHERE pos <= m - 4),
          |hot AS (SELECT h FROM d GROUP BY h HAVING count(*) > 1000),
          |idx AS (SELECT d.doc_id, d.h FROM d ANTI JOIN hot USING (h))
          |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
          |FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

      // distinct/total per doc, one exact division
      "q_ttr" ->
        """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
          |SELECT doc_id, count(*) AS n_tokens,
          |  CAST(count(DISTINCT w) AS BIGINT) AS n_types,
          |  CAST(round((CAST(count(DISTINCT w) AS DOUBLE) / count(*)) * 1000000.0) AS BIGINT) AS ttr_u
          |FROM w GROUP BY 1""".stripMargin,

      // three regex counts -> one pinned float chain
      "q_readability" ->
        """SELECT doc_id, n_words, n_sentences, n_syllables,
          |  CAST(round((CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences)
          |      + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words)
          |      - CAST(15.59 AS DOUBLE)) * 100000.0) AS BIGINT) AS fk_grade_u
          |FROM (SELECT doc_id,
          |  greatest(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT), 1) AS n_words,
          |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
          |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
          |  FROM documents)""".stripMargin,

      // the minhash pair CTE rolled up by normalized source pairs
      "q_dup_source_matrix" ->
        s"""WITH RECURSIVE $minhashCtes,
           |pairs AS (
           |  SELECT d1, d2
           |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |s AS (SELECT doc_id, source FROM documents)
           |SELECT least(a.source, b.source) AS src_a, greatest(a.source, b.source) AS src_b,
           |  count(*) AS n_pairs
           |FROM pairs JOIN s a ON a.doc_id = pairs.d1 JOIN s b ON b.doc_id = pairs.d2
           |GROUP BY 1, 2""".stripMargin,

      // component sizes from the shared components CTE, histogrammed
      "q_dup_size_hist" ->
        s"""WITH c AS ($dedupComponentsSql),
           |s AS (SELECT component, count(*) AS sz FROM c GROUP BY 1)
           |SELECT sz, count(*) AS n_components FROM s GROUP BY 1""".stripMargin,

      // winnowing: key = h40 * 2^20 + (2^20 - 1 - pos) makes "min
      // hash, tie rightmost" a plain windowed min; full windows only
      "q_winnowing" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |g0 AS (SELECT doc_id, unnest(range(len(toks) - 2)) AS p0, toks
          |       FROM t WHERE len(toks) >= 6 AND len(toks) < 1048578),
          |g AS (SELECT doc_id, CAST(p0 AS BIGINT) AS pos,
          |        (('0x' || substr(md5(array_to_string(toks[p0+1:p0+3], ' ')), 1, 15))::BIGINT % 1099511627776) * 1048576
          |          + (1048575 - p0) AS key
          |      FROM g0),
          |s AS (SELECT doc_id, pos,
          |        min(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
          |        count(*) OVER (PARTITION BY doc_id) AS m
          |      FROM g),
          |d AS (SELECT DISTINCT doc_id, mk FROM s WHERE pos <= m - 4)
          |SELECT doc_id, count(*) AS n_fp, CAST(bit_xor(mk) AS BIGINT) AS fp_xor
          |FROM d GROUP BY 1""".stripMargin,

      // kept-vertex literals from the driver-side DP twin over the
      // SAME formula-derived coords (the q_tin literal-restating
      // precedent); the SQL pins the data path, grouping and coords
      "q_simplify" -> {
        def coords(lo: Int, hi: Int): Seq[(Long, Double, Double)] =
          (lo to hi).map(i => (i.toLong, (i * 13 % 256) + 0.5, (i * 29 % 256) + 0.5))
        val kept = graft.vector.Simplify.keptPids(coords(1, 16), 4.0) ++
          graft.vector.Simplify.keptPids(coords(17, 32), 4.0)
        s"""SELECT (pid - 1) // 16 AS fid, pid, px, py FROM ($pts)
           |WHERE pid BETWEEN 1 AND 32 AND pid IN (${kept.mkString(", ")})""".stripMargin
      },

      "q_simplify_vw" -> {
        def coords(lo: Int, hi: Int): Seq[(Long, Double, Double)] =
          (lo to hi).map(i =>
            (i.toLong, (i * 13 % 256) + 0.5, (i * 29 % 256) + (i % 3) * 1.5 + 0.5))
        val kept = graft.vector.Simplify.keptPidsVW(coords(1, 16), 30.0) ++
          graft.vector.Simplify.keptPidsVW(coords(17, 32), 30.0)
        s"""SELECT (pid - 1) // 16 AS fid, pid, px, py + (pid % 3) * 1.5 AS py
           |FROM ($pts)
           |WHERE pid BETWEEN 1 AND 32 AND pid IN (${kept.mkString(", ")})""".stripMargin
      },

      // the end-to-end dedup ARTIFACT: same components, plus the keep
      // manifest (keep the component representative, drop the rest)
      "q_dedup_keep" ->
        s"""SELECT doc_id, component,
           |  CAST(CASE WHEN component = doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM ($dedupComponentsSql)""".stripMargin,

      // MaxSim late interaction: per-query-vector max cosine over each
      // candidate bag, micro-quantized BEFORE the per-pair sum (an
      // order-free integer addition; raw float sums would be
      // partition-order-dependent)
      "q_maxsim" ->
        """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |q AS (SELECT label AS qlabel, vec_id AS qid, qv AS qvv FROM e WHERE label < 2),
          |d AS (SELECT label AS dlabel, qv AS dv FROM e WHERE label >= 2),
          |s AS (SELECT qlabel, dlabel, qid,
          |        list_dot_product(qvv, dv) / (sqrt(list_dot_product(qvv, qvv)) * sqrt(list_dot_product(dv, dv))) AS cos
          |      FROM q CROSS JOIN d),
          |m AS (SELECT qlabel, dlabel, qid, CAST(round(max(cos) * 1000000.0) AS BIGINT) AS mq FROM s GROUP BY 1, 2, 3)
          |SELECT qlabel, dlabel, CAST(count(*) AS BIGINT) AS n_qvecs,
          |  CAST(sum(mq) AS DOUBLE) / 1000000.0 AS maxsim
          |FROM m GROUP BY 1, 2""".stripMargin,

      // 60-bit signatures; the oracle states the SAME pigeonhole
      // banding + hot-bucket drop the engine runs (a pair whose every
      // shared band is hot must be absent on both sides)
      "q_dedup_simhash" -> {
        val bitSums = (0 until 60).map(b =>
          s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
        val sigExpr = (0 until 60).map(b =>
          s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
        s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           |hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
           |sums AS (SELECT doc_id, $bitSums FROM hh GROUP BY 1),
           |sig AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS sig FROM sums),
           |banded AS (SELECT doc_id, sig, band, (sig >> (band * 15)) & 32767 AS bbits
           |           FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS bd(band)),
           |hot AS (SELECT band, bbits FROM banded GROUP BY 1, 2
           |        HAVING count(*) > ${pipeline.Dedup.SimhashMaxBucket}),
           |bn AS (SELECT banded.* FROM banded ANTI JOIN hot USING (band, bbits))
           |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
           |FROM bn a JOIN bn b ON a.band = b.band AND a.bbits = b.bbits AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
      },

      // hot-label sub-bucket guard mirrored from Similarity.MaxBlock:
      // subkey = vec_id % ceil(label_count / cap), pairs within
      // (label, subkey) only
      "q_dedup_cosine" ->
        s"""WITH q0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |c AS (SELECT label, count(*) AS _c FROM q0 GROUP BY 1),
          |q AS (SELECT q0.vec_id, q0.label, q0.qv,
          |        q0.vec_id % CAST(ceil(c._c / ${pipeline.Similarity.MaxBlock}.0) AS BIGINT) AS subkey
          |      FROM q0 JOIN c USING (label))
          |SELECT a.vec_id AS d1, b.vec_id AS d2,
          |  CAST(round(list_dot_product(a.qv, b.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) * 1000000.0) AS BIGINT) AS cos_u
          |FROM q a JOIN q b ON a.label = b.label AND a.subkey = b.subkey AND a.vec_id < b.vec_id
          |WHERE list_dot_product(a.qv, b.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) >= 0.3""".stripMargin,

      "q_ann_brute" ->
        """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
          |        list_dot_product(a.qv, b.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) AS cos
          |      FROM q a JOIN q b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
          |r AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
          |SELECT qid, nid, CAST(round(cos * 1000000.0) AS BIGINT) AS cos_u, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin,

      // top-5 CTE + vote argmax with the smallest-label tie rule
      "q_knn_label" ->
        """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
          |        list_dot_product(a.qv, b.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) AS cos
          |      FROM q a JOIN q b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
          |r AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s),
          |v AS (SELECT r.qid, e.label, count(*) AS votes
          |      FROM r JOIN embeddings e ON e.vec_id = r.nid WHERE r.rank <= 5 GROUP BY 1, 2),
          |mx AS (SELECT qid, max(votes) AS mv FROM v GROUP BY 1)
          |SELECT v.qid, min(CASE WHEN v.votes = mx.mv THEN v.label END) AS pred_label,
          |  CAST(mx.mv AS BIGINT) AS votes
          |FROM v JOIN mx USING (qid) GROUP BY 1, 3""".stripMargin,

      // ngram containment twin: same distinct 3-gram sets, same
      // asymmetric ratio
      "q_ngram_matrix" ->
        """WITH ws AS (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |ip AS (SELECT source, unnest(range(1, len(w) - 1)) AS i, w FROM ws),
          |g AS (SELECT DISTINCT source, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g FROM ip),
          |t AS (SELECT source, count(*) AS n_a FROM g GROUP BY 1),
          |c AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
          |      FROM g a JOIN g b ON a.g = b.g AND a.source <> b.source
          |      GROUP BY 1, 2)
          |SELECT c.src_a, c.src_b, t.n_a, c.n_common,
          |  CAST(c.n_common AS DOUBLE) / t.n_a AS containment
          |FROM c JOIN t ON t.source = c.src_a""".stripMargin,

      // outlier twin: the same exact-integer m^2*d^2 decomposition
      "q_embed_outliers" ->
        """WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |p AS (SELECT vec_id, label, unnest(range(len(qv))) AS pos, qv FROM q),
          |u AS (SELECT vec_id, label, pos, qv[pos + 1] AS qc FROM p),
          |comp AS (SELECT label, pos, CAST(sum(qc) AS BIGINT) AS s FROM u GROUP BY 1, 2),
          |m AS (SELECT label, CAST(count(*) AS BIGINT) AS m FROM q GROUP BY 1),
          |xv AS (SELECT u.vec_id, u.label,
          |         CAST(sum(u.qc * u.qc) AS BIGINT) AS xx, CAST(sum(u.qc * comp.s) AS BIGINT) AS xs
          |       FROM u JOIN comp ON comp.label = u.label AND comp.pos = u.pos GROUP BY 1, 2),
          |ss AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS ss FROM comp GROUP BY 1),
          |d2 AS (SELECT xv.vec_id, xv.label, m.m * m.m * xv.xx - 2 * m.m * xv.xs + ss.ss AS d2num, m.m AS m
          |       FROM xv JOIN m ON m.label = xv.label JOIN ss ON ss.label = xv.label),
          |r AS (SELECT label, vec_id, d2num, m,
          |        CAST(row_number() OVER (PARTITION BY label ORDER BY d2num DESC, vec_id) AS INT) AS rank FROM d2)
          |SELECT label, rank, vec_id, d2num,
          |  sqrt(CAST(d2num AS DOUBLE)) / (m * CAST(1000.0 AS DOUBLE)) AS dist
          |FROM r WHERE rank <= 3""".stripMargin,

      // contrastive mining twin: same exact-integer cosine, same
      // (cos DESC, nid) rank, pos rank 1 + neg ranks 1..3
      "q_contrastive" ->
        """WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |s AS (SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS nid, b.label AS label,
          |        list_dot_product(a.qv, b.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) AS cos
          |      FROM q a JOIN q b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
          |k AS (SELECT qid, CASE WHEN label = qlabel THEN 'pos' ELSE 'neg' END AS kind, nid, cos FROM s),
          |r AS (SELECT qid, kind, nid, cos,
          |        CAST(row_number() OVER (PARTITION BY qid, kind ORDER BY cos DESC, nid) AS INT) AS rank
          |      FROM k)
          |SELECT qid, kind, rank, nid, CAST(round(cos * 1000000.0) AS BIGINT) AS cos_u
          |FROM r WHERE (kind = 'pos' AND rank = 1) OR (kind = 'neg' AND rank <= 3)""".stripMargin,

      "q_ann_lsh" -> {
        val planes = pipeline.Similarity.planeWeights(8, 64)
        val bucketExpr = planes.zipWithIndex.map { case (p, b) =>
          val arr = p.mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(qv, $arr) >= 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |b0 AS (SELECT vec_id, qv, BUCKET AS bucket FROM q),
          |c AS (SELECT bucket, count(*) AS _c FROM b0 GROUP BY 1),
          |b AS (SELECT b0.vec_id, b0.qv, b0.bucket,
          |        b0.vec_id % CAST(ceil(c._c / ${pipeline.Similarity.MaxBlock}.0) AS BIGINT) AS subkey
          |      FROM b0 JOIN c USING (bucket))
          |SELECT a.vec_id AS d1, b2.vec_id AS d2,
          |  CAST(round(list_dot_product(a.qv, b2.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b2.qv, b2.qv))) * 1000000.0) AS BIGINT) AS cos_u
          |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.subkey = b2.subkey AND a.vec_id < b2.vec_id
          |WHERE list_dot_product(a.qv, b2.qv) / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b2.qv, b2.qv))) >= 0.25""".stripMargin
          .replace("BUCKET", bucketExpr)
      },

      // the semantic ingest gate: the IVF probe restated over the
      // BASE-only index (centroids and lists exclude the delta), then
      // a threshold count per delta vector — (cos DESC, cid) probe
      // order == the engine's (-cos, cid) ascending HOF sort
      "q_semdedup_gate" ->
        """WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nn FROM q0),
          |b AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
          |c AS (SELECT vec_id AS cid, qv AS cv, nn AS cn FROM b WHERE vec_id % 37 = 0),
          |asg AS (SELECT vec_id, cid, qv, nn FROM (
          |  SELECT v.vec_id, c.cid, v.qv, v.nn,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM b v, c) WHERE rn = 1),
          |probes AS (SELECT qid, q_qv, q_nn, cid FROM (
          |  SELECT v.vec_id AS qid, v.qv AS q_qv, v.nn AS q_nn, c.cid,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c WHERE v.vec_id % 50 = 0) WHERE rn <= 3),
          |m AS (SELECT p.qid, count(*) AS n, min(a.vec_id) AS mid
          |      FROM probes p JOIN asg a ON a.cid = p.cid
          |      WHERE CAST(round(list_dot_product(p.q_qv, a.qv) / (p.q_nn * a.nn) * 1000000.0) AS BIGINT) >= 950000
          |      GROUP BY 1)
          |SELECT d.vec_id, CAST(coalesce(m.n, 0) AS BIGINT) AS n_matches,
          |  CAST(coalesce(m.mid, -1) AS BIGINT) AS match_id
          |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0) d
          |LEFT JOIN m ON m.qid = d.vec_id""".stripMargin,

      "q_ann_ivf" ->
        """WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nn FROM q0),
          |c AS (SELECT vec_id AS cid, qv AS cv, nn AS cn FROM e WHERE vec_id % 37 = 0),
          |asg AS (SELECT vec_id, cid, qv, nn FROM (
          |  SELECT v.vec_id, c.cid, v.qv, v.nn,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c) WHERE rn = 1),
          |probes AS (SELECT qid, q_qv, q_nn, cid FROM (
          |  SELECT v.vec_id AS qid, v.qv AS q_qv, v.nn AS q_nn, c.cid,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c WHERE v.vec_id % 50 = 0) WHERE rn <= 3),
          |s AS (SELECT p.qid, a.vec_id AS nid,
          |        list_dot_product(p.q_qv, a.qv) / (p.q_nn * a.nn) AS cos
          |      FROM probes p JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid)
          |SELECT qid, nid, CAST(round(cos * 1000000.0) AS BIGINT) AS cos_u, CAST(rank AS BIGINT) AS rank FROM (
          |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
          |WHERE rank <= 5""".stripMargin,

      // recall@5: the brute and IVF chains side by side, membership
      // joined on (qid, nid)
      "q_ann_recall" ->
        """WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nn FROM q0),
          |c AS (SELECT vec_id AS cid, qv AS cv, nn AS cn FROM e WHERE vec_id % 37 = 0),
          |asg AS (SELECT vec_id, cid, qv, nn FROM (
          |  SELECT v.vec_id, c.cid, v.qv, v.nn,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c) WHERE rn = 1),
          |probes AS (SELECT qid, q_qv, q_nn, cid FROM (
          |  SELECT v.vec_id AS qid, v.qv AS q_qv, v.nn AS q_nn, c.cid,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c WHERE v.vec_id % 50 = 0) WHERE rn <= 3),
          |ivs AS (SELECT p.qid, a.vec_id AS nid,
          |        list_dot_product(p.q_qv, a.qv) / (p.q_nn * a.nn) AS cos
          |      FROM probes p JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
          |ivf AS (SELECT qid, nid FROM (
          |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM ivs)
          |  WHERE rank <= 5),
          |bs AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
          |        list_dot_product(a.qv, b.qv) / (a.nn * b.nn) AS cos
          |      FROM e a JOIN e b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
          |brute AS (SELECT qid, nid FROM (
          |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bs)
          |  WHERE rank <= 5)
          |SELECT b.qid, CAST(count(*) AS BIGINT) AS n_exact,
          |  CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          |  CAST(CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / count(*) AS recall
          |FROM brute b LEFT JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid
          |GROUP BY 1""".stripMargin,

      // JSON props rollup: exact integer k, one closing division
      "q_props_stats" ->
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
          |  CAST(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) AS k_avg
          |FROM events GROUP BY 1""".stripMargin,

      "q_ann_pq" ->
        """WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |subs AS (SELECT vec_id, s, list_transform(range(8), j -> qv[CAST(s * 8 + j + 1 AS INT)]) AS sv
          |         FROM q0, (SELECT unnest(range(8)) AS s)),
          |cb AS (SELECT s, vec_id AS cid, sv AS cv FROM subs WHERE vec_id % 37 = 0),
          |enc AS (SELECT vec_id, s, cid AS code FROM (
          |  SELECT subs.vec_id, subs.s, cb.cid,
          |    row_number() OVER (PARTITION BY subs.vec_id, subs.s
          |      ORDER BY list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv) + list_dot_product(cv, cv), cb.cid) AS rn
          |  FROM subs JOIN cb ON subs.s = cb.s) WHERE rn = 1),
          |qd AS (SELECT subs.vec_id AS qid, subs.s, cb.cid AS code,
          |         list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv) + list_dot_product(cv, cv) AS d
          |       FROM subs JOIN cb ON subs.s = cb.s WHERE subs.vec_id % 50 = 0)
          |SELECT qid, nid, adist, CAST(rank AS BIGINT) AS rank FROM (
          |  SELECT qid, nid, adist, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM (
          |    SELECT qd.qid, enc.vec_id AS nid, CAST(sum(d) AS BIGINT) AS adist
          |    FROM enc JOIN qd ON enc.s = qd.s AND enc.code = qd.code
          |    WHERE enc.vec_id <> qd.qid GROUP BY 1, 2))
          |WHERE rank <= 5""".stripMargin,

      "q_embed_cluster" ->
        """WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nn FROM q0),
          |c AS (SELECT vec_id AS cid, qv AS cv, nn AS cn FROM e WHERE vec_id % 37 = 0)
          |SELECT vec_id, cid, CAST(round(cos * 1000000.0) AS BIGINT) AS cos_u FROM (
          |  SELECT v.vec_id, c.cid, list_dot_product(v.qv, c.cv) / (v.nn * c.cn) AS cos,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c) WHERE rn = 1""".stripMargin,

      // two unrolled Lloyd rounds; distances exact integer L2^2, the
      // mean requantized by floor((2s+n)/2n) — the engine's arithmetic
      // restated verbatim
      "q_kmeans" -> {
        def assignSql(cents: String, out: String) =
          s"""$out AS (SELECT vec_id, cid, d FROM (
             |  SELECT v.vec_id, c.cid,
             |    CAST(v.vv - 2 * list_dot_product(v.qv, c.cv) + list_dot_product(c.cv, c.cv) AS BIGINT) AS d,
             |    row_number() OVER (PARTITION BY v.vec_id
             |      ORDER BY v.vv - 2 * list_dot_product(v.qv, c.cv) + list_dot_product(c.cv, c.cv), c.cid) AS rn
             |  FROM e v, $cents c) WHERE rn = 1)""".stripMargin
        def mstepSql(asg: String, out: String) =
          s"""${out}m AS (SELECT a.cid, r.i AS i,
             |    CAST(floor((2.0 * sum(e.qv[CAST(r.i AS INTEGER)]) + count(*)) / (2 * count(*))) AS BIGINT) AS comp
             |  FROM $asg a JOIN e ON e.vec_id = a.vec_id, range(1, 65) r(i) GROUP BY a.cid, r.i),
             |$out AS (SELECT cid, list(comp ORDER BY i) AS cv FROM ${out}m GROUP BY cid)""".stripMargin
        s"""WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
           |e AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM q0),
           |c0 AS (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id % 37 = 0),
           |${assignSql("c0", "a0")},
           |${mstepSql("a0", "c1")},
           |${assignSql("c1", "a1")},
           |${mstepSql("a1", "c2")},
           |${assignSql("c2", "a2")}
           |SELECT vec_id, cid, d FROM a2""".stripMargin
      },

      "q_random_project" -> {
        val branches = pipeline.Similarity.planeWeights(16, 64).zipWithIndex
          .map { case (p, j) =>
            s"SELECT vec_id, CAST($j AS BIGINT) AS j, CAST(list_dot_product(qv, ${p.mkString("[", ", ", "]")}) AS BIGINT) AS y FROM q"
          }.mkString("\nUNION ALL ")
        s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings)
           |$branches""".stripMargin
      },

      // embed_cluster assignment -> hot-cluster subkey (MaxBlock
      // mirror) -> ordered within-cluster eps-pair sweep -> anti-join
      "q_semdedup" ->
        s"""WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings),
          |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nn FROM q0),
          |c AS (SELECT vec_id AS cid, qv AS cv, nn AS cn FROM e WHERE vec_id % 37 = 0),
          |asg AS (SELECT vec_id, cid, CAST(round(cos * 1000000.0) AS BIGINT) AS ccos FROM (
          |  SELECT v.vec_id, c.cid, list_dot_product(v.qv, c.cv) / (v.nn * c.cn) AS cos,
          |    row_number() OVER (PARTITION BY v.vec_id
          |      ORDER BY list_dot_product(v.qv, c.cv) / (v.nn * c.cn) DESC, c.cid) AS rn
          |  FROM e v, c) WHERE rn = 1),
          |j AS (SELECT asg.vec_id, asg.cid, asg.ccos, e.qv, e.nn FROM asg JOIN e USING (vec_id)),
          |cnt AS (SELECT cid, count(*) AS _c FROM j GROUP BY 1),
          |b AS (SELECT j.*, j.vec_id % CAST(ceil(cnt._c / ${pipeline.Similarity.MaxBlock}.0) AS BIGINT) AS subkey
          |      FROM j JOIN cnt USING (cid)),
          |drp AS (SELECT DISTINCT b2.vec_id FROM b a JOIN b b2
          |  ON a.cid = b2.cid AND a.subkey = b2.subkey
          |  AND (a.ccos > b2.ccos OR (a.ccos = b2.ccos AND a.vec_id < b2.vec_id))
          |  WHERE list_dot_product(a.qv, b2.qv) / (a.nn * b2.nn) >= 0.2)
          |SELECT vec_id, cid, ccos FROM j
          |WHERE vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin,

      // --- pipeline: corpus curation
      "q_sample_hash" ->
        """SELECT doc_id, source FROM documents
          |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 100""".stripMargin,

      // the same id-hash permille cut into three named buckets
      "q_split" ->
        """SELECT doc_id,
          |  CASE WHEN pm < 900 THEN 'train' WHEN pm < 950 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS pm
          |  FROM documents)""".stripMargin,

      // probe tokens -> min over their depth cells (0 for never-hashed)
      "q_cms_estimate" ->
        """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
          |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
          |cells AS (SELECT j.j, ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || c.w), 1, 15))::BIGINT % 256 AS b,
          |         CAST(sum(c.cnt) AS BIGINT) AS cnt
          |       FROM c, (SELECT unnest(range(4)) AS j) j GROUP BY 1, 2),
          |p AS (SELECT tok.token, j.j,
          |        ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok.token), 1, 15))::BIGINT % 256 AS b
          |      FROM (VALUES ('the'), ('spark'), ('table'), ('zzzNeverSeen')) tok(token),
          |           (SELECT unnest(range(4)) AS j) j)
          |SELECT p.token, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
          |FROM p LEFT JOIN cells ON cells.j = p.j AND cells.b = p.b
          |GROUP BY 1""".stripMargin,

      "q_sample_strat" ->
        """SELECT doc_id, source FROM documents
          |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 <
          |  CASE CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 4
          |    WHEN 0 THEN 400 WHEN 1 THEN 200 WHEN 2 THEN 100 ELSE 0 END""".stripMargin,

      // copies = floor(rate/1000) + (id-hash bucket < rate % 1000);
      // generate_series(1, 0) is empty in DuckDB, matching the
      // engine's empty-array gate
      "q_upsample" ->
        """WITH r AS (SELECT doc_id, source,
          |  CAST(CASE CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 4
          |    WHEN 0 THEN 2500 WHEN 1 THEN 1500 WHEN 2 THEN 1000 ELSE 400 END AS BIGINT) AS rate,
          |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS b
          |FROM documents)
          |SELECT doc_id, source,
          |  unnest(generate_series(1, rate // 1000 + CASE WHEN b < rate % 1000 THEN 1 ELSE 0 END)) AS copy
          |FROM r""".stripMargin,

      "q_pack_sequences" ->
        s"""WITH t AS (SELECT doc_id, source,
           |  ${pipeline.Bpe.countSql("text")} AS n_tokens
           |  FROM documents),
           |p AS (SELECT doc_id, source, n_tokens,
           |  COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _start
           |  FROM t)
           |SELECT doc_id, source, n_tokens,
           |  CAST(_start // 2048 AS BIGINT) AS pack_id,
           |  CAST(_start % 2048 AS BIGINT) AS pack_offset
           |FROM p""".stripMargin,

      // the span manifest: same prefix sum, one row per covered pack
      // with the in-sequence [start, start+len) slice
      "q_pack_spans" ->
        s"""WITH t AS (SELECT doc_id, source,
           |  ${pipeline.Bpe.countSql("text")} AS n_tokens
           |  FROM documents),
           |p AS (SELECT doc_id, source, n_tokens,
           |  COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _start
           |  FROM t),
           |s AS (SELECT * FROM p WHERE n_tokens > 0),
           |x AS (SELECT doc_id, source, _start, n_tokens,
           |  unnest(generate_series(CAST(_start // 2048 AS BIGINT),
           |                         CAST((_start + n_tokens - 1) // 2048 AS BIGINT))) AS pk
           |  FROM s)
           |SELECT doc_id, source, CAST(pk AS BIGINT) AS pack_id,
           |  CAST(greatest(_start, pk * 2048) - pk * 2048 AS BIGINT) AS span_start,
           |  CAST(least(_start + n_tokens, (pk + 1) * 2048)
           |       - greatest(_start, pk * 2048) AS BIGINT) AS span_len
           |FROM x""".stripMargin,

      "q_mixture_rates" ->
        s"""WITH t AS (SELECT source,
           |  CAST(sum(${pipeline.Bpe.countSql("text")}) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |m AS (SELECT max(n_tokens) AS mx FROM t)
           |SELECT source, n_tokens,
           |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / mx) * 1000) AS BIGINT) AS permille
           |FROM t, m""".stripMargin,

      "q_chunk_docs" ->
        s"""WITH j AS (SELECT doc_id, ${pipeline.Bpe.joinedSql("text")} AS jt FROM documents),
          |d AS (SELECT doc_id, string_split(jt, ' ') AS toks FROM j WHERE jt <> ''),
          |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d WHERE len(toks) > 0),
          |c AS (SELECT doc_id, toks, n,
          |  unnest(range(0, 1 + greatest(0, (n - 32 + 23) // 24))) AS chunk_id FROM n)
          |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
          |  CAST(len(list_slice(toks, chunk_id * 24 + 1, least(chunk_id * 24 + 32, n))) AS BIGINT) AS n_tokens,
          |  md5(array_to_string(list_slice(toks, chunk_id * 24 + 1, least(chunk_id * 24 + 32, n)), ' ')) AS chunk_fp
          |FROM c""".stripMargin,

      // --- pipeline: text analysis
      "q_token_count" ->
        s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS ws_tokens,
          |${pipeline.Bpe.countSql("text")} AS bpe_tokens
          |FROM documents""".stripMargin,

      "q_bpe_tokens" ->
        s"""SELECT doc_id, ${pipeline.Bpe.countSql("text")} AS n_bpe,
          |md5(${pipeline.Bpe.joinedSql("text")}) AS fp
          |FROM documents""".stripMargin,

      "q_bpe_train" -> pipeline.Bpe.trainSql(8),

      "q_quality_score" ->
        """SELECT doc_id, n_chars,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
          |  CAST(round((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS punct_ratio_u,
          |  CAST(round((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|in|and|is|was|for|on|with)\b')) AS DOUBLE)
          |        / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS stop_ratio_u
          |FROM documents""".stripMargin,

      "q_lang_id" -> langIdSql,

      // declared-vs-predicted crosstab over the shared langid SQL
      "q_lang_confusion" ->
        s"""WITH p AS ($langIdSql)
           |SELECT d.lang, p.pred_lang, count(*) AS n_docs
           |FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2""".stripMargin,

      "q_corpus_stats" ->
        """WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
          |d AS (SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
          |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM documents),
          |t AS (SELECT count(*) AS n_tokens, CAST(count(DISTINCT w) AS BIGINT) AS n_vocab FROM w)
          |SELECT * FROM d, t""".stripMargin,

      // identical formula text as the engine's expr() — the
      // shared-SQL-text contract (sinu/utm precedent)
      "q_geodesic_area" ->
        s"""SELECT pid, ${uqSql(graft.vector.Measures.diamondAreaSql(0.5), "10000.0")} AS area_km2_u
           |FROM ($lonlat)""".stripMargin,

      "q_quality_filter" ->
        """SELECT doc_id FROM (
          |  SELECT doc_id, n_chars,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
          |    CAST(round((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS punct_ratio_u,
          |    CAST(round((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|in|and|is|was|for|on|with)\b')) AS DOUBLE)
          |          / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT) AS stop_ratio_u
          |  FROM documents)
          |WHERE n_chars >= 100 AND n_chars <= 20000 AND n_tokens >= 10
          |  AND punct_ratio_u <= 100000 AND stop_ratio_u >= 10000""".stripMargin,

      "q_fingerprint" ->
        "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents",

      // leakage-safe split: the q_split CASE over the CONTENT
      // fingerprint permille instead of the id permille
      "q_split_safe" ->
        """SELECT doc_id,
          |  CASE WHEN pm < 900 THEN 'train' WHEN pm < 950 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |  ('0x' || substr(md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')), 1, 15))::BIGINT % 1000 AS pm
          |FROM documents)""".stripMargin,

      // audio fingerprints: window energies from the closed sample
      // form, energy-delta bits, brute pairwise hamming (the engine's
      // banded join must find exactly the ≤ maxDist set)
      "q_audio_dedup" ->
        """WITH d AS (SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
          |      FROM documents WHERE (doc_id // 4) % 199 = 0),
          |sm AS (SELECT doc_id, w.range AS w,
          |        CAST(((base * 7 + (w.range * 4 + o.range) * 13 +
          |          CASE WHEN v > 0 AND w.range * 4 + o.range = 17 * v THEN 101 ELSE 0 END) % 256 - 128) * 256 AS BIGINT) AS s
          |      FROM d, range(0, 33) w, range(0, 4) o),
          |e AS (SELECT doc_id, w, sum(s * s) AS en FROM sm GROUP BY 1, 2),
          |b AS (SELECT doc_id, w,
          |        CASE WHEN lead(en) OVER (PARTITION BY doc_id ORDER BY w) > en THEN 1 ELSE 0 END AS bit
          |      FROM e QUALIFY w < 32),
          |p AS (SELECT a.doc_id AS d1, b2.doc_id AS d2,
          |        CAST(sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
          |      FROM b a JOIN b b2 ON b2.w = a.w AND a.doc_id < b2.doc_id
          |      GROUP BY 1, 2)
          |SELECT d1, d2, hamming FROM p WHERE hamming <= 7""".stripMargin,

      "q_pii_redact" ->
        """WITH d AS (SELECT doc_id,
          |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.' ||
          |  CAST(doc_id % 200 AS VARCHAR) || '.7 or +1555000' ||
          |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
          |  CAST(len(regexp_extract_all(text, '\+[0-9]{9,15}')) AS BIGINT) AS n_phones,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          |    '\+[0-9]{9,15}', '<PHONE>', 'g') AS redacted
          |FROM d""".stripMargin,

      "q_lm_score" ->
        """WITH w AS (SELECT doc_id, t AS w FROM (
          |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
          |    FROM documents)),
          |v AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nv FROM v),
          |lp AS (SELECT w, CAST(round(ln((cnt + 1.0) / (total + nv)) * 1000000.0) AS BIGINT) AS lp_q
          |       FROM v, tot),
          |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(lp_q) AS BIGINT) AS s
          |      FROM w JOIN lp USING (w) GROUP BY 1)
          |SELECT doc_id, n_tokens, -s / (n_tokens * 1000000.0) AS nll FROM d""".stripMargin,

      // bigram twin: (prev, word) pairs with a <s> BOS context,
      // p(w|prev) = (c(prev,w)+1)/(c(prev)+V), per-pair micro-nats
      "q_bigram_lm" ->
        """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |pr AS (SELECT doc_id,
          |         unnest(list_transform(range(1, len(w) + 1), i ->
          |           struct_pack(p := CASE WHEN i = 1 THEN '<s>' ELSE w[i - 1] END, t := w[i]))) AS pr
          |       FROM ws WHERE len(w) >= 1),
          |pp AS (SELECT doc_id, pr.p AS p, pr.t AS t FROM pr),
          |pc AS (SELECT p, t, count(*) AS cnt FROM pp GROUP BY 1, 2),
          |cc AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS cp FROM pc GROUP BY 1),
          |vv AS (SELECT count(DISTINCT t) AS nv FROM pc),
          |lp AS (SELECT pc.p, pc.t,
          |         CAST(round(ln((pc.cnt + 1.0) / (cc.cp + vv.nv)) * 1000000.0) AS BIGINT) AS lp_q
          |       FROM pc JOIN cc USING (p), vv),
          |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(lp_q) AS BIGINT) AS s
          |      FROM pp JOIN lp USING (p, t) GROUP BY 1)
          |SELECT doc_id, n_tokens, -s / (n_tokens * 1000000.0) AS nll FROM d""".stripMargin,

      // per-(doc, char) c*ln(c) terms micro-quantized BEFORE the doc
      // sum (order-free); ln(n) + one division at the end, round 5
      "q_char_entropy" ->
        """WITH c AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS ch FROM documents),
          |g AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
          |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, CAST(count(*) AS BIGINT) AS n_distinct,
          |      CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
          |      FROM g GROUP BY 1)
          |SELECT doc_id, n_chars, n_distinct,
          |  round(CAST(CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000.0) AS BIGINT) * n_chars - s AS DOUBLE)
          |    / (CAST(n_chars AS DOUBLE) * 1000000.0), 5) AS entropy
          |FROM d""".stripMargin,

      // PMI over adjacent bigrams: exact counts, one ln at the end
      // with a pinned division order, minCount floor instead of top-k.
      // Output is micro-nat BIGINT (lm_score precedent): the hashed
      // column is integer, so a libm ulp can only flip it AT a .5
      // micro boundary — distance guarded by LibmBoundarySpec.
      "q_pmi" ->
        """WITH ws AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |uni AS (SELECT t AS a, count(*) AS ca FROM (SELECT unnest(w) AS t FROM ws) GROUP BY 1),
          |n AS (SELECT CAST(sum(ca) AS BIGINT) AS n FROM uni),
          |pt AS (SELECT CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS p FROM ws),
          |ip AS (SELECT unnest(range(1, len(w))) AS i, w FROM ws),
          |pairs AS (SELECT w[i] AS a, w[i + 1] AS b, count(*) AS cab FROM ip GROUP BY 1, 2),
          |f AS (SELECT * FROM pairs WHERE cab >= 5)
          |SELECT f.a, f.b, f.cab,
          |  CAST(round(ln((CAST(f.cab AS DOUBLE) / pt.p) /
          |    ((CAST(ua.ca AS DOUBLE) / n.n) * (CAST(ub.ca AS DOUBLE) / n.n))) * 1000000.0) AS BIGINT) AS pmi_micro
          |FROM f JOIN uni ua ON ua.a = f.a JOIN uni ub ON ub.a = f.b, n, pt""".stripMargin,

      // JM-interpolated LM: the q_bigram_lm pair machinery with the
      // interpolated per-token probability, identical op order
      "q_jm_lm" ->
        """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |pr AS (SELECT doc_id,
          |         unnest(list_transform(range(1, len(w) + 1), i ->
          |           struct_pack(p := CASE WHEN i = 1 THEN '<s>' ELSE w[i - 1] END, t := w[i]))) AS pr
          |       FROM ws WHERE len(w) >= 1),
          |pp AS (SELECT doc_id, pr.p AS p, pr.t AS t FROM pr),
          |pc AS (SELECT p, t, count(*) AS cab FROM pp GROUP BY 1, 2),
          |cc AS (SELECT p, CAST(sum(cab) AS BIGINT) AS cp FROM pc GROUP BY 1),
          |un AS (SELECT t, count(*) AS ca FROM pp GROUP BY 1),
          |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nv FROM un),
          |lp AS (SELECT pc.p, pc.t,
          |         CAST(round(ln(CAST(0.75 AS DOUBLE) * (CAST(pc.cab AS DOUBLE) / cc.cp) +
          |           CAST(0.25 AS DOUBLE) * ((un.ca + CAST(1 AS DOUBLE)) / (tt.n + tt.nv))) * 1000000.0) AS BIGINT) AS lp_q
          |       FROM pc JOIN cc USING (p) JOIN un ON un.t = pc.t, tt),
          |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(lp_q) AS BIGINT) AS s
          |      FROM pp JOIN lp USING (p, t) GROUP BY 1)
          |SELECT doc_id, n_tokens, -s / (n_tokens * 1000000.0) AS nll_jm FROM d""".stripMargin,

      // fertility: exact counts, one division per ratio
      "q_fertility" ->
        s"""WITH d AS (SELECT source,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS wsc,
           |  ${pipeline.Bpe.countSql("text")} AS bpec,
           |  CAST(length(text) AS BIGINT) AS nc
           |  FROM documents),
           |a AS (SELECT source, CAST(sum(wsc) AS BIGINT) AS ws_tokens,
           |        CAST(sum(bpec) AS BIGINT) AS bpe_tokens, CAST(sum(nc) AS BIGINT) AS n_chars
           |      FROM d GROUP BY 1)
           |SELECT source, ws_tokens, bpe_tokens,
           |  CAST(bpe_tokens AS DOUBLE) / ws_tokens AS fertility,
           |  CAST(n_chars AS DOUBLE) / bpe_tokens AS chars_per_token
           |FROM a""".stripMargin,

      // skip-gram SPPMI twin: same pair universe (symmetric union,
      // offsets 1..2), same marginal convention, same op order in the
      // ln chain; the ln(5) shift is the SAME driver-side micro
      // constant on both sides so the subtraction is exact
      "q_skipgram" -> {
        val shiftMicro = math.round(math.log(5.0) * 1000000.0)
        s"""WITH ws AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
           |ip AS (SELECT unnest(range(1, len(w) + 1)) AS i, w FROM ws),
           |ord AS (
           |  SELECT w[i] AS a, w[i + 1] AS b FROM ip WHERE i + 1 <= len(w)
           |  UNION ALL
           |  SELECT w[i] AS a, w[i + 2] AS b FROM ip WHERE i + 2 <= len(w)),
           |sym AS (SELECT a, b FROM ord UNION ALL SELECT b AS a, a AS b FROM ord),
           |cooc AS (SELECT a, b, count(*) AS cab FROM sym GROUP BY 1, 2),
           |marg AS (SELECT a, count(*) AS ca FROM sym GROUP BY 1),
           |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM sym),
           |f AS (SELECT * FROM cooc WHERE cab >= 5),
           |q AS (SELECT f.a, f.b, f.cab,
           |  CAST(round(ln((CAST(f.cab AS DOUBLE) / dd.d) /
           |    ((CAST(ma.ca AS DOUBLE) / dd.d) * (CAST(mb.ca AS DOUBLE) / dd.d))) * 1000000.0) AS BIGINT) AS pmi_micro
           |  FROM f JOIN marg ma ON ma.a = f.a JOIN marg mb ON mb.a = f.b, dd)
           |SELECT a, b, cab, pmi_micro,
           |  greatest(CAST(0 AS BIGINT), pmi_micro - $shiftMicro) AS sppmi_micro
           |FROM q""".stripMargin
      },

      // OOV twin: same top-20 frequency vocabulary (cnt DESC, token
      // ASC tie-break), exact integer counts, ONE closing division
      "q_oov_rate" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
          |v AS (SELECT t FROM (SELECT t, count(*) AS cnt FROM t GROUP BY 1)
          |      ORDER BY cnt DESC, t ASC LIMIT 20),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(CASE WHEN t.t IN (SELECT t FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
          |      FROM t GROUP BY 1)
          |SELECT doc_id, n_tokens, n_oov,
          |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
          |FROM a""".stripMargin,

      // same wrap as the engine query, then the same pinned strip
      // order: script/style -> tags -> entities (&amp; last) -> ws
      "q_html_extract" ->
        """WITH d AS (SELECT doc_id,
          |  '<html><head><script type="text/javascript">var x = 1 < 2;</script>' ||
          |  '<style>p { color: red; }</style></head><body><h1>' || source ||
          |  '</h1>' || chr(10) || '<p>' || text ||
          |  '</p>' || chr(10) || '<div>&amp;copy &lt;b&gt;bold&#39;s&quot; &gt;</div></body></html>' AS html
          |  FROM documents),
          |s AS (SELECT doc_id, trim(regexp_replace(
          |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |  regexp_replace(regexp_replace(regexp_replace(html,
          |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |    '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          |    '<[^>]*>', ' ', 'g'),
          |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
          |    '&#39;', chr(39), 'g'), '&amp;', '&', 'g'),
          |  '\s+', ' ', 'g')) AS clean FROM d)
          |SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_clean, md5(clean) AS h
          |FROM s""".stripMargin,

      // lm_score nll re-ranked into per-source thirds; bucket is
      // explicit integer math, mean aggregates the micro-nat scores
      "q_ppl_buckets" ->
        """WITH w AS (SELECT doc_id, t AS w FROM (
          |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
          |    FROM documents)),
          |v AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nv FROM v),
          |lp AS (SELECT w, CAST(round(ln((cnt + 1.0) / (total + nv)) * 1000000.0) AS BIGINT) AS lp_q
          |       FROM v, tot),
          |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(lp_q) AS BIGINT) AS s
          |      FROM w JOIN lp USING (w) GROUP BY 1),
          |sc AS (SELECT d.doc_id, doc.source, -s / (n_tokens * 1000000.0) AS nll,
          |         CAST(round(-s / (n_tokens * 1000000.0) * 1000000.0) AS BIGINT) AS nll_q
          |       FROM d JOIN documents doc USING (doc_id)),
          |r AS (SELECT source, nll_q,
          |        row_number() OVER (PARTITION BY source ORDER BY nll, doc_id) AS r,
          |        count(*) OVER (PARTITION BY source) AS n_src FROM sc)
          |SELECT source, (r - 1) * 3 // n_src AS bucket, count(*) AS n_docs,
          |  CAST(round(CAST(sum(nll_q) AS DOUBLE) / count(*) / 10.0) AS BIGINT) AS mean_nll_u
          |FROM r GROUP BY 1, 2""".stripMargin,

      // the threshold-sketch degrade: same scoring CTEs, then the
      // milli-nat histogram -> cumulative counts -> cross-multiplied
      // tercile thresholds -> value-bucketing (engine chain verbatim)
      "q_ppl_buckets_degrade" ->
        """WITH w AS (SELECT doc_id, t AS w FROM (
          |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
          |    FROM documents)),
          |v AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nv FROM v),
          |lp AS (SELECT w, CAST(round(ln((cnt + 1.0) / (total + nv)) * 1000000.0) AS BIGINT) AS lp_q
          |       FROM v, tot),
          |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(lp_q) AS BIGINT) AS s
          |      FROM w JOIN lp USING (w) GROUP BY 1),
          |sc AS (SELECT d.doc_id, doc.source, -s / (n_tokens * 1000000.0) AS nll,
          |         CAST(round(-s / (n_tokens * 1000000.0) * 1000000.0) AS BIGINT) AS nll_q
          |       FROM d JOIN documents doc USING (doc_id)),
          |c AS (SELECT source, nll_q,
          |        CAST(round(nll * 1000.0) AS BIGINT) AS c_q FROM sc),
          |sk AS (SELECT source, c_q, count(*) AS cnt FROM c GROUP BY 1, 2),
          |cu AS (SELECT source, c_q,
          |         sum(cnt) OVER (PARTITION BY source ORDER BY c_q
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |       FROM sk),
          |ns AS (SELECT source, count(*) AS n_src FROM sc GROUP BY 1),
          |th AS (SELECT cu.source,
          |         min(CASE WHEN cum * 3 >= n_src THEN c_q END) AS t1,
          |         min(CASE WHEN cum * 3 >= n_src * 2 THEN c_q END) AS t2
          |       FROM cu JOIN ns USING (source) GROUP BY 1),
          |b AS (SELECT c.source,
          |        CASE WHEN c_q < t1 THEN 0 WHEN c_q < t2 THEN 1 ELSE 2 END AS bucket,
          |        nll_q
          |      FROM c JOIN th USING (source))
          |SELECT source, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
          |  CAST(round(CAST(sum(nll_q) AS DOUBLE) / count(*) / 10.0) AS BIGINT) AS mean_nll_u
          |FROM b GROUP BY 1, 2""".stripMargin,

      "q_cms_sketch" ->
        """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
          |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
          |h AS (SELECT j.j, ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || c.w), 1, 15))::BIGINT % 256 AS b, c.cnt
          |      FROM c, (SELECT unnest(range(4)) AS j) j)
          |SELECT CAST(j AS BIGINT) AS j, b, CAST(sum(cnt) AS BIGINT) AS cnt
          |FROM h GROUP BY 1, 2""".stripMargin,

      "q_hll_estimate" ->
        """WITH w AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
          |h AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
          |regs0 AS (SELECT h % 64 AS bucket,
          |    max(CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END) AS rho
          |  FROM h GROUP BY 1),
          |regs AS (SELECT b.range AS bucket, CAST(coalesce(regs0.rho, 0) AS BIGINT) AS rho
          |         FROM range(0, 64) b LEFT JOIN regs0 ON regs0.bucket = b.range),
          |a AS (SELECT sum(1::BIGINT << CAST(55 - rho AS INTEGER)) AS z,
          |             sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros FROM regs)
          |SELECT CAST(round((CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0 / z <= 160.0 AND zeros > 0
          |  THEN 64.0 * ln(64.0 / zeros)
          |  ELSE CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0 / z END) * 100000.0) AS BIGINT) AS est_u
          |FROM a""".stripMargin,

      // keeper = min packed (doc_id << 32 | off) per span hash; the
      // removal list is every other occurrence of a cnt > 1 span
      "q_dedup_spans" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          |s0 AS (SELECT doc_id, unnest(range(1, len(toks) - 8)) AS i, toks FROM t WHERE len(toks) >= 10),
          |s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS off,
          |        ('0x' || substr(md5(array_to_string(toks[i : i + 9], ' ')), 1, 15))::BIGINT AS h,
          |        doc_id * 4294967296 + (i - 1) AS key
          |      FROM s0),
          |a AS (SELECT h, count(*) AS cnt, min(key) AS minkey FROM s GROUP BY 1)
          |SELECT s.doc_id, s.off FROM s JOIN a USING (h)
          |WHERE a.cnt > 1 AND s.key <> a.minkey""".stripMargin,

      // bucket = h mod 64, rem = h // 64, rho = 55 - bitlength(rem)
      // (55 when rem = 0); every bucket emits (absent -> 0)
      "q_hll_sketch" ->
        """WITH w AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
          |h AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
          |regs AS (SELECT h % 64 AS bucket,
          |    max(CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END) AS rho
          |  FROM h GROUP BY 1)
          |SELECT b.range AS bucket, CAST(coalesce(regs.rho, 0) AS BIGINT) AS rho
          |FROM range(0, 64) b LEFT JOIN regs ON regs.bucket = b.range""".stripMargin,

      "q_gopher_filter" -> {
        val stopSum = pipeline.TextAnalysis.GopherStops
          .map(w => s"(CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH m AS (SELECT doc_id,
           |  CAST(len(w) AS BIGINT) AS n_words,
           |  CAST(length(array_to_string(w, '')) AS BIGINT) AS tot_len,
           |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
           |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
           |  CAST($stopSum AS BIGINT) AS stop_types
           |  FROM (SELECT doc_id, text, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w FROM documents))
           |SELECT doc_id FROM m
           |WHERE n_words >= 50 AND n_words <= 100000
           |  AND CAST(tot_len AS DOUBLE) / n_words >= 3.0
           |  AND CAST(tot_len AS DOUBLE) / n_words <= 10.0
           |  AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
           |  AND CAST(alpha_words AS DOUBLE) / n_words >= 0.8
           |  AND stop_types >= 1""".stripMargin
      },

      "q_url_stats" ->
        """WITH inj AS (SELECT doc_id,
          |  text || ' see https://wWw.Site' || CAST(doc_id % 7 AS VARCHAR) ||
          |  '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
          |  ' and http://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
          |  '.example.net:8080/x?y=1' AS text FROM documents),
          |u AS (SELECT doc_id,
          |        unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ ]*)?')) AS url
          |      FROM inj),
          |h AS (SELECT doc_id,
          |        regexp_replace(lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)), '^www\.', '') AS host
          |      FROM u)
          |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |FROM h GROUP BY 1""".stripMargin,

      "q_c4_filter" ->
        """WITH inj AS (SELECT doc_id,
          |  substr(text, 1, 120) || '.' || chr(10) ||
          |  substr(text, 121, 90) || chr(10) ||
          |  substr(text, 211, 70) || '!' || chr(10) ||
          |  'tiny one.' || chr(10) ||
          |  CASE WHEN doc_id % 7 = 0 THEN 'Code sample { x = 1 } appears here today.'
          |       ELSE 'A perfectly good closing sentence with many words?' END || chr(10) ||
          |  CASE WHEN doc_id % 13 = 0 THEN 'Standard lorem ipsum filler text goes right here.'
          |       ELSE 'Final words of the page end here.' END || chr(10) ||
          |  CASE WHEN doc_id % 5 = 0 THEN 'This line mentions javascript so it must go away.'
          |       ELSE 'Seven more words complete this very document nicely.' END AS text
          |  FROM documents),
          |pages AS (SELECT doc_id,
          |    CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
          |    list_filter(str_split(text, chr(10)), l ->
          |      regexp_matches(trim(l), '[.!?"]$')
          |      AND len(regexp_extract_all(trim(l), '[A-Za-z0-9]+')) >= 5
          |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
          |  FROM inj
          |  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{'))
          |SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
          |  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars,
          |  md5(array_to_string(kept, chr(10))) AS clean_fp
          |FROM pages WHERE len(kept) >= 3""".stripMargin,

      "q_tfidf_terms" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
          |  FROM documents),
          |tk AS (SELECT doc_id, term FROM toks WHERE len(term) >= 3),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
          |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY 1),
          |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
          |SELECT doc_id, term, CAST(round(score * 1000000.0) AS BIGINT) AS score_u, CAST(rank AS BIGINT) AS rank FROM (
          |  SELECT tf.doc_id, tf.term, CAST(tf.tf AS DOUBLE) * n.n / df.df AS score,
          |    row_number() OVER (PARTITION BY tf.doc_id
          |      ORDER BY CAST(tf.tf AS DOUBLE) * n.n / df.df DESC, tf.term) AS rank
          |  FROM tf JOIN df USING (term), n)
          |WHERE rank <= 3""".stripMargin,

      // BM25: idf quantized once to micro-units, per-(doc,term) score
      // quantized BEFORE the per-doc sum (exact long arithmetic across
      // the groupBy); every float chain seeded with a DOUBLE cast so
      // DuckDB never routes through DECIMAL arithmetic
      "q_bm25" -> bm25OracleSql,

      // same contract as tfrecord: shard = doc_id % 4, content pinned
      "q_webdataset_roundtrip" ->
        """SELECT CAST(doc_id % 4 AS BIGINT) AS shard, doc_id,
          |  CAST(length(text) AS BIGINT) AS n_text, md5(text) AS h
          |FROM documents""".stripMargin,

      // shard = doc_id % 4 by construction; n_text/md5 pin content
      "q_tfrecord_roundtrip" ->
        """SELECT CAST(doc_id % 4 AS BIGINT) AS shard, doc_id,
          |  CAST(length(text) AS BIGINT) AS n_text, md5(text) AS h
          |FROM documents""".stripMargin,

      // RRF hybrid retrieval: both top-20 rankings restated in full
      // (BM25 reused verbatim as a subquery, tf*N/df micro-quantized
      // to longs before the per-doc sum), rank ties broken on doc_id,
      // fusion terms rounded to integer micro-units before the sum
      "q_rrf_fusion" ->
        s"""WITH b AS (SELECT doc_id, bm25 FROM ($bm25OracleSql)),
           |rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_bm25
           |       FROM b QUALIFY r_bm25 <= 20),
           |tk2 AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
           |tf2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk2
           |        WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2),
           |nd2 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
           |df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY 1),
           |tq AS (SELECT doc_id, sum(CAST(round(CAST(tf AS DOUBLE) * nd / df * 1000000.0) AS BIGINT)) AS tq
           |       FROM tf2 JOIN df2 USING (term) CROSS JOIN nd2 GROUP BY 1),
           |rt AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY CAST(tq AS DOUBLE) DESC, doc_id) AS BIGINT) AS r_tfidf
           |       FROM tq QUALIFY r_tfidf <= 20)
           |SELECT doc_id,
           |  CAST(coalesce(r_bm25, -1) AS BIGINT) AS r_bm25,
           |  CAST(coalesce(r_tfidf, -1) AS BIGINT) AS r_tfidf,
           |  CAST(CAST(coalesce(round(CAST(1000000.0 AS DOUBLE) / (r_bm25 + 60)), 0.0) +
           |            coalesce(round(CAST(1000000.0 AS DOUBLE) / (r_tfidf + 60)), 0.0) AS BIGINT) AS DOUBLE) / 1000000.0 AS rrf
           |FROM rb FULL OUTER JOIN rt USING (doc_id)""".stripMargin,

      // cross-corpus prefix dedup: the 60-bit key hashes the first 8
      // normalized tokens; reference = single-digit sources
      "q_cross_dedup" ->
        """WITH kk AS (SELECT doc_id, source,
          |  ('0x' || substr(md5(array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 8), ' ')), 1, 15))::BIGINT AS k,
          |  regexp_matches(source, '^src[0-9]$') AS is_ref FROM documents)
          |SELECT b.doc_id, b.source,
          |  CAST(CASE WHEN EXISTS (SELECT 1 FROM kk a WHERE a.is_ref AND a.k = b.k) THEN 1 ELSE 0 END AS BIGINT) AS dup_in_ref
          |FROM kk b WHERE NOT b.is_ref""".stripMargin,

      // shard manifest: order-free bit_xor content fingerprint per shard
      "q_shards" ->
        """WITH h AS (SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS hc,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS nt FROM documents)
          |SELECT hc % 64 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(nt) AS BIGINT) AS n_tokens, bit_xor(hc) AS fp
          |FROM h GROUP BY 1""".stripMargin,

      // token-length histogram: fixed-width 32-token bins, all-integer
      "q_token_buckets" ->
        """WITH t AS (SELECT CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS nt FROM documents)
          |SELECT nt // 32 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(nt) AS BIGINT) AS n_tokens,
          |  min(nt) AS min_tokens, max(nt) AS max_tokens
          |FROM t GROUP BY 1""".stripMargin,

      // hashed unigram+bigram features, portable 60-bit md5 hash, the
      // pinned arithmetic weight surrogate, exact long dot product
      "q_quality_classifier" ->
        """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |f AS (SELECT doc_id,
          |        unnest(list_concat(w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))) AS f
          |      FROM ws),
          |wt AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 1000003 - 500001 AS wt FROM f)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
          |  CAST(round((CAST(sum(wt) AS DOUBLE) / (count(*) * 500001.0)) * 100000.0) AS BIGINT) AS score_u,
          |  CAST(CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
          |FROM wt GROUP BY 1""".stripMargin,

      // DSIR: per-bucket target/raw log-ratio quantized ONCE to
      // micro-nats (lm_score contract), exact integer per-doc sums
      "q_dsir" ->
        """WITH ws AS (SELECT doc_id, lang = 'en' AS tgt,
          |        regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
          |f AS (SELECT doc_id, tgt,
          |        unnest(list_concat(w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))) AS f
          |      FROM ws),
          |bk AS (SELECT doc_id, tgt, ('0x' || substr(md5(f), 1, 15))::BIGINT % 1024 AS b FROM f),
          |h AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
          |        sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr FROM bk GROUP BY 1),
          |t AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM h),
          |lr AS (SELECT h.b,
          |        CAST(round((ln((h.ct + CAST(1.0 AS DOUBLE)) / (t.nt + CAST(1024.0 AS DOUBLE))) -
          |                    ln((h.cr + CAST(1.0 AS DOUBLE)) / (t.nr + CAST(1024.0 AS DOUBLE)))) *
          |          1000000.0) AS BIGINT) AS lr_q
          |      FROM h, t)
          |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
          |  CAST(sum(lr.lr_q) AS DOUBLE) / 1000000.0 AS logw
          |FROM bk JOIN lr USING (b) GROUP BY 1""".stripMargin,

      "q_multimodal_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS magic FROM documents""".stripMargin,

      // the synth-PCM closed form restated: the engine must recover
      // EXACTLY these integers through its own WAV encode/decode bytes
      "q_multimodal_audio" ->
        """WITH r AS (SELECT doc_id, unnest(range(0, 64 + doc_id % 32)) AS k FROM documents),
          |s AS (SELECT doc_id, k, ((doc_id * 7 + k * 13) % 256 - 128) * 256 AS sv FROM r),
          |w AS (SELECT doc_id, sv, lag(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s)
          |SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
          |  count(*) AS frames,
          |  CAST(sum(CASE WHEN pv * sv < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
          |  CAST(sum(sv * sv) AS BIGINT) AS energy
          |FROM w GROUP BY doc_id""".stripMargin,

      // autocorrelation over the same synthetic PCM closed form:
      // exact integer lag products, half-open t + k < n
      "q_audio_autocorr" ->
        """WITH r AS (SELECT doc_id, 64 + doc_id % 32 AS n, unnest(range(0, 64 + doc_id % 32)) AS k FROM documents),
          |s AS (SELECT doc_id, n, k, ((doc_id * 7 + k * 13) % 256 - 128) * 256 AS sv FROM r),
          |lg AS (SELECT doc_id, unnest(range(1, 9)) AS lag, n FROM (SELECT DISTINCT doc_id, n FROM s)),
          |p AS (SELECT a.doc_id, lg.lag, a.sv * b.sv AS prod
          |      FROM lg JOIN s a ON a.doc_id = lg.doc_id
          |               JOIN s b ON b.doc_id = lg.doc_id AND b.k = a.k + lg.lag)
          |SELECT doc_id, lag, CAST(sum(prod) AS BIGINT) AS r
          |FROM p GROUP BY 1, 2""".stripMargin,

      // NN 2x downsample of the synthetic 24-bit BMPs: the sampled
      // pixel grid restated in closed form (lateral range join)
      // perceptual-hash dedup: sampled 8×8 bits recomputed from the
      // closed pixel form (perturbed variant pixel included), then
      // BRUTE pairwise hamming — the engine's banded join must find
      // exactly the ≤ maxDist set (pigeonhole guarantee)
      "q_image_dedup" ->
        """WITH d AS (SELECT doc_id, doc_id // 4 AS base,
          |        CAST(8 + (doc_id // 4) % 5 * 2 AS BIGINT) AS w,
          |        CAST(6 + (doc_id // 4) % 3 * 2 AS BIGINT) AS h,
          |        doc_id % 4 AS v
          |      FROM documents WHERE (doc_id // 4) % 199 = 0),
          |px AS (SELECT doc_id, j.range * 8 + i.range AS pos,
          |        (i.range * w) // 8 AS sx, (j.range * h) // 8 AS sy,
          |        base, v, w, h
          |      FROM d, range(0, 8) i, range(0, 8) j),
          |pv AS (SELECT doc_id, pos,
          |        CASE WHEN v > 0 AND sx = (2 * v) % w AND sy = (3 * v) % h
          |             THEN (base * 7 + sx * 3 + sy * 11 + 128) % 256
          |             ELSE (base * 7 + sx * 3 + sy * 11) % 256 END AS pix
          |      FROM px),
          |t AS (SELECT doc_id, pos, pix, sum(pix) OVER (PARTITION BY doc_id) AS s FROM pv),
          |bits AS (SELECT doc_id, pos, CASE WHEN pix * 64 > s THEN 1 ELSE 0 END AS bit FROM t),
          |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
          |        CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
          |      FROM bits a JOIN bits b ON b.pos = a.pos AND a.doc_id < b.doc_id
          |      GROUP BY 1, 2)
          |SELECT d1, d2, hamming FROM p WHERE hamming <= 7""".stripMargin,

      "q_image_resize" ->
        """WITH d AS (SELECT doc_id, (8 + doc_id % 5 * 2) AS w, (6 + doc_id % 3 * 2) AS h FROM documents)
          |SELECT d.doc_id, d.w // 2 AS w2, d.h // 2 AS h2,
          |  CAST(sum((d.doc_id * 7 + 2 * tx.x2 * 3 + 2 * ty.y2 * 11) % 256) AS BIGINT) AS pix_sum
          |FROM d, range(8) AS tx(x2), range(5) AS ty(y2)
          |WHERE tx.x2 < d.w // 2 AND ty.y2 < d.h // 2
          |GROUP BY 1, 2, 3""".stripMargin,

      // per-16-sample window energies of the synthetic PCM; partial
      // tail windows drop (m = 16 filter)
      "q_audio_windows" ->
        """WITH r AS (SELECT doc_id, unnest(range(0, 64 + doc_id % 32)) AS k FROM documents),
          |s AS (SELECT doc_id, CAST(k // 16 AS BIGINT) AS win_idx,
          |        ((doc_id * 7 + k * 13) % 256 - 128) * 256 AS sv FROM r),
          |w AS (SELECT doc_id, win_idx, CAST(sum(sv * sv) AS BIGINT) AS energy, count(*) AS m
          |      FROM s GROUP BY 1, 2)
          |SELECT doc_id, win_idx, energy FROM w WHERE m = 16""".stripMargin,

      "q_multimodal_frames" ->
        """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS h
          |           FROM documents),
          |f AS (SELECT doc_id, h,
          |             unnest(range(0, least(n_bytes // 64 + 1, 12), 3)) AS i
          |      FROM d)
          |SELECT doc_id, CAST(i AS INT) AS frame_idx,
          |       ('0x' || substr(h, CAST(2 * i + 1 AS INT), 12))::BIGINT AS frame_sig
          |FROM f""".stripMargin,

      // the AVI fixtures' closed-form pixels, re-summed per sampled
      // frame (stride 2 over nf = 2 + id%3 frames; w,h per doc)
      "q_video_frames" ->
        """WITH d AS (SELECT doc_id, 8 + (doc_id % 3) * 4 AS w,
          |                  6 + (doc_id % 2) * 4 AS h, 2 + doc_id % 3 AS nf
          |           FROM documents),
          |f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS frame_idx FROM d),
          |px AS (SELECT doc_id, w, h, frame_idx, xr.range AS x, yr.range AS y
          |       FROM f, range(0, 16) xr, range(0, 10) yr
          |       WHERE xr.range < w AND yr.range < h)
          |SELECT doc_id, frame_idx, w AS width, h AS height,
          |       CAST(sum((doc_id * 7 + frame_idx * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS pix_sum
          |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

      // --- streaming-shaped
      "q_event_window" ->
        """SELECT epoch_us(ts) // 3600000000 AS hour, event_type, count(*) AS cnt,
          |CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS vsum
          |FROM events GROUP BY 1, 2""".stripMargin,

      // lateness: per-user arrival-order high-water mark, identical
      // minute bucketing
      "q_lateness" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
          |h AS (SELECT user_id, us, max(us) OVER (PARTITION BY user_id ORDER BY event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM e)
          |SELECT greatest(CAST(0 AS BIGINT), hwm - us) // 60000000 AS late_min, count(*) AS cnt
          |FROM h WHERE hwm IS NOT NULL GROUP BY 1""".stripMargin,

      // Zipf fit: exact ranks, micro-nat ln terms, integer moments,
      // one closing division
      "q_zipf" ->
        """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
          |c AS (SELECT t, count(*) AS cnt FROM t GROUP BY 1 ORDER BY cnt DESC, t ASC LIMIT 30),
          |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, t ASC) AS rank, cnt FROM c),
          |q AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
          |             CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y FROM r),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM q)
          |SELECT n AS n_terms, CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope FROM m""".stripMargin,

      // CUSUM via the prefix identity S_i = pre_i - min(0, min pre):
      // two explicit ROWS windows, exact integer cents, same
      // (us, event_id) order as the engine
      "q_cusum" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          |             CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) - 600 AS d FROM events),
          |p AS (SELECT user_id, us, event_id,
          |        CAST(sum(d) OVER (PARTITION BY user_id ORDER BY us, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre FROM e),
          |s AS (SELECT user_id, us,
          |        pre - least(CAST(0 AS BIGINT), min(pre) OVER (PARTITION BY user_id ORDER BY us, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s FROM p)
          |SELECT user_id, max(s) AS max_s,
          |  CAST(sum(CASE WHEN s > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
          |  min(CASE WHEN s > 2000 THEN us END) AS first_alarm_us
          |FROM s GROUP BY 1""".stripMargin,

      // min-chaining funnel: t_{i+1} = min event time of step i+1
      // strictly after t_i (comparisons in us are order-identical to
      // the engine's nanos)
      "q_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
          |t1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN t1 ON e.user_id = t1.user_id
          |       WHERE event_type = 'click' AND us > t1.t GROUP BY 1),
          |t3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN t2 ON e.user_id = t2.user_id
          |       WHERE event_type = 'purchase' AND us > t2.t GROUP BY 1)
          |SELECT 1 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) AS users FROM t1
          |UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM t2
          |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM t3""".stripMargin,

      // DAU triangle: epoch-day integer division (us//86400e6 ==
      // engine nanos//86400e9), distinct (user, day) first
      "q_retention" ->
        """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
          |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1)
          |SELECT c.cohort, d.day - c.cohort AS day_offset, CAST(count(*) AS BIGINT) AS active_users
          |FROM d JOIN c ON d.user_id = c.user_id
          |GROUP BY 1, 2""".stripMargin,

      // first-order Markov transitions of the per-user event stream
      "q_event_transitions" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
          |p AS (SELECT event_type AS from_type,
          |        lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
          |      FROM e)
          |SELECT from_type, to_type, count(*) AS cnt
          |FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

      // triangle count of the canonical (u < v) LSH pair graph: the
      // clique-vs-chain audit of duplicate families
      "q_triangles" ->
        s"""WITH $minhashCtes,
           |pairs AS (
           |  SELECT d1, d2
           |  FROM cand JOIN sig sa ON cand.d1 = sa.doc_id JOIN sig sb ON cand.d2 = sb.doc_id
           |  WHERE CAST($minhashSimExpr AS DOUBLE) / 16 >= 0.5),
           |e AS (SELECT DISTINCT least(d1, d2) AS u, greatest(d1, d2) AS v FROM pairs WHERE d1 <> d2),
           |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           |      FROM e ab JOIN e bc ON ab.v = bc.u
           |      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v)
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges, tri.n_triangles FROM tri""".stripMargin,

      "q_sessionize" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
          |m AS (SELECT user_id, event_id, us,
          |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          |s AS (SELECT user_id, us, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
          |SELECT user_id, session_id, count(*) AS cnt, min(us) AS start_us, max(us) AS end_us
          |FROM s GROUP BY 1, 2""".stripMargin,

      // same islands-and-gaps sessions as q_sessionize, reported in
      // the native session_window shape (end = last + gap)
      "q_session_window" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
          |m AS (SELECT user_id, event_id, us,
          |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          |s AS (SELECT user_id, us, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
          |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us, count(*) AS cnt
          |FROM s GROUP BY user_id, session_id""".stripMargin,

      "q_asof_join" ->
        """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us, "value"
          |           FROM events WHERE event_type = 'click'),
          |r0 AS (SELECT user_id, epoch_us(ts) AS us, event_id, "value"
          |       FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, us, max(event_id) AS r_event_id,
          |        max_by("value", event_id) AS r_value
          |      FROM r0 GROUP BY 1, 2)
          |SELECT l.user_id, l.event_id, l.us, l."value",
          |  CAST(COALESCE(r.r_event_id, -1) AS BIGINT) AS r_event_id,
          |  CAST(COALESCE(r.r_value, -1.0) AS DOUBLE) AS r_value
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us""".stripMargin,

      // the plain range join the engine's bucket decomposition must
      // reproduce pair-for-pair
      "q_interval_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
          |a AS (SELECT event_id AS anchor_id, user_id, us AS a_us FROM e WHERE event_type = 'error')
          |SELECT a.anchor_id, e.event_id, e.us - a.a_us AS delta_us
          |FROM a JOIN e ON e.user_id = a.user_id
          |  AND e.us >= a.a_us AND e.us <= a.a_us + 600000000
          |  AND e.event_id <> a.anchor_id""".stripMargin,
    )
    // forced-distributed gate twins (r17): guards forced to 0 route
    // the SAME computation through the distributed loops, so each
    // _dist query shares its original's oracle SQL verbatim (the
    // q_spatial_join_grid precedent for guarded fallback paths)
    base ++ Map(
      "q_flow_accum_dist"    -> base("q_flow_accum"),
      "q_watershed_dist"     -> base("q_watershed"),
      "q_stream_order_dist"  -> base("q_stream_order"),
      "q_flow_length_dist"   -> base("q_flow_length"),
      "q_dedup_clusters_dist" -> base("q_dedup_clusters"),
      "q_cost_path_dist"      -> base("q_cost_path"),
      // persistent-index twins (r17): the stored-index paths must be
      // byte-identical to their recompute originals
      "q_dedup_incremental_indexed" -> base("q_dedup_incremental"),
      "q_ann_ivf_indexed"           -> base("q_ann_ivf"),
      // Delaunay-dual Voronoi (r18): region-identical construction,
      // same nearest-site oracle
      "q_voronoi_dual"              -> base("q_voronoi"),
      // distributed cells (r20): same regions through DelaunayDist
      "q_voronoi_dist"              -> base("q_voronoi"),
      // one-call ingest (r18): decode -> cut -> warp composes to the
      // same inverse-sampled bilinear chain, oracle shared verbatim
      "q_read_to_layout"            -> base("q_reproject_bilinear"),
      // its temporal leg: same scene stream and cut as q_grib_temporal
      "q_read_to_layout_temporal"   -> base("q_grib_temporal"),
    )
  }
}
