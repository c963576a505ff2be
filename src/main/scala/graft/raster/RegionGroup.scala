package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Region grouping — connected components over equal-valued cells
  * (the geotrellis RegionGroup operation, public; geopyspark exposes
  * the same semantics through its layer API). Each maximal 4- or
  * 8-connected set of cells sharing a class value becomes one region;
  * the region id is the minimum linear cell id (y * gridCols + x) in
  * the region, so labels are canonical and engine-restatable.
  *
  * Scale shape: neighbor edges come from `connectivity`/2 equi-joins
  * of the cell set with itself on shifted keys (hash-partitioned on
  * (x, y, cls) — distributed, no driver state), then the alternating
  * large-star/small-star component algorithm (O(log n) rounds,
  * diameter-independent — a continent-sized region converges as fast
  * as a puddle). Edge count is bounded by connectivity * n / 2, and
  * isolated cells never enter the loop (they come back as singleton
  * regions from the vertex union).
  */
object RegionGroup {

  /** @param cells (x, y, cls) — cls is the class value; NoData cells
    *              are simply absent from the input
    * @param gridCols linear-id stride (layout total columns)
    * @param connectivity 4 (edge-adjacent) or 8 (corner-adjacent too)
    * @param tileSize two-level contraction block edge (0 disables):
    *        cells group by (x/T, y/T); a tile-LOCAL union-find labels
    *        each within-tile component with its minimum cell id, and
    *        only edges CROSSING a tile border (O(perimeter), ~2n/T vs
    *        ~2n for the flat graph) feed the distributed CC. Labels
    *        are identical to the flat path by construction: local
    *        roots are per-tile minima, CC labels components with the
    *        minimum root, so every region still gets its global
    *        minimum cell id. At 100 TB this is the difference between
    *        looping over every adjacency and looping over tile
    *        boundaries only.
    * @return (x, y, cls, region) */
  def regionGroup(cells: DataFrame, gridCols: Long,
                  connectivity: Int = 4, tileSize: Long = 64): DataFrame = {
    require(connectivity == 4 || connectivity == 8,
      "connectivity must be 4 or 8")
    val spark = cells.sparkSession
    import spark.implicits._
    // consumed once on the tiled path (the local pass) and many times
    // on the flat path (which pins it below)
    val g0 = cells.select(col("x").cast("long").as("x"),
        col("y").cast("long").as("y"), col("cls").cast("long").as("cls"))
      .withColumn("id", col("y") * gridCols + col("x"))
    val offsets =
      if (connectivity == 4) Seq((1, 0), (0, 1))
      else Seq((1, 0), (0, 1), (1, 1), (1, -1))

    if (tileSize <= 0) {
      // flat path: every adjacency is a distributed edge. r21 (guide
      // §2.4): ONE claim join replaces the connectivity/2 shifted
      // self-joins — each cell emits one claim per offset at the
      // shifted position (a narrow explode) and a single equi-join on
      // (x, y, cls) finds the same (a.id, b.id) pairs every shifted
      // join produced (per offset exactly one claim, so the edge
      // multiset is identical).
      val g = g0.localCheckpoint()
      val claims = g.select(col("cls"), col("id").as("d1"),
          explode(array(offsets.map { case (dx, dy) =>
            struct((col("x") + dx).as("x"), (col("y") + dy).as("y"))
          }: _*)).as("n"))
        .select(col("n.x").as("x"), col("n.y").as("y"), col("cls"), col("d1"))
      val edges = claims
        .join(g.select(col("x"), col("y"), col("cls"), col("id").as("d2")),
          Seq("x", "y", "cls"))
        .select(col("d1"), col("d2"))
      val comp = graft.pipeline.Dedup.connectedComponents(
        edges, g.select(col("id").as("doc_id")))
      return g.join(comp, g("id") === comp("doc_id"))
        .select(col("x"), col("y"), col("cls"), col("component").as("region"))
    }

    val T = tileSize
    // ONE shuffle groups each tile's cells; the local union-find is
    // bounded by T^2 cells and unions by MIN id, so each cell maps to
    // the smallest id in its within-tile component
    val local = g0.as[(Long, Long, Long, Long)]
      .groupByKey { case (x, y, _, _) => (x / T) * 0x100000000L + (y / T) }
      .flatMapGroups { (_, it) =>
        val cs = it.toArray // (x, y, cls, id), <= T^2 entries
        val idx = new scala.collection.mutable.HashMap[Long, Int]()
        cs.iterator.zipWithIndex.foreach { case (c, i) => idx(c._4) = i }
        val parent = Array.tabulate(cs.length)(identity)
        def find(a0: Int): Int = {
          var a = a0
          while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
          a
        }
        def union(a: Int, b: Int): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            // union by min cell id keeps every root the component min
            if (cs(ra)._4 < cs(rb)._4) parent(rb) = ra else parent(ra) = rb
          }
        }
        cs.iterator.zipWithIndex.foreach { case ((x, y, cls, _), i) =>
          offsets.foreach { case (dx, dy) =>
            if ((x + dx) / T == x / T && (y + dy) / T == y / T)
              idx.get((y + dy) * gridCols + (x + dx)).foreach { j =>
                // re-check coordinates: a linear id computed from an
                // out-of-grid (x+dx, y+dy) can alias another cell's id
                if (cs(j)._1 == x + dx && cs(j)._2 == y + dy && cs(j)._3 == cls)
                  union(i, j)
              }
          }
        }
        cs.iterator.zipWithIndex.map { case ((x, y, cls, id), i) =>
          (x, y, cls, id, cs(find(i))._4, x / T, y / T)
        }
      }.toDF("x", "y", "cls", "id", "root", "tx", "ty").localCheckpoint()

    // only border-crossing adjacencies survive contraction. r21 (guide
    // §2.4): ONE claim join replaces the connectivity/2 shifted
    // self-joins — each cell emits a claim per offset ONLY when the
    // target crosses its tile border (the contraction filter applied
    // BEFORE the exchange: O(perimeter) claim rows move, not O(cells)),
    // and the receiving side prunes to cells that can sit across a
    // border for these offsets (target x%T==0, y%T==0 or y%T==T-1 —
    // exactly the positions a crossing claim can land on). Per offset
    // exactly one claim, so the (a.root, b.root) edge multiset is
    // identical to the old shifted joins'.
    val claims = local.select(col("cls"), col("root").as("d1"),
        col("tx"), col("ty"),
        explode(array(offsets.map { case (dx, dy) =>
          when((col("x") + dx) / T =!= col("tx") ||
               (col("y") + dy) / T =!= col("ty"),
            struct((col("x") + dx).as("x"), (col("y") + dy).as("y")))
        }: _*)).as("n"))
      .where(col("n").isNotNull)
      .select(col("n.x").as("x"), col("n.y").as("y"), col("cls"), col("d1"))
    val borders = local
      .where(col("x") % T === 0 || col("y") % T === 0 || col("y") % T === T - 1)
      .select(col("x"), col("y"), col("cls"), col("root").as("d2"))
    val edges = claims.join(borders, Seq("x", "y", "cls"))
      .select(col("d1"), col("d2"))
    // several border cell pairs between the same two roots emit the
    // same (d1, d2) edge; connectedComponents tolerates duplicates and
    // its guard counts them as given (the two roots always differ:
    // distinct tiles have disjoint cell-id sets)
    val comp = graft.pipeline.Dedup.connectedComponents(
      edges, local.select(col("root").as("doc_id")).distinct())
    local.join(comp, local("root") === comp("doc_id"))
      .select(col("x"), col("y"), col("cls"), col("component").as("region"))
  }

  /** Vectorize labeled regions into per-region polygonal summaries —
    * the summary form of geotrellis `vectorize` (region -> polygon):
    * area (cell count), perimeter (exposed unit-edge count = the
    * boundary length of the region polygon), class, and bbox. All
    * outputs are exact integers.
    *
    * Perimeter without enumerating edges twice: every cell claims its
    * 4 neighbors (one explode), one hash join on (x, y, region) counts
    * same-region adjacencies — each shared edge matches twice (A->B
    * and B->A), so perimeter = 4*area - matches. One explode + one
    * keyed join + one per-region aggregate; work scales with cells,
    * state with regions. */
  def vectorize(labeled: DataFrame): DataFrame = {
    val l = labeled.select(col("x").cast("long").as("x"),
      col("y").cast("long").as("y"), col("cls").cast("long").as("cls"),
      col("region").cast("long").as("region"))
    val claims = l.select(col("region"), explode(array(
        struct((col("x") + 1).as("x"), col("y").as("y")),
        struct((col("x") - 1).as("x"), col("y").as("y")),
        struct(col("x").as("x"), (col("y") + 1).as("y")),
        struct(col("x").as("x"), (col("y") - 1).as("y")))).as("n"))
      .select(col("n.x").as("x"), col("n.y").as("y"), col("region"))
    val matches = claims.join(l.select("x", "y", "region"), Seq("x", "y", "region"))
      .groupBy("region").agg(count(lit(1)).as("same"))
    l.groupBy("region")
      .agg(min("cls").as("cls"), count(lit(1)).as("area"),
        min("x").as("xmin"), min("y").as("ymin"),
        max("x").as("xmax"), max("y").as("ymax"))
      .join(matches, Seq("region"), "left")
      .select(col("region"), col("cls"), col("area"),
        (lit(4) * col("area") - coalesce(col("same"), lit(0L))).as("perimeter"),
        col("xmin"), col("ymin"), col("xmax"), col("ymax"))
  }

  /** FRAGSTATS class-level landscape metrics (McGarigal & Marks 1995)
    * over labeled regions: per class — NP (patch count), CA (class
    * area in cells), LARGEST (largest patch area, the LPI numerator),
    * EDGE (total edge length in cell sides = Σ patch perimeters; two
    * same-class patches are never adjacent or they would be one
    * region, so the class edge IS the perimeter sum), and MPS
    * micro-quantized as round(CA·10⁶/NP) — one exact multiply and a
    * single divide. Reuses the [[vectorize]] per-region aggregate;
    * the rollup state is one row per class. */
  def landscapeMetrics(labeled: DataFrame): DataFrame =
    vectorize(labeled).groupBy("cls").agg(
        count(lit(1)).as("np"),
        sum("area").as("ca"),
        max("area").as("largest"),
        sum("perimeter").as("edge"))
      .select(col("cls"), col("np"), col("ca"), col("largest"), col("edge"),
        round((col("ca") * lit(1000000L)).cast("double") /
          col("np").cast("double")).cast("long").as("mps_u"))

  /** Sieve filter (the gdal_sieve / ESRI Nibble-by-majority shape,
    * single pass): every region smaller than `minSize` cells has its
    * cells reclassified to the class of its LARGEST 4-adjacent region
    * (ties break to the smallest region id); a small region with no
    * adjacent region at all (an isolated island on a sparse grid)
    * keeps its class. One pass over the ORIGINAL labels — a merge
    * target that is itself small is not re-merged (gdal_sieve iterates
    * to a fixpoint; the single application is this operator's
    * documented contract and the oracle restates it).
    *
    * Scale shape: per-region area/class aggregate (state = regions,
    * map-side combine), the vectorize neighbor-claim explode + one
    * (x, y) equi-join for adjacency, a min-struct argmax per small
    * region, and one broadcast-friendly region->newcls join back onto
    * the cells. No window functions, no driver state.
    *
    * @param labeled (x, y, cls, region) — regionGroup output
    * @return (x, y, cls) after reclassification */
  def sieve(labeled: DataFrame, minSize: Long): DataFrame = {
    val l = labeled.select(col("x").cast("long").as("x"),
        col("y").cast("long").as("y"), col("cls").cast("long").as("cls"),
        col("region").cast("long").as("region"))
      .localCheckpoint() // consumed by the info agg, the claim join, and the output
    val info = l.groupBy("region")
      .agg(count(lit(1)).as("area"), min("cls").as("rcls"))
    val claims = l.select(col("region"), explode(array(
        struct((col("x") + 1).as("x"), col("y").as("y")),
        struct((col("x") - 1).as("x"), col("y").as("y")),
        struct(col("x").as("x"), (col("y") + 1).as("y")),
        struct(col("x").as("x"), (col("y") - 1).as("y")))).as("n"))
      .select(col("n.x").as("x"), col("n.y").as("y"), col("region"))
    // (region, adjacent region) pairs; duplicates are harmless under
    // the min-struct argmax, so no distinct shuffle
    val adj = claims.join(l.select(col("x"), col("y"), col("region").as("nbr")),
        Seq("x", "y"))
      .where(col("region") =!= col("nbr"))
      .select(col("region"), col("nbr"))
    val best = adj.join(info.select(col("region").as("nbr"),
        col("area").as("narea"), col("rcls").as("ncls")), Seq("nbr"))
      .groupBy("region")
      .agg(min(struct((-col("narea")).as("na"), col("nbr"), col("ncls"))).as("b"))
      .select(col("region"), col("b.ncls").as("newcls"))
    l.join(info, Seq("region"))
      .join(best, Seq("region"), "left")
      .select(col("x"), col("y"),
        when(col("area") < minSize, coalesce(col("newcls"), col("cls")))
          .otherwise(col("cls")).as("cls"))
  }
}
