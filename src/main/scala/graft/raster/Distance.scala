package graft.raster

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.{Fixpoint, LongBlock}
import graft.core.LayoutDefinition

/** Distance rasters.
  *
  * Reference: euclidean_distance.py (:10) — per-cell distance to the
  * nearest source geometry over the full layout; cost_distance.py (:8)
  * — accumulated friction cost from source cells.
  */
object Distance {

  /** Euclidean distance raster: for every cell of the layout, distance
    * from the cell center to the nearest point (grid coords).
    *
    * Tile-wise pruned gather (replaces r1's O(cells x points)
    * crossJoin): points are collected and broadcast (they are the
    * operator's small geometry argument, like the reference's
    * euclidean_distance.py:10 `geometry`); each layout tile bounds the
    * distance from its circumscribed circle to every point — a point
    * whose lower bound exceeds the tile's best upper bound can never
    * be nearest for ANY cell of the tile and is dropped before the
    * per-cell scan. Narrow plan, zero shuffles; per-cell work is
    * O(local candidates), independent of the global point count.
    * Per-distance floats use the exact r1 formula, so results are
    * bit-identical to the brute-force oracle (min over a superset
    * that contains the argmin).
    */
  /** Driver-side cap on the broadcast point set: euclidean's contract
    * is "points are the operator's small geometry argument"; failing
    * fast beats an opaque driver OOM when a caller passes a data-scale
    * table. */
  val MaxPoints = 10_000_000

  def euclidean(spark: SparkSession, points: DataFrame, layout: LayoutDefinition,
                maxPoints: Int = MaxPoints): DataFrame = {
    import spark.implicits._
    val tl = layout.tileLayout
    val (tc, tr, lc, lr) = (tl.tileCols, tl.tileRows, tl.layoutCols, tl.layoutRows)
    val pts = points.select(col("px").cast("double"), col("py").cast("double"))
      .limit(maxPoints + 1)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    require(pts.length <= maxPoints,
      s"euclidean: more than $maxPoints source points — too large to broadcast; " +
        "rasterize the points and use costDistanceTiled with unit friction instead")
    val bc = spark.sparkContext.broadcast(pts)
    val nTiles = lc.toLong * lr
    spark.range(0, nTiles, 1, math.min(nTiles, spark.sparkContext.defaultParallelism).toInt)
      .as[Long]
      .flatMap { t =>
        val all = bc.value
        if (all.isEmpty) Iterator.empty
        else {
          val tx = (t % lc).toInt; val ty = (t / lc).toInt
          val x0 = tx.toLong * tc; val y0 = ty.toLong * tr
          // cell centers span [x0+0.5, x0+tc-0.5]: bounding circle
          val cx = x0 + tc / 2.0; val cy = y0 + tr / 2.0
          val rad = math.sqrt((tc - 1.0) * (tc - 1.0) + (tr - 1.0) * (tr - 1.0)) / 2.0
          val center = new Array[Double](all.length)
          var best = Double.MaxValue
          var i = 0
          while (i < all.length) {
            val dx = cx - all(i)._1; val dy = cy - all(i)._2
            val d = math.sqrt(dx * dx + dy * dy)
            center(i) = d
            if (d + rad < best) best = d + rad
            i += 1
          }
          // relative-epsilon slack: the bound compares two rounded
          // sqrt chains; a few ulps must never drop the true argmin
          // (the gate demands bit-identical doubles downstream)
          val bestU = best + 1e-9 * (1.0 + best)
          val cand = all.indices.collect { case i if center(i) - rad <= bestU => all(i) }
          Iterator.tabulate(tc * tr) { o =>
            val x = x0 + o % tc; val y = y0 + o / tc
            var m = Double.MaxValue
            var j = 0
            while (j < cand.length) {
              val (px, py) = cand(j)
              val d = math.sqrt((x + 0.5 - px) * (x + 0.5 - px) +
                                (y + 0.5 - py) * (y + 0.5 - py))
              if (d < m) m = d
              j += 1
            }
            (x, y, m)
          }
        }
      }
      .toDF("x", "y", "v")
  }

  /** Euclidean ALLOCATION: every cell of the layout takes the id of
    * its nearest source point (the gdal_proximity / ArcGIS Euclidean
    * Allocation companion of [[euclidean]]; geotrellis pairs the same
    * distance kernel with a zone output). Ties break to the smallest
    * pid.
    *
    * Same tile-wise pruned-gather shape as [[euclidean]] — points
    * broadcast under the [[MaxPoints]] guard, each tile drops every
    * point whose circumscribed-circle lower bound exceeds the tile's
    * best upper bound (a tied argmin always survives: its distance at
    * the tying cell IS the tile bound, so `center - rad <= best`
    * holds by the triangle inequality). Narrow plan, zero shuffles.
    *
    * Determinism: for half-cell-aligned points (px - 0.5 integral —
    * the operator's documented contract, shared with the IDW oracle)
    * the squared distance `(x+0.5-px)^2 + (y+0.5-py)^2` is an exact
    * integer, so the (d2, pid) argmin is exact integer arithmetic with
    * no float compare anywhere.
    *
    * @return (x, y, pid, d2) — d2 the exact squared distance (BIGINT)
    */
  def allocation(spark: SparkSession, points: DataFrame, layout: LayoutDefinition,
                 maxPoints: Int = MaxPoints): DataFrame = {
    import spark.implicits._
    val tl = layout.tileLayout
    val (tc, tr, lc, lr) = (tl.tileCols, tl.tileRows, tl.layoutCols, tl.layoutRows)
    val pts = points.select(col("pid").cast("long"),
        col("px").cast("double"), col("py").cast("double"))
      .limit(maxPoints + 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    require(pts.length <= maxPoints,
      s"allocation: more than $maxPoints source points — too large to broadcast; " +
        "rasterize the points and use costDistanceTiled with unit friction instead")
    require(pts.forall { case (_, px, py) =>
      (px - 0.5) == math.floor(px - 0.5) && (py - 0.5) == math.floor(py - 0.5) },
      "allocation: points must be half-cell-aligned (px - 0.5 integral) so the " +
        "squared-distance argmin is exact")
    val bc = spark.sparkContext.broadcast(pts)
    val nTiles = lc.toLong * lr
    spark.range(0, nTiles, 1, math.min(nTiles, spark.sparkContext.defaultParallelism).toInt)
      .as[Long]
      .flatMap { t =>
        val all = bc.value
        if (all.isEmpty) Iterator.empty
        else {
          val tx = (t % lc).toInt; val ty = (t / lc).toInt
          val x0 = tx.toLong * tc; val y0 = ty.toLong * tr
          val cx = x0 + tc / 2.0; val cy = y0 + tr / 2.0
          val rad = math.sqrt((tc - 1.0) * (tc - 1.0) + (tr - 1.0) * (tr - 1.0)) / 2.0
          val center = new Array[Double](all.length)
          var best = Double.MaxValue
          var i = 0
          while (i < all.length) {
            val dx = cx - all(i)._2; val dy = cy - all(i)._3
            val d = math.sqrt(dx * dx + dy * dy)
            center(i) = d
            if (d + rad < best) best = d + rad
            i += 1
          }
          val bestU = best + 1e-9 * (1.0 + best)
          val cand = all.indices.collect { case i if center(i) - rad <= bestU => all(i) }
          Iterator.tabulate(tc * tr) { o =>
            val x = x0 + o % tc; val y = y0 + o / tc
            var bd2 = Long.MaxValue; var bpid = Long.MaxValue
            var j = 0
            while (j < cand.length) {
              val (pid, px, py) = cand(j)
              // exact: both factors are integral-valued doubles
              val dx = (x + 0.5 - px); val dy = (y + 0.5 - py)
              val d2 = (dx * dx + dy * dy).toLong
              if (d2 < bd2 || (d2 == bd2 && pid < bpid)) { bd2 = d2; bpid = pid }
              j += 1
            }
            (x, y, bpid, bd2)
          }
        }
      }
      .toDF("x", "y", "pid", "d2")
  }

  /** Cost distance (friction-weighted shortest path from sources) via
    * per-tile multi-source Dijkstra with halo frontier exchange — the
    * scale-correct distributed SSSP shape: each round runs Dijkstra to
    * fixpoint INSIDE every tile (cheap, local), then ships only the
    * improved border cells to the 8 neighbor tiles. Rounds needed =
    * tile-graph hops (O(layout diameter)), and each round shuffles
    * O(changed tiles x perimeter) bytes, not cell rings.
    *
    * Cost model (reference cost_distance.py:8): entering cell n from c
    * costs step(c,n) * friction(n), step = 1 or sqrt(2); NaN friction
    * is impassable.
    *
    * `maxCost` mirrors the reference's max_distance: cells beyond it
    * stay unreached. Pruning mid-relaxation is exact — path prefixes
    * are monotone under nonnegative weights, so no <=maxCost path is
    * ever cut. It also gives the operator a DuckDB oracle: with
    * friction >= f_min every edge costs >= f_min, so ceil(maxCost /
    * f_min) Bellman-Ford rounds provably converge for every surviving
    * cell (SparkEntry unrolls exactly that).
    */
  /** Least-cost PATH extraction (the ArcGIS CostPath companion of
    * cost_distance): backtrack from `dest` — by default the farthest
    * reachable cell (max accumulated cost, ties to the smallest
    * linear id) — to the nearest source, stepping each round to the
    * neighbor minimizing d(n) + step * f(cur), ties to the smallest
    * linear id. Because every hop costs >= min friction, the walk
    * strictly descends and is bounded by maxCost / f_min hops.
    *
    * Determinism: d and f are the exact doubles the cost-distance
    * fixpoint produced (identical accumulation order to the oracle's
    * unrolled relaxation), so argmin/argmax compares are
    * engine-identical. Scale shape: the walk is sequential, so below
    * `maxDriverCells` it runs driver-side over the collected
    * REACHABLE set — bounded by the maxCost disk, NOT the raster;
    * ABOVE the guard (r17) it falls back to the fully distributed
    * backtrack: per-cell next-hop pointers from one 8-offset shifted
    * self-join (the same (key, id) argmin the walk computes), then
    * the dest chain extracted by pointer DOUBLING with hop
    * accumulation — O(log pathLen) co-keyed joins, label-identical
    * to the walk. The distance fixpoint itself stays distributed in
    * both regimes.
    *
    * @return (seq, x, y, v_u): step index from dest (0) to source,
    *         the accumulated cost at each path cell micro-quantized
    *         (round(d*1e5) as BIGINT — the portable closing) */
  def costPath(friction: RasterLayer, sources: DataFrame,
               maxCost: Double = Double.PositiveInfinity,
               maxDriverCells: Long = 1L << 22,
               distance: Option[RasterLayer] = None): DataFrame = {
    val spark = friction.spark
    import spark.implicits._
    // r20: pin the friction tiles — the cost-distance fixpoint AND the
    // reach join both consume them (each re-ran the upstream build +
    // normalize before)
    val fr = friction.copy(df = friction.df.localCheckpoint())
    // reuse a caller-supplied cost-distance layer (e.g. when the same
    // analysis also materializes costDistanceTiled) instead of paying
    // the whole fixpoint a second time
    val dist = distance.getOrElse(costDistanceTiled(fr, sources, maxCost))
    val tl = fr.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val gridCols = tl.totalCols
    // The reachable set enters as pinned blocks (linear id -> raw bits
    // of d and f) with its exact size, in one job; the guard compares
    // that size, so an over-guard disk routes to the distributed
    // backtrack before anything reaches the driver. Tile-aligned join
    // + per-tile zip (r20): dist and friction tiles are co-keyed on
    // (col, row), so joining TILES and exploding once replaces a
    // per-cell double explode + cell-keyed shuffle.
    val (cells, nReach) = Fixpoint.input(dist.df.select(col("col").as("_tc"),
        col("row").as("_tr"), col("tile").as("_d"))
      .join(fr.df.select(col("col").as("_tc"), col("row").as("_tr"),
        col("tile").as("_f")), Seq("_tc", "_tr"))
      .select(col("_tc"), col("_tr"),
        posexplode(arrays_zip(col("_d"), col("_f"))).as(Seq("off", "z")))
      .where(!isnan(col("z._d")) && !isnan(col("z._f")))
      .select(((col("_tr").cast("long") * tr + floor(col("off") / tc).cast("long")) * gridCols +
          col("_tc").cast("long") * tc + col("off") % tc).as("id"),
        col("z._d"), col("z._f")))
    if (nReach > maxDriverCells) return costPathDistributed(spark, cells, gridCols, nReach)
    val all = Fixpoint.collect(cells).all
    cells.unpersist(blocking = false)
    val ix = all.index
    def d(p: Int): Double = java.lang.Double.longBitsToDouble(all.v1(p))
    val Sqrt2 = math.sqrt(2.0)
    val path = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val dest = farthest(all)
    var cur = if (dest.size == 0) -1 else ix(dest.keys(0))
    var seq = 0L
    while (cur >= 0) {
      val (x, y) = (all.keys(cur) % gridCols, all.keys(cur) / gridCols)
      path += ((seq, x, y, d(cur)))
      // a simple path visits each reachable cell at most once; more
      // steps means the argmin chain cycled on a zero-friction
      // plateau — fail LOUDLY instead of silently truncating (the
      // old fixed 100000 cap returned a cut path with no error)
      require(seq <= nReach,
        s"cost-path backtrack exceeded the $nReach reachable cells — " +
          "zero-friction cycle in the next-hop chain")
      if (d(cur) > 0) {
        val f = java.lang.Double.longBitsToDouble(all.v2(cur))
        var bestKey = Double.PositiveInfinity
        var bestId = Long.MaxValue
        var next = -1
        for (dy <- -1 to 1; dx <- -1 to 1 if dx != 0 || dy != 0) {
          val (nx, ny) = (x + dx, y + dy)
          // in-grid coordinates only, so no linear-id aliasing
          val p = if (nx >= 0 && nx < gridCols && ny >= 0) ix(ny * gridCols + nx) else -1
          if (p >= 0) {
            val key = d(p) + (if (dx == 0 || dy == 0) 1.0 else Sqrt2) * f
            if (key < bestKey || (key == bestKey && all.keys(p) < bestId)) {
              bestKey = key; bestId = all.keys(p); next = p
            }
          }
        }
        require(next >= 0, s"cost-path backtrack: cell ($x, $y) has no reachable neighbor")
        cur = next
      } else cur = -1
      seq += 1
    }
    pathOut(path.toSeq.toDF("seq", "x", "y", "d"))
  }

  /** The (d desc, id asc)-argmax row of a reach block — the farthest
    * reachable cell — as a one-row block (empty for an empty block). */
  private def farthest(b: LongBlock): LongBlock = {
    def d(i: Int) = java.lang.Double.longBitsToDouble(b.v1(i))
    var best = -1
    var i = 0
    while (i < b.size) {
      if (best < 0 || d(i) > d(best) || (d(i) == d(best) && b.keys(i) < b.keys(best))) best = i
      i += 1
    }
    if (best < 0) LongBlock.Empty
    else LongBlock(Array(b.keys(best)), Array(b.v1(best)), Array(b.v2(best)))
  }

  /** (seq, x, y, v_u) of (seq, x, y, d) path rows: the accumulated cost
    * micro-quantized — the BIGINT closing of the CLAUDE.md r16 rule
    * (never emit round(x, k) DOUBLE columns; integer rounding of the
    * identical IEEE chain is engine-portable). */
  private def pathOut(path: DataFrame): DataFrame =
    path.select(col("seq"), col("x"), col("y"), round(col("d") * 100000.0).cast("long").as("v_u"))

  /** The distributed [[costPath]] backtrack (over-guard regime) over
    * the pinned reach blocks `in`:
    *  1. dest = the (d desc, id asc) argmax of the blocks' argmaxes;
    *  2. next-hop forest — every reachable cell with d > 0 points to
    *     the (d_n + step·f_cell, id)-argmin of its 8 present
    *     neighbors, from one re-key of neighbor offers (in-grid
    *     coordinates only, so no linear-id aliasing); source cells
    *     (d = 0) have no out-edge and terminate chains;
    *  3. the dest chain extracted by pointer DOUBLING with hop
    *     accumulation (two doubling steps per round, see below).
    * The per-step argmin states the EXACT driver-walk comparison
    * ((key, nid) lexicographic min over the same IEEE key doubles),
    * so the emitted path is row-identical to the collected walk. */
  private def costPathDistributed(spark: SparkSession, in: Fixpoint.Blocks, gridCols: Long,
                                  nReach: Long): DataFrame = {
    import spark.implicits._
    val Sqrt2 = math.sqrt(2.0)
    val dest = farthest(LongBlock.concat(in.map(farthest).collect().iterator))
    if (dest.size == 0) {
      in.unpersist(blocking = false)
      return pathOut(Seq.empty[(Long, Long, Long, Double)].toDF("seq", "x", "y", "d"))
    }
    // The backtrack runs on the Fixpoint kernel: cells (id -> raw bits
    // of d and f), frontier (node -> seq) and jump (node -> (ancestor,
    // hops)) are co-partitioned blocks, so the frontier probe is a
    // narrow zip, the grown frontier a narrow concatenation, and only
    // the re-keys shuffle.
    val part = Fixpoint.partitioner(spark.sparkContext, nReach)
    val cellB = Fixpoint.shuffle(in, part).localCheckpoint()
    val offs = (for { dy <- -1 to 1; dx <- -1 to 1 if dx != 0 || dy != 0 } yield (dx, dy)).toArray
    // next-hop forest: every cell n offers its d to each in-grid
    // neighbor u = n - (dx, dy), tagged with the offset's index (one
    // re-key to u); a reachable u with d > 0 keeps the (d_n +
    // step·f_u, n)-argmin over the offers it got
    val offers = Fixpoint.shuffle(Fixpoint.map(cellB) { b =>
      val out = new LongBlock.Builder(2, b.size * 8)
      var i = 0
      while (i < b.size) {
        val (nx, ny) = (b.keys(i) % gridCols, b.keys(i) / gridCols)
        var k = 0
        while (k < offs.length) {
          val (ux, uy) = (nx - offs(k)._1, ny - offs(k)._2)
          if (ux >= 0 && ux < gridCols && uy >= 0) out.add(uy * gridCols + ux, k, b.v1(i))
          k += 1
        }
        i += 1
      }
      out.result()
    }, part)
    val jump1 = Fixpoint.zip(cellB, offers) { (c, o) =>
      val ix = c.index
      val bestKey = new Array[Double](c.size)
      val bestN = Array.fill(c.size)(-1L)
      var j = 0
      while (j < o.size) {
        val p = ix(o.keys(j))
        if (p >= 0 && java.lang.Double.longBitsToDouble(c.v1(p)) > 0.0) {
          val (dx, dy) = offs(o.v1(j).toInt)
          val step = if (dx == 0 || dy == 0) 1.0 else Sqrt2
          val key = java.lang.Double.longBitsToDouble(o.v2(j)) +
            step * java.lang.Double.longBitsToDouble(c.v2(p))
          val n = o.keys(j) + dy * gridCols + dx
          if (bestN(p) < 0 || key < bestKey(p) || (key == bestKey(p) && n < bestN(p))) {
            bestKey(p) = key; bestN(p) = n
          }
        }
        j += 1
      }
      val out = new LongBlock.Builder(2, c.size)
      var p = 0
      while (p < c.size) { if (bestN(p) >= 0) out.add(c.keys(p), bestN(p), 1L); p += 1 }
      out.result()
    }
    val frontier0 = Fixpoint.shuffle(
      spark.sparkContext.parallelize(Seq(LongBlock(dest.keys, Array(0L))), 1), part)
    // rows added to the frontier over all rounds (task retries only
    // inflate it, so an over-count is confirmed exactly below)
    val added = spark.sparkContext.longAccumulator("graft_cp_added")
    val cycle = s"cost-path backtrack exceeded the $nReach reachable cells — " +
      "zero-friction cycle in the next-hop chain"
    // frontier nodes one jump further, at seq + hops (counted in `acc`)
    def advance(frontier: Fixpoint.Blocks, jump: Fixpoint.Blocks,
                acc: LongAccumulator*): Fixpoint.Blocks =
      Fixpoint.shuffle(Fixpoint.zip(frontier, jump) { (f, j) =>
        val ix = j.index
        val out = new LongBlock.Builder(1, f.size)
        var i = 0
        while (i < f.size) {
          val p = ix(f.keys(i))
          if (p >= 0) out.add(j.v1(p), f.v1(i) + j.v2(p))
          i += 1
        }
        val b = out.result()
        acc.foreach(_.add(b.size))
        b
      }, part)
    def grow(frontier: Fixpoint.Blocks, more: Fixpoint.Blocks): Fixpoint.Blocks =
      Fixpoint.zip(frontier, more)((f, m) => LongBlock.concat(Iterator(f, m)))
    // TWO doubling steps per round. Invariant: entering round k with
    // frontier = chain nodes at < 2^(2k) hops and the exact 2^(2k)
    // jump table, step A adds the nodes at [2^(2k), 2^(2k+1)) and step
    // B — probing with the squared table — those at [2^(2k+1),
    // 2^(2k+2)): each such node factors uniquely through its ancestor
    // 2^(2k+1) hops below, which step A just completed. Added nodes
    // have distinct hop counts, so the concatenations need no dedup.
    // The chain is contiguous, so no nodes past an empty step B exist:
    // the round's change count is step B's rows. State is (frontier,
    // squared table); the next round squares that table again first
    // (never when this round was the last). 24 rounds span 2^48 hops.
    val chain = Fixpoint.loop("cp", 24, cycle, release = Seq(in))(Seq(frontier0, jump1)) {
        (s, r) =>
      val Seq(frontier, half) = s
      // a simple path visits each reachable cell at most once — more
      // nodes means a zero-friction cycle in the next-hop chain
      if (1L + added.value > nReach) require(Fixpoint.count(frontier) <= nReach, cycle)
      val jump = if (r.index == 0) half else r.pin(Fixpoint.pointerJump(half, part))
      val f2 = grow(frontier, advance(frontier, jump, added))
      val jump2 = Fixpoint.pointerJump(jump, part)
      Seq(grow(f2, advance(f2, jump2, added, r.changed)), jump2)
    }
    chain(1).unpersist(blocking = false)
    // the chain's cells, read from the cell blocks (a narrow zip)
    pathOut(Fixpoint.rows(Fixpoint.zip(chain.head, cellB) { (f, c) =>
      val ix = c.index
      LongBlock(f.v1, f.keys, f.keys.map(n => c.v1(ix(n))))
    })((b, i) => (b.keys(i), b.v1(i) % gridCols, b.v1(i) / gridCols,
      java.lang.Double.longBitsToDouble(b.v2(i))))
      .toDF("seq", "x", "y", "d"))
  }

  /** ArcGIS Corridor: per-cell SUM of two accumulative-cost surfaces
    * over the same friction — the corridor-selection input (threshold
    * the result to delineate the lowest-total-cost swath between the
    * two source sets). Cells reachable from BOTH sets within maxCost
    * survive the co-keyed inner tile join; a pure composition of two
    * tiled Dijkstra passes + one local add, so every scale property
    * of [[costDistanceTiled]] carries over unchanged. */
  def corridor(friction: RasterLayer, sourcesA: DataFrame, sourcesB: DataFrame,
               maxCost: Double = Double.PositiveInfinity): RasterLayer = {
    // r20: pin the friction tiles — both Dijkstra passes seed from them
    val fr = friction.copy(df = friction.df.localCheckpoint())
    costDistanceTiled(fr, sourcesA, maxCost = maxCost) +
      costDistanceTiled(fr, sourcesB, maxCost = maxCost)
  }

  def costDistanceTiled(friction: RasterLayer, sources: DataFrame,
                        maxCost: Double = Double.PositiveInfinity): RasterLayer = {
    val spark = friction.spark
    import spark.implicits._
    val tl = friction.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val (lc, lr) = (tl.layoutCols, tl.layoutRows)
    val Sqrt2 = math.sqrt(2.0)

    // (col, row, friction, dist): dist NaN = unreached
    val srcCells = sources
      .select(floor(col("px")).cast("long").as("x"), floor(col("py")).cast("long").as("y"))
      .withColumn("scol", (col("x") / tc).cast("int"))
      .withColumn("srow", (col("y") / tr).cast("int"))
      .withColumn("off", ((col("y") % tr) * tc + (col("x") % tc)).cast("int"))
      .groupBy("scol", "srow").agg(collect_list("off").as("offs"))

    // consumed exactly once (by the round-0 RDD conversion below), so
    // no pin needed (r21: the old loop read it from a checkpoint)
    val state = friction.df
      .join(srcCells,
        friction.df("col") === srcCells("scol") && friction.df("row") === srcCells("srow"),
        "left_outer")
      .select(col("col"), col("row"), col("tile").as("friction"), col("offs"))
      .as[(Int, Int, Seq[Double], Option[Seq[Int]])]
      .map { case (c, r, fr, offs) =>
        val frA = fr.toArray // deserialized Seq is a List: O(n) apply
        val dist = Array.fill(frA.length)(Double.NaN)
        offs.toSeq.flatten.foreach(o => if (!frA(o).isNaN) dist(o) = 0.0)
        (c, r, fr, dist.toSeq)
      }
      .toDF("col", "row", "friction", "dist")

    /** Dijkstra to fixpoint within one tile from the given seeds;
      * returns improved dist and the set of changed offsets. */
    def localDijkstra(fr: Array[Double], dist: Array[Double],
                      seeds: Iterable[Int]): mutable.BitSet = {
      val changed = new mutable.BitSet(fr.length)
      val pq = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
      seeds.foreach(o => if (!dist(o).isNaN) pq.enqueue((dist(o), o)))
      while (pq.nonEmpty) {
        val (d, o) = pq.dequeue()
        if (d <= dist(o)) {
          val cx = o % tc; val cy = o / tc
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              if (dx != 0 || dy != 0) {
                val nx = cx + dx; val ny = cy + dy
                if (nx >= 0 && nx < tc && ny >= 0 && ny < tr) {
                  val no = ny * tc + nx
                  val f = fr(no)
                  if (!f.isNaN) {
                    val step = if (dx == 0 || dy == 0) 1.0 else Sqrt2
                    val nd = d + step * f
                    if (nd <= maxCost && (dist(no).isNaN || nd < dist(no))) {
                      dist(no) = nd
                      changed += no
                      pq.enqueue((nd, no))
                    }
                  }
                }
              }
              dx += 1
            }
            dy += 1
          }
        }
      }
      changed
    }

    // round 0: settle each tile internally from its sources; `dirty`
    // marks tiles whose borders changed (only they emit halos).
    //
    // r21 (guide §8 — the Pregel shape): the halo loop runs on a KEYED
    // RDD under a sticky HashPartitioner, so the tile state cogroups
    // with the halo WITHOUT re-shuffling (only the O(changed tiles x
    // perimeter) halo rows move each round), each round is ONE job
    // with no per-round SQL planning/codegen and no encoder round-trip
    // of the tile arrays, and the convergence probe rides the
    // checkpoint materialization as an accumulator exactly as before.
    // Arithmetic is byte-identical: the same relax + localDijkstra
    // code runs on the same arrays in the same order — only the
    // carrier (RDD vs Dataset) changed, and relax order was already
    // immaterial (each candidate min-folds independently).
    val nParts = math.max(1,
      math.min(spark.sparkContext.defaultParallelism.toLong, lc.toLong * lr).toInt)
    val part = new org.apache.spark.HashPartitioner(nParts)
    val init = state.as[(Int, Int, Seq[Double], Seq[Double])].rdd
      .map { case (c, r, frS, distS) =>
        val fr = frS.toArray; val dist = distS.toArray
        val seeds = dist.indices.filter(o => !dist(o).isNaN)
        val dirty =
          if (seeds.isEmpty) false
          else { localDijkstra(fr, dist, seeds); true }
        ((c, r), (fr, dist, dirty))
      }
      .partitionBy(part)

    // Rounds run on the Fixpoint round driver (one job each, the
    // improved-tile count riding it). Each round settles every cell
    // whose shortest path crosses one more tile border, and a shortest
    // path crosses at most one border per cell step: more rounds than
    // cells means the contract broke.
    val maxRounds = lc.toLong * lr * tc * tr
    val rdd = Fixpoint.loop("cd", maxRounds, s"costDistanceTiled: no fixpoint in " +
        s"$maxRounds rounds (one per cell)")(Seq(init)) { (s, round) =>
      val halo = s.head.flatMap { case ((c, r), (_, dist, dirty)) =>
        if (!dirty) Iterator.empty
        else {
          val out = mutable.ArrayBuffer.empty[((Int, Int), (Int, Double, Double))]
          var o = 0
          while (o < dist.length) {
            val d = dist(o)
            if (!d.isNaN) {
              val cx = o % tc; val cy = o / tc
              if (cx == 0 || cx == tc - 1 || cy == 0 || cy == tr - 1) {
                var dy = -1
                while (dy <= 1) {
                  var dx = -1
                  while (dx <= 1) {
                    if (dx != 0 || dy != 0) {
                      val gx = cx + dx; val gy = cy + dy
                      // only cells crossing the tile boundary
                      if (gx < 0 || gx >= tc || gy < 0 || gy >= tr) {
                        val ncol = c + (if (gx < 0) -1 else if (gx >= tc) 1 else 0)
                        val nrow = r + (if (gy < 0) -1 else if (gy >= tr) 1 else 0)
                        if (ncol >= 0 && ncol < lc && nrow >= 0 && nrow < lr) {
                          val lx = ((gx % tc) + tc) % tc
                          val ly = ((gy % tr) + tr) % tr
                          val step = if (dx == 0 || dy == 0) 1.0 else Sqrt2
                          out += (((ncol, nrow), (ly * tc + lx, d, step)))
                        }
                      }
                    }
                    dx += 1
                  }
                  dy += 1
                }
              }
            }
            o += 1
          }
          out.iterator
        }
      }
      // state side is co-partitioned -> narrow; halo rows targeting a
      // missing tile drop out (the old left_outer join kept state rows
      // only, same effect)
      Seq(s.head.cogroup(halo, part)
        .flatMapValues { case (states, cands) =>
          states.headOption.iterator.map { case (fr, distOld, _) =>
            val dist = distOld.clone() // cached blocks are shared: never mutate
            val seeds = mutable.ArrayBuffer.empty[Int]
            cands.foreach { case (o, base, step) =>
              val f = fr(o)
              if (!f.isNaN) {
                val nd = base + step * f
                if (nd <= maxCost && (dist(o).isNaN || nd < dist(o))) { dist(o) = nd; seeds += o }
              }
            }
            val dirty =
              if (seeds.nonEmpty) { localDijkstra(fr, dist, seeds); round.changed.add(1); true }
              else false
            (fr, dist, dirty)
          }
        })
    }.head

    friction.copy(df = rdd
      .map { case ((c, r), (_, dist, _)) => (c, r, dist.toSeq) }
      .toDF("col", "row", "tile"))
  }

  /** Cell-level Bellman-Ford variant (kept for cross-checking the
    * tiled implementation in specs).
    */
  def costDistanceCells(friction: RasterLayer, sources: DataFrame, maxIterations: Int = 24,
                   maxCost: Double = Double.MaxValue): DataFrame = {
    val spark = friction.spark
    import spark.implicits._
    val fcells = friction.toCells.select(col("x"), col("y"), col("v").as("cost")).cache()
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0) yield (dx, dy)
    val offsetDf = offsets.toDF("dx", "dy")

    // localCheckpoint each round: truncates the logical plan so the
    // lineage (and optimizer work) stays O(1) across iterations instead
    // of O(rounds) — without it the driver heap grows unboundedly.
    var dist = fcells.join(
        sources.select(floor(col("px")).cast("long").as("x"), floor(col("py")).cast("long").as("y")),
        Seq("x", "y"))
      .select(col("x"), col("y"), lit(0.0).as("d"))
      .localCheckpoint()
    var i = 0
    var converged = false
    var lastCount = -1L
    while (i < maxIterations && !converged) {
      val expanded = dist.crossJoin(broadcast(offsetDf))
        .select((col("x") + col("dx")).as("x"), (col("y") + col("dy")).as("y"),
                col("d"), sqrt(col("dx") * col("dx") + col("dy") * col("dy")).as("step"))
        .join(fcells, Seq("x", "y"))
        .select(col("x"), col("y"), (col("d") + col("step") * col("cost")).as("d"))
      val next = dist.unionByName(expanded)
        .groupBy("x", "y").agg(min("d").as("d"))
        .where(col("d") <= maxCost)
        .localCheckpoint()
      val cnt = next.count()
      // stop when the reachable set stops growing (cheap proxy; exact
      // fixpoint would also require cost stability)
      converged = cnt == lastCount && i > 2
      lastCount = cnt
      dist = next
      i += 1
    }
    fcells.unpersist()
    dist
  }
}
