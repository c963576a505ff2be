package graft.raster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.{Fixpoint, LongBlock}
import org.apache.spark.sql.functions._

/** Hydrology operators over elevation grids — the geotrellis
  * `raster.hydrology` surface (FlowDirection / Accumulation, public
  * ESRI D8 semantics) re-expressed declaratively.
  *
  * D8 flow direction: each cell drains toward the neighbor with the
  * steepest positive drop (z_c - z_n, diagonals divided by sqrt 2);
  * codes are the ESRI powers of two (E=1, SE=2, S=4, SW=8, W=16,
  * NW=32, N=64, NE=128, y-down grid), 0 for pits/flats. Ties break to
  * the smallest code via an explicit CASE cascade — the same cascade
  * the oracle states, so the choice is engine-identical (drops are
  * exact-integer differences with at most one IEEE division each).
  *
  * Scale shape: ONE shuffle. Every cell explodes to itself plus its
  * eight neighbor targets (the IDW disk pattern at radius 1), and a
  * single groupBy rebuilds each cell's 3x3 neighborhood as nine
  * conditional aggregates — map-side combine, no self-joins, no halo
  * machinery needed for a radius-1 stencil. Missing neighbors (grid
  * edge or NoData holes) coalesce to a -inf sentinel and can never
  * win the cascade.
  */
object Hydrology {

  /** (dx, dy, ESRI code) in ascending code order — the tie cascade. */
  val Dirs: Seq[(Int, Int, Int)] = Seq(
    (1, 0, 1), (1, 1, 2), (0, 1, 4), (-1, 1, 8),
    (-1, 0, 16), (-1, -1, 32), (0, -1, 64), (1, -1, 128))

  private val Sentinel = -1e300

  /** D8 over a TILED layer (r13, the §4 discipline): each tile
    * computes its cells' steepest-descent codes from the radius-1
    * padded window ([[Focal.gatherPartials]]) — per-cell rows are
    * emitted after the tile exchange, never shuffled (the previous
    * shape exploded 9 rows per cell into a grid-keyed groupBy, a 9x
    * per-cell exchange). NaN beyond the grid / in holes = missing
    * neighbor = the old Sentinel drop; tie cascade and arithmetic
    * identical (same (zc−nz)/dist IEEE ops, first code in ascending
    * order wins the tie).
    * @return (x, y, dir) — dir 0 for pits/flats */
  def flowDirectionLayer(layer: RasterLayer): DataFrame = {
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    val dirs = Dirs.toArray
    Focal.gatherPartials[(Long, Long, Long)](layer, 1) { (c0, r0, padded, w) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var j = 0
      while (j < tr) {
        var i = 0
        while (i < tc) {
          val zc = padded((j + 1) * w + (i + 1))
          if (!zc.isNaN) {
            val drops = new Array[Double](dirs.length)
            var k = 0
            var best = Double.NegativeInfinity
            while (k < dirs.length) {
              val (dx, dy, _) = dirs(k)
              val nz = padded((j + 1 + dy) * w + (i + 1 + dx))
              val d =
                if (nz.isNaN) Sentinel
                else (zc - nz) / (if (dx != 0 && dy != 0) math.sqrt(2.0) else 1.0)
              drops(k) = d
              if (d > best) best = d
              k += 1
            }
            var code = 0L
            if (best > 0) {
              k = 0
              var found = false
              while (k < dirs.length && !found) {
                if (drops(k) == best) { code = dirs(k)._3.toLong; found = true }
                k += 1
              }
            }
            out += ((c0.toLong * tc + i, r0.toLong * tr + j, code))
          }
          i += 1
        }
        j += 1
      }
      out.iterator
    }.toDF("x", "y", "dir")
  }

  /** @param cells (x, y, v) elevation grid; absent cells are NoData
    * @return (x, y, dir) — dir 0 for pits/flats.
    * Delegates to [[flowDirectionLayer]]: the cells tile into 64-px
    * tiles first, so the D8 scan runs tile-local with a halo instead
    * of exploding 9 rows per cell into a grid-keyed exchange. */
  def flowDirection(cells: DataFrame, gridCols: Long, gridRows: Long): DataFrame = {
    val T = 64
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, gridCols.toDouble, gridRows.toDouble),
      graft.core.TileLayout(((gridCols + T - 1) / T).toInt, ((gridRows + T - 1) / T).toInt, T, T))
    val inGrid = cells.where(col("x") >= 0 && col("x") < gridCols &&
      col("y") >= 0 && col("y") < gridRows)
    flowDirectionLayer(RasterLayer.fromCells(inGrid, layout, CellOp.Max))
  }

  /** Pit fill (geotrellis raster.hydrology Fill semantics, single
    * pass): a sink — a cell strictly lower than all eight neighbors —
    * rises to the neighbor minimum so D8 flow has an out-edge there;
    * everything else (including edge cells with partial windows)
    * passes through unchanged. Exact: min/select over integral cells
    * introduces no floating error. One halo exchange via the terrain
    * window machinery. */
  def fill(layer: RasterLayer): RasterLayer = Focal.terrain(layer, "fill")

  /** Flow accumulation: for each cell, how many other cells' D8 flow
    * paths pass through it (the upstream drainage count; ESRI
    * Accumulation semantics with unit cell weight) — equivalently the
    * cell's in-tree descendant count over the single-out-edge flow
    * forest.
    *
    * Scale shape (r19): BINARY-LIFTING ancestor counts — each round
    * folds "descendants within 2^k hops" one doubling step up the
    * exact 2^k-jump table (see the inline derivation), so a depth-D
    * drainage channel resolves in ceil(log2 D) rounds of one summed
    * re-key plus a pointer jump each, not D rounds (the watershed/flowLength
    * pointer-doubling discipline, carrying partial COUNTS; this was
    * the repo's last O(depth) loop). Each round is one job of the
    * [[graft.Fixpoint]] kernel; `maxSteps` fails loudly rather than
    * looping — at POWER-OF-TWO granularity on the distributed path: a
    * longest path in (maxSteps, 2^ceil(log2 maxSteps+1)) succeeds
    * silently (the result is still exact; only the bound is coarse),
    * whereas the guarded driver walk below enforces the exact bound.
    * Callers needing the strict contract at scale should pass the
    * next power of two. Small grids (at most `maxDriverEdges` cells,
    * which bounds their out-edges) take a guarded driver walk instead:
    * one collect of the pinned successor blocks beats a job, its
    * stages and a checkpoint per round, and the walk's counts map back
    * onto those blocks by broadcast (the connectedComponents fast path
    * is the precedent).
    */
  def flowAccumulation(cells: DataFrame, gridCols: Long, gridRows: Long,
                       maxSteps: Int = 0,
                       maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    // default bound: strict-descent D8 never revisits a cell, so no
    // path exceeds the cell count — real DEMs with long drainage
    // channels must not fail on an arbitrary small default (64 did)
    val maxSteps0 = if (maxSteps > 0) maxSteps
      else math.min(gridCols * gridRows, Int.MaxValue.toLong).toInt
    val (in, nCells) = d8Input(cells, gridCols, gridRows, withStep = false)
    if (nCells <= maxDriverEdges) {
      val c = Fixpoint.collect(in)
      val nxt = successors(c.all)
      val acc = new Array[Long](nxt.length)
      var s = 0
      while (s < nxt.length) {
        var cur = nxt(s)
        var hops = 0
        while (cur >= 0) {
          require(hops <= maxSteps0, s"flowAccumulation: path longer than " +
            s"$maxSteps0 steps — raise maxSteps")
          acc(cur) += 1
          cur = nxt(cur)
          hops += 1
        }
        s += 1
      }
      return cellsOut(spark, c.emit(acc), gridCols, "acc")
    }
    // Binary-lifting ancestor counts (r19 — log-depth, replacing the
    // O(longest-channel) per-hop frontier walk): J_k holds the EXACT
    // 2^k-step ancestor pairs (v, a) — v must have a full 2^k path —
    // and C_k(c) counts c's descendants within 2^k hops. Round update:
    //   C_{k+1}(c) = C_k(c) + Σ_{v : J_k(v) = c} C_k(v)
    // (a descendant u at distance d ∈ (2^k, 2^{k+1}] factors UNIQUELY
    // through v = u's ancestor at distance d − 2^k, which sits exactly
    // 2^k below c; u within 2^k is already in C_k(c) and cannot also
    // appear via some v, since that would put it past 2^k — so no
    // double counting), and J_{k+1} = J_k ∘ J_k (undefined once the
    // remaining path is shorter — saturation simply drops the pair).
    // J empties after ceil(log2(maxDepth+1)) rounds and C is then the
    // full accumulation: a continental 10^5-cell drainage channel
    // resolves in ~17 rounds, not 10^5. maxSteps keeps its
    // loud-failure contract at power-of-two granularity: round k runs
    // only while the span 2^k is within maxSteps0, so J still nonempty
    // past it means some path is longer than maxSteps0.
    // The loop runs on the Fixpoint kernel: C is one primitive count
    // column per partition covering every cell, the up-sums are one
    // summed re-key, J_{k+1} is the kernel's pointer jump, and both
    // materialize in the round's one job.
    val part = Fixpoint.partitioner(spark.sparkContext, nCells)
    val d8 = Fixpoint.shuffle(in, part)
    val jump0 = Fixpoint.map(d8)(outEdges)
    val kids = Fixpoint.shuffle(Fixpoint.map(jump0)(j => LongBlock(j.v1, Array.fill(j.size)(1L))),
      part, Some(LongBlock.Agg.Sum))
    val cnt0 = Fixpoint.zip(d8, kids)((c, k) => plus(LongBlock(c.keys, new Array[Long](c.size)), k))
    val maxRounds = math.min(64, 32 - Integer.numberOfLeadingZeros(maxSteps0))
    val state = Fixpoint.loop("fa", maxRounds,
        s"flowAccumulation: paths longer than $maxSteps0 steps — raise maxSteps " +
        "(or the flow graph has a cycle, which strict-descent D8 cannot produce)",
        release = Seq(in))(Seq(jump0, cnt0)) { (s, r) =>
      val Seq(jump, c) = s
      val up = Fixpoint.shuffle(Fixpoint.zip(jump, c) { (j, cb) =>
        val ix = cb.index
        val out = new LongBlock.Builder(1, j.size)
        var i = 0
        while (i < j.size) {
          val n = cb.v1(ix(j.keys(i)))
          if (n != 0) out.add(j.v1(i), n)
          i += 1
        }
        out.result()
      }, part, Some(LongBlock.Agg.Sum))
      Seq(Fixpoint.pointerJump(jump, part, Some(r.changed)), Fixpoint.zip(c, up)(plus))
    }
    state.head.unpersist(blocking = false) // the exhausted jump table
    cellsOut(spark, state(1), gridCols, "acc")
  }

  /** D8 out-edge target column — null for pits. */
  private def d8Target(gridCols: Long): Column =
    Dirs.map { case (dx, dy, code) =>
      when(col("dir") === code, (col("y") + dy) * gridCols + (col("x") + dx))
    }.reduce(coalesce(_, _))

  /** The entry of every D8 loop: successor blocks of every present
    * cell from [[flowDirection]], pinned, with the cell count
    * ([[graft.Fixpoint.input]], one job). Keyed by linear id: v1 = the
    * out-edge target (the cell itself for pits) and, `withStep`, v2 =
    * the step's micro-cell length (0 for pits; see [[flowLength]]).
    * The guards compare `maxDriverEdges` with the cell count: every
    * cell has at most one out-edge, so it bounds the edges the driver
    * walks hold from above. */
  private def d8Input(cells: DataFrame, gridCols: Long, gridRows: Long,
                      withStep: Boolean): (Fixpoint.Blocks, Long) = {
    val id = col("y") * gridCols + col("x")
    Fixpoint.input(flowDirection(cells, gridCols, gridRows)
      .select(Seq(id, coalesce(d8Target(gridCols), id)) ++
        (if (withStep) Seq(coalesce(d8Step, lit(0L))) else Nil): _*))
  }

  /** D8 step length in micro-cells — 1e6 cardinal, round(sqrt(2) *
    * 1e6) diagonal, null for pits. */
  private val d8Step: Column = Dirs.map { case (dx, dy, code) =>
    when(col("dir") === code, lit(if (dx != 0 && dy != 0) 1414214L else 1000000L))
  }.reduce(coalesce(_, _))

  /** The non-pit rows of a successor block, as (cell -> target). */
  private def outEdges(b: LongBlock): LongBlock = {
    val out = new LongBlock.Builder(1, b.size)
    var i = 0
    while (i < b.size) { if (b.v1(i) != b.keys(i)) out.add(b.keys(i), b.v1(i)); i += 1 }
    out.result()
  }

  /** `base` with `add`'s v1 summed into the rows of the same key. */
  private def plus(base: LongBlock, add: LongBlock): LongBlock = {
    val ix = add.index
    LongBlock(base.keys, Array.tabulate(base.size) { i =>
      val p = ix(base.keys(i))
      if (p >= 0) base.v1(i) + add.v1(p) else base.v1(i)
    })
  }

  /** Driver walks: the row of each collected cell's D8 target, -1 for
    * a pit (a row whose target is its own key). */
  private def successors(all: LongBlock): Array[Int] = {
    val ix = all.index
    Array.tabulate(all.size)(i => if (all.v1(i) == all.keys(i)) -1 else ix(all.v1(i)))
  }

  /** Driver walks: f for every collected cell, with f(pit) = `atPit`
    * and f(c) = `step`(c, f(target of c)) — memoized, and iterative
    * (recursion could deepen past the JVM stack on long channels):
    * each walk stacks its unresolved cells, then unwinds them. */
  private def resolve(nxt: Array[Int])(atPit: Int => Long)(step: (Int, Long) => Long): Array[Long] = {
    val out = new Array[Long](nxt.length)
    val done = new Array[Boolean](nxt.length)
    val path = new Array[Int](nxt.length)
    var s = 0
    while (s < nxt.length) {
      var n = 0
      var cur = s
      while (!done(cur) && nxt(cur) >= 0) { path(n) = cur; n += 1; cur = nxt(cur) }
      if (!done(cur)) { out(cur) = atPit(cur); done(cur) = true }
      while (n > 0) {
        n -= 1
        val c = path(n)
        out(c) = step(c, out(nxt(c))); done(c) = true
      }
      s += 1
    }
    out
  }

  /** (x, y, `name` = v1) of every cell a block keys by linear id. */
  private def cellsOut(spark: SparkSession, b: Fixpoint.Blocks, gridCols: Long,
                       name: String): DataFrame = {
    import spark.implicits._
    Fixpoint.rows(b)((x, i) => (x.keys(i) % gridCols, x.keys(i) / gridCols, x.v1(i)))
      .toDF("x", "y", name)
  }

  /** Watershed labeling (ESRI Basin semantics): every cell takes the
    * linear id of the PIT its D8 flow path terminates in; pits label
    * themselves. Basins partition the grid into drainage areas.
    *
    * Scale shape: pointer DOUBLING over the single-out-edge flow graph
    * — each round joins the successor table with itself
    * (`succ = succ o succ`), so a depth-D flow path resolves in
    * ceil(log2 D) rounds, not D (flowAccumulation walks rounds = depth
    * because it must VISIT every cell on the way; a basin label only
    * needs the endpoint, which is exactly what doubling shortcuts).
    * Each round is one pointer jump of the [[graft.Fixpoint]] kernel
    * in one job; convergence is the count of moved pointers (a pointer
    * is final when its target is final). Small grids take the guarded
    * driver walk with path memoization over the collected successor
    * blocks (flowAccumulation precedent).
    */
  def watershed(cells: DataFrame, gridCols: Long, gridRows: Long,
                maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    val (in, nCells) = d8Input(cells, gridCols, gridRows, withStep = false)
    if (nCells <= maxDriverEdges) {
      val c = Fixpoint.collect(in)
      val basin = resolve(successors(c.all))(c.all.keys(_))((_, next) => next)
      return cellsOut(spark, c.emit(basin), gridCols, "basin")
    }
    cellsOut(spark, toPits(spark, in, nCells, "watershed"), gridCols, "basin")
  }

  /** Pointer doubling over successor blocks until every pointer sits
    * on its pit, summing v2 along the way when the blocks carry it.
    * succ(c) = out-edge target, or self for pits — a total function,
    * so doubling composes cleanly. Each round is the Fixpoint kernel's
    * pointer jump (re-key by pointer, compose, re-key back) in one
    * job; the changed-pointer count rides that job. */
  private def toPits(spark: SparkSession, in: Fixpoint.Blocks, nCells: Long,
                     what: String): Fixpoint.Blocks = {
    val part = Fixpoint.partitioner(spark.sparkContext, nCells)
    Fixpoint.loop(what, 64, s"$what: pointer doubling exceeded 64 rounds — " +
        "the flow graph has a cycle, which strict-descent D8 cannot produce",
        release = Seq(in))(Seq(Fixpoint.shuffle(in, part))) {
      (s, r) => Seq(Fixpoint.pointerJump(s.head, part, Some(r.changed)))
    }.head
  }

  /** Downstream flow length (ESRI FlowLength, downstream direction):
    * per cell, the total path length along D8 flow directions to its
    * terminal pit — cardinal steps count 1, diagonals √2. Pits are 0.
    *
    * Determinism: steps micro-quantize (1e6 and round(√2·1e6) =
    * 1414214) so every path sum is an EXACT integer — the output is
    * `dist_q` in micro-cells and the oracle's recursive CTE sums the
    * same integers (no floats anywhere).
    *
    * Scale shape: pointer doubling ACCUMULATING distance — state
    * (id, nxt, dq) with dq = distance from id to nxt; each round
    * dq += dq(nxt), nxt = nxt² — a depth-D path resolves in log2 D
    * rounds (the [[watershed]] discipline, carrying a sum instead of
    * just the endpoint). Guarded driver walk with suffix-sum
    * memoization below `maxDriverEdges`. */
  def flowLength(cells: DataFrame, gridCols: Long, gridRows: Long,
                 maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    val (in, nCells) = d8Input(cells, gridCols, gridRows, withStep = true)
    if (nCells <= maxDriverEdges) {
      val c = Fixpoint.collect(in)
      val dist = resolve(successors(c.all))(_ => 0L)((cell, next) => next + c.all.v2(cell))
      return cellsOut(spark, c.emit(dist), gridCols, "dist_q")
    }
    // distance-accumulating pointer doubling: the watershed loop with
    // the step length as the kernel's summed payload
    val dist = toPits(spark, in, nCells, "flowLength")
    cellsOut(spark, Fixpoint.map(dist)(b => LongBlock(b.keys, b.v2)), gridCols, "dist_q")
  }

  /** Strahler stream order over the full D8 drainage forest (Strahler
    * 1957; the geotrellis/ESRI StreamOrder operation with every cell
    * treated as stream): cells with no upstream contributor are order
    * 1; a cell whose upstream max order k is contributed by >= 2
    * neighbors gets k + 1, otherwise k.
    *
    * Scale shape: monotone fixpoint — each round looks current orders
    * up along the out-edges and rebuilds per-cell (max order, count at
    * max) with one combined re-key. Orders only grow and are bounded
    * by log2(cells), so round count = drainage-tree DEPTH, with
    * per-round convergence read off the count of changed orders; no
    * path is longer than the cell count, which caps the rounds.
    * The guarded driver fast path computes the same fixpoint in one
    * topological pass over the collected successor blocks
    * (flowAccumulation precedent).
    */
  def streamOrder(cells: DataFrame, gridCols: Long, gridRows: Long,
                  maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    val (in, nCells) = d8Input(cells, gridCols, gridRows, withStep = false)
    if (nCells <= maxDriverEdges) {
      val c = Fixpoint.collect(in)
      val nxt = successors(c.all)
      val indeg = new Array[Int](nxt.length)
      nxt.foreach(t => if (t >= 0) indeg(t) += 1)
      val ord = new Array[Long](nxt.length)
      val best = new Array[Long](nxt.length)  // max child order seen
      val bestK = new Array[Int](nxt.length)  // children at that max
      // Kahn topological pass: leaves first, each settles its target
      val stack = new Array[Int](nxt.length)
      var n = 0
      indeg.indices.foreach(i => if (indeg(i) == 0) { stack(n) = i; n += 1 })
      while (n > 0) {
        n -= 1
        val c = stack(n)
        val m = best(c)
        ord(c) = if (m == 0) 1 else if (bestK(c) >= 2) m + 1 else m
        val t = nxt(c)
        if (t >= 0) {
          if (ord(c) > best(t)) { best(t) = ord(c); bestK(t) = 1 }
          else if (ord(c) == best(t)) bestK(t) += 1
          indeg(t) -= 1
          if (indeg(t) == 0) { stack(n) = t; n += 1 }
        }
      }
      return cellsOut(spark, c.emit(ord), gridCols, "ord")
    }
    // The fixpoint on the Fixpoint kernel: out-edges (keyed by source)
    // and orders (keyed by cell) are co-partitioned blocks, so the
    // upstream lookup is a narrow zip; (max order, contributors at
    // max) per target is ONE MaxCount re-key, combined map-side; the
    // Strahler update is a narrow zip again. One job per round; the
    // changed-order count rides it.
    val part = Fixpoint.partitioner(spark.sparkContext, nCells)
    val d8 = Fixpoint.shuffle(in, part)
    val edges = Fixpoint.map(d8)(outEdges).localCheckpoint()
    val ord0 = Fixpoint.map(d8)(b => LongBlock(b.keys, Array.fill(b.size)(1L)))
    val ord = Fixpoint.loop("so", nCells + 1L,
        s"streamOrder: fixpoint not reached in ${nCells + 1L} rounds — " +
        "the flow graph has a cycle, which strict-descent D8 cannot produce",
        release = Seq(in))(Seq(ord0)) { (s, r) =>
      val mk = Fixpoint.shuffle(Fixpoint.zip(edges, s.head) { (e, o) =>
        val ix = o.index
        val out = new LongBlock.Builder(2, e.size)
        var i = 0
        while (i < e.size) { out.add(e.v1(i), o.v1(ix(e.keys(i))), 1L); i += 1 }
        out.result()
      }, part, Some(LongBlock.Agg.MaxCount))
      Seq(Fixpoint.zip(s.head, mk) { (o, m) =>
        val ix = m.index
        var changed = 0L
        val next = Array.tabulate(o.size) { i =>
          val p = ix(o.keys(i))
          val n = if (p < 0) 1L else if (m.v2(p) >= 2L) m.v1(p) + 1L else m.v1(p)
          if (n != o.v1(i)) changed += 1
          n
        }
        r.changed.add(changed)
        LongBlock(o.keys, next)
      })
    }.head
    edges.unpersist(blocking = false)
    cellsOut(spark, ord, gridCols, "ord")
  }

  /** ArcGIS SnapPourPoint: move each pour point to the cell with the
    * highest flow accumulation within `radius` cells (Chebyshev) of
    * the point's own cell — the standard pre-watershed fix for
    * outlets digitized slightly off the stream channel. Ties break
    * north-then-west ((acc DESC, y ASC, x ASC)). Pour points are the
    * bounded dimension side: broadcast range-join against the
    * accumulation cells, then one map-side-combinable struct-argmax
    * per pid — no window, no per-cell shuffle.
    *
    * `points` carries (pid, px, py) in cell units (the supplierPoints
    * contract); `accum` is flowAccumulation's (x, y, acc). */
  def snapPourPoints(points: DataFrame, accum: DataFrame, radius: Int): DataFrame = {
    val pts = broadcast(points.select(col("pid"),
      floor(col("px")).cast("long").as("cx"),
      floor(col("py")).cast("long").as("cy")))
    accum.join(pts,
        accum("x").between(pts("cx") - radius, pts("cx") + radius) &&
        accum("y").between(pts("cy") - radius, pts("cy") + radius))
      .groupBy(col("pid"))
      .agg(max(struct(col("acc"),
        (-col("y")).as("ny"), (-col("x")).as("nx"))).as("b"))
      .select(col("pid"), (-col("b.nx")).as("x"), (-col("b.ny")).as("y"),
        col("b.acc").as("acc"))
  }
}
