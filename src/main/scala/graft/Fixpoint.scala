package graft

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** One partition of a loop's state as primitive columns: `keys` plus
  * up to two value columns. An unused column is an empty array, so the
  * empty block serves every width. */
final class LongBlock(val keys: Array[Long], val v1: Array[Long], val v2: Array[Long])
    extends Serializable {
  def size: Int = keys.length
  def width: Int =
    if (size == 0) 0 else if (v2.length == size) 2 else if (v1.length == size) 1 else 0
  /** Per-task position index over the keys (never part of the block). */
  def index: LongIndex = LongIndex.of(keys)
}

object LongBlock {
  private val NoCol = Array.emptyLongArray
  val Empty = new LongBlock(NoCol, NoCol, NoCol)

  def apply(keys: Array[Long], v1: Array[Long] = NoCol, v2: Array[Long] = NoCol): LongBlock =
    new LongBlock(keys, v1, v2)

  /** Growable block of a fixed width. */
  final class Builder(width: Int, capacity: Int = 16) {
    private var k = new Array[Long](math.max(capacity, 4))
    private var a = if (width >= 1) new Array[Long](k.length) else NoCol
    private var b = if (width >= 2) new Array[Long](k.length) else NoCol
    private var n = 0
    def add(key: Long, x: Long = 0L, y: Long = 0L): Unit = {
      if (n == k.length) {
        k = java.util.Arrays.copyOf(k, n * 2)
        if (width >= 1) a = java.util.Arrays.copyOf(a, n * 2)
        if (width >= 2) b = java.util.Arrays.copyOf(b, n * 2)
      }
      k(n) = key
      if (width >= 1) a(n) = x
      if (width >= 2) b(n) = y
      n += 1
    }
    def addRow(src: LongBlock, i: Int): Unit =
      add(src.keys(i), if (width >= 1) src.v1(i) else 0L, if (width >= 2) src.v2(i) else 0L)
    def result(): LongBlock = LongBlock(java.util.Arrays.copyOf(k, n),
      if (width >= 1) java.util.Arrays.copyOf(a, n) else NoCol,
      if (width >= 2) java.util.Arrays.copyOf(b, n) else NoCol)
  }

  /** All rows of `parts` in one block. */
  def concat(parts: Iterator[LongBlock]): LongBlock = {
    val ps = parts.filter(_.size > 0).toArray
    if (ps.isEmpty) Empty
    else if (ps.length == 1) ps(0)
    else {
      val w = ps(0).width
      require(ps.forall(_.width == w), "concat: blocks of different widths")
      def cat(f: LongBlock => Array[Long]): Array[Long] = {
        val out = new Array[Long](ps.map(_.size).sum)
        var off = 0
        ps.foreach { p => System.arraycopy(f(p), 0, out, off, p.size); off += p.size }
        out
      }
      LongBlock(cat(_.keys), if (w >= 1) cat(_.v1) else NoCol, if (w >= 2) cat(_.v2) else NoCol)
    }
  }

  /** How rows sharing a key combine in [[reduce]]. */
  sealed trait Agg
  object Agg {
    /** v1 summed. */
    case object Sum extends Agg
    /** v1 minimum. */
    case object Min extends Agg
    /** (v1, v2) = (maximum, summed v2 of the rows at that maximum). */
    case object MaxCount extends Agg
  }

  /** One row per distinct key, combined by `agg` (primitive hash
    * aggregation; rows keep first-seen key order). */
  def reduce(b: LongBlock, agg: Agg): LongBlock = {
    val w = b.width
    val ix = LongIndex(b.size)
    val a = new Array[Long](b.size)
    val c = if (w >= 2) new Array[Long](b.size) else NoCol
    var i = 0
    while (i < b.size) {
      val s = ix.add(b.keys(i))
      if (s < 0) {
        val t = -s - 1
        if (w >= 1) a(t) = b.v1(i)
        if (w >= 2) c(t) = b.v2(i)
      } else if (w >= 1) agg match {
        case Agg.Sum => a(s) += b.v1(i)
        case Agg.Min => if (b.v1(i) < a(s)) a(s) = b.v1(i)
        case Agg.MaxCount =>
          if (b.v1(i) > a(s)) { a(s) = b.v1(i); c(s) = b.v2(i) }
          else if (b.v1(i) == a(s)) c(s) += b.v2(i)
      }
      i += 1
    }
    val n = ix.size
    LongBlock(java.util.Arrays.copyOf(ix.keys, n),
      if (w >= 1) java.util.Arrays.copyOf(a, n) else NoCol,
      if (w >= 2) java.util.Arrays.copyOf(c, n) else NoCol)
  }

  /** The distinct (key, v1) rows of a width-1 block, sorted
    * lexicographically (bottom-up merge sort on the two columns). */
  def sortedDistinct(b: LongBlock): LongBlock = {
    val n = b.size
    var k = b.keys.clone(); var v = b.v1.clone()
    var tk = new Array[Long](n); var tv = new Array[Long](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n); val hi = math.min(lo + 2 * w, n)
        var i = lo; var j = mid; var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && (k(i) < k(j) || (k(i) == k(j) && v(i) <= v(j))))) {
            tk(o) = k(i); tv(o) = v(i); i += 1
          } else { tk(o) = k(j); tv(o) = v(j); j += 1 }
          o += 1
        }
        lo += 2 * w
      }
      val sk = k; k = tk; tk = sk
      val sv = v; v = tv; tv = sv
      w *= 2
    }
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || k(i) != k(m - 1) || v(i) != v(m - 1)) { k(m) = k(i); v(m) = v(i); m += 1 }
      i += 1
    }
    LongBlock(java.util.Arrays.copyOf(k, m), java.util.Arrays.copyOf(v, m))
  }

  /** Shuffle encoding: zigzag varints, keys as deltas from the previous
    * key (serializer-independent, no per-row objects). */
  def encode(b: LongBlock): Array[Byte] = {
    val w = b.width
    var out = new Array[Byte](16 + b.size * (w + 1) * 3)
    var n = 0
    def put(x0: Long): Unit = {
      if (n + 10 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      var x = (x0 << 1) ^ (x0 >> 63)
      while ((x & ~0x7FL) != 0L) { out(n) = ((x & 0x7F) | 0x80).toByte; n += 1; x >>>= 7 }
      out(n) = x.toByte; n += 1
    }
    put(w); put(b.size)
    var prev = 0L
    var i = 0
    while (i < b.size) { put(b.keys(i) - prev); prev = b.keys(i); i += 1 }
    if (w >= 1) b.v1.foreach(put)
    if (w >= 2) b.v2.foreach(put)
    java.util.Arrays.copyOf(out, n)
  }

  def decode(bytes: Array[Byte]): LongBlock = {
    var n = 0
    def get(): Long = {
      var x = 0L; var shift = 0; var byte = 0
      while ({
        byte = bytes(n); n += 1
        x |= (byte & 0x7FL) << shift; shift += 7
        (byte & 0x80) != 0
      }) ()
      (x >>> 1) ^ -(x & 1)
    }
    val w = get().toInt
    val size = get().toInt
    val k = new Array[Long](size)
    var prev = 0L
    var i = 0
    while (i < size) { prev += get(); k(i) = prev; i += 1 }
    def col(): Array[Long] = Array.fill(size)(get())
    val a = if (w >= 1) col() else NoCol
    LongBlock(k, a, if (w >= 2) col() else NoCol)
  }
}

/** Primitive open-addressing index from long keys to dense positions.
  * [[LongIndex.of]] indexes an existing key column (first occurrence
  * wins); [[LongIndex.apply]] starts empty and [[add]]s keys. */
final class LongIndex private (ks: Array[Long], private var n: Int) {
  private val mask = {
    var c = 2
    while (c < 2 * ks.length) c <<= 1
    c - 1
  }
  private val table = new Array[Int](mask + 1) // position + 1; 0 = free

  def keys: Array[Long] = ks
  def size: Int = n

  private def probe(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    var p = ((h >>> 32) ^ h).toInt & mask
    while (table(p) != 0 && ks(table(p) - 1) != k) p = (p + 1) & mask
    p
  }

  /** Position of `k`, or -1. */
  def apply(k: Long): Int = table(probe(k)) - 1

  /** Position of `k`; a key seen for the first time is appended and
    * returned as -(position + 1). */
  def add(k: Long): Int = {
    val p = probe(k)
    if (table(p) != 0) table(p) - 1
    else {
      require(n < ks.length, "LongIndex is full")
      ks(n) = k; n += 1; table(p) = n
      -n
    }
  }
}

object LongIndex {
  def apply(capacity: Int): LongIndex = new LongIndex(new Array[Long](capacity), 0)

  def of(keys: Array[Long]): LongIndex = {
    val ix = new LongIndex(keys, keys.length)
    var i = 0
    while (i < keys.length) {
      val p = ix.probe(keys(i))
      if (ix.table(p) == 0) ix.table(p) = i + 1
      i += 1
    }
    ix
  }
}

/** The loop kernel behind every distributed fixpoint (hydrology's four
  * loops, the cost-path backtrack, connected components). State is an
  * `RDD[LongBlock]` with ONE block per partition under a sticky
  * HashPartitioner: joins are [[zip]]s with a per-task [[LongIndex]],
  * keyed aggregates are primitive [[LongBlock.reduce]]s, and re-keying
  * ships each map task's rows as one encoded byte array per target
  * partition. Spark's pair machinery is never on the path: a traced
  * benchmark run of the keyed-RDD loops this replaces spent about half
  * of their executor samples in `SizeEstimator`, under RDD `join`
  * (CoGroupedRDD), the checkpoint blocks of `(Long, Long)` tuples and
  * the `reduceByKey`/`aggregateByKey` combiners. Every step's input
  * enters through [[input]], which the guarded driver fast paths read
  * too; [[loop]] also drives the tile-state rounds of
  * `Distance.costDistanceTiled`, whose state is not blocks. */
object Fixpoint {
  type Blocks = RDD[LongBlock]

  /** Partitions for a loop over `rows` keyed rows: one per ~64k rows up
    * to the session's parallelism, and never more than ~16M rows per
    * block (a block's columns must fit one task's memory). */
  def partitioner(sc: SparkContext, rows: Long): HashPartitioner =
    new HashPartitioner(math.max(math.min(sc.defaultParallelism.toLong, rows / 65536L + 1L),
      rows / (1L << 24) + 1L).toInt)

  /** The partition a HashPartitioner of `n` partitions gives key `k`. */
  def slot(k: Long, n: Int): Int = {
    val m = java.lang.Long.hashCode(k) % n
    if (m < 0) m + n else m
  }

  /** The one entry of every loop step: one block per partition of `df`
    * in place (no re-key), keyed by its first column (1-3 columns;
    * DOUBLE columns keep their raw IEEE bits, the others are cast to
    * long), localCheckpointed, with their exact row count, all in ONE
    * job. Guards compare the count; the distributed path re-keys the
    * blocks with [[shuffle]], and driver fast paths [[collect]] them. */
  def input(df: DataFrame): (Blocks, Long) = {
    val w = df.columns.length - 1
    require(w >= 0 && w <= 2, "input: 1-3 columns")
    val bits = df.schema.fields.map(_.dataType == DoubleType)
    val rows = df.select(df.columns.toSeq.zip(bits).map { case (c, b) =>
      if (b) df(c) else df(c).cast("long") }: _*).queryExecution.toRdd
    def get(r: InternalRow, i: Int): Long =
      if (bits(i)) java.lang.Double.doubleToRawLongBits(r.getDouble(i)) else r.getLong(i)
    val in = rows.mapPartitions { it =>
      val b = new LongBlock.Builder(w)
      it.foreach { r =>
        b.add(get(r, 0), if (w >= 1) get(r, 1) else 0L, if (w >= 2) get(r, 2) else 0L)
      }
      Iterator.single(b.result())
    }.localCheckpoint()
    (in, count(in))
  }

  /** A driver fast path's view of pinned [[input]] blocks: every row in
    * one block, in partition order ([[all]], one collect), and [[emit]],
    * which puts a result column aligned with those rows back onto the
    * pinned blocks by broadcast (no join). */
  final class Collected private[Fixpoint] (in: Blocks) {
    private val parts = in.collect()
    val all: LongBlock = LongBlock.concat(parts.iterator)

    /** `in`'s keys with v1 = `col` (one value per row of [[all]]). */
    def emit(col: Array[Long]): Blocks = {
      require(col.length == all.size, "emit: one value per collected row")
      val offs = parts.scanLeft(0)(_ + _.size)
      val bc = in.context.broadcast(Array.tabulate(parts.length) { p =>
        java.util.Arrays.copyOfRange(col, offs(p), offs(p + 1)) })
      in.mapPartitionsWithIndex((p, it) => it.map(b => LongBlock(b.keys, bc.value(p))),
        preservesPartitioning = true)
    }
  }

  /** Collects `in` for a driver fast path (one job). */
  def collect(in: Blocks): Collected = new Collected(in)

  def map(b: Blocks)(f: LongBlock => LongBlock): Blocks =
    b.mapPartitions(it => Iterator.single(f(LongBlock.concat(it))), preservesPartitioning = true)

  /** Partition-wise `f` over two co-partitioned block RDDs (the
    * narrow replacement of RDD `join`); refuses RDDs that are not
    * partitioned alike. */
  def zip(a: Blocks, b: Blocks)(f: (LongBlock, LongBlock) => LongBlock): Blocks = {
    require(a.partitioner.isDefined && a.partitioner == b.partitioner,
      s"Fixpoint.zip needs co-partitioned blocks (${a.partitioner} vs ${b.partitioner})")
    a.zipPartitions(b, preservesPartitioning = true) { (x, y) =>
      Iterator.single(f(LongBlock.concat(x), LongBlock.concat(y)))
    }
  }

  /** Re-keys every row to the partition `part` gives its key. Each map
    * task ships one encoded block per target partition (combined by
    * `agg` first when given); the receiving side concatenates them
    * (and combines again). */
  def shuffle(rows: RDD[LongBlock], part: HashPartitioner,
              agg: Option[LongBlock.Agg] = None): Blocks = {
    val n = part.numPartitions
    val chunks = rows.mapPartitions { it =>
      val out = new Array[LongBlock.Builder](n)
      it.foreach { b =>
        val w = b.width
        var i = 0
        while (i < b.size) {
          val p = slot(b.keys(i), n)
          if (out(p) == null) out(p) = new LongBlock.Builder(w, b.size / n + 1)
          out(p).addRow(b, i)
          i += 1
        }
      }
      // key p routes to partition p: a Long below n hashes to itself
      Iterator.range(0, n).filter(out(_) != null).map { p =>
        val c = out(p).result()
        (p.toLong, LongBlock.encode(agg.fold(c)(LongBlock.reduce(c, _))))
      }
    }
    new ShuffledRDD[Long, Array[Byte], Array[Byte]](chunks, part).mapPartitions({ it =>
      val b = LongBlock.concat(it.map(kv => LongBlock.decode(kv._2)))
      Iterator.single(agg.fold(b)(LongBlock.reduce(b, _)))
    }, preservesPartitioning = true)
  }

  /** Pointer doubling over a table keyed by node with v1 = pointer (and
    * optionally v2 = a payload summed along the path): each row asks
    * its pointer's row for that row's pointer (re-key by pointer, one
    * shuffle) and the answer returns to the asking node (a second
    * shuffle). Rows whose pointer has no row drop out; `moved` counts
    * the rows whose pointer changed. */
  def pointerJump(j: Blocks, part: HashPartitioner,
                  moved: Option[LongAccumulator] = None): Blocks = {
    val asks = shuffle(map(j)(b => LongBlock(b.v1, b.keys, b.v2)), part)
    shuffle(zip(asks, j) { (q, t) =>
      val ix = t.index
      val paid = q.width >= 2
      val out = new LongBlock.Builder(q.width, q.size)
      var changed = 0L
      var i = 0
      while (i < q.size) {
        val p = ix(q.keys(i))
        if (p >= 0) {
          if (t.v1(p) != q.keys(i)) changed += 1
          out.add(q.v1(i), t.v1(p), if (paid) q.v2(i) + t.v2(p) else 0L)
        }
        i += 1
      }
      moved.foreach(_.add(changed))
      out.result()
    }, part)
  }

  /** Every row as a `T`. */
  def rows[T: ClassTag](b: Blocks)(f: (LongBlock, Int) => T): RDD[T] =
    b.mapPartitions(_.flatMap(x => Iterator.range(0, x.size).map(f(x, _))))

  /** Exact row count (one job; it also completes a pending
    * localCheckpoint of `b`). */
  def count(b: Blocks): Long = b.map(_.size.toLong).fold(0L)(_ + _)

  /** One round of a [[loop]]: its index, the change counter the step
    * fills (tasks may capture the round), and [[pin]] for intermediates
    * the step consumes twice. */
  final class Round private[Fixpoint] (val index: Int, val changed: LongAccumulator)
      extends Serializable {
    @transient private[Fixpoint] val pinned = mutable.ArrayBuffer.empty[RDD[_]]
    /** Checkpointed with this round's state and released after it. */
    def pin[R <: RDD[_]](b: R): R = { b.localCheckpoint(); pinned += b; b }
  }

  /** Runs `step` from `init` until a round changes nothing. Each
    * round's new state is localCheckpointed and materialized in ONE
    * job that also fills the round's `changed` accumulator (task
    * retries only inflate it: a spurious nonzero costs one idempotent
    * round, zero is a true fixpoint); then the superseded state and the
    * round's pins are unpersisted, and after the first round also
    * `release` (the input blocks `init` was built from). More than
    * `maxRounds` rounds fail with `capMsg`. Returns the final state. */
  def loop[T: ClassTag](what: String, maxRounds: Long, capMsg: => String,
                        release: Seq[RDD[_]] = Nil)(init: Seq[RDD[T]])(
      step: (Seq[RDD[T]], Round) => Seq[RDD[T]]): Seq[RDD[T]] = {
    val sc = init.head.context
    init.foreach(b => if (b.getStorageLevel == StorageLevel.NONE) b.localCheckpoint())
    var state = init
    var r = 0
    var done = false
    while (!done) {
      require(r < maxRounds, capMsg)
      val round = new Round(r, sc.longAccumulator(s"graft_${what}_$r"))
      val next = step(state, round)
      next.foreach(_.localCheckpoint())
      sc.runJob(sc.union(next), (it: Iterator[T]) => it.foreach(_ => ()))
      (state ++ round.pinned ++ (if (r == 0) release else Nil))
        .filterNot(b => next.exists(_ eq b)).foreach(_.unpersist(blocking = false))
      state = next
      done = round.changed.value == 0
      r += 1
    }
    state
  }
}
