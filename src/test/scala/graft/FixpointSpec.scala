package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.storage.StorageLevel

/** The loop kernel against plain Scala collections: routing, keyed
  * aggregates, lookups, encoding and the round driver's contract. */
class FixpointSpec extends SparkSpec {

  /** Seeded (key, v1, v2) rows: duplicate keys, negative and extreme
    * values, split over three input partitions. */
  private def rows(seed: Int, n: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val special = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L << 40)
    Seq.fill(n) {
      val k = if (rnd.nextInt(20) == 0) special(rnd.nextInt(special.size)) else rnd.nextInt(n / 4).toLong - 50L
      (k, rnd.nextLong() >> rnd.nextInt(64), rnd.nextInt(5).toLong)
    }
  }

  private def blocks(rs: Seq[(Long, Long, Long)]): Fixpoint.Blocks =
    spark.sparkContext.parallelize(rs, 3).mapPartitions { it =>
      val b = new LongBlock.Builder(2)
      it.foreach { case (k, x, y) => b.add(k, x, y) }
      Iterator.single(b.result())
    }

  private def all(b: Fixpoint.Blocks): Seq[(Int, (Long, Long, Long))] =
    b.mapPartitionsWithIndex { (p, it) =>
      it.flatMap(x => Iterator.range(0, x.size).map { i =>
        (p, (x.keys(i), if (x.width >= 1) x.v1(i) else 0L, if (x.width >= 2) x.v2(i) else 0L))
      })
    }.collect().toSeq

  test("re-key, sum/min/max-count by key and lookup match a Map reference on 1, 3 and 7 partitions") {
    val rs = rows(7, 4000)
    Seq(1, 3, 7).foreach { n =>
      val part = new HashPartitioner(n)
      // re-key: every row arrives once, on the partition HashPartitioner gives its key
      val routed = Fixpoint.shuffle(blocks(rs), part)
      assert(routed.partitioner.contains(part))
      assert(routed.getNumPartitions == n)
      assert(routed.mapPartitions(it => Iterator(it.size)).collect().forall(_ == 1))
      val got = all(routed)
      got.foreach { case (p, (k, _, _)) =>
        assert(p == part.getPartition(k) && p == Fixpoint.slot(k, n), s"key $k on $p")
      }
      assert(got.map(_._2).sorted == rs.sorted)

      val byKey = rs.groupBy(_._1)
      val sums = all(Fixpoint.shuffle(blocks(rs), part, Some(LongBlock.Agg.Sum))).map(_._2)
      assert(sums.map(r => r._1 -> r._2).toMap == byKey.map { case (k, g) => k -> g.map(_._2).sum })
      assert(sums.size == byKey.size)
      val mins = all(Fixpoint.shuffle(blocks(rs), part, Some(LongBlock.Agg.Min))).map(_._2)
      assert(mins.map(r => r._1 -> r._2).toMap == byKey.map { case (k, g) => k -> g.map(_._2).min })
      val maxc = all(Fixpoint.shuffle(blocks(rs), part, Some(LongBlock.Agg.MaxCount))).map(_._2)
      assert(maxc.map(r => r._1 -> (r._2, r._3)).toMap == byKey.map { case (k, g) =>
        val m = g.map(_._2).max
        k -> ((m, g.filter(_._2 == m).map(_._3).sum))
      })

      // lookup: a co-partitioned zip with the per-task index
      val table = Fixpoint.shuffle(blocks(rs), part, Some(LongBlock.Agg.Min))
      val probes = (-80L to 1100L) ++ Seq(Long.MinValue, Long.MaxValue, 1L << 40, 1L << 41)
      val asks = Fixpoint.shuffle(blocks(probes.map(k => (k, 0L, 0L))), part)
      val answered = all(Fixpoint.zip(asks, table) { (q, t) =>
        val ix = t.index
        LongBlock(q.keys, q.keys.map { k => val p = ix(k); if (p < 0) -1L else t.v1(p) },
          q.keys.map(k => ix(k).toLong))
      }).map(_._2)
      val ref = byKey.map { case (k, g) => k -> g.map(_._2).min }
      assert(answered.size == probes.size)
      answered.foreach { case (k, v, p) =>
        if (ref.contains(k)) assert(v == ref(k), s"lookup $k")
        else assert(p == -1L, s"absent $k")
      }
    }
  }

  test("input: one pinned block per input partition and the exact row count in one job") {
    import spark.implicits._
    val rs = rows(5, 3000).map { case (k, x, y) =>
      (k, if (y == 0L) -0.0 else x.toDouble / 7, y.toInt) }
    val df = spark.sparkContext.parallelize(rs, 3).toDF("k", "d", "n")
    val ((in, n), jobs, _) = traced(Fixpoint.input(df))
    assert(n == rs.size)
    assert(jobs == 1)
    assert(in.isCheckpointed && in.getStorageLevel != StorageLevel.NONE)
    // no re-key: the input's partitions, one block each
    assert(in.partitioner.isEmpty && in.getNumPartitions == 3)
    assert(in.mapPartitions(it => Iterator(it.size)).collect().forall(_ == 1))
    // DOUBLE columns keep their raw bits, the others become longs
    val want = rs.map { case (k, d, y) => (k, java.lang.Double.doubleToRawLongBits(d), y.toLong) }
    assert(all(in).map(_._2) == want)
    val c = Fixpoint.collect(in)
    assert(c.all.keys.toSeq == want.map(_._1) && c.all.v1.toSeq == want.map(_._2) &&
      c.all.v2.toSeq == want.map(_._3))
    // emit puts a driver-side column back onto the pinned blocks in row order
    val emitted = all(c.emit(Array.tabulate(rs.size)(_.toLong))).map(_._2)
    assert(emitted == want.zipWithIndex.map { case (r, i) => (r._1, i.toLong, 0L) })
    // and the blocks re-key like any others
    Seq(1, 4).foreach { p =>
      val routed = all(Fixpoint.shuffle(in, new HashPartitioner(p)))
      routed.foreach { case (q, (k, _, _)) => assert(q == Fixpoint.slot(k, p), s"key $k on $q") }
      assert(routed.map(_._2).sorted == want.sorted)
    }
    in.unpersist()
  }

  test("zip refuses blocks that are not partitioned alike") {
    val rs = rows(3, 200)
    val a = Fixpoint.shuffle(blocks(rs), new HashPartitioner(3))
    val b = Fixpoint.shuffle(blocks(rs), new HashPartitioner(7))
    val e1 = intercept[IllegalArgumentException](Fixpoint.zip(a, b)((x, _) => x))
    assert(e1.getMessage.contains("co-partitioned"))
    // an unpartitioned RDD is refused even when partition counts agree
    val e2 = intercept[IllegalArgumentException](Fixpoint.zip(blocks(rs), blocks(rs))((x, _) => x))
    assert(e2.getMessage.contains("co-partitioned"))
  }

  test("shuffle encoding round-trips every width and extreme values; sortedDistinct matches a sorted set") {
    val rs = rows(11, 3000)
    val full = LongBlock(rs.map(_._1).toArray, rs.map(_._2).toArray, rs.map(_._3).toArray)
    Seq(full, LongBlock(full.keys, full.v1), LongBlock(full.keys), LongBlock.Empty).foreach { b =>
      val d = LongBlock.decode(LongBlock.encode(b))
      assert(d.width == b.width && d.keys.sameElements(b.keys) &&
        d.v1.sameElements(b.v1) && d.v2.sameElements(b.v2))
    }
    val sd = LongBlock.sortedDistinct(LongBlock(full.keys, full.v1))
    assert(sd.keys.zip(sd.v1).toSeq == rs.map(r => (r._1, r._2)).distinct.sorted)
    assert(LongBlock.sortedDistinct(LongBlock.Empty).size == 0)
  }

  test("loop: converges on a zero change count, releases superseded state, fails loudly past its cap") {
    val part = new HashPartitioner(3)
    // halve every value until all are zero: log2(max) + 1 rounds
    val init = Fixpoint.shuffle(blocks((1 to 50).map(i => (i.toLong, i.toLong * 37, 0L))), part)
    var seen = List.empty[Fixpoint.Blocks]
    val out = Fixpoint.loop("halve", 64, "no fixpoint")(Seq(init)) { (s, r) =>
      seen = s.head :: seen
      Seq(Fixpoint.map(s.head) { b =>
        r.changed.add(b.v1.count(_ != 0))
        LongBlock(b.keys, b.v1.map(_ / 2))
      })
    }.head
    assert(all(out).forall(_._2._2 == 0L))
    assert(seen.size == 12) // 1850 needs 11 halvings, the 12th changes nothing
    assert(seen.forall(_.getStorageLevel == StorageLevel.NONE))
    assert(out.getStorageLevel != StorageLevel.NONE)
    out.unpersist()
    val fresh = Fixpoint.shuffle(blocks(Seq((1L, 1L, 0L))), part)
    val e = intercept[IllegalArgumentException] {
      Fixpoint.loop("never", 3, "no fixpoint within 3 rounds")(Seq(fresh)) { (s, r) =>
        r.changed.add(1)
        Seq(Fixpoint.map(s.head)(identity))
      }
    }
    assert(e.getMessage.contains("no fixpoint within 3 rounds"))
    // any element type; `release` goes once the first round is materialized
    val src = spark.sparkContext.parallelize(1 to 20, 2).cache()
    src.count()
    var firstRound = List.empty[StorageLevel]
    val plain = Fixpoint.loop("plain", 64, "no fixpoint", release = Seq(src))(
        Seq(src.map(i => (i, i % 3 == 0)))) { (s, r) =>
      if (r.index == 1) firstRound = src.getStorageLevel :: firstRound
      Seq(s.head.map { case (i, flag) => if (flag) r.changed.add(1); (i, false) })
    }.head
    assert(firstRound == List(StorageLevel.NONE))
    assert(plain.collect().toSeq == (1 to 20).map((_, false)))
  }
}
