package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
    (2L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again", "en", "s", 60L), // near dup of 1
    (4L, "completely different content about spark distributed computing engines", "en", "s", 70L),
    (5L, "der hund und die katze sind freunde und das ist gut", "de", "s", 50L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).select("keeper", "dups").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(out.count(_._2 == 1L) == 3)
  }

  test("jaccard pairs find near duplicates, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, k = 3, threshold = 0.4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signatures identical for identical docs") {
    val sig = Dedup.minhashSignatures(docs, k = 8, shingleK = 3)
    val rows = sig.where(col("doc_id").isin(1, 2)).drop("doc_id").collect()
    assert(rows(0) == rows(1))
  }

  test("minhashEval: exact dup scores 16/16 with Jaccard 1.0") {
    val out = Dedup.minhashEval(docs, k = 16, bands = 4, shingleK = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    val (est, inter, uni, jac) = out((1L, 2L))
    assert(est == 16L && inter == uni && jac == 1000000L)
    // near dup (1,3): estimator can miss components but exact Jaccard
    // must be strictly between 0 and 1
    out.get((1L, 3L)).foreach { case (_, i, u, j) =>
      assert(i > 0 && i < u && j > 0 && j < 1000000L)
    }
  }

  test("cdcChunks: identical docs share every chunk, unique docs none") {
    val out = Dedup.cdcChunks(docs).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 5)
    val (n1, d1) = out(1L); val (n2, d2) = out(2L)
    assert(n1 >= 1 && (n1, d1) == ((n2, d2)) && d1 == n1) // all chunks shared
    assert(out(5L)._2 == 0L) // german text shares nothing
    // chunk counts partition the tokens: every doc has >= 1 chunk
    assert(out.values.forall(_._1 >= 1))
  }

  test("blocklistScan: Aho-Corasick counts match naive substring counts") {
    val terms = Seq("quick", "lazy dog", "again", "und")
    def naive(text: String, t: String): Long = {
      var c = 0L; var i = text.indexOf(t)
      while (i >= 0) { c += 1; i = text.indexOf(t, i + 1) }
      c
    }
    val out = TextAnalysis.blocklistScan(docs, terms)
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    for ((id, text) <- texts; t <- terms) {
      val expect = naive(text.toLowerCase, t)
      assert(out.getOrElse((id, t), 0L) == expect,
        s"doc $id term '$t': got ${out.getOrElse((id, t), 0L)}, want $expect")
    }
    assert(out((5L, "und")) == 4L) // hund, und, freunde, und
  }

  test("AhoCorasick automaton: nested and overlapping patterns") {
    val ac = new org.apache.spark.sql.graft.AhoCorasick(
      Array("ab", "abc", "c", "aa"))
    assert(ac.scan("abcab").toSeq == Seq(2L, 1L, 1L, 0L))
    assert(ac.scan("aaaa").toSeq == Seq(0L, 0L, 0L, 3L)) // overlapping aa
    assert(ac.scan("").toSeq == Seq(0L, 0L, 0L, 0L))
  }

  private val backoffChain = Seq(
    (2L, "a b c a b d"),          // train (even id): N=6
    (1L, "a b c x y z a b"))      // scored (odd id)

  test("stupidBackoff: trigram hit, bigram miss chain, unigram backoff") {
    val d = backoffChain.toDF("doc_id", "text")
    val out = TextAnalysis.stupidBackoff(d)
      .as[(Long, Long, Long)].head()
    // (a,b,c)=c3/c2=1/2; (b,c,x),(c,x,y),(x,y,z)=0 (x,y,z unseen);
    // (y,z,a)=α²·c1(a)/N = 0.25·2/6 = 1/12; (z,a,b)=α·c2(a,b)/c1(a)=0.5
    assert(out == ((1L, 6L, 500000L + 0L + 0L + 0L + 83333L + 500000L)))
  }

  test("synthBmpBlobs -> resizeFeatures: NN sample sums match the closed form") {
    val ids = Seq(1L, 3L, 7L).toDF("doc_id")
    val out = Multimodal.resizeFeatures(Multimodal.synthBmpBlobs(ids))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    for (id <- Seq(1L, 3L, 7L)) {
      val w = 8 + id % 5 * 2; val h = 6 + id % 3 * 2
      val (w2, h2) = (w / 2, h / 2)
      val expect = (for { y <- 0L until h2; x <- 0L until w2 }
        yield (id * 7 + 2 * x * 3 + 2 * y * 11) % 256).sum
      assert(out(id) == ((w2, h2, expect)), s"doc $id")
    }
    // a non-image blob reports the (0, 0, -1) fallback
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "blob")
    assert(Multimodal.resizeFeatures(junk)
      .as[(Long, Long, Long, Long)].head() == ((9L, 0L, 0L, -1L)))
  }

  test("audioWindows: exact per-window energies, partial tail drops") {
    val ids = Seq(2L).toDF("doc_id") // n = 64 + 2 = 66 -> 4 full windows
    val out = Multimodal.audioWindows(Multimodal.synthWavBlobs(ids))
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    def s(k: Long): Long = ((2 * 7 + k * 13) % 256 - 128) * 256
    val w0 = (0L until 16L).map(k => s(k) * s(k)).sum
    assert(out(0L) == w0)
  }

  test("triangleCount: one clique triangle, duplicates collapse") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L))
      .toDF("d1", "d2")
    val r = Dedup.triangleCount(pairs).as[(Long, Long)].head()
    assert(r == ((4L, 1L))) // edges dedup to 4; the 1-2-3 clique
  }

  test("minhash LSH pairs catch the exact dup") {
    val pairs = Dedup.minhashPairs(docs, k = 16, bands = 4, minEstSim = 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashPairs: a bucket over maxBucket drops, as the oracle's count(*) > cap rule") {
    val txtA = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val txtB = "completely different content about spark dataframes and shuffle exchanges"
    val d = Seq((1L, txtA), (2L, txtA), (3L, txtA), (4L, txtB), (5L, txtB))
      .toDF("doc_id", "text")
    def pairs(cap: Option[Long]) = Dedup.minhashPairs(d, maxBucket = cap)
      .as[(Long, Long, Double)].collect().toSet
    // the three identical docs fill every band bucket with 3 > 2 rows
    assert(pairs(Some(2L)) == Set((4L, 5L, 1.0)))
    assert(pairs(Some(3L)) == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0)))
    assert(pairs(None) == pairs(Some(3L)))
  }

  /** Stupid backoff by hand: counts from the even docs, one score per
    * trigram of each odd doc, quantized like the engine (HALF_UP). */
  private def backoffRef(d: Seq[(Long, String)]): Set[(Long, Long, Long)] = {
    def toks(s: String) = "[a-z0-9]+".r.findAllIn(s.toLowerCase).toSeq
    val train = d.filter(_._1 % 2 == 0).map(r => toks(r._2))
    def counts(n: Int) = train.flatMap(_.sliding(n).filter(_.size == n))
      .groupBy(identity).map { case (g, v) => g -> v.size.toLong }
    val (c1, c2, c3) = (counts(1), counts(2), counts(3))
    val ntr = train.map(_.size).sum.toDouble
    d.filter(_._1 % 2 == 1).flatMap { case (id, text) =>
      val ts = toks(text)
      if (ts.size < 3) None
      else {
        val qs = ts.sliding(3).map { g =>
          val s = c3.get(g).map(_.toDouble / c2(g.take(2)))
            .orElse(c2.get(g.drop(1)).map(c => 0.5 * (c.toDouble / c1(g.slice(1, 2)))))
            .orElse(c1.get(g.drop(2)).map(c => 0.25 * (c / ntr)))
            .getOrElse(0.0)
          BigDecimal(s * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.toSeq
        Some((id, qs.size.toLong, qs.sum))
      }
    }.toSet
  }

  private val backoffCorpora = Seq(
    Seq((2L, "a a a a"), (4L, "a b"), (6L, "b"), (8L, "a b a b c"),
      (1L, "a"), (3L, "a b"), (5L, "a b c"), (7L, "a a a a b"), (9L, "c c c b a")),
    // odd ids only: nothing to train on, every trigram scores 0
    Seq((1L, "a b c d"), (3L, "x y z"), (5L, "x y")))

  private def backoff(c: Seq[(Long, String)]): Set[(Long, Long, Long)] =
    TextAnalysis.stupidBackoff(c.toDF("doc_id", "text")).as[(Long, Long, Long)].collect().toSet

  /** `body` with broadcast joins off: the sort-merge plan every lookup
    * takes once the count table outgrows the broadcast threshold. */
  private def sortMerge[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("stupidBackoff: short docs, repeated tokens and an empty train side match by hand") {
    for (c <- backoffCorpora) assert(backoff(c) == backoffRef(c), c.toString)
    assert(backoffRef(backoffCorpora(1)) == Set((1L, 2L, 0L), (3L, 1L, 0L)))
  }

  test("stupidBackoff: the sort-merge lookup plan matches by hand") {
    for (c <- backoffChain +: backoffCorpora)
      assert(sortMerge(backoff(c)) == backoffRef(c), c.toString)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }

  test("stupidBackoff: packed count keys never match across different token splits") {
    // "a bc" / "ab c" / "abc" and "a b" / "ab" are different grams
    // whose tokens concatenate alike
    val c = Seq((2L, "a bc d"), (4L, "ab c e"), (6L, "abc"), (8L, "a b"),
      (1L, "ab c d"), (3L, "a b c"), (5L, "x a bc"), (7L, "abc ab c"), (9L, "x y ab"))
    val grams = c.flatMap { case (_, t) =>
      val ts = t.split(" ").toSeq
      (1 to 3).flatMap(n => ts.sliding(n).filter(_.size == n))
    }.distinct
    assert(grams.groupBy(_.mkString).values.exists(_.size > 1), "the corpus has no look-alike grams")
    assert(backoff(c) == backoffRef(c))
    assert(sortMerge(backoff(c)) == backoffRef(c))
  }

  test("stupidBackoff plan: one count-table shuffle and broadcast, reused by four lookups, no (doc_id, pos) exchange") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
    val c = backoffCorpora.head
    val out = TextAnalysis.stupidBackoff(c.toDF("doc_id", "text"))
    val (rows, jobs, _) = traced(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(rows == backoffRef(c))
    assert(jobs <= 6, s"$jobs jobs")
    val ex = finalExchanges(out)
    // the count table is the one keyed (hashed) broadcast; N rides an
    // identity broadcast
    val tables = ex.collect {
      case b: BroadcastExchangeExec if b.mode.isInstanceOf[HashedRelationBroadcastMode] => b
    }
    assert(tables.size == 1, ex.mkString("\n"))
    assert(exchanges(tables.head).count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      tables.head.treeString)
    assert(ex.count {
      case r: ReusedExchangeExec => r.child eq tables.head
      case _ => false
    } == 4, ex.mkString("\n"))
    val plan = out.queryExecution.executedPlan
    val keys = graft.AdaptivePlans.collect(plan) {
      case a: BaseAggregateExec => a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
    }
    assert(!keys.exists(_.contains("pos")), plan.toString)
  }

  test("pipelineReport: staged funnel counts by hand (gopher, quality, dedup)") {
    // good: 60 plain words with stopwords -> passes everything
    val good = Seq.fill(12)("the quick brown fox jumps").mkString(" ")
    // punct-heavy: every word ends with a comma -> passes gopher
    // (commas are neither '#' nor '...', words still alphabetic) but
    // punct_ratio > 0.1 fails the quality gate
    val punct = Seq.fill(12)("the, quick, brown, fox, jumps,").mkString(" ")
    // short: 10 words -> fails gopher's n_words >= 50
    val short = "the quick brown fox jumps over the lazy dog now"
    val docs = Seq(
      (1L, good), (2L, good), (3L, short), (4L, punct))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Curation.pipelineReport(docs, gopherMinStopTypes = 1)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    val nGood = good.length.toLong; val nPunct = punct.length.toLong
    val nShort = short.length.toLong
    assert(out("raw") == ((4L, 2 * nGood + nShort + nPunct)))
    assert(out("gopher") == ((3L, 2 * nGood + nPunct)))
    assert(out("quality") == ((2L, 2 * nGood)))
    assert(out("dedup") == ((1L, nGood))) // min doc_id survives the pair
  }

  test("incrementalDedup: delta x base only, clean deltas report (0, -1)") {
    // doc 4 (delta: 4 % 4 == 0) duplicates doc 1 (base); doc 8 (delta)
    // is unique; docs 1,2 are base-side dups of each other — their
    // pair must NOT appear anywhere in the incremental output
    val txtA = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val txtB = "completely different content about spark dataframes and shuffle exchanges in a cluster"
    val d = Seq(
      (1L, txtA), (2L, txtA), (3L, txtB + " plus some extra words here"),
      (4L, txtA), (8L, "a unique snowflake document with nothing shared at all whatsoever zq"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(d, col("doc_id") % 4 === 0)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(4L, 8L))
    assert(out(4L) == ((2L, 1L))) // matches base docs 1 and 2; min id 1
    assert(out(8L) == ((0L, -1L)))
  }

  test("incrementalDedupStream: MemoryStream twin equals the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val txtA = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val txtB = "completely different content about spark dataframes and shuffle exchanges in a cluster"
    val base = Seq((1L, txtA), (2L, txtA), (3L, txtB + " plus some extra words here"))
      .toDF("doc_id", "text")
    val deltaRows = Seq((4L, txtA), (8L, "a unique snowflake document with nothing shared at all whatsoever zq"))
    // batch reference: the SAME streaming function applied to a batch
    // frame, and the full-batch incrementalDedup over base+delta
    val batchTwin = Dedup.incrementalDedupStream(
        deltaRows.toDF("doc_id", "text"), base)
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.incrementalDedup(
        base.unionByName(deltaRows.toDF("doc_id", "text")), col("doc_id") % 4 === 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(batchTwin == full)
    assert(full == Set((4L, 2L, 1L), (8L, 0L, -1L)))
    // streaming run: two micro-batches, Update mode, one final row
    // per doc in its own batch
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.incrementalDedupStream(mem.toDF().toDF("doc_id", "text"), base)
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("update")
      .start()
    try {
      mem.addData(deltaRows.take(1))
      q.processAllAvailable()
      mem.addData(deltaRows.drop(1))
      q.processAllAvailable()
      val got = spark.table("inc_dedup")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == full)
    } finally q.stop()
  }

  test("imageHashPairs == an independent formula reference; near-dup groups surface") {
    val ids = (0L until 12L).toDF("doc_id") // 3 groups of 4 variants
    val pairs = Multimodal.imageHashPairs(
        Multimodal.synthBmpNearDupBlobs(ids), maxDist = 7)
      .as[(Long, Long, Long)].collect().toSet
    // straight-from-the-formula reference (no codec, no banding):
    // aHash bits from the synthetic pixel closed form, brute hamming
    def bits(id: Long): Array[Int] = {
      val base = id / 4; val v = (id % 4).toInt
      val w = (8 + base % 5 * 2).toInt; val h = (6 + base % 3 * 2).toInt
      val px = for (j <- 0 until 8; i <- 0 until 8) yield {
        val sx = i * w / 8; val sy = j * h / 8
        val g = ((base * 7 + sx * 3 + sy * 11) % 256).toInt
        if (v > 0 && sx == (2 * v) % w && sy == (3 * v) % h) (g + 128) % 256 else g
      }
      val s = px.sum
      px.map(p => if (p.toLong * 64 > s) 1 else 0).toArray
    }
    val brute = (for {
      a <- 0L until 12L; b <- a + 1 until 12L
      hamming = bits(a).zip(bits(b)).count { case (x, y) => x != y }.toLong
      if hamming <= 7
    } yield (a, b, hamming)).toSet
    assert(brute.nonEmpty, "fixture must produce genuine near-dups")
    assert(pairs == brute)
    // variant 0 vs a variant whose perturbed pixel is sampled: small
    // positive hamming (the perturbation is visible through the hash)
    assert(brute.exists(_._3 > 0))
  }

  test("audioHashPairs == an independent formula reference; perturbations stay local") {
    val ids = (0L until 12L).toDF("doc_id")
    val pairs = Multimodal.audioHashPairs(
        Multimodal.synthWavNearDupBlobs(ids), maxDist = 7)
      .as[(Long, Long, Long)].collect().toSet
    def bits(id: Long): Array[Int] = {
      val base = id / 4; val v = (id % 4).toInt
      val s = Array.tabulate(132) { k =>
        val bump = if (v > 0 && k == 17 * v) 101 else 0
        (((base * 7 + k * 13 + bump) % 256) - 128) * 256
      }
      val e = Array.tabulate(33)(w => (0 until 4).map(o => s(w * 4 + o).toLong * s(w * 4 + o)).sum)
      Array.tabulate(32)(w => if (e(w + 1) > e(w)) 1 else 0)
    }
    val brute = (for {
      a <- 0L until 12L; b <- a + 1 until 12L
      hamming = bits(a).zip(bits(b)).count { case (x, y) => x != y }.toLong
      if hamming <= 7
    } yield (a, b, hamming)).toSet
    assert(brute.nonEmpty, "fixture must produce genuine near-dups")
    assert(pairs == brute)
    // a one-sample perturbation can move at most 2 fingerprint bits
    for (g <- 0L until 3L; v <- 1L until 4L) {
      val h = bits(g * 4).zip(bits(g * 4 + v)).count { case (x, y) => x != y }
      assert(h <= 2, s"group $g variant $v hamming $h")
    }
  }

  test("splitByContent: exact dups and punctuation variants co-travel") {
    val d = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO WORLD."),
      (4L, "a different document entirely with many words")).toDF("doc_id", "text")
    val out = Curation.splitByContent(d).as[(Long, String)].collect().toMap
    assert(out(1L) == out(2L) && out(2L) == out(3L),
      "normalized-identical docs must land in one split")
    assert(Set("train", "val", "test").contains(out(4L)))
  }

  test("packedSpans: spans tile every pack exactly and rebuild the packing") {
    val d = Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "a"),
      (2L, Seq.fill(50)("w").mkString(" "), "a"),
      (3L, Seq.fill(45)("w").mkString(" "), "a"),
      (4L, Seq.fill(7)("w").mkString(" "), "b")).toDF("doc_id", "text", "source")
    val budget = 32L
    val spans = Curation.packedSpans(d, budget)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val packed = Curation.packSequences(d, budget)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    // every doc's spans concatenate to its token count, start at its
    // pack_offset, and stay inside [0, budget)
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val ordered = ss.sortBy(_._3) // by pack_id
      assert(ordered.head._3 == packed(id)._1 && ordered.head._4 == packed(id)._2)
      assert(ordered.forall(s => s._4 >= 0 && s._4 + s._5 <= budget && s._5 > 0))
      // consecutive spans chain across pack boundaries
      ordered.sliding(2).foreach {
        case Seq(x, y) =>
          assert(y._3 == x._3 + 1 && x._4 + x._5 == budget && y._4 == 0)
        case _ =>
      }
    }
    // within a source, every non-final pack is tiled with zero gaps
    spans.groupBy(s => (s._2, s._3)).foreach { case ((src, pk), ss) =>
      val lastPack = spans.filter(_._2 == src).map(_._3).max
      val covered = ss.map(_._5).sum
      if (pk < lastPack) assert(covered == budget, s"$src pack $pk covered $covered")
    }
  }

  test("simhash hamming 0 for identical docs") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 3)
      .select("d1", "d2", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhash banding finds exactly the all-pairs hamming<=k set") {
    // maxDist 30 with 31 bands (2-bit blocks) stresses multi-band
    // collisions + the distinct; brute force over the same signatures
    // is the ground truth
    val banded = Dedup.simhashPairs(docs, bits = 62, maxDist = 30, bands = 31)
      .as[(Long, Long, Long)].collect().toSet
    val sig = Dedup.simhash(docs, bits = 62).as[(Long, Long)].collect()
    val brute = (for {
      (d1, s1) <- sig; (d2, s2) <- sig if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2).toLong if h <= 30
    } yield (d1, d2, h)).toSet
    assert(banded == brute)
  }

  val embs = Seq(
    (0L, Array.tabulate(8)(i => 1.0f + i), 0),
    (1L, Array.tabulate(8)(i => 2.0f * (1.0f + i)), 0), // colinear with 0 => cosine 1
    (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f), 0),
    (3L, Array.tabulate(8)(i => -(1.0f + i)), 1)        // opposite of 0
  ).toDF("vec_id", "embedding", "label")

  test("cosine pairs: colinear vectors ~1, blocked by label") {
    val out = Similarity.cosinePairs(embs, 0.99).as[(Long, Long, Long)].collect()
    assert(out.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(math.abs(out.head._3 - 1000000L) <= 1) // micro-units
  }

  test("brute top-k ranks colinear first") {
    val top = Similarity.bruteTopK(embs, col("vec_id") === 0, k = 2)
      .orderBy("rank").select("nid").as[Long].collect()
    assert(top.head == 1L)
  }

  test("lsh buckets put colinear vectors together and recall covers brute pairs") {
    val b = Similarity.lshBuckets(embs, bits = 6, dim = 8)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L))
    val lsh = Similarity.lshPairs(embs, 0.99, bits = 6).select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh.contains((0L, 1L)))
  }

  test("text analysis: tokens, quality, lang, fingerprint") {
    val tc = TextAnalysis.tokenCounts(docs).where(col("doc_id") === 1).head()
    assert(tc.getLong(1) == 12L)
    val lang = TextAnalysis.langId(docs).as[(Long, String)].collect().toMap
    assert(lang(1L) == "en" && lang(5L) == "de")
    val fps = TextAnalysis.fingerprint(docs).as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("minhash LSH bucket cap drops degenerate boilerplate buckets") {
    val boiler = (1L to 5L).map(i => (i, "exactly the same boilerplate text repeated again and again here", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // all 5 docs share every bucket: cap 3 kills the bucket -> no pairs
    assert(Dedup.minhashPairs(boiler, maxBucket = Some(3L)).count() == 0)
    // without the cap the clique comes back
    assert(Dedup.minhashPairs(boiler, maxBucket = None).count() == 10)
  }

  test("simhash band-bucket cap drops degenerate boilerplate buckets") {
    val boiler = (1L to 5L).map(i => (i, "exactly the same boilerplate text repeated again and again here", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // identical docs share every (band, bits) bucket: cap 3 kills all
    // four buckets -> no candidate pairs ever reach a reducer
    assert(Dedup.simhashPairs(boiler, maxBucket = Some(3L)).count() == 0)
    assert(Dedup.simhashPairs(boiler, maxBucket = None).count() == 10)
  }

  test("cosine/lsh pair blocks over the cap split into bounded sub-blocks") {
    // 12 near-identical vectors under ONE label and ONE lsh bucket:
    // the degenerate hot block the judge flags. cap 4 -> nsub = 3 ->
    // within-sub pairs only; ids 0..11 mod 3 gives three blocks of 4
    // (pair count 3 * C(4,2) = 18, vs the uncapped C(12,2) = 66)
    val hot = (0L until 12L).map(i => (i, Array.tabulate(8)(j => 1.0f + j), 0))
      .toDF("vec_id", "embedding", "label")
    val capped = Similarity.cosinePairs(hot, 0.99, maxBlock = Some(4L))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(capped.size == 18)
    // every surviving pair agrees mod 3 (the deterministic sub-key)
    assert(capped.forall(p => p._1 % 3 == p._2 % 3))
    assert(Similarity.cosinePairs(hot, 0.99, maxBlock = None).count() == 66)

    val lshCapped = Similarity.lshPairs(hot, 0.99, bits = 6, maxBucket = Some(4L))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lshCapped.size == 18 && lshCapped.forall(p => p._1 % 3 == p._2 % 3))
    assert(Similarity.lshPairs(hot, 0.99, bits = 6, maxBucket = None).count() == 66)
  }

  test("kmeans: Lloyd rounds converge with integer requantized centroids") {
    // quantized: 0:[0,0] 1:[2,0] 2:[10,0] 3:[12,0]; init cids {0, 3}
    val e = Seq(
      (0L, Array(0.000f, 0f), 0), (1L, Array(0.002f, 0f), 0),
      (2L, Array(0.010f, 0f), 0), (3L, Array(0.012f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeans(e, col("vec_id").isin(0L, 3L), iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // round 1 means: c0 = [1,0], c3 = [11,0]; stable thereafter —
    // final distances are all exactly 1
    assert(out == Map(0L -> (0L, 1L), 1L -> (0L, 1L), 2L -> (3L, 1L), 3L -> (3L, 1L)))
    // round-half-up requantization: mean of [1] and [2] is 1.5 -> 2
    val h = Seq((0L, Array(0.001f), 0), (1L, Array(0.002f), 0))
      .toDF("vec_id", "embedding", "label")
    val hv = Similarity.kmeans(h, col("vec_id") === 0, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(hv == Map(0L -> 1L, 1L -> 0L))
  }

  test("connected components: chain, clique, singletons, pair-order invariance") {
    // chain 10-11-...-19 (diameter stresses the star rounds), clique
    // {30,31,32}, pair {40,41} given in descending order, singleton 50
    val chain = (10L until 19L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((30L, 31L), (31L, 32L), (30L, 32L), (41L, 40L)))
      .toDF("d1", "d2")
    val verts = ((10L to 19L) ++ Seq(30L, 31L, 32L, 40L, 41L, 50L)).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    (10L to 19L).foreach(i => assert(got(i) == 10L, s"chain member $i"))
    Seq(30L, 31L, 32L).foreach(i => assert(got(i) == 30L))
    assert(got(40L) == 40L && got(41L) == 40L)
    assert(got(50L) == 50L)
    assert(got.size == 16)
    // the distributed large/small-star loop (maxDriverEdges = 0 forces
    // it past the union-find fast path) labels identically
    val loop = Dedup.connectedComponents(edges, verts, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(loop == got)
  }

  test("connected components: distributed loop equals union-find on 90,000 pairs (two partitions)") {
    // seeded random graph near the giant-component threshold: 160k
    // vertices, 90k pairs with duplicates, both orientations and
    // self-pairs
    val rnd = new scala.util.Random(17)
    val pairs = Seq.fill(90000) {
      val u = rnd.nextInt(160000).toLong
      (u, if (rnd.nextInt(50) == 0) u else rnd.nextInt(160000).toLong)
    }
    val dupd = pairs ++ pairs.take(500).map(_.swap) ++ pairs.take(500)
    assert(graft.Fixpoint.partitioner(spark.sparkContext, dupd.size).numPartitions == 2)
    val edges = dupd.toDF("d1", "d2")
    val verts = (0L until 160000L).toDF("doc_id")
    val byDriver = Dedup.connectedComponents(edges, verts).as[(Long, Long)].collect().toMap
    val byLoop = Dedup.connectedComponents(edges, verts, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(byLoop == byDriver && byDriver.size == 160000)
    // a reference union-find over the raw pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    dupd.foreach { case (u, v) => val (a, b) = (find(u), find(v)); if (a != b) parent(math.max(a, b)) = math.min(a, b) }
    assert(byDriver.forall { case (d, c) => c == find(d) })
    assert(byDriver.values.groupBy(identity).values.map(_.size).max > 1000)
  }

  test("connected components over minhash pairs clusters the dup family") {
    val comp = Dedup.connectedComponents(
      Dedup.minhashPairs(docs, k = 16, bands = 4, minEstSim = 0.5)
        .select(col("d1"), col("d2")),
      docs.select(col("doc_id"))).as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L) // exact dups share a family
    assert(comp(4L) == 4L && comp(5L) == 5L) // unrelated docs stay singleton
  }

  test("multimodal blob plumbing: metadata + stubbed batch decode") {
    val blobs = Multimodal.asBlobs(docs)
    val meta = Multimodal.metadata(blobs).where(col("doc_id") === 1).head()
    val textLen = docs.where(col("doc_id") === 1).head().getString(1).length
    assert(meta.getLong(1) == textLen.toLong) // ascii text: bytes == chars
    val feats = Multimodal.decodeFeatures(blobs).collect()
    assert(feats.length == 5 && feats.forall(_.n_bytes > 0))
  }

  test("multimodal frame sampling: stride rows, hash-derived signatures") {
    val blobs = Multimodal.asBlobs(docs)
    val frames = Multimodal.sampleFrames(blobs).collect()
    val text1 = docs.where(col("doc_id") === 1).head().getString(1)
    val expectN = math.min(text1.getBytes("UTF-8").length / 64 + 1, 12)
    val f1 = frames.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(f1.map(_.frame_idx).toSeq == (0 until expectN by 3))
    // signature = 48 bits of the content MD5 at the frame offset
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(text1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(f1.head.frame_sig == java.lang.Long.parseLong(hex.substring(0, 12), 16))
    // deterministic across runs
    assert(Multimodal.sampleFrames(blobs).collect().sortBy(f => (f.doc_id, f.frame_idx)).toSeq ==
      frames.sortBy(f => (f.doc_id, f.frame_idx)).toSeq)
    // offsets past the 32-char digest wrap instead of throwing
    // (stride 1 reaches frame 15 -> hex offset 30 needs the wrap)
    val dense = Multimodal.sampleFrames(blobs, stride = 1, maxFrames = 40).collect()
    assert(dense.nonEmpty && dense.forall(_.frame_sig >= 0))
    val f15 = dense.filter(f => f.doc_id == 1L && f.frame_idx == 15)
    f15.foreach { f =>
      assert(f.frame_sig ==
        java.lang.Long.parseLong(hex.substring(30) + hex.substring(0, 10), 16))
    }
  }

  test("tfidf top terms surface distinctive words, not stopwords") {
    val out = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .as[(Long, String, Double, Long)].collect()
    val d4 = out.filter(_._1 == 4L).sortBy(_._4).map(_._2)
    // doc 4's distinctive vocabulary ranks above corpus-wide words
    assert(d4.forall(Set("completely", "different", "content", "about", "spark",
      "distributed", "computing", "engines")), s"got ${d4.toSeq}")
    // every doc gets exactly k rows with ranks 1..k
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4).sorted.toSeq == Seq(1L, 2L) })
    // identical docs 1 and 2 get identical term rankings
    val d1 = out.filter(_._1 == 1L).sortBy(_._4).map(r => (r._2, r._3)).toSeq
    val d2 = out.filter(_._1 == 2L).sortBy(_._4).map(r => (r._2, r._3)).toSeq
    assert(d1 == d2)
  }

  test("bm25: matched docs only, tf saturation, idf favors rarer terms") {
    val corpus = Seq(
      (1L, "table table spark scan", "en", "s", 20L),
      (2L, "table row row scan", "en", "s", 20L),
      (3L, "row scan filter sort", "en", "s", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.bm25(corpus, Seq("table", "spark"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 3 matches nothing and is absent; hit counts are per-term
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 2L && out(2L)._1 == 1L)
    // doc 1 matches both terms incl. the rarer 'spark' -> higher score
    assert(out(1L)._2 > out(2L)._2)
    assert(out.values.forall(_._2 > 0.0))
  }

  test("classifier: unigram+bigram feature count, determinism, sign label") {
    val corpus = Seq(
      (1L, "alpha beta gamma", "en", "s", 20L),
      (2L, "alpha beta gamma", "en", "s", 20L),
      (3L, "solo", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.classifierScore(corpus)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // 3 words -> 3 unigrams + 2 bigrams; 1 word -> no bigrams
    assert(out(1L)._1 == 5L && out(3L)._1 == 1L)
    // identical text -> identical score (hash + weights deterministic)
    assert(out(1L) == out(2L))
    // label is the score sign; score_u normalized into [-1e5, 1e5]
    out.values.foreach { case (_, s, l) =>
      assert(l == (if (s > 0) 1L else 0L) || s == 0L)
      assert(s >= -100000L && s <= 100000L)
    }
  }

  test("bigram LM: hand-computed add-one conditional probabilities with BOS context") {
    // pairs: (<s>,a) x2, (a,b), (a,c); contexts <s>:2 a:2; V = 3
    // p(a|<s>) = 3/5, p(b|a) = p(c|a) = 2/5
    val d = Seq((1L, "a b", "en", "s", 1L), (2L, "a c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.bigramLmScore(d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val q1 = math.round(math.log(3.0 / 5.0) * 1e6) // (<s>,a)
    val q2 = math.round(math.log(2.0 / 5.0) * 1e6) // (a,b) and (a,c)
    assert(out(1L) == (2L, -(q1 + q2) / 2000000.0))
    assert(out(2L) == out(1L)) // symmetric corpus
  }

  test("dsir: target-like docs score positive, raw-like negative, identical texts equal") {
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "cat dog", "en", "s", 10L), (2L, "cat dog", "en", "s", 10L),
      (3L, "fish bird", "xx", "s", 10L), (4L, "fish bird", "xx", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.dsirScore(corpus, col("lang") === "en")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // 2 words -> 2 unigrams + 1 bigram
    assert(out.values.forall(_._1 == 3L))
    // every feature of docs 1/2 has target count 2, raw 0 (and vice
    // versa): log-ratios are symmetric ln(3/1) per feature modulo
    // bucket collisions, so signs and pairwise equality must hold
    assert(out(1L) == out(2L) && out(3L) == out(4L))
    assert(out(1L)._2 > 0.0 && out(3L)._2 < 0.0)
    // nt == nr here, so the scores are exactly antisymmetric
    assert(math.abs(out(1L)._2 + out(3L)._2) < 1e-9)
  }

  test("contamination: asymmetric containment finds a probe quoted in a larger doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L), // probe
      (2L, "intro words alpha beta gamma delta epsilon plus much more trailing content here", "en", "s", 80L),
      (3L, "totally unrelated text about something else entirely different topic", "en", "s", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.contamination(corpus, col("doc_id") === 1, k = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    // all 3 of probe 1's 3-shingles appear verbatim in doc 2
    assert(out.exists { case (p, d, c) => p == 1L && d == 2L && c == 1.0 })
    assert(!out.exists(_._2 == 3L))
    // jaccard would NOT flag this pair at the same threshold (doc 2 is
    // much larger) — the asymmetry is the point
    val jac = Dedup.jaccardPairs(corpus, k = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("bloom decontamination flags corpus docs quoting probe shingles") {
    val phrase = "the quick brown fox jumps"
    val docs = Seq(
      (20L, s"eval set doc saying $phrase exactly"),           // probe (id % 20 == 0)
      (1L, s"a corpus doc that quotes $phrase verbatim here"), // hit
      (2L, "completely unrelated corpus text with other words entirely"),
      (3L, s"another quoting doc $phrase twice over $phrase")  // hit
    ).toDF("doc_id", "text")
    val out = Dedup.bloomContamination(docs, col("doc_id") % 20 === 0)
      .as[(Long, Long)].collect().toMap
    assert(out.contains(1L) && out.contains(3L))
    assert(!out.contains(2L) && !out.contains(20L))
    // hit counts bound below by the true quoted-shingle count
    assert(out(1L) >= 1L && out(3L) >= 1L)
    // deterministic across runs
    val again = Dedup.bloomContamination(docs, col("doc_id") % 20 === 0)
      .as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("bloom bit-test is a native codegen expression (r15): plan + word boundaries") {
    import org.apache.spark.sql.graft.BloomTestExpr
    // plan: the corpus scan must stay in whole-stage codegen — no
    // typed-filter stage (the r14 plan break this replaced)
    val docs = Seq((20L, "probe text here five tokens more padding words"),
      (1L, "corpus text here five tokens more padding words")).toDF("doc_id", "text")
    val plan = Dedup.bloomContamination(docs, col("doc_id") % 20 === 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements"),
      s"typed stage leaked into the bloom scan:\n$plan")
    // expression unit: bits at word boundaries (0, 63, 64, last word)
    val words = new Array[Long](4) // 256-bit set
    def set(p: Int): Unit = words(p >>> 6) |= 1L << (p & 63)
    Seq(0, 63, 64, 255).foreach(set)
    val bc = spark.sparkContext.broadcast(words)
    val ps = Seq(
      (Seq(0L, 63L, 64L, 255L), true),  // all set
      (Seq(0L, 1L), false),             // 1 unset
      (Seq(62L), false), (Seq(255L), true),
      (Seq.empty[Long], true))          // vacuous truth
    val df = ps.toDF("ps", "want")
    val got = df.select(col("want"),
        BloomTestExpr.bloomTest(col("ps"), bc).as("got"))
      .as[(Boolean, Boolean)].collect()
    assert(got.forall { case (w, g) => w == g })
    // eval (interpreted) path agrees with codegen
    val e = BloomTestExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0L, 63L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)), bc)
    assert(e.eval(null) == true)
  }

  test("label propagation matches a driver-side simulation of the same rule (r15)") {
    // barbell: two triangles bridged at 3-7, plus isolated nodes 4-6
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L),
      (7L, 9L), (3L, 7L))
    val got = Dedup.labelPropagation(edgeSeq.toDF("d1", "d2"),
        (1L to 9L).toDF("doc_id"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    // independent simulation: synchronized neighbor-majority updates,
    // ties -> smallest, isolated keep their own
    val adj = (edgeSeq ++ edgeSeq.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    var lab = (1L to 9L).map(i => i -> i).toMap
    for (_ <- 1 to 4) {
      lab = lab.map { case (n, l) =>
        adj.get(n) match {
          case None => n -> l
          case Some(nb) =>
            val counts = nb.map(lab).groupBy(identity)
              .map { case (k, v) => (k, v.size) }
            n -> counts.toSeq.minBy { case (k, c) => (-c, k) }._1
        }
      }
    }
    assert(got == lab, s"got $got want $lab")
    assert(got(4L) == 4L && got(5L) == 5L && got(6L) == 6L)
    // triangle members converge onto their triangle's min label
    assert(got(1L) == 1L && got(2L) == 1L)
  }

  test("jsDivergence: zero for identical sources, positive and bounded otherwise (r15)") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "s1"),
      (2L, "alpha beta gamma alpha beta", "s2"), // identical dist as s1
      (3L, "delta epsilon zeta eta theta", "s3") // disjoint vocab
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.jsDivergence(docs, topV = 8)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical distributions: every bucket term is exactly 0
    assert(out(("s1", "s2")) == 0L)
    // disjoint vocabularies diverge, bounded by 2*ln(2) micro-nats
    assert(out(("s1", "s3")) > 0L && out(("s1", "s3")) <= 1386295L)
    assert(out(("s1", "s3")) == out(("s2", "s3")))
    // symmetric construction: JS(p,q) terms are symmetric in p,q, so
    // the add-1-smoothed self-pair is the only exact zero
    assert(out.values.count(_ == 0L) == 1)
  }

  test("audioAutocorr: hand-computed lag products; non-WAV blobs emit nothing (r15)") {
    // constant signal s = 100: r_k = (n - k) * 10000 exactly
    val wav = AudioCodec.encode(16000, 1, Array.fill(12)(100))
    val blobs = Seq((1L, wav), (2L, "not audio".getBytes)).toDF("doc_id", "blob")
    val out = Multimodal.audioAutocorr(blobs, maxLag = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 110000L), (1L, 2L, 100000L), (1L, 3L, 90000L)))
    // alternating +-A: r_1 = -(n-1)A^2, r_2 = +(n-2)A^2
    val alt = AudioCodec.encode(16000, 1, Array.tabulate(10)(i => if (i % 2 == 0) 7 else -7))
    val o2 = Multimodal.audioAutocorr(Seq((3L, alt)).toDF("doc_id", "blob"), maxLag = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (d, l, r) => (d, l) -> r }.toMap
    assert(o2((3L, 1L)) == -9L * 49 && o2((3L, 2L)) == 8L * 49)
  }

  test("lengthWasserstein: exact CDF-shift distances on hand corpora (r15)") {
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, doc(8), "s1"), (2L, doc(8), "s1"),   // both bucket 1
      (3L, doc(16), "s2"), (4L, doc(16), "s2"), // both bucket 2: shift 1
      (5L, doc(8), "s3"), (6L, doc(24), "s3")   // buckets 1 and 3
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.lengthWasserstein(docs)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // s1 vs s2: all mass shifts one bucket -> W1 = 1 -> num = n_a*n_b = 4
    assert(out(("s1", "s2")) == ((2L, 2L, 4L)))
    // s1 vs s3: half the mass shifts two buckets -> W1 = 1 -> num = 4
    assert(out(("s1", "s3")) == ((2L, 2L, 4L)))
    // s2 vs s3: |cdf| diffs: bucket1 |0*2-1*2|=2, bucket2 |2*2-1*2|=2
    // -> num = 4 (W1 = 1)
    assert(out(("s2", "s3")) == ((2L, 2L, 4L)))
    // identical sources -> zero
    val same = Seq((1L, doc(8), "a"), (2L, doc(8), "b")).toDF("doc_id", "text", "source")
    val z = TextAnalysis.lengthWasserstein(same)
      .as[(String, String, Long, Long, Long)].head()
    assert(z == (("a", "b", 1L, 1L, 0L)))
  }

  test("labelDrift: linear-MMD equals the hand-computed mean distance (r15)") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(0.0f, 1.0f), 1), // mu = (.5, .5)
      (3L, Seq(3.0f, 4.0f), 2),                            // mu = (3, 4)
      (4L, Seq(1.0f, 0.0f), 3), (5L, Seq(0.0f, 1.0f), 3)   // == label 1
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelDrift(emb, dim = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    // ||(.5,.5) - (3,4)||^2 = 2.5^2 + 3.5^2 = 18.5 -> 18.5e6 micro-units
    assert(out((1L, 2L)) == 18500000L)
    // identical populations -> zero drift exactly
    assert(out((1L, 3L)) == 0L)
    assert(out((2L, 3L)) == 18500000L)
  }

  test("modularity: exact-integer Q*4m^2 on hand graphs (r15)") {
    // two disjoint triangles with their natural communities: the
    // textbook Q = 0.5 -> Q*4m^2 = 0.5 * 4 * 36 = 72 at m = 6
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("d1", "d2")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (7L, 7L), (8L, 7L), (9L, 7L)).toDF("doc_id", "label")
    val (m, q) = Dedup.modularity(edges, labels).as[(Long, Long)].head()
    assert(m == 6L && q == 72L, s"($m, $q)")
    // everything in ONE community: Q = 0 exactly (e_c = m, d_c = 2m)
    val one = labels.select(col("doc_id"), lit(1L).as("label"))
    val (m1, q1) = Dedup.modularity(edges, one).as[(Long, Long)].head()
    assert(m1 == 6L && q1 == 0L)
    // LPA labels on the same graph recover the triangles -> same Q
    val lpa = Dedup.labelPropagation(edges, (Seq(1L, 2L, 3L, 7L, 8L, 9L)).toDF("doc_id"))
    val (m2, q2) = Dedup.modularity(edges, lpa).as[(Long, Long)].head()
    assert(m2 == 6L && q2 == 72L)
  }

  test("degree-oriented triangle counting equals the id-oriented twin (r15)") {
    def edges(ps: (Long, Long)*) = ps.toSeq.toDF("d1", "d2")
    def both(df: org.apache.spark.sql.DataFrame): ((Long, Long), (Long, Long)) = {
      val d = Dedup.triangleCount(df).as[(Long, Long)].head()
      val i = Dedup.triangleCount(df, orientByDegree = false).as[(Long, Long)].head()
      (d, i)
    }
    // hub star (the id-orientation killer shape): 0 triangles
    val star = edges((1 to 40).map(i => (0L, i.toLong)): _*)
    val (sD, sI) = both(star)
    assert(sD == sI && sD == (40L, 0L))
    // K5 clique: C(5,3) = 10 triangles
    val k5 = edges((for (a <- 1 to 5; b <- a + 1 to 5) yield (a.toLong, b.toLong)): _*)
    val (kD, kI) = both(k5)
    assert(kD == kI && kD == (10L, 10L))
    // hub + attached triangles + duplicate/reversed input edges
    val messy = edges(Seq((0L, 1L), (1L, 0L), (0L, 2L), (1L, 2L), (0L, 3L),
      (3L, 4L), (4L, 0L), (5L, 0L), (6L, 0L), (7L, 0L), (2L, 2L)): _*)
    val (mD, mI) = both(messy)
    assert(mD == mI && mD._2 == 2L, s"got $mD")
    // and on the real minhash-pair graph at gate scale
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.minhashPairs(docs)
    val (rD, rI) = both(pairs)
    assert(rD == rI)
  }

  test("duplicateSpans removes all but the first occurrence of repeated k-token spans") {
    val boiler = (1 to 10).map(i => s"tok$i").mkString(" ") // exactly 10 tokens
    val docs = Seq(
      (1L, s"$boiler unique tail one"),
      (2L, s"prefix words here $boiler"),
      (3L, "totally different content with no repeats at all whatsoever today")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, k = 10)
      .as[(Long, Long)].collect().toSet
    // doc 1 offset 0 is the keeper (smallest doc_id); doc 2 offset 3
    // is the duplicate occurrence; no other span repeats
    assert(out == Set((2L, 3L)))
    // within-doc repetition dedups too: the same span twice in ONE doc
    val self = Seq((7L, s"$boiler $boiler")).toDF("doc_id", "text")
    val selfOut = Dedup.duplicateSpans(self, k = 10)
      .as[(Long, Long)].collect().toSet
    // spans 0..10: only offsets 0 and 10 hash equal (the pure span);
    // keeper off 0 -> removal (7, 10)
    assert(selfOut == Set((7L, 10L)))
  }

  test("hash sampling: deterministic, id-keyed, rate-accurate at scale") {
    val many = (1L to 2000L).map(i => (i, s"text $i", "en", s"src${i % 4}", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = Curation.hashSample(many, 100).as[(Long, String)].collect().toSet
    val s2 = Curation.hashSample(many, 100).as[(Long, String)].collect().toSet
    assert(s1 == s2, "same sample every run")
    // ~10% with hash-uniform slack
    assert(s1.size > 120 && s1.size < 280, s"got ${s1.size} of 2000")
    // nested rates: a 10% sample is a subset of a 20% sample (hash
    // thresholding, not independent draws)
    val s20 = Curation.hashSample(many, 200).as[(Long, String)].collect().toSet
    assert(s1.subsetOf(s20))
    assert(Curation.hashSample(many, 0).count() == 0)
    assert(Curation.hashSample(many, 1000).count() == 2000)
  }

  test("upsampling emits floor(rate/1000) copies plus a hash-gated extra") {
    val many = (1L to 2000L).map(i => (i, s"text $i", "en", s"src${i % 2}", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // src0: exactly 2 epochs; src1: 1.5 epochs (hash picks the extra)
    val out = Curation.upsampleBySource(many, Map("src0" -> 2000, "src1" -> 1500))
      .as[(Long, String, Long)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 2000)            // 1000 docs x exactly 2
    assert(bySrc("src1") > 1200 && bySrc("src1") < 1800) // ~1.5 epochs
    // copies number 1..n per doc, deterministic across runs
    val copies = out.filter(r => r._1 == 2L).map(_._3).sorted
    assert(copies.head == 1L && copies.last == copies.length)
    val again = Curation.upsampleBySource(many, Map("src0" -> 2000, "src1" -> 1500))
      .as[(Long, String, Long)].collect()
    assert(out.sortBy(r => (r._1, r._3)).sameElements(again.sortBy(r => (r._1, r._3))))
    // a sub-1000 rate thins: rate 0 drops the source entirely
    assert(Curation.upsampleBySource(many, Map("src0" -> 0, "src1" -> 0)).count() == 0)
    // unknown sources take the default (1000 = exactly one epoch)
    val dflt = Curation.upsampleBySource(many, Map.empty)
      .as[(Long, String, Long)].collect()
    assert(dflt.length == 2000 && dflt.forall(_._3 == 1L))
  }

  test("kmeans with iters=0 is plain assignment to the init centroids") {
    val e = Seq(
      (0L, Array(0.000f), 0), (1L, Array(0.004f), 0),
      (2L, Array(0.010f), 0), (3L, Array(0.007f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeans(e, col("vec_id").isin(0L, 2L), iters = 0)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    // 4 -> c0 (d 16 vs 36); 7 -> c2 (d 9 vs 49)
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("stratified sampling applies per-source rates") {
    val many = (1L to 3000L).map(i => (i, s"text $i", "en", s"src${i % 3}", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.stratifiedSample(many,
      Map("src0" -> 1000, "src1" -> 0), defaultPermille = 100)
      .as[(Long, String)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 1000)          // keep-all stratum intact
    assert(!bySrc.contains("src1"))        // dropped stratum empty
    assert(bySrc("src2") > 50 && bySrc("src2") < 160) // ~10% default
  }

  test("mixture rates: sqrt temperature upweights small sources; sampling applies them") {
    // 8 'big' docs vs 2 'small' docs; token totals derived from the
    // BPE tokenizer itself so a merges-table change can't stale this
    val corpus = (
      (1L to 8L).map(i => (i, "alpha beta", "en", "big", 10L)) ++
      (9L to 10L).map(i => (i, "gamma delta", "en", "small", 10L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val bigTok = 8L * Bpe.countTokens("alpha beta")
    val smallTok = 2L * Bpe.countTokens("gamma delta")
    assert(bigTok > smallTok)            // precondition for the assertions below
    val sqrtPm = math.round(math.sqrt(smallTok.toDouble / bigTok) * 1000)
    val propPm = math.round(smallTok.toDouble / bigTok * 1000)
    val r = Curation.mixtureRates(corpus, temperature = 0.5)
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r("big") == ((bigTok, 1000L)))    // anchor keeps everything
    assert(r("small") == ((smallTok, sqrtPm)))
    val prop = Curation.mixtureRates(corpus, temperature = 1.0)
      .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(prop("small") == propPm)      // proportional is harsher
    assert(propPm < sqrtPm)              // sqrt smoothing upweights the small source
    intercept[IllegalArgumentException](Curation.mixtureRates(corpus, 0.7))
    // end-to-end: the big source survives whole, the small one thins
    val kept = Curation.sampleByMixture(corpus, 0.5).as[(Long, String)].collect()
    assert(kept.count(_._2 == "big") == 8)
    assert(kept.count(_._2 == "small") <= 2)
  }

  test("sequence packing: contiguous offsets, budget-sized cuts, per-source streams") {
    val out = Curation.packSequences(docs, budget = 20L)
      .orderBy("source", "doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    // single source 's': offsets are the exclusive running sum
    var run = 0L
    out.foreach { case (_, _, n, packId, off) =>
      assert(packId == run / 20 && off == run % 20, s"at token $run")
      run += n
    }
    // a fresh source restarts its stream at pack 0 offset 0
    val two = Seq((1L, "one two three", "en", "a", 13L), (2L, "four five", "en", "b", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val firsts = Curation.packSequences(two, 8L)
      .select("source", "pack_id", "pack_offset")
      .as[(String, Long, Long)].collect().toSet
    assert(firsts == Set(("a", 0L, 0L), ("b", 0L, 0L)))
  }

  test("sequence packing: one giant source spans partitions, layout matches a serial prefix sum") {
    // the 80%-web-crawl shape the two-level prefix sum exists for: one
    // source much bigger than a partition, plus a small second source
    val giant = (1L to 500L).map(i =>
      (i, ("w " * (1 + (i % 7)).toInt).trim, "en", "crawl", 1L)) ++
      Seq((900L, "a b c", "en", "tiny", 1L))
    val df = giant.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8) // scatter input so the range shuffle has real work
    val out = Curation.packSequences(df, budget = 16L)
      .as[(Long, String, Long, Long, Long)].collect()
      .sortBy(t => (t._2, t._1))
    // independent serial expectation
    var run = 0L
    out.filter(_._2 == "crawl").foreach { case (id, _, n, packId, off) =>
      assert(packId == run / 16 && off == run % 16, s"doc $id at $run")
      run += n
    }
    assert(run == (1L to 500L).map(i => 1 + (i % 7)).sum) // token totals survive the split
    assert(out.find(_._2 == "tiny").get._4 == 0L) // fresh source restarts
  }

  test("repetition score: duplicate-bigram fraction per document") {
    val docs2 = Seq(
      (1L, "spam spam spam spam spam", "en", "s", 1L),     // 4 bigrams, 1 distinct
      (2L, "all words here are unique", "en", "s", 1L),    // 4 bigrams, all distinct
      (3L, "ab ab cd ab ab", "en", "s", 1L),               // 4 bigrams: [ab ab, ab cd, cd ab, ab ab]
      (4L, "single", "en", "s", 1L))                       // < 2 tokens -> excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.repetitionScore(docs2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (4L, 0.75))
    assert(out(2L) == (4L, 0.0))
    assert(out(3L) == (4L, 0.25))
    assert(!out.contains(4L))
  }

  test("pii redaction: emails, ipv4s, phones counted and replaced in order") {
    val d = Seq(
      (1L, "mail john.doe+x@test-site.org or visit 192.168.0.1 call +12345678901", "en", "s", 1L),
      (2L, "no pii here", "en", "s", 1L),
      // a@10.0.0.1 is NOT an email (TLD must be alphabetic) so the IP
      // rule claims the address; +123 is too short for the phone rule
      (3L, "a@10.0.0.1 then +123 then 999.999.999.999", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.piiRedact(d)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == (1L, 1L, 1L, "mail <EMAIL> or visit <IP> call <PHONE>"))
    assert(out(2L) == (0L, 0L, 0L, "no pii here"))
    assert(out(3L) == (0L, 2L, 0L, "a@<IP> then +123 then <IP>"))
  }

  test("unigram LM score: hand-computed add-one-smoothed mean nll") {
    // corpus: a:2 b:2 c:1 -> total=5, vocab=3
    // p(a)=p(b)=3/8, p(c)=2/8; lp_q = round(ln(p)*1e6)
    val d = Seq((1L, "a a b", "en", "s", 1L), (2L, "b c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.unigramLmScore(d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val lpA = math.round(math.log(3.0 / 8.0) * 1e6) // -980829
    val lpC = math.round(math.log(2.0 / 8.0) * 1e6) // -1386294
    assert(lpA == -980829L && lpC == -1386294L)
    assert(out(1L) == (3L, -(3 * lpA) / 3000000.0))
    assert(out(2L) == (2L, -(lpA + lpC) / 2000000.0))
  }

  test("segment dedup drops per-source boilerplate, keeps order, drops emptied docs") {
    val boiler = "subscribe to our newsletter now for daily updates today ok" // 10 words
    val docs2 = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta iota kappa $boiler", "en", "s1", 1L),
      (2L, s"$boiler one two three four five six seven eight nine ten", "en", "s1", 1L),
      (3L, boiler, "en", "s1", 1L),                       // all boilerplate -> disappears
      (4L, boiler, "en", "s2", 1L))                       // same text, OTHER source: freq 1, kept
    val out = Dedup.dropBoilerplateSegments(
      docs2.toDF("doc_id", "text", "lang", "source", "n_chars"), segWords = 10, maxFreq = 2)
    val rows = out.as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(rows(1L) == "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    assert(rows(2L) == "one two three four five six seven eight nine ten")
    assert(!rows.contains(3L)) // every segment was boilerplate
    assert(rows(4L) == boiler) // caps are PER SOURCE
  }

  test("product quantization: codes compress, ADC ranks an exact duplicate first") {
    // dim 8, m = 4 subspaces of 2; centroids = vec_ids 0 and 1
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val embs = Seq(
      (0L, v(1, 0, 1, 0, 1, 0, 1, 0), 0),    // centroid A
      (1L, v(0, 1, 0, 1, 0, 1, 0, 1), 0),    // centroid B
      (10L, v(1, 0, 1, 0, 1, 0, 1, 0), 0),   // exact dup of A (the query)
      (11L, v(0.9, 0.1, 0.9, 0.1, 0.9, 0.1, 0.9, 0.1), 0), // near A
      (12L, v(0, 1, 0, 1, 0, 1, 0, 0.8), 0)  // near B
    ).toDF("vec_id", "embedding", "label")
    val cents = col("vec_id") <= 1
    val codes = Similarity.pqEncode(embs, cents, m = 4, dim = 8)
      .as[(Long, Int, Long)].collect()
    assert(codes.length == 5 * 4, "one code per (vector, subspace)")
    // A-like vectors encode to centroid 0 in every subspace
    assert(codes.filter(c => Set(0L, 10L, 11L)(c._1)).forall(_._3 == 0L))
    assert(codes.filter(_._1 == 1L).forall(_._3 == 1L))
    val top = Similarity.pqTopK(embs, col("vec_id") === 10, cents, k = 3, m = 4, dim = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    // rank 1: the shared-codebook duplicate 0 at ADC distance 0; the
    // near-A vector follows (same codes; ADC measures query->centroid)
    assert(top.head._2 == 0L && top.head._3 == 0L)
    assert(top.map(_._2).take(2).toSet == Set(0L, 11L), s"got ${top.toSeq}")
    // determinism across runs
    val again = Similarity.pqTopK(embs, col("vec_id") === 10, cents, k = 3, m = 4, dim = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(top.toSeq == again.toSeq)
  }

  test("cluster assignment picks the highest-cosine centroid with deterministic ties") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // centroid A
      (3L, Array(0.0f, 1.0f), 0),   // centroid B
      (10L, Array(0.9f, 0.1f), 0),  // near A
      (11L, Array(0.2f, 0.8f), 0),  // near B
      (12L, Array(0.5f, 0.5f), 0)   // equidistant -> smaller cid (0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterAssign(embs, col("vec_id").isin(0L, 3L))
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(out(10L) == 0L && out(11L) == 3L)
    assert(out(0L) == 0L && out(3L) == 3L) // centroids self-assign
    assert(out(12L) == 0L, "cosine tie breaks to the smaller centroid id")
  }

  test("gram matrix: hand-computed entries, upper triangle only, exact integers") {
    // q(1.5)=1500, q(-0.5)=-500, q(2.0)=2000, q(1.0)=1000
    val embs = Seq(
      (0L, Array(1.5f, -0.5f), 0),
      (1L, Array(2.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.gramMatrix(embs, dim = 2)
      .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(g == Map(
      (0, 0) -> (1500L * 1500 + 2000L * 2000),
      (0, 1) -> (1500L * -500 + 2000L * 1000),
      (1, 1) -> (500L * 500 + 1000L * 1000)))
  }

  test("pca projection recovers a planted principal axis") {
    // points spread along (1, 1)/sqrt2 with small orthogonal noise:
    // PC1 must align with the diagonal, projections ~ +-spread
    val pts = Seq(
      (0L, Array(2.0f, 2.0f), 0), (1L, Array(-2.0f, -2.0f), 0),
      (2L, Array(1.0f, 1.2f), 0), (3L, Array(-1.0f, -1.2f), 0),
      (4L, Array(0.1f, -0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.pcaProject(pts, k = 1, dim = 2)
      .as[(Long, Seq[Double])].collect().map(r => r._1 -> r._2.head).toMap
    // diagonal points project with large magnitude, the orthogonal
    // point near zero; sign convention puts (2,2) positive
    assert(out(0L) > 2.5 && out(1L) < -2.5)
    assert(math.abs(out(4L)) < 0.3)
    // near-symmetric pair (the nonzero corpus mean shifts both a bit)
    assert(math.abs(out(0L) + out(1L)) < 0.01)
    // deterministic across runs
    val again = Similarity.pcaProject(pts, k = 1, dim = 2)
      .as[(Long, Seq[Double])].collect().map(r => r._1 -> r._2.head).toMap
    assert(again == out)
  }

  test("tfrecord: CRC32C check value, framing roundtrip, corruption detected") {
    // the standard Castagnoli check: CRC32C("123456789") = 0xE3069283
    val check = "123456789".getBytes("US-ASCII")
    val c = new java.util.zip.CRC32C(); c.update(check, 0, check.length)
    assert(c.getValue.toInt == 0xE3069283)
    // masked form per the TFRecord spec
    val crc = 0xE3069283
    assert(TFRecord.maskedCrc32c(check, 0, check.length) ==
      ((crc >>> 15) | (crc << 17)) + 0xa282ead8)
    // frame layout: 8 len + 4 crc + payload + 4 crc
    val payload = Array[Byte](1, 2, 3)
    val f = TFRecord.frame(payload)
    assert(f.length == 8 + 4 + 3 + 4)
    assert(java.nio.ByteBuffer.wrap(f, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong == 3L)
  }

  test("tfrecord: Example protobuf encode/decode roundtrip incl. unicode") {
    val txt = "héllo wörld — προβ".getBytes("UTF-8")
    val (id, t) = TFRecord.decodeExample(TFRecord.encodeExample(42L, txt))
    assert(id == 42L && t.toSeq == txt.toSeq)
    val (id2, t2) = TFRecord.decodeExample(TFRecord.encodeExample(0L, Array.empty))
    assert(id2 == 0L && t2.isEmpty)
  }

  test("tfrecord shards: write/read roundtrip, stable shard assignment, deterministic bytes") {
    val dir = tempDir("graft_tfr").toString
    val d = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    TFRecord.writeShards(d, dir, n = 2)
    val back = TFRecord.read(spark, dir)
      .as[(Int, Long, String)].collect().sortBy(_._2)
    assert(back.toSeq == Seq((0, 0L, "alpha"), (1, 1L, "beta"),
      (0, 2L, "gamma"), (0, 4L, "delta")))
    // byte-determinism: a second write produces identical files
    val sig1 = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq
    TFRecord.writeShards(d, dir, n = 2)
    val sig2 = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq
    assert(sig1 == sig2)
    // a flipped payload byte fails the CRC loudly
    val f0 = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
      .minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(f0.toPath)
    bytes(14) = (bytes(14) ^ 0x01).toByte // inside the first payload
    java.nio.file.Files.write(f0.toPath, bytes)
    val e = intercept[Exception](TFRecord.read(spark, dir).collect())
    assert(e.getMessage.contains("CRC") || (e.getCause != null))
  }

  test("webdataset: multi-entry samples roundtrip; system tar reads our shards") {
    val dir = tempDir("graft_wds").toString
    val samples = Seq(
      (0L, Map("txt" -> "caption zero".getBytes("UTF-8"),
               "bin" -> Array[Byte](1, 2, 3, 4, 5))),
      (1L, Map("txt" -> "caption one".getBytes("UTF-8"))),
      (2L, Map("txt" -> "caption two".getBytes("UTF-8"),
               "json" -> """{"k":2}""".getBytes("UTF-8"))))
      .toDF("key", "entries")
    WebDataset.writeShards(samples, dir, n = 2)
    val back = WebDataset.read(spark, dir)
      .as[(Int, Long, String, Array[Byte])].collect()
      .map(r => (r._2, r._3) -> (r._1, r._4.toSeq)).toMap
    assert(back((0L, "txt"))._2 == "caption zero".getBytes("UTF-8").toSeq)
    assert(back((0L, "bin"))._2 == Seq[Byte](1, 2, 3, 4, 5))
    assert(back((2L, "json"))._2 == """{"k":2}""".getBytes("UTF-8").toSeq)
    assert(back((0L, "txt"))._1 == 0 && back((1L, "txt"))._1 == 1) // key % 2
    assert(back.size == 5)
    // interop: the SYSTEM tar must list our entries (ustar conformance)
    val shard0 = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).minBy(_.getName)
    val listed = scala.sys.process.Process(Seq("tar", "-tf", shard0.getAbsolutePath))
      .lineStream_!.toList
    assert(listed.sorted == List("0.bin", "0.txt", "2.json", "2.txt"),
      s"system tar saw: $listed")
    // and system tar extracts byte-identical content
    val extractDir = tempDir("graft_wds_x")
    scala.sys.process.Process(
      Seq("tar", "-xf", shard0.getAbsolutePath, "-C", extractDir.toString)).!
    assert(java.nio.file.Files.readAllBytes(extractDir.resolve("0.txt")).toSeq ==
      "caption zero".getBytes("UTF-8").toSeq)
    // byte-determinism across writes
    val b1 = java.nio.file.Files.readAllBytes(shard0.toPath).toSeq
    WebDataset.writeShards(samples, dir, n = 2)
    assert(java.nio.file.Files.readAllBytes(shard0.toPath).toSeq == b1)
  }

  test("multimodal resize: fixed output shape, deterministic resampling") {
    val blobs = Multimodal.asBlobs(docs)
    val small = Multimodal.resize(blobs, 8, 4).collect()
    assert(small.length == 5)
    small.foreach { r =>
      assert(r.getInt(1) == 8 && r.getInt(2) == 4)
      assert(r.getAs[Array[Byte]]("blob").length == 32)
    }
    // nearest-index resample of a known blob
    val b1 = small.find(_.getLong(0) == 1L).get.getAs[Array[Byte]]("blob")
    val src = docs.where(col("doc_id") === 1).head().getString(1).getBytes("UTF-8")
    assert(b1(0) == src(0))
    assert(b1(31) == src((31L * src.length / 32).toInt))
  }

  test("count-min sketch: overestimate-only point queries, shard mergeability") {
    val a = Seq((1L, "alpha alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val b = Seq((3L, "beta beta delta")).toDF("doc_id", "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketch.countMinSketch(df).as[(Long, Long, Long)].collect()
    val sa = cells(a)
    // CMS never underestimates; with 4x256 cells and 3 tokens,
    // collisions are absent and estimates are exact
    assert(Sketch.cmsEstimate(sa, "alpha") == 3L)
    assert(Sketch.cmsEstimate(sa, "beta") == 1L)
    assert(Sketch.cmsEstimate(sa, "gamma") == 1L)
    assert(Sketch.cmsEstimate(sa, "absent") == 0L)
    // mergeability: sketch(a ++ b) == cell-wise sum of the shard sketches
    val merged = cells(a.unionByName(b))
      .map { case (j, bb, c) => (j, bb) -> c }.toMap
    val summed = (sa ++ cells(b)).groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).sum).toMap
    assert(merged == summed)
  }

  test("hll: hand-checked register, shard merge = max, estimate tracks distinct count") {
    val a = Seq((1L, "alpha alpha beta")).toDF("doc_id", "text")
    val b = Seq((2L, "beta gamma")).toDF("doc_id", "text")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketch.hllSketch(df).as[(Long, Long)].collect().sortBy(_._1)
    val ra = regs(a)
    assert(ra.length == 64 && ra.map(_._1).toSeq == (0L until 64L))
    // hand-derive alpha's register from the portable hash
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    val rho = if (h >>> 6 == 0) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(h >>> 6))
    assert(ra((h % 64).toInt)._2 == rho)
    // shard merge is per-bucket max
    val merged = regs(a.unionByName(b))
    val mx = ra.zip(regs(b)).map { case ((k, x), (_, y)) => (k, math.max(x, y)) }
    assert(merged.toSeq == mx.toSeq)
    // estimate: small-range linear counting keeps low-cardinality
    // corpora near-exact; 3 distinct tokens -> within 1
    assert(math.abs(Sketch.hllEstimate(merged) - 3.0) < 1.0)
    // and a larger vocabulary stays within the ~13% rse regime for m=64
    val big = (1L to 200L).map(i => (i, s"tok$i word$i")).toDF("doc_id", "text")
    val est = Sketch.hllEstimate(regs(big))
    assert(est > 400 * 0.7 && est < 400 * 1.3, s"est $est for 400 distinct")
  }

  test("random projection: components match the LCG matrix by hand; cosine roughly preserved") {
    val dim = 8
    val e = Seq(
      (1L, Array.fill(dim)(0.5f), 0),
      (2L, Array.fill(dim)(0.5f), 0),                              // identical to 1
      (3L, Array.tabulate(dim)(i => if (i % 2 == 0) 1f else -1f), 0)) // orthogonal-ish
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.randomProject(e, outDim = 4, dim = dim)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // hand-compute component 0 of vec 1: qv = [500]*8, P_0 from the LCG
    val p0 = Similarity.planeWeights(4, dim).head
    assert(out(1L).head == p0.map(_ * 500L).sum)
    // identical inputs -> identical sketches; different input differs
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    // sketch cosine of identical vectors is exactly 1
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    assert(cos(out(1L), out(2L)) == 1.0)
    assert(math.abs(cos(out(1L), out(3L))) < 0.9) // dissimilar stays dissimilar-ish
  }

  test("gopher filter: each rule has a live boundary") {
    def doc(id: Long, t: String) = (id, t)
    val good = ("the and of words fine " * 10).trim // 50 words, stops, alpha
    val d = Seq(
      doc(1L, good),
      doc(2L, "the and of too few words"),                      // < minWords
      doc(3L, ("ab " * 50).trim + " the and"),                  // mean len 2 < 3
      doc(4L, ("the and " + "# " * 48).trim),                   // symbol ratio 48/50 > 0.1
      doc(5L, ("the and " + "42 " * 48).trim),                  // alpha frac 2/50 < 0.8
      doc(6L, ("wordy things here again " * 13).trim))          // no stopwords
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = TextAnalysis.gopherFilter(d, minWords = 20).as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("url extraction: host normalization (case, www, port, path) and per-domain stats") {
    val d = Seq(
      (1L, "go to https://WWW.Example.COM/a/b?q=1 or http://cdn.example.net:443/x"),
      (2L, "again https://example.com plus plain text, no scheme: www.skip.me"),
      (3L, "nothing here"))
      .toDF("doc_id", "text")
    val urls = TextAnalysis.extractUrls(d)
      .as[(Long, String, String)].collect()
    assert(urls.map(_._3).sorted.toSeq == Seq("cdn.example.net", "example.com", "example.com"))
    val stats = TextAnalysis.domainStats(d)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats("example.com") == (2L, 2L)) // 2 urls across 2 docs
    assert(stats("cdn.example.net") == (1L, 1L))
    assert(!stats.contains("skip.me")) // schemeless text is not a URL
  }

  test("semdedup: eps-similar later vectors drop, dissimilar survive") {
    // one centroid (vec 0 = [1,0]); cluster order by centroid
    // similarity: 0, 2, 3, 4. vecs 2 and 3 are eps-similar to the
    // earlier vec 0 -> dropped; vec 4 points the other way -> kept
    val e = Seq(
      (0L, Array(1f, 0f), 0),
      (2L, Array(1f, 0.01f), 0),
      (3L, Array(0.99f, 0.02f), 0),
      (4L, Array(-1f, 0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val kept = Similarity.semDedup(e, eps = 0.9, col("vec_id") === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 4L))
  }

  test("chunk documents: window/stride spans, short tail, empty doc emits nothing") {
    // expected spans computed from the BPE tokenizer itself (exact-BPE
    // chunking: "t1" is two tokens, "...!!!" is six punctuation tokens)
    val texts = Map(
      1L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",
      2L -> "a b",            // single short chunk
      3L -> "   \t ",         // zero tokens -> no rows
      4L -> "...!!!")         // punctuation DOES tokenize under BPE
    val (window, stride) = (4, 3)
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(text: String): Seq[(Long, Long, String)] = {
      val toks = Bpe.tokens(text)
      if (toks.isEmpty) Seq.empty
      else {
        val nc = 1L + math.max(0L, (toks.length - window + stride - 1L) / stride)
        (0L until nc).map { c =>
          val chunk = toks.slice((c * stride).toInt, (c * stride).toInt + window)
          (c, chunk.length.toLong, fp(chunk.mkString(" ")))
        }
      }
    }
    assert(Bpe.tokens(texts(3L)).isEmpty && Bpe.tokens(texts(4L)).nonEmpty)
    assert(Bpe.tokens(texts(1L)).length > window) // doc 1 really strides
    val d = texts.toSeq.toDF("doc_id", "text")
    val out = Curation.chunkDocuments(d, window = window, stride = stride)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq).toMap
    assert(!out.contains(3L))
    Seq(1L, 2L, 4L).foreach { id =>
      assert(out(id) == expected(texts(id)), s"doc $id")
    }
  }

  test("c4 clean: line rules (terminal punct, min words, javascript) and page rules (lorem ipsum, brace, min lines)") {
    val good1 = "This line has plenty of words and ends well."
    val good2 = "Another perfectly reasonable line of text appears here!"
    val good3 = "Questions also count as terminal punctuation right?"
    val pages = Seq(
      // page 1: three good lines + three dropped (no punct / short / javascript)
      (1L, Seq(good1, "no terminal punctuation on this line", "tiny one.",
               "This line mentions javascript so it goes away.", good2, good3).mkString("\n")),
      // page 2: only two lines survive -> page dropped (minKeptLines=3)
      (2L, Seq(good1, good2, "short.").mkString("\n")),
      // page 3: lorem ipsum -> page dropped even with 3 good lines
      (3L, Seq(good1, good2, good3, "some Lorem Ipsum filler.").mkString("\n")),
      // page 4: curly brace -> page dropped
      (4L, Seq(good1, good2, good3, "code { sample }").mkString("\n")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(pages)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L))
    val (_, nLines, nKept, cleanChars, fp) = out(1L)
    assert(nLines == 6L && nKept == 3L)
    val clean = Seq(good1, good2, good3).mkString("\n")
    assert(cleanChars == clean.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp == md)
  }

  test("cross dedup: prefix-key hit flags, broadcast and shuffled paths agree") {
    val corpus = Seq(
      // ref doc
      (1L, "alpha beta gamma delta epsilon zeta eta theta REFERENCE TAIL", "en", "ref", 10L),
      // same first-8-token prefix, different tail -> dup_in_ref
      (2L, "alpha beta gamma delta epsilon zeta eta theta CRAWL TAIL DIFFERS", "en", "crawl", 10L),
      // differs at token 8 -> clean
      (3L, "alpha beta gamma delta epsilon zeta eta NOTTHETA whatever", "en", "crawl", 10L),
      (4L, "totally unrelated text body here", "en", "crawl", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val expect = Map(2L -> 1L, 3L -> 0L, 4L -> 0L)
    val fast = Dedup.crossDedup(corpus, col("source") === "ref")
      .select("doc_id", "dup_in_ref").as[(Long, Long)].collect().toMap
    assert(fast == expect)
    val slow = Dedup.crossDedup(corpus, col("source") === "ref",
        maxBroadcastKeys = 0L)
      .select("doc_id", "dup_in_ref").as[(Long, Long)].collect().toMap
    assert(slow == expect)
  }

  test("shard assign: totals conserved, xor fingerprint is order-free") {
    val out = Curation.shardAssign(docs, nShards = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._2).sum == 5L)           // every doc in exactly one shard
    assert(out.forall(r => r._1 >= 0 && r._1 < 4))
    val rev = Curation.shardAssign(
        docs.orderBy(col("doc_id").desc).repartition(3), nShards = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == rev.sortBy(_._1).toSeq)
    // docs 1 and 2 are identical texts -> same hash; xor of a shard
    // holding both cancels their bits out of its fingerprint
    val h1 = out.find(_._2 >= 2)
    assert(h1.isDefined) // the duplicate pair lands together by construction
  }

  test("token length histogram: buckets, counts and extremes by hand") {
    val d = Seq((1L, "a b c", "en", "s", 5L), (2L, "one two", "en", "s", 7L),
        (3L, Seq.fill(40)("w").mkString(" "), "en", "s", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.tokenLengthHistogram(d, bucketWidth = 32)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, 2L, 5L, 2L, 3L))   // 3-token + 2-token docs
    assert(out(1L) == (1L, 1L, 40L, 40L, 40L))
  }

  test("maxsim: per-query-vector best match, quantized sum, by hand") {
    // query bag (label 0): e1=[1,0], e2=[0,1]; doc bag (label 2):
    // d1=[1,0], d2=[-1,0]. maxsim = max(1,-1) + max(0,0) = 1.0
    // doc bag (label 3): d=[0.6,0.8] (unit): 0.6 + 0.8 = 1.4
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (10L, Seq(1f, 0f), 2), (11L, Seq(-1f, 0f), 2),
      (20L, Seq(0.6f, 0.8f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.maxSim(emb, col("label") === 0, col("label") >= 2)
      .as[(Int, Int, Long, Double)].collect().map(r => r._2 -> r).toMap
    assert(out(2) == (0, 2, 2L, 1.0))
    assert(out(3) == (0, 3, 2L, 1.4))
  }

  test("hybrid retrieval: ranks, one-list docs at -1, rrf arithmetic") {
    val d = Seq(
      (1L, "spark spark spark table hash window stream", "en", "s", 10L),
      (2L, "spark table other words fill the document body out", "en", "s", 10L),
      // long doc, huge raw tf: tf-idf ranks it top, BM25's saturated
      // tf + length penalty push it below doc 2 -> the two top-2
      // lists differ and the -1 path is exercised
      (3L, (Seq.fill(30)("hash") ++ Seq.fill(70)("filler")).mkString(" "), "en", "s", 10L),
      (4L, "nothing relevant here at all", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val terms = Seq("table", "spark", "window", "hash", "stream")
    val out = TextAnalysis.hybridRetrieval(d, terms, k = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(4L))                 // no query term, in neither list
    assert(out.values.forall(r => r._2 <= 2 && r._3 <= 2))
    // every present rank contributes round(1e6/(60+r))/1e6
    out.values.foreach { case (_, r1, r2, rrf) =>
      def t(r: Long) = if (r < 0) 0L else math.round(1000000.0 / (60 + r))
      assert(rrf == (t(r1) + t(r2)) / 1000000.0)
    }
    // a doc in only one top-2 list reports -1 for the other
    assert(out.values.exists(r => r._2 == -1L || r._3 == -1L))
  }

  test("keep-best-quality: the highest-scoring family member survives, ties to min id") {
    // docs 1,2,3 near-identical (one family), doc 4 alone
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (1L, base + "tail one", "en", "s", 10L),
      (2L, base + "tail two", "en", "s", 99L), // best quality
      (3L, base + "tail tri", "en", "s", 99L), // tie -> 2 wins (min id)
      (4L, "completely different text entirely unrelated words", "en", "s", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = docs.select(col("doc_id"), col("n_chars").as("score"))
    val keep = Dedup.keepBestQuality(docs, q)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(keep == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("property: winnowing guarantee — every planted shared run of w+k-1 tokens is caught") {
    // random token docs with a planted common run of exactly
    // w + k - 1 = 6 tokens: winnowPairs(minShared = 1) must find
    // every planted pair (the SIGMOD'03 guarantee)
    val words = Array("ax", "bv", "cq", "dz", "ew", "fr", "gt", "hy", "iu", "jo",
      "kp", "lm", "nn", "oo", "pp", "qq")
    for (seed <- 1 to 3) {
      def tok(i: Int, doc: Int): String = {
        val r = (i * 2654435761L + doc * 97L + seed * 40503L) & 0xffffffffL
        words((r % words.length).toInt) + doc + "x" + i // unique across docs
      }
      val run = (0 until 6).map(i => words((i * 5 + seed) % words.length)).mkString(" ")
      val docs = Seq(
        (1L, (0 until 20).map(tok(_, 1)).mkString(" ") + " " + run, "en", "s", 1L),
        (2L, run + " " + (0 until 20).map(tok(_, 2)).mkString(" "), "en", "s", 1L),
        (3L, (0 until 20).map(tok(_, 3)).mkString(" "), "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val pairs = Dedup.winnowPairs(docs, minShared = 1)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
      assert(pairs.contains((1L, 2L)), s"seed $seed missed the planted run")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"seed $seed false pair with 3")
    }
  }

  test("winnow pairs: overlapping docs pair, disjoint don't, floor is live") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1L),
      (2L, "intro words alpha beta gamma delta epsilon zeta eta theta out", "en", "s", 1L),
      (3L, "totally different content with other tokens here now", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.winnowPairs(d).as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // the 8-token shared run (>= w + k - 1 = 6) guarantees shared
    // fingerprints; doc 3 shares nothing
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) >= 2L)
    // raising the floor above the overlap drops the pair
    assert(Dedup.winnowPairs(d, minShared = 100).collect().isEmpty)
  }

  test("readability: hand-computed Flesch-Kincaid on a known sentence") {
    // "the cat sat." -> 3 words, 1 sentence, 3 vowel groups
    val d = Seq((1L, "the cat sat.", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.readability(d)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r._2 == 3L && r._3 == 1L && r._4 == 3L)
    // fk_grade_u: 1e-5-quantized BIGINT closing (r18)
    val fk = BigDecimal((0.39 * (3.0 / 1) + 11.8 * (3.0 / 3) - 15.59) * 100000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(r._5 == fk)
    // empty-ish text floors words/sentences at 1 (no div-by-zero)
    val e = Seq((2L, "???", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    TextAnalysis.readability(e).as[(Long, Long, Long, Long, Long)].head()
  }

  test("train/val/test split: partition is total, content-stable, nested in train") {
    val d = (1L to 400L).map(i => (i, s"doc $i", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = Curation.trainValTestSplit(d).as[(Long, String)].collect().toMap
    assert(s1.size == 400 && s1.values.toSet == Set("train", "val", "test"))
    // stable across runs
    assert(Curation.trainValTestSplit(d).as[(Long, String)].collect().toMap == s1)
    // a 900-permille hashSample is exactly the train split
    val train = Curation.hashSample(d, 900).as[(Long, String)].collect().map(_._1).toSet
    assert(train == s1.filter(_._2 == "train").keySet)
  }

  test("cms estimates: overestimate-only, never-seen token reads 0") {
    val d = Seq((1L, "alpha alpha beta", "en", "s", 1L),
      (2L, "alpha gamma", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val est = Sketch.cmsEstimates(d, Seq("alpha", "beta", "neverseenzz"))
      .as[(String, Long)].collect().toMap
    assert(est("alpha") >= 3L && est("beta") >= 1L) // CMS never undercounts
    assert(est("neverseenzz") >= 0L)
    // tiny vocab, wide sketch: estimates are exact here
    assert(est("alpha") == 3L && est("beta") == 1L && est("neverseenzz") == 0L)
  }

  test("knn label: majority of the 3 nearest with smallest-label ties") {
    // query 0 at origin-ish; 3 nearest are two label-7 and one label-9
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 99),   // query
      (1L, Seq(0.9f, 0.1f), 7), (2L, Seq(0.95f, 0.05f), 7),
      (3L, Seq(0.8f, 0.2f), 9),
      (4L, Seq(-1.0f, 0.0f), 5))   // far away
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabel(d, col("vec_id") === 0, k = 3)
      .as[(Long, Int, Long)].collect()
    assert(out.toSeq == Seq((0L, 7, 2L)))
    // k=4 brings the far label-5 in but 7 still wins 2-1-1
    assert(Similarity.knnLabel(d, col("vec_id") === 0, k = 4)
      .as[(Long, Int, Long)].head() == ((0L, 7, 2L)))
  }

  test("label centroids: quantized component means by hand") {
    val d = Seq((1L, Seq(1.0f, 2.0f), 7), (2L, Seq(3.0f, 0.0f), 7), (3L, Seq(5.0f, 5.0f), 8))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(d)
      .as[(Int, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // micro-units: mean_u = round(s*1000/n) = mean * 1e6
    assert(out((7, 0L)) == ((2L, 2000000L))) // (1000 + 3000) * 1000 / 2
    assert(out((7, 1L)) == ((2L, 1000000L)))
    assert(out((8, 0L)) == ((1L, 5000000L)) && out((8, 1L)) == ((1L, 5000000L)))
  }

  test("novelty: shared shingle counts toward df, unique fraction by hand") {
    val d = Seq((1L, "a b c d e f", "en", "s", 1L), (2L, "a b c d e x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.noveltyScore(d).as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // novelty_u: 1e-6-quantized BIGINT (r18)
    assert(out(1L) == ((2L, 1L, 500000L))) // "a b c d e" shared, "b c d e f" unique
    assert(out(2L) == ((2L, 1L, 500000L)))
    // fully unique doc scores 1.0
    val solo = Seq((3L, "p q r s t u v", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.noveltyScore(solo).as[(Long, Long, Long, Long)].head()._4 == 1000000L)
  }

  test("jsonl roundtrip: identity on records, malformed lines drop, escapes survive") {
    val docs = Seq(
      (1L, "plain text", "en", "web", 10L),
      (2L, "quotes \" and \\ backslash\nnewline\ttab", "en", "books", 37L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val back = Curation.fromJsonl(Curation.toJsonl(docs))
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(back == docs.as[(Long, String, String, String, Long)].collect().toSet)
    val withJunk = Curation.toJsonl(docs)
      .union(Seq("{not json", "").toDF("line"))
    assert(Curation.fromJsonl(withJunk).count() == 2)
  }

  test("winnowing: uniform doc selects the rightmost min per window; identical docs agree") {
    // all grams hash equal -> every window picks its RIGHTMOST
    // position, so n_fp = #windows = nTok - (k-1) - (w-1) = nTok - 5
    for (nTok <- 6 to 10) {
      val d = Seq((1L, Seq.fill(nTok)("a").mkString(" "), "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Dedup.winnow(d).as[(Long, Long, Long)].collect()
      assert(out.length == 1 && out.head._2 == (nTok - 5).toLong)
    }
    // identical docs -> identical fingerprint summaries; disjoint differ
    val d = Seq((1L, "the quick brown fox jumps over lazy dogs", "en", "s", 1L),
      (2L, "the quick brown fox jumps over lazy dogs", "en", "s", 1L),
      (3L, "completely different words in this other document here", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = Dedup.winnow(d).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
    // below one full window (5 tokens) -> no fingerprints
    val tiny = Seq((9L, "a b c d e", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.winnow(tiny).collect().isEmpty)
  }

  test("heavy hitters: equals the exact HAVING query, floor is live") {
    val d = (1 to 30).map(i => (i.toLong, "hot warm" + (if (i <= 3) " cold" else ""), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Sketch.heavyHitters(d, minCount = 10)
      .as[(String, Long)].collect().toMap
    assert(out == Map("hot" -> 30L, "warm" -> 30L)) // cold (3) under floor
    // floor boundary is inclusive
    assert(Sketch.heavyHitters(d, minCount = 30).as[(String, Long)].collect().toMap ==
      Map("hot" -> 30L, "warm" -> 30L))
    assert(Sketch.heavyHitters(d, minCount = 31).collect().isEmpty)
  }

  test("char entropy: uniform, single-char, and hand-computed mixed cases") {
    val d = Seq((1L, "abab", "en", "s", 4L),   // uniform over 2 -> ln 2
      (2L, "zzzz", "en", "s", 4L),             // single char -> 0
      (3L, "aab", "en", "s", 3L))              // H = ln3 - (2 ln2)/3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.charEntropy(d)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def q(c: Long) = math.round(c * math.log(c.toDouble) * 1e6)
    def h(n: Long, s: Long) = BigDecimal(
      (math.round(math.log(n.toDouble) * 1e6) * n - s).toDouble / (n * 1e6))
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == (4L, 2L, h(4, 2 * q(2))))
    assert(out(2L) == (4L, 1L, 0.0))
    assert(out(3L) == (3L, 2L, h(3, q(2))))
    assert(math.abs(out(1L)._3 - math.log(2)) < 1e-4)
  }

  test("dup rank: hub outranks leaves, isolated docs keep the base term") {
    // star: 0-1, 0-2, 0-3 (hub 0); isolated doc 9
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("d1", "d2")
    val verts = Seq(0L, 1L, 2L, 3L, 9L).toDF("doc_id")
    val out = Dedup.dupRank(pairs, verts, iters = 3)
      .as[(Long, Long)].collect().toMap
    // hand-walk (n=5, base = 15e5//500 = 30000, r0 = 200000):
    // deg(0)=3, deg(leaf)=1.
    // i1: hub gets 3*(200000//1) -> 30000 + 85*600000//100 = 540000;
    //     leaf gets 200000//3 = 66666 -> 30000 + 85*66666//100 = 86666
    assert(out(9L) == 30000L) // base only, every round
    assert(out(0L) > out(1L)) // hub outranks leaves
    assert(out(1L) == out(2L) && out(2L) == out(3L)) // symmetric leaves
    // r2 by hand: hub <- 3*(86666//1)=259998 -> 30000+85*259998//100=250998
    //             leaf <- 540000//3=180000 -> 30000+153000=183000
    // r3: hub <- 3*183000 = 549000 -> 30000 + 466650 = 496650
    assert(out(0L) == 496650L)
  }

  test("pmi collocations: perfect pair beats independent pair, floor bounds output") {
    // "x y" always adjacent (PMI high); "a" and "b" co-occur at chance
    val rows = (0 until 8).map(i => (i.toLong, "x y a" + (" b a" * 3), "en", "s", 1L))
    val out = TextAnalysis.pmiCollocations(rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
      minCount = 5).as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out(("x", "y"))._1 == 8L)
    assert(out(("x", "y"))._2 > out(("b", "a"))._2) // collocation outranks chance
    assert(!out.contains(("y", "x")))               // direction matters
    assert(out.keySet.forall { case k => out(k)._1 >= 5 }) // floor applied
  }

  test("ks test: exact rational CDF gap by hand") {
    // A = {1, 2}, B = {3}: the gap peaks at v=2 with |2*1 - 0*2| = 2
    val rows = Seq((1L, "x", "en", "sA", 1L), (2L, "x", "en", "sA", 2L),
      (3L, "x", "en", "sB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.ksTest(rows, col("source") === "sA", col("n_chars"))
      .as[(Long, Long, Long, Double)].head()
    assert(out == ((2L, 1L, 2L, 1.0)))
  }

  test("recall@k: hand membership counting with a left-out neighbor") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (2L, 20L, 1L))
      .toDF("qid", "nid", "rank")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("qid", "nid")
    val out = Similarity.recallAtK(exact, approx, 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, 2.0 / 3)))  // 10 and 12 hit, 11 missed
    assert(out(2L) == ((2L, 1L, 0L, 0.0)))      // query absent from approx
  }

  test("zipf fit: perfect power law recovers slope -1 within quantization") {
    // counts 8,4,2,1 at ranks 1..4: ln(cnt) = ln(8) - ln(2)*ln... no:
    // freq ∝ rank^s with s = -1 needs counts 12,6,4,3; use 12/6/4/3
    val words = Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c") ++ Seq.fill(3)("d")
    val docs = Seq((1L, words.mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (n, slope) = TextAnalysis.zipfFit(docs, topK = 4).as[(Long, Double)].head()
    assert(n == 4L)
    assert(math.abs(slope - (-1.0)) < 1e-4) // 12/rank: exact -1 up to micro-nat residue
  }

  test("embed outliers: integer centroid-distance decomposition by hand") {
    // label 1: vectors (1,1), (1,1), (4,4): S = (6,6), m = 3
    // m^2*d2 for (4,4): 9*32 - 2*3*(4*6+4*6) + 72 = 288 - 288 + 72 = 72
    // for (1,1): 9*2 - 6*12 + 72 = 18 - 72 + 72 = 18
    def v(xs: Double*) = xs.map(x => (x / 1000.0).toFloat) // quantize back to ints
    val e = Seq((1L, v(1, 1), 1), (2L, v(1, 1), 1), (3L, v(4, 4), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedOutliers(e, topK = 3)
      .as[(Int, Int, Long, Long, Double)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    assert(out(1) == ((3L, 72L)))          // farthest: the (4,4) vector
    assert(out(2) == ((1L, 18L)))          // tie on 18 -> vec_id asc
    assert(out(3) == ((2L, 18L)))
  }

  test("contrastive mining: positive is same-label top, negatives exclude it") {
    // 4 vectors in 2 labels; anchor 0 (label 1): same-label 1 is the
    // positive; 2 and 3 (label 2) are negatives ranked by cosine
    def v(xs: Double*) = xs.map(_.toFloat)
    val e = Seq(
      (0L, v(1, 0), 1), (1L, v(0.9, 0.1), 1),
      (2L, v(0.5, 0.5), 2), (3L, v(0, 1), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastivePairs(e, col("vec_id") === 0, negK = 2)
      .as[(Long, String, Int, Long, Long)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    assert(out(("pos", 1)) == 1L)
    assert(out(("neg", 1)) == 2L) // (0.5,0.5) closer to (1,0) than (0,1)
    assert(out(("neg", 2)) == 3L)
    assert(out.size == 3)
  }

  test("jm lm: interpolation sits between bigram MLE and unigram floor") {
    // "a b" x4 and "a c" x1: p(b|a) MLE = 4/5, p(c|a) = 1/5 — the JM
    // score mixes 3/4 of that with 1/4 unigram; common continuation
    // scores lower NLL than the rare one
    val rows = (0 until 4).map(i => (i.toLong, "a b", "en", "s", 3L)) :+ (9L, "a c", "en", "s", 3L)
    val out = TextAnalysis.jmLmScore(rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(0L) < out(9L)) // "a b" docs beat the "a c" doc
    assert(out(0L) == out(1L)) // identical docs score identically
    assert(out.values.forall(_ > 0))
  }

  test("fertility: exact per-source ratios") {
    val rows = Seq((1L, "aa bb", "en", "s1", 5L), (2L, "cc", "en", "s1", 2L))
    val out = TextAnalysis.fertility(rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(String, Long, Long, Double, Double)].collect()
    assert(out.length == 1)
    val (src, ws, bpe, fert, cpt) = out.head
    assert(src == "s1" && ws == 3L)
    assert(fert == bpe.toDouble / ws && cpt == 7.0 / bpe) // 5 + 2 chars
  }

  test("skip-gram SPPMI: symmetric counts, shift clamps at zero") {
    // "x y" adjacent in every doc; window 2 also pairs x with the
    // following a. Symmetric universe: cab(a,b) == cab(b,a) always.
    val rows = (0 until 8).map(i => (i.toLong, "x y a" + (" b a" * 3), "en", "s", 1L))
    val out = TextAnalysis.skipgramPmi(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"), window = 2, minCount = 5)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    out.keys.foreach { case (a, b) =>
      assert(out.contains((b, a)), s"missing mirror of ($a,$b)")
      assert(out((a, b)) == out((b, a))) // full symmetry incl. scores
    }
    val shift = math.round(math.log(5.0) * 1e6)
    out.values.foreach { case (_, pmi, sppmi) =>
      assert(sppmi == math.max(0L, pmi - shift))
    }
    assert(out(("x", "y"))._2 > out(("b", "a"))._2) // collocation outranks chance
  }

  test("oov rate: top-k vocabulary with asc tie-break, exact counts") {
    val rows = Seq((1L, "a a b", "en", "s", 3L), (2L, "a c c", "en", "s", 3L))
    val out = TextAnalysis.oovRate(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"), k = 1)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // counts: a=3, c=2, b=1 -> vocab = {a}
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))
    assert(out(2L) == ((3L, 2L, 2.0 / 3)))
  }

  test("html extract: scripts/styles die whole, entities decode after tag strip") {
    val d = Seq((1L,
      "<html><script>if (1 < 2) { x(); }</script><style>p{}</style>" +
        "<p>Hello   <b>world</b></p><div>&lt;kept&gt; &amp;&quot;</div></html>",
      "en", "s", 1L)).toDF("doc_id", "html", "lang", "source", "n_chars")
    val out = TextAnalysis.htmlExtract(d).select("clean").as[String].head()
    assert(out == "Hello world <kept> &\"")
  }

  test("perplexity buckets: thirds per source, rank math by hand") {
    // 6 docs in one source -> buckets of exactly 2 by (r-1)*3 div 6
    val docs = Seq("q q q q", "q q q z", "q q z z", "q z z z", "z z z z", "q q q q q")
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src", 1L) }
    val out = TextAnalysis.perplexityBuckets(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(("src", 0L) -> 2L, ("src", 1L) -> 2L, ("src", 2L) -> 2L))
  }

  test("sampledQuantiles: full sample hits exact quantiles via the rational rank rule") {
    // permille=1000 keeps every row, so the selection must be the
    // exact rank-based quantile: n=10 values 1..10 per source ->
    // q500 picks rank 5 (v=5), q900 rank 9, q990 rank 10
    val many = (0L until 20L).map(i => (i, "t", "en", s"src${i % 2}", i / 2 + 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.sampledQuantiles(many, permille = 1000)
      .as[(String, Int, Long)].collect().toSet
    assert(out == Set(
      ("src0", 500, 5L), ("src0", 900, 9L), ("src0", 990, 10L),
      ("src1", 500, 5L), ("src1", 900, 9L), ("src1", 990, 10L)))
  }

  test("sampledQuantiles sampling is deterministic and value-ordered") {
    val many = (1L to 500L).map(i => (i, "t", "en", "s", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = Curation.sampledQuantiles(many).as[(String, Int, Long)].collect().toSet
    val b = Curation.sampledQuantiles(many).as[(String, Int, Long)].collect().toSet
    assert(a == b && a.size == 3)
    val byQ = a.map(t => t._2 -> t._3).toMap
    assert(byQ(500) <= byQ(900) && byQ(900) <= byQ(990))
  }

  test("dupNgramRate: cross-doc df>1 shingles counted per source") {
    // doc 1 and 2 share their one 5-gram; doc 3 is unique; doc 4 too
    // short to shingle. srcA: docs 1,3 -> 2 shingles, 1 duplicated.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "srcA", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "srcB", 30L),
      (3L, "one two three four five", "en", "srcA", 23L),
      (4L, "too short", "en", "srcA", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dupNgramRate(d).as[(String, Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("srcA") == ((2L, 1L, 0.5)))
    assert(out("srcB") == ((1L, 1L, 1.0)))
  }
}
