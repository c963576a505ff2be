package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.{Fixpoint, LongBlock}

/** Per-doc SimHash accumulator: folds each token hash into a single
  * fixed-width buffer of per-bit signed counts, so ONE array crosses
  * the exchange per (doc x upstream-partition) instead of `bits`
  * separate sum() columns each with its own hash-aggregate slot
  * (the r11 60-column shape was the one >2x bench breach). Same
  * map-side partial-agg design as TileMomentsAgg. */
final class SimHashAgg(bits: Int) extends Aggregator[Long, Array[Long], Long] {
  def zero: Array[Long] = new Array[Long](bits)
  def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var b = 0
    while (b < bits) { buf(b) += (((h >>> b) & 1L) << 1) - 1L; b += 1 }
    buf
  }
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bits) { a(i) += b(i); i += 1 }
    a
  }
  def finish(buf: Array[Long]): Long = {
    var sig = 0L
    var b = 0
    while (b < bits) { if (buf(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** Deduplication family for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale shapes (SURVEY §4):
  * - exact: one groupBy on a 128-bit content hash — pure map-side
  *   combine, the cheapest possible full-corpus dedup.
  * - jaccard: inverted-index join on HASHED shingles (8-byte shuffle
  *   keys, not strings); hot shingles are the skew risk, handled by
  *   the `maxDocFreq` cap (ON by default) that drops boilerplate
  *   shingles before the self-join.
  * - minhash LSH: the k=16-component signature is computed inside
  *   each document's row by one native kernel (no shingle shuffle),
  *   banded into 4 buckets; only bucket collisions become candidate
  *   pairs, scored from the signatures the band rows carry.
  * - simhash: 60-bit signature, hamming<=3 via pigeonhole banding
  *   (Manku/Jain/Sarma, WWW'07): 4 bands of 15 bits — hamming<=3
  *   guarantees at least one band matches exactly, so candidates
  *   come from an equi-join on (band, bits), then exact hamming
  *   verification. No all-pairs scan anywhere.
  * - cosine: label-blocked exact pairs over integer-quantized
  *   embeddings (deterministic integer dot products).
  *
  * Shared intermediates (shingle sets) are materialized once with an
  * eager localCheckpoint: a lazy .cache() inside a single job lets
  * every downstream branch race to recompute the full shingle
  * pipeline before the cache is populated (measured ~6x overcompute
  * in r1's minhash).
  *
  * Key contract: `doc_id` is the key of `documents` (one row per id).
  * The per-row kernels rely on it — a signature is one row's value,
  * not a merge of every row sharing an id — and so does the streaming
  * twin's claim to equal the batch path.
  */
object Dedup {

  /** Exact dedup: groups identical texts, keeps the smallest doc_id.
    * Reference shape: hash-groupBy. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("dups"))
      .select(col("h"), col("keeper"), col("dups"))

  /** Cross-corpus dedup by content-prefix key — "drop from the crawl
    * what the reference set already has": every document gets a
    * 60-bit key hashing its first `prefixTokens` normalized tokens
    * (prefix keys catch re-scraped/retitled copies that differ only in
    * their tails, the URL-less analogue of URL dedup), and each
    * non-reference document is flagged when its key appears anywhere
    * in the reference partition (`refPred`).
    *
    * Scale shape: the reference side reduces to DISTINCT keys (8-byte
    * longs). Under `maxBroadcastKeys` they broadcast and the corpus
    * never shuffles (scan + broadcast left join); above it — a
    * reference the size of the crawl itself — the same plan runs as a
    * shuffled join on the key. Same guard convention as
    * [[contamination]]'s probe broadcast. */
  /** Cross-source n-gram containment matrix — the provenance
    * diagnostic one level below [[dupSourceMatrix]]'s doc-level
    * pairs: for every ordered source pair (a, b),
    * |distinct n-grams of a ∩ b| / |distinct n-grams of a| — how much
    * of a's n-gram inventory also appears in b (asymmetric, like the
    * benchmark-contamination containment). Exact integer counts; one
    * closing division.
    *
    * Scale: the distinct (source, ngram) set collapses the corpus
    * first (bounded by |sources|·|ngram vocabulary|); the ngram-keyed
    * self-join only materializes co-occurring pairs. At web scale,
    * swap the exact distinct set for a per-source MinHash sketch and
    * estimate containment from signature overlap — the matrix shape
    * downstream is unchanged.
    *
    * @return (src_a, src_b, n_a, n_common, containment), a != b */
  def ngramSourceMatrix(docs: DataFrame, n: Int = 3): DataFrame = {
    // tokenize ONCE in its own projection — a tokenizer inside the
    // transform lambda re-runs per element (no CSE in HOF lambdas)
    val toks = docs.select(col("source"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
    // the >= n guard matters: Spark's sequence(1, k) turns DESCENDING
    // for k < 1 and would fabricate grams for short docs
    val grams = toks.where(size(col("w")) >= n)
      .select(col("source"),
        explode(transform(
          sequence(lit(1), size(col("w")) - (n - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(n))))).as("g"))
      .distinct()
      .localCheckpoint() // totals + both join sides consume it
    val totals = grams.groupBy("source").agg(count(lit(1)).as("n_a"))
    grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(totals.withColumnRenamed("source", "src_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_common"),
        (col("n_common").cast("double") / col("n_a")).as("containment"))
  }

  def crossDedup(docs: DataFrame, refPred: Column, prefixTokens: Int = 8,
                 maxBroadcastKeys: Long = 20000000L): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"), refPred.as("is_ref"),
        shingleHash(concat_ws(" ",
          slice(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")),
            1, prefixTokens))).as("k"))
      .localCheckpoint() // consumed by the guard count + both join sides
    val refKeys = keyed.where(col("is_ref")).select(col("k")).distinct()
      .localCheckpoint()
    val small = refKeys.count() <= maxBroadcastKeys
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    keyed.where(not(col("is_ref")))
      .join(side(refKeys.withColumn("hit", lit(1L))), Seq("k"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("hit"), lit(0L)).as("dup_in_ref"))
  }

  /** Word k-shingles, distinct per doc: (doc_id, shingle). */
  def shingles(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))
    docs.select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(k))))).as("shingle"))
      .distinct()
  }

  /** 60-bit shingle hash from md5 (portable: same value in DuckDB
    * via ('0x'||substr(md5(s),1,15))::BIGINT). Native codegen kernel
    * (r20): identical value, no hex-string/substring/conv churn. */
  def shingleHash(shingle: Column): Column =
    org.apache.spark.sql.graft.Md5Prefix60Expr.md5Prefix60(shingle)

  /** Bloom-filter decontamination — the constant-memory variant of
    * [[contamination]] (the public CCNet/Pile practice: a Bloom
    * filter of the eval set's n-grams, one bit-test scan over the
    * corpus). The probe side's shingles set `nHashes` salted
    * positions in a 2^bits array; a corpus shingle HITS when all its
    * positions are set (false positives possible — bounded by the
    * standard Bloom rate, and DETERMINISTIC: both engines state the
    * same positions). Emits (doc_id, bloom_hits) for non-probe docs
    * with at least one hitting shingle.
    *
    * Scale shape: the bit set is 2^bits / 8 bytes broadcast
    * (constant, vs [[contamination]]'s probe-shingle table that can
    * reach the 20M broadcast guard); the corpus never shuffles —
    * one scan + a per-doc aggregate. */
  def bloomContamination(corpus: DataFrame, probePred: Column, k: Int = 5,
                         bits: Int = 18, nHashes: Int = 3): DataFrame = {
    require(bits >= 8 && bits <= 30 && nHashes >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val mask = (1L << bits) - 1
    val sh = shingles(corpus, k)
    def positions(s: Column): Column = array((0 until nHashes).map(j =>
      Sketch.rowHash(j, s) % (mask + 1)): _*)
    val bitSet = new java.util.BitSet(1 << bits)
    sh.where(probePred)
      .select(explode(positions(col("shingle"))).as("p")).distinct()
      .as[Long].collect().foreach(p => bitSet.set(p.toInt))
    // pad to the full word count so the expression never bounds-checks
    val words = java.util.Arrays.copyOf(bitSet.toLongArray, (1 << bits) / 64)
    val bc = spark.sparkContext.broadcast(words)
    // native bit-test Expression: the corpus scan stays ONE
    // whole-stage-codegen span (no DeserializeToObject/typed-filter —
    // the r14 plan break), and tasks carry only the broadcast handle
    sh.where(!probePred)
      .where(org.apache.spark.sql.graft.BloomTestExpr.bloomTest(
        positions(col("shingle")), bc))
      .groupBy("doc_id").agg(count(lit(1)).as("bloom_hits"))
  }

  /** Exact substring (span-level) dedup — Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499, public): every k-token span that occurs more
    * than once across the corpus is removed EXCEPT its first
    * occurrence (smallest (doc_id, offset)). Returns the removal list
    * (doc_id, off) with off the 0-based token offset.
    *
    * Scale shape: the inverted index over span hashes is the honest
    * cost (one row per token position); the keeper is a min AGGREGATE
    * over a packed (doc_id << 32 | off) key — map-side partials, no
    * per-hash window, so a boilerplate span duplicated a million
    * times never funnels through a single-reducer row_number. */
  def duplicateSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val toks = org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))
    // localCheckpoint: the index feeds BOTH the min-key aggregate and
    // the join-back, and the partial-agg and raw-probe exchanges are
    // different subtrees so ReuseExchange cannot kick in — without the
    // pin, the whole tokenize+md5 explode (one hash per token
    // position, the honest cost) executes twice (r14: 2.8s -> 1.9s)
    val spans = docs.select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ShingleHash60Expr
          .shingleHashes(col("toks"), k)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("off"), col("h"))
      .withColumn("key", col("doc_id") * lit(1L << 32) + col("off"))
      .localCheckpoint()
    val agg = spans.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min("key").as("minkey"))
    spans.join(agg, "h")
      .where(col("cnt") > 1 && col("key") =!= col("minkey"))
      .select(col("doc_id"), col("off"))
  }

  /** Distinct hashed k-shingles per doc: (doc_id, h LONG). Hashing
    * BEFORE the distinct keeps every downstream exchange on 8-byte
    * keys instead of ~30-byte strings; 60-bit space makes collisions
    * negligible (and the oracle hashes identically, so both engines
    * agree even on a collision). Materialized eagerly — jaccard,
    * contamination and minhashEval's exact side each consume it from
    * several join branches. MinHash signatures do not read it: the
    * signature kernel hashes the shingles inside each row. */
  def hashedShingles(docs: DataFrame, k: Int = 5): DataFrame = {
    // r20: fused native tokenize + k-shingle hash kernels — identical
    // values to the regexp/transform/concat_ws/md5-hex chain, one
    // codegen call each, no per-shingle string churn
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.ShingleHash60Expr
          .shingleHashes(col("toks"), k)).as("h"))
      .distinct()
      .localCheckpoint()
  }

  /** n-gram Jaccard near-dup pairs via inverted-index join on hashed
    * shingles.
    *
    * `maxDocFreq` is the skew guard for scale, ON by default:
    * shingles occurring in more than that many documents are dropped
    * from the index before the self-join (a boilerplate shingle
    * shared by 1% of a 10^9-doc corpus would otherwise create a
    * 10^14-row hot key). Near-dup pairs lose almost nothing: they
    * still share their rare shingles. Doc sizes are computed from the
    * CAPPED shingle sets, so the jaccard value is exactly the
    * jaccard of the capped sets (mirrored in the oracle). */
  /** Hashed shingles with the boilerplate cap applied: shingles in
    * more than `maxDocFreq` docs are dropped before any self-join —
    * the one skew-guard rule, shared so jaccard/contamination (and
    * their oracle CTEs) cannot drift apart. */
  private def cappedShingles(docs: DataFrame, k: Int,
                             maxDocFreq: Option[Long]): DataFrame = {
    val all = hashedShingles(docs, k)
    maxDocFreq.fold(all) { cap =>
      val hot = all.groupBy("h").agg(count(lit(1)).as("df")).where(col("df") > cap)
      // localCheckpoint: the capped set feeds 2-3 branches (both
      // self-join sides + sizes in jaccard; probes + corpus side in
      // contamination) and the hot-set groupBy + anti-join would
      // otherwise re-execute per branch on top of the checkpointed
      // shingles
      all.join(broadcast(hot.select("h")), Seq("h"), "left_anti")
        .localCheckpoint()
    }
  }

  def jaccardPairs(docs: DataFrame, k: Int = 5, threshold: Double = 0.5,
                   maxDocFreq: Option[Long] = Some(1000L)): DataFrame = {
    val sh = cappedShingles(docs, k, maxDocFreq)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = sh.as("a").join(sh.as("b"), "h")
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .select(col("d1"), col("d2"),
        (col("shared").cast("double") / (col("n1") + col("n2") - col("shared"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: n-gram CONTAINMENT of probe documents
    * (an eval set) in corpus documents — the train/test-overlap check
    * every training pipeline runs before a corpus ships. containment =
    * |probe ∩ doc| / |probe| (asymmetric on purpose: a benchmark item
    * quoted inside a much larger document is contamination even though
    * their jaccard is tiny).
    *
    * Scale shape: the probe side is an eval set — thousands of docs,
    * not billions — so its shingles BROADCAST and the corpus side
    * never shuffles: scan + broadcast-hash-join + partial-agg count.
    * The `maxDocFreq` boilerplate cap from [[jaccardPairs]] applies to
    * the corpus side; probe sizes use the capped sets, mirrored in the
    * oracle. */
  def contamination(corpus: DataFrame, probePred: Column, k: Int = 5,
                    threshold: Double = 0.5,
                    maxDocFreq: Option[Long] = Some(1000L),
                    maxBroadcastShingles: Long = 20000000L): DataFrame = {
    val sh = cappedShingles(corpus, k, maxDocFreq)
    // The eval-set-sized-probe assumption is an assumption, not a law:
    // probePred is caller-supplied and could select half the corpus,
    // in which case broadcast() dies at Spark's size limit with an
    // opaque error. Materialize the probe side once (only
    // hashedShingles is checkpointed — the maxDocFreq cap's groupBy +
    // anti-join would otherwise re-execute for the count AND for both
    // join branches), then the guard count is a free rescan.
    val probes = sh.where(probePred)
      .select(col("doc_id").as("probe_id"), col("h"))
      .localCheckpoint()
    val small = probes.count() <= maxBroadcastShingles
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val probeSizes = probes.groupBy("probe_id").agg(count(lit(1)).as("np"))
    val shared = sh.join(side(probes), "h")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(count(lit(1)).as("shared"))
    shared.join(side(probeSizes), "probe_id")
      .select(col("probe_id"), col("doc_id"),
        (col("shared").cast("double") / col("np")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Driver-side probe shingle sets (probe_id -> hashed k-shingles) —
    * the broadcastable form of an eval set for [[containmentAgainst]].
    * Eval sets are small by nature; the collect is bounded by them,
    * never by the corpus. */
  def shingleSets(probes: DataFrame, k: Int = 5): Map[Long, Set[Long]] = {
    val spark = probes.sparkSession
    import spark.implicits._
    hashedShingles(probes, k).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, hs) => id -> hs.map(_._2).toSet }
  }

  /** Containment of fixed probe sets in each incoming document —
    * the STREAMING-friendly decontamination shape: probe shingles ride
    * the closure (broadcast), each document is checked locally as it
    * arrives, no state and no shuffle, so the same operator runs
    * unchanged over a readStream source in append mode. Shingle
    * hashing mirrors [[hashedShingles]] exactly (same tokens, same
    * 60-bit md5 prefix), so batch and streaming agree bit-for-bit. */
  def containmentAgainst(docs: DataFrame, probes: Map[Long, Set[Long]],
                         k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hash(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes("UTF-8"))
          // the batch path's conv(substring(md5, 1, 15), 16, 10) = the
          // digest's leading 60 bits: read the first 8 bytes
          // big-endian, drop the low nibble — value-identical to
          // parsing the 15-char hex prefix, no per-shingle string churn
          var v = 0L
          var i = 0
          while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          v >>> 4
        }
        it.flatMap { case (id, text) =>
          // Locale.ROOT: JVM-default-locale lowercasing (tr-TR dotless
          // i) would diverge from Spark's locale-independent lower()
          val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toArray
          val sh: Set[Long] =
            if (toks.length < k) Set.empty
            else toks.sliding(k).map(w => hash(w.mkString(" "))).toSet
          probes.iterator.flatMap { case (pid, ps) =>
            if (pid == id || ps.isEmpty) Iterator.empty
            else {
              val c = ps.count(sh.contains).toDouble / ps.size
              if (c >= threshold) Iterator.single((id, pid, c)) else Iterator.empty
            }
          }
        }
      }
      .toDF("doc_id", "probe_id", "containment")
  }

  /** Segment-level deduplication — the CCNet/RefinedWeb boilerplate
    * removal step: cut each document into fixed word-count segments
    * (the corpus is single-line text, so fixed windows stand in for
    * lines/paragraphs), drop segments that occur more than `maxFreq`
    * times within their source (navigation chrome, licence headers,
    * templates), and reassemble the surviving text in order. Documents
    * left empty disappear.
    *
    * Scale shape: one explode (narrow), one (source, segment-hash)
    * groupBy with map-side combine — the hot side is the BOILERPLATE
    * set, small by nature, so it broadcasts into a left-anti join —
    * then one reassembly groupBy per doc. Segment keys are the
    * portable 60-bit md5 prefix (8-byte exchanges, oracle-identical). */
  def dropBoilerplateSegments(docs: DataFrame, segWords: Int = 10,
                              maxFreq: Long = 2): DataFrame = {
    require(segWords > 0 && maxFreq >= 1)
    // project toks FIRST: a raw split() referenced inside the
    // transform lambda re-splits the whole text per segment
    // (ArrayTransform has no CSE — the shingles() precedent)
    val nseg = ceil(size(col("toks")).cast("double") / segWords).cast("int")
    val segs = docs.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(0), nseg - 1), i =>
          struct(i.as("pos"),
            concat_ws(" ", slice(col("toks"), i * segWords + 1, lit(segWords))).as("seg")))).as("s"))
      .select(col("doc_id"), col("source"),
        col("s.pos").as("pos"), col("s.seg").as("seg"),
        shingleHash(col("s.seg")).as("h"))
    val hot = segs.groupBy("source", "h").agg(count(lit(1)).as("n"))
      .where(col("n") > maxFreq).select("source", "h")
    segs.join(broadcast(hot), Seq("source", "h"), "left_anti")
      .groupBy("doc_id", "source")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg")), " ").as("text"))
  }

  val MinhashP: Long = org.apache.spark.sql.graft.GraftText.MinhashP

  /** Default LSH bucket-size cap (see [[minhashPairs]]). */
  val MinhashMaxBucket = 1000L
  val SimhashMaxBucket = 1000L
  /** Deterministic (a_i, b_i) parameters for the k hash functions
    * (the signature kernel's own, read by the oracles). */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (org.apache.spark.sql.graft.GraftText.minhashA(i),
      org.apache.spark.sql.graft.GraftText.minhashB(i)))

  /** (doc_id, sig): each doc's k-long MinHash signature array, computed
    * in its own row by the native kernel — one scan, no shuffle. Docs
    * under `shingleK` tokens have no signature and no row. */
  private def signatures(docs: DataFrame, k: Int, shingleK: Int = 5): DataFrame =
    docs.select(col("doc_id"), org.apache.spark.sql.graft.MinhashSigExpr.minhashSig(
        org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")), shingleK, k)
        .as("sig"))
      .where(col("sig").isNotNull)

  /** MinHash signatures: (doc_id, m0..m{k-1}), one scan (see
    * [[signatures]]). */
  def minhashSignatures(docs: DataFrame, k: Int = 16, shingleK: Int = 5): DataFrame =
    signatures(docs, k, shingleK)
      .select(col("doc_id") +: (0 until k).map(i => col("sig").getItem(i).as(s"m$i")): _*)

  /** One band row per (doc, band) from ONE explode: bkey is band b's
    * `k / bands`-long slice of the signature, and every row keeps the
    * frame's other columns (the signature included), so candidates are
    * scored without a join back to the signature table. The slice
    * equals another exactly when the oracle's concat_ws('_', ...) keys
    * do (non-negative components, fixed count). */
  private def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sig.select(col("*"), posexplode(array((0 until bands).map(b =>
        slice(col("sig"), b * rows + 1, rows)): _*)).as(Seq("band", "bkey")))
  }

  /** `_hot` flags band rows whose (band, bkey) bucket holds more than
    * `maxBucket` rows — the window twin of the oracle's
    * `count(*) > cap` anti-join. Its exchange on (band, bkey) is the
    * one the candidate join then reuses. */
  private def flagHot(banded: DataFrame, maxBucket: Option[Long]): DataFrame =
    maxBucket.fold(banded.withColumn("_hot", lit(false))) { cap =>
      banded.withColumn("_hot", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")) > cap)
    }

  /** Matching components / k of two carried signature arrays. */
  private def estSim(a: Column, b: Column, k: Int): Column =
    (0 until k).map(i => when(a.getItem(i) === b.getItem(i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k

  /** LSH candidate pairs: bands of `rows` signature components; docs
    * colliding in any band pair up; est_sim = matching components / k.
    *
    * `maxBucket` is the skew guard for scale, ON by default: a bucket
    * holding more than that many docs is dropped before the self-join
    * (k docs in one bucket means k^2 candidate pairs — one degenerate
    * boilerplate bucket in a 10^9-doc corpus would melt a single
    * reducer). Real near-dup families are orders of magnitude smaller;
    * the cap is mirrored in the oracle CTE. */
  def minhashPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
                   minEstSim: Double = 0.5,
                   maxBucket: Option[Long] = Some(MinhashMaxBucket)): DataFrame =
    minhashPairsFrom(signatures(docs, k), k, bands, minEstSim, maxBucket)

  /** Pair scoring over a (doc_id, sig) signature table. One exchange
    * keyed on (band, bkey) counts the buckets and feeds both sides of
    * the candidate join; a pair colliding in several bands scores the
    * same each time, so one distinct on the scored rows dedupes it. */
  private def minhashPairsFrom(sig: DataFrame, k: Int, bands: Int,
                               minEstSim: Double,
                               maxBucket: Option[Long]): DataFrame = {
    val banded = flagHot(bandRows(sig, k, bands), maxBucket).where(!col("_hot"))
    banded.as("a").join(banded.as("b"), Seq("band", "bkey"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        estSim(col("a.sig"), col("b.sig"), k).as("est_sim"))
      .where(col("est_sim") >= minEstSim)
      .distinct()
  }

  /** INCREMENTAL dedup — the 100 TB ingest shape: new (delta) docs
    * are checked against the existing (base) corpus WITHOUT scoring
    * base×base or delta×delta pairs. Docs whose `deltaExpr` (a boolean
    * over doc_id) is true are the incoming batch; every delta doc
    * reports how many base docs its MinHash-LSH candidates matched at
    * ≥ `minEstSim` and the smallest matching base id (−1 when clean —
    * the keep/drop decision for the ingest gate).
    *
    * Scale shape: ONE signature scan over base+delta (in production
    * the base signatures come straight from the catalog — the
    * signature table IS the persistent dedup index; recomputing here
    * keeps the operator self-contained), the same banded LSH index
    * and hot-bucket cap as [[minhashPairs]], and the candidate join
    * is delta-side × base-side only — the base corpus never
    * self-joins, so re-ingesting 0.1% of the corpus costs 0.1% of the
    * pair work. */
  def incrementalDedup(docs: DataFrame, deltaExpr: Column,
                       k: Int = 16, bands: Int = 4,
                       minEstSim: Double = 0.5,
                       maxBucket: Option[Long] = Some(MinhashMaxBucket)): DataFrame = {
    incrementalFromSigs(signatures(docs, k).withColumn("is_delta", deltaExpr),
      k, bands, minEstSim, maxBucket)
  }

  /** Build and PERSIST the MinHash signature index of a base corpus as
    * a catalog table — the durable side of the ingest gate. Longs
    * roundtrip parquet exactly, so the stored index is byte-equivalent
    * to a fresh [[minhashSignatures]] scan. */
  def writeSignatureIndex(uri: String, name: String, docs: DataFrame, k: Int = 16): Unit =
    graft.catalog.Catalog.writeTable(uri, name, minhashSignatures(docs, k))

  /** [[incrementalDedup]] whose base side READS the stored signature
    * index ([[writeSignatureIndex]]) instead of recomputing it: only
    * the delta batch's text is scanned, so re-ingesting 0.1% of a
    * 100 TB corpus costs 0.1% of the signature work AND none of the
    * base IO. Same output contract and identical results to the
    * recompute path (IndexedPathSpec + the q_dedup_incremental_indexed
    * gate twin prove equality). Delta doc_ids must be disjoint from
    * the indexed base corpus (the ingest invariant). */
  def incrementalDedupIndexed(delta: DataFrame, uri: String, name: String,
                              k: Int = 16, bands: Int = 4,
                              minEstSim: Double = 0.5,
                              maxBucket: Option[Long] = Some(MinhashMaxBucket)): DataFrame = {
    val baseSig = graft.catalog.Catalog.readTable(delta.sparkSession, uri, name)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    incrementalFromSigs(baseSig.withColumn("is_delta", lit(false))
        .unionByName(signatures(delta, k).withColumn("is_delta", lit(true))),
      k, bands, minEstSim, maxBucket)
  }

  /** Shared core of the incremental ingest gate: one (doc_id, sig,
    * is_delta) signature table of base and delta docs in, the
    * per-delta-doc report out. The hot-bucket cap counts the COMBINED
    * banded index (base + delta), matching the one-scan path exactly; a
    * delta band in a hot bucket finds no base partner because every
    * base row of that bucket is dropped. Both sides read the one
    * window exchange, so no pin is needed. */
  private def incrementalFromSigs(flagged: DataFrame, k: Int, bands: Int,
                                  minEstSim: Double,
                                  maxBucket: Option[Long]): DataFrame = {
    val banded = flagHot(bandRows(flagged, k, bands), maxBucket)
    deltaReport(banded.where(col("is_delta")),
      banded.where(!col("is_delta") && !col("_hot")), k, minEstSim)
  }

  /** Per-delta-doc ingest report from delta band rows LEFT-joined to
    * the base index's band rows on (band, bkey), both carrying their
    * signatures: (doc_id, n_matches, match_id), −1 when clean. The left
    * join keeps every delta doc, matched or not, and a base doc
    * colliding in several bands counts once (collect_set). */
  private def deltaReport(deltaBands: DataFrame, baseBands: DataFrame, k: Int,
                          minEstSim: Double): DataFrame =
    deltaBands.select(col("doc_id"), col("sig"), col("band"), col("bkey"))
      .join(baseBands.select(col("doc_id").as("base_id"), col("sig").as("base_sig"),
        col("band"), col("bkey")), Seq("band", "bkey"), "left")
      .select(col("doc_id"),
        when(col("base_id").isNotNull &&
             estSim(col("sig"), col("base_sig"), k) >= minEstSim,
          col("base_id")).as("hit"))
      .groupBy("doc_id")
      .agg(collect_set(col("hit")).as("hits"))
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_matches"),
        coalesce(array_min(col("hits")), lit(-1L)).as("match_id"))

  /** STREAMING twin of [[incrementalDedup]] — the ingest gate run ON
    * the arriving stream: `delta` is a STREAMING (doc_id, text)
    * frame, `base` the static corpus whose banded signature index is
    * the persistent side (in production: the stored signature table).
    * Same output contract: (doc_id, n_matches, match_id) per delta
    * doc, −1 when clean. Run with OutputMode.Update — each doc lands
    * in one micro-batch and emits its final row there
    * (IncrementalDedupStreamSpec proves batch equality).
    *
    * Shape: the delta side is STATELESS — signatures come from the
    * same row-local kernel as the batch path, bands explode to 4 rows,
    * and candidates come from a stream-static LEFT join against the
    * base banded index (the batch path's [[deltaReport]]; left keeps
    * clean docs alive). The only stateful op is the closing per-doc
    * collect_set. Docs under 5 tokens are dropped (the batch twin has
    * no signature for them either). `maxBucket` caps the BASE index's
    * hot buckets (the batch cap covers base+delta; a capped-out
    * bucket differs only when the delta batch itself tips a bucket
    * over — document, don't chase). */
  def incrementalDedupStream(delta: DataFrame, base: DataFrame,
                             k: Int = 16, bands: Int = 4,
                             minEstSim: Double = 0.5,
                             maxBucket: Option[Long] = Some(MinhashMaxBucket)): DataFrame = {
    // static side, pinned: every micro-batch probes it
    val baseBands = flagHot(bandRows(signatures(base, k), k, bands), maxBucket)
      .where(!col("_hot")).localCheckpoint()
    deltaReport(bandRows(signatures(delta, k), k, bands), baseBands, k, minEstSim)
  }

  /** MinHash estimator EVALUATION: every LSH candidate pair with (a)
    * its signature agreement count (the estimator numerator, no
    * est-sim floor so misses are visible) and (b) the EXACT
    * shingle-set Jaccard — the per-corpus audit of how faithful the
    * k-component signature is before trusting its threshold.
    *
    * Scale: candidates come from the banded index (hot-bucket capped,
    * never all-pairs); the exact side joins each candidate against the
    * two docs' pinned shingle sets — work is Σ_pairs |shingles(d)|,
    * proportional to the candidate count the LSH already bounded.
    * All counts exact Longs; jac_u = round(inter·10⁶/union). */
  def minhashEval(docs: DataFrame, k: Int = 16, bands: Int = 4,
                  shingleK: Int = 5): DataFrame = {
    // the pinned shingle set feeds the exact side (sizes and both
    // intersection joins); the signatures come from their own
    // shuffle-free scan
    val sh = hashedShingles(docs, shingleK)
    val est = minhashPairsFrom(signatures(docs, k, shingleK),
        k, bands, minEstSim = 0.0, maxBucket = Some(MinhashMaxBucket))
      .select(col("d1"), col("d2"),
        round(col("est_sim") * k).cast("long").as("est_matches"))
      .localCheckpoint() // three consumers below
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = est.select("d1", "d2")
      .join(sh.as("ha"), col("d1") === col("ha.doc_id"))
      .join(sh.as("hb"),
        col("d2") === col("hb.doc_id") && col("ha.h") === col("hb.h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    est
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), Seq("d2"))
      .join(inter, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("est_matches"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sz1") + col("sz2") - coalesce(col("inter"), lit(0L))).as("uni"))
      .withColumn("jac_u",
        round((col("inter") * lit(1000000L)).cast("double") /
          col("uni").cast("double")).cast("long"))
  }

  /** Content-defined chunking dedup (the rsync/LBFS rolling-boundary
    * idea at token granularity, FastCDC's gear test restated on the
    * portable shingle hash): a chunk boundary falls AFTER token p when
    * H(toks[p..p+k−1]) mod `modulus` == 0; chunks are the token runs
    * between boundaries and the chunk key is the 60-bit hash of the
    * joined chunk text. Per doc: chunk count + how many of its chunk
    * INSTANCES also occur in another document — the shift-robust
    * duplicated-content measure (an insertion moves every fixed-size
    * block boundary but only the containing CDC chunk).
    *
    * Scale: one tokenize pass computes per-position boundary flags
    * inside the token array (no second explode), the prefix-sum runs
    * per-doc (bounded by doc length), and the cross-doc frequency is
    * a chunk-hash groupBy with map-side combine. Docs over 2^20
    * tokens are excluded (the winnowing bound, mirrored in the
    * oracle); empty docs report 0/0. */
  def cdcChunks(docs: DataFrame, k: Int = 3, modulus: Int = 16): DataFrame = {
    val posM = 1L << 20
    val toksC = org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))
    val flags = when(size(col("toks")) >= k,
      transform(org.apache.spark.sql.graft.ShingleHash60Expr
          .shingleHashes(col("toks"), k),
        h => when(h % modulus === 0, 1L).otherwise(0L)))
      .otherwise(typedLit(Seq.empty[Long]))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Long.MinValue, -1)
    val chunks = docs.select(col("doc_id"), toksC.as("toks"))
      .where(size(col("toks")) >= 1 && size(col("toks")) < posM)
      .select(col("doc_id"), col("toks"), flags.as("flags"))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("toks"), col("flags"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col.toks").as("tok"),
        coalesce(col("col.flags"), lit(0L)).as("flag"))
      .withColumn("ch", coalesce(sum(col("flag")).over(byDoc), lit(0L)))
      .groupBy("doc_id", "ch")
      .agg(shingleHash(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")))).as("ckey"))
      .localCheckpoint() // consumed by the frequency agg AND the join
    val docFreq = chunks.groupBy("ckey")
      .agg(countDistinct("doc_id").as("dfd"))
    val perDoc = chunks.join(docFreq, Seq("ckey"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dfd") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  /** Triangle count of the duplicate-pair graph — the clustering-
    * coefficient numerator that separates chain-shaped near-dup
    * families (template drift) from clique-shaped ones (true mirror
    * sets). One row: (n_edges, n_triangles).
    *
    * Default path orients each edge by (DEGREE, id) — from the
    * lower-ranked endpoint to the higher — before the wedge join
    * (Ortmann & Brandes 2014 / the Suri-Vassilvitskii MapReduce
    * variant): every vertex's OUT-degree is then <= sqrt(2m), because
    * a vertex of degree d keeps an out-edge only toward neighbors of
    * degree >= d, and more than sqrt(2m) such neighbors would need
    * more than m edges. The wedge stage therefore enumerates
    * sum(outdeg^2) = O(m^1.5) candidates REGARDLESS of hubs, where id
    * orientation degrades to O(h^2) wedges for one degree-h hub (a
    * single boilerplate cluster of 10^5 docs -> 10^10 wedges).
    *
    * `orientByDegree = false` keeps the id-oriented two-join (each
    * triangle a<b<c matched once as (a,b)+(b,c)+(a,c)) — the oracle
    * twin stays this plain self-join, exact on the guarded-small LSH
    * graphs the gate audits; PipelineSpec ("degree-oriented triangle
    * counting equals the id-oriented twin") proves the two
    * paths equal (triangle count is orientation-invariant). */
  def triangleCount(pairs: DataFrame, orientByDegree: Boolean = true): DataFrame = {
    val e = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint() // several join consumers
    val tri = if (!orientByDegree) {
      e.as("ab").join(e.as("bc"), col("ab.v") === col("bc.u"))
        .join(e.as("ac"),
          col("ac.u") === col("ab.u") && col("ac.v") === col("bc.v"))
        .agg(count(lit(1)).as("n_triangles"))
    } else {
      // degree of every endpoint (one agg over the exploded edge list)
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      // orient u->v iff (d_u, u) < (d_v, v); carry the dst rank for the
      // wedge ordering. Two broadcast-size joins against deg at the
      // gate scale; at cluster scale deg co-partitions with e on the
      // endpoint key (same shuffle key, no extra exchange class).
      val o = e.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"),
          greatest(struct(col("du").as("d"), col("u").as("i")),
              struct(col("dv").as("d"), col("v").as("i")))
            .as("dstRank"))
        .localCheckpoint() // wedge builds two branches off it
      // wedges (src; b, c) with rank(b) < rank(c); the closing edge
      // b->c exists oriented EXACTLY when rank(b) < rank(c)
      o.as("ab").join(o.as("ac"),
          col("ab.src") === col("ac.src") &&
            col("ab.dstRank") < col("ac.dstRank"))
        .join(o.as("bc"),
          col("bc.src") === col("ab.dst") && col("bc.dst") === col("ac.dst"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** Synchronous label propagation (Raghavan et al. 2007 LPA) over
    * the duplicate-pair graph — community refinement BETWEEN exact
    * connected components (which over-merge through bridge docs) and
    * per-doc isolation: after `rounds` synchronized updates, each
    * node carries the majority label of its NEIGHBORS (ties -> the
    * smallest label; nodes start as their own label; isolated nodes
    * keep their own). A FIXED round count + the min-tie rule make the
    * whole run deterministic, so the oracle unrolls the identical
    * rounds as CTEs.
    *
    * Scale shape: per round, one co-partitioned join (labels ride the
    * edge key) + two map-side-partial aggregates; `localCheckpoint`
    * per round (the iterative-loop rule). Returns (doc_id, label). */
  def labelPropagation(pairs: DataFrame, nodes: DataFrame,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1)
    val e = pairs.select(col("d1").cast("long").as("u"), col("d2").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var lab = nodes.select(col("doc_id").cast("long").as("a"),
      col("doc_id").cast("long").as("lbl")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      // neighbor-label mode, ties -> smallest (the clusterAssign
      // lexicographic-max-aggregate trick: no row_number window)
      val mode = sym.join(lab.withColumnRenamed("a", "v"), "v")
        .groupBy("u", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("u")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"), col("lbl").as("l"))).as("m"))
        .select(col("u").as("a"), col("m.l").as("nlbl"))
      lab = lab.join(mode, Seq("a"), "left")
        .select(col("a"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
      r += 1
    }
    lab.select(col("a").as("doc_id"), col("lbl").as("label"))
  }

  /** Newman modularity of a community assignment over the undirected
    * pair graph, in EXACT integer form: Q = Σ_c [e_c/m − (d_c/2m)²]
    * restated as Q·4m² = Σ_c (4m·e_c − d_c²) — every term an exact
    * integer (e_c = intra-community edges, d_c = community degree
    * sum, m = edges), so the one-row output (m, q4m2) needs no
    * rounding at all. Callers divide by 4m² for the familiar [-0.5,
    * 1] score. Long arithmetic is exact to m < ~1.5·10⁹ edges (d_c ≤
    * 2m); beyond that lift d_c² to DECIMAL.
    *
    * Scale shape: degree + community sums are map-side-partial
    * aggregates; the intra-edge count is two label joins on the edge
    * endpoints (co-partitioned with the label key). */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val e = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("a")).agg(count(lit(1)).as("dg"))
    val lab = labels.select(col("doc_id").cast("long").as("a"),
      col("label").cast("long").as("lbl"))
    val dc = lab.join(deg, Seq("a"), "left")
      .groupBy("lbl").agg(sum(coalesce(col("dg"), lit(0L))).as("d"))
    val ec = e
      .join(lab.select(col("a").as("u"), col("lbl").as("lu")), "u")
      .join(lab.select(col("a").as("v"), col("lbl").as("lv")), "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("ec"))
    val mDf = e.agg(count(lit(1)).as("m"))
    dc.join(ec, Seq("lbl"), "left").crossJoin(mDf)
      .agg(max(col("m")).as("m"),
        sum(lit(4L) * col("m") * coalesce(col("ec"), lit(0L)) -
          col("d") * col("d")).as("q4m2"))
  }

  /** SimHash signature from token counts (sign of per-bit weighted
    * sum). 60 bits — the widest signature that stays positive in a
    * signed 64-bit value from the portable 15-hex-char md5 prefix
    * (r1's 16-bit signatures matched 12% of ALL pairs at sf0.1:
    * pure noise, and an inherently quadratic output). */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("tok"))
    val h = org.apache.spark.sql.graft.Md5Prefix60Expr.md5Prefix60(col("tok")) // 60 bits
    val agg = udaf(new SimHashAgg(bits), Encoders.scalaLong)
    toks.select(col("doc_id"), h.as("h"))
      .groupBy("doc_id").agg(agg(col("h")).as("sig"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, found by
    * pigeonhole banding: split the signature into `bands` contiguous
    * blocks — hamming <= maxDist < bands means at least one block is
    * identical, so an equi-join on (band, block bits) yields a
    * candidate superset that exact hamming verification then filters.
    * Cost follows the collision count (a shuffled/broadcast HASH
    * join), not n^2: r1's `a.doc_id < b.doc_id` nested-loop join is
    * gone. A pair colliding in several bands appears once (distinct). */
  def simhashPairs(docs: DataFrame, bits: Int = 60, maxDist: Int = 3,
                   bands: Int = 4,
                   maxBucket: Option[Long] = Some(SimhashMaxBucket)): DataFrame =
    simhashPairsFrom(simhash(docs, bits).localCheckpoint(),
      bits, maxDist, bands, maxBucket)

  /** Banded hamming pair join over an ALREADY-materialized (doc_id,
    * sig) signature table — the entry point for non-text signatures
    * (Multimodal.imageHashPairs' perceptual hashes enter here). `sig`
    * must be materialized: banding and both sides of the collision
    * join re-read it. Arithmetic shiftright + mask keeps bit-63
    * signatures correct. */
  private[pipeline] def simhashPairsFrom(sig: DataFrame, bits: Int, maxDist: Int,
                                         bands: Int,
                                         maxBucket: Option[Long],
                                         failOnHot: Boolean = false): DataFrame = {
    require(maxDist < bands, "pigeonhole needs maxDist < bands")
    require(bits % bands == 0, "bands must evenly split the signature")
    val width = bits / bands
    val mask = (1L << width) - 1
    val banded0 = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * width).bitwiseAND(lit(mask)).as("bbits"))): _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bbits").as("bbits"))
    // hot-bucket guard, same shape as minhashPairs: a (band, bits)
    // key shared by thousands of boilerplate docs is k^2 candidate
    // pairs on one reducer; drop the bucket, keep the docs (a true
    // near-dup pair still surfaces through any non-hot band)
    val banded = maxBucket.fold(banded0) { cap =>
      val hot = banded0.groupBy("band", "bbits").agg(count(lit(1)).as("_n"))
        .where(col("_n") > cap).select(col("band"), col("bbits"))
      // oracle-gated fixtures assume pigeonhole COMPLETENESS (every
      // pair <= maxDist surfaces); a dropped hot bucket silently
      // breaks that, so gated paths fail loudly instead (ADVICE r17)
      if (failOnHot) {
        val nHot = hot.count()
        require(nHot == 0,
          s"$nHot band buckets exceed the $cap cap — the banded join " +
            "would drop pairs the completeness contract requires; " +
            "raise maxBucket or widen the bands")
        banded0
      } else banded0.join(hot, Seq("band", "bbits"), "left_anti")
    }
    banded.as("a").join(banded.as("b"), Seq("band", "bbits"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Connected components over near-dup candidate pairs — the
    * "duplicate families" step that turns pairwise matches into
    * clusters with a canonical representative (the minimum doc_id).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) —
    * converges in O(log n) rounds regardless of component diameter,
    * unlike min-label propagation whose round count follows the
    * longest path (a 1M-doc duplicate chain would need 1M rounds).
    * Each round runs on the [[graft.Fixpoint]] kernel as ONE job:
    * the edge set is one sorted, distinct block of (u, v) longs per
    * partition (keyed by u), large-star and small-star are primitive
    * per-partition passes between three raw-long re-keys, and
    * convergence is an exact comparison of each partition's old and
    * new edge block, counted in the checkpoint's own job.
    *
    * At the fixpoint every component is a star centered on its
    * minimum node, so the result is canonical and deterministic no
    * matter how the rounds interleaved.
    *
    * The pairs enter as pinned blocks with their exact count
    * ([[graft.Fixpoint.input]], one job). Small-graph fast path: when
    * that count fits the `maxDriverEdges` guard (default 2^22 pairs ~
    * 64 MB), the collected blocks are solved with an in-memory
    * union-find and the labels broadcast-joined onto `vertices` — one
    * collect instead of O(log n) iterative rounds, each of which costs
    * a job, its stages and a checkpoint that dwarf the data at small
    * scale. The guard keeps the 100 TB story: a web-scale duplicate
    * graph overflows the threshold and takes the distributed loop
    * (same labels either way — both fixpoints are
    * min-id-per-component). The count is of non-self pair rows as
    * given, duplicates included (both paths tolerate duplicates; the
    * distributed one drops them when it re-keys the blocks), so a
    * duplicate-heavy input reaches the distributed loop a little
    * earlier than its distinct edge count would. The decontamination
    * broadcast guard is the precedent.
    *
    * @param pairs    edges as (d1, d2) — any near-dup pair output;
    *                 self-pairs are ignored
    * @param vertices (doc_id) universe; isolated docs come back as
    *                 their own singleton component
    * @return (doc_id, component) with component = min doc_id reachable
    */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
                          maxIter: Int = 50,
                          maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val (in, nPairs) = Fixpoint.input(pairs.select(
        col("d1").cast("long").as("u"), col("d2").cast("long").as("v"))
      .where(col("u") =!= col("v")))
    if (nPairs <= maxDriverEdges) {
      // union-find with path halving, union by MIN root so every
      // root is its component's minimum id — identical labels to the
      // distributed fixpoint
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p)
          x = parent(x)
        }
        x
      }
      val e = Fixpoint.collect(in).all
      in.unpersist(blocking = false)
      var i = 0
      while (i < e.size) {
        val (ru, rv) = (find(e.keys(i)), find(e.v1(i)))
        if (ru != rv) {
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
        i += 1
      }
      val labels = parent.keys.toSeq.map(x => (x, find(x))).filter(p => p._1 != p._2)
      if (labels.isEmpty)
        return vertices.select(col("doc_id").cast("long").as("doc_id"))
          .select(col("doc_id"), col("doc_id").as("component"))
      val lab = broadcast(labels.toDF("doc_id", "_comp"))
      return vertices.select(col("doc_id").cast("long").as("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("_comp"), col("doc_id")).as("component"))
    }

    val part = Fixpoint.partitioner(spark.sparkContext, nPairs)
    val e0 = Fixpoint.map(Fixpoint.shuffle(in, part))(LongBlock.sortedDistinct)
    val edges = Fixpoint.loop("cc", maxIter,
        s"connectedComponents did not converge in $maxIter large/small-star " +
        "rounds — result would be a partial edge set, not components; raise maxIter",
        release = Seq(in))(Seq(e0)) { (s, r) =>
      val e = s.head
      // large-star: every neighbor bigger than x re-points at m(x), the
      // minimum of x's closed neighborhood. The reverse edges join each
      // node's out-edges in its partition (one re-key); the (y, m(x))
      // rows are keyed by y, the big end of the small-star's directed
      // edges (y > x >= m(x)), for the second re-key.
      val rev = Fixpoint.shuffle(Fixpoint.map(e)(b => LongBlock(b.v1, b.keys)), part)
      val ls = Fixpoint.shuffle(Fixpoint.zip(e, rev) { (out, back) =>
        val adj = LongBlock.concat(Iterator(out, back))
        val mn = LongBlock.reduce(adj, LongBlock.Agg.Min)
        val ix = mn.index
        val b = new LongBlock.Builder(1, adj.size)
        var i = 0
        while (i < adj.size) {
          val x = adj.keys(i)
          if (adj.v1(i) > x) b.add(adj.v1(i), math.min(x, mn.v1(ix(x))))
          i += 1
        }
        b.result()
      }, part)
      // small-star on the big->small edges (y, m): y and all its
      // smaller neighbors attach to the smallest of them, mm(y); the
      // (m, mm) rows re-key to m, the self-loops drop
      val ss = Fixpoint.shuffle(Fixpoint.map(ls) { d =>
        val mm = LongBlock.reduce(d, LongBlock.Agg.Min)
        val ix = mm.index
        val b = new LongBlock.Builder(1, d.size + mm.size)
        var i = 0
        while (i < mm.size) { b.add(mm.keys(i), mm.v1(i)); i += 1 }
        i = 0
        while (i < d.size) {
          val m = mm.v1(ix(d.keys(i)))
          if (d.v1(i) != m) b.add(d.v1(i), m)
          i += 1
        }
        b.result()
      }, part)
      // the round's result, deduped; an exact per-partition comparison
      // with the previous edge set counts the partitions that changed
      Seq(Fixpoint.zip(e, ss) { (old, nw) =>
        val next = LongBlock.sortedDistinct(nw)
        if (!java.util.Arrays.equals(old.keys, next.keys) ||
            !java.util.Arrays.equals(old.v1, next.v1)) r.changed.add(1)
        next
      })
    }.head
    // at the fixpoint every edge points a node at its component root
    val roots = Fixpoint.rows(Fixpoint.map(edges)(LongBlock.reduce(_, LongBlock.Agg.Min)))(
        (b, i) => (b.keys(i), b.v1(i)))
      .toDF("doc_id", "_comp")
    vertices.select(col("doc_id").cast("long").as("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_comp"), col("doc_id")).as("component"))
  }

  /** Duplicate-family size profile — the dedup run's reporting
    * artifact (how much of the corpus is singletons vs 2-dup clusters
    * vs boilerplate families): component sizes from
    * [[connectedComponents]] over the MinHash-LSH pair graph,
    * histogrammed. Two bounded aggregates (|components| rows, then
    * |distinct sizes| rows), map-side combine both. */
  def duplicationProfile(docs: DataFrame): DataFrame =
    duplicationProfileFrom(connectedComponents(
      minhashPairs(docs).select(col("d1"), col("d2")),
      docs.select(col("doc_id"))))

  /** [[duplicationProfile]] over an already-materialized component
    * assignment — a real pipeline derives the pair graph + components
    * ONCE and feeds every downstream report from them (the Bench
    * suite does the same via SparkEntry's shared stage). */
  def duplicationProfileFrom(components: DataFrame): DataFrame =
    components
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_components"))

  /** Quality-priority dedup keep-manifest — the FineWeb-style
    * refinement of min-id keeping: within each duplicate family the
    * survivor is the doc with the HIGHEST quality score (tie -> the
    * smaller doc_id), so dedup removes the worst copies instead of
    * arbitrary ones. `quality` is any (doc_id, score) frame — wire
    * [[TextAnalysis.qualityScore]] or an LM score in. One min-struct
    * argmax per component (map-side combine, no windows).
    *
    * @return (doc_id, component, keep) */
  def keepBestQuality(docs: DataFrame, quality: DataFrame): DataFrame =
    keepBestQualityFrom(connectedComponents(
      minhashPairs(docs).select(col("d1"), col("d2")),
      docs.select(col("doc_id"))), quality)

  /** [[keepBestQuality]] over a precomputed component assignment. */
  def keepBestQualityFrom(components: DataFrame, quality: DataFrame): DataFrame = {
    val scored = components.join(quality.select(col("doc_id"), col("score")), "doc_id")
    val best = scored.groupBy("component")
      .agg(min(struct((-col("score")).as("ns"), col("doc_id").as("id"))).as("b"))
      .select(col("component"), col("b.id").as("keep_id"))
    scored.join(best, "component")
      .select(col("doc_id"), col("component"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
  }

  /** Duplication-graph PageRank — hub centrality over the near-dup
    * pair graph: documents with high rank sit at the center of large,
    * densely-connected duplicate families (boilerplate templates, spam
    * farms) — a curation signal the flat component size misses (a
    * star's hub vs its leaves). Standard damped iteration
    * r' = 0.15/n + 0.85·Σ r(u)/deg(u) over the SYMMETRIZED graph,
    * with EVERY quantity micro-quantized (r in 1e-6 units) and every
    * division a truncating integer `div` — the whole iteration is
    * exact integer arithmetic stated identically in the oracle, so
    * `iters` unrolled CTE steps hash-match. Dangling mass is dropped
    * (isolated docs keep the base term) — the ranking signal, not the
    * stochastic-matrix purist's normalization; stated.
    *
    * Scale shape: per iteration ONE edges⨝rank join + a keyed sum
    * (map-side combine), localCheckpoint per round (CLAUDE.md
    * iterative rule); edges are the bounded LSH candidate set.
    *
    * @return (doc_id, rank_q) — rank in 1e-6 units */
  def dupRank(pairs: DataFrame, vertices: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 16, "1..16 iterations")
    val spark = pairs.sparkSession
    import spark.implicits._
    val sym = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .distinct().localCheckpoint()
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint()
    val n = vertices.count()
    require(n > 0, "empty vertex set")
    val base = (15L * 1000000L) / (100L * n)
    var rank = vertices.select(col("doc_id"), lit(1000000L / n).as("rq"))
    (1 to iters).foreach { _ =>
      val shares = sym
        .join(rank.withColumnRenamed("doc_id", "u"), "u")
        .join(deg, "u")
        .select(col("v").as("doc_id"), expr("rq div deg").as("share"))
        .groupBy("doc_id").agg(sum("share").cast("long").as("s"))
      rank = vertices.select(col("doc_id"))
        .join(shares, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(base) + expr("(85 * coalesce(s, 0)) div 100")).as("rq"))
        .localCheckpoint()
    }
    rank.select(col("doc_id"), col("rq").cast("long").as("rank_q"))
  }

  /** Cross-source duplication matrix — who copies whom: MinHash-LSH
    * near-dup pairs rolled up by (source, source), the provenance
    * report a multi-crawl corpus ships next to its dedup manifest.
    * Source pairs normalize by (least, greatest) so the matrix is
    * upper-triangular regardless of pair orientation. Bounded
    * aggregate (|sources|² rows). */
  def duplicationBySource(docs: DataFrame): DataFrame =
    duplicationBySourceFrom(minhashPairs(docs).select(col("d1"), col("d2")), docs)

  /** [[duplicationBySource]] over a precomputed (d1, d2) pair graph. */
  def duplicationBySourceFrom(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.select(col("d1"), col("d2"))
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")), "d2")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Cross-document duplicate n-gram rate per corpus slice — the
    * RefinedWeb/Gopher-style corpus-health headline ("x% of the
    * crawl's 5-grams are duplicated"): over per-doc DISTINCT shingle
    * hashes, the fraction whose shingle occurs in MORE than one
    * document corpus-wide, reported per source. The doc-frequency
    * is computed on the WHOLE corpus (cross-source duplication
    * counts), then attributed to each source's instances.
    *
    * Scale shape: same as [[noveltyScore]] — the checkpointed
    * inverted index, one vocabulary-bounded df aggregate, one
    * equi-join back, map-side-combinable per-source counters; the
    * closing rate is one IEEE division of exact longs.
    *
    * @return (source, n_shingles, dup_shingles, dup_rate) */
  def dupNgramRate(docs: DataFrame, k: Int = 5): DataFrame = {
    val sh = hashedShingles(docs, k)
    val df_ = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(df_, "h")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_shingles"))
      .select(col("source"), col("n_shingles"), col("dup_shingles"),
        (col("dup_shingles").cast("double") / col("n_shingles")).as("dup_rate"))
  }

  /** N-gram novelty score — the memorization/boilerplate diagnostic:
    * per document, the fraction of its DISTINCT k-gram shingles that
    * appear in no other document (df = 1). Low novelty = assembled
    * from corpus-common fragments (template/boilerplate); high =
    * unique prose. Complements [[jaccardPairs]]: novelty is the
    * per-doc marginal of the same inverted index.
    *
    * Scale shape: reuses the checkpointed [[hashedShingles]] index;
    * the df aggregate is vocabulary-bounded, the join is the inverted
    * index's own equi-join, and the ratio is one IEEE division of
    * exact counts (gopher-ratio rule, no rounding needed... rounded 6
    * anyway for the re-aggregation contract).
    *
    * @return (doc_id, n_shingles, n_unique, novelty) */
  def noveltyScore(docs: DataFrame, k: Int = 5): DataFrame = {
    val sh = hashedShingles(docs, k)
    val df_ = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(df_, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles")
          * lit(1000000.0)).cast("long").as("novelty_u"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS scheme): hash every k-gram, slide a
    * window of `w` consecutive hashes, keep the MINIMUM of each
    * window (ties -> RIGHTMOST occurrence, the paper's density rule);
    * the distinct selected (position, hash) pairs are the document's
    * fingerprints. Guarantees every match of length >= w + k - 1 is
    * caught — the local fingerprinting scheme plagiarism and
    * partial-overlap dedup use where global MinHash is too coarse.
    *
    * Determinism: the 40-bit gram hash packs with the inverted
    * position into ONE Long — key = h40 * 2^20 + (2^20 - 1 - pos) —
    * so "min hash, tie rightmost" is a plain min() both engines state
    * identically. Exact integers end to end. Docs beyond 2^20 grams
    * are excluded (the packing ceiling, stated in both engines).
    *
    * Scale shape: one explode; the two window functions PARTITION BY
    * doc (bounded frames, no global sort); per-doc output is the
    * fingerprint count + an order-free bit_xor.
    *
    * @return (doc_id, n_fp, fp_xor) */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    winnowFingerprints(docs, k, w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), expr("bit_xor(mk)").as("fp_xor"))

  /** The distinct selected fingerprints themselves: (doc_id, mk) with
    * mk = h40·2^20 + (2^20 − 1 − pos). [[winnow]] summarizes these;
    * [[winnowPairs]] joins them. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val posM = 1L << 20
    val toks = org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))
    val grams = docs.select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= k + w - 1 && size(col("toks")) < posM + (k - 1))
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ShingleHash60Expr
          .shingleHashes(col("toks"), k)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        ((col("h") % lit(1L << 40)) * posM +
          (lit(posM - 1) - col("pos"))).as("key"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("m", count(lit(1)).over(byDoc))
      .withColumn("mk", min("key").over(frame))
      .where(col("pos") <= col("m") - w) // full windows only
      .select(col("doc_id"), col("mk")).distinct()
  }

  /** Winnowing near-dup CANDIDATE PAIRS — what MOSS actually reports:
    * documents sharing at least `minShared` selected fingerprint
    * HASHES (position stripped — matches relocate). The winnowing
    * guarantee bounds recall: any shared run of ≥ w + k − 1 tokens
    * shares a fingerprint, and the selected set is ~2/(w+1) the size
    * of the full shingle index — the inverted index this joins is
    * proportionally cheaper than [[jaccardPairs]]'s.
    *
    * Scale: the same inverted-index shape as jaccard, with the same
    * hot-key cap (fingerprints in more than `maxDocFreq` docs drop —
    * boilerplate guard). */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                  minShared: Long = 2, maxDocFreq: Long = 1000): DataFrame = {
    val posM = 1L << 20
    val fp = winnowFingerprints(docs, k, w)
      .select(col("doc_id"), expr(s"mk div $posM").as("h")).distinct()
      .localCheckpoint()
    val hot = fp.groupBy("h").agg(count(lit(1)).as("df")).where(col("df") > maxDocFreq)
    // localCheckpoint: the capped index feeds both self-join sides —
    // without the pin the hot-set groupBy + anti-join execute twice
    // (the cappedShingles discipline)
    val idx = fp.join(hot, Seq("h"), "left_anti").localCheckpoint()
    idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }
}
