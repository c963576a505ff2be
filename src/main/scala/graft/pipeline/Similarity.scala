package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Determinism contract: embeddings are integer-quantized
  * (round(x * 1000)) before any dot product, so similarity scores are
  * exact integer sums divided once — bit-identical in any engine and
  * any summation order (floats summed in arbitrary order are not).
  *
  * Scale shapes: brute-force top-k is the small-query-set baseline
  * (broadcast queries, narrow map + per-partition top-k); the LSH
  * path buckets by random-hyperplane signs so candidates shrink by
  * 2^bits, the standard ANN trade (recall measured in the spec).
  */
object Similarity {

  /** Skew guard for the pair-generation paths ([[cosinePairs]],
    * [[lshPairs]]), ON by default: a blocking key held by more than
    * this many vectors is split into ceil(n/cap) sub-blocks by
    * `vec_id % nsub` before the self-join. One hot block (half the
    * corpus sharing label "en", or a degenerate all-zero-embedding
    * LSH bucket) is otherwise a quadratic single reducer at scale.
    * Sub-bucketing — unlike the drop guard minhash uses — keeps the
    * operators producing output when EVERY block is large (labels are
    * coarse by nature); the price is recall ~1/nsub inside hot
    * blocks, the standard blocking trade. Deterministic (ids, not
    * random splits) so the oracle states the same arithmetic. */
  val MaxBlock = 1000L

  /** Append `subkey` from a per-`keys` count: 0 for blocks under the
    * cap, else vec_id mod ceil(count/cap). Count side is tiny (one
    * row per distinct blocking key) and broadcast. */
  private def subBucket(df: DataFrame, cap: Long, keys: String*): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_c"))
    df.join(broadcast(counts), keys)
      .withColumn("subkey",
        col("vec_id") % ceil(col("_c") / lit(cap.toDouble)).cast("long"))
      .drop("_c")
  }

  /** Quantized copy of an embedding column: Array[Long]. The f32
    * component is widened to DOUBLE BEFORE the scale multiply on BOTH
    * engines (f32→f64 is exact; the f64 product and integer rounding
    * are then bit-identical): multiplying in f32 first rounds the
    * product once more, and a product that f32-rounds UP onto an
    * exact .5 quantizes one unit higher than the f64 path — ~0.05% of
    * components at sf0.1, caught by the one-time sf0.1 sweep. */
  def quantize(emb: Column, scale: Int = 1000): Column =
    transform(emb, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — native
    * codegen'd fused loop (see LongDotExpr), no intermediate array. */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.LongDotExpr.longDot(a, b)

  /** Deterministic cosine over quantized vectors. */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") / (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** MICRO-QUANTIZED cosine report value: round(cos·10⁶) as BIGINT.
    * The IEEE chain up to the rounding (integer dot, correctly-
    * rounded sqrt, mul, div) is bit-identical in Spark and DuckDB;
    * rounding to an INTEGER is too (Spark HALF_UP on the exact
    * binary double == DuckDB half-away for either sign). The old
    * round(x, 6) DOUBLE outputs diverged at sf0.1 — Spark's decimal
    * 6-dp path vs DuckDB's float path disagree on values with 9+
    * significant digits (the CLAUDE.md hotspot class; ~0.1% of pairs
    * at 10× data). Every cosine-family REPORT column is cos_u now;
    * thresholds and orderings keep the raw double (identical chains,
    * no rounding involved). */
  def microCos(c: Column): Column = round(c * lit(1000000.0)).cast("long")

  /** Brute-force cosine top-k: queries (a filter of the corpus) against
    * all vectors. Queries are broadcast; ranking is a window per query.
    */
  def bruteTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    // norms computed once per side, not per pair: the per-pair work is a
    // single zip_with dot product (O(dim)), which is what bounds the
    // n*q*dim cost at scale
    val q = embeddings.where(queryPred)
      .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val c = embeddings
      .select(col("vec_id").as("nid"), quantize(col("embedding")).as("cv"))
      .withColumn("cn", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    val scored = broadcast(q).join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (qdot(col("qv"), col("cv")).cast("double") / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), microCos(col("cosine")).as("cos_u"), col("rank"))
  }

  /** Anchor-count ceiling for the broadcast-brute scorers. The guarded
    * entry points COUNT the anchor set first (the decontamination
    * broadcast-guard precedent: never assume the to-be-broadcast side
    * is small) and, beyond this bound, swap candidate generation to
    * the IVF probe path instead of scoring every anchor against the
    * whole corpus. */
  val MaxBruteAnchors = 100000L

  /** Default coarse quantizer for the guarded fallback: the
    * deterministic 1/37 corpus subset (the q_ann_ivf convention). */
  def defaultCentroidPred: Column = col("vec_id") % 37 === 0

  /** Guarded top-k scorer: [[bruteTopK]] while the counted anchor set
    * stays within `maxBruteAnchors`; beyond it, [[ivfTopK]] generates
    * candidates from the `nProbe` nearest coarse lists and rescores
    * exactly. nProbe = 16 of the 1/37 quantizer reproduces the brute
    * results EXACTLY on the driver testdata (max required probe rank
    * measured at 14; GuardedAnnSpec pins it) while bounding per-anchor
    * work to ~nProbe/nLists of the corpus at scale. */
  def annTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5,
      maxBruteAnchors: Long = MaxBruteAnchors,
      centroidPred: Column = defaultCentroidPred, nProbe: Int = 16): DataFrame =
    if (embeddings.where(queryPred).count() <= maxBruteAnchors)
      bruteTopK(embeddings, queryPred, k)
    else ivfTopK(embeddings, queryPred, centroidPred, k, nProbe)

  /** k-NN majority-label classification — exact nearest-neighbor
    * labeling over the embedding corpus (the label-propagation /
    * weak-annotation primitive): each query takes the majority label
    * of its top-k neighbors (ties -> smallest label, the focal-Mode
    * rule). The scorer is the guarded [[annTopK]]: brute within the
    * anchor bound, IVF probing beyond it — the vote aggregate is the
    * same bounded k rows per query either way.
    *
    * @return (qid, pred_label, votes) */
  def knnLabel(embeddings: DataFrame, queryPred: Column, k: Int = 5,
      maxBruteAnchors: Long = MaxBruteAnchors,
      centroidPred: Column = defaultCentroidPred, nProbe: Int = 16): DataFrame =
    annTopK(embeddings, queryPred, k, maxBruteAnchors, centroidPred, nProbe)
      .join(embeddings.select(col("vec_id").as("nid"), col("label")), "nid")
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
      .groupBy("qid")
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("lb"))).as("b"))
      .select(col("qid"), col("b.lb").as("pred_label"), (-col("b.nv")).as("votes"))

  /** Contrastive pair mining — the training-set construction step for
    * embedding/retriever fine-tuning (the hard-negative mining of DPR
    * / sentence-transformers): for each anchor in the query set, emit
    * the most-similar SAME-label neighbor as the positive and the
    * `negK` most-similar OTHER-label neighbors as hard negatives.
    * Ranks are cosine-desc with vec_id tie-break (deterministic:
    * quantized dots are exact integers).
    *
    * Scale: within `maxBruteAnchors` the anchor set is scored
    * brute-force against the corpus (the bruteTopK contract); a
    * larger counted anchor set swaps candidate generation to the IVF
    * probe path (nProbe nearest coarse lists per anchor, exact
    * rescoring) — the rank/emit shape is unchanged, and nProbe = 16
    * reproduces the brute output exactly on the driver testdata
    * (GuardedAnnSpec).
    *
    * @return (qid, kind 'pos'|'neg', rank, nid, cos) */
  def contrastivePairs(embeddings: DataFrame, queryPred: Column,
      negK: Int = 3, maxBruteAnchors: Long = MaxBruteAnchors,
      centroidPred: Column = defaultCentroidPred, nProbe: Int = 16): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qv"))
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val q = e.where(queryPred).select(col("vec_id").as("qid"),
      col("label").as("qlabel"), col("qv").as("qqv"), col("nn").as("qnn"))
    // candidate generation: full corpus within the anchor bound, IVF
    // probed lists beyond it (same columns either way)
    val cand =
      if (embeddings.where(queryPred).count() <= maxBruteAnchors)
        q.join(e, col("vec_id") =!= col("qid"))
      else {
        val cents = broadcast(e.where(centroidPred)
          .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("cn")))
        // nearest-centroid list assignment (the ivfTopK shape, label
        // riding along for the pos/neg split)
        val assigned = e.join(cents)
          .withColumn("cscore",
            qdot(col("qv"), col("cv")).cast("double") / (col("nn") * col("cn")))
          .groupBy("vec_id")
          .agg(max(struct(col("cscore"), (-col("cid")).as("negCid"), col("cid"),
            col("qv"), col("nn"), col("label"))).as("m"))
          .select(col("m.cid").as("cid"), col("vec_id"), col("m.label").as("label"),
            col("m.qv").as("qv"), col("m.nn").as("nn"))
        val wProbe = Window.partitionBy("qid").orderBy(col("cscore").desc, col("cid"))
        val probes = q.join(cents)
          .withColumn("cscore",
            qdot(col("qqv"), col("cv")).cast("double") / (col("qnn") * col("cn")))
          .withColumn("rn", row_number().over(wProbe))
          .where(col("rn") <= nProbe)
          .select(col("qid"), col("qlabel"), col("qqv"), col("qnn"), col("cid"))
        probes.join(assigned, "cid")
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qlabel"), col("qqv"), col("qnn"),
            col("vec_id"), col("label"), col("qv"), col("nn"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "kind").orderBy(col("cos").desc, col("nid"))
    cand
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"), col("label"),
        (qdot(col("qqv"), col("qv")).cast("double") / (col("qnn") * col("nn"))).as("cos"))
      .withColumn("kind", when(col("label") === col("qlabel"), "pos").otherwise("neg"))
      .withColumn("rank", row_number().over(w))
      .where((col("kind") === "pos" && col("rank") === 1) ||
        (col("kind") === "neg" && col("rank") <= negK))
      .select(col("qid"), col("kind"), col("rank"), col("nid"),
        microCos(col("cos")).as("cos_u"))
  }

  /** Recall@k — the ANN quality report every index-tuning loop needs:
    * per query, the fraction of the EXACT top-k the approximate
    * search retrieved. `exact` and `approx` are (qid, nid, …, rank)
    * frames (bruteTopK vs ivfTopK/lsh/pq). Exact integer counts, one
    * closing division. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.where(col("rank") <= k).select(col("qid"), col("nid"))
      .join(approx.select(col("qid"), col("nid"), lit(1).as("hit")),
        Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).cast("long").as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))

  /** Embedding-space outlier detection — the label-noise / mislabel
    * audit (flag vectors far from their label's centroid): squared
    * distance to the label mean in EXACT integer form,
    * m²·‖x − S/m‖² = m²·(x·x) − 2m·(x·S) + S·S with S the per-label
    * component-sum vector — no float centroid ever materializes, so
    * ranking is exact-integer with vec_id tie-break. Emits the top-k
    * outliers per label with the mean-units distance
    * sqrt(d2num)/(m·1000).
    *
    * Scale: one posexplode bounded by |corpus|×dim with map-side
    * combine into |labels|×dim sums, one (label, pos)-keyed join
    * back (AQE-broadcastable), one per-label top-k window over
    * |corpus| rows. */
  def embedOutliers(embeddings: DataFrame, topK: Int = 3): DataFrame = {
    val q = embeddings.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qv")).localCheckpoint()
    val u = q.select(col("vec_id"), col("label"),
      posexplode(col("qv")).as(Seq("pos", "qc")))
    val comp = u.groupBy("label", "pos").agg(sum("qc").cast("long").as("s"))
    val m = q.groupBy("label").agg(count(lit(1)).cast("long").as("m"))
    val xv = u.join(comp, Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(col("qc") * col("qc")).cast("long").as("xx"),
        sum(col("qc") * col("s")).cast("long").as("xs"))
    val ss = comp.groupBy("label").agg(sum(col("s") * col("s")).cast("long").as("ss"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("d2num").desc, col("vec_id"))
    xv.join(m, "label").join(ss, "label")
      .select(col("vec_id"), col("label"),
        (col("m") * col("m") * col("xx") - lit(2L) * col("m") * col("xs") + col("ss"))
          .as("d2num"),
        col("m"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= topK)
      .select(col("label"), col("rank"), col("vec_id"), col("d2num"),
        (sqrt(col("d2num").cast("double")) / (col("m") * lit(1000.0))).as("dist"))
  }

  /** Embedding-cosine near-dup pairs, blocked by `label` (the standard
    * blocking-key trick: candidates only within a block). Labels over
    * `maxBlock` split into deterministic sub-blocks — see [[MaxBlock]]. */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
                  maxBlock: Option[Long] = Some(MaxBlock)): DataFrame = {
    val e0 = embeddings.select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val e = maxBlock.fold(e0.withColumn("subkey", lit(0L)))(subBucket(e0, _, "label"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.subkey") === col("b.subkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        (qdot(col("a.qv"), col("b.qv")).cast("double") / (col("a.nn") * col("b.nn"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), microCos(col("cosine")).as("cos_u"))
  }

  /** Random-hyperplane LSH bucketing: sign bits of dot products with
    * `bits` deterministic pseudo-random hyperplanes -> bucket id.
    * Candidates = same-bucket pairs; recall vs brute measured in spec.
    */
  /** Deterministic "random" hyperplanes:
    * h_b[i] = ((1103515245*(b*dim+i) + 12345) mod 65536) - 32768.
    * Public so the oracle SQL can state the same literals. */
  def planeWeights(bits: Int, dim: Int): Seq[Seq[Long]] =
    (0 until bits).map { b =>
      (0 until dim).map(i => ((1103515245L * (b * dim + i) + 12345L) % 65536L) - 32768L)
    }

  def lshBuckets(embeddings: DataFrame, bits: Int = 8, dim: Int = 64): DataFrame = {
    val planes = planeWeights(bits, dim)
    val qv = quantize(col("embedding"))
    val bucket = planes.zipWithIndex.map { case (p, b) =>
      when(qdot(qv, lit(p.toArray)) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    embeddings.select(col("vec_id"), col("label"), bucket.as("bucket"))
  }

  /** IVF (inverted-file) ANN: a deterministic subset of the corpus
    * acts as the coarse quantizer; every vector joins its nearest
    * centroid's list; queries probe the nProbe nearest lists and
    * rescore candidates exactly. The standard IVF trade: candidates
    * shrink to ~nProbe/nLists of the corpus. Centroids broadcast;
    * list assignment is one narrow join + per-vector top-1 window. */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, centroidPred: Column,
              k: Int = 5, nProbe: Int = 3): DataFrame = {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val (cents, assigned) = ivfIndexOf(e, centroidPred)
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    ivfProbe(broadcast(cents), assigned, q, k, nProbe)
  }

  private def ivfScore(av: Column, an: Column, bv: Column, bn: Column): Column =
    qdot(av, bv).cast("double") / (an * bn)

  /** IVF index construction over the quantized corpus `e` (vec_id,
    * qv, nn): (centroid table, per-vector list assignments). */
  private def ivfIndexOf(e: DataFrame, centroidPred: Column): (DataFrame, DataFrame) = {
    val cents = e.where(centroidPred)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("cn"))
    // nearest-centroid assignment (top-1), ties -> smallest cid — a
    // lexicographic-max aggregate, not a window: max() partial-
    // aggregates map-side, so one row per vector crosses the exchange
    // instead of the full corpus x centroids product
    val assigned = e.join(broadcast(cents))
      .withColumn("cscore", ivfScore(col("qv"), col("nn"), col("cv"), col("cn")))
      .groupBy("vec_id")
      .agg(max(struct(col("cscore"), (-col("cid")).as("negCid"),
        col("cid"), col("qv"), col("nn"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        col("m.qv").as("qv"), col("m.nn").as("nn"))
    (cents, assigned)
  }

  /** Probe phase shared by [[ivfTopK]] and [[ivfTopKIndexed]]: nProbe
    * nearest lists per query, exact rescore, top-k. */
  private def ivfProbe(cents: DataFrame, assigned: DataFrame, q: DataFrame,
                       k: Int, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy("qid").orderBy(col("cscore").desc, col("cid"))
    val probes = q.join(cents)
      .withColumn("cscore", ivfScore(col("q_qv"), col("q_nn"), col("cv"), col("cn")))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("q_qv"), col("q_nn"), col("cid"))
    // candidates from probed lists, exact rescore, top-k
    val wRank = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    probes.join(assigned, "cid")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        ivfScore(col("q_qv"), col("q_nn"), col("qv"), col("nn")).as("cosine"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), microCos(col("cosine")).as("cos_u"), col("rank"))
  }

  /** Build and PERSIST the IVF index as two catalog tables: the
    * broadcastable centroid table (`name`_centroids) and the
    * per-vector list assignments (`name`_lists, carrying the quantized
    * vectors + norms so probing rescores exactly with zero corpus
    * reads). Longs and IEEE doubles roundtrip parquet exactly —
    * probing the stored index is byte-identical to [[ivfTopK]]. */
  def writeIvfIndex(uri: String, name: String, embeddings: DataFrame,
                    centroidPred: Column = defaultCentroidPred): Unit = {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val (cents, assigned) = ivfIndexOf(e.localCheckpoint(), centroidPred)
    graft.catalog.Catalog.writeTable(uri, s"${name}_centroids", cents)
    graft.catalog.Catalog.writeTable(uri, s"${name}_lists", assigned)
  }

  /** Guard for [[semDedupGateIndexed]]: the stream-safe row-local
    * probe rides the centroid table as ONE collected array row
    * (64 longs + id + norm per list). Production IVF fixes nLists as
    * a model constant, so the bound is structural, not data-driven:
    * 2^16 lists ≈ 34 MB. */
  val MaxGateLists = 1L << 16

  /** Incremental SEMANTIC ingest gate over the stored IVF index — the
    * embedding twin of Dedup.incrementalDedupIndexed, and its own
    * STREAMING twin: every arriving vector probes the nProbe nearest
    * stored lists, rescores candidates exactly, and reports how many
    * BASE vectors match at cos_u ≥ epsU (micro-units) plus the
    * smallest matching base id (−1 when clean — the keep/drop gate).
    * ANN semantics: matches among probed lists, the recall trade
    * q_ann_recall audits; the oracle restates the probe verbatim.
    *
    * Stream-safe by construction (the incrementalDedupStream shape):
    * the probe is a ROW-LOCAL HOF sort over the centroid table
    * cross-joined as one static array row (no window, no stream
    * state), candidates come from a stream-static equi-join against
    * the stored lists, and the only stateful op is the closing
    * per-vector collect_set — run streams with OutputMode.Update.
    * `delta` carries (vec_id, embedding), batch or streaming. */
  def semDedupGateIndexed(delta: DataFrame, uri: String, name: String,
                          epsU: Long = 950000L, nProbe: Int = 3): DataFrame = {
    val spark = delta.sparkSession
    val centTable = graft.catalog.Catalog.readTable(spark, uri, s"${name}_centroids")
    require(centTable.count() <= MaxGateLists,
      s"IVF index '$name' exceeds MaxGateLists=$MaxGateLists — " +
        "re-quantize with a bounded nLists before gating")
    val centsRow = centTable
      .agg(collect_list(struct(col("cid"), col("cv"), col("cn"))).as("cents"))
      .localCheckpoint()
    val assigned = graft.catalog.Catalog.readTable(spark, uri, s"${name}_lists")
    val q = delta
      .select(col("vec_id"), quantize(col("embedding")).as("q_qv"))
      .withColumn("q_nn", sqrt(qdot(col("q_qv"), col("q_qv")).cast("double")))
      .crossJoin(centsRow)
    // row-local probe: (-cosine, cid) ascending == (cosine desc, cid)
    // — the ivfProbe window order, with no window (stream-safe)
    val scored = transform(col("cents"), c =>
      struct((-(qdot(col("q_qv"), c.getField("cv")).cast("double") /
        (col("q_nn") * c.getField("cn")))).as("neg"),
        c.getField("cid").as("cid")))
    val probed = q
      .select(col("vec_id"), col("q_qv"), col("q_nn"),
        explode(transform(slice(array_sort(scored), 1, nProbe),
          p => p.getField("cid"))).as("cid"))
    // LEFT join: a probed list is almost always non-empty (a centroid
    // belongs to its own list), but IEEE self-scores are not exactly
    // 1.0, so a centroid CAN land in a parallel twin's list and leave
    // its own empty — left keeps such delta vectors alive with a null
    // hit, matching the oracle's LEFT JOIN (0, -1) row
    probed.join(assigned.withColumnRenamed("vec_id", "base_id"), Seq("cid"), "left")
      .select(col("vec_id"),
        when(microCos(ivfScore(col("q_qv"), col("q_nn"), col("qv"), col("nn")))
          >= epsU, col("base_id")).as("hit"))
      .groupBy("vec_id")
      .agg(collect_set(col("hit")).as("hits"))
      .select(col("vec_id"),
        size(col("hits")).cast("long").as("n_matches"),
        coalesce(array_min(col("hits")), lit(-1L)).as("match_id"))
  }

  /** [[ivfTopK]] probing the STORED lists ([[writeIvfIndex]]): only
    * the query batch is quantized; the corpus side never recomputes
    * assignments — the persistent-ANN-index shape a 100 TB corpus
    * needs (index once, probe per query batch). `queries` carries
    * (vec_id, embedding). */
  def ivfTopKIndexed(queries: DataFrame, uri: String, name: String,
                     k: Int = 5, nProbe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    val cents = graft.catalog.Catalog.readTable(spark, uri, s"${name}_centroids")
    val assigned = graft.catalog.Catalog.readTable(spark, uri, s"${name}_lists")
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("q_qv"))
      .withColumn("q_nn", sqrt(qdot(col("q_qv"), col("q_qv")).cast("double")))
    ivfProbe(broadcast(cents), assigned, q, k, nProbe)
  }

  /** Nearest-centroid cluster assignment — the semantic-bucketing /
    * diversity-sampling primitive (and the E-step IVF list assignment
    * already embedded in [[ivfTopK]], surfaced as its own operator):
    * every vector joins its highest-cosine centroid, ties to the
    * smallest centroid id. Centroids are a deterministic subset of the
    * corpus (centroidPred) and broadcast, so the whole op is one
    * narrow broadcast-join pass — no shuffle of the corpus side.
    * Output: (vec_id, cid, cosine). */
  /** Per-label embedding centroids — the domain-profile summary a
    * mixture-design pass reads (mean embedding per source/label,
    * long-form): element-wise mean of the QUANTIZED vectors, so the
    * component sums are exact order-free integers and the single
    * closing division is engine-identical (round 6).
    *
    * Scale shape: one posexplode bounded straight back down by the
    * (label, pos) aggregate — |labels × dims| rows cross the exchange
    * with map-side combine; no joins.
    *
    * @return (label, pos, n_vecs, mean) */
  /** Linear-kernel MMD drift between label populations (the
    * distribution-shift health check a mixing pipeline runs per
    * source/epoch): MMD²_linear(A, B) = ||μ_A − μ_B||², restated in
    * EXACT integers over the quantized embeddings —
    * num = Σ_d (S_Ad·n_B − S_Bd·n_A)², mmd2 = num/(scale·n_A·n_B)².
    * Per-dim diffs stay in Long (|S|·n < 2^53 at any realistic
    * population); their squares sum in DECIMAL(18,0)² → exact
    * DECIMAL(38,0) with ONE cast to double at the close (the
    * globalMoran discipline). Ordered pairs (label_a < label_b).
    *
    * Scale shape: one map-side-partial per-label sum (64 longs + a
    * count per label — constant state), then an all-pairs join over
    * the LABEL table (populations, not vectors) and a 64-row explode
    * per pair. Nothing grows with corpus size beyond the scan. */
  def labelDrift(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = embeddings.select(col("label").cast("long").as("label"),
      quantize(col("embedding")).as("qv"))
    val sums = q.groupBy("label").agg(
      count(lit(1)).as("n"),
      array((0 until dim).map(i => sum(element_at(col("qv"), i + 1))): _*).as("s"))
    val pairs = sums.as("a").join(sums.as("b"), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
    val d = pairs
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        explode(zip_with(col("sa"), col("sb"),
          (x, y) => x * col("n_b") - y * col("n_a"))).as("d"))
    d.groupBy("label_a", "label_b", "n_a", "n_b")
      .agg(sum(col("d").cast("decimal(18,0)") * col("d").cast("decimal(18,0)"))
        .as("num"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        // micro-quantized (the cos_u convention): same IEEE division
        // chain, then one integer rounding — sf-stable
        round(col("num").cast("double") /
          ((lit(1000.0) * col("n_a") * col("n_b")) *
            (lit(1000.0) * col("n_a") * col("n_b"))) * lit(1000000.0))
          .cast("long").as("mmd2_u"))
  }

  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(quantize(col("embedding"))).as(Seq("pos", "qc")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum("qc").cast("long").as("s"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("n_vecs"),
        // micro-quantized mean (the cos_u convention): s·1000 is an
        // exact Long, one division, integer rounding — sf-stable
        round((col("s") * lit(1000L)).cast("double") / col("n_vecs").cast("double"))
          .cast("long").as("mean_u"))

  /** Exact Gram matrix of the quantized corpus — G[i][j] = Σ_docs
    * qᵥ[i]·qᵥ[j] over the upper triangle (i ≤ j): THE input to
    * embedding-space whitening / PCA / ZCA and isotropy diagnostics
    * (covariance = (G − s·sᵀ/n)/n with the [[labelCentroids]] sums).
    * The d×d eigendecomposition that follows is driver-side — at any
    * corpus scale the REDUCTION here is the distributed work.
    *
    * Scale shape: each partition folds its vectors into ONE local
    * d(d+1)/2 Long accumulator (mapPartitions — no per-doc d² rows
    * exist anywhere), then emits its ≤ 2080 partial entries; the
    * merge is a bounded groupBy sum. Exact integers end-to-end:
    * |q| ≤ ~10³ ⇒ products ≤ 10⁶ ⇒ safe to ~10¹² docs in a Long.
    *
    * @return (i, j, g) upper triangle, i ≤ j */
  def gramMatrix(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(quantize(col("embedding")).as("qv")).as[Seq[Long]]
      .mapPartitions { it =>
        val acc = new Array[Long](dim * (dim + 1) / 2)
        var any = false
        it.foreach { v =>
          any = true
          val a = v.toArray
          require(a.length == dim, s"expected $dim-dim embedding, got ${a.length}")
          var i = 0; var p = 0
          while (i < dim) {
            var j = i
            while (j < dim) { acc(p) += a(i) * a(j); p += 1; j += 1 }
            i += 1
          }
        }
        if (!any) Iterator.empty
        else {
          var p = -1
          for (i <- (0 until dim).iterator; j <- (i until dim).iterator) yield {
            p += 1
            (i, j, acc(p))
          }
        }
      }
      .toDF("i", "j", "g")
      .groupBy("i", "j").agg(sum("g").cast("long").as("g"))
  }

  /** PCA projection of the corpus onto its top-k principal components
    * — the dimensionality-reduction step embedding-space curation
    * (SemDeDup-style clustering, isotropy correction, visualization)
    * runs over [[gramMatrix]]'s reduction: covariance from the exact
    * Gram + mean sums, Jacobi eigendecomposition of the d×d matrix
    * DRIVER-side (d is a model constant — 64 here — so the O(d³)
    * solve is microseconds regardless of corpus size), components
    * broadcast as literals, projection a shuffle-free per-row fold.
    *
    * Deterministic given the data (exact integer covariance inputs,
    * fixed Jacobi sweep order, sign fixed by the largest-|coefficient|
    * rule); spec-tested rather than oracle-checked — the eigen solve
    * has no SQL twin (stated, the kriging-fit precedent).
    *
    * @return (vec_id, comp ARRAY<DOUBLE> of length k) */
  def pcaProject(embeddings: DataFrame, k: Int = 2, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val gram = gramMatrix(embeddings, dim).as[(Int, Int, Long)].collect()
    val sums = embeddings
      .select(posexplode(quantize(col("embedding"))).as(Seq("pos", "qc")))
      .groupBy("pos").agg(sum("qc").cast("long").as("s"), count(lit(1)).as("n"))
      .as[(Int, Long, Long)].collect()
    require(sums.nonEmpty, "empty corpus")
    val n = sums.head._3.toDouble
    val mean = new Array[Double](dim)
    sums.foreach { case (p, s, _) => mean(p) = s / n }
    val cov = Array.ofDim[Double](dim, dim)
    gram.foreach { case (i, j, g) =>
      val c = g / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(i => -vals(i)).take(k)
    // sign convention: largest-|coefficient| entry is positive
    val comps = order.map { ci =>
      val v = Array.tabulate(dim)(r => vecs(r)(ci))
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(m) < 0) v.map(-_) else v
    }.toArray
    val bc = spark.sparkContext.broadcast((comps, mean))
    embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .as[(Long, Seq[Long])]
      .map { case (id, qv) =>
        val (cs, mu) = bc.value
        val a = qv.toArray
        val proj = cs.map { c =>
          var s = 0.0; var i = 0
          while (i < a.length) { s += (a(i) - mu(i)) * c(i); i += 1 }
          s / 1000.0 // back to embedding units
        }
        (id, proj.toSeq)
      }.toDF("vec_id", "comp")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-columns). Fixed sweep order ⇒
    * deterministic. */
  private[pipeline] def jacobiEigen(m0: Array[Array[Double]],
                                    sweeps: Int = 32): (Array[Double], Array[Array[Double]]) = {
    val d = m0.length
    val a = m0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          // sign(0) must rotate (t = tan 45°), not skip: signum(0) = 0
          // would freeze equal-diagonal pairs forever
          val sg = if (theta >= 0) 1.0 else -1.0
          val t = sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  def clusterAssign(embeddings: DataFrame, centroidPred: Column): DataFrame = {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val cents = broadcast(e.where(centroidPred)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("cn")))
    // top-1 as a lexicographic-max AGGREGATE, not a row_number window:
    // the window would shuffle the full corpus x centroids product,
    // while max() partial-aggregates map-side so one row per vector
    // crosses the exchange. (cosine DESC, cid ASC) ties encode as
    // (cosine, -cid) maximized; NaN cosines still sort greatest,
    // matching the window's DESC NaN placement.
    e.join(cents)
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast("double") / (col("nn") * col("cn")))
      .groupBy("vec_id")
      .agg(max(struct(col("cosine"), (-col("cid")).as("negCid"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        microCos(col("m.cosine")).as("cos_u"))
  }

  /** Product-quantization encoding (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11 — public):
    * split each quantized vector into `m` subvectors; per subspace a
    * CODEBOOK (the subvectors of a deterministic corpus subset,
    * `centroidPred` — same sampled-codebook trade as [[ivfTopK]]'s
    * coarse quantizer) maps every subvector to its nearest centroid
    * id. A vector compresses to m codes.
    *
    * Determinism: distances are exact integer L2^2 over quantized
    * ints (||a-b||^2 = a·a - 2a·b + b·b via LongDotExpr); ties break
    * to the smallest centroid id. Scale shape: codebooks broadcast;
    * encoding is one narrow pass + a per-(vector, subspace) top-1
    * window — no corpus shuffle beyond the window's hash exchange.
    * Output: (vec_id, s, code) — one row per subspace. */
  def pqEncode(embeddings: DataFrame, centroidPred: Column,
               m: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide the embedding dim")
    val sub = dim / m
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val subs = e.select(col("vec_id"),
      explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col("qv"), s * sub + 1, sub).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
    // r21: the old min(struct(d, cid)) argmin forced SortAggregate
    // (struct buffers are not hash-aggregable — the joined |corpus| x
    // |codebook| frame got SORTED map-side). Re-index the broadcast
    // codebook densely per subspace IN cid ORDER (a tiny window over
    // the broadcast side only) and pack (d, idx) into ONE long:
    // d * 2^20 + idx is lexicographically (d ASC, cid ASC) — exactly
    // the old struct min — and min(long) stays in HashAggregate with
    // map-side partials. Both packing bounds fail LOUDLY: idx >= 2^20
    // (codebook too large) and d >= 2^42 (packed would overflow; the
    // quantized-int contract keeps real distances orders below it).
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy("cid")
    val cbIdx = subs.where(centroidPred)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
      .withColumn("idx",
        when(row_number().over(wIdx) <= (1 << 20),
          row_number().over(wIdx).cast("long") - 1L)
        .otherwise(raise_error(lit("pqEncode: codebook over 2^20 entries " +
          "per subspace — packed argmin would overflow"))))
      .localCheckpoint() // tiny by contract; joined twice (encode + decode)
    val cb = broadcast(cbIdx.select(col("s"), col("cid"), col("cv"), col("idx")))
    val l2 = qdot(col("sv"), col("sv")) - lit(2L) * qdot(col("sv"), col("cv")) +
      qdot(col("cv"), col("cv"))
    val packed = when(col("d") < (1L << 42), col("d") * (1L << 20) + col("idx"))
      .otherwise(raise_error(lit("pqEncode: L2^2 distance over 2^42 — " +
        "packed argmin would overflow")))
    subs.join(cb, "s")
      .withColumn("d", l2)
      .groupBy("vec_id", "s")
      .agg(min(packed).as("pk"))
      .withColumn("idx", col("pk") % (1L << 20))
      .join(broadcast(cbIdx.select(col("s"), col("idx"), col("cid"))),
        Seq("s", "idx"))
      .select(col("vec_id"), col("s"), col("cid").as("code"))
  }

  /** PQ top-k via asymmetric distance (ADC): the query keeps its
    * exact subvectors; a candidate contributes only its m codes, so
    * the per-candidate cost is m table lookups into the query's
    * (subspace x centroid) distance table — the memory/compute trade
    * that lets a 10^9-vector corpus sit in RAM as m bytes per vector.
    * The distance table (queries x centroids, broadcast-sized) joins
    * against the encoded corpus; ranking is exact-integer, ties to
    * the smaller nid. */
  def pqTopK(embeddings: DataFrame, queryPred: Column, centroidPred: Column,
             k: Int = 5, m: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide the embedding dim")
    val sub = dim / m
    val enc = pqEncode(embeddings, centroidPred, m, dim)
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    def subsOf(df: DataFrame, idAs: String, svAs: String) =
      df.select(col("vec_id").as(idAs),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col("qv"), s * sub + 1, sub).as(svAs))): _*)).as("x"))
        .select(col(idAs), col("x.s").as("s"), col(s"x.$svAs").as(svAs))
    val qsubs = subsOf(e.where(queryPred), "qid", "sv")
    val cb = broadcast(subsOf(e.where(centroidPred), "cid", "cv")
      .select(col("s"), col("cid"), col("cv")))
    // query ADC table: exact L2^2 from each query subvector to each
    // codebook centroid — |queries| * m * |codebook| rows, broadcast
    val l2 = qdot(col("sv"), col("sv")) - lit(2L) * qdot(col("sv"), col("cv")) +
      qdot(col("cv"), col("cv"))
    val qd = broadcast(qsubs.join(cb, "s").select(col("qid"), col("s"),
      col("cid").as("code"), l2.as("d")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    enc.withColumnRenamed("vec_id", "nid")
      .join(qd, Seq("s", "code"))
      .where(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(sum("d").as("adist"))
      // a candidate must match in every subspace (inner join keeps
      // only rows whose (s, code) hit the query table, which is total)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("adist"), col("rank"))
  }

  /** Random projection (Johnson-Lindenstrauss sketch) — reduce each
    * embedding to `outDim` integer components y_j = <qv, P_j> with the
    * deterministic [[planeWeights]] LCG matrix (dense integer entries;
    * sign-random projections are the [[lshBuckets]] 1-bit special
    * case). The standard pre-ANN dimensionality-reduction step: inner
    * products are preserved in expectation, and downstream cosine on
    * the sketch is ~the original cosine at 1/4 the bytes.
    *
    * Determinism: quantized vectors x integer matrix -> exact integer
    * components, no rounding anywhere. Scale shape: one scan, no
    * shuffle; output is EXPLODED to (vec_id, j, y) rows so results
    * stay scalar-typed end to end. */
  def randomProject(embeddings: DataFrame, outDim: Int = 16, dim: Int = 64): DataFrame = {
    val planes = planeWeights(outDim, dim)
    val qv = quantize(col("embedding"))
    embeddings.select(col("vec_id"),
        explode(array(planes.zipWithIndex.map { case (p, j) =>
          struct(lit(j.toLong).as("j"), qdot(qv, lit(p.toArray)).as("y"))
        }: _*)).as("c"))
      .select(col("vec_id"), col("c.j").as("j"), col("c.y").as("y"))
  }

  /** Multi-vector late-interaction retrieval (the ColBERT MaxSim
    * shape, Khattab & Zaharia SIGIR'20): query and candidate documents
    * are BAGS of vectors (here: label groups); the relevance of doc D
    * to query Q is Σ_{i∈Q} max_{j∈D} cos(q_i, d_j) — every query
    * token keeps only its best-matching document token. Per-query-
    * vector maxima are exact double comparisons; each max is
    * micro-quantized to a long BEFORE the per-(Q,D) sum (order-free
    * exact integer addition — a raw float Σ would be
    * partition-order-dependent), divided once at the end.
    *
    * Scale shape: this op SCORES candidate pairs — upstream candidate
    * generation (IVF/LSH over pooled vectors) bounds |Q|×|D|; the
    * query side is an explicit predicate and broadcasts. Two keyed
    * aggregations (max, then sum), both map-side combining; dots are
    * the codegen'd LongDotExpr. */
  def maxSim(embeddings: DataFrame, queryPred: Column,
             docPred: Column): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qv"))
      .localCheckpoint() // both sides + norms read it
    val q = e.where(queryPred).select(col("label").as("qlabel"),
      col("vec_id").as("qid"), col("qv").as("qvv"))
    val d = e.where(docPred).select(col("label").as("dlabel"), col("qv").as("dv"))
    d.join(broadcast(q))
      .select(col("qlabel"), col("dlabel"), col("qid"),
        qcosine(col("qvv"), col("dv")).as("cos"))
      .groupBy("qlabel", "dlabel", "qid").agg(max("cos").as("mc"))
      .select(col("qlabel"), col("dlabel"),
        round(col("mc") * lit(1000000.0)).cast("long").as("mq"))
      .groupBy("qlabel", "dlabel")
      .agg(count(lit(1)).as("n_qvecs"),
        (sum("mq").cast("double") / lit(1000000.0)).as("maxsim"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv:2303.09540 —
    * public): cluster the corpus, then prune eps-cosine-similar
    * vectors WITHIN each cluster, keeping one representative per
    * semantic-duplicate group. The keep rule is the paper's ordered
    * sweep made deterministic: order each cluster by (similarity to
    * centroid DESC, vec_id ASC); a vector is dropped when any EARLIER
    * vector in its cluster is eps-similar to it. Output = surviving
    * (vec_id, cid, ccos) rows.
    *
    * Scale shape: clustering is [[clusterAssign]] (broadcast
    * centroids, no corpus shuffle); the within-cluster pair join is
    * the [[cosinePairs]] blocked shape with the same [[MaxBlock]]
    * hot-cluster sub-bucketing, so a degenerate giant cluster cannot
    * melt a reducer; the final anti-join removes dropped ids. The
    * ordering compares the ROUNDED centroid similarity (6 dp) so the
    * oracle can restate it verbatim. */
  def semDedup(embeddings: DataFrame, eps: Double, centroidPred: Column,
               maxBlock: Option[Long] = Some(MaxBlock)): DataFrame = {
    val asg = clusterAssign(embeddings, centroidPred)
      .withColumnRenamed("cos_u", "ccos")
    val e0 = asg.join(
        embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv")), "vec_id")
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val e = maxBlock.fold(e0.withColumn("subkey", lit(0L)))(subBucket(e0, _, "cid"))
    val dropped = e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") && col("a.subkey") === col("b.subkey") &&
          (col("a.ccos") > col("b.ccos") ||
           (col("a.ccos") === col("b.ccos") && col("a.vec_id") < col("b.vec_id"))))
      .where(qdot(col("a.qv"), col("b.qv")).cast("double") /
        (col("a.nn") * col("b.nn")) >= eps)
      .select(col("b.vec_id").as("vec_id")).distinct()
    e0.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"), col("ccos"))
  }

  /** Lloyd k-means over quantized embeddings — the M-step companion
    * to [[clusterAssign]] (which is the E-step alone). Init centroids
    * are the `centroidPred` corpus subset (cluster label = that
    * vector's id, stable across rounds); each round assigns every
    * vector to its L2^2-nearest centroid (exact integer distances,
    * ties to the smallest cid) and recomputes centroids as the
    * element-wise mean REQUANTIZED to integers by round-half-up
    * (floor((2s+n)/2n) — exact, both engines state the same
    * arithmetic). Clusters that lose all members drop out.
    *
    * Determinism: distances are exact integers; the mean is the only
    * division and is immediately floored back to an integer, so no
    * float ever crosses a round boundary. Scale shape: centroids stay
    * broadcast-small; assignment is the [[clusterAssign]]
    * min-struct AGGREGATE (map-side partials, one row per vector
    * across the exchange); the M-step explodes to (cid, dim) rows —
    * 64 per vector — and partial-aggregates map-side too.
    * Output: final (vec_id, cid, d) with d = exact integer L2^2. */
  def kmeans(embeddings: DataFrame, centroidPred: Column, iters: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("vv", qdot(col("qv"), col("qv")))
      .localCheckpoint() // consumed every round: don't re-quantize per iter
    def assign(cents: DataFrame): DataFrame =
      e.join(broadcast(cents.withColumn("cc", qdot(col("cv"), col("cv")))))
        .withColumn("d", col("vv") - lit(2L) * qdot(col("qv"), col("cv")) + col("cc"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.d").as("d"))
    var cents = e.where(centroidPred).select(col("vec_id").as("cid"), col("qv").as("cv"))
    var r = 0
    while (r < iters) {
      val asg = assign(cents)
      // element-wise integer mean: explode dims, sum/count per
      // (cid, dim), round-half-up via exact floor((2s+n)/(2n)), then
      // reassemble in dim order (sort_array on (pos, comp) structs)
      cents = asg.join(e, "vec_id")
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .withColumn("comp",
          floor((lit(2L) * col("s") + col("n")).cast("double") / (lit(2L) * col("n")))
            .cast("long"))
        .groupBy("cid")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("comp")))),
          p => p("comp")).as("cv"))
      r += 1
    }
    assign(cents)
  }

  /** LSH-accelerated near-dup: same-bucket candidate pairs scored
    * exactly. Buckets over `maxBucket` (a degenerate near-zero-
    * embedding pile hashes identically) split into deterministic
    * sub-blocks — see [[MaxBlock]]. */
  def lshPairs(embeddings: DataFrame, threshold: Double, bits: Int = 8,
               maxBucket: Option[Long] = Some(MaxBlock)): DataFrame = {
    val b0 = lshBuckets(embeddings, bits)
      .join(embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv")), "vec_id")
      .withColumn("nn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val b = maxBucket.fold(b0.withColumn("subkey", lit(0L)))(subBucket(b0, _, "bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.subkey") === col("b.subkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        (qdot(col("a.qv"), col("b.qv")).cast("double") / (col("a.nn") * col("b.nn"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), microCos(col("cosine")).as("cos_u"))
  }
}
