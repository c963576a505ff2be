package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Event-stream operators (Spark-first addition; the reference has no
  * streaming surface). The same transform functions serve the batch
  * path (oracle-checked) and the Structured Streaming path
  * (readStream + watermark, unit-tested) — write once, run both.
  *
  * `ts` arrives as raw epoch nanos — GridSource.eventsTable normalizes
  * whatever dtype is on disk (long nanos or timestamp[us]) to that
  * contract at ingest.
  */
object Events {
  val NanosPerHour = 3600L * 1000 * 1000 * 1000
  val SessionGapUs = 30L * 60 * 1000 * 1000 // 30 min in micros

  /** Tumbling 1h aggregation per event_type — batch form. Exact sums
    * via decimal; hour derived from MICROsecond epoch so the oracle
    * (whose timestamps are us-truncated) states the identical math. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(expr("(ts div 1000) div 3600000000").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast("decimal(18,6)")).cast("double").as("vsum"))

  /** Stream-static dimension enrichment — the canonical "events join
    * a slowly-changing dim table" shape: each event resolves its
    * nation through user_id % 25, the dim side broadcasts, and the
    * per-nation rollup uses exact decimal sums. The SAME code runs
    * batch and streaming (Spark's stream-static join), which the spec
    * proves with a MemoryStream twin. */
  def enrichByNation(events: DataFrame, nation: DataFrame): DataFrame =
    events
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))

  /** Same aggregation as a streaming query on a timestamp column with
    * a watermark (streaming path; used by the spec with a memory sink). */
  def hourlyAggStream(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "2 hours")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast("decimal(18,6)")).cast("double").as("vsum"))

  /** Funnel analysis (the product-analytics step-completion report):
    * for each user, walk the ordered step list and complete step i+1
    * at the EARLIEST event of that type strictly after the step-i
    * completion time (the standard min-chaining funnel definition —
    * equivalent to a single pointer scan over the user's time-sorted
    * events, which is how it's computed here). Returns one row per
    * step: (step_idx, step, users reaching it).
    *
    * Scale: ONE shuffle (groupBy user) then a per-user sorted scan
    * inside an `aggregate` HOF — no per-step self-joins, no window
    * over the global event stream; memory is bounded by per-user
    * funnel-event count (document skew: a bot user with millions of
    * events needs an upstream cap). */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size)
    val k = steps.size
    val stepArr = array(steps.map(lit): _*)
    val perUser = events.where(col("event_type").isin(steps: _*))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_type")))).as("evs"))
      .select(aggregate(col("evs"),
        struct(lit(0).as("r"), lit(Long.MinValue).as("t")),
        (acc, e) =>
          when(acc("r") < k &&
              e("event_type") === element_at(stepArr, acc("r") + 1) &&
              e("ts") > acc("t"),
            struct((acc("r") + 1).as("r"), e("ts").cast("long").as("t")))
          .otherwise(acc)).getField("r").as("reached"))
    perUser
      .select(explode(sequence(lit(1), lit(k))).as("step_idx"), col("reached"))
      .where(col("reached") >= col("step_idx"))
      .groupBy("step_idx")
      .agg(count(lit(1)).as("users"))
      .select(col("step_idx"), element_at(stepArr, col("step_idx")).as("step"),
        col("users"))
  }

  /** Streaming twin of [[funnel]]: per-user pointer state in
    * flatMapGroupsWithState, one FunnelStep row emitted the moment a
    * step completes (sorted-within-batch, the sessionizeStream
    * discipline). Counting emitted rows per step_idx reproduces the
    * batch funnel report. */
  def funnelStream(events: DataFrame, steps: Seq[String]): Dataset[FunnelStep] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size)
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.size
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .where(col("event_type").isin(steps: _*))
      .select(col("user_id").as[Long], expr("ts div 1000").as[Long],
        col("event_type").as[String], col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          var out = List.empty[FunnelStep]
          rows.toArray.sortBy(_._2).foreach { case (_, us, tpe, _) =>
            if (st.reached < k && tpe == steps(st.reached) && us > st.t) {
              st = FunnelState(st.reached + 1, us)
              out = FunnelStep(user, st.reached, us) :: out
            }
          }
          state.update(st)
          out.reverseIterator
      }
  }

  /** Retention cohorts (the DAU-triangle report): cohort = a user's
    * first active day, one output row per (cohort day, day offset)
    * with the count of cohort users active that day. Day boundaries
    * are exact integer epoch-day division (UTC).
    *
    * Scale: distinct (user, day) collapses the raw stream first (the
    * cardinality is users×days, not events), then one aggregate and
    * one user-keyed equi-join — all standard shuffle shapes; AQE
    * handles the join side sizing. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr(s"ts div ${graft.GridSource.NanosPerDay}").as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** Semi-structured property extraction + rollup — the JSON-column
    * parsing every event pipeline does at scan time (get_json_object
    * is codegen'd; no UDF): per event_type, count and exact integer
    * sum/mean of props.k. */
  def propsStats(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").cast("long").as("k_sum"))
      .select(col("event_type"), col("n"), col("k_sum"),
        (col("k_sum").cast("double") / col("n")).as("k_avg"))

  /** Event-time lateness audit — the watermark-tuning diagnostic:
    * within each user's stream, an event's lateness is how far its
    * event time sits behind the maximum event time already ARRIVED
    * (arrival order = event_id, the ingestion sequence). Reports a
    * per-minute lateness histogram; the p99-ish tail is what you set
    * `withWatermark` to.
    *
    * Scale: windows partition by user_id (keyed streams shard the
    * arrival sequence — no global single-partition ORDER BY); the
    * global tail is the max over keys, preserved by the histogram. */
  def latenessAudit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("hwm", max("us").over(w))
      .select(greatest(lit(0L), col("hwm") - col("us")).as("late_us"))
      .where(col("hwm").isNotNull)
      .groupBy(expr("late_us div 60000000").as("late_min"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** One-sided CUSUM drift detection per user (Page 1954 — the
    * sequential change-point statistic every metrics pipeline runs):
    * with deviations d_i = value_i − target − slack in exact cents,
    * S_i = max(0, S_{i−1} + d_i), alarm while S_i > h. The batch form
    * uses the prefix identity S_i = pre_i − min(0, min_{j≤i} pre_j)
    * — two plain window passes, no recursion — which the oracle can
    * state verbatim; [[cusumStream]] is the stateful streaming twin.
    * Returns one row per user: (max_s, n_alarms, first_alarm_us).
    *
    * Scale: windows partition by user_id (high cardinality — the
    * sessionize discipline), exact integer cents throughout. */
  def cusumDrift(events: DataFrame, targetCents: Long = 500,
      slackCents: Long = 100, threshCents: Long = 2000): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    events
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        (cents - lit(targetCents + slackCents)).as("d"))
      .withColumn("pre", sum("d").over(w))
      .withColumn("s", col("pre") - least(lit(0L), min("pre").over(w)))
      .groupBy("user_id").agg(
        max("s").as("max_s"),
        sum(when(col("s") > threshCents, lit(1L)).otherwise(lit(0L)))
          .cast("long").as("n_alarms"),
        min(when(col("s") > threshCents, col("us"))).as("first_alarm_us"))
  }

  /** Streaming twin of [[cusumDrift]]: per-user CUSUM state carried in
    * mapGroupsWithState, alarm rows emitted as the statistic crosses
    * the threshold (sorted-within-batch, the sessionizeStream
    * discipline). */
  def cusumStream(events: DataFrame, targetCents: Long = 500,
      slackCents: Long = 100, threshCents: Long = 2000): Dataset[CusumAlarm] = {
    val spark = events.sparkSession
    import spark.implicits._
    val k = targetCents + slackCents
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .select(col("user_id").as[Long], expr("ts div 1000").as[Long],
        ((col("value").cast("decimal(18,2)") * 100).cast("long") - k).as[Long],
        col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L))
          var out = List.empty[CusumAlarm]
          rows.toArray.sortBy(r => r._2).foreach { case (_, us, d, _) =>
            val prev = st.s
            st = CusumState(math.max(0L, st.s + d))
            if (st.s > threshCents && prev <= threshCents)
              out = CusumAlarm(user, us, st.s) :: out
          }
          state.update(st)
          out.reverseIterator
      }
  }

  /** Event-type transition matrix (the first-order Markov model of
    * user journeys): per user in (ts, event_id) order, counts of each
    * (from_type, to_type) adjacency. Exact integers; per-user windows
    * bounded by session length at scale (partition by user). */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sessionization: a new session starts after a >30min gap per user.
    * Batch form via window functions (deterministic ts, event_id order).
    */
  def sessionize(events: DataFrame): DataFrame = {
    val us = expr("ts div 1000")
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val marked = events
      .select(col("user_id"), col("event_id"), us.as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs, 1).otherwise(0))
    marked
      .withColumn("session_id", sum("brk").over(
        Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("cnt"), min("us").as("start_us"), max("us").as("end_us"))
  }

  /** Native `session_window` sessionization — the Structured-
    * Streaming-idiomatic twin of [[sessionize]]: Spark's built-in
    * session window (window end = last event + gap). The same
    * groupBy runs batch and streaming — this is the API a Spark user
    * reaches for first; [[sessionize]]'s explicit
    * flatMapGroupsWithState twin remains for custom state. Boundary
    * semantics pinned by spec: an exactly-gap-apart pair MERGES
    * (inclusive rule — identical to [[sessionize]]'s `> gap` break),
    * strictly beyond the gap splits. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ets"))
      .groupBy(col("user_id"), session_window(col("ets"), gap).as("sw"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("cnt"))

  /** As-of join: for each left event, the most recent right event AT
    * OR BEFORE it for the same key — point-in-time enrichment ("what
    * was the user's last purchase when they clicked?"), the feature-
    * pipeline staple Spark lacks as a built-in.
    *
    * Shape: tag both sides, UNION, ONE hash exchange on the key, and
    * a last-non-null carry-forward window ordered by (us, side) —
    * right rows (side 0) sort before left rows (side 1) at equal
    * timestamps, which is exactly the <= semantics. At 100 TB this is
    * one shuffle of left+right and a linear per-partition sweep: no
    * range/theta join (quadratic per key), no broadcast of either
    * side, skew bounded by the busiest single key.
    *
    * Right-side timestamp ties resolve to the max event_id — not via
    * a pre-collapse aggregation (that would be a second exchange) but
    * by ordering the window on (us, side, event_id): the last
    * non-null carried at equal timestamps IS the max-event_id row.
    * Misses surface as -1 (both engines coalesce, so the gate never
    * compares NULL floats). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String = "user_id"): DataFrame = {
    val us = expr("ts div 1000")
    val l = left.select(col(key).as("k"), us.as("us"), col("event_id"), col("value"),
      lit(1).as("side"),
      lit(null).cast("long").as("re"), lit(null).cast("double").as("rv"))
    val r = right.select(col(key).as("k"), us.as("us"),
      lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
      lit(0).as("side"), col("event_id").as("re"), col("value").as("rv"))
    val w = Window.partitionBy("k").orderBy("us", "side", "re")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("le", last(col("re"), ignoreNulls = true).over(w))
      .withColumn("lv", last(col("rv"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("k").as(key), col("event_id"), col("us"), col("value"),
        coalesce(col("le"), lit(-1L)).as("r_event_id"),
        coalesce(col("lv"), lit(-1.0)).as("r_value"))
  }

  /** Interval (time-range) join — "every event within `windowUs`
    * after an anchor event of the same user" (error-impact windows,
    * promo attribution, ...). Spark has no native range join; the
    * naive per-key theta join degenerates to a nested loop. This is
    * the standard BUCKET DECOMPOSITION: with bucket width = the
    * window length, an interval spans at most two buckets, so each
    * anchor registers in <= 2 (user, bucket) slots and the join is a
    * plain equi-join + exact timestamp filter. An event lives in
    * exactly one bucket, so no pair can duplicate and no distinct is
    * needed. All-integer microsecond arithmetic.
    *
    * Scale shape: shuffle on (user_id, bucket) — the same hash
    * exchange an aggregation would use; candidate pairs are bounded
    * by per-bucket co-occupancy, not |anchors| x |events|. */
  def intervalJoin(events: DataFrame, anchorType: String = "error",
                   windowUs: Long = 10L * 60 * 1000 * 1000): DataFrame = {
    require(windowUs > 0)
    val us = expr("ts div 1000")
    val anchors = events.where(col("event_type") === anchorType)
      .select(col("user_id"), col("event_id").as("anchor_id"), us.as("a_us"))
      // integer `div`, not Column `/` (IEEE double): epoch-us values
      // make float-quotient truncation an off-by-one hazard
      .withColumn("bucket", explode(array_distinct(array(
        expr(s"a_us div ${windowUs}L"),
        expr(s"(a_us + ${windowUs}L) div ${windowUs}L")))))
    val ev = events
      .select(col("user_id"), col("event_id"), us.as("us"))
      .withColumn("bucket", expr(s"us div ${windowUs}L"))
    anchors.join(ev, Seq("user_id", "bucket"))
      .where(col("us") >= col("a_us") && col("us") <= col("a_us") + windowUs &&
        col("event_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("event_id"), (col("us") - col("a_us")).as("delta_us"))
  }

  /** Streaming twin of [[intervalJoin]] — Spark's NATIVE stream-stream
    * inner join with an event-time range condition (the built-in
    * operator designed for exactly this shape: watermarks bound both
    * sides' state, the range condition bounds how long an anchor
    * waits). One input stream self-joins: anchors filtered by type
    * against all events. Same output columns as the batch form;
    * spec proves batch == stream on a shared fixture. */
  def intervalJoinStream(events: DataFrame, anchorType: String = "error",
                         windowUs: Long = 10L * 60 * 1000 * 1000): DataFrame = {
    require(windowUs > 0)
    val anchors = events.where(col("event_type") === anchorType)
      .select(col("user_id").as("a_user"), col("event_id").as("anchor_id"),
        expr("ts div 1000").as("a_us"),
        timestamp_micros(expr("ts div 1000")).as("a_ets"))
      .withWatermark("a_ets", "1 hour")
    val ev = events
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
      .withWatermark("ets", "1 hour")
    anchors.join(ev,
        col("user_id") === col("a_user") &&
          col("ets") >= col("a_ets") &&
          col("ets") <= col("a_ets") + expr(s"INTERVAL $windowUs MICROSECOND") &&
          col("event_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("event_id"), (col("us") - col("a_us")).as("delta_us"))
  }

  final case class AsofOut(user_id: Long, event_id: Long, us: Long, value: Double,
                           r_event_id: Long, r_value: Double)
  final case class AsofState(us: Long, eventId: Long, value: Double)

  /** Streaming twin of [[asofJoin]] over ONE event stream carrying
    * both sides (filtered by event_type): per-key state holds the
    * latest right event; left events emit enriched rows. Rows are
    * sorted within each micro-batch (same sorted-within-batch
    * approximation as [[sessionizeStream]]); state is one tuple per
    * key — bounded regardless of stream length. */
  def asofJoinStream(events: DataFrame, leftType: String = "click",
                     rightType: String = "purchase"): Dataset[AsofOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .where(col("event_type").isin(leftType, rightType))
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .select(col("user_id"), expr("ts div 1000").as("us"),
              col("event_id"), col("value"),
              (col("event_type") === leftType).as("is_left"), col("ets"))
      .as[(Long, Long, Long, Double, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double, Boolean, java.sql.Timestamp)],
         state: GroupState[AsofState]) =>
          // right rows sort before left at equal us (side false < true);
          // event_id last so right-side ts ties land on max event_id,
          // matching the batch max_by collapse
          val sorted = rows.toArray.sortBy(t => (t._2, t._5, t._3))
          var st = state.getOption.getOrElse(AsofState(-1L, -1L, -1.0))
          var out = List.empty[AsofOut]
          sorted.foreach { case (_, us, eid, v, isLeft, _) =>
            if (isLeft) out = AsofOut(user, eid, us, v, st.eventId, st.value) :: out
            else if (us >= st.us) st = AsofState(us, eid, v)
          }
          state.update(st)
          out.reverseIterator
      }
  }

  /** Streaming exact dedup for a document stream: content-hash
    * dropDuplicatesWithinWatermark — the streaming twin of
    * pipeline.Dedup.exact. State is bounded by the watermark horizon
    * (the property that makes streaming dedup feasible at all). */
  def streamingDedup(docs: DataFrame, tsCol: String = "ts"): DataFrame =
    docs
      .withColumn("ets", timestamp_micros(expr(s"$tsCol div 1000")))
      .withWatermark("ets", "1 hour")
      .withColumn("fp", md5(col("text")))
      .dropDuplicatesWithinWatermark("fp")

  final case class NearDup(doc_id: Long, dup_of: Long, est_sim: Double)
  final case class BucketState(docs: List[(Long, Seq[Long])])

  /** Streaming MinHash near-dup detection — the streaming twin of
    * pipeline.Dedup.minhashPairs. Per-doc signatures come from the same
    * row-local kernel as the batch path, so the only stateful
    * stage is the per-LSH-bucket match: each bucket keys a
    * flatMapGroupsWithState whose state holds the signatures seen in
    * that bucket inside the watermark horizon. A new doc that matches
    * a stored signature at >= minEstSim emits (doc, dup_of, est_sim)
    * against the EARLIEST matching doc (deterministic); a doc can
    * surface once per colliding band, so downstream consumers distinct
    * on doc_id.
    *
    * Scale levers: state is bounded by (watermark horizon x bucket
    * cardinality) and hard-capped at `maxStatePerBucket` signatures
    * per bucket (same degenerate-boilerplate guard as the batch
    * bucket cap); docs shorter than the shingle size pass through
    * unmatched (they never enter a bucket). */
  def streamingNearDup(docs: DataFrame, k: Int = 16, bands: Int = 4,
                       shingleK: Int = 5, minEstSim: Double = 0.5,
                       maxStatePerBucket: Int = 1000,
                       tsCol: String = "ts"): Dataset[NearDup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = k / bands
    // the batch path's row-local signature kernel (null under
    // shingleK tokens)
    val sig = org.apache.spark.sql.graft.MinhashSigExpr.minhashSig(
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")), shingleK, k)

    docs
      .withColumn("ets", timestamp_micros(expr(s"$tsCol div 1000")))
      .withWatermark("ets", "1 hour")
      .withColumn("_sig", sig)
      .where(col("_sig").isNotNull)
      .select(col("doc_id").as[Long], col("_sig").as[Seq[Long]],
        explode(array((0 until bands).map { b =>
          concat_ws("_", lit(b) +: (b * rows until (b + 1) * rows)
            .map(i => element_at(col("_sig"), i + 1)): _*)
        }: _*)).as[String], col("ets").as[java.sql.Timestamp])
      .groupByKey(_._3)
      .flatMapGroupsWithState[BucketState, NearDup](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: String, it: Iterator[(Long, Seq[Long], String, java.sql.Timestamp)],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(BucketState(Nil)).docs
            val out = List.newBuilder[NearDup]
            val batch = it.toSeq
            // deterministic within-batch order: by doc_id
            batch.sortBy(_._1).foreach { case (id, s, _, _) =>
              val hit = seen.reverseIterator.collectFirst {
                // earliest stored doc whose signature matches enough
                case (oid, os) if {
                  var m = 0; var i = 0
                  while (i < k) { if (os(i) == s(i)) m += 1; i += 1 }
                  m.toDouble / k >= minEstSim && oid != id
                } =>
                  var m = 0; var i = 0
                  while (i < k) { if (os(i) == s(i)) m += 1; i += 1 }
                  NearDup(id, oid, m.toDouble / k)
              }
              hit.foreach(out += _)
              if (seen.size < maxStatePerBucket) seen = (id, s) :: seen
            }
            state.update(BucketState(seen))
            // expire the bucket one horizon past this batch's newest
            // event (NOT the pre-batch watermark, which starts at 0 and
            // would expire everything immediately)
            val maxMs = batch.iterator.map(_._4.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxMs, state.getCurrentWatermarkMs()) + 3600L * 1000)
            out.result().iterator
          }
      }
  }

  /** Streaming raster ingestion: a stream of scenes (UntiledRaster
    * schema) is tiled per micro-batch and appended to the catalog —
    * the readStream -> tiles -> store pipeline a live imagery feed
    * needs. foreachBatch reuses the exact batch tiling path, so batch
    * and streaming ingestion cannot diverge; readers merge duplicate
    * keys (Catalog.update contract).
    *
    * `compactEvery` > 0 runs [[graft.catalog.Catalog.compact]] on the
    * ingested zoom after every N non-empty micro-batches: appends
    * accumulate small files whose zindex ranges overlap, eroding the
    * min/max file skipping the store's extent queries rely on, so a
    * long-running ingestion periodically restores the canonical
    * z-ordered layout. Compaction happens inside foreachBatch (between
    * micro-batches), so readers never see a partial rewrite beyond
    * what Catalog.compact's dynamic partition overwrite already
    * guarantees, and only the touched zoom partition is rewritten. */
  def ingestScenes(scenes: DataFrame, uri: String, name: String,
                   layout: graft.core.LayoutDefinition, zoom: Int = 0,
                   compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.catalog.Catalog
    import graft.raster.{LayerMetadata, UntiledRaster}
    // scenes carrying an `instant` column (GeoTiff.fromGeoTiffTemporal
    // tag-306 parse) ingest as a TEMPORAL layer — each acquisition
    // stays its own (col, row, instant) frame in the store
    val temporal = scenes.columns.contains("instant")
    if (!Catalog.metadataExists(uri, name))
      Catalog.writeMetadata(uri, name, LayerMetadata(layout, temporal = temporal), zoom)
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    scenes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val tiled =
            if (temporal) UntiledRaster(batch).tileToLayoutTemporal(layout)
            else UntiledRaster(batch).tileToLayout(layout)
          Catalog.update(uri, name, tiled, zoom)
          if (compactEvery > 0 && appended.incrementAndGet() % compactEvery == 0) {
            // a concurrently-attached stream READER makes compaction
            // unsafe (it would re-emit rewritten files) — skip this
            // round instead of failing the ingestion query; the next
            // multiple retries after the reader detaches
            if (Catalog.hasStreamReaders(uri, name))
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"ingestScenes: skipping compaction of $uri/$name - stream reader attached")
            else Catalog.compact(batch.sparkSession, uri, name, zoom)
          }
        }
      }
      .start()
  }

  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, cnt: Long)
  final case class CusumState(s: Long)
  final case class CusumAlarm(user_id: Long, alarm_us: Long, s: Long)
  final case class FunnelState(reached: Int, t: Long)
  final case class FunnelStep(user_id: Long, step_idx: Int, us: Long)
  final case class LastEvent(us: Long, eid: Long, typ: String)
  final case class TransitionPair(from_type: String, to_type: String)

  /** Streaming twin of [[transitionMatrix]]: per-user state is only
    * the LAST event seen; each arriving adjacency emits one
    * (from, to) pair in append mode (the pair stream is then a plain
    * streaming groupBy count downstream). Micro-batch rows fold in
    * (event-time, event_id) order — the cusumStream discipline — so
    * transitions crossing micro-batch boundaries come out identical
    * to the batch window for in-order-by-watermark arrival.
    *
    * Late-arrival contract (r15): a row whose (event-time, event_id)
    * is NOT after the stored last event — one that arrived in a later
    * micro-batch than a newer event — is DROPPED, never emitted as an
    * out-of-order (last, old) pair; the batch twin would have placed
    * it mid-sequence, so equality holds exactly for arrival
    * out-of-orderness within one micro-batch (sorted away) and
    * degrades by omission, not corruption, beyond that. Per-user
    * state expires `ttlMs` (default [[TransitionStateTtlMs]]) of EVENT
    * time after the last event once the watermark passes it, bounding
    * state for churning user populations.
    *
    * Idle-gap contract: expiry also means a transition pair whose two
    * events are separated by MORE than `ttlMs` of event time is
    * dropped even under perfectly in-order arrival — once the
    * watermark passes last + ttl the state is gone, so the next event
    * starts a fresh sequence instead of emitting (last, next). The
    * batch twin has no such gap cut; batch/streaming equality
    * therefore holds only for sequences whose inter-event gaps are all
    * <= `ttlMs`. Raise `ttlMs` (event-time ms) to trade state size for
    * longer-gap fidelity. */
  val TransitionStateTtlMs: Long = 3600L * 1000
  def transitionStream(events: DataFrame,
                       ttlMs: Long = TransitionStateTtlMs): Dataset[TransitionPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      // keep the watermarked column in the projection — dropping it
      // disconnects the watermark from the stateful operator (the
      // sessionizeStream discipline)
      .select(col("user_id").as[Long], expr("ts div 1000").as[Long],
        col("event_id").as[Long], col("event_type").as[String],
        col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, TransitionPair](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
         state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption.orNull
            var out = List.empty[TransitionPair]
            rows.toArray.sortBy(r => (r._2, r._3)).foreach {
              case (_, us, eid, typ, _) =>
                // drop rows at-or-before the stored last event (late
                // cross-batch arrivals): see the scaladoc contract
                if (last == null || us > last.us ||
                    (us == last.us && eid > last.eid)) {
                  if (last != null) out = TransitionPair(last.typ, typ) :: out
                  last = LastEvent(us, eid, typ)
                }
            }
            if (last != null) {
              state.update(last)
              // expire once the watermark passes last + TTL (ms epoch)
              state.setTimeoutTimestamp(last.us / 1000 + ttlMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Streaming sessionization with explicit state — the
    * flatMapGroupsWithState path (spec-tested with a memory sink). */
  def sessionizeStream(events: DataFrame): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      // keep the watermarked column in the projection — dropping it
      // disconnects the watermark from the stateful operator
      .select(col("user_id").as[Long], expr("ts div 1000").as[Long],
              col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          // emit closed sessions; sorted-within-batch approximation
          val ts = rows.map(_._2).toArray.sorted
          var out = List.empty[SessionOut]
          var st = state.getOption.getOrElse(SessionState(-1, -1, 0))
          ts.foreach { t =>
            if (st.start < 0) st = SessionState(t, t, 1)
            else if (t - st.last > SessionGapUs) {
              out = SessionOut(user, st.start, st.last, st.n) :: out
              st = SessionState(t, t, 1)
            } else st = SessionState(st.start, t, st.n + 1)
          }
          state.update(st)
          out.reverseIterator
      }
  }
}
