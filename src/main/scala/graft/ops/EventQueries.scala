package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's seven declared query shapes
  * (`/root/reference/README.md:4-12`), re-targeted at the driver's
  * `events` table so the DuckDB oracle can check them end-to-end
  * (user_id ≈ client principal, event_type ≈ service, the `error`
  * event type ≈ failed requests). The same shapes run against parsed
  * KDC logs in [[graft.kdc.KdcQueries]]; here they are exercised at
  * driver scale factors with hash-compared results.
  *
  * Scale notes: every aggregation is a single-shuffle
  * partial→final HashAggregate; top-N plans as TakeOrderedAndProject
  * (O(n) scan + bounded heap per partition — no global sort at 100 TB);
  * timestamps reduce to min/max before leaving the scan stage.
  */
object EventQueries {

  /** Schema-adaptive events loader — the driver's testdata has shipped
    * ts as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds,
    * and this single seam absorbs either vintage:
    *  - NANOS: Spark 4 refuses the type outright
    *    ([PARQUET_TYPE_ILLEGAL]); our session builders set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` so ts arrives as a
    *    long, folded back to a µs timestamp here (integral DIV — ns
    *    values ≈1.7e18 overflow double math). ns→µs→ms truncation is
    *    consistently floor, so epoch-millis outputs agree with DuckDB.
    *  - MICROS: read natively as TIMESTAMP_NTZ and cast to the
    *    session-zone instant (every library session pins UTC, so the
    *    cast is value-preserving and matches the oracle's
    *    timezone-free `epoch_ms`). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(Tables(s, dir, "events"))

  /** The vintage seam itself, shared with the streaming reader
    * (StreamingPipeline.readEvents): long nanos fold to µs
    * timestamps, native NTZ casts to the session-zone instant. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** README #1: number of authentications per user. */
  def userAuthCount(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** README #2: first and last authentication per user (+count). */
  def userFirstLast(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        unix_millis(min(col("ts")).cast("timestamp")).as("first_ms"),
        unix_millis(max(col("ts")).cast("timestamp")).as("last_ms"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** README #3: number of requests per service (event_type). */
  def serviceCount(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** README #4: first and last use of a service. */
  def serviceFirstLast(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        unix_millis(min(col("ts")).cast("timestamp")).as("first_ms"),
        unix_millis(max(col("ts")).cast("timestamp")).as("last_ms"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** README #5: top-N users by event count (deterministic tie-break). */
  def topUsers(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(desc("n_events"), col("user_id"))
      .limit(10)

  /** [[topUsers]] through the real micro-batch engine: COMPLETE-mode
    * output is the one streaming mode that supports a global
    * sort+limit after the aggregation (append/update cannot order a
    * result that is still growing), so the engine's own
    * TakeOrdered runs inside the stream and the row shares the batch
    * oracle. Re-ordered after the drain only because a memory sink
    * table has no guaranteed row order. */
  def topUsersStreaming(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.readEvents(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(desc("n_events"), col("user_id")).limit(10),
      "top_users_stream", "complete", Seq("user_id"))
      .orderBy(desc("n_events"), col("user_id"))

  /** README #6: most common errors — `error` events bucketed by their
    * JSON `props.k` code. Exercises JSON extraction in the scan stage. */
  def commonErrors(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type") === "error")
      .withColumn("err_code", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("err_code"))
      .agg(count(lit(1)).as("n_errors"))
      .orderBy(desc("n_errors"), col("err_code"))

  /** README #7: users who use at most 3 distinct services. */
  def usersFewServices(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_services"))
      .filter(col("n_services") <= 3)
      .orderBy(col("user_id"))

  /** Composite-key aggregation (the enctype-variant shape,
    * `perl/kdcmapper-with-enctypes.pl:39-57`): per user × service. */
  def userServiceMatrix(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("user_id"), col("event_type"))

  /** Per-user running total of `value` in event-time order — windowed
    * flavor of the first/last tracking; frame grows row-by-row so the
    * float accumulation order is identical across engines. */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-user top-3 services by use count — per-group top-N via
    * row_number (README #5's grouped variant). */
  def topServicesPerUser(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(desc("n_events"), col("event_type"))
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("user_id"), col("rnk"))
  }

  /** Sessionization-adjacent: events per user per day (tumbling window
    * as date_trunc) — the batch twin of the streaming windowed agg. */
  def dailyUserActivity(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("day", date_format(col("ts").cast("timestamp"), "yyyy-MM-dd"))
      .groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("day"), col("user_id"))

  /** [[dailyUserActivity]] through the REAL Structured Streaming
    * micro-batch engine: event-time tumbling windows with a watermark
    * ([[graft.streaming.StreamingPipeline.dailyUserActivity]]), run
    * with an AvailableNow trigger into a memory sink so the
    * end-of-stream aggregate is a batch frame the driver oracle-checks
    * against the SAME GROUP BY SQL as the batch twin. Complete-mode
    * output keeps every window (append would hold back windows newer
    * than the final watermark), and windowed count is
    * arrival-order-free, so the result is deterministic. A continuous
    * deployment runs this exact plan with a processing-time trigger;
    * the watermark then bounds the window state store. */
  def dailyUserActivityStreaming(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.dailyUserActivity(
        graft.streaming.StreamingPipeline.readEvents(s, dir)),
      "daily_activity_stream", "complete", Seq("day", "user_id"))

  /** [[sessionWindowStats]] through the REAL micro-batch engine: the
    * native `session_window` STATE operator (merge-on-overlap session
    * store), AvailableNow one-shot, complete-mode output so sessions
    * still open at the final watermark are emitted too — which is
    * what lets the row share the batch twin's oracle verbatim. */
  def sessionWindowStatsStreaming(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.sessionWindowStats(
        graft.streaming.StreamingPipeline.readEvents(s, dir)),
      "session_window_stream", "complete", Seq("user_id", "first_ms"))

  /** The session-window semantics a THIRD way: custom per-user state
    * with EVENT-TIME TIMEOUTS
    * ([[graft.streaming.StreamingPipeline.sessionTimeoutStats]]) —
    * sessions close inline when the next event exceeds the gap, or by
    * state timeout once the watermark passes; the staggered sentinel
    * source (8 h/9 h ahead — past every possible last_ms + 6 h gap)
    * advances the watermark so ALL sessions time out before the drain.
    * Shares the batch session oracle verbatim, like the native
    * session_window twin. */
  def sessionTimeoutStatsStreaming(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.streaming.StreamingPipeline
    val src = sp.writeOuterSource(s, dir, hours = Seq(8, 9))
    try sp.runOneShot(
      sp.sessionTimeoutStats(sp.readEventsThrottled(s, src)).toDF(),
      "session_timeout_stream", "append", Seq("user_id", "first_ms"))
    finally graft.Scratch.delete(src)
  }

  /** Stream-stream interval join through the real micro-batch engine:
    * each purchase joined to the same user's clicks from the preceding
    * hour, watermarks on both sides bounding the join state
    * ([[graft.streaming.StreamingPipeline.purchasesWithRecentClicks]]).
    * INNER stream-stream joins emit each matching pair exactly once as
    * it matches — not gated on the watermark — so the AvailableNow
    * end-of-stream output is the complete deterministic pair set,
    * oracle-checkable as a plain batch self-join with the identical
    * micros-precision interval predicate. */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.purchasesWithRecentClicks(
        graft.streaming.StreamingPipeline.readEvents(s, dir)),
      "stream_interval_join", "append", Seq("purchase_id", "click_id"))

  /** Stream-stream LEFT OUTER interval join through the real
    * micro-batch engine — the watermark-gated flavor: unmatched
    * purchases emit with a NULL click only once both watermarks pass
    * their window, so the one-shot source appends far-future sentinel
    * events whose final micro-batch (plus the engine's no-data batch)
    * flushes every remaining row
    * ([[graft.streaming.StreamingPipeline.purchasesWithClicksOuter]]).
    * The drained result equals the batch LEFT JOIN exactly. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val src = graft.streaming.StreamingPipeline.writeOuterSource(s, dir)
    // the drained memory sink is materialized, so the scratch source
    // dir can go as soon as runOneShot returns — repeated driver runs
    // in a long-lived session must not grow disk unboundedly
    try graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.purchasesWithClicksOuter(
        graft.streaming.StreamingPipeline.readEventsThrottled(s, src)),
      "stream_outer_join", "append", Seq("purchase_id", "click_id"))
      // sentinel rows filter out POST-drain: in-stream the predicate
      // would push below the watermark operator (see the operator's
      // scaladoc) — here it's a plain batch filter
      .filter(col("purchase_id") >= 0)
      .orderBy(col("purchase_id"), col("click_id"))
    finally graft.Scratch.delete(src)
  }

  /** Streaming at-least-once dedup through the real micro-batch
    * engine: the source delivers every event TWICE (a doubled source
    * dir — the re-delivering-transport shape) and
    * `dropDuplicatesWithinWatermark` must collapse the stream back to
    * exactly the original event set, which is what the oracle checks
    * (it reads the ORIGINAL single-delivery table; event ids are
    * unique there, so any surviving duplicate or lost event
    * hash-fails the row). State is one entry per distinct id within
    * the watermark horizon — bounded at 100 TB/day. */
  def streamDedupDelivery(s: SparkSession, dir: String): DataFrame = {
    val src = graft.streaming.StreamingPipeline.writeDoubledSource(s, dir)
    try graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.dedupedEvents(
        graft.streaming.StreamingPipeline.readEventsAll(s, src))
        .select(col("event_id"), col("user_id"), col("event_type")),
      "stream_dedup_delivery", "append", Seq("event_id"))
    finally graft.Scratch.delete(src)
  }

  /** Gap-based sessionization: a new session starts after a >6h idle
    * gap. Two stacked windows (lag → boundary flag → running sum) and
    * one aggregation — the standard Spark sessionization plan; all
    * session arithmetic in epoch-millis bigints so the oracle compare
    * is exact. */
  def eventSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // windows order by (ms, event_id) — the exact ordering the oracle
    // uses, so sub-millisecond timestamp ties can't diverge
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gapMs = 6L * 3600 * 1000
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"),
        (max(col("ms")) - min(col("ms"))).as("duration_ms"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Array aggregation: per-user sorted distinct service list.
    * `collect_set` has nondeterministic order — `sort_array` makes the
    * result comparable across engines/runs (DuckDB mirror:
    * `list_sort(list(DISTINCT ...))`). The list is surfaced as a
    * comma-joined string: the driver's comparator hashes scalar cells
    * and cannot sort an `array<string>` column, and the string carries
    * the identical information (elements are service names, no commas). */
  def userServiceList(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("services"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Pivot (long → wide): per-user event counts, one column per event
    * type. The value list is EXPLICIT — pivot without it runs a
    * distinct-values job over the fact table first and caps at
    * `spark.sql.pivotMaxValues`; with it the pivot compiles straight
    * to conditional aggregation (exactly the oracle's CASE sums),
    * single shuffle on user_id. */
  def eventTypePivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // scoped to the pivoted columns: an unscoped fill would also
      // rewrite a NULL user_id group key to 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy(col("user_id"))

  /** Unpivot (wide → long): melts the pivot back to (user_id,
    * event_type, n_events); dropping the fill-zero cells makes the
    * round trip exactly the long-form groupBy, which is the oracle. */
  def eventTypeUnpivot(s: SparkSession, dir: String): DataFrame =
    eventTypePivot(s, dir)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"),
          col("signup"), col("view")),
        "event_type", "n_events")
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"), col("event_type"))

  /** CUBE over event dimensions with subtotals on both axes. */
  def eventCube(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("day_of_week", date_format(col("ts"), "EEEE"))
      .cube(col("event_type"), col("day_of_week"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day_of_week"))

  /** Ordered funnel conversion over the event stream: users who
    * signed up, then VIEWED at or after their signup, then CLICKED at
    * or after that view, then PURCHASED at or after that click — the
    * classic product-analytics funnel with strict temporal ordering
    * (each stage's anchor is the EARLIEST qualifying event, computed
    * stage-by-stage: min-of-qualifying is the standard greedy
    * anchoring and maximizes downstream conversion) and a bounded
    * conversion window — each step must follow the previous anchor
    * within `windowMs` (24 h default), which is what makes the funnel
    * discriminate instead of converging to "everyone eventually did
    * everything". One count per step, assembled as a single lazy plan.
    *
    * Scale posture: every stage is a user-keyed join + min-aggregate —
    * co-partitioned after the first shuffle; stage k's lineage
    * replays stages 1..k-1 (k ≤ 4 here; a long funnel would persist
    * the stage frames). No windows, no collect. */
  def funnelConversion(s: SparkSession, dir: String,
                       steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
                       windowMs: Long = 86400000L): DataFrame = {
    require(steps.nonEmpty)
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val stages = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = ev.filter(col("event_type") === step)
        val qualified = prev match {
          case None => mine
          case Some(p) =>
            mine.join(p.select(col("user_id"), col("t").as("tprev")), "user_id")
              .filter(col("ms") >= col("tprev") && col("ms") <= col("tprev") + windowMs)
        }
        Some(qualified.groupBy(col("user_id")).agg(min(col("ms")).as("t")))
    }.flatten
    stages.zip(steps).zipWithIndex.map { case ((stage, step), i) =>
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(step).as("step"), col("n_users"))
    }.reduce(_ unionByName _).orderBy(col("step_idx"))
  }

  /** Cohort retention: users grouped by the DAY of their first event,
    * then distinct active users per (cohort day, day offset) — the
    * standard retention triangle. Two user-keyed shuffles (first-day
    * aggregate, join back) plus the (cohort, offset) count; dates are
    * UTC calendar days on both engines. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .withColumn("offset_days", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"), col("n_users"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  /** Stream-STATIC join through the micro-batch engine: the streaming
    * event feed enriched against a BATCH dimension (each user's
    * first-ever event time, computed from the batch table) — the
    * lookup/enrichment shape every streaming deployment runs, and the
    * remaining §2.10 join flavor (stream-stream is
    * [[streamIntervalJoin]]). Stream-static inner joins are STATELESS
    * (the static side is just re-planned per micro-batch; no
    * watermark, no state store), so the output is the complete
    * deterministic join result. Surfaces per event the ms elapsed
    * since its user's first batch-known event, aggregated per user to
    * keep the sink bounded. */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = events(s, dir)
      .groupBy(col("user_id"))
      .agg(unix_millis(min(col("ts"))).as("first_ms"))
    val src = graft.streaming.StreamingPipeline.readEvents(s, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val enriched = src.join(dim, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ms") - col("first_ms")).as("max_age_ms"))
    graft.streaming.StreamingPipeline.runOneShot(
      enriched, "stream_static_enrich", "complete", Seq("user_id"))
  }

  /** Per-user gap sessions via Spark's NATIVE `session_window`
    * operator (merge-on-overlap session aggregation — the engine
    * feature, vs [[eventSessions]]' hand-rolled lag/running-sum
    * formulation of the same semantics; the two cross-check each
    * other through their independent oracles). A session closes when
    * the next event arrives MORE than `gap` after the previous one —
    * the engine's window end (= last event + gap) is INCLUSIVE
    * (spec-pinned on an exact-gap fixture), so the oracle CTE starts
    * a new session exactly on `diff > gap`, evaluated at
    * MICROsecond precision (the operator compares micros timestamps;
    * an epoch-ms oracle would disagree on a sub-ms boundary straddle).
    * Output per session: start/end of the observed event range
    * (epoch-millis) and the event count. */
  def sessionWindowStats(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("first_ms"),
        unix_millis(max(col("ts"))).as("last_ms"))
      .select(col("user_id"), col("first_ms"), col("last_ms"), col("n_events"))
      .orderBy(col("user_id"), col("first_ms"))

  /** Daily error rate with a 7-CALENDAR-DAY trailing moving average —
    * the monitoring shape (bounded window frame, unlike
    * running_total's unbounded one). The frame is a RANGE over the
    * day ORDINAL (days since epoch), not a ROWS frame over observed
    * rows: on data with a zero-event gap day, a 7-row frame silently
    * reaches back 8+ calendar days. The window runs over the DAILY
    * AGGREGATE (one row per calendar day — grows with time, not data
    * volume), so the partition-less ordering is a deliberate
    * non-issue: its input is already tiny at any corpus scale. Rates
    * divide exact integer counts — deterministic cross-engine — and
    * the trailing average divides the frame SUMS (never averages the
    * rates, which would weight days equally regardless of traffic). */
  def dailyErrorRate(s: SparkSession, dir: String): DataFrame = {
    val daily = FrameGuard.assertCalendarBounded(
      events(s, dir)
        .withColumn("d", col("ts").cast("date"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
        .withColumn("dayn", datediff(col("d"), to_date(lit("1970-01-01"))).cast("long")),
      "daily_error_rate")
    // deliberately unpartitioned (WindowExec warns): the trailing-7
    // range frame runs on the calendar-bounded day aggregate — an
    // invariant FrameGuard above enforces at runtime, at any scale
    val w = Window.orderBy(col("dayn")).rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("rate", round(col("n_errors") / col("n_events"), 4))
      .withColumn("trailing7",
        round(sum(col("n_errors")).over(w) / sum(col("n_events")).over(w), 4))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("n_errors"), col("rate"), col("trailing7"))
      .orderBy(col("day"))
  }

  /** The stateful first/last/count kernel
    * ([[graft.streaming.StreamingPipeline.userFirstLast]],
    * flatMapGroupsWithState — the engine's custom-state API, the
    * streaming twin of the reference's combiner/reducer pair) through
    * the REAL micro-batch engine and the driver gate. Update mode
    * emits a row per touched user per batch; the drain folds the sink
    * to each user's CONVERGED state by max event count (n is strictly
    * increasing per user, so the fold is batch-count-independent),
    * which must equal the batch aggregate exactly. */
  def userFirstLastStreamingStateful(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.userFirstLast(
        graft.streaming.StreamingPipeline.readEvents(s, dir)).toDF(),
      "ufl_stateful_stream", "update", Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("first_ms"), col("last_ms"))).as("st"))
      .select(col("user_id"), col("st.first_ms").as("first_ms"),
        col("st.last_ms").as("last_ms"), col("st.n").as("n_events"))
      .orderBy(col("user_id"))

  /** Per-user trailing-1-hour value sum at every event — a RANGE
    * window frame over event-time millis (every other frame in the
    * suite is ROWS-based; RANGE frames bound by a time interval are
    * the rate-limit / rolling-exposure shape). The summed values are
    * cast to DECIMAL(12,2) first: a float sum's within-frame order is
    * engine-internal, decimal addition is exact and order-free — the
    * same ruling as the money aggregates. */
  def trailingHourValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, Window.currentRow)
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("v2", col("value").cast("decimal(12,2)"))
      .withColumn("hour_sum", sum(col("v2")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("ms"),
        round(col("hour_sum"), 2).as("hour_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Equi-width 10-bin histogram of `value` per event type (bounds
    * from each type's own min/max — the profiling/reporting shape).
    * Bin arithmetic is plain IEEE double ops over exact inputs, so
    * both engines bin identically; the degenerate all-equal-values
    * type (width 0) collapses to bin 0. NULL values are excluded on
    * BOTH sides (a histogram of values has no NULL bin; and a NULL
    * bin's position would hinge on engine NULL-ordering defaults —
    * Spark sorts NULLS FIRST, DuckDB LAST). */
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    val bounds = events(s, dir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    events(s, dir)
      .filter(col("value").isNotNull)
      .join(broadcast(bounds), "event_type")
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * 10).cast("long"),
            lit(9L))))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** The [[streamStaticEnrich]] join under SALTING
    * ([[SkewUtils.saltedJoin]]): big side salted, dim side replicated
    * nSalts×, joined on (user_id, salt) — the static fallback for a
    * hot key one reducer can't hold even after AQE's runtime split.
    * Same oracle SHAPE as the plain join: salting must be invisible
    * in output. */
  def userEnrichSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
    val dim = ev.groupBy(col("user_id")).agg(min(col("ms")).as("first_ms"))
    SkewUtils.saltedJoin(ev, dim, "user_id", nSalts = 8)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ms") - col("first_ms")).as("max_age_ms"))
      .orderBy(col("user_id"))
  }

  /** The same enrichment with the salt decision driven by the
    * MEASURED key profile ([[SkewUtils.adaptiveSaltedJoin]]) instead
    * of the caller: one profile pass over the fact side, salt only
    * when the hottest key exceeds 4× the mean per-reducer load. On
    * this corpus user_id is near-uniform (max key ≈ mean), so the
    * row demonstrates the DON'T-salt branch — the plan must not pay
    * the salt constant (no __salt column, no 8× dim replication;
    * SkewUtilsSpec pins both branches on planted inputs; the
    * planted-skew probe run that shows the other branch engaging at
    * volume is in PLAN_NOTES.md, and its tool can be recovered from
    * commit 6ed6a13). Oracle = the plain-join SQL, shared with the static
    * row — the decision must be output-invisible by construction. */
  def userEnrichAdaptive(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
    val dim = ev.groupBy(col("user_id")).agg(min(col("ms")).as("first_ms"))
    SkewUtils.adaptiveSaltedJoin(ev, dim, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ms") - col("first_ms")).as("max_age_ms"))
      .orderBy(col("user_id"))
  }

  /** Mergeable per-user rollup: count, min/max epoch-ms, and an exact
    * 9dp-decimal value sum — every field merges associatively, which
    * is the property incremental maintenance needs. */
  private def userStatsAgg(df: DataFrame): DataFrame =
    df.select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("first_ms"),
        max(col("ms")).as("last_ms"),
        sum(round(col("value"), 9).cast("decimal(20,9)")).as("sv"))

  /** Fold a batch's partial aggregate into persisted state with one
    * per-key full-outer merge. `least`/`greatest` skip NULLs, decimal
    * sums are exact — merged state is BIT-IDENTICAL to a full
    * recompute, regardless of how history was split into batches. */
  private def mergeUserStats(state: DataFrame, batch: DataFrame): DataFrame = {
    val st = state.select(col("user_id"), col("n_events").as("n1"),
      col("first_ms").as("f1"), col("last_ms").as("l1"), col("sv").as("s1"))
    val ba = batch.select(col("user_id"), col("n_events").as("n2"),
      col("first_ms").as("f2"), col("last_ms").as("l2"), col("sv").as("s2"))
    st.join(ba, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_events"),
        least(col("f1"), col("f2")).as("first_ms"),
        greatest(col("l1"), col("l2")).as("last_ms"),
        // both-NULL must STAY NULL (a user whose every value is NULL
        // sums to NULL in a full recompute — coalescing to 0 would
        // diverge from the oracle); one-sided NULL folds to the
        // present side
        when(col("s1").isNull && col("s2").isNull, lit(null).cast("decimal(20,9)"))
          .otherwise(coalesce(col("s1"), lit(0).cast("decimal(20,9)")) +
            coalesce(col("s2"), lit(0).cast("decimal(20,9)"))).as("sv"))
  }

  /** Incremental aggregate maintenance — the production rollup shape
    * at 100 TB: historical state is PERSISTED once (parquet keyed by
    * user) and each arriving batch folds in with a state-sized outer
    * merge, so the per-ingest cost is O(batch + state keys), never a
    * recompute over the full corpus. The driver row splits events
    * into history (event_id % 4 != 0, written to scratch as state)
    * and a batch (the rest), merges, and must equal the PLAIN
    * full-corpus GROUP BY — the oracle can't see the split, so any
    * merge defect (null handling, double-count, float drift) is a
    * hash mismatch. */
  def userStatsIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val path = graft.Scratch.dir(s, "user_stats_state")
    userStatsAgg(ev.filter(col("event_id") % 4 =!= 0))
      .write.mode("overwrite").parquet(path)
    val merged = mergeUserStats(s.read.parquet(path),
      userStatsAgg(ev.filter(col("event_id") % 4 === 0)))
    merged.select(col("user_id"), col("n_events"), col("first_ms"),
        col("last_ms"), col("sv").cast("double").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Per-user exponentially-weighted moving average of `value`
    * (s_i = 0.2·v_i + 0.8·s_{i-1}, seeded at 0) — a SEQUENTIAL
    * recurrence no window frame expresses. Formulated as an ordered
    * higher-order `aggregate` fold over each user's collected events:
    * per-key sequential state over a BOUNDED per-user list (event
    * counts per user, not corpus size; the unbounded-stream flavor of
    * this shape is the flatMapGroupsWithState row). Every fold step
    * re-rounds to 9dp, so the float recurrence is a chain of
    * deterministic IEEE ops on identical inputs in both engines —
    * order is pinned by the (ms, event_id) sort, not by partitioning. */
  def userValueEwma(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("ms"), col("event_id"), col("value"))))
          .as("xs"))
      .select(col("user_id"), col("n_events"),
        aggregate(col("xs"), lit(0.0),
          (acc, x) => round(lit(0.2) * x.getField("value") + lit(0.8) * acc, 9))
          .as("ewma"))
      .orderBy(col("user_id"))

  /** Quantile-bucket feature assignment: exact per-type quartile
    * thresholds (one aggregate), broadcast back to the scan, each
    * event bucketed 1-4 by comparison — aggregate → broadcast →
    * scan-stage assignment, the binning shape that avoids any per-row
    * window. Thresholds are rounded to 4dp on BOTH engines before
    * comparing (the interpolated percentile itself is only proven
    * cross-engine-identical at 4dp by the value_percentiles row; raw
    * ulps could flip a boundary event). */
  def valueQuartileAssign(s: SparkSession, dir: String): DataFrame = {
    val v = events(s, dir).filter(col("value").isNotNull)
    val th = v.groupBy(col("event_type").as("et"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(col("et"), round(element_at(col("p"), 1), 4).as("p25"),
        round(element_at(col("p"), 2), 4).as("p50"),
        round(element_at(col("p"), 3), 4).as("p75"))
    v.join(broadcast(th), col("event_type") === col("et"))
      .withColumn("bucket",
        when(col("value") <= col("p25"), 1L)
          .when(col("value") <= col("p50"), 2L)
          .when(col("value") <= col("p75"), 3L)
          .otherwise(4L))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Exact interpolated percentiles of `value` per event type. */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(col("event_type"),
        round(element_at(col("p"), 1), 4).as("p25"),
        round(element_at(col("p"), 2), 4).as("p50"),
        round(element_at(col("p"), 3), 4).as("p75"))
      .orderBy(col("event_type"))

  /** Approximate percentiles via the engine's mergeable quantile
    * sketch (`percentile_approx`, Greenwald-Khanna) — single pass,
    * bounded memory, mergeable across partitions, no sort. Sketch
    * internals are engine-private, so since round 9 this is a
    * PROPERTY-TEST surface only (JoinOpsSpec bounds the rank error
    * against the exact interpolated percentiles at two scale factors;
    * accuracy 10000 ⇒ rank error ≤ n/10000); the
    * `approx_value_percentiles` driver row runs the deterministic
    * bottom-k-sample estimator
    * ([[Sketches.sampledValuePercentiles]]) instead, which shares the
    * bounded/mergeable scale posture AND hash-checks against DuckDB. */
  def approxValuePercentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile_approx(value, array(0.25D, 0.5D, 0.75D), 10000)").as("p"))
      .select(col("event_type"),
        element_at(col("p"), 1).as("p25"),
        element_at(col("p"), 2).as("p50"),
        element_at(col("p"), 3).as("p75"))
      .orderBy(col("event_type"))

  /** HLL sketch cardinality (single pass, mergeable, no distinct
    * shuffle). Sketch registers are engine-specific, so since round 9
    * this is a PROPERTY-TEST surface only (the spec asserts ≤5%
    * relative error against the exact count at two scale factors);
    * the `approx_user_cardinality` driver row runs the deterministic
    * per-group KMV estimator ([[Sketches.kmvUserCardinalityByType]])
    * instead — same bounded mergeable-state shape, fully
    * hash-checked. rsd = 0.02 (≈2700 registers, a few KB per group) rather
    * than the 0.05 default, which is a STANDARD DEVIATION — at 0.05
    * a >5% miss is a coin flip per group and was observed at sf0.1;
    * 0.02 leaves the 5% contract ≈2.5σ of headroom while the sketch
    * stays trivially broadcast/merge-sized. */
  def approxUserCardinality(s: SparkSession, dir: String): DataFrame =
    approxUserCardinalityOn(events(s, dir))

  /** Generic variant over any frame with (event_type, user_id) — the
    * 10×-cardinality error-bound spec replicates events through this. */
  def approxUserCardinalityOn(ev: DataFrame): DataFrame =
    ev
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** The HLL register sketch as an EXPLICITLY-ESTIMATE driver row
    * (round-9 verdict item 7): the estimate itself is engine-private
    * (register state is not reproducible in DuckDB), but its ERROR
    * CONTRACT is checkable — the row surfaces the exact per-type
    * cardinality (hash-checked) plus a boolean
    * |est − exact| ≤ 5%·exact that the oracle pins TRUE. rsd = 0.02
    * leaves the 5% contract ≈2.5σ of headroom (see
    * [[approxUserCardinality]]); the register merge is a per-register
    * max — commutative/associative — so the boolean is
    * partition-count-invariant. The HLL itself remains the 100 TB
    * posture: single pass, KB-sized mergeable state, no distinct
    * shuffle. */
  def hllCardinalityChecked(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx") - col("exact_users")) <=
          lit(0.05) * col("exact_users")).as("within_bound"))
      .orderBy(col("event_type"))

  /** The GK quantile sketch (`percentile_approx`) as an
    * EXPLICITLY-ESTIMATE driver row: GK with accuracy a carries a
    * DETERMINISTIC worst-case RANK-error guarantee ≤ n/a that
    * survives any merge order, so the check is rank-based — the
    * returned value must be an element whose rank interval overlaps
    * [p·n − n/a − 1, p·n + n/a + 1] (the ±1 absorbs the ceil-vs-floor
    * rank convention; a value-band check against interpolated exact
    * percentiles is WRONG at small n, where the guaranteed band is
    * sub-row and interpolation lands between elements). Ranks come
    * from one re-scan counting values strictly-below / at-or-below
    * each estimate (3 scalars per group through a broadcast of the
    * ≤3-rows-per-group estimates — an audit-row-only pass; the
    * production operator is the single-pass sketch alone). The oracle
    * pins every boolean TRUE alongside the exact group sizes. */
  def gkPercentilesChecked(s: SparkSession, dir: String,
                           accuracy: Int = 10000): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75)
    val ev = events(s, dir).select(col("event_type"), col("value"))
    val g = ev.groupBy(col("event_type"))
      .agg(
        expr(s"percentile_approx(value, array(${ps.mkString("D, ")}D), $accuracy)").as("ap"),
        count(lit(1)).as("n_events"))
    val bands = g.select(col("event_type"), col("n_events"),
      posexplode(col("ap")).as(Seq("i", "apv")))
    val pArr = array(ps.map(lit): _*)
    ev.join(broadcast(bands), Seq("event_type"))
      .groupBy(col("event_type"), col("i"), col("n_events"))
      .agg(
        sum(when(col("value") < col("apv"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(col("value") <= col("apv"), 1L).otherwise(0L)).as("cnt_le"))
      .withColumn("p", element_at(pArr, (col("i") + 1).cast("int")))
      .withColumn("tol", col("n_events") / lit(accuracy.toDouble) + lit(1.0))
      .withColumn("within",
        col("cnt_lt") <= col("p") * col("n_events") + col("tol") &&
          col("cnt_le") >= col("p") * col("n_events") - col("tol"))
      .groupBy(col("event_type"), col("n_events"))
      .agg(
        (max(when(col("i") === 0, col("within").cast("int"))) === 1).as("p25_in_band"),
        (max(when(col("i") === 1, col("within").cast("int"))) === 1).as("p50_in_band"),
        (max(when(col("i") === 2, col("within").cast("int"))) === 1).as("p75_in_band"))
      .select(col("event_type"), col("n_events"),
        col("p25_in_band"), col("p50_in_band"), col("p75_in_band"))
      .orderBy(col("event_type"))
  }

  /** Salted variant of the flagship per-user first/last/count — same
    * answer as userFirstLast through a skew-proof two-stage plan
    * (checked by the same oracle SQL as user_first_last). */
  def userFirstLastSalted(s: SparkSession, dir: String): DataFrame =
    SkewUtils.saltedUserTimes(
        events(s, dir).withColumn("ms", unix_millis(col("ts"))).select("user_id", "ms"),
        "user_id", "ms")
      .select(col("user_id"), col("first_ts").as("first_ms"),
        col("last_ts").as("last_ms"), col("n").as("n_events"))
      .orderBy(col("user_id"))

  /** Schema'd JSON parsing (JsonToStructs — the typed sibling of
    * common_errors' get_json_object path): per-type stats of props.k. */
  def propsTyped(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("p", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy(col("event_type"))
      .agg(
        count(col("p.k")).as("n_with_k"),
        min(col("p.k")).as("min_k"),
        max(col("p.k")).as("max_k"))
      .orderBy(col("event_type"))

  /** The reference's Combiner/Reducer pair as a typed
    * `Aggregator[IN, BUF, OUT]` (SURVEY.md §2.9) — same merge
    * semantics as UserTimeRec with the corrected min/max, registered
    * as a UDAF and checked by the same oracle as user_first_last. */
  def userFirstLastTyped(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("user_times",
      org.apache.spark.sql.functions.udaf(UserTimesAgg))
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .groupBy(col("user_id"))
      .agg(expr("user_times(ms)").as("ut"))
      .select(col("user_id"), col("ut.first_ms").as("first_ms"),
        col("ut.last_ms").as("last_ms"), col("ut.n").as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Shared by the streaming enrich row and its salted-join twin:
    * same join semantics, one oracle — an edit to one cannot leave
    * the other stale. */
  private val enrichOracle: String =
    """WITH dim AS (SELECT user_id, epoch_ms(min(ts)) AS first_ms FROM events GROUP BY user_id)
      |SELECT e.user_id, count(*) AS n_events,
      |       max(epoch_ms(e.ts) - d.first_ms) AS max_age_ms
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  /** Shared by the batch and streaming session-window rows: both run
    * the same 6h-gap semantics, so one oracle checks both. */
  private val sessionWindowOracle: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |o AS (SELECT user_id, us,
      |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
      |      FROM ev),
      |f AS (SELECT user_id, us,
      |        CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000 THEN 1 ELSE 0 END AS is_new
      |      FROM o),
      |g AS (SELECT user_id, us,
      |        sum(is_new) OVER (PARTITION BY user_id ORDER BY us
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM f)
      |SELECT user_id, min(us) // 1000 AS first_ms, max(us) // 1000 AS last_ms,
      |       count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, first_ms""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "props_typed" -> QueryDef(propsTyped, Some(
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "user_first_last_typed" -> QueryDef(userFirstLastTyped, Some(
      "SELECT user_id, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "event_sessions" -> QueryDef(eventSessions, Some(
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ms,
        |         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 21600000 THEN 1 ELSE 0 END AS is_new
        |  FROM base),
        |numbered AS (
        |  SELECT user_id, ms,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ms) AS start_ms, max(ms) AS end_ms,
        |       max(ms) - min(ms) AS duration_ms
        |FROM numbered GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)),
    // FILTER mirrors Spark's collect_set, which drops NULL elements
    // (DuckDB's list(DISTINCT ..) would retain them)
    "user_service_list" -> QueryDef(userServiceList, Some(
      // coalesce: an all-NULL-event_type user yields NULL from the
      // FILTERed list in DuckDB but '' from Spark's collect_set-drops-
      // nulls + concat_ws — pin the '' semantics on both sides
      "SELECT user_id, coalesce(array_to_string(list_sort(list(DISTINCT event_type) FILTER (event_type IS NOT NULL)), ','), '') AS services, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "event_type_pivot" -> QueryDef(eventTypePivot, Some(
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "event_type_unpivot" -> QueryDef(eventTypeUnpivot, Some(
      "SELECT user_id, event_type, count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY user_id, event_type")),
    "event_cube" -> QueryDef(eventCube, Some(
      """SELECT event_type, strftime(ts, '%A') AS day_of_week, count(*) AS n_events
        |FROM events GROUP BY CUBE(event_type, strftime(ts, '%A'))
        |ORDER BY event_type NULLS FIRST, day_of_week NULLS FIRST""".stripMargin)),
    "stream_static_enrich" -> QueryDef((s, d) => streamStaticEnrich(s, d),
      Some(enrichOracle)),
    "session_window_stats" -> QueryDef((s, d) => sessionWindowStats(s, d),
      Some(sessionWindowOracle)),
    // the streaming twin runs the SAME semantics through the native
    // session_window state operator, so it shares the oracle verbatim
    "session_window_stats_streaming" -> QueryDef(sessionWindowStatsStreaming,
      Some(sessionWindowOracle)),
    // the THIRD formulation of the same sessions — custom state +
    // event-time timeouts — also shares the oracle verbatim
    "session_timeout_stats_streaming" -> QueryDef(sessionTimeoutStatsStreaming,
      Some(sessionWindowOracle)),
    "daily_error_rate" -> QueryDef((s, d) => dailyErrorRate(s, d), Some(
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS d,
         |         count(*) AS n_events,
         |         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors
         |  FROM events GROUP BY 1),
         |dn AS (SELECT *, date_diff('day', DATE '1970-01-01', d) AS dayn FROM daily)
         |SELECT strftime(d, '%Y-%m-%d') AS day, n_events, n_errors,
         |  ${graft.OracleSql.round("CAST(n_errors AS DOUBLE) / n_events", 4)} AS rate,
         |  ${graft.OracleSql.round(
            "CAST(sum(n_errors) OVER w AS DOUBLE) / sum(n_events) OVER w", 4)} AS trailing7
         |FROM dn
         |WINDOW w AS (ORDER BY dayn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY day""".stripMargin)),
    "user_first_last_streaming_stateful" -> QueryDef(
      (s, d) => userFirstLastStreamingStateful(s, d), Some(
        "SELECT user_id, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "funnel_conversion" -> QueryDef((s, d) => funnelConversion(s, d), Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s1 AS (SELECT user_id, min(ms) AS t FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ms) AS t FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ms >= s1.t AND e.ms <= s1.t + 86400000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ms) AS t FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ms >= s2.t AND e.ms <= s2.t + 86400000 GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ms) AS t FROM ev e JOIN s3 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ms >= s3.t AND e.ms <= s3.t + 86400000 GROUP BY e.user_id)
        |SELECT 1 AS step_idx, 'signup' AS step, (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
        |ORDER BY step_idx""".stripMargin)),
    "cohort_retention" -> QueryDef((s, d) => cohortRetention(s, d), Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       date_diff('day', f.cohort_day, ev.day) AS offset_days,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, offset_days""".stripMargin)),
    "trailing_hour_value" -> QueryDef((s, d) => trailingHourValue(s, d), Some(
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(12,2)) AS v2 FROM events)
        |SELECT user_id, event_id, ms,
        |  round(CAST(sum(v2) OVER (PARTITION BY user_id ORDER BY ms
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS hour_sum
        |FROM ev ORDER BY user_id, event_id""".stripMargin)),
    "value_histogram" -> QueryDef((s, d) => valueHistogram(s, d), Some(
      """WITH b AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |  CASE WHEN b.vmax = b.vmin THEN 0
        |       ELSE least(CAST(floor((e.value - b.vmin) / (b.vmax - b.vmin) * 10) AS BIGINT), 9) END AS bin,
        |  count(*) AS n
        |FROM events e JOIN b USING (event_type)
        |WHERE e.value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)),
    // each fold step re-rounds via the shortest-repr recipe at scale
    // 28 (EWMA values can sit below 1 with long shortest reprs — the
    // same sub-unit double-rounding hazard Graph.roundDecSub documents)
    "user_value_ewma" -> QueryDef(userValueEwma, Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT user_id, count(*) AS n_events,
        |        list(value ORDER BY ms, event_id) AS xs
        |      FROM ev GROUP BY 1)
        |SELECT user_id, n_events,
        |  list_reduce([CAST(0 AS DOUBLE)] || xs, (acc, x) ->
        |    CAST(round(CAST(CAST(0.2 * x + 0.8 * acc AS VARCHAR) AS DECIMAL(38,28)), 9) AS DOUBLE)) AS ewma
        |FROM l ORDER BY user_id""".stripMargin)),
    "user_enrich_salted" -> QueryDef(userEnrichSalted, Some(enrichOracle)),
    // measurement-driven salt decision, same join semantics → same oracle
    "user_enrich_adaptive" -> QueryDef(userEnrichAdaptive, Some(enrichOracle)),
    "user_stats_incremental" -> QueryDef(userStatsIncremental, Some(
      s"""SELECT user_id, count(*) AS n_events,
         |  min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms,
         |  CAST(sum(${graft.OracleSql.roundDecSub("value", 9)}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "value_quartile_assign" -> QueryDef(valueQuartileAssign, Some(
      s"""WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |th AS (SELECT event_type AS et,
         |         ${graft.OracleSql.round("quantile_cont(value, 0.25)", 4)} AS p25,
         |         ${graft.OracleSql.round("quantile_cont(value, 0.5)", 4)} AS p50,
         |         ${graft.OracleSql.round("quantile_cont(value, 0.75)", 4)} AS p75
         |       FROM v GROUP BY 1)
         |SELECT event_type,
         |  CAST(CASE WHEN value <= p25 THEN 1 WHEN value <= p50 THEN 2
         |       WHEN value <= p75 THEN 3 ELSE 4 END AS BIGINT) AS bucket,
         |  count(*) AS n
         |FROM v JOIN th ON event_type = et
         |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin)),
    "value_percentiles" -> QueryDef(valuePercentiles, Some(
      s"""SELECT event_type,
         |  ${graft.OracleSql.round("quantile_cont(value, 0.25)", 4)} AS p25,
         |  ${graft.OracleSql.round("quantile_cont(value, 0.5)", 4)} AS p50,
         |  ${graft.OracleSql.round("quantile_cont(value, 0.75)", 4)} AS p75
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // Round 9: both approx rows moved off engine-private register
    // sketches (HLL / GK — each kept as an error-bound property test
    // on approxUserCardinality / approxValuePercentiles) onto
    // deterministic k-min-set constructions, making them full DuckDB
    // hash checks — the last two rows-only queries, closed.
    "approx_user_cardinality" -> QueryDef(
      (s, d) => Sketches.kmvUserCardinalityByType(s, d),
      Some(Sketches.kmvUsersByTypeOracleSql())),
    "approx_value_percentiles" -> QueryDef(
      (s, d) => Sketches.sampledValuePercentiles(s, d),
      Some(Sketches.sampledValuePctOracleSql())),
    // Round 10 (verdict item 7): the register sketches themselves
    // return to the driver surface as explicitly-estimate rows — the
    // estimate is engine-private, but its error CONTRACT plus the
    // exact reference values hash-check. No orphaned operator surface:
    // every shipped sketch path is driver-visible again.
    "approx_user_cardinality_hll_bound" -> QueryDef(hllCardinalityChecked, Some(
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "approx_value_percentiles_gk_bound" -> QueryDef(
      (s, d) => gkPercentilesChecked(s, d), Some(
        """SELECT event_type, count(*) AS n_events,
          |  TRUE AS p25_in_band, TRUE AS p50_in_band, TRUE AS p75_in_band
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "user_first_last_salted" -> QueryDef(userFirstLastSalted, Some(
      "SELECT user_id, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "user_auth_count" -> QueryDef(userAuthCount, Some(
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "user_first_last" -> QueryDef(userFirstLast, Some(
      "SELECT user_id, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id")),
    "service_count" -> QueryDef(serviceCount, Some(
      "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type ORDER BY event_type")),
    "service_first_last" -> QueryDef(serviceFirstLast, Some(
      "SELECT event_type, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms, count(*) AS n_events FROM events GROUP BY event_type ORDER BY event_type")),
    "top_users" -> QueryDef(topUsers, Some(
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10")),
    // the 10th streaming row: complete-mode global sort+limit inside
    // the micro-batch engine, same oracle as the batch twin
    "top_users_streaming" -> QueryDef(topUsersStreaming, Some(
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10")),
    "common_errors" -> QueryDef(commonErrors, Some(
      "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS err_code, count(*) AS n_errors FROM events WHERE event_type = 'error' GROUP BY 1 ORDER BY n_errors DESC, err_code")),
    "users_few_services" -> QueryDef(usersFewServices, Some(
      "SELECT user_id, count(DISTINCT event_type) AS n_services FROM events GROUP BY user_id HAVING count(DISTINCT event_type) <= 3 ORDER BY user_id")),
    "user_service_matrix" -> QueryDef(userServiceMatrix, Some(
      s"SELECT user_id, event_type, count(*) AS n_events, ${graft.OracleSql.round("sum(value)", 2)} AS sum_value FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type")),
    "running_total" -> QueryDef(runningTotal, Some(
      s"SELECT user_id, event_id, ${graft.OracleSql.round("sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS running_value FROM events ORDER BY user_id, event_id")),
    "top_services_per_user" -> QueryDef(topServicesPerUser, Some(
      """SELECT user_id, event_type, n_events, rnk FROM (
        |  SELECT user_id, event_type, count(*) AS n_events,
        |         row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rnk
        |  FROM events GROUP BY user_id, event_type) t
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin)),
    "daily_user_activity" -> QueryDef(dailyUserActivity, Some(
      "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id, count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY day, user_id")),
    "daily_user_activity_streaming" -> QueryDef(dailyUserActivityStreaming, Some(
      "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id, count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY day, user_id")),
    // the join predicate runs at MICROsecond precision on both engines
    // (Spark timestamps are micros; epoch_us truncates the parquet
    // nanos identically) — an epoch_ms predicate would disagree on
    // pairs whose true gap straddles the 1h boundary inside a ms
    "stream_interval_join" -> QueryDef(streamIntervalJoin, Some(
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |              epoch_us(ts) AS us, epoch_ms(ts) AS ms FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |       p.ms - c.ms AS gap_ms
        |FROM ev p JOIN ev c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY purchase_id, click_id""".stripMargin)),
    "stream_dedup_delivery" -> QueryDef(streamDedupDelivery, Some(
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin)),
    // the LEFT OUTER twin: watermark-gated NULL-click emission,
    // sentinel-flushed to completeness — same batch oracle as a plain
    // LEFT JOIN (sentinels are engine-side scaffolding the output
    // filter removes; user −1 never occurs in the data)
    "stream_outer_join" -> QueryDef(streamOuterJoin, Some(
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |             epoch_us(ts) AS us, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id,
        |        epoch_us(ts) AS us, epoch_ms(ts) AS ms
        |      FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, c.click_id, p.ms - c.ms AS gap_ms
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin)))
}
