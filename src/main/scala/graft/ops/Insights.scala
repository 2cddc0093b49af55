package graft.ops

import graft.{OracleSql, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over the events stream — the "what do users DO"
  * query family a log-analysis engine grows once the per-user/per-service
  * aggregates (the reference's seven README shapes) are in place:
  * Markov transition structure, sliding-window distinct reach, and
  * statistical outlier flagging.
  *
  * Scale posture shared by all three: the only wide exchanges are keyed
  * on `user_id` (the natural high-cardinality partitioning key), every
  * post-aggregation frame is bounded by a small domain (event-type
  * pairs, calendar days) and re-joined via broadcast, and all floating
  * math is either a single IEEE expression over engine-identical inputs
  * or exact decimal, so results hash-match the oracle bit-for-bit.
  */
object Insights {

  import EventQueries.events

  /** Markov transition matrix over per-user event sequences: for each
    * ordered pair of consecutive event types (by `ts`, tie-broken on
    * `event_id` so the sequence is total and engine-independent),
    * count transitions and the per-source transition probability.
    *
    * Plan: one window shuffle on `user_id` (lead), one aggregate on the
    * tiny (from,to) domain, then the per-source totals — themselves an
    * aggregate of the already-tiny counts frame — re-join via
    * broadcast. At 100 TB the window shuffle is the only n-sized
    * exchange, and it partitions on the same key every per-user
    * operator uses, so a co-partitioned layout amortizes it. The
    * probability is a single IEEE division of two engine-identical
    * longs — deterministic to the bit before the 6dp round. */
  def eventTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    transitionRollup(pairs)
  }

  /** Shared rollup from a (from_type, to_type) pair stream to the
    * count + probability matrix — used by the batch window form above
    * and the streaming stateful form below, so the two rows cannot
    * diverge in their aggregation semantics. */
  private[graft] def transitionRollup(pairs: DataFrame): DataFrame = {
    val counts = pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    counts
      .join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** [[eventTransitionMatrix]] through the REAL micro-batch engine:
    * the events table replayed as four event-time-ordered file
    * batches, per-user last-event state carried ACROSS batches by
    * flatMapGroupsWithState on the RocksDB store, emitted transitions
    * collected in a memory sink and rolled up by the SAME
    * [[transitionRollup]] — so the driver checks the streaming row
    * against the identical SQL oracle as the batch twin. State per
    * user is one (ms, event_id, type) triple: bounded forever, the
    * shape a continuous deployment runs unchanged. */
  def eventTransitionMatrixStreaming(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.streaming.StreamingPipeline
    val src = sp.writeTimeSplitSource(s, dir, 4)
    try {
      val tsType = s.read.parquet(src).schema("ts").dataType
      val stream = sp.normalizeTs(
        s.readStream.schema(sp.eventsSchema(tsType))
          .option("maxFilesPerTrigger", 1).parquet(src))
      val sink = sp.runOneShot(sp.eventTransitions(stream).toDF(),
        "transitions", "append", Seq("from_type", "to_type"))
      transitionRollup(sink)
    } finally graft.Scratch.delete(src)
  }

  /** Trailing-7-day distinct users per active day — the sliding
    * count-distinct no window function expresses directly. Exact
    * distributed form: dedup (user, day) once, explode each active day
    * into the ≤7 window-days it contributes to, and count distinct
    * users per window-day, keeping only days that actually occur.
    *
    * Scale: the dedup and the count-distinct both key on
    * (user_id, day) — bounded expansion factor 7 between them, no
    * row-count blowup. The active-day grid is calendar-bounded
    * (thousands of rows at any corpus size) and broadcasts. This is
    * the shape to prefer at 100 TB over a per-day self-join of the
    * full events table, which would read the fact 7×. */
  def rollingDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    val userDays = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val grid = userDays.select(col("day")).distinct()
      .withColumnRenamed("day", "win_day")
    userDays
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("win_day"))
      .join(broadcast(grid), Seq("win_day"), "left_semi")
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("win_day"), "yyyy-MM-dd").as("day"), col("n_users"))
      .orderBy(col("day"))
  }

  /** Per-user statistical outliers: events whose value sits ≥2 sample
    * standard deviations from that user's mean. The moments are exact
    * DECIMAL sums (order-independent — a double sum would differ
    * between engines on partition order), and mean/std/z are derived
    * from those exact aggregates in one fixed IEEE expression each, so
    * the 4dp-rounded z-score is engine-identical.
    *
    * Plan: one aggregate and one join, both keyed on `user_id` — the
    * exchanges align, and AQE collapses the stats side to broadcast
    * when it is small. Users with n<2 or zero variance are excluded
    * (no z is defined). */
  def valueOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 6).cast("decimal(18,6)").as("v"))
    val stats = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("s2"))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("n").cast("double").as("nd"),
        col("s").cast("double").as("sd"), col("s2").cast("double").as("s2d"))
      // sample variance from exact moments: (s2 - s*s/n) / (n-1)
      .withColumn("mean", col("sd") / col("nd"))
      .withColumn("variance",
        (col("s2d") - col("sd") * col("sd") / col("nd")) / (col("nd") - lit(1.0d)))
      .filter(col("variance") > 0)
      .withColumn("std", sqrt(col("variance")))
    e.join(stats, Seq("user_id"))
      .withColumn("z", (col("v").cast("double") - col("mean")) / col("std"))
      .filter(abs(col("z")) >= 2.0d)
      .select(col("event_id"), col("user_id"),
        col("v").cast("double").as("value"), round(col("z"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  /** Classical seasonal decomposition of the daily value series —
    * day-of-week seasonal means, per-day residual against them, and a
    * centered 7-day moving-average trend (emitted only where the full
    * window exists): the resample → deseasonalize → smooth pass every
    * metrics pipeline runs before comparing days across weekly cycles.
    * Day totals are exact 6dp-decimal sums (order-independent); the
    * seasonal means and trend divide those exact decimals and surface
    * 4dp-rounded; the residual subtracts the ROUNDED seasonal mean so
    * both engines difference identical doubles.
    *
    * Plan: one fact-sized day aggregate; everything after runs on the
    * calendar-bounded day frame (the changepoint/error-rate pattern —
    * the unpartitioned trend window is over days, never events). */
  def dailyValueSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = FrameGuard.assertCalendarBounded(
      events(s, dir)
        .select(to_date(col("ts")).as("day"),
          round(col("value"), 6).cast("decimal(18,6)").as("v"))
        .groupBy(col("day")).agg(sum(col("v")).as("sv")),
      "daily_value_seasonal")
    val dowMean = daily.groupBy(dayofweek(col("day")).as("dow"))
      .agg(sum(col("sv")).as("ds"), count(lit(1)).as("dn"))
      .select(col("dow"),
        round(col("ds").cast("double") / col("dn").cast("double"), 4)
          .as("seasonal_mean"))
    // deliberately unpartitioned (WindowExec warns): the frame is the
    // calendar-bounded day aggregate, never the fact table — an
    // invariant FrameGuard above enforces at runtime, at any scale
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    daily
      .withColumn("dow", dayofweek(col("day")))
      .join(broadcast(dowMean), Seq("dow"))
      .withColumn("win_n", count(lit(1)).over(w7))
      .withColumn("win_s", sum(col("sv")).over(w7))
      .withColumn("dv", col("sv").cast("double"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("dv"), 2).as("day_value"),
        col("dow").cast("long").as("dow"),
        col("seasonal_mean"),
        round(col("dv") - col("seasonal_mean"), 4).as("residual"),
        when(col("win_n") === 7,
          round(col("win_s").cast("double") / lit(7.0d), 4)).as("trend7"))
      .orderBy(col("day"))
  }

  /** Robust per-type outlier profile via median/MAD — the
    * heavy-tail-safe sibling of [[valueOutliers]]: mean/std are
    * themselves dragged by the outliers they hunt, so robust pipelines
    * score |value − median| against 1.4826·MAD (the normal-consistent
    * robust z, computed here as 0.6745·dev/MAD) and flag |rz| > 3.5
    * (Iglewicz–Hoaglin's modified z-score cut). Surfaced per event
    * type: count, the two robust location/scale estimates, the outlier
    * count and the largest robust z.
    *
    * Cross-engine determinism: both medians ride the interpolated
    * exact percentile (engine equality at 4dp established by the
    * `value_percentiles` row), each ROUNDED to 4dp before any derived
    * arithmetic, and the robust z is one fixed IEEE expression over
    * those rounded inputs, re-rounded at 4dp before the 3.5 compare —
    * the `value_quartile_assign` threshold recipe. Zero MAD (>50%
    * identical values) disables scoring for the type on both engines.
    *
    * Plan: two aggregates over the events scan (median, then MAD of
    * deviations) with the per-type frames broadcast back — no window,
    * no per-row state. Exact medians sort within each type; the
    * percentile_approx sketch is the documented 100 TB substitution,
    * same as the exact percentile rows. */
  /** [[dailyValueSeasonal]]'s residuals through the Iglewicz–Hoaglin
    * MAD gate: anomalous days AFTER the weekly seasonal shape is
    * removed — a raw-value gate flags every strong weekday, while the
    * residual gate flags only days unusual FOR their day-of-week.
    * Whole chain stays calendar-bounded (day frames); scalar
    * median/MAD broadcast back. */
  def dailyAnomalyDays(s: SparkSession, dir: String): DataFrame = {
    val seas = dailyValueSeasonal(s, dir)
      .select(col("day"), col("day_value"), col("residual"))
    val med = seas.agg(expr("percentile(residual, 0.5D)").as("m"))
      .select(round(col("m"), 4).as("med"))
    val wm = seas.crossJoin(broadcast(med))
    val mad = wm.agg(expr("percentile(abs(residual - med), 0.5D)").as("m"))
      .select(round(col("m"), 4).as("mad"))
    wm.crossJoin(broadcast(mad))
      .withColumn("rz", when(col("mad") > 0,
        round((col("residual") - col("med")) * 0.6745 / col("mad"), 4)))
      .select(col("day"), col("day_value"), col("residual"), col("rz"),
        coalesce(abs(col("rz")) > 3.5, lit(false)).as("anomaly"))
      .orderBy(col("day"))
  }

  def valueMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val v = events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = v.groupBy(col("event_type").as("et"))
      .agg(expr("percentile(value, 0.5D)").as("m"))
      .select(col("et"), round(col("m"), 4).as("med"))
    val withMed = v.join(broadcast(med), col("event_type") === col("et")).drop("et")
    val mad = withMed.groupBy(col("event_type").as("et2"))
      .agg(expr("percentile(abs(value - med), 0.5D)").as("m"))
      .select(col("et2"), round(col("m"), 4).as("mad"))
    withMed.join(broadcast(mad), col("event_type") === col("et2")).drop("et2")
      .withColumn("rz4",
        when(col("mad") > 0,
          round(abs((col("value") - col("med")) * 0.6745 / col("mad")), 4)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("rz4") > 3.5, 1L).otherwise(0L)).as("n_outliers"),
        coalesce(max(col("rz4")), lit(0.0)).as("max_abs_rz"))
      .orderBy(col("event_type"))
  }

  /** Time-series regularization: per user, a COMPLETE daily grid over
    * their active span with gap days carried forward from the last
    * observed day (the resample + forward-fill every metrics store
    * performs before rate/trend math). Gaps emit n_events = 0 and
    * day_value = 0; carried_value repeats the last active day's total.
    *
    * Plan: daily actuals, per-user spans, and the window all key on
    * `user_id` — aligned exchanges end to end. The grid explode is
    * calendar-bounded (span+1 rows per user, never event-sized), day
    * totals are exact decimal before the 2dp surface, and the
    * forward-fill is `last(_, ignoreNulls)` over a (user, day) order
    * that is total because day is unique per user — deterministic on
    * both engines. */
  def userValueGapfill(s: SparkSession, dir: String): DataFrame = {
    val act = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value"), 6).cast("decimal(18,6)").as("v"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val grid = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    grid.join(act, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        round(coalesce(col("sv"), lit(0).cast("decimal(18,6)")), 2)
          .cast("double").as("day_value"),
        round(last(col("sv"), ignoreNulls = true).over(w), 2)
          .cast("double").as("carried_value"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("day_value"), col("carried_value"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Hour-of-day activity profile per event type: counts and the
    * share of the type's total per hour — the daily-rhythm readout
    * behind capacity planning and anomaly baselines. One aggregate on
    * a 24×|types| key domain; shares divide engine-identical longs. */
  def hourlyActivityProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("share"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Change-point detection on the daily value series: the split day
    * maximizing the mean shift |mean_after − mean_before| — the
    * binary-segmentation primitive behind regression/incident
    * detection on metrics. Daily totals are exact decimal; prefix
    * sums run in a window over the POST-AGGREGATION day frame
    * (calendar-bounded — ~30 rows here, thousands at any corpus age —
    * so the single-partition window is over a tiny frame, never the
    * fact table); the candidate ranking compares IEEE doubles derived
    * from identical exact sums, tie-broken by day. */
  def dailyValueChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = FrameGuard.assertCalendarBounded(
      events(s, dir)
        .select(to_date(col("ts")).as("day"),
          round(col("value"), 6).cast("decimal(18,6)").as("v"))
        .groupBy(col("day"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n")),
      "daily_value_changepoint")
    // deliberately unpartitioned (WindowExec warns): cumulative sums
    // over the calendar-bounded day frame, never the fact table — an
    // invariant FrameGuard above enforces at runtime, at any scale
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(sum(col("sv")).as("tot_s"), sum(col("n")).as("tot_n"))
    val scored = daily
      .withColumn("cum_s", sum(col("sv")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("cum_n") < col("tot_n")) // a split needs a non-empty right side
      .withColumn("mean_before", col("cum_s").cast("double") / col("cum_n").cast("double"))
      .withColumn("mean_after",
        (col("tot_s") - col("cum_s")).cast("double") /
          (col("tot_n") - col("cum_n")).cast("double"))
      .withColumn("delta", abs(col("mean_after") - col("mean_before")))
    scored.orderBy(desc("delta"), col("day")).limit(1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("split_day"),
        round(col("mean_before"), 6).as("mean_before"),
        round(col("mean_after"), 6).as("mean_after"),
        round(col("delta"), 6).as("abs_delta"))
  }

  /** Recursive binary segmentation of the daily value series —
    * [[dailyValueChangepoint]]'s mean-shift split applied WITHIN each
    * current segment, `depth` levels deep (up to 2^depth segments):
    * the classic top-down change-point segmentation behind
    * regime/incident timelines. Each level scores every candidate day
    * inside every segment with the same exact-decimal prefix sums
    * (windows partitioned by segment), picks the per-segment
    * max-|mean shift| day (day tie-break), and recurses on both
    * halves; single-day segments have no candidate and survive.
    *
    * The day frame is calendar-bounded, so each level's best-split
    * table is ≤ 2^level rows; segment boundaries round-trip the driver
    * (bounded collect — the sanctioned plan-literal pattern) and
    * re-enter as a broadcast local relation, keeping every level's
    * plan constant-size. The fact table is touched ONCE, at the daily
    * aggregate, which stays persisted behind the returned lazy plan
    * (the boundedSharedCounts cache contract). */
  def dailyValueSegments(s: SparkSession, dir: String, depth: Int = 3,
                         minLen: Int = 3): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .select(to_date(col("ts")).as("day"),
        round(col("value"), 6).cast("decimal(18,6)").as("v"))
      .groupBy(col("day"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = daily
      .agg(date_format(min(col("day")), "yyyy-MM-dd").as("lo"),
        date_format(max(col("day")), "yyyy-MM-dd").as("hi"))
      .collect()(0)
    def segFrame(segs: Seq[(String, String)]) =
      broadcast(segs.toDF("lo_s", "hi_s")
        .select(to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi")))
    var segs = Seq((bounds.getString(0), bounds.getString(1)))
    for (_ <- 1 to depth) {
      val wc = Window.partitionBy(col("lo"), col("hi")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("lo"), col("hi"))
      val best = daily
        .join(segFrame(segs), col("day").between(col("lo"), col("hi")))
        .withColumn("cum_s", sum(col("sv")).over(wc))
        .withColumn("cum_n", sum(col("n")).over(wc))
        .withColumn("cum_d", count(lit(1)).over(wc))
        .withColumn("tot_s", sum(col("sv")).over(wt))
        .withColumn("tot_n", sum(col("n")).over(wt))
        .withColumn("tot_d", count(lit(1)).over(wt))
        // both halves must keep >= minLen days: without the floor,
        // max-mean-shift degenerates to peeling single outlier days
        // off the tail (observed on the driver tables)
        .filter(col("cum_d") >= minLen && col("tot_d") - col("cum_d") >= minLen)
        .withColumn("delta", abs(
          (col("tot_s") - col("cum_s")).cast("double") /
            (col("tot_n") - col("cum_n")).cast("double") -
          col("cum_s").cast("double") / col("cum_n").cast("double")))
        // a zero-shift "best" split would cut flat segments at the
        // earliest legal day forever — only genuine shifts split
        .filter(col("delta") > 0)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lo"), col("hi"))
            .orderBy(desc("delta"), col("day"))))
        .filter(col("rn") === 1)
        .select(date_format(col("lo"), "yyyy-MM-dd").as("l"),
          date_format(col("day"), "yyyy-MM-dd").as("sp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      segs = segs.flatMap { case (lo, hi) =>
        best.get(lo) match {
          case Some(sp) => Seq((lo, sp),
            (java.time.LocalDate.parse(sp).plusDays(1).toString, hi))
          case None => Seq((lo, hi))
        }
      }
    }
    daily.join(segFrame(segs), col("day").between(col("lo"), col("hi")))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"),
        sum(col("sv")).as("seg_s"))
      .select(date_format(col("lo"), "yyyy-MM-dd").as("seg_start"),
        date_format(col("hi"), "yyyy-MM-dd").as("seg_end"),
        col("n_days"), col("n_events"),
        round(col("seg_s").cast("double") / col("n_events").cast("double"), 6)
          .as("mean_value"))
      .orderBy(col("seg_start"))
  }

  /** The generated-CTE twin of [[dailyValueSegments]]: one
    * join/window/best/segment CTE quartet per level, the anti-join
    * carrying splitless (single-day) segments forward unchanged. */
  private def segmentsOracle(depth: Int, minLen: Int = 3): String = {
    val levels = (1 to depth).map { t =>
      s"""j$t AS (SELECT d.day, d.sv, d.n, s.lo, s.hi FROM daily d
         |  JOIN seg${t - 1} s ON d.day BETWEEN s.lo AND s.hi),
         |c$t AS (SELECT lo, hi, day,
         |    sum(sv) OVER (PARTITION BY lo, hi ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         |    sum(n) OVER (PARTITION BY lo, hi ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |    count(*) OVER (PARTITION BY lo, hi ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d,
         |    sum(sv) OVER (PARTITION BY lo, hi) AS tot_s,
         |    sum(n) OVER (PARTITION BY lo, hi) AS tot_n,
         |    count(*) OVER (PARTITION BY lo, hi) AS tot_d
         |  FROM j$t),
         |b$t AS (SELECT lo, hi, day AS sp FROM (
         |    SELECT lo, hi, day,
         |      row_number() OVER (PARTITION BY lo, hi ORDER BY
         |        abs(CAST(tot_s - cum_s AS DOUBLE) / CAST(tot_n - cum_n AS DOUBLE)
         |            - CAST(cum_s AS DOUBLE) / CAST(cum_n AS DOUBLE)) DESC, day) AS rn
         |    FROM c$t WHERE cum_d >= $minLen AND tot_d - cum_d >= $minLen
         |      AND abs(CAST(tot_s - cum_s AS DOUBLE) / CAST(tot_n - cum_n AS DOUBLE)
         |              - CAST(cum_s AS DOUBLE) / CAST(cum_n AS DOUBLE)) > 0) WHERE rn = 1),
         |seg$t AS (
         |  SELECT s.lo, b.sp AS hi FROM seg${t - 1} s JOIN b$t b ON s.lo = b.lo AND s.hi = b.hi
         |  UNION ALL
         |  SELECT b.sp + 1 AS lo, s.hi FROM seg${t - 1} s JOIN b$t b ON s.lo = b.lo AND s.hi = b.hi
         |  UNION ALL
         |  SELECT s.lo, s.hi FROM seg${t - 1} s ANTI JOIN b$t b ON s.lo = b.lo AND s.hi = b.hi)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
       |    sum(CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6))) AS sv,
       |    count(*) AS n
       |  FROM events GROUP BY 1),
       |seg0 AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
       |$levels
       |SELECT strftime(s.lo, '%Y-%m-%d') AS seg_start,
       |  strftime(s.hi, '%Y-%m-%d') AS seg_end,
       |  count(*) AS n_days, CAST(sum(d.n) AS BIGINT) AS n_events,
       |  ${OracleSql.round("CAST(sum(d.sv) AS DOUBLE) / CAST(sum(d.n) AS DOUBLE)", 6)} AS mean_value
       |FROM seg$depth s JOIN daily d ON d.day BETWEEN s.lo AND s.hi
       |GROUP BY s.lo, s.hi ORDER BY seg_start""".stripMargin
  }

  /** Sequence mining over sessions: the top-20 event-type TRIGRAMS
    * occurring inside gap-sessions (the "common journey fragments"
    * query behind funnel design). Sessionization mirrors
    * [[EventQueries.eventSessions]]' 6-hour gap exactly; trigrams are
    * two stacked leads inside the (user, session) window — no
    * per-session collect, no explode blowup (one row per event).
    * Counts are exact; the top-20 cut is tie-broken on the full
    * trigram so the cut is total. Three window passes share ONE
    * user-keyed sort. */
  def sessionPathTopk(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gapMs = 6L * 3600 * 1000
    val sessioned = events(s, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySess = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ms"), col("event_id"))
    sessioned
      .withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** Time-weighted average value per user (TWAP): each observation
    * holds until the next one, so its weight is that duration — the
    * right mean for irregularly-sampled series (a plain average
    * overweights bursts). Weights are integer milliseconds from a
    * lead() over the total (ts, event_id) order; the weighted sum is
    * DECIMAL × BIGINT (exact, order-independent); the single closing
    * division runs in IEEE double over engine-identical inputs. The
    * last observation has no duration and drops out; users with a
    * zero span (single event) are excluded. One window + one
    * aggregate, both keyed on user_id. */
  def userTimeWeightedValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        round(col("value"), 6).cast("decimal(18,6)").as("v"))
      .withColumn("d", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("d").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("v") * col("d")).as("vw"), sum(col("d")).as("span_ms"))
      .filter(col("span_ms") > 0)
      .select(col("user_id"), col("span_ms"),
        round(col("vw").cast("double") / col("span_ms").cast("double"), 6)
          .as("twap"))
      .orderBy(col("user_id"))
  }

  private val transitionOracle =
    s"""WITH nx AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |p AS (SELECT event_type AS from_type, to_type, count(*) AS n
       |      FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT from_type, sum(n) AS tot FROM p GROUP BY 1)
       |SELECT from_type, to_type, n,
       |  ${OracleSql.round("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS p
       |FROM p JOIN t USING (from_type)
       |ORDER BY from_type, to_type""".stripMargin

  /** Seasonal-decomposition CTE chain ending in `seas` (the surfaced
    * day/day_value/dow/seasonal_mean/residual/trend7 projection) —
    * ONE source for the seasonal row and the anomaly-days gate. */
  private lazy val seasonalCtes: String =
    s"""daily AS (SELECT CAST(ts AS DATE) AS day,
       |    sum(CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6))) AS sv
       |  FROM events GROUP BY 1),
       |dm AS (SELECT dayofweek(day) + 1 AS dow,
       |    ${OracleSql.round("CAST(sum(sv) AS DOUBLE) / count(*)", 4)} AS seasonal_mean
       |  FROM daily GROUP BY 1),
       |win AS (SELECT day, sv,
       |    count(*) OVER w AS win_n, sum(sv) OVER w AS win_s
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |seas AS (SELECT strftime(w.day, '%Y-%m-%d') AS day,
       |  ${OracleSql.round("CAST(sv AS DOUBLE)", 2)} AS day_value,
       |  CAST(dayofweek(w.day) + 1 AS BIGINT) AS dow,
       |  seasonal_mean,
       |  ${OracleSql.round("CAST(sv AS DOUBLE) - seasonal_mean", 4)} AS residual,
       |  CASE WHEN win_n = 7
       |       THEN ${OracleSql.round("CAST(win_s AS DOUBLE) / 7.0", 4)} END AS trend7
       |FROM win w JOIN dm ON dayofweek(w.day) + 1 = dm.dow)""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "event_transition_matrix_streaming" -> QueryDef(
      eventTransitionMatrixStreaming, Some(transitionOracle)),
    "event_transition_matrix" -> QueryDef(eventTransitionMatrix,
      Some(transitionOracle)),
    "hourly_activity_profile" -> QueryDef(hourlyActivityProfile, Some(
      s"""WITH c AS (SELECT event_type,
         |    CAST(date_part('hour', ts) AS BIGINT) AS hour, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
         |SELECT c.event_type, hour, n,
         |  ${OracleSql.round("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share
         |FROM c JOIN t ON c.event_type = t.event_type
         |ORDER BY c.event_type, hour""".stripMargin)),
    "daily_value_segments" -> QueryDef((s, d) => dailyValueSegments(s, d),
      Some(segmentsOracle(3))),
    "daily_value_changepoint" -> QueryDef(dailyValueChangepoint, Some(
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
         |    sum(CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6))) AS sv,
         |    count(*) AS n
         |  FROM events GROUP BY 1),
         |tot AS (SELECT sum(sv) AS tot_s, sum(n) AS tot_n FROM daily),
         |cum AS (SELECT day,
         |    sum(sv) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         |    sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
         |  FROM daily),
         |sc AS (SELECT day,
         |    CAST(cum_s AS DOUBLE) / CAST(cum_n AS DOUBLE) AS mean_before,
         |    CAST(tot_s - cum_s AS DOUBLE) / CAST(tot_n - cum_n AS DOUBLE) AS mean_after
         |  FROM cum, tot WHERE cum_n < tot_n),
         |best AS (SELECT *, abs(mean_after - mean_before) AS delta FROM sc
         |         ORDER BY delta DESC, day LIMIT 1)
         |SELECT strftime(day, '%Y-%m-%d') AS split_day,
         |  ${OracleSql.round("mean_before", 6)} AS mean_before,
         |  ${OracleSql.round("mean_after", 6)} AS mean_after,
         |  ${OracleSql.round("delta", 6)} AS abs_delta
         |FROM best""".stripMargin)),
    "session_path_topk" -> QueryDef(sessionPathTopk, Some(
      """WITH base AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |flagged AS (SELECT *,
        |    CASE WHEN prev_ms IS NULL OR ms - prev_ms > 21600000 THEN 1 ELSE 0 END AS is_new
        |  FROM base),
        |numbered AS (SELECT *,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged),
        |tri AS (SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM numbered
        |  WINDOW w AS (PARTITION BY user_id, session_idx ORDER BY ms, event_id))
        |SELECT step1, step2, step3, count(*) AS n FROM tri
        |WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)),
    "user_time_weighted_value" -> QueryDef(userTimeWeightedValue, Some(
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
         |    CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6)) AS v FROM events),
         |d AS (SELECT user_id, v,
         |    lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS d
         |  FROM e),
         |agg AS (SELECT user_id, sum(v * d) AS vw, CAST(sum(d) AS BIGINT) AS span_ms
         |  FROM d WHERE d IS NOT NULL GROUP BY user_id HAVING sum(d) > 0)
         |SELECT user_id, span_ms,
         |  ${OracleSql.round("CAST(vw AS DOUBLE) / CAST(span_ms AS DOUBLE)", 6)} AS twap
         |FROM agg ORDER BY user_id""".stripMargin)),
    "user_value_gapfill" -> QueryDef(userValueGapfill, Some(
      s"""WITH act AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
         |    sum(CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6))) AS sv
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM act GROUP BY 1),
         |grid AS (SELECT user_id,
         |    lo + CAST(unnest(generate_series(0, hi - lo)) AS INTEGER) AS day FROM sp),
         |j AS (SELECT g.user_id, g.day, coalesce(n, 0) AS n_events, sv
         |      FROM grid g LEFT JOIN act a ON g.user_id = a.user_id AND g.day = a.day)
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
         |  CAST(round(coalesce(sv, 0), 2) AS DOUBLE) AS day_value,
         |  CAST(round(last_value(sv IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY day), 2) AS DOUBLE) AS carried_value
         |FROM j ORDER BY user_id, day""".stripMargin)),
    "rolling_distinct_users" -> QueryDef(rollingDistinctUsers, Some(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |grid AS (SELECT DISTINCT day FROM ud),
        |contrib AS (SELECT user_id, day + CAST(unnest(generate_series(0, 6)) AS INTEGER) AS win_day FROM ud)
        |SELECT strftime(win_day, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS n_users
        |FROM contrib JOIN grid ON contrib.win_day = grid.day
        |GROUP BY win_day ORDER BY day""".stripMargin)),
    "value_outliers" -> QueryDef(valueOutliers, Some(
      s"""WITH e AS (SELECT event_id, user_id,
         |    CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6)) AS v FROM events),
         |st AS (SELECT user_id, count(*) AS n, sum(v) AS s, sum(v * v) AS s2
         |       FROM e GROUP BY user_id HAVING count(*) >= 2),
         |d AS (SELECT user_id, CAST(n AS DOUBLE) AS nd, CAST(s AS DOUBLE) AS sd,
         |             CAST(s2 AS DOUBLE) AS s2d FROM st),
         |m AS (SELECT user_id, sd / nd AS mean,
         |             (s2d - sd * sd / nd) / (nd - 1.0) AS variance FROM d),
         |f AS (SELECT user_id, mean, sqrt(variance) AS std FROM m WHERE variance > 0)
         |SELECT event_id, e.user_id, CAST(v AS DOUBLE) AS value,
         |  ${OracleSql.round("(CAST(v AS DOUBLE) - mean) / std", 4)} AS z
         |FROM e JOIN f ON e.user_id = f.user_id
         |WHERE abs((CAST(v AS DOUBLE) - mean) / std) >= 2.0
         |ORDER BY event_id""".stripMargin)),
    "daily_value_seasonal" -> QueryDef(dailyValueSeasonal, Some(
      s"""WITH $seasonalCtes
         |SELECT day, day_value, dow, seasonal_mean, residual, trend7
         |FROM seas ORDER BY day""".stripMargin)),
    // Seasonal decomposition composed with the Iglewicz–Hoaglin MAD
    // gate over its residuals — anomalies AFTER the weekly shape is
    // removed (a high Sunday is not an anomaly; a high-for-a-Sunday
    // Sunday is). Same day-frame-bounded chain.
    "daily_anomaly_days" -> QueryDef(dailyAnomalyDays, Some(
      s"""WITH $seasonalCtes,
         |amed AS (SELECT ${OracleSql.round("quantile_cont(residual, 0.5)", 4)} AS med FROM seas),
         |amad AS (SELECT ${OracleSql.round("quantile_cont(abs(residual - med), 0.5)", 4)} AS mad
         |         FROM seas CROSS JOIN amed),
         |sc AS (SELECT day, day_value, residual,
         |         CASE WHEN mad > 0
         |              THEN ${OracleSql.round("(residual - med) * 0.6745 / mad", 4)} END AS rz
         |       FROM seas CROSS JOIN amed CROSS JOIN amad)
         |SELECT day, day_value, residual, rz,
         |       coalesce(abs(rz) > 3.5, FALSE) AS anomaly
         |FROM sc ORDER BY day""".stripMargin)),
    "value_mad_outliers" -> QueryDef(valueMadOutliers, Some(
      s"""WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |med AS (SELECT event_type AS et,
         |          ${OracleSql.round("quantile_cont(value, 0.5)", 4)} AS med
         |        FROM v GROUP BY 1),
         |wm AS (SELECT event_type, value, med FROM v JOIN med ON event_type = et),
         |mad AS (SELECT event_type AS et2,
         |          ${OracleSql.round("quantile_cont(abs(value - med), 0.5)", 4)} AS mad
         |        FROM wm GROUP BY 1),
         |sc AS (SELECT wm.event_type, wm.value, wm.med, mad.mad,
         |         CASE WHEN mad.mad > 0
         |              THEN ${OracleSql.round("abs((wm.value - wm.med) * 0.6745 / mad.mad)", 4)}
         |         END AS rz4
         |       FROM wm JOIN mad ON wm.event_type = mad.et2)
         |SELECT event_type, count(*) AS n, max(med) AS med, max(mad) AS mad,
         |  CAST(sum(CASE WHEN rz4 > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  coalesce(max(rz4), 0.0) AS max_abs_rz
         |FROM sc GROUP BY 1 ORDER BY event_type""".stripMargin)))
}
