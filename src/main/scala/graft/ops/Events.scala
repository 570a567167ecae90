package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-window operators over the events table (EXT — the reference has
  * no time-based ops, SURVEY.md §2f; the batch forms here have streaming
  * twins in graft.streaming.EventStream).
  *
  * All timestamps are surfaced as epoch microseconds (BIGINT): the corpus
  * parquet stores nanosecond timestamps with exactly microsecond-precision
  * values, so epoch-us is lossless in both Spark (truncates ns→us) and
  * DuckDB (keeps ns).
  */
object Events {

  /** The corpus stores events.ts as parquet TIMESTAMP(NANOS), which Spark 4
    * only reads as a raw nanosecond LONG (spark.sql.legacy.parquet
    * .nanosAsLong=true — set by Verify/Bench). Normalize either
    * representation to epoch microseconds / TimestampType here. Integer
    * arithmetic throughout: epoch-ns values exceed 2^53, double math would
    * lose precision. FLOOR division (`div` truncates toward zero): a
    * pre-1970 negative ns value must round down to the earlier microsecond
    * to agree with DuckDB's epoch_us. */
  private val nsFloorUs: org.apache.spark.sql.Column =
    expr("(ts - pmod(ts, 1000)) div 1000")

  /** Event time as epoch microseconds (exact BIGINT — the oracle-portable
    * time representation; see q15_asof_join). Public: query wiring uses it
    * to feed time-ordered ops like [[Cdc.scd2]]. */
  def tsUs(events: DataFrame): org.apache.spark.sql.Column =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => nsFloorUs
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  private def tsCol(events: DataFrame): org.apache.spark.sql.Column =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(nsFloorUs)
      case _ => col("ts").cast("timestamp")
    }

  /** Tumbling-window aggregate: per (1-hour window, event_type) count and
    * exact value sum. Partial aggregation makes this one shuffle of
    * (#windows × #types) rows regardless of input size. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(tsCol(events), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("win_start_us", "event_type")

  /** As-of join (time-series): attach to every `leftType` event the value
    * of the user's most recent `rightType` event at-or-before it.
    *
    * Spark has no native ASOF JOIN; the naive theta-join
    * (a.ts >= b.ts, take max) is a quadratic range join. This is the
    * scalable formulation: union both sides tagged, ONE window per user
    * ordered by (time, side, id) carrying the last right-side value
    * forward, then keep left rows — a single sort-shuffle by user,
    * linear in events, no range join at any scale. Right-side rows sort
    * before left rows on equal timestamps, so an exactly-simultaneous
    * right event is visible (>= semantics, matching DuckDB's ASOF). */
  def asOfJoin(events: DataFrame, leftType: String,
      rightType: String): DataFrame = {
    val us = tsUs(events)
    val tagged = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("event_id"), us.as("us"),
        col("event_type"), col("value"))
      .withColumn("is_left", (col("event_type") === leftType).cast("int"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("is_left"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // carry the right-side row as a struct: non-null whenever a right
    // event exists even if its VALUE is null, so a null-valued match is
    // returned (ASOF semantics) rather than skipped for an older one.
    // Tie note: among right events with identical (user_id, ts) — none in
    // this corpus — we deterministically take the max event_id, where
    // SQL ASOF picks an arbitrary one.
    tagged
      .withColumn("asof_value",
        last(when(col("is_left") === 0, struct(col("value"))),
          ignoreNulls = true).over(w).getField("value"))
      .filter(col("is_left") === 1)
      .select("user_id", "event_id", "us", "value", "asof_value")
      .orderBy("user_id", "us", "event_id")
  }

  /** FORWARD as-of join — [[asOfJoin]]'s time-reversed twin: each
    * `leftType` event sees the user's NEXT (earliest strictly-or-
    * simultaneously following) `rightType` event's value and the gap to
    * it in µs — the "time to next touch" primitive (click→next
    * purchase latency, alert→next incident). Same union-window linear
    * formulation, the window simply runs in DESCENDING time carrying
    * the first upcoming right row; no self-join, no range join. A
    * simultaneous right event counts as "next" (≥ semantics, mirroring
    * the backward join's ≤), ties beyond that take the min event_id.
    * gap_us is NULL when no right event follows. */
  def asOfJoinForward(events: DataFrame, leftType: String,
      rightType: String): DataFrame = {
    val us = tsUs(events)
    val tagged = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("event_id"), us.as("us"),
        col("event_type"), col("value"))
      .withColumn("is_left", (col("event_type") === leftType).cast("int"))
    // descending time; at a timestamp tie is_left ASC walks the right
    // row first so a simultaneous right event IS visible to the left
    // row (the ≥ mirror of asOfJoin's ≤), and event_id DESC makes the
    // carried survivor the MIN right id among exact ties
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("is_left").asc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("nxt",
        last(when(col("is_left") === 0,
          struct(col("value"), col("us").as("r_us"))),
          ignoreNulls = true).over(w))
      .filter(col("is_left") === 1)
      .select(col("user_id"), col("event_id"), col("us"), col("value"),
        col("nxt").getField("value").as("next_value"),
        (col("nxt").getField("r_us") - col("us")).as("gap_us"))
      .orderBy("user_id", "us", "event_id")
  }

  /** Bounded-interval (range) join, batch form: for every `leftType`
    * event, count + exact-sum the same user's `rightType` events in the
    * preceding `windowSec` seconds (exclusive of the event instant —
    * `[us - window, us)`).
    *
    * Spark plans the naive `a.us - w <= b.us < a.us` theta-join as a
    * nested loop — quadratic per user. The scale path BANDS time: every
    * right event lands in one `floor(us/band)` bucket, every left event
    * probes its own and the previous band (band width = window width, so
    * the interval spans at most two bands), and the range predicate
    * becomes a residual filter on an EQUI join of (user, band) — hash-
    * joinable, linear in events, skew-handled by AQE like any equi join.
    * Each (left,right) pair can match in at most one band (a right event
    * has exactly one band), so no dedup is needed. Left events with no
    * matches survive via the final left join, with zero counts. */
  def bandedRangeJoin(events: DataFrame, leftType: String = "click",
      rightType: String = "view", windowSec: Int = 3600): DataFrame = {
    val bandUs = windowSec * 1000000L
    val us = tsUs(events)
    val left = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("event_id"), us.as("us"))
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user"), us.as("r_us"),
        col("value").as("r_value"))
      .withColumn("r_band", floor(col("r_us") / bandUs).cast("long"))
    val probes = left
      .withColumn("band0", floor(col("us") / bandUs).cast("long"))
      .withColumn("band",
        explode(array(col("band0") - 1, col("band0"))))
    val perLeft = probes.join(right,
        col("user_id") === col("r_user") && col("band") === col("r_band") &&
          col("r_us") >= col("us") - bandUs && col("r_us") < col("us"))
      .groupBy("user_id", "event_id", "us")
      .agg(count(col("r_us")).as("n_views"),
        sum(col("r_value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_views"))
    left.join(perLeft, Seq("user_id", "event_id", "us"), "left")
      .select(col("user_id"), col("event_id"), col("us"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("sum_views"), lit(0.0d)).as("sum_views"))
      .orderBy("user_id", "event_id")
  }

  /** Semi-structured props: parse the JSON `props` column with an
    * explicit schema (`from_json` — no runtime inference, codegen'd
    * path) and aggregate the extracted field per event type. The
    * "typed metadata from an opaque string column" operator class —
    * absent from the reference, required for any real event corpus. */
  def propsFieldAgg(events: DataFrame): DataFrame =
    events
      .withColumn("p",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))))
      .groupBy("event_type")
      .agg(count(col("p.k")).as("n_with_k"),
        sum(col("p.k")).cast("long").as("sum_k"),
        min(col("p.k")).cast("long").as("min_k"),
        max(col("p.k")).cast("long").as("max_k"))
      .orderBy("event_type")

  /** Sliding-window aggregate: per (1-hour window every 30 minutes,
    * event_type) count + exact sum. Each event lands in exactly
    * windowSec/slideSec windows — Spark's `window(ts, win, slide)`
    * explodes to the per-window rows before the partial aggregate, so the
    * shuffle still carries only (#windows × #types) aggregated rows. */
  def slidingAgg(events: DataFrame, windowSec: Int = 3600,
      slideSec: Int = 1800): DataFrame =
    events
      .groupBy(
        window(tsCol(events), s"$windowSec seconds", s"$slideSec seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("win_start_us", "event_type")

  /** Gap-based sessionization (30-minute inactivity): windowed lag to mark
    * session starts, running sum to number sessions, then one aggregate.
    * Shuffle is a single hash partition by user_id — the window and the
    * groupBy reuse the same partitioning (no second exchange). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = tsUs(events)
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || (us - col("prev_us")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(us).as("start_us"),
        max(us).as("end_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "session_idx")
  }

  /** Ordered funnel: how many users progressed view → click → purchase,
    * where each stage must happen STRICTLY after the previous one (a
    * same-microsecond event does not advance the funnel — the state
    * carriers use a strictly-preceding frame, so the semantics are
    * deterministic even with timestamp ties).
    *
    * The naive formulation is K-1 self-joins (min view ts → min click
    * after it → …). This is the single-pass shape: per user, a running
    * min of stage-(i-1) satisfaction times over preceding rows marks
    * which rows satisfy stage i; one sort-shuffle by user, and the final
    * per-user aggregate reuses the window's partitioning (no second
    * exchange). The 3-row summary is a driver-sized global aggregate. */
  def funnel(events: DataFrame, stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.size >= 2, s"funnel needs >= 2 stages, got $stages")
    val us = tsUs(events)
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    var df = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_id"), col("event_type"), us.as("us"))
      // hit_0: rows that ARE the first stage
      .withColumn("hit_us_0",
        when(col("event_type") === stages.head, col("us")))
    stages.indices.tail.foreach { i =>
      // carry the earliest stage-(i-1) hit over strictly-preceding rows;
      // a stage-i event strictly after it is a stage-i hit
      df = df
        .withColumn(s"carry_$i", min(col(s"hit_us_${i - 1}")).over(w))
        .withColumn(s"hit_us_$i",
          when(col("event_type") === stages(i) &&
            col(s"carry_$i").isNotNull && col("us") > col(s"carry_$i"),
            col("us")))
    }
    val sFlags = stages.indices.map(i =>
      max(col(s"hit_us_$i").isNotNull.cast("long")).as(s"s_$i"))
    val perUser = df.groupBy("user_id").agg(sFlags.head, sFlags.tail: _*)
    // coalesce: an empty corpus must report 0 completions, not NULL (and
    // the DuckDB oracle coalesces identically — see stream_user_stats)
    val nSums = stages.indices.map(i =>
      coalesce(sum(col(s"s_$i")), lit(0L)).as(s"n_$i"))
    val totals = perUser.agg(nSums.head, nSums.tail: _*)
    // unpivot to (stage_idx, stage, n_users) — 3 rows, driver-sized
    val stackArgs = stages.indices.map(i =>
      s"${i + 1}L, '${stages.take(i + 1).mkString(">")}', n_$i").mkString(", ")
    totals.selectExpr(
      s"stack(${stages.size}, $stackArgs) AS (stage_idx, stage, n_users)")
      .orderBy("stage_idx")
  }

  /** Weekly cohort retention: for each ISO week, how many users were
    * active (optionally restricted to one event type) and how many of
    * them were active again the following week.
    *
    * Shape: distinct (week, user) — one partial-aggregated shuffle that
    * collapses the corpus to at most #weeks × #users rows — then a
    * self-equi-join on (user, week+7d). Both sides hash-partition on
    * user_id, so at 100 TB the join moves only the distinct activity
    * matrix, never raw events. No window, no range join. */
  def weeklyRetention(events: DataFrame,
      eventType: Option[String] = Some("purchase")): DataFrame = {
    val base = eventType.fold(events)(t => events.filter(col("event_type") === t))
    val wk = base
      .select(date_trunc("week", tsCol(events)).as("w"), col("user_id"))
      .distinct()
    val nxt = wk.select((col("w") - expr("INTERVAL 7 DAYS")).as("w"),
      col("user_id").as("ret_user"))
    wk.join(nxt, wk("w") === nxt("w") && col("user_id") === col("ret_user"), "left")
      .groupBy(wk("w"))
      .agg(count(lit(1)).as("n_active"), count(col("ret_user")).as("n_retained"))
      .select(unix_micros(col("w")).as("week_start_us"),
        col("n_active"), col("n_retained"))
      .orderBy("week_start_us")
  }

  /** Hourly resampling with gap fill — the time-series regularization
    * primitive: project each user's events onto a dense hourly grid from
    * their first to their last active hour, carrying the last observed
    * hourly sum forward through empty hours (LOCF on the GRID, where
    * [[forwardFill]] repairs nulls on the raw rows).
    *
    * Shape: one aggregate collapses events to (user, hour) — the only
    * shuffle that sees raw rows; the grid explodes a 2-row-per-user span
    * table (bounded by span hours, not event count); the left join and
    * the fill window both key on user_id, so AQE plans them on the
    * aggregated, corpus-independent cardinality. Values are exact cents.
    * The first grid hour always has events (it IS the user's min), so
    * `filled_cents` is never null. */
  def resampleHourly(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val base = events.select(col("user_id"), tsUs(events).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      // FLOOR division, not `div`: `div` truncates toward zero while the
      // DuckDB oracle's `//` floors, so pre-1970 (negative epoch-us)
      // timestamps would bucket one hour late. pmod is always >= 0, so
      // subtracting it then dividing is exact floor division on longs.
      .withColumn("h", expr(s"(us - pmod(us, $hourUs)) div $hourUs"))
      .drop("us")
    val hourly = base.groupBy("user_id", "h")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
    val grid = base.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("filled_cents",
        last(col("sum_cents"), ignoreNulls = true).over(w))
      .select(col("user_id"), (col("h") * hourUs).as("hour_us"),
        coalesce(col("cnt"), lit(0L)).as("n_events"), col("filled_cents"))
      .orderBy("user_id", "hour_us")
  }

  /** Rolling z-score anomaly flags — streaming-monitoring shape in batch:
    * an event is anomalous when its value sits more than `sigmas` sample
    * standard deviations from the mean of the user's `lookback` PRECEDING
    * events (the current row never sees itself — no self-masking).
    * Entirely INTEGER arithmetic so the flag is bit-portable: with n, s =
    * Σcents, q = Σcents² over the frame, |x−μ| > kσ becomes
    *   (n−1)·(n·x − s)² > k²·n·(n·q − s²)
    * — no division, no floats, no cross-engine rounding. Bounds: cents ≤
    * ~5.7e4 (value ≤ 560.21 in this corpus), n ≤ 24 ⇒ every term stays
    * under ~4e14, far from BIGINT overflow; re-derive before raising
    * `lookback` or feeding larger-valued data. Frames with n < minN
    * abstain (flag 0 — not enough history to call an outlier).
    *
    * One sort-shuffle by user; the frame is O(lookback) per row. */
  def rollingAnomaly(events: DataFrame, lookback: Int = 24, minN: Int = 8,
      sigmas: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-lookback, -1)
    val k2 = sigmas.toLong * sigmas
    events
      .select(col("event_id"), col("user_id"), tsUs(events).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_prev", count("cents").over(w))
      .withColumn("s_prev", sum("cents").over(w))
      .withColumn("q_prev", sum(col("cents") * col("cents")).over(w))
      .withColumn("is_anomaly",
        (col("n_prev") >= minN &&
          (col("n_prev") - 1)
            * (col("n_prev") * col("cents") - col("s_prev"))
            * (col("n_prev") * col("cents") - col("s_prev"))
          > lit(k2) * col("n_prev")
            * (col("n_prev") * col("q_prev") - col("s_prev") * col("s_prev")))
          .cast("long"))
      .select("event_id", "user_id", "cents", "n_prev", "is_anomaly")
      .orderBy("event_id")
  }

  /** Forward-fill (last observation carried forward) — the canonical
    * time-series gap-repair: replace each NULL measurement with the
    * user's most recent non-null value. One sort-shuffle by user; the
    * running `last(ignoreNulls)` frame is computed in a single pass per
    * partition, so the operator is linear and never widens the frame
    * beyond what the executor already holds for the sort.
    *
    * The corpus has no NULL values, so `nullEvery` deterministically
    * blanks every Nth event (by event_id) before filling — the same
    * synthesize-then-operate pattern as q3_3_parse_filter. Values are
    * surfaced as exact cents (BIGINT) per the stream_user_stats
    * convention; a leading run of NULLs stays NULL (no backfill). */
  def forwardFill(events: DataFrame, nullEvery: Int = 5): DataFrame = {
    val us = tsUs(events)
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), us.as("us"),
        when(col("event_id") % nullEvery === 0, lit(null))
          .otherwise(col("value")).as("gapped"))
      .withColumn("filled_cents",
        round(last(col("gapped"), ignoreNulls = true).over(w) * 100)
          .cast("long"))
      .select("event_id", "user_id", "filled_cents")
      .orderBy("event_id")
  }

  /** Gaps-and-islands over per-user activity: collapse events to distinct
    * active DAYS, then the classic `day − row_number()` trick — within a
    * user, consecutive days share the constant difference, so the
    * difference IS the island key (no self-join, no iteration). Output
    * per user: number of distinct streaks, longest streak length in
    * days, and total active days — the engagement-streak surface every
    * analytics store ships.
    *
    * Day = `epoch_us div 86_400_000_000` (floor): pure integer epoch
    * arithmetic, so the grouping is timezone-free and exactly
    * reproducible in the oracle (the epoch-us portability contract in
    * this file's header). Shuffle budget: one (user, day) dedup that
    * partial-aggregates map-side, then ONE user-keyed sort-window pass
    * whose input is active-days-sized (≪ event count); the two
    * aggregations after it reuse the same user partitioning.
    */
  def streaks(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val us = tsUs(events)
    // exact floor division: subtract the remainder first so the one
    // double division is over an exact multiple (us < 2^53, lossless)
    val day = ((us - pmod(us, lit(86400000000L))) / lit(86400000000L)).cast("long")
    events
      .select(col("user_id"), day.as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  /** Per-user inter-arrival (burstiness) profile: min/max/median gap
    * between consecutive events in microseconds — the cadence statistic
    * behind bot screens (impossibly regular or impossibly fast senders)
    * and the empirical basis for session-gap and watermark choices
    * (complements [[orderAudit]]'s lateness view). Median kept exact
    * via the ×2 integer scaling ([[madOutliers]]'s discipline). */
  def interArrival(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), tsUs(events).as("us"))
      .withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap", col("us") - col("prev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), min("gap").as("min_gap_us"),
        max("gap").as("max_gap_us"),
        expr("CAST(2 * percentile(gap, 0.5D) AS BIGINT)").as("med_gap_us2"))
      .orderBy("user_id")
  }

  /** Time-constrained funnel: like [[funnel]], but a stage-i event only
    * converts if a VALID stage-(i−1) hit EXISTS strictly earlier and
    * within `maxGapMinutes` — the windowed-funnel semantics every
    * product-analytics store ships (a purchase a month after the click
    * is not a conversion). The EXISTS is evaluated as a RANGE-frame
    * window max over `us ∈ [event − gap, event − 1]`: carry non-null
    * ⟺ a qualifying prior hit exists, with no self-join. (The round-5
    * form took the max over ALL preceding rows and re-tested
    * strictness/gap against that single latest hit — which missed a
    * conversion whenever the latest valid prior hit shared the event's
    * timestamp while an earlier one satisfied the strict test; the
    * range frame asks the EXISTS question directly.) */
  def funnelTimed(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      maxGapMinutes: Int = 1440): DataFrame = {
    require(stages.size >= 2, s"funnel needs >= 2 stages, got $stages")
    val gapUs = maxGapMinutes * 60000000L
    val us = tsUs(events)
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-gapUs, -1)
    var df = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_id"), col("event_type"), us.as("us"))
      .withColumn("hit_us_0",
        when(col("event_type") === stages.head, col("us")))
    stages.indices.tail.foreach { i =>
      df = df
        .withColumn(s"carry_$i", max(col(s"hit_us_${i - 1}")).over(w))
        .withColumn(s"hit_us_$i",
          when(col("event_type") === stages(i) &&
            col(s"carry_$i").isNotNull,
            col("us")))
    }
    val sFlags = stages.indices.map(i =>
      max(col(s"hit_us_$i").isNotNull.cast("long")).as(s"s_$i"))
    val perUser = df.groupBy("user_id").agg(sFlags.head, sFlags.tail: _*)
    val nSums = stages.indices.map(i =>
      coalesce(sum(col(s"s_$i")), lit(0L)).as(s"n_$i"))
    val totals = perUser.agg(nSums.head, nSums.tail: _*)
    val stackArgs = stages.indices.map(i =>
      s"${i + 1}L, '${stages.take(i + 1).mkString(">")}', n_$i").mkString(", ")
    totals.selectExpr(
      s"stack(${stages.size}, $stackArgs) AS (stage_idx, stage, n_users)")
      .orderBy("stage_idx")
  }

  /** Top-k three-step behavioral paths: the most frequent consecutive
    * (t1 → t2 → t3) event-type sequences across user timelines — the
    * path-mining companion to [[transitions]] (first-order pairs miss
    * patterns like view→click→purchase vs view→click→view). Two lags
    * on the same user window, one |types|³-bounded aggregate, global
    * top-k via TakeOrdered with a full tie-break. */
  def topPaths(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(events).as("us"))
      .withColumn("t1", lag("event_type", 2).over(w))
      .withColumn("t2", lag("event_type", 1).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("t1"), asc("t2"), asc("t3"))
      .limit(k)
  }

  /** Integer-exact covariance diagnostic between event value (cents)
    * and minute-of-day, per type: `cov_scaled = n·Σxy − Σx·Σy = n²·cov`
    * — the drift/dependence screen ("do big-value events cluster at
    * certain hours?") with the float divisions left to the consumer, so
    * the statistic itself is hash-exact cross-engine. Minute (not µs)
    * granularity keeps the binding Σx·Σy term (≤ n²·7.05e7) within
    * BIGINT through n ≈ 3.6×10⁵ rows PER TYPE — comfortable at bench
    * sfs but NOT at sf100; past that, pre-aggregate per day first (the
    * per-day sums shrink n by the day count before the cross product)
    * or widen the accumulation to DECIMAL. Spark long arithmetic wraps
    * silently on overflow while DuckDB throws, so the bound is a
    * correctness line, not a performance one (bounds restated in the
    * registered query doc). One map-side-combined scan. */
  def covarianceDiag(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("x"),
        tsUs(events).as("us"))
      .withColumn("y", expr("pmod(us, 86400000000) div 60000000"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"),
        sum("y").as("sum_y"), sum(col("x") * col("y")).as("sum_xy"))
      // the documented overflow line, enforced: counts are already in the
      // aggregate, so crossing it throws in-plan instead of wrapping
      // silently (Spark long arithmetic wraps; DuckDB throws — without
      // this guard the two engines would diverge EXACTLY when the number
      // stops being trustworthy)
      .withColumn("cov_scaled",
        when(assert_true(col("n") <= lit(360000L),
          lit("covarianceDiag: event_type group exceeds the documented " +
            "BIGINT overflow line (n > 3.6e5 rows/type) — pre-aggregate " +
            "per day or widen the accumulation to DECIMAL")).isNull,
          col("n") * col("sum_xy") - col("sum_x") * col("sum_y")))
      .select("event_type", "n", "sum_x", "sum_y", "cov_scaled")
      .orderBy("event_type")

  /** First-order behavioral transition matrix: counts and row-share of
    * consecutive (prev → next) event-type pairs per user timeline — the
    * Markov-chain statistic behind next-action features and
    * anomalous-sequence screens. One user-keyed window pass (lag), one
    * |types|²-cell aggregate; `share_bp` = cnt·10000 div row total keeps
    * the row-stochastic matrix integer-exact. Ties at equal timestamps
    * are ordered by event_id, the corpus arrival sequence. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(events).as("us"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy("prev_type").agg(sum("cnt").as("row_total"))
    pairs.join(totals, "prev_type")
      .withColumn("share_bp", expr("cnt * 10000 div row_total"))
      .select("prev_type", "next_type", "cnt", "share_bp")
      .orderBy("prev_type", "next_type")
  }

  /** Out-of-orderness audit — the measurement that SIZES a watermark
    * before anyone picks one: treating `event_id` as arrival order, an
    * event is LATE iff some same-type event with a LATER timestamp
    * already arrived; its lateness is running-max(ts) − ts. A stream
    * configured with watermark delay ≥ the reported max lateness would
    * have dropped nothing — exactly the number an operator needs from a
    * batch backfill before turning on [[graft.streaming.EventStream]]'s
    * watermarked aggregations. One type-keyed window pass, map-side
    * nothing — the partition key is the stream's own key. */
  def orderAudit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_type"), col("event_id"), tsUs(events).as("us"))
      .withColumn("prior_max", max("us").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prior_max") > col("us"), 1L).otherwise(0L))
          .as("n_late"),
        coalesce(max(when(col("prior_max") > col("us"),
          col("prior_max") - col("us"))), lit(0L)).as("max_lateness_us"))
      .orderBy("event_type")
  }

  /** Per-user exponentially time-decayed value score — the recency
    * feature of a training pipeline (recent behavior outweighs stale),
    * computed in EXACT integers: with half-life = 1 day and a
    * `horizonDays` cap, score·2^horizon = Σ cents·2^(horizon − age) is
    * a plain BIGINT sum (decay by powers of two IS a left shift; ages at
    * or beyond the horizon all contribute at weight 1 — a floor, not a
    * cutoff, keeping the sum monotone in history). The anchor `as_of` is
    * the corpus max day, so the score is reproducible from the data
    * alone. Overflow: cents·2^horizon per event ≤ ~5·10¹³ at horizon 30
    * — ~10⁵ events/user headroom; horizon is the knob, documented like
    * [[graft.ops.Sketches.CmsWidth]]. */
  def decayAgg(events: DataFrame, horizonDays: Int = 30): DataFrame = {
    val us = tsUs(events)
    val day = ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
      .cast("long")
    val rows = events.select(col("user_id"),
      round(col("value") * 100).cast("long").as("cents"), day.as("day"))
    rows.crossJoin(rows.agg(max("day").as("as_of")))
      .withColumn("age",
        least(col("as_of") - col("day"), lit(horizonDays.toLong)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(call_function("shiftleft", col("cents"),
          (lit(horizonDays.toLong) - col("age")).cast("int")))
          .as("decay_scaled"))
      .orderBy("user_id")
  }

  /** Per-type exact quartiles of the value distribution, ×4-scaled to
    * integers: at q ∈ {¼, ½, ¾} the interpolated rank arithmetic over
    * integer cents produces exact quarter-integers (dyadic fractions —
    * every intermediate is exact in double), so 4·percentile is an
    * exact BIGINT both engines agree on. The grouped-exact-quantile
    * slot between [[madOutliers]]' medians and the histogram sketch's
    * approximations: one sort-based aggregate per group. */
  def quartilesByType(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(4 * percentile(c, 0.25D) AS BIGINT)").as("p25_cents4"),
        expr("CAST(4 * percentile(c, 0.5D) AS BIGINT)").as("p50_cents4"),
        expr("CAST(4 * percentile(c, 0.75D) AS BIGINT)").as("p75_cents4"))
      .orderBy("event_type")

  /** Per-user robust outlier summary via Median Absolute Deviation —
    * the outlier screen that, unlike mean/stddev z-scores
    * ([[rollingAnomaly]]'s windowed cousin), is itself immune to the
    * outliers it hunts (50% breakdown point vs 0%).
    *
    * Exactness discipline: everything stays integer. With cents c and
    * exact interpolated medians, both engines agree on `2·median`
    * (Spark `percentile` and DuckDB `quantile_cont` both compute
    * lower + (upper−lower)·frac; at frac=0.5 over integer cents every
    * intermediate is an exact multiple of 0.5 — lossless in double, so
    * ×2 recovers an exact BIGINT). m2 = 2·med(c), d2 = |2c − m2|
    * (integer), mad4 = 2·med(d2). The k=5 outlier test
    * |c − med| > 5·mad becomes the integer comparison 2·d2 > 5·mad4.
    *
    * Two grouped percentile passes over user-keyed shuffles — the
    * second operates on the (user, d2) projection only. mad4 = 0
    * (>50% of a user's values at the median) flags every deviating
    * event, the standard MAD degeneracy; surfaced, not hidden, via the
    * mad4 column. */
  def madOutliers(events: DataFrame, k: Int = 5): DataFrame = {
    val cents = events.select(col("user_id"),
      round(col("value") * 100).cast("long").as("c"))
    val med = cents.groupBy("user_id")
      .agg(expr("CAST(2 * percentile(c, 0.5D) AS BIGINT)").as("m2"),
        count(lit(1)).as("n_events"))
    val dev = cents.join(med, "user_id")
      .withColumn("d2", abs(lit(2L) * col("c") - col("m2")))
    dev.groupBy("user_id")
      .agg(expr("CAST(2 * percentile(d2, 0.5D) AS BIGINT)").as("mad4"),
        max("m2").as("m2"), max("n_events").as("n_events"))
      .join(dev.select("user_id", "d2"), "user_id")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("m2").as("med_cents2"),
        max("mad4").as("mad_cents4"),
        sum(when(lit(2L) * col("d2") > lit(k.toLong) * col("mad4"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("user_id")
  }

  /** Seasonal-baseline anomaly screen: learn the (event_type ×
    * hour-of-day) expected value from the corpus itself, then rank
    * (event_type, day) buckets by their summed absolute deviation from
    * that baseline — the "which day broke the daily rhythm" monitor
    * that catches traffic-shape incidents a global mean hides (a value
    * normal at 14:00 can be anomalous at 03:00).
    *
    * Integer throughout: values in cents, the per-(type, hod) baseline
    * as a FLOOR mean (`tot div n` — bit-portable like every mean in
    * the family), deviation = Σ|c − baseline|. UTC hour/day come from
    * integer division of epoch-µs; [[tsUs]] absorbs the parquet
    * encoding drift.
    *
    * Scale shape: one hash agg to the (types · 24)-row baseline, which
    * broadcasts back onto the event scan (never a shuffle of the fact
    * side), one (type, day)-keyed agg, and a TakeOrdered top-k. Adding
    * 100× data changes only the scan time. */
  def seasonalResiduals(events: DataFrame, topK: Int = 30): DataFrame = {
    val withT = events.select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"),
        tsUs(events).as("us"))
      .withColumn("hod", expr("(us div 3600000000) % 24"))
      .withColumn("day", expr("us div 86400000000"))
    val baseline = withT.groupBy("event_type", "hod")
      .agg(sum("c").as("tot"), count(lit(1)).as("n"))
      .withColumn("mean_c", expr("tot div n"))
      .select("event_type", "hod", "mean_c")
    withT.join(broadcast(baseline), Seq("event_type", "hod"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(abs(col("c") - col("mean_c"))).as("sad_cents"))
      .orderBy(desc("sad_cents"), asc("event_type"), asc("day"))
      .limit(topK)
  }

  /** LAST-TOUCH revenue attribution: credit each conversion's value to
    * the user's most recent PRIOR non-conversion event type (the
    * "channel"), then report per-channel conversion counts, revenue and
    * revenue share — the marketing-analytics staple built on the same
    * union-window linear formulation as [[asOfJoin]] (one user-keyed
    * sort window, NO self-join, no range join: the quadratic
    * event×event formulation this family exists to avoid).
    *
    * A conversion with no prior touch lands in the explicit '(none)'
    * channel rather than being dropped — unattributed revenue is a
    * number stakeholders ask for. Same-instant touch-then-convert
    * counts as a touch (the conversion sorts after its tie by the
    * is_conv key). Revenue in exact cents; shares in floor basis
    * points (the corpus_mix discipline).
    *
    * Scale: one user-keyed sort shuffle + a \|channels\|-row rollup and
    * 1-row total broadcast. */
  def lastTouchAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    val tagged = events.select(col("user_id"), col("event_id"),
        tsUs(events).as("us"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("is_conv", (col("event_type") === convType).cast("int"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("is_conv"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val per = tagged
      .withColumn("touch",
        last(when(col("is_conv") === 0, struct(col("event_type"))),
          ignoreNulls = true).over(w).getField("event_type"))
      .filter(col("is_conv") === 1)
      .withColumn("channel", coalesce(col("touch"), lit("(none)")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"), sum("c").as("rev_cents"))
    per.crossJoin(broadcast(per.agg(sum("rev_cents").as("tot"))))
      .withColumn("rev_share_bp", expr("rev_cents * 10000 div tot"))
      .select("channel", "n_conversions", "rev_cents", "rev_share_bp")
      .orderBy(desc("rev_cents"), asc("channel"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * complement to [[lastTouchAttribution]]: each conversion's revenue
    * is split across ALL touches in its journey (the events since the
    * user's previous conversion), with the first and last touch earning
    * double weight (2/1/…/1/2) — the standard U-shape in integer form.
    *
    * Exact conservation with NO float shares and NO largest-remainder
    * bookkeeping: credit_i = ⌊rev·cumw_i/W⌋ − ⌊rev·cumw_{i−1}/W⌋ — the
    * telescoping dyadic-rank allocation (the events_quartiles
    * discipline), which sums to exactly rev per journey and is
    * reproducible in any engine with floor division. rev ≥ 0 and
    * cumw ≥ 0, so Spark's `div` and DuckDB's `//` (both truncate toward
    * zero on negatives — measured, see [[arCoefficients]]; truncation
    * and floor only coincide for non-negative operands) agree. The
    * non-negativity is ENFORCED in-plan (assert_true on the conversion
    * rows, the bitmapDistinct precondition style): signed revenue would
    * silently skew per-touch credits instead of failing loudly —
    * pre-collapse refunds before attributing.
    *
    * Journey segmentation, ordering and the '(none)' channel for
    * touchless conversions all follow [[lastTouchAttribution]]'s
    * contract (same-instant touch sorts before its conversion via the
    * is_conv sort key; trailing touches with no closing conversion earn
    * nothing).
    *
    * Scale: ONE user-keyed sort shuffle shared by the journey-id and
    * position windows, a journey-keyed conversion join (both sides
    * already co-partitioned on user_id), and a \|channels\|-row rollup.
    * No self-join, no range join. */
  def positionAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    val tagged = events.select(col("user_id"), col("event_id"),
        tsUs(events).as("us"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("is_conv", (col("event_type") === convType).cast("int"))
    val wPrev = Window.partitionBy("user_id")
      .orderBy(col("us"), col("is_conv"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val jd = tagged.withColumn("jid",
      coalesce(sum("is_conv").over(wPrev), lit(0)))
    val convs = jd.filter(col("is_conv") === 1)
      .select(col("user_id"), col("jid"),
        // assert_true is NULL on pass, throws on fail — routing the value
        // through the guard forces its evaluation on every conversion row
        when(assert_true(col("c") >= 0,
          lit("positionAttribution: negative conversion value — U-shape " +
            "credit math assumes rev >= 0 (floor == truncate there); " +
            "pre-collapse refunds before attributing")).isNull,
          col("c")).as("rev_cents"))
    val wPos = Window.partitionBy("user_id", "jid")
      .orderBy(col("us"), col("event_id"))
    val touches = jd.filter(col("is_conv") === 0)
      .withColumn("p", row_number().over(wPos))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("user_id", "jid")))
    val credited = touches
      .join(convs, Seq("user_id", "jid"))
      .withColumn("w",
        when(col("p") === 1 || col("p") === col("n"), lit(2L)).otherwise(lit(1L)))
      // cumw in position order; W = n+2 for n>=2, else 2 (single touch)
      .withColumn("cumw", sum("w").over(
        Window.partitionBy("user_id", "jid").orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("bigw",
        when(col("n") >= 2, col("n") + 2L).otherwise(lit(2L)))
      .withColumn("credit", expr("rev_cents * cumw div bigw") -
        expr("rev_cents * (cumw - w) div bigw"))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit_cents"))
    val none = convs.join(
        touches.select("user_id", "jid").distinct(),
        Seq("user_id", "jid"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), sum("rev_cents").as("credit_cents"))
      .filter(col("n_touches") > 0)
      .select(lit("(none)").as("channel"), col("n_touches"),
        col("credit_cents"))
    credited.unionByName(none)
      .orderBy(desc("credit_cents"), asc("channel"))
  }

  /** Autoregression diagnostics — per (event_type, lag 1..maxLag), the
    * EXACT OLS slope of the daily count on its lag, in floor milli:
    * slope = (n·Σxy − Σx·Σy)·1000 div (n·Σx² − (Σx)²). The
    * self-persistence profile a forecasting/anomaly stack reads before
    * choosing a model — deliberately the regression SLOPE and raw
    * moment sums rather than Pearson r, whose √(varx·vary) denominator
    * is irrational and engine-ULP-dependent (the assortativity r_milli
    * shortcut needs identical marginals, which lagged windows don't
    * have). Days missing from either side of a lag pair drop (inner
    * join) — gaps are absence of evidence, not zeros.
    *
    * Scale: one (type, day) aggregate collapses the stream, the lag
    * fan-out is ×maxLag over THAT table, and the join is
    * (type, day)-keyed. Degenerate constant windows yield NULL slope
    * (zero variance), not a division error. */
  def arCoefficients(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val d = events.select(col("event_type"),
        (tsUs(events) / lit(86400000000L)).cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val lagged = d.select(col("event_type"), col("day"), col("x"),
        explode(typedLit((1 to maxLag).map(_.toLong))).as("lag"))
      .select(col("event_type"), (col("day") + col("lag")).as("day"),
        col("lag"), col("x").as("xlag"))
    d.join(lagged, Seq("event_type", "day"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"), sum("x").as("sy"),
        sum("xlag").as("sx"), sum(col("x") * col("xlag")).as("sxy"),
        sum(col("xlag") * col("xlag")).as("sxx"))
      // negative numerators: Spark div truncates, DuckDB // floors —
      // the pmod identity (a − pmod(a,b)) div b floors portably
      // (b = the variance term, always > 0 here)
      .withColumn("slope_milli",
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
          expr("""((n * sxy - sx * sy) * 1000
                   - pmod((n * sxy - sx * sy) * 1000,
                          n * sxx - sx * sx))
                  div (n * sxx - sx * sx)""")))
      .select("event_type", "lag", "n", "sx", "sy", "sxx", "sxy",
        "slope_milli")
      .orderBy("event_type", "lag")
  }

  /** DAU/MAU stickiness — the engagement ratio every growth dashboard
    * leads with: per calendar month, the average daily active users
    * over the month's ACTIVE days versus the monthly actives, in floor
    * basis points (computed as ΣDAU·10000 div (days·MAU) — one floor at
    * the end, not a floor-of-floors). Months are integer year·12+m−1
    * (the cohortLtv discipline); days are UTC epoch-days.
    *
    * Scale: one distinct-collapse to (month, day, user) — map-side
    * combined — then two aggregates whose widest is (month, day); the
    * MAU distinct runs over the already-collapsed triple, never raw
    * events. */
  def stickiness(events: DataFrame): DataFrame = {
    val t = tsCol(events)
    val triple = events.select(
        (year(t) * 12 + month(t) - 1).cast("long").as("m"),
        (tsUs(events) / lit(86400000000L)).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val daily = triple.groupBy("m", "day")
      .agg(count(lit(1)).as("dau"))
      .groupBy("m")
      .agg(sum("dau").as("dau_sum"), count(lit(1)).as("n_days"))
    val monthly = triple.select("m", "user_id").distinct()
      .groupBy("m").agg(count(lit(1)).as("mau"))
    daily.join(monthly, "m")
      .withColumn("avg_dau", expr("dau_sum div n_days"))
      .withColumn("stickiness_bp",
        expr("dau_sum * 10000 div (n_days * mau)"))
      .select("m", "n_days", "avg_dau", "mau", "stickiness_bp")
      .orderBy("m")
  }

  /** RFM (recency / frequency / monetary) user segmentation — the
    * classic behavioral scoring every growth/CRM pipeline runs: per
    * user, days since last event, event count, and total spend, each
    * ranked into `n` exact quantile buckets, composed into the
    * three-digit RFM segment (555 = recent + frequent + big spender).
    *
    * The three scores are EXACT ntiles via
    * [[Features.rangeNtileBucket]] (the [[Features.sliceScan]]
    * construction); ties break on user_id so both engines assign
    * identical buckets. Ascending order means higher score = more recent / more
    * frequent / higher value, the conventional reading. Recency is
    * measured against the corpus max timestamp (a 1-row broadcast), in
    * whole UTC days — all integer.
    *
    * Scale: one user-keyed aggregate, then three sliced
    * ntile passes over the |users|-sized profile (not the event
    * stream) — the fact scan happens once. */
  def rfmSegments(events: DataFrame, n: Int = 5): DataFrame = {
    val base = events.select(col("user_id"), tsUs(events).as("us"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id")
      .agg(max("us").as("last_us"), count(lit(1)).as("n_events"),
        sum("c").as("tot_cents"))
    val withRec = base
      .crossJoin(broadcast(base.agg(max("last_us").as("corpus_max_us"))))
      .withColumn("recency_days",
        expr("(corpus_max_us - last_us) div 86400000000"))
    val scored = Seq(("last_us", "r_score"), ("n_events", "f_score"),
      ("tot_cents", "m_score")).foldLeft(withRec) {
        case (df, (v, out)) =>
          Features.rangeNtileBucket(df, v, "user_id", n, out)
      }
    scored
      .withColumn("rfm",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .select("user_id", "recency_days", "n_events", "tot_cents",
        "r_score", "f_score", "m_score", "rfm")
      .orderBy("user_id")
  }

  /** Forecast-baseline backtest — the honesty check every forecasting
    * project runs FIRST: score the two classic baselines (seasonal
    * naive ŷ(d) = y(d−7), plain naive ŷ(d) = y(d−1)) against realized
    * per-type daily counts, on exactly the days where both baselines
    * have a reference. Any model shipped later must beat the winning
    * baseline's MAE; a "forecast" that doesn't is noise with extra
    * steps. MAE in floor-integer units so the whole backtest
    * hash-oracles; lags come from day-arithmetic equi-joins on the
    * (type, day) table — honest about gaps (a day without a d−7
    * reference is excluded, not zero-filled) and never a
    * rows-between frame that would silently misread missing days as
    * adjacent.
    *
    * Scale: one hash agg to the time-bounded daily table, two
    * self-equi-joins of that small table, one per-type rollup. */
  def forecastBacktest(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"), tsUs(events).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val sn = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("x").as("f_sn"))
    val nv = daily.select(col("event_type"), (col("day") + 1).as("day"),
      col("x").as("f_nv"))
    daily.join(sn, Seq("event_type", "day"))
      .join(nv, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(abs(x - f_sn)) div count(1)").as("mae_seasonal"),
        expr("sum(abs(x - f_nv)) div count(1)").as("mae_naive"))
      .withColumn("winner",
        when(col("mae_seasonal") <= col("mae_naive"), lit("seasonal"))
          .otherwise(lit("naive")))
      .orderBy("event_type")
  }

  /** Rolling 7-day distinct actives (per type, per day) — the windowed
    * COUNT DISTINCT no window frame can express (distinct does not
    * decompose over frames): the WAU/MAU-style metric computed exactly
    * by the fan-out trick — each (type, user, active-day) row covers
    * the `windowDays` report days it contributes to, so the rolling
    * distinct becomes a plain per-day distinct aggregate after a
    * bounded explode.
    *
    * Scale shape: events collapse FIRST to the (type, user, day)
    * distinct activity table (the corpus-sized scan happens once; the
    * activity table is \|users × active days\|, far smaller), the
    * explode multiplies THAT by windowDays, and one hash agg with
    * partial countDistinct finishes. Report days past the corpus's
    * last active day are trimmed (the fan-out would otherwise invent
    * phantom trailing days); leading days report genuine partial
    * windows. */
  def rollingActiveUsers(events: DataFrame,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays >= 1, got $windowDays")
    val activity = events
      .select(col("event_type"), col("user_id"), tsUs(events).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .select("event_type", "user_id", "day").distinct()
    val maxDay = activity.agg(max("day").as("max_day"))
    activity
      .withColumn("d",
        explode(sequence(col("day"), col("day") + (windowDays - 1))))
      .crossJoin(broadcast(maxDay))
      .filter(col("d") <= col("max_day"))
      .groupBy(col("event_type"), col("d").as("day"))
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("event_type", "day")
  }

  /** Concurrency timeline — "how many sessions were open at once, and
    * when did we peak": the classic sweep line (+1 at each session
    * start, −1 just past its end, running sum = live concurrency) with
    * the one piece that usually doesn't scale made distributed — the
    * global running sum over boundary times is
    * [[Features.withRunningTotal]] (the [[Features.sliceScan]]
    * construction). Same-instant
    * boundaries collapse into one net delta first (starts and ends at
    * the same microsecond cancel before the scan, closed-interval
    * semantics: a session [a, b] is live AT b). Output: the top-`topK`
    * moments by live concurrency with the global peak riding along. */
  def concurrencyTimeline(events: DataFrame, gapMinutes: Int = 30,
      topK: Int = 20): DataFrame = {
    val ses = sessionize(events, gapMinutes)
      .select(col("start_us"), col("end_us"))
    val bounds = ses.select(col("start_us").as("t"), lit(1L).as("d"))
      .unionByName(
        ses.select((col("end_us") + 1).as("t"), lit(-1L).as("d")))
      .groupBy("t").agg(sum("d").as("delta"))
      .filter(col("delta") =!= 0L)
    val timeline = Features.withRunningTotal(bounds, "t", "delta",
      "concurrency")
    // peak rides on every row, but the global max row is BY DEFINITION
    // inside the top-topK — so take the top-k first (TakeOrdered, one
    // pass over timeline) and read the peak off those topK rows with a
    // constant-size window, instead of the crossJoin(max) shape that
    // evaluated the whole timeline lineage a second time for one
    // number (guide §2.4: the second full computation was the only
    // reason this query re-ran sessionize). Values are identical:
    // max(concurrency | top-k) = max(concurrency | all).
    timeline
      .orderBy(desc("concurrency"), asc("t"))
      .limit(topK)
      .withColumn("peak",
        max("concurrency").over(Window.partitionBy()))
      .select("t", "delta", "concurrency", "peak")
      .orderBy(desc("concurrency"), asc("t"))
  }

  /** Growth accounting — the daily user-lifecycle ledger every product
    * team keeps: each (user, active-day) classifies as NEW (first day
    * ever), RETAINED (also active the previous day) or RESURRECTED
    * (seen before, but not yesterday), and a user CHURNS on the day
    * after their last consecutive run (active d, silent d+1). The books
    * balance by construction — active(d) = new + retained +
    * resurrected, and the identity is asserted IN-PLAN so a
    * classification bug can never ship a report that quietly
    * double-counts.
    *
    * Everything derives from ONE user-keyed sort window over the
    * (user, day) distinct activity table (lag for the previous active
    * day, min for the first): the corpus scan collapses first, the
    * window runs over \|users × active days\|, then a day-keyed rollup.
    * Churn on the corpus's last day is structurally unknowable (no d+1
    * yet) and reported as 0 there, the honest convention. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), tsUs(events).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .select("user_id", "day").distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val classed = activity
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("kind",
        when(col("prev_day").isNull, lit("new"))
          .when(col("prev_day") === col("day") - 1, lit("retained"))
          .otherwise(lit("resurrected")))
    val maxDay = activity.agg(max("day").as("max_day"))
    val perDay = classed.groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = classed
      .crossJoin(broadcast(maxDay))
      .filter(col("day") < col("max_day") &&
        (col("next_day").isNull || col("next_day") > col("day") + 1))
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    perDay.join(churn, Seq("day"), "left")
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .where(assert_true(
        col("n_active") ===
          col("n_new") + col("n_retained") + col("n_resurrected"),
        lit("growthAccounting: the ledger must balance — active = " +
          "new + retained + resurrected")).isNull)
      .select("day", "n_active", "n_new", "n_retained",
        "n_resurrected", "n_churned")
      .orderBy("day")
  }

  /** Pareto concentration report — "do 20% of users drive 80% of
    * events?": users ranked into exact activity deciles
    * ([[Features.rangeNtileBucket]]), each
    * decile's user count, event mass, share, and the cumulative share
    * read from the heaviest decile down. The decile table is 10 rows,
    * so the cumulative window runs over an AGGREGATE (the PlanShapeSpec
    * exception), never raw users. Integer floor bp throughout. The
    * whale-dependence number next to [[graft.ops.Skew.keySkewReport]]'s
    * Gini: same distribution, the product-analytics view of it. */
  def paretoReport(events: DataFrame, nBuckets: Int = 10): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val byDecile = Features
      .rangeNtileBucket(perUser, "n_events", "user_id", nBuckets,
        "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("n_events"))
    val w = Window.orderBy(desc("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byDecile
      .crossJoin(broadcast(byDecile.agg(sum("n_events").as("tot"))))
      .withColumn("share_bp", expr("n_events * 10000 div tot"))
      .withColumn("cum", sum("n_events").over(w))
      .withColumn("cum_share_bp", expr("cum * 10000 div tot"))
      .select("decile", "n_users", "n_events", "share_bp",
        "cum_share_bp")
      .orderBy(desc("decile"))
  }

  /** CUSUM change-point alarm over per-type daily counts — the
    * level-shift detector that catches a SUSTAINED small elevation a
    * per-day threshold misses (each day individually normal, the run of
    * them not). Classic one-sided CUSUM against the type's own floor
    * mean μ: Sᵈ = max(0, Sᵈ⁻¹ + (xᵈ − μ)), alarm when S > h.
    *
    * The recursion LOOKS inherently sequential, but has an exact
    * prefix-scan form: with Pᵈ = Σ(xᵢ − μ) the running residual sum,
    * Sᵈ = Pᵈ − min(0, min_{j≤d} Pⱼ) — a running sum plus a running min,
    * two frames over ONE type-keyed sort window, fully distributed and
    * integer-exact (so the alarm trajectory itself hash-oracles).
    * Detects upward shifts over ACTIVE days; densify (resample) first
    * if silent days should count as drops — the one-sided-up form is
    * the traffic/abuse monitor.
    *
    * Scale: one hash agg to the (types × days) table — time-bounded,
    * like [[laggedCrossCorrelation]] — then a broadcast μ join and a
    * tiny per-type window. The event scan happens once. */
  def cusumAlarm(events: DataFrame, h: Long = 25L): DataFrame = {
    val daily = events.select(col("event_type"), tsUs(events).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val base = daily.groupBy("event_type")
      .agg(expr("sum(x) div count(1)").as("mu"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(base), "event_type")
      .withColumn("p", sum(col("x") - col("mu")).over(w))
      .withColumn("s", col("p") - least(lit(0L), min("p").over(w)))
      .withColumn("is_alarm", (col("s") > h).cast("long"))
      .select("event_type", "day", "x", "mu", "p", "s", "is_alarm")
      .orderBy("event_type", "day")
  }

  /** Interval-OVERLAP join over derived sessions: which user pairs were
    * active at the same time, how often, and for how long — concurrency
    * analytics (shared-incident correlation, household/bot detection)
    * whose naive form is the quadratic session×session non-equi join.
    *
    * Execution is the banding strategy of [[bandedRangeJoin]] extended
    * to interval×interval: each session explodes to the hour bands it
    * covers, candidates meet on a band EQUI-join, the exact overlap
    * predicate filters, and a distinct collapses pairs that share
    * several bands. Banding is lossless (two overlapping intervals
    * share ≥ 1 covering band), which the plain-quadratic oracle twin
    * proves. The per-session explode is bounded: a session spanning ≥
    * `maxBands` bands fails IN-PLAN (fail-loud, the family contract)
    * rather than silently fanning out — size the band width to the gap
    * timeout (a gap-g session's span is (n_events−1)·g at worst, and
    * pathological spans are exactly what the guard should surface).
    *
    * Scale: sessions are |users·sessions|-sized (≪ events); the band
    * join shuffles band-keyed candidates only (concurrency per band,
    * not the session universe), then one pair-keyed aggregate and
    * TakeOrdered. */
  def sessionOverlaps(events: DataFrame, gapMinutes: Int = 30,
      bandUs: Long = 3600000000L, maxBands: Int = 64,
      topK: Int = 100): DataFrame = {
    val ses = sessionize(events, gapMinutes)
      .select(col("user_id"), col("session_idx"),
        col("start_us"), col("end_us"))
      .withColumn("b0", expr(s"start_us div $bandUs"))
      .withColumn("b1", expr(s"end_us div $bandUs"))
    val banded = ses.withColumn("band", explode(sequence(col("b0"),
        when(assert_true(col("b1") - col("b0") < maxBands,
          lit(s"sessionOverlaps: a session covers >= $maxBands bands — " +
            "widen bandUs or investigate the pathological session " +
            "instead of letting it fan out")).isNull, col("b1")))))
      .select("user_id", "session_idx", "start_us", "end_us", "band")
    def side(tag: String) = banded.select(
      col("user_id").as(s"u$tag"), col("session_idx").as(s"s$tag"),
      col("start_us").as(s"start_$tag"), col("end_us").as(s"end_$tag"),
      col("band"))
    side("a").join(side("b"), Seq("band"))
      .filter(col("ua") < col("ub") &&
        col("start_a") <= col("end_b") && col("start_b") <= col("end_a"))
      .select("ua", "sa", "ub", "sb", "start_a", "end_a", "start_b",
        "end_b")
      .distinct()
      .withColumn("overlap_us",
        least(col("end_a"), col("end_b"))
          - greatest(col("start_a"), col("start_b")))
      .groupBy(col("ua").as("user_a"), col("ub").as("user_b"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum("overlap_us").as("tot_overlap_us"))
      .orderBy(desc("n_overlaps"), desc("tot_overlap_us"),
        asc("user_a"), asc("user_b"))
      .limit(topK)
  }

  /** Lagged cross-correlation between two event types' hourly count
    * series — "does `a` lead `b`, and by how many hours?", the
    * monitoring/causal-screening primitive (error spikes preceding
    * purchase drops, clicks leading signups).
    *
    * Both series are the zero-filled hourly counts over the corpus's
    * active hour range [h₀, h₁] (H = h₁−h₀+1 hours). For each lag τ in
    * [−maxLag, maxLag] the report carries the raw lagged dot product
    * dot(τ) = Σ_h a(h)·b(h+τ) and the centered numerator
    * cov_scaled(τ) = H·dot(τ) − Σa·Σb — Pearson's numerator ×H², sign
    * and argmax identical to the normalized correlogram but computed in
    * EXACT integers (counts × counts; no float variance division), so
    * the whole correlogram hash-oracles. Zero-fill makes the inner join
    * the correct product sum: absent hours contribute 0 terms.
    *
    * Scale shape: ONE hash aggregate collapses the event scan to the
    * (type × hour) series — at 100 TB the series size is bounded by the
    * time range (years ≈ 10⁴–10⁵ hours), not the row count. The
    * 2·maxLag+1-row lag dimension and the `b` series both broadcast, so
    * the lag sweep is a map-side nested-loop over #hours·#lags tiny
    * rows; nothing re-shuffles the fact table. */
  def laggedCrossCorrelation(events: DataFrame, typeA: String,
      typeB: String, maxLag: Int = 6): DataFrame = {
    val spark = events.sparkSession
    val hours = events.select(col("event_type"), tsUs(events).as("us"))
      .withColumn("h", expr("us div 3600000000"))
    val range = hours.agg(min("h").as("h0"), max("h").as("h1"))
      .withColumn("hh", col("h1") - col("h0") + lit(1L))
    def series(t: String, cnt: String) =
      hours.filter(col("event_type") === t).groupBy("h")
        .agg(count(lit(1)).as(cnt))
    val a = series(typeA, "ca")
    val b = series(typeB, "cb")
    val lags = spark.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val dots = a.crossJoin(broadcast(lags))
      .join(broadcast(b.withColumnRenamed("h", "hb")),
        col("hb") === col("h") + col("lag"))
      .groupBy("lag").agg(sum(expr("ca * cb")).as("dot"))
    val sums = a.agg(sum("ca").as("sa"))
      .crossJoin(b.agg(sum("cb").as("sb"))).crossJoin(range)
    lags.join(dots, Seq("lag"), "left")
      .withColumn("dot", coalesce(col("dot"), lit(0L)))
      .crossJoin(broadcast(sums))
      .withColumn("cov_scaled", expr("hh * dot - sa * sb"))
      .select("lag", "dot", "cov_scaled")
      .orderBy("lag")
  }
}
