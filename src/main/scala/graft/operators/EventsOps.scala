package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Batch analytics over the `events` stream table: time bucketing,
  * sessionization, semi-structured (JSON) extraction. The same transforms
  * run unchanged under Structured Streaming (graft.streaming.EventsStream)
  * — the point of declaring them on DataFrames.
  */
object EventsOps {

  /** Tumbling-hour aggregation. Batch twin of the streaming windowed agg;
    * hour is emitted as a string so the oracle compare is precision-proof
    * (events.ts is nanosecond parquet — Spark truncates to micros). */
  def hourlyTypeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")

  /** OHLC DOWNSAMPLING — the candlestick/telemetry-rollup resample
    * (open/high/low/close/volume per hour×type): the standard lossy
    * time-series compaction a feature store or monitoring pipeline
    * keeps once raw events age out. NOT a window query: open/close are
    * `min(struct(ts, event_id, value))` / `max(...)` selections —
    * map-side-combinable aggregates, so the whole resample is ONE
    * partial→final aggregation with no per-bucket sort anywhere
    * ((ts, event_id) is unique per event, so the struct comparison
    * never reaches the value field and both engines select the
    * identical row). high/low/open/close are exact stored doubles;
    * only the volume-weighted total needs the 2dp rounding the hourly
    * census already uses. */
  def ohlcResample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("volume"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("hour", "event_type")

  /** SLIDING-window aggregation (1-hour windows every 15 minutes): each
    * event lands in exactly window/slide = 4 windows. Spark's `window()`
    * plans this as a 4-way Expand (generate the window starts) feeding
    * ONE partial→final agg — no self-join of the corpus against a window
    * table, which is the naive formulation that quadruples the shuffle.
    * The same expression runs unchanged under Structured Streaming with
    * a watermark. Window starts are epoch-aligned, which the oracle
    * mirrors with integer arithmetic on epoch micros. */
  def slidingTypeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n_events"))
      .orderBy("win_start", "event_type")

  /** Gap-based sessionization (30-min inactivity boundary), the classic
    * lag→flag→cumsum pattern. Per-user windows shuffle once on user_id;
    * at scale the state is bounded per key, never global. */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val ev = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // exact integer microseconds in both engines (epoch_us in DuckDB):
        // second-granularity unix_timestamp would disagree at gap boundaries
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("session_value"))
      .groupBy("user_id")
      .agg(max(col("session_seq")).as("n_sessions"),
        round(avg(col("n_events")), 2).as("avg_events_per_session"),
        round(sum(col("session_value")), 2).as("total_value"))
      .orderBy("user_id")
  }

  /** Semi-structured extraction: pull `k` out of the JSON `props` column
    * and histogram it. Spark side uses the JSON path reader; the oracle
    * uses a regex — same values, engine-native implementations. */
  def propsKeyHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** AS-OF join (the brief's canonical "operator Spark lacks"): for each
    * click, the most recent purchase by the same user at-or-before its
    * timestamp. Implemented by COMPOSITION (preference path (a)): tag
    * both sides, union, and take `last(..., ignoreNulls)` over a
    * per-user time-ordered running window — one shuffle on user_id,
    * state bounded per key, no range join and no per-row probe. Rights
    * sort before lefts at equal timestamps (side 0 < 1), giving the
    * inclusive `ts >= p.ts` semantics of DuckDB's native ASOF JOIN,
    * which is the oracle. Purchase side is deduped per (user, ts) so
    * ties cannot make the answer ambiguous. */
  def asofPriorPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event"))
    val tagged = purchases
      .select(col("user_id"), col("ts"),
        lit(null).cast("long").as("event_id"), col("p_event"), lit(0).as("side"))
      .unionByName(clicks
        .select(col("user_id"), col("ts"),
          col("event_id"), lit(null).cast("long").as("p_event"), lit(1).as("side")))
    val w = Window.partitionBy("user_id")
      .orderBy(asc("ts"), asc("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_p", last(col("p_event"), ignoreNulls = true).over(w))
      .withColumn("last_pts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        col("last_p").as("p_event"),
        (unix_micros(col("ts")) - unix_micros(col("last_pts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** RANGE join: events bucketed into value tiers via an interval
    * condition against a broadcast-small bounds table — Spark plans it as
    * a broadcast nested-loop probe of 3 rows, which is the right physical
    * shape whenever the interval side is small (the common case). Sums
    * run in DECIMAL for partition-order independence. */
  def valueTierJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq((0.0, 50.0, "low"), (50.0, 200.0, "mid"), (200.0, 500.0, "high"))
      .toDF("lo", "hi", "tier")
    Tables.events(spark, dir)
      .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2).as("total_value"))
      .orderBy("tier")
  }

  /** Fixed-width bin size for [[valueTierJoinBinned]]. Chosen so a tier
    * interval spans a handful of bins; at scale it's tuned to the value
    * distribution (smaller bins = more interval replication, fewer
    * false candidates per bin). */
  val TierBinWidth = 25.0

  /** The same tier assignment as [[valueTierJoin]], but via the BINNED
    * interval-join pattern — the scale-safe general case when BOTH sides
    * are large (a broadcast nested-loop probe needs the interval side to
    * fit in memory; a million-interval side can't). Each interval
    * explodes into the fixed-width bins it overlaps, each event maps to
    * the single bin containing its value, and the join becomes a plain
    * EQUI-join on the bin id (shuffle-partitionable, AQE-sizable) with a
    * residual `lo <= v < hi` filter for exactness. Interval replication
    * cost = interval width / bin width, the explicit knob. Must return
    * byte-identical results to the broadcast-NLJ plan — both are
    * registered, same oracle. */
  def valueTierJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq((0.0, 50.0, "low"), (50.0, 200.0, "mid"), (200.0, 500.0, "high"))
      .toDF("lo", "hi", "tier")
    val binned = tiers.withColumn("bin",
      explode(sequence(
        floor(col("lo") / TierBinWidth).cast("long"),
        ceil(col("hi") / TierBinWidth).cast("long") - 1)))
    Tables.events(spark, dir)
      .withColumn("bin", floor(col("value") / TierBinWidth).cast("long"))
      .join(binned, Seq("bin"))
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2).as("total_value"))
      .orderBy("tier")
  }

  /** Per-type daily event funnel with conversion-style ratios. */
  def dailyTypeShare(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy("day")
    daily
      .withColumn("day_total", sum(col("n")).over(byDay))
      .withColumn("share", round(col("n") / col("day_total"), 4))
      .select("day", "event_type", "n", "share")
      .orderBy("day", "event_type")
  }

  /** Lookback horizon for [[rollingUserActivity]], in microseconds. */
  val RollingHorizonUs = 3600000000L

  /** ROLLING time-window features per event — "activity in the hour
    * before this event", the standard online-feature shape — via a
    * RANGE frame over exact epoch micros (a ROWS frame would count a
    * fixed number of events, not a fixed look-back duration, and ties
    * at the frame edge would be partition-order dependent; the RANGE
    * frame's membership is a pure function of the timestamps). One
    * exchange on user_id; per-row state is the in-horizon buffer,
    * bounded by event rate × horizon. Sums run in DECIMAL so the
    * double total is partition-order independent. */
  def rollingUserActivity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-RollingHorizonUs, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        round(sum(col("value").cast("decimal(18,4)")).over(w).cast("double"), 2))
      .select("event_id", "user_id", "n_1h", "sum_1h")
      .orderBy("event_id")
  }

  /** Half-life for [[decayedUserFeatures]] in epoch micros (6 h): the
    * freshness dial of decayed counters. */
  val DecayHalfLifeUs = 21600000000L

  /** Exponentially DECAYED per-user activity counters — the freshness-
    * weighted feature (recent activity counts more) every ranking /
    * recommendation feature store maintains. The scalable formulation
    * is decay-to-a-FIXED-reference: weight each event by
    * 2^((ts − T_ref)/half-life) and SUM — a distributive aggregate
    * (map-side combined, any partitioning), unlike the per-event
    * recursive EWMA which is order-serial by definition. Shift
    * invariance does the serving-time work: decayed(T) =
    * decayed(T_ref) · 2^((T_ref − T)/hl), so one stored number serves
    * any query time without rescanning history.
    *
    * Cross-engine discipline: Δt is exact integer micros and the
    * reference is the corpus max (a 1-row broadcast, no driver
    * round-trip); each libm `pow` term is quantized to DECIMAL(·,6)
    * BEFORE summing, so partials are partition-order independent and a
    * last-ulp pow divergence between engines is absorbed by the
    * quantization grid, not summed 60k times. */
  def decayedUserFeatures(spark: SparkSession, dir: String): DataFrame =
    decayedUserFeaturesOf(
      Tables.events(spark, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")))

  def decayedUserFeaturesOf(ev: DataFrame,
                            halfLifeUs: Long = DecayHalfLifeUs): DataFrame = {
    val tmax = ev.agg(max("ts_us").as("t_max"))
    val w = pow(lit(2.0),
      (col("ts_us") - col("t_max")).cast("double") / halfLifeUs.toDouble)
    ev.crossJoin(broadcast(tmax))
      .withColumn("wq", w.cast("decimal(18,6)"))
      .withColumn("wvq", (w * col("value")).cast("decimal(28,6)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("wq").cast("double"), 4).as("decayed_count"),
        round(sum("wvq").cast("double"), 4).as("decayed_value"))
      .orderBy("user_id")
  }

  /** First-order TRANSITION matrix over per-user event sequences —
    * the behavioral-analytics staple (and the Markov-chain sufficient
    * statistic): for consecutive events of the same user, count each
    * (from_type, to_type) pair. One lag window per user (single shuffle
    * on user_id, state = 1 row), then a |types|² group-by — bounded key
    * space regardless of log size. */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    Tables.events(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** SCD2-style STATE INTERVALS: treat each event as a state change and
    * build validity ranges [ts, next ts) per user with `lead` — the
    * temporal-table construction every warehouse runs for slowly
    * changing dimensions. Open (last) intervals are excluded so every
    * reported duration is exact. Summarized per state: interval count
    * and total dwell time in exact epoch micros. Same single user-keyed
    * window shuffle as the other sequence ops. */
  def stateIntervals(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    Tables.events(spark, dir)
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .filter(col("valid_to").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(unix_micros(col("valid_to")) - unix_micros(col("ts"))).as("dwell_us"))
      .orderBy("event_type")
  }

  /** Ordered funnel steps for [[funnelConversion]]. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Ordered FUNNEL conversion: how many users reached each step of
    * view → click → purchase, where a step only counts if it happens
    * at-or-after the user's arrival at the previous step (min-time
    * chaining, the standard product-analytics semantics).
    *
    * Shape: one user-keyed min-aggregation per step, each joined back
    * user-keyed to the (strictly smaller) frame of users who reached the
    * previous step — every exchange in the plan is on user_id, so all
    * three aggs and both joins reuse ONE partitioning, and no step ever
    * self-joins the event log. The funnel frame shrinks monotonically,
    * so at 100 TB the joins after step 1 run against a fraction of the
    * user space; the final output is |steps| rows. Timestamps compare
    * as exact epoch micros (the temporal-parity rule — second-granularity
    * rounding would disagree at step boundaries). */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // users-at-step frames: (user_id, t_k) with t_k = earliest arrival.
    val reached = FunnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = ev.filter(col("event_type") === step)
        val gated = prev match {
          case None => mine
          case Some(p) =>
            mine.join(p.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .filter(col("ts") >= col("t_prev"))
        }
        Some(gated.groupBy("user_id").agg(min("ts").as("t")))
    }.flatten
    reached.zip(FunnelSteps).zipWithIndex
      .map { case ((df, step), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit((i + 1).toLong).as("step"), lit(step).as("event_type"),
            col("n_users"))
      }
      .reduce(_.unionByName(_))
      .orderBy("step")
  }

  /** Robust z threshold for [[anomalousDays]]: |z| > 2.5 on the
    * MAD-standardized scale flags ~1.2% of days under normality — the
    * usual monitoring default. */
  val AnomalyZ = 2.5

  /** 1.4826 makes MAD a consistent estimator of σ under normality, so
    * the z threshold means the same thing it would with stddev — but
    * stays robust when the anomalies themselves would poison a
    * mean/stddev baseline (the entire reason monitors use MAD). */
  val MadSigma = 1.4826

  /** Robust ANOMALY DETECTION over daily event volumes — the data-quality
    * monitor every ingest pipeline runs: flag (event_type, day) cells
    * whose count deviates from the type's median by more than
    * [[AnomalyZ]] robust standard deviations (MAD × [[MadSigma]]).
    * Median/MAD instead of mean/stddev because a burst day would inflate
    * a moment-based baseline and mask itself.
    *
    * Shape: the raw log collapses to the (day × type) frame in ONE
    * map-side-combined groupBy — the only pass over the 100 TB table.
    * The median and MAD run as exact `percentile` over that tiny frame
    * (|days|×|types| rows), keyed by type, so the two window-free
    * re-aggregations cost nothing at any corpus scale; on a log with a
    * high-cardinality key (per-user baselines) the same plan swaps in
    * `approx_percentile`. Every row is emitted with its flag rather
    * than filtered, so the monitor's output is the full scored grid
    * (and the oracle never compares empty frames). Counts are integers
    * and medians exact (interpolated) half-integers, so z is a pure
    * function of exact inputs in both engines. */
  def anomalousDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val med = daily.groupBy("event_type")
      .agg(percentile(col("n"), lit(0.5)).as("med"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("absdev", abs(col("n") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(percentile(col("absdev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("z",
        when(col("mad") > 0,
          (col("n") - col("med")) / (lit(MadSigma) * col("mad")))
          .otherwise(lit(0.0)))
      .select(col("day"), col("event_type"), col("n"),
        round(col("med"), 1).as("med"),
        round(col("mad"), 1).as("mad"),
        round(col("z"), 4).as("z"),
        // MAD = 0 (a majority of days share one count — common for
        // low-volume types and short windows) would otherwise make every
        // row unflaggable with z pinned to 0: exactly the burst days the
        // monitor exists for. With a degenerate scale, ANY deviation
        // from the median is the anomaly signal.
        (abs(col("z")) > AnomalyZ ||
          (col("mad") === 0 && col("n") =!= col("med"))).as("is_anomaly"))
      .orderBy("day", "event_type")
  }

  /** GAP-FILL / RESAMPLE onto a regular hourly grid — the time-series
    * completeness operator every monitoring/feature pipeline needs
    * before windowed math is meaningful (a rolling mean over a series
    * with silent holes is wrong in exactly the hours that matter, the
    * outage ones). Emits one row per (event_type × hour) cell of the
    * corpus' full [min, max] hour span: observed cells carry their
    * count and exact 4dp hourly average; empty cells carry
    * n_events = 0, a `filled` flag, and the last PRIOR observed average
    * forward-filled (`last(..., ignoreNulls)` over the per-type
    * hour-ordered window — the carry-forward semantics of every
    * downstream feature store). Hours before a type's first observation
    * have nothing to carry and stay NULL — honestly absent, not zero.
    *
    * Scale: the 100 TB log collapses to the (hour × type) grid in ONE
    * map-side-combined groupBy — the only full pass. The spine is
    * |hours| × |types| rows generated from a 1-row bounds aggregate
    * (`sequence` + `explode`, no driver round-trip), the ffill window
    * runs per type over that bounded grid, and the join of spine to
    * observations is grid-sized. Nothing downstream of the first
    * aggregate ever touches the corpus again. Averages are exact in
    * both engines: values sum as integer 10⁻⁴ units, the 4dp mean is
    * the integer quotient rounded half away from zero ([[mean4]]), and
    * only that result converts to DOUBLE — so neither partition order
    * nor an engine's DOUBLE rounding of a half-way tie can move it;
    * hours cross the oracle as strings (the temporal-parity rule). */
  def resampleHourly(spark: SparkSession, dir: String): DataFrame =
    resampleHourlyOf(Tables.events(spark, dir))

  /** `s4 / n` rounded half away from zero to an integer number of
    * 10⁻⁴ units, as a DOUBLE: integer arithmetic on |s4| (so truncating
    * and flooring division agree), one division by 10⁴ at the end. A
    * DOUBLE `round(sum / n, 4)` is not exact: Spark rounds the double's
    * decimal string half-up while DuckDB rounds its binary value, so a
    * half-way mean such as 49.06625 came out 49.0663 in one engine and
    * 49.0662 in the other. */
  private[graft] def mean4(s4: String, n: String): Column =
    expr(s"CAST(CASE WHEN $s4 < 0 THEN -1 ELSE 1 END * " +
      s"((2 * abs($s4) + $n) div (2 * $n)) AS DOUBLE) / 10000")

  def resampleHourlyOf(ev: DataFrame): DataFrame = {
    // the observed grid feeds three consumers (spine bounds, the type
    // set, the join) — materialized once so the corpus is scanned
    // exactly once (lazy sharing would re-run the scan per consumer)
    val obs = Dedup.unownedCut(ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum((col("value").cast("decimal(18,4)") * 10000).cast("long")).as("s4"))
      .select(col("hour"), col("event_type"), col("n_obs"),
        mean4("s4", "n_obs").as("obs_avg")))
    // spine bounds and the type set both derive from the ALREADY
    // AGGREGATED grid, not the log — the corpus is scanned exactly once
    val bounds = obs.agg(min(col("hour")).as("h_lo"), max(col("hour")).as("h_hi"))
    val hours = bounds.select(
      explode(sequence(col("h_lo"), col("h_hi"), expr("interval 1 hour")))
        .as("hour"))
    val types = obs.select("event_type").distinct()
    val ffill = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hours.crossJoin(broadcast(types))
      .join(obs, Seq("hour", "event_type"), "left")
      .withColumn("filled", col("n_obs").isNull)
      .withColumn("n_events", coalesce(col("n_obs"), lit(0L)))
      .withColumn("avg_value",
        last(col("obs_avg"), ignoreNulls = true).over(ffill))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n_events"), col("avg_value"), col("filled"))
      .orderBy("event_type", "hour")
  }

  /** Day-N RETENTION cohorts — the staple growth-analytics rollup: users
    * grouped by their first-seen day, counted on each subsequent day they
    * return (day_n = 0 is the cohort size itself). Day 0..7 horizon.
    *
    * Shape: distinct (user, day) activity first — one exchange keyed by
    * user — then the first-seen min and the cohort rollup reuse that
    * same user-keyed partitioning; the final groupBy key space is
    * |days| × 8. No windows, no self-join of the event log against
    * itself: the cohort join is user-keyed against the (small) first-seen
    * frame, so the plan holds when the log is the 100 TB table. Dates
    * cross the oracle as strings (the temporal-parity rule). */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
    ud.join(first, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_n"),
        col("user_id"))
      .filter(col("day_n") <= 7)
      .groupBy("cohort_day", "day_n")
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_n"), col("n_users"))
      .orderBy("cohort_day", "day_n")
  }
}
