package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-history analytics — the warehouse-side operator family a
  * migration lands its event tables INTO: ordered-funnel conversion,
  * cohort retention, SCD Type-2 interval compaction, and the
  * bucketized interval-overlap join (the non-equi join shape that
  * must never be a cross join at scale).
  *
  * All four keys run on the `events`/`orders` fixtures through the
  * repo canon: timestamps travel as epoch-µs longs through
  * [[Tables.tsUs]] (µs is the finest cross-engine-visible resolution,
  * FIXTURES.md), ranks and runs are total-ordered with explicit
  * `event_id` tiebreaks, and every emitted ratio is a single
  * IEEE division of exact integers rounded at 1e-4 (SURVEY §5.3).
  */
object Analytics {

  /** One µs-day — the integer-division grain for cohort/overlap days. */
  private val DayUs = 86400000000L

  // --- c74: ordered funnel conversion ------------------------------

  /** The funnel's ordered stages. */
  private[graft] val FunnelStages = Seq("view", "click", "purchase")

  /** c74 — ordered funnel conversion over the event stream: how many
    * users performed view → click → purchase IN THAT ORDER (each later
    * stage strictly after the user's earliest qualifying prior stage —
    * a click before any view does not convert). The standard product-
    * analytics funnel, computed set-at-a-time instead of per-user
    * imperative scans.
    *
    * Shape: three STACKED window aggregates over one
    * `partitionBy(user_id)` — `v_ts` = min view ts, `c_ts` = min click
    * ts strictly after `v_ts`, `p_ts` = min purchase ts strictly after
    * `c_ts`. Each references the previous window's column, so Catalyst
    * plans three Window operators over the SAME partitioning: one
    * exchange + one sort serve all three at any corpus size — the
    * funnel never re-shuffles per stage. The per-user frame then
    * collapses to one row per user (map-side combinable) and the final
    * 3-row stage table is a driver-sized `stack`.
    *
    * Determinism: stage timestamps are epoch-µs longs; "strictly
    * after" is integer `>` in both engines; conversion ratios are one
    * int/int division rounded at 1e-4 with a NULL guard on an empty
    * prior stage.
    */
  def funnelConversion(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    funnelConversionFrom(
      ev.select(col("user_id"), col("event_type"), Tables.tsUs(ev).as("ts_us")))
  }

  /** Kernel of [[funnelConversion]] over any (user_id, event_type,
    * ts_us) frame — split out so the spec can pin the ordering
    * semantics (a click BEFORE the first view must not count) on a
    * hand-built history.
    */
  private[graft] def funnelConversionFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = e
      .withColumn("v_ts",
        min(when(col("event_type") === FunnelStages(0), col("ts_us"))).over(w))
      .withColumn("c_ts",
        min(when(col("event_type") === FunnelStages(1) &&
          col("ts_us") > col("v_ts"), col("ts_us"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === FunnelStages(2) &&
          col("ts_us") > col("c_ts"), col("ts_us"))).over(w))
    val perUser = staged.groupBy(col("user_id"))
      .agg(max(col("v_ts")).as("v"), max(col("c_ts")).as("c"),
        max(col("p_ts")).as("p"))
    val counts = perUser.agg(count(col("v")).as("u1"), count(col("c")).as("u2"),
      count(col("p")).as("u3"))
    counts
      .select(expr(
        s"""stack(3,
           |  1L, '${FunnelStages(0)}', u1, u1,
           |  2L, '${FunnelStages(1)}', u2, u1,
           |  3L, '${FunnelStages(2)}', u3, u2)
           |AS (stage_idx, stage, users, prev_users)""".stripMargin))
      .select(col("stage_idx"), col("stage"), col("users"),
        when(col("prev_users") > 0,
          round(col("users").cast("double") / col("prev_users"), 4))
          .as("conversion"))
      .orderBy("stage_idx")
  }

  // --- c75: cohort retention ---------------------------------------

  /** c75 — cohort retention: users grouped by the day of their FIRST
    * event (the cohort), counted on every later day-offset they were
    * active. The (cohort × offset) retention matrix behind every
    * "day-N retention" metric.
    *
    * Shape: the corpus collapses to distinct (user, day) FIRST — one
    * map-side-combinable aggregation, so the window below sorts
    * activity days (≤ span per user), never raw events; the cohort
    * day rides a `min` window over the same user partitioning; the
    * final count groups by (cohort, offset) which is a second,
    * output-sized shuffle. Integer day arithmetic throughout:
    * day = ts_us div 86 400 000 000 — no calendar/TZ functions on the
    * hot path (the date label is formatted once per OUTPUT row).
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    cohortRetentionFrom(
      ev.select(col("user_id"), Tables.tsUs(ev).as("ts_us")))
  }

  /** Kernel of [[cohortRetention]] over any (user_id, ts_us) frame. */
  private[graft] def cohortRetentionFrom(e: DataFrame): DataFrame = {
    val days = e
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    days
      .withColumn("cohort", min(col("day")).over(w))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("users"))
      .select(
        date_format(timestamp_micros(col("cohort") * DayUs), "yyyy-MM-dd")
          .as("cohort_date"),
        col("day_offset"), col("users"))
      .orderBy("cohort_date", "day_offset")
  }

  // --- c76: SCD Type-2 interval compaction -------------------------

  /** c76 — SCD Type-2 compaction of the event stream: per user, runs
    * of consecutive identical states (event_type here) collapse to one
    * versioned row with a validity interval [valid_from, valid_to),
    * NULL valid_to marking the current version — the change-data-
    * capture → dimension-history build every warehouse migration runs
    * after landing a mutation log.
    *
    * Shape: the classic gaps-and-islands reduction — a `lag` change
    * flag and its running sum (the version number) ride ONE
    * `(user_id, ts_us, event_id)` sort, the groupBy(user, version)
    * collapse is map-side combinable ON the same partitioning (no
    * second exchange — Catalyst reuses the window's hash partitioning
    * for the aggregate), and `valid_to` is a `lead` over versions
    * (per-user version counts are run-length-bounded). Nothing in the
    * plan is corpus-quadratic and the one shuffle is by user —
    * exactly how a 100 TB mutation log compacts per key.
    *
    * Determinism: the sort tiebreaks equal-µs events by event_id;
    * the change test is an explicit isNull ∨ ≠ (no engine-specific
    * null-equality semantics on the path).
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    scd2IntervalsFrom(ev.select(col("user_id"), col("event_id"),
      col("event_type"), Tables.tsUs(ev).as("ts_us")))
  }

  /** Kernel of [[scd2Intervals]] over any (user_id, event_id,
    * event_type, ts_us) frame — split out so the spec can pin the
    * run-compaction semantics (A,A,B,A → 3 versions) directly.
    */
  private[graft] def scd2IntervalsFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val marked = e
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev_state").isNull ||
          col("prev_state") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = marked.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version").asc)
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
      .orderBy("user_id", "version")
  }

  // --- c77: bucketized interval-overlap join -----------------------

  /** Interval widths (days) of the two sides, and the equi-join
    * bucket width. Buckets at least as wide as the WIDER side keep
    * per-interval bucket fan-out ≤ 2 — each interval lands in at most
    * ⌈width/bucket⌉ + 1 buckets.
    */
  private[graft] val OverlapDaysA = 7
  private[graft] val OverlapDaysB = 14
  private[graft] val BucketDays = 14

  /** c77 — interval-overlap join WITHOUT a cross join: deterministic
    * md5 samples of open ('O') and finished ('F') orders become
    * 7-day and 14-day activity intervals, and every overlapping
    * (A, B) pair is found through a BUCKETIZED equi-join — each
    * interval explodes to its covering [[BucketDays]]-day buckets,
    * candidates meet on the bucket key, and a pair is emitted exactly
    * once at the bucket containing max(start_a, start_b) (which both
    * sides provably cover whenever the intervals overlap, so the
    * once-only guard loses nothing).
    *
    * This is THE scale shape for temporal/spatial overlap joins
    * (DuckDB's IEJoin and Sedona's grid partitioning solve the same
    * problem): a naive theta-join is corpus-quadratic and Spark would
    * plan it as BroadcastNestedLoopJoin; the bucket explode costs
    * ≤ 2 rows per interval and turns the join into a shuffled
    * equi-join whose per-key work is bucket-occupancy-quadratic —
    * bounded by the time-density of intervals, not the corpus. The
    * oracle is DuckDB's native non-equi range join over the same
    * samples, so the bucketization is verified to lose and invent
    * nothing.
    */
  def intervalOverlapJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.t(spark, sfDir, "orders")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs").as("d"))
    def side(status: String, widthDays: Int, pfx: String): DataFrame =
      base
        .where(col("o_orderstatus") === status &&
          substring(md5(concat(lit("ivl:"), col("o_orderkey").cast("string"))), 1, 2)
            .isin("00", "01", "02", "03"))
        .select(col("o_orderkey").as(s"${pfx}_orderkey"),
          col("d").as(s"${pfx}_start"),
          (col("d") + widthDays).as(s"${pfx}_end"))
    val a = side("O", OverlapDaysA, "a")
    val b = side("F", OverlapDaysB, "b")
    def buckets(df: DataFrame, pfx: String): DataFrame =
      df.withColumn("bk", explode(expr(
        s"sequence(${pfx}_start div $BucketDays, (${pfx}_end - 1) div $BucketDays)")))
    buckets(a, "a").join(buckets(b, "b"), Seq("bk"))
      .where(col("a_start") < col("b_end") && col("b_start") < col("a_end") &&
        col("bk") === expr(s"greatest(a_start, b_start) div $BucketDays"))
      .select(col("a_orderkey"), col("b_orderkey"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_days"))
      .orderBy("a_orderkey", "b_orderkey")
  }

  // --- c81: last-touch attribution ---------------------------------

  /** Attribution lookback window (µs): 7 days. */
  private[graft] val AttrWindowUs = 7L * 86400000000L

  /** c81 — last-touch marketing attribution: every purchase is
    * credited to the user's most recent STRICTLY-EARLIER view/click
    * within a 7-day lookback, reporting the winning channel and the
    * gap — the conversion-credit assignment behind ad-spend reporting,
    * and the single-stream complement of the two-table as-of join
    * (b14): here the "quote" and "trade" sides interleave in ONE
    * event stream, so the as-of lookup is a running window max, not a
    * join at all.
    *
    * The channel rides the max through an integer PACKING trick:
    * key = ts_us · 4 + channel_code (click=2 > view=1, the tiebreak
    * for equal-µs touches) — one window max carries both the time and
    * the argmax channel, decoded with div/mod after the frame. The
    * frame is ROWS UNBOUNDED PRECEDING TO 1 PRECEDING over the
    * (ts_us, event_id) sort, so "strictly earlier" inherits the
    * canon's deterministic tiebreak. One exchange by user serves
    * everything; purchases filter AFTER the window (the marketing
    * rows must flow through the frame, not the output).
    */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    lastTouchAttributionFrom(ev.select(col("user_id"), col("event_id"),
      col("event_type"), Tables.tsUs(ev).as("ts_us")))
  }

  /** Kernel of [[lastTouchAttribution]] over any (user_id, event_id,
    * event_type, ts_us) frame.
    */
  private[graft] def lastTouchAttributionFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    e
      .withColumn("mkt_key", when(col("event_type") === "view", col("ts_us") * 4 + 1)
        .when(col("event_type") === "click", col("ts_us") * 4 + 2))
      .withColumn("last_mkt", max(col("mkt_key")).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        expr("last_mkt div 4").as("touch_ts_us"),
        expr("last_mkt % 4").as("ch_code"))
      .withColumn("in_window",
        col("touch_ts_us").isNotNull &&
          col("purchase_ts_us") - col("touch_ts_us") <= AttrWindowUs)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        when(col("in_window"),
          when(col("ch_code") === 2, "click").otherwise("view")).as("channel"),
        when(col("in_window"),
          col("purchase_ts_us") - col("touch_ts_us")).as("gap_us"))
      .orderBy("purchase_id")
  }

  // --- c82: join cardinality + skew forecast -----------------------

  /** c82 — join-size and skew FORECAST without executing the join:
    * |orders ⋈ lineitem on orderkey| = Σ_k c_orders(k) · c_lineitem(k),
    * computed from two map-side-combined per-key count tables whose
    * join is KEY-sized — never the fact-by-fact output. Per order
    * status: predicted join rows, key count, and the max/avg per-key
    * multiplicity (the skew indicator that decides salting or AQE
    * skew-join before any shuffle is paid). This is the measured
    * pre-flight a 100 TB join plan runs instead of trusting input-side
    * estimates — the same post-materialization doctrine as the c64
    * audit budget and the broadcast hint gates (Sessions.scala): count
    * the keys, don't guess from file sizes.
    */
  def joinCardinality(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .groupBy(col("o_orderkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_o"))
    val l = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_l"))
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus"),
        (col("n_o") * coalesce(col("n_l"), lit(0L))).as("prod"),
        coalesce(col("n_l"), lit(0L)).as("n_l"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("prod")).as("join_rows"),
        max(col("n_l")).as("max_rows_per_key"),
        round(sum(col("prod")).cast("double") / count(lit(1)), 4)
          .as("avg_rows_per_key"))
      .orderBy("o_orderstatus")
  }

  // --- c90: Welch's t-test (A/B experiment readout) ----------------

  /** c90 — two-sample Welch's t-test per event_type: the A/B
    * experiment readout (difference of means, unequal variances —
    * Welch 1947, public) over a deterministic md5 assignment
    * (nibble 0-7 → arm A), the same RNG-free split discipline as c32.
    * Emits per metric group: arm sizes, means, the t statistic and
    * the Welch–Satterthwaite degrees of freedom — the numbers an
    * experimentation platform computes for every metric every day.
    *
    * Shape: ONE scan, one map-side-combined aggregate — both arms'
    * moments (n, Σ, Σ²) ride conditional DECIMAL sums in the same
    * groupBy, so adding arms or metrics never adds passes. All
    * moments are partition-invariant exact decimals; t and dof are a
    * fixed dag of double arithmetic on those, tolerance-rounded at
    * 1e-4 (identical in DuckDB).
    */
  def abWelchT(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val isA = substring(md5(concat(lit("arm:"), col("event_id").cast("string"))), 1, 1) < "8"
    def dsumIf(cond: Column, c: Column) =
      graft.Canon.dsum(when(cond, c).otherwise(lit(0.0)))
    val m = ev
      .select(col("event_type"), col("value"), isA.as("a"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"),
        dsumIf(col("a"), col("value")).as("s1a"),
        dsumIf(col("a"), col("value") * col("value")).as("s2a"),
        dsumIf(!col("a"), col("value")).as("s1b"),
        dsumIf(!col("a"), col("value") * col("value")).as("s2b"))
    m.select(col("event_type"), col("n_a"), col("n_b"),
        round(col("s1a") / col("n_a"), 4).as("mean_a"),
        round(col("s1b") / col("n_b"), 4).as("mean_b"),
        ((col("s2a") - col("s1a") * col("s1a") / col("n_a")) / (col("n_a") - 1) / col("n_a"))
          .as("sea2"),
        ((col("s2b") - col("s1b") * col("s1b") / col("n_b")) / (col("n_b") - 1) / col("n_b"))
          .as("seb2"),
        (col("s1a") / col("n_a") - col("s1b") / col("n_b")).as("diff"))
      // Squares via explicit multiplication, never pow(x, 2): libm pow
      // is not bit-specified and the two engines may differ in the
      // last ulp; x*x is exact IEEE in both.
      .select(col("event_type"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        round(col("diff") / sqrt(col("sea2") + col("seb2")), 4).as("t_stat"),
        round((col("sea2") + col("seb2")) * (col("sea2") + col("seb2")) /
          (col("sea2") * col("sea2") / (col("n_a") - 1) +
            col("seb2") * col("seb2") / (col("n_b") - 1)), 4)
          .as("welch_dof"))
      .orderBy("event_type")
  }

  // --- c91: per-group OLS trend ------------------------------------

  /** c91 — simple OLS trend per event_type: slope/intercept/R² of
    * value over time (days), closed-form from five moment sums — the
    * metric-trend regression behind every "is this KPI drifting"
    * dashboard, and the moment-sum pattern that scales to any
    * closed-form GLM: ONE scan, one map-side-combined aggregate,
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) as a fixed double dag over
    * DECIMAL-exact sums (partition-invariant), rounded at 1e-4.
    * x = ts_us/86.4e9 (fractional days — one double division,
    * engine-identical); products cast to DECIMAL(38,6) BEFORE
    * summing, the repo canon.
    */
  def olsTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val m = ev
      .select(col("event_type"),
        (Tables.tsUs(ev) / lit(86400000000.0)).as("x"), col("value").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Canon.dsum(col("x")).as("sx"),
        graft.Canon.dsum(col("y")).as("sy"),
        graft.Canon.dsum(col("x") * col("y")).as("sxy"),
        graft.Canon.dsum(col("x") * col("x")).as("sxx"),
        graft.Canon.dsum(col("y") * col("y")).as("syy"))
    m.select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sx"), col("sy"), col("syy"))
      .select(col("event_type"), col("n"),
        round(col("num") / col("den"), 4).as("slope_per_day"),
        round((col("sy") - col("num") / col("den") * col("sx")) / col("n"), 4)
          .as("intercept"),
        round(col("num") * col("num") /
          (col("den") * (col("n") * col("syy") - col("sy") * col("sy"))), 4)
          .as("r2"))
      .orderBy("event_type")
  }

  // --- c92: Kaplan–Meier survival curve ----------------------------

  /** c92 — Kaplan–Meier survival estimate of user lifetime (Kaplan &
    * Meier 1958 — public; the churn/survival curve behind retention
    * forecasting): lifetime = last-active − first-active day per
    * user; users still active on the corpus's final observed day are
    * CENSORED (they leave the risk set without counting as churn —
    * the estimator's whole point). S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ).
    *
    * Shape: the corpus collapses to a USER-sized (lifetime, censored)
    * table (one map-side-combined agg); event-time grouping and the
    * at-risk/cumulative-product windows then run over ≤ span-days
    * rows — never the corpus (the c65 vocabulary-window discipline).
    * The product rides exp(Σ ln(1 − d/n)) over the ordered frame —
    * a sequential running sum, same accumulation order in both
    * engines; a terminal d=n step yields ln 0 = −∞ → S = 0 exactly,
    * identically in both.
    */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    kaplanMeierFrom(ev
      .select(col("user_id"), Tables.tsUs(ev).as("ts_us"))
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day")))
  }

  /** Kernel of [[kaplanMeier]] over any (user_id, day) activity frame
    * — split out so the spec can pin the censoring and product
    * semantics on hand-built lifetimes.
    */
  private[graft] def kaplanMeierFrom(days: DataFrame): DataFrame = {
    val perUser = days
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
    val horizon = perUser.agg(max(col("l")).as("maxday"))
    val lifetimes = perUser.crossJoin(broadcast(horizon))
      .select((col("l") - col("f")).as("t"),
        (col("l") === col("maxday")).as("censored"))
    val byT = lifetimes.groupBy(col("t"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byT
      .withColumn("left_before", coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(lifetimes.agg(count(lit(1)).as("n_total"))))
      .withColumn("n_at_risk", col("n_total") - col("left_before"))
      .withColumn("survival", round(exp(sum(
        log(lit(1.0) - col("d").cast("double") / col("n_at_risk"))).over(w)), 4))
      .select(col("t").as("t_days"), col("n_at_risk"), col("d").as("deaths"),
        col("c").as("censored"), col("survival"))
      .orderBy("t_days")
  }

  // --- c93: Markov transition matrix -------------------------------

  /** c93 — first-order Markov transition matrix over per-user event
    * sequences: P(next = b | current = a) with transition counts —
    * the behavioral model fit behind next-action prediction and
    * anomalous-session scoring (the event-stream twin of c54's token
    * bigram LM). One (user, ts, event_id) sort produces the lag
    * pairs; the matrix is |types|² rows — a broadcastable artifact at
    * any corpus size. Probabilities are exact integer ratios rounded
    * at 1e-4.
    */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    markovTransitionsFrom(ev.select(col("user_id"), col("event_id"),
      col("event_type"), Tables.tsUs(ev).as("ts_us")))
  }

  /** Kernel of [[markovTransitions]] over any (user_id, event_id,
    * event_type, ts_us) frame.
    */
  private[graft] def markovTransitionsFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val pairs = e
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = counts.groupBy(col("from_type").as("ft"))
      .agg(sum(col("n")).as("row_n"))
    counts.join(broadcast(rowTotals), col("from_type") === col("ft"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_n"), 4).as("p"))
      .orderBy("from_type", "to_type")
  }

  // --- c94: RFM segmentation ---------------------------------------

  /** c94 — RFM customer segmentation (recency / frequency / monetary
    * — the classic CRM scoring): per user, days since last activity,
    * event count, decimal-exact value sum; each dimension scored 1–4
    * by EXACT quartile cut points fitted over the user table (the
    * c84 percentile idiom — never a global ntile, which would funnel
    * every user through one window partition; the c28 rule). Scoring
    * is `1 + (v > q1) + (v > q2) + (v > q3)` — pure comparisons
    * against three broadcast constants, deterministic under ties in
    * both engines. Recency scores INVERT (recent = high), the CRM
    * convention.
    *
    * Shape: one corpus scan → user-sized frame; one 3-quantile fit
    * per dimension over users (broadcast back); one output row per
    * user with the composite `rfm` code.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val users = ev
      .select(col("user_id"), Tables.tsUs(ev).as("ts_us"), col("value"))
      .groupBy(col("user_id"))
      .agg(expr(s"max(ts_us) div $DayUs").as("lastday"),
        count(lit(1)).as("frequency"),
        graft.Canon.dsum(col("value")).as("monetary"))
    val withR = users
      .crossJoin(broadcast(users.agg(max(col("lastday")).as("refday"))))
      .select(col("user_id"), (col("refday") - col("lastday")).as("recency_days"),
        col("frequency"), col("monetary"))
    val cuts = withR.agg(
      expr("percentile(recency_days, array(0.25, 0.5, 0.75))").as("rq"),
      expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("fq"),
      expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("mq"))
    def score(v: Column, q: Column): Column =
      (lit(1) + (v > q(0)).cast("int") + (v > q(1)).cast("int") +
        (v > q(2)).cast("int")).cast("long")
    withR.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        round(col("monetary"), 4).as("monetary"),
        (lit(5L) - score(col("recency_days").cast("double"), col("rq"))).as("r_score"),
        score(col("frequency").cast("double"), col("fq")).as("f_score"),
        score(col("monetary"), col("mq")).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  // --- c104: MAD outlier gate --------------------------------------

  /** c104 — MEDIAN/MAD robust outlier gate per event_type (Iglewicz &
    * Hoaglin 1993's modified z-score, |0.6745·(v−med)/MAD| > 3.5 —
    * public): the order-statistic complement of c39's moment z-score,
    * which a single extreme value can blind (it inflates the very σ
    * it is judged against); the median/MAD pair is 50%-breakdown
    * robust. Two exact-percentile passes (Spark `percentile` and
    * DuckDB `quantile_cont` share the interpolation — the c84
    * precedent): per-group median, then median of |v − med|; the cut
    * compares against ROUNDED (1e-4) med/MAD so the threshold is
    * bit-identical cross-engine and a boundary value cannot straddle
    * (the c84 fence discipline). Event-type groups are tiny (≤10), so
    * the fit broadcasts back onto one counting scan — the c39 join
    * shape.
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med"))
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      .withColumn("cut", round(lit(3.5) * col("mad") / lit(0.6745), 4))
    ev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > col("cut"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n"), 4).as("outlier_frac"))
      .orderBy("event_type")
  }

  // --- c105: feature correlation matrix ----------------------------

  /** How many leading embedding dims the correlation audit covers. */
  private[graft] val CorrDims = 8

  /** c105 — pairwise Pearson CORRELATION MATRIX of the leading
    * [[CorrDims]] embedding dimensions — the feature-redundancy audit
    * run before any distance-based step (two near-duplicate
    * dimensions double-count their signal in every cosine/k-means
    * pass; the fix is c67's PCA, and THIS is the evidence that
    * triggers it). One posexplode pass restricted to the leading dims
    * self-joins on vec_id (×d fan-out of an 8-row-per-vector stream,
    * never the corpus), then each of the d·(d−1)/2 cells reduces to
    * the five moment sums and assembles corr in a fixed double dag
    * over DECIMAL-exact sums (the c91 pattern; squares are explicit
    * products, never pow — the c90/c91 rule). Spark's native `corr`
    * is the one-pass streaming update — order-dependent in its last
    * ulp, exactly what the canon bans (the c39/stddev precedent).
    */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .where(col("i") < CorrDims)
      .select(col("vec_id"), (col("i") + 1).cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val pairs = vals.as("a")
      .join(vals.as("b"), col("a.vec_id") === col("b.vec_id") &&
        col("a.dim") < col("b.dim"))
      .select(col("a.dim").as("dim_i"), col("b.dim").as("dim_j"),
        col("a.v").as("x"), col("b.v").as("y"))
    pairs.groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"),
        graft.Canon.dsum(col("x")).as("sx"),
        graft.Canon.dsum(col("y")).as("sy"),
        graft.Canon.dsum(col("x") * col("x")).as("sxx"),
        graft.Canon.dsum(col("y") * col("y")).as("syy"),
        graft.Canon.dsum(col("x") * col("y")).as("sxy"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("corr"))
      .orderBy("dim_i", "dim_j")
  }

  // --- c106: categorical mutual information ------------------------

  /** c106 — MUTUAL INFORMATION between two categorical columns
    * (lang × source), with marginal entropies and the normalized
    * MI/√(H_x·H_y) — the dependence audit behind stratification
    * decisions (if source determines lang, stratifying on both
    * double-stratifies) and leakage checks (a split column with high
    * NMI against a label leaks it). Three counting aggregates of ONE
    * scan (cells, then the two marginals as re-aggregations of the
    * cell table — never a second corpus pass); every probability is
    * an exact-integer ratio and each Σ p·ln(…) runs over ≤|X|·|Y|
    * cell terms summed DECIMAL(38,18)-exact, so the emitted bits are
    * engine-identical (the c46 `ln` rule).
    */
  def mutualInformation(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.t(spark, sfDir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cxy"))
    val mx = cells.groupBy(col("lang")).agg(sum(col("cxy")).as("cx"))
    val my = cells.groupBy(col("source")).agg(sum(col("cxy")).as("cy"))
    val tot = cells.agg(sum(col("cxy")).as("n"))
    val joined = cells.join(broadcast(mx), "lang").join(broadcast(my), "source")
      .crossJoin(broadcast(tot))
    val mi = joined.agg(
      graft.Canon.dsum18((col("cxy") / col("n")) *
        log((col("cxy") * col("n")) / (col("cx") * col("cy")))).as("mi_raw"))
    val hx = mx.crossJoin(broadcast(tot))
      .agg(graft.Canon.dsum18(-(col("cx") / col("n")) *
        log(col("cx") / col("n"))).as("h_lang"))
    val hy = my.crossJoin(broadcast(tot))
      .agg(graft.Canon.dsum18(-(col("cy") / col("n")) *
        log(col("cy") / col("n"))).as("h_source"))
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy)).crossJoin(broadcast(tot))
      .select(col("n"), round(col("mi_raw"), 6).as("mi_nats"),
        round(col("h_lang"), 6).as("h_lang"),
        round(col("h_source"), 6).as("h_source"),
        round(col("mi_raw") / sqrt(col("h_lang") * col("h_source")), 6).as("nmi"))
  }

  // --- c107: PSI distribution drift ---------------------------------

  /** PSI value-bin width and count (values span ~[0, 500]). */
  private[graft] val PsiBinW = 50
  private[graft] val PsiBins = 10

  /** c107 — POPULATION STABILITY INDEX drift monitor per event_type:
    * PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b) between the base corpus and
    * the md5 1-in-5 increment (the c50/c86 split convention standing
    * in for "this week's data") — the standard production gate for
    * "has the feature distribution moved" (PSI > 0.2 = investigate),
    * i.e. the MONITORING op a 100 TB pipeline runs after every c86
    * increment. Fixed-width value bins (floor(v/[[PsiBinW]]) clamped
    * to [[PsiBins]]) — integer-derived, engine-identical; add-one
    * smoothing keeps empty bins finite DETERMINISTICALLY (no ε
    * literal to disagree on); ONE scan reduces to (type, bin, side)
    * counts map-side, the per-type Σ runs over ≤10 bin terms
    * DECIMAL(38,18)-exact.
    */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame =
    psiFromCounts(psiCounts(Tables.t(spark, sfDir, "events")))

  /** The corpus-sized stage of c107/c108: one scan reduced to
    * (event_type, bin) base/delta counts — works on any batch OR
    * streaming (event_id, event_type, value) frame, so the streaming
    * twin cannot drift from the batch kernel (only one copy exists).
    */
  private[graft] def psiCounts(ev: DataFrame): DataFrame = {
    val isDelta = substring(md5(concat(lit("psi:"),
      col("event_id").cast("string"))), 1, 1).isin("0", "1", "2")
    ev.select(col("event_type"),
      least(floor(col("value") / PsiBinW).cast("long"), lit(PsiBins - 1L)).as("bin"),
      isDelta.as("delta"))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(!col("delta"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("delta"), 1L).otherwise(0L)).as("cb"))
  }

  /** The constant-size PSI assembly over a (type, bin, ca, cb) count
    * table (≤ types × [[PsiBins]] rows).
    */
  private[graft] def psiFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    counts.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("na"), col("nb"),
        (((col("ca") + 1) / (col("na") + PsiBins)) -
          ((col("cb") + 1) / (col("nb") + PsiBins))).as("pdiff"),
        log(((col("ca") + 1) / (col("na") + PsiBins)) /
          ((col("cb") + 1) / (col("nb") + PsiBins))).as("lr"))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(round(graft.Canon.dsum18(col("pdiff") * col("lr")), 6).as("psi"))
      .orderBy("event_type")
  }

  // --- c109: binned two-sample KS drift test -----------------------

  /** c109 — binned two-sample KOLMOGOROV–SMIRNOV drift test per
    * event_type, over the SAME base/increment split and value bins as
    * c107 (one shared [[psiCounts]] kernel — the two monitors cannot
    * disagree about what they measured): D = max |F_a − F_b| over the
    * binned ECDFs, with the 95% critical value 1.36·√((n_a+n_b)/
    * (n_a·n_b)) and the drift verdict. PSI and KS fail differently —
    * PSI is mass-weighted (sensitive to body shifts, saturated by
    * empty bins), KS is a sup-norm (sensitive to the single worst
    * CDF gap) — production monitors run both, which is why both keys
    * exist. The binned form is the 100 TB shape: the exact KS needs a
    * global per-type sort of the corpus; the binned ECDF needs the
    * (type, bin) count table that one map-side-combined scan already
    * produced, and the cumulative window runs over ≤10 rows per
    * type. Every ECDF value is an exact integer ratio; D is a max of
    * comparisons (no accumulation), and the verdict compares
    * 1e-6-rounded values so the cut cannot straddle engines.
    */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = psiCounts(Tables.t(spark, sfDir, "events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cca", sum(col("ca")).over(w))
      .withColumn("ccb", sum(col("cb")).over(w))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.join(broadcast(totals), "event_type")
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(round(max(abs(col("cca") / col("na") - col("ccb") / col("nb"))), 6)
        .as("ks_d"))
      .withColumn("crit_95",
        round(lit(1.36) * sqrt((col("na") + col("nb")) /
          (col("na") * col("nb")).cast("double")), 6))
      .withColumn("drift", col("ks_d") > col("crit_95"))
      .orderBy("event_type")
  }

  // --- c110: Gini concentration audit ------------------------------

  /** c110 — GINI COEFFICIENT of value concentration per event_type
    * (Gini 1912; the rank-weighted form G = (2·Σi·x_i − (n+1)·Σx_i)
    * / (n·Σx_i) over ascending-sorted values — public): the
    * inequality audit behind "is this metric dominated by a few
    * rows" (revenue concentration, duplicate-mass concentration —
    * c69's size histogram shows the distribution, THIS compresses it
    * to the standard scalar). The rank is per-type with an event_id
    * tiebreak — deterministic, and mathematically tie-order-invariant
    * (swapping equal values leaves Σi·x_i unchanged); Σi·x_i and Σx_i
    * ride DECIMAL(38,6) so the assembly is partition-order-free.
    * Since round 12 the rank comes from [[graft.ops.OrderStats.cumLe]]
    * (§5.3 rule 9): the round-11 form sorted each type's WHOLE event
    * stream in one task (5 partitions for 5 types — parallelism
    * floored at the type count); the bucketed two-pass rank is
    * bit-identical and value-range-distributed. At 100 TB the binned
    * approximation (c107's bins) remains the cheap fallback; THIS key
    * is the exact fit (the c84-vs-b50 positioning).
    */
  def giniConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = graft.ops.OrderStats.cumLe(
        Tables.t(spark, sfDir, "events")
          .select(col("event_type"), col("value"), col("event_id"),
            col("value").as("v"), lit(1L).as("cnt")),
        Seq("event_type"), Seq("event_id"))
      .withColumn("i", col("cum_le"))
    ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Canon.dsum(col("value")).as("sx"),
        graft.Canon.dsum(col("i") * col("value")).as("six"))
      .select(col("event_type"), col("n"),
        round(col("sx") / col("n"), 4).as("mean_value"),
        round((lit(2.0) * col("six") - (col("n") + 1) * col("sx")) /
          (col("n") * col("sx")), 6).as("gini"))
      .orderBy("event_type")
  }

  // --- c112: lag-k autocorrelation ---------------------------------

  /** Autocorrelation lags the c112 audit emits. */
  private[graft] val AcfLags = 3

  /** c112 — lag-k AUTOCORRELATION of the per-type value series (the
    * ACF, Box & Jenkins — public): corr(v_t, v_{t−k}) for k = 1..3
    * over each event_type's time-ordered series — the "is this metric
    * serially dependent" audit that decides whether c91's iid-ish
    * trend residuals and c107's batch-to-batch comparisons are even
    * meaningful (high ACF ⇒ drift monitors need longer windows).
    * Series order is the canon (ts_us, event_id) total order.
    *
    * Round 12 retires the per-type `lag` window (FIVE one-task sorts
    * of events/5 rows — the parallelism floor the round-11 SCALE.md
    * documented as the open trade): each row's exact global POSITION
    * in its type's series comes from [[graft.ops.OrderStats.cumLe]]
    * (two-pass bucketed rank over ts_us — §5.3 rule 9). Round 19
    * retires the (type, pos) self-join that aligned v_t with v_{t−k}
    * (it evaluated the rank kernel under BOTH join sides): each row
    * fans to 1 + AcfLags slot records, one (type, slot) aggregate
    * gathers (x, y_1..y_K), and a row-local filtered fan emits the
    * identical pair multiset — the rank kernel has ONE consumer and
    * all lags still ride ONE map-side-combined moment aggregate.
    * Pair sets (and the decimal moment sums assembled in the fixed
    * c105 Pearson dag) are IDENTICAL to the window and join forms,
    * so the oracle is unchanged. The (type × lag) spine keeps the
    * n = 0 rows the conditional-sum form emitted.
    *
    * PRECONDITION: `events.value` is non-null (every fixture vintage
    * writes it). The slot fan keeps a pair only when both x and y are
    * non-null, because a slot's gathered value is NULL both when the
    * slot is empty and when its row holds a NULL value; the join
    * forms paired rows by position whatever their values. With a
    * nullable value column `n` would drop the NULL-valued pairs, so
    * the pair multiset equality above holds only under this
    * precondition.
    */
  def autocorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val ordered = ev.select(col("event_type"), col("value"),
      Tables.tsUs(ev).as("ts_us"), col("event_id"))
    val pos = graft.ops.OrderStats.cumLe(
        ordered.withColumn("v", col("ts_us")).withColumn("cnt", lit(1L)),
        Seq("event_type"), Seq("event_id"))
      .select(col("event_type"), col("value"), col("cum_le").as("pos"))
    // Round 19: the old (type, pos)-keyed SELF-join evaluated the
    // two-pass rank kernel under BOTH sides. One slot grain replaces
    // it: each row offers itself to slot = pos as the x-carrier
    // (lag 0) and to slot = pos + k as the lag-k y-carrier, one
    // aggregate gathers (x, y_1..y_K) per slot, and a row-local
    // filtered fan emits exactly the pairs the join produced — the
    // rank kernel now has ONE consumer, and the same 4n rows cross
    // one exchange instead of a join's two.
    val ys = (1 to AcfLags).map(k => s"y$k")
    val slots = pos.select(col("event_type"), col("value"),
        explode(expr(s"transform(sequence(0, $AcfLags), " +
          "k -> struct(k AS lag, pos + k AS slot))")).as("e"))
      .select(col("event_type"), col("e.slot").as("slot"),
        col("e.lag").as("lag"), col("value"))
    val gathered = slots.groupBy(col("event_type"), col("slot"))
      .agg(max(when(col("lag") === 0, col("value"))).as("x"),
        (1 to AcfLags).map(k =>
          max(when(col("lag") === k, col("value"))).as(s"y$k")): _*)
    val pairs = gathered.select(col("event_type"),
        explode(expr(s"filter(transform(sequence(1, $AcfLags), " +
          s"k -> struct(k AS lag, x, element_at(array(${ys.mkString(",")}), k) AS y)), " +
          "p -> p.x IS NOT NULL AND p.y IS NOT NULL)")).as("p"))
      .select(col("event_type"), col("p.lag").as("lag"),
        col("p.x").as("x"), col("p.y").as("y"))
    val moments = pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        graft.Canon.dsum(col("x")).as("sx"),
        graft.Canon.dsum(col("y")).as("sy"),
        graft.Canon.dsum(col("x") * col("x")).as("sxx"),
        graft.Canon.dsum(col("y") * col("y")).as("syy"),
        graft.Canon.dsum(col("x") * col("y")).as("sxy"))
    val spine = ordered.select(col("event_type")).distinct()
      .crossJoin(broadcast(ordered.sparkSession.range(1, AcfLags + 1)
        .select(col("id").as("lag"))))
    spine.join(moments, Seq("event_type", "lag"), "left")
      .select(col("event_type"), col("lag"),
        coalesce(col("n"), lit(0L)).as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 4)
          .as("acf"))
      .orderBy("event_type", "lag")
  }

  // --- c113: CUSUM changepoint scan --------------------------------

  /** c113 — CUSUM CHANGEPOINT scan per event_type (Page 1954 —
    * public): the cumulative sum of (v − global type mean) over the
    * time-ordered series; its extreme deviation marks the most likely
    * single changepoint (the max-|CUSUM| estimator), and the emitted
    * (max deviation, when, how far in) is the "did this metric shift
    * mid-stream" audit — PSI/KS (c107/c109) compare two POPULATIONS,
    * this locates WHERE a single series broke. The running sum is an
    * exact DECIMAL prefix over the (ts_us, event_id) total order; the
    * arg-extreme is one `max(struct(dev, ts, id))` — the a16
    * whole-row-argmax discipline, no second pass; the mean is the
    * exact decimal ratio broadcast back (the c39 shape).
    *
    * Round 12 retires the per-type running-sum window (five one-task
    * sorts of events/5 rows): decimal addition is ASSOCIATIVE, so the
    * prefix sum distributes exactly through
    * [[graft.ops.OrderStats.cumSums]] — per-bucket partials, offsets,
    * within-bucket running sums — bit-identical to the sequential
    * window (§5.3 rule 9), with the row position riding the same
    * two-pass kernel as a second measure.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val ordered = ev.select(col("event_type"), col("value"),
      Tables.tsUs(ev).as("ts_us"), col("event_id"))
    val stats = ordered.groupBy(col("event_type"))
      .agg(graft.Canon.dsum(col("value")).as("sv"), count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), (col("sv") / col("n")).as("mean"))
    val cusum = graft.ops.OrderStats.cumSums(
        ordered.join(broadcast(stats), "event_type")
          .withColumn("v", col("ts_us"))
          .withColumn("cnt", lit(1L))
          .withColumn("delta", (col("value") - col("mean"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6))),
        Seq("event_type"), Seq("event_id"), Seq("cnt", "delta"))
      .withColumn("cs", col("cum_delta").cast("double"))
      .withColumn("pos", col("cum_cnt"))
    cusum.groupBy(col("event_type"), col("n"))
      .agg(max(struct(round(abs(col("cs")), 6).as("dev"), col("ts_us"),
        col("event_id"), col("pos"))).as("m"))
      .select(col("event_type"), col("n"),
        col("m.dev").as("max_cusum_dev"),
        col("m.ts_us").as("change_ts_us"),
        round(col("m.pos").cast("double") / col("n"), 4).as("frac_through"))
      .orderBy("event_type")
  }

  // --- c114: Poisson bootstrap confidence intervals -----------------

  /** Bootstrap replicate count. */
  private[graft] val BootReps = 20

  /** Cumulative Poisson(1) CDF literals P(X ≤ k), k = 0..5 — written
    * as decimal literals (NOT computed via exp) so both engines
    * compare against bit-identical doubles; P(X > 5) ≈ 6e-4 truncates
    * to multiplicity 6.
    */
  private[graft] val PoisCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183")

  /** c114 — POISSON BOOTSTRAP confidence interval for the per-type
    * mean (Efron's bootstrap in the distributed form — each row's
    * per-replicate multiplicity drawn Poisson(1) independently, the
    * one-pass approximation to multinomial resampling that needs no
    * global coordination; Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google 2012 — public): the standard
    * way to put error bars on ANY pipeline statistic at 100 TB,
    * where closed-form variance (c90) exists only for means.
    *
    * Determinism: the multiplicity is the inverse-CDF of an md5
    * dyadic u per (replicate, event) against PRECOMPUTED Poisson(1)
    * CDF literals (never `exp` at query time — the c100 no-exp
    * rule); replicate means are exact decimal ratios; the 2.5/97.5%
    * CI over [[BootReps]] replicate means uses the shared
    * linear-interpolation percentile (c84 precedent). Scale shape:
    * the ×B fan-out collapses map-side to (type, replicate) partials
    * — B×types rows cross the exchange, the corpus is scanned ONCE.
    */
  def poissonBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val cdfCase = PoisCdf.zipWithIndex
      .map { case (p, k) => s"WHEN u < $p THEN ${k}L" }
      .mkString("CASE ", " ", " ELSE 6L END")
    val reps = ev
      .select(col("event_type"), col("value"), col("event_id"),
        explode(expr(s"sequence(0, ${BootReps - 1})")).as("rep"))
      .withColumn("u", expr(
        "(CAST(graft_md5_prefix(concat('boot:', CAST(rep AS STRING), ':', CAST(event_id AS STRING)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0"))
      .withColumn("m", expr(cdfCase))
    val repMeans = reps.groupBy(col("event_type"), col("rep"))
      .agg((graft.Canon.dsum(col("m") * col("value")) /
        sum(col("m")).cast("double")).as("rmean"))
    val base = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Canon.davg(col("value")).as("mean"))
    repMeans.groupBy(col("event_type"))
      .agg(round(expr("percentile(rmean, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(rmean, 0.975)"), 4).as("ci_hi"))
      .join(base, "event_type")
      .select(col("event_type"), col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("event_type")
  }

  // --- c115: time-weighted average ---------------------------------

  /** c115 — TIME-WEIGHTED AVERAGE per user (the trapezoidal integral
    * ∫v dt / ∫dt — the industrial-telemetry standard for irregularly
    * sampled series, where the plain mean over-weights bursts: a
    * sensor read 1000× during one hot minute and once an hour
    * otherwise must not average like 1001 equal samples). Per user,
    * consecutive events pair via ONE lag window over the (ts_us,
    * event_id) total order; each segment contributes
    * (v_prev + v)/2 · Δt; the average is the decimal-exact segment
    * sum over the exact integer µs span. Single-event users carry no
    * span and emit NULL — the honest answer, mirrored exactly.
    * Round-tie posture: the emitted ratio's denominator is a
    * user-sized µs span (~10¹⁰), putting midpoint ties at measure
    * ~1e-12 (the davg large-count class, documented in SCALE.md).
    */
  def timeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val ordered = ev.select(col("user_id"), col("value"),
      Tables.tsUs(ev).as("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val seg = ordered
      .withColumn("pv", lag(col("value"), 1).over(w))
      .withColumn("pt", lag(col("ts_us"), 1).over(w))
      .where(col("pt").isNotNull)
      .select(col("user_id"),
        (col("ts_us") - col("pt")).as("dt"),
        ((col("pv") + col("value")) / 2 * (col("ts_us") - col("pt"))).as("contrib"))
    val base = ordered.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    seg.groupBy(col("user_id"))
      .agg(sum(col("dt")).as("span_us"),
        graft.Canon.dsum(col("contrib")).as("csum"))
      .join(base, Seq("user_id"), "right")
      .select(col("user_id"), col("n_events"), col("span_us"),
        when(col("span_us") > 0, round(col("csum") / col("span_us"), 4))
          .as("time_weighted_avg"))
      .orderBy("user_id")
  }

  // --- c116: inter-event burstiness --------------------------------

  /** c116 — inter-event BURSTINESS per user (Goh & Barabási 2008,
    * EPL — public): B = (σ−μ)/(σ+μ) over the inter-arrival gaps,
    * with CV² = σ²/μ² alongside — −1 = metronome, 0 = Poisson, →1 =
    * extreme bursts. The traffic-shape audit behind rate-limit and
    * capacity planning (a19's changelog arriving B≈0.9 needs very
    * different provisioning than B≈0), and the behavioral-bot signal
    * (humans are bursty; cron is periodic). Gaps are EXACT integer
    * µs from one lag window; Σg and Σg² ride the decimal canon
    * (g² ≤ 1e20 ≪ the (38,6) range), variance assembles from exact
    * sums in the fixed c90 dag (squares explicit, never pow), and
    * sqrt's irrational output makes the 1e-4 rounding tie-free.
    */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val ordered = ev.select(col("user_id"),
      Tables.tsUs(ev).as("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = ordered
      .withColumn("pt", lag(col("ts_us"), 1).over(w))
      .where(col("pt").isNotNull)
      .select(col("user_id"), (col("ts_us") - col("pt")).as("g"))
    // g² squares in DOUBLE before the decimal cast: µs gaps reach
    // ~1e10, so a long×long square (1e20) would wrap past 2^63
    // silently; the double square is the same IEEE value in both
    // engines (exact below 2^53, identically rounded above).
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        graft.Canon.dsum(col("g")).as("s1"),
        graft.Canon.dsum(col("g").cast("double") * col("g").cast("double")).as("s2"))
      .where(col("n_gaps") >= 2)
      .select(col("user_id"), col("n_gaps"),
        round(col("s1") / col("n_gaps") / 1000000.0, 4).as("mean_gap_s"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n_gaps")) /
          (col("n_gaps") - 1)) / (col("s1") / col("n_gaps")), 4).as("cv"),
        round((sqrt((col("s2") - col("s1") * col("s1") / col("n_gaps")) /
            (col("n_gaps") - 1)) - col("s1") / col("n_gaps")) /
          (sqrt((col("s2") - col("s1") * col("s1") / col("n_gaps")) /
            (col("n_gaps") - 1)) + col("s1") / col("n_gaps")), 4).as("burstiness"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c115_time_weighted_avg" -> (timeWeightedAvg(_, _)),
    "c116_burstiness" -> (burstiness(_, _)),
    "c114_poisson_bootstrap_ci" -> (poissonBootstrapCi(_, _)),
    "c112_autocorrelation" -> (autocorrelation(_, _)),
    "c113_cusum_changepoint" -> (cusumChangepoint(_, _)),
    "c109_ks_drift" -> (ksDrift(_, _)),
    "c110_gini_concentration" -> (giniConcentration(_, _)),
    "c104_mad_outliers" -> (madOutliers(_, _)),
    "c105_corr_matrix" -> (corrMatrix(_, _)),
    "c106_mutual_information" -> (mutualInformation(_, _)),
    "c107_psi_drift" -> (psiDrift(_, _)),
    "c92_kaplan_meier" -> (kaplanMeier(_, _)),
    "c93_markov_transitions" -> (markovTransitions(_, _)),
    "c94_rfm_segments" -> (rfmSegments(_, _)),
    "c90_ab_welch_t" -> (abWelchT(_, _)),
    "c91_ols_trend" -> (olsTrend(_, _)),
    "c74_funnel_conversion" -> (funnelConversion(_, _)),
    "c75_cohort_retention" -> (cohortRetention(_, _)),
    "c76_scd2_intervals" -> (scd2Intervals(_, _)),
    "c77_interval_overlap_join" -> (intervalOverlapJoin(_, _)),
    "c81_last_touch_attribution" -> (lastTouchAttribution(_, _)),
    "c82_join_cardinality" -> (joinCardinality(_, _)))

  val oracle: Map[String, String] = Map(
    "c115_time_weighted_avg" ->
      """WITH ordered AS (
        |  SELECT user_id, value, epoch_us(ts) AS ts_us, event_id FROM events
        |), seg AS (
        |  SELECT user_id, ts_us - pt AS dt,
        |    (pv + value) / 2 * (ts_us - pt) AS contrib
        |  FROM (
        |    SELECT user_id, value, ts_us,
        |      lag(value, 1) OVER w AS pv, lag(ts_us, 1) OVER w AS pt
        |    FROM ordered
        |    WINDOW w AS (PARTITION BY user_id
        |      ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |  ) WHERE pt IS NOT NULL
        |), agg AS (
        |  SELECT user_id, CAST(SUM(dt) AS BIGINT) AS span_us,
        |    CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS csum
        |  FROM seg GROUP BY user_id
        |), base AS (
        |  SELECT user_id, COUNT(*) AS n_events FROM ordered GROUP BY user_id
        |)
        |SELECT b.user_id, n_events, span_us,
        |  CASE WHEN span_us > 0 THEN ROUND(csum / span_us, 4) END
        |    AS time_weighted_avg
        |FROM base b LEFT JOIN agg USING (user_id)
        |ORDER BY user_id ASC NULLS FIRST""".stripMargin,

    "c116_burstiness" ->
      """WITH ordered AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        |), gaps AS (
        |  SELECT user_id, ts_us - pt AS g FROM (
        |    SELECT user_id, ts_us, lag(ts_us, 1) OVER w AS pt
        |    FROM ordered
        |    WINDOW w AS (PARTITION BY user_id
        |      ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |  ) WHERE pt IS NOT NULL
        |), m AS (
        |  SELECT user_id, COUNT(*) AS n_gaps,
        |    CAST(SUM(CAST(g AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
        |      AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM gaps GROUP BY user_id HAVING COUNT(*) >= 2
        |)
        |SELECT user_id, n_gaps,
        |  ROUND(s1 / n_gaps / 1000000.0, 4) AS mean_gap_s,
        |  ROUND(sqrt((s2 - s1 * s1 / n_gaps) / (n_gaps - 1)) / (s1 / n_gaps), 4)
        |    AS cv,
        |  ROUND((sqrt((s2 - s1 * s1 / n_gaps) / (n_gaps - 1)) - s1 / n_gaps)
        |    / (sqrt((s2 - s1 * s1 / n_gaps) / (n_gaps - 1)) + s1 / n_gaps), 4)
        |    AS burstiness
        |FROM m
        |ORDER BY user_id ASC NULLS FIRST""".stripMargin,

    "c114_poisson_bootstrap_ci" -> {
      val cdfCase = PoisCdf.zipWithIndex
        .map { case (p, k) => s"WHEN u < $p THEN $k" }
        .mkString("CASE ", " ", " ELSE 6 END")
      s"""WITH reps AS (
         |  SELECT event_type, value, event_id, rep,
         |    (CAST(('0x' || substr(md5('boot:' || CAST(rep AS VARCHAR) || ':'
         |        || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
         |      / 4294967296.0 AS u
         |  FROM events, range($BootReps) t(rep)
         |), weighted AS (
         |  SELECT event_type, rep, CAST($cdfCase AS BIGINT) AS m, value
         |  FROM reps
         |), repmeans AS (
         |  SELECT event_type, rep,
         |    CAST(SUM(CAST(m * value AS DECIMAL(38,6))) AS DOUBLE)
         |      / CAST(SUM(m) AS DOUBLE) AS rmean
         |  FROM weighted GROUP BY event_type, rep
         |), ci AS (
         |  SELECT event_type,
         |    ROUND(quantile_cont(rmean, 0.025), 4) AS ci_lo,
         |    ROUND(quantile_cont(rmean, 0.975), 4) AS ci_hi
         |  FROM repmeans GROUP BY event_type
         |), base AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(value), 4) AS mean
         |  FROM events GROUP BY event_type
         |)
         |SELECT event_type, n, mean, ci_lo, ci_hi
         |FROM ci JOIN base USING (event_type)
         |ORDER BY event_type ASC NULLS FIRST""".stripMargin
    },

    "c112_autocorrelation" -> {
      // One UNION ALL branch per lag, machine-generated from AcfLags
      // (the c78 no-drift discipline).
      val branches = (1 to AcfLags).map { k =>
        s"""SELECT event_type, CAST($k AS BIGINT) AS lag, COUNT(*) AS n,
           |  ROUND((COUNT(*) * CAST(SUM(CAST(x * l$k AS DECIMAL(38,6))) AS DOUBLE)
           |      - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
           |        * CAST(SUM(CAST(l$k AS DECIMAL(38,6))) AS DOUBLE))
           |    / sqrt((COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
           |        - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
           |          * CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE))
           |      * (COUNT(*) * CAST(SUM(CAST(l$k * l$k AS DECIMAL(38,6))) AS DOUBLE)
           |        - CAST(SUM(CAST(l$k AS DECIMAL(38,6))) AS DOUBLE)
           |          * CAST(SUM(CAST(l$k AS DECIMAL(38,6))) AS DOUBLE))), 4) AS acf
           |FROM lagged WHERE l$k IS NOT NULL GROUP BY event_type""".stripMargin
      }
      s"""WITH ordered AS (
         |  SELECT event_type, value, epoch_us(ts) AS ts_us, event_id FROM events
         |), lagged AS (
         |  SELECT event_type, value AS x,
         |    ${(1 to AcfLags).map(k => s"lag(value, $k) OVER w AS l$k").mkString(", ")}
         |  FROM ordered
         |  WINDOW w AS (PARTITION BY event_type
         |    ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST)
         |)
         |SELECT * FROM (
         |${branches.mkString("\nUNION ALL\n")}
         |) ORDER BY event_type ASC NULLS FIRST, lag ASC NULLS FIRST""".stripMargin
    },

    "c113_cusum_changepoint" ->
      """WITH ordered AS (
        |  SELECT event_type, value, epoch_us(ts) AS ts_us, event_id FROM events
        |), stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean
        |  FROM ordered GROUP BY event_type
        |), cusum AS (
        |  SELECT o.event_type, n,
        |    ROUND(abs(CAST(SUM(CAST(o.value - mean AS DECIMAL(38,6))) OVER w
        |      AS DOUBLE)), 6) AS dev,
        |    ts_us, event_id, CAST(row_number() OVER w2 AS BIGINT) AS pos
        |  FROM ordered o JOIN stats USING (event_type)
        |  WINDOW w AS (PARTITION BY o.event_type
        |      ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w2 AS (PARTITION BY o.event_type
        |      ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |)
        |SELECT event_type, n, dev AS max_cusum_dev, ts_us AS change_ts_us,
        |  ROUND(CAST(pos AS DOUBLE) / n, 4) AS frac_through
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev DESC NULLS LAST, ts_us DESC NULLS LAST,
        |      event_id DESC NULLS LAST, pos DESC NULLS LAST) AS rr
        |  FROM cusum
        |) WHERE rr = 1
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c109_ks_drift" ->
      s"""WITH binned AS (
         |  SELECT event_type,
         |    least(CAST(floor(value / $PsiBinW) AS BIGINT), ${PsiBins - 1}) AS bin,
         |    (substr(md5('psi:' || CAST(event_id AS VARCHAR)), 1, 1)
         |      IN ('0', '1', '2')) AS delta
         |  FROM events
         |), counts AS (
         |  SELECT event_type, bin,
         |    CAST(SUM(CASE WHEN NOT delta THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN delta THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM binned GROUP BY event_type, bin
         |), cum AS (
         |  SELECT event_type, bin, ca, cb,
         |    CAST(SUM(ca) OVER w AS BIGINT) AS cca,
         |    CAST(SUM(cb) OVER w AS BIGINT) AS ccb
         |  FROM counts
         |  WINDOW w AS (PARTITION BY event_type ORDER BY bin ASC NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), totals AS (
         |  SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
         |    CAST(SUM(cb) AS BIGINT) AS nb
         |  FROM counts GROUP BY event_type
         |), d AS (
         |  SELECT c.event_type, na, nb,
         |    ROUND(MAX(abs(cca / na - ccb / nb)), 6) AS ks_d
         |  FROM cum c JOIN totals USING (event_type)
         |  GROUP BY c.event_type, na, nb
         |)
         |SELECT event_type, na, nb, ks_d,
         |  ROUND(1.36 * sqrt((na + nb) / CAST(na * nb AS DOUBLE)), 6) AS crit_95,
         |  (ks_d > ROUND(1.36 * sqrt((na + nb) / CAST(na * nb AS DOUBLE)), 6)) AS drift
         |FROM d
         |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c110_gini_concentration" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC NULLS FIRST, event_id ASC NULLS FIRST) AS BIGINT) AS i
        |  FROM events
        |), m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(i * value AS DECIMAL(38,6))) AS DOUBLE) AS six
        |  FROM ranked GROUP BY event_type
        |)
        |SELECT event_type, n, ROUND(sx / n, 4) AS mean_value,
        |  ROUND((2.0 * six - (n + 1) * sx) / (n * sx), 6) AS gini
        |FROM m
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c104_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type
        |), mad AS (
        |  SELECT e.event_type, m.med,
        |    ROUND(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |  GROUP BY e.event_type, m.med
        |), cuts AS (
        |  SELECT event_type, med, mad, ROUND(3.5 * mad / 0.6745, 4) AS cut
        |  FROM mad
        |)
        |SELECT e.event_type, COUNT(*) AS n, c.med, c.mad,
        |  CAST(SUM(CASE WHEN abs(e.value - c.med) > c.cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  ROUND(CAST(SUM(CASE WHEN abs(e.value - c.med) > c.cut THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS outlier_frac
        |FROM events e JOIN cuts c ON e.event_type = c.event_type
        |GROUP BY e.event_type, c.med, c.mad
        |ORDER BY e.event_type ASC NULLS FIRST""".stripMargin,

    "c105_corr_matrix" ->
      s"""WITH vals AS (
         |  SELECT vec_id, CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, range(1, ${CorrDims + 1}) t(i)
         |), p AS (
         |  SELECT a.dim AS dim_i, b.dim AS dim_j, a.v AS x, b.v AS y
         |  FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND a.dim < b.dim
         |), m AS (
         |  SELECT dim_i, dim_j, COUNT(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
         |  FROM p GROUP BY dim_i, dim_j
         |)
         |SELECT dim_i, dim_j, n,
         |  ROUND((n * sxy - sx * sy)
         |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr
         |FROM m
         |ORDER BY dim_i ASC NULLS FIRST, dim_j ASC NULLS FIRST""".stripMargin,

    "c106_mutual_information" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS cxy FROM documents GROUP BY lang, source
        |), mx AS (
        |  SELECT lang, CAST(SUM(cxy) AS BIGINT) AS cx FROM cells GROUP BY lang
        |), my AS (
        |  SELECT source, CAST(SUM(cxy) AS BIGINT) AS cy FROM cells GROUP BY source
        |), tot AS (
        |  SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cells
        |), mi AS (
        |  SELECT CAST(SUM(CAST((cxy / n) * ln((cxy * n) / (cx * cy))
        |      AS DECIMAL(38,18))) AS DOUBLE) AS mi_raw
        |  FROM cells JOIN mx USING (lang) JOIN my USING (source), tot
        |), hx AS (
        |  SELECT CAST(SUM(CAST(-(cx / n) * ln(cx / n) AS DECIMAL(38,18))) AS DOUBLE)
        |    AS h_lang
        |  FROM mx, tot
        |), hy AS (
        |  SELECT CAST(SUM(CAST(-(cy / n) * ln(cy / n) AS DECIMAL(38,18))) AS DOUBLE)
        |    AS h_source
        |  FROM my, tot
        |)
        |SELECT n, ROUND(mi_raw, 6) AS mi_nats, ROUND(h_lang, 6) AS h_lang,
        |  ROUND(h_source, 6) AS h_source,
        |  ROUND(mi_raw / sqrt(h_lang * h_source), 6) AS nmi
        |FROM mi, hx, hy, tot""".stripMargin,

    "c107_psi_drift" ->
      s"""WITH binned AS (
         |  SELECT event_type,
         |    least(CAST(floor(value / $PsiBinW) AS BIGINT), ${PsiBins - 1}) AS bin,
         |    (substr(md5('psi:' || CAST(event_id AS VARCHAR)), 1, 1)
         |      IN ('0', '1', '2')) AS delta
         |  FROM events
         |), counts AS (
         |  SELECT event_type, bin,
         |    CAST(SUM(CASE WHEN NOT delta THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN delta THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM binned GROUP BY event_type, bin
         |), totals AS (
         |  SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
         |    CAST(SUM(cb) AS BIGINT) AS nb
         |  FROM counts GROUP BY event_type
         |)
         |SELECT c.event_type, na, nb,
         |  ROUND(CAST(SUM(CAST(
         |    (((ca + 1) / (na + $PsiBins)) - ((cb + 1) / (nb + $PsiBins)))
         |    * ln(((ca + 1) / (na + $PsiBins)) / ((cb + 1) / (nb + $PsiBins)))
         |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi
         |FROM counts c JOIN totals USING (event_type)
         |GROUP BY c.event_type, na, nb
         |ORDER BY c.event_type ASC NULLS FIRST""".stripMargin,
    // Stacked windows mirror the Spark kernel: each stage's min-ts
    // strictly after the previous stage's, then one 3-row stage table.
    "c74_funnel_conversion" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), w1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS v_ts FROM e
        |), w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > v_ts THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS c_ts FROM w1
        |), w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > c_ts THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS p_ts FROM w2
        |), per_user AS (
        |  SELECT user_id, max(v_ts) AS v, max(c_ts) AS c, max(p_ts) AS p
        |  FROM w3 GROUP BY user_id
        |), counts AS (
        |  SELECT count(v) AS u1, count(c) AS u2, count(p) AS u3 FROM per_user
        |)
        |SELECT stage_idx, stage, users,
        |  CASE WHEN prev_users > 0
        |       THEN ROUND(CAST(users AS DOUBLE) / prev_users, 4) END AS conversion
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, u1 AS users, u1 AS prev_users FROM counts
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', u2, u1 FROM counts
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', u3, u2 FROM counts
        |)
        |ORDER BY stage_idx ASC NULLS FIRST""".stripMargin,

    "c75_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        |), c AS (
        |  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort FROM ud
        |)
        |SELECT strftime(make_timestamp(cohort * 86400000000), '%Y-%m-%d') AS cohort_date,
        |  day - cohort AS day_offset, COUNT(*) AS users
        |FROM c
        |GROUP BY cohort, day - cohort
        |ORDER BY cohort_date ASC NULLS FIRST, day_offset ASC NULLS FIRST""".stripMargin,

    "c76_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), marked AS (
        |  SELECT *,
        |    lag(event_type, 1) OVER w AS prev_state
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |), flagged AS (
        |  SELECT *,
        |    CAST(SUM(CASE WHEN prev_state IS NULL OR prev_state <> event_type
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS version
        |  FROM marked
        |), runs AS (
        |  SELECT user_id, version, min(event_type) AS state,
        |    min(ts_us) AS valid_from_us, COUNT(*) AS n_events
        |  FROM flagged GROUP BY user_id, version
        |)
        |SELECT user_id, version, state, valid_from_us,
        |  lead(valid_from_us, 1) OVER (PARTITION BY user_id ORDER BY version ASC) AS valid_to_us,
        |  n_events
        |FROM runs
        |ORDER BY user_id ASC NULLS FIRST, version ASC NULLS FIRST""".stripMargin,

    // The oracle is the DIRECT non-equi overlap join (DuckDB plans
    // IEJoin) over the same md5 samples — verifying the Spark-side
    // bucketization loses and invents nothing.
    "c77_interval_overlap_join" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    epoch_us(o_orderdate) // 86400000000 AS d
        |  FROM orders
        |  WHERE substr(md5('ivl:' || CAST(o_orderkey AS VARCHAR)), 1, 2)
        |    IN ('00', '01', '02', '03')
        |), a AS (
        |  SELECT o_orderkey AS a_orderkey, d AS a_start, d + 7 AS a_end
        |  FROM base WHERE o_orderstatus = 'O'
        |), b AS (
        |  SELECT o_orderkey AS b_orderkey, d AS b_start, d + 14 AS b_end
        |  FROM base WHERE o_orderstatus = 'F'
        |)
        |SELECT a_orderkey, b_orderkey,
        |  least(a_end, b_end) - greatest(a_start, b_start) AS overlap_days
        |FROM a JOIN b ON a_start < b_end AND b_start < a_end
        |ORDER BY a_orderkey ASC NULLS FIRST, b_orderkey ASC NULLS FIRST""".stripMargin,

    "c92_kaplan_meier" ->
      """WITH peruser AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS f,
        |    max(epoch_us(ts) // 86400000000) AS l
        |  FROM events GROUP BY user_id
        |), horizon AS (SELECT max(l) AS maxday FROM peruser),
        |lifetimes AS (
        |  SELECT l - f AS t, l = maxday AS censored FROM peruser, horizon
        |), by_t AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM lifetimes GROUP BY t
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lifetimes),
        |risk AS (
        |  SELECT t, d, c,
        |    CAST(n_total - COALESCE(SUM(d + c) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS n_at_risk
        |  FROM by_t, tot
        |)
        |SELECT t AS t_days, n_at_risk, d AS deaths, c AS censored,
        |  ROUND(exp(SUM(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)) OVER (
        |    ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
        |    AS survival
        |FROM risk
        |ORDER BY t_days ASC NULLS FIRST""".stripMargin,

    "c93_markov_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |      AS from_type
        |  FROM events
        |), pairs AS (
        |  SELECT from_type, event_type AS to_type FROM seq WHERE from_type IS NOT NULL
        |), counts AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pairs GROUP BY from_type, to_type
        |), rowt AS (
        |  SELECT from_type AS ft, CAST(SUM(n) AS BIGINT) AS row_n
        |  FROM counts GROUP BY from_type
        |)
        |SELECT from_type, to_type, n, ROUND(CAST(n AS DOUBLE) / row_n, 4) AS p
        |FROM counts JOIN rowt ON from_type = ft
        |ORDER BY from_type ASC NULLS FIRST, to_type ASC NULLS FIRST""".stripMargin,

    "c94_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, max(epoch_us(ts) // 86400000000) AS lastday,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY user_id
        |), ref AS (SELECT max(lastday) AS refday FROM u),
        |w AS (
        |  SELECT user_id, refday - lastday AS recency_days, frequency, monetary
        |  FROM u, ref
        |), cuts AS (
        |  SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rq,
        |    quantile_cont(CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75]) AS fq,
        |    quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
        |  FROM w
        |), scored AS (
        |  SELECT user_id, recency_days, frequency, ROUND(monetary, 4) AS monetary,
        |    CAST(5 - (1 + CAST(CAST(recency_days AS DOUBLE) > rq[1] AS INT)
        |                + CAST(CAST(recency_days AS DOUBLE) > rq[2] AS INT)
        |                + CAST(CAST(recency_days AS DOUBLE) > rq[3] AS INT)) AS BIGINT)
        |      AS r_score,
        |    CAST(1 + CAST(CAST(frequency AS DOUBLE) > fq[1] AS INT)
        |           + CAST(CAST(frequency AS DOUBLE) > fq[2] AS INT)
        |           + CAST(CAST(frequency AS DOUBLE) > fq[3] AS INT) AS BIGINT) AS f_score,
        |    CAST(1 + CAST(monetary > mq[1] AS INT)
        |           + CAST(monetary > mq[2] AS INT)
        |           + CAST(monetary > mq[3] AS INT) AS BIGINT) AS m_score
        |  FROM w, cuts
        |)
        |SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM scored
        |ORDER BY user_id ASC NULLS FIRST""".stripMargin,

    "c90_ab_welch_t" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5('arm:' || CAST(event_id AS VARCHAR)), 1, 1) < '8' AS a
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(CASE WHEN a THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS s1a,
        |    CAST(SUM(CAST(CASE WHEN a THEN value * value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS s2a,
        |    CAST(SUM(CAST(CASE WHEN NOT a THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS s1b,
        |    CAST(SUM(CAST(CASE WHEN NOT a THEN value * value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS s2b
        |  FROM e GROUP BY event_type
        |), i AS (
        |  SELECT event_type, n_a, n_b,
        |    ROUND(s1a / n_a, 4) AS mean_a, ROUND(s1b / n_b, 4) AS mean_b,
        |    (s2a - s1a * s1a / n_a) / (n_a - 1) / n_a AS sea2,
        |    (s2b - s1b * s1b / n_b) / (n_b - 1) / n_b AS seb2,
        |    s1a / n_a - s1b / n_b AS diff
        |  FROM m
        |)
        |SELECT event_type, n_a, n_b, mean_a, mean_b,
        |  ROUND(diff / sqrt(sea2 + seb2), 4) AS t_stat,
        |  ROUND((sea2 + seb2) * (sea2 + seb2) /
        |    (sea2 * sea2 / (n_a - 1) + seb2 * seb2 / (n_b - 1)), 4) AS welch_dof
        |FROM i
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c91_ols_trend" ->
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) / 86400000000.0 AS x, value AS y
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM pts GROUP BY event_type
        |), i AS (
        |  SELECT event_type, n,
        |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den, sx, sy, syy
        |  FROM m
        |)
        |SELECT event_type, n,
        |  ROUND(num / den, 4) AS slope_per_day,
        |  ROUND((sy - num / den * sx) / n, 4) AS intercept,
        |  ROUND(num * num / (den * (n * syy - sy * sy)), 4) AS r2
        |FROM i
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c81_last_touch_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
         |), keyed AS (
         |  SELECT *,
         |    CASE WHEN event_type = 'view' THEN ts_us * 4 + 1
         |         WHEN event_type = 'click' THEN ts_us * 4 + 2 END AS mkt_key
         |  FROM e
         |), touched AS (
         |  SELECT *, max(mkt_key) OVER (PARTITION BY user_id
         |    ORDER BY ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_mkt
         |  FROM keyed
         |), p AS (
         |  SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us,
         |    last_mkt // 4 AS touch_ts_us, last_mkt % 4 AS ch_code,
         |    (last_mkt IS NOT NULL AND ts_us - last_mkt // 4 <= ${AttrWindowUs})
         |      AS in_window
         |  FROM touched WHERE event_type = 'purchase'
         |)
         |SELECT purchase_id, user_id, purchase_ts_us,
         |  CASE WHEN in_window THEN
         |    CASE WHEN ch_code = 2 THEN 'click' ELSE 'view' END END AS channel,
         |  CASE WHEN in_window THEN purchase_ts_us - touch_ts_us END AS gap_us
         |FROM p
         |ORDER BY purchase_id ASC NULLS FIRST""".stripMargin,

    "c82_join_cardinality" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_o
        |  FROM orders GROUP BY o_orderkey, o_orderstatus
        |), l AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_l
        |  FROM lineitem GROUP BY l_orderkey
        |), keyed AS (
        |  SELECT o_orderstatus, n_o * COALESCE(n_l, 0) AS prod,
        |    COALESCE(n_l, 0) AS n_l
        |  FROM o LEFT JOIN l ON o_orderkey = l_orderkey
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(prod) AS BIGINT) AS join_rows,
        |  CAST(MAX(n_l) AS BIGINT) AS max_rows_per_key,
        |  ROUND(CAST(SUM(prod) AS DOUBLE) / COUNT(*), 4) AS avg_rows_per_key
        |FROM keyed
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin)
}
