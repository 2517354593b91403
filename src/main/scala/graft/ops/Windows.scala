package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Canon, Tables}

/** Window functions + time-windowed (streaming-shaped) operators +
  * range/as-of joins (SURVEY §2 B13/B14, B24–B27, B42–B44).
  *
  * Scale posture: every `Window.partitionBy(key)` shuffles once on the
  * key and sorts within partitions — the same contract at 32 rows or
  * 100 TB, provided keys aren't pathologically skewed (AQE handles
  * moderate skew; per-user event streams are naturally bounded). The
  * range/as-of joins are equi-joins on the entity key first (shuffle
  * co-locates each user's timeline) with the temporal predicate applied
  * within the joined group — never a pure cross join. Batch
  * `window()`/`session_window()` are the same operators Structured
  * Streaming uses, so these plans carry over to `readStream` verbatim.
  */
object Windows {
  import Canon._

  type Q = (SparkSession, String) => DataFrame

  /** Events with the canon µs-integer event time: window specs order
    * by (`ts_us`, `event_id`) — a provably total order (§5.3 rule 1).
    */
  private def eventsUs(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    ev.withColumn("ts_us", Tables.tsUs(ev))
      .drop("ts")
  }

  /** b24 — ranking windows: top-3 orders per customer by value.
    * row_number with an explicit o_orderkey tiebreak (total order),
    * plus rank/dense_rank/ntile over the same spec.
    */
  def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.t(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"), col("rnk"), col("tile"))
      .orderBy("o_custkey", "rn")
  }

  /** b25 — lag/lead + first/last over an explicit frame (B28): per-
    * user inter-event gap in µs, plus the user's first event type and
    * the running latest event id (ROWS frame — explicit, because the
    * default frame of an ordered window differs across engines).
    */
  def lagGap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventsUs(spark, sfDir)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("gap_us", col("ts_us") - col("prev_ts_us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("first_type", first(col("event_type")).over(wf))
      .withColumn("latest_id", last(col("event_id")).over(wf))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("gap_us"), col("next_type"), col("first_type"), col("latest_id"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** b26 — running-sum frame (UNBOUNDED PRECEDING → CURRENT ROW):
    * cumulative order value per customer. Decimal-cast inside the
    * frame sum so the prefix sums are exact in both engines.
    */
  def runningSum(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.t(spark, sfDir, "orders")
      .withColumn("running_total",
        exactSum(col("o_totalprice")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** b27 — moving-average frame (ROWS 2 PRECEDING → CURRENT; ROWS not
    * RANGE — RANGE-over-time differs across engines, SURVEY B27).
    */
  def movingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    eventsUs(spark, sfDir)
      .withColumn("mavg", round(avg(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"), col("mavg"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** b56 — RANGE window frame (the VALUE-bounded frame b27's ROWS
    * frame deliberately sidestepped): per customer, the trailing
    * 30-day order count and spend — "how much did this customer buy
    * in the month up to and including this order". RANGE frames are
    * engine-portable EXACTLY when the order column and offsets are
    * plain integers (here: epoch DAYS and a literal 30) — the
    * INTERVAL-over-timestamp form differs across engines and stays
    * excluded (the B27 rule); equal-day orders are frame PEERS (all
    * included) in both engines by the SQL standard. Spend rides the
    * decimal canon, so within-frame accumulation order is
    * irrelevant.
    */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    Tables.t(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"),
        col("o_totalprice"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("spend_30d",
        exactSum(col("o_totalprice")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        col("n_30d"), col("spend_30d"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** b62 — DISTRIBUTION window functions (percent_rank, cume_dist,
    * ntile — the relative-position family b24's rank left out): each
    * order's price position within its priority class. Portable
    * because the (o_totalprice, o_orderkey) order is a TOTAL order —
    * no peers, so percent_rank = (rn−1)/(n−1) and cume_dist = rn/n
    * are exact integer ratios evaluated identically in double, and
    * ntile's ANSI bucket rule (first n%4 buckets carry the extra row)
    * is a closed form of (rn, n); all three emit canon-rounded. The
    * output filters to the price tail AFTER the ranks (the filter
    * only trims emitted rows), the audit shape that keeps result size
    * constant while the rank work scales with the table.
    *
    * Scale shape (round-13 OrderStats promotion): priority classes
    * are a CONSTANT-cardinality key (5 values) over the corpus-scaled
    * orders table, so the old per-priority distribution window was a
    * 5-task full sort at 100 TB — the §5.3 rule 9 class. The rank now
    * comes from [[graft.ops.OrderStats.cumLe]]'s two-pass bucketed
    * kernel (bit-identical under the total order), the class size n
    * rides a broadcast 5-row count table, and all three distribution
    * functions are evaluated from (rn, n) with EXACTLY the IEEE
    * operations Spark's window versions perform — (rn−1)/(n−1) with
    * the n = 1 → 0.0 pin, rn/n, and the ntile boundary arithmetic —
    * so the emission is value-identical while the sort distributes
    * across ~n/1024 shards per class.
    */
  def windowDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val ranked = graft.ops.OrderStats.cumLe(
        o.withColumn("v", col("o_totalprice")).withColumn("cnt", lit(1L)),
        Seq("o_orderpriority"), Seq("o_orderkey"))
      .withColumnRenamed("cum_le", "rn")
    val sizes = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(sizes), "o_orderpriority")
      .withColumn("pct_rank", round(when(col("n") > 1L,
        (col("rn") - 1).cast("double") / (col("n") - 1).cast("double"))
        .otherwise(0.0), 6))
      .withColumn("cume", round(col("rn").cast("double") / col("n").cast("double"), 6))
      // ANSI ntile from (rn, n): base = n div 4 rows per bucket, the
      // first rem = n % 4 buckets take one extra; the CASE's else arm
      // is unreachable when base = 0 (cutoff = n), so no div-by-zero.
      .withColumn("quartile", expr(
        """CASE WHEN rn <= (n % 4) * (n div 4 + 1)
          |     THEN (rn - 1) div (n div 4 + 1) + 1
          |     ELSE n % 4 + (rn - (n % 4) * (n div 4 + 1) - 1) div (n div 4) + 1
          |END""".stripMargin).cast("long"))
      .where(col("o_totalprice") > 495000)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("pct_rank"), col("cume"), col("quartile"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** b13 — range (theta) join: same-user event pairs within 5 minutes.
    * Equi-join on user_id first (shuffle co-location), temporal band
    * predicate within the group — the scalable range-join shape.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = eventsUs(spark, sfDir)
    val e1 = e.select(col("event_id").as("id1"), col("user_id"),
      col("ts_us").as("ts1"))
    val e2 = e.select(col("event_id").as("id2"), col("user_id").as("user_id2"),
      col("ts_us").as("ts2"))
    e1.join(e2,
      col("user_id") === col("user_id2") &&
        col("ts2") >= col("ts1") && col("ts2") <= col("ts1") + lit(300000000L) &&
        col("id1") < col("id2"))
      .select(col("user_id"), col("id1"), col("id2"),
        (col("ts2") - col("ts1")).as("gap_us"))
      .orderBy("user_id", "id1", "id2")
  }

  /** b14 — as-of join: for each purchase, the most recent click by the
    * same user at-or-before the purchase. Implemented as the
    * equi+range join with row_number()=1 (identical idiom in the
    * oracle, per SURVEY B14: use the same window formulation in BOTH
    * engines rather than DuckDB's native ASOF).
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = eventsUs(spark, sfDir)
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuser"),
        col("ts_us").as("click_ts_us"))
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_ts_us").desc, col("click_id").desc)
    purchases
      .join(clicks, col("user_id") === col("cuser") &&
        col("click_ts_us") <= col("purchase_ts_us"), "left")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        col("click_id"), col("click_ts_us"))
      .orderBy("purchase_id")
  }

  /** b42 — tumbling 1-hour window aggregation (batch twin of the
    * streaming groupBy(window(...))).
    */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("hour_start"),
        col("n_events"), col("sum_value"))
      .orderBy("hour_start")

  /** b43 — sliding window (1 hour every 15 min): each event lands in 4
    * overlapping windows; Spark's window() emits them natively.
    */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start")

  /** b44 — session window (30-minute gap) per user: batch
    * `session_window`, the same operator streaming uses.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  val queries: Map[String, Q] = Map(
    "b24_window_topk_per_group" -> (topkPerGroup(_, _)),
    "b25_window_lag_gap" -> (lagGap(_, _)),
    "b26_window_running_sum" -> (runningSum(_, _)),
    "b27_window_moving_avg" -> (movingAvg(_, _)),
    "b56_window_range_frame" -> (rangeFrame(_, _)),
    "b62_window_distribution" -> (windowDistribution(_, _)),
    "b13_join_range" -> (rangeJoin(_, _)),
    "b14_join_asof" -> (asofJoin(_, _)),
    "b42_tumbling_window" -> (tumblingWindow(_, _)),
    "b43_sliding_window" -> (slidingWindow(_, _)),
    "b44_session_window" -> (sessionWindow(_, _))
  )

  val oracle: Map[String, String] = Map(
    "b62_window_distribution" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 6) AS cume,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC NULLS FIRST)
        |QUALIFY o_totalprice > 495000
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "b56_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  epoch_us(o_orderdate) // 86400000000 AS day,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY epoch_us(o_orderdate) // 86400000000 ASC
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey ASC NULLS FIRST, day ASC NULLS FIRST,
        |  o_orderkey ASC NULLS FIRST""".stripMargin,

    "b24_window_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, tile FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn,
        |    rank() OVER w AS rnk,
        |    ntile(4) OVER w AS tile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST)
        |) WHERE rn <= 3
        |ORDER BY o_custkey ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "b25_window_lag_gap" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
        |  lead(event_type, 1) OVER w AS next_type,
        |  first_value(event_type) OVER wf AS first_type,
        |  last_value(event_id) OVER wf AS latest_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY epoch_us(ts) ASC NULLS FIRST, event_id ASC NULLS FIRST),
        |  wf AS (PARTITION BY user_id
        |         ORDER BY epoch_us(ts) ASC NULLS FIRST, event_id ASC NULLS FIRST
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id ASC NULLS FIRST, ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin,

    "b26_window_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |ORDER BY o_custkey ASC NULLS FIRST, o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "b27_window_moving_avg" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  ROUND(AVG(value) OVER (
        |    PARTITION BY user_id
        |    ORDER BY epoch_us(ts) ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
        |FROM events
        |ORDER BY user_id ASC NULLS FIRST, ts_us ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin,

    "b13_join_range" ->
      """SELECT e1.user_id, e1.event_id AS id1, e2.event_id AS id2,
        |  epoch_us(e2.ts) - epoch_us(e1.ts) AS gap_us
        |FROM events e1
        |JOIN events e2 ON e1.user_id = e2.user_id
        |  AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        |  AND e1.event_id < e2.event_id
        |ORDER BY e1.user_id ASC NULLS FIRST, id1 ASC NULLS FIRST, id2 ASC NULLS FIRST""".stripMargin,

    "b14_join_asof" ->
      """SELECT purchase_id, user_id, purchase_ts_us, click_id, click_ts_us FROM (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |    epoch_us(p.ts) AS purchase_ts_us,
        |    c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |) WHERE rn = 1
        |ORDER BY purchase_id ASC NULLS FIRST""".stripMargin,

    "b42_tumbling_window" ->
      s"""SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n_events,
         |  ${oDsum("value")} AS sum_value
         |FROM events
         |GROUP BY date_trunc('hour', ts)
         |ORDER BY hour_start ASC NULLS FIRST""".stripMargin,

    // Sliding windows via epoch arithmetic: the 4 windows covering an
    // event at t start at floor(t/15min)*15min - k*15min, k=0..3.
    "b43_sliding_window" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000) AS window_start,
         |  COUNT(*) AS n_events,
         |  ${oDsum("value")} AS sum_value
         |FROM events, range(4) t(k)
         |GROUP BY window_start
         |ORDER BY window_start ASC NULLS FIRST""".stripMargin,

    // Session windows via gaps-and-islands: a new session starts when
    // the gap from the previous event reaches the 30-minute gap
    // (session windows are [start, end) — an event exactly at end
    // opens a new session).
    "b44_session_window" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
         |), numbered AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id
         |                           ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged
         |)
         |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
         |  ${oDsum("value")} AS sum_value
         |FROM numbered
         |GROUP BY user_id, sid
         |ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST""".stripMargin
  )
}
