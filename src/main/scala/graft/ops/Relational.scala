package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Canon, Tables}

/** Relational analytics surface (SURVEY §2 group B: scans, filters,
  * joins, aggregation, set ops, sort/limit).
  *
  * Scale posture: joins against `region`/`nation`/`customer`-sized
  * dimensions are explicitly `broadcast()` (they stay KB–GB while the
  * fact side grows to 100 TB); fact-fact joins shuffle on their join
  * keys and rely on AQE for skew/coalescing. Aggregations are plain
  * `groupBy.agg`, which Spark executes as partial (map-side) + final
  * hash aggregation — the shuffle carries one row per (partition,
  * group), not per input row. Top-k uses `orderBy().limit(k)` which
  * Spark fuses into `TakeOrderedAndProject` (per-partition heaps, no
  * global sort).
  */
object Relational {
  import Canon._

  type Q = (SparkSession, String) => DataFrame

  /** b16 — TPC-H Q1 pricing summary (flagship). Scan + 8-way agg over
    * lineitem; 6 output groups regardless of scale.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.t(spark, sfDir, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge =
      col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(discPrice).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** b6 — conjunctive/disjunctive predicates, BETWEEN, IN, LIKE,
    * NOT LIKE, IS NOT NULL; all pushdown-eligible on the parquet scan.
    */
  def filterComplex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "orders")
      .where(
        col("o_orderdate").between(lit("1996-01-01"), lit("1998-12-31")) &&
        col("o_orderstatus").isin("O", "F") &&
        col("o_totalprice").between(10000, 200000) &&
        col("o_orderpriority").like("%-%") &&
        !col("o_orderpriority").like("5%") &&
        col("o_custkey").isNotNull &&
        (col("o_orderstatus") === "F" || col("o_totalprice") > 150000))
      .orderBy("o_orderkey")

  /** b7 — broadcast hash join of the dimension chain
    * region ⋈ nation ⋈ customer. Both dims are tiny at any scale
    * (region=5, nation=25 rows forever) → explicit broadcast keeps the
    * fact side shuffle-free.
    */
  def joinBroadcastDims(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.t(spark, sfDir, "region")
    val nation = Tables.t(spark, sfDir, "nation")
    val customer = Tables.t(spark, sfDir, "customer")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** b8 — 3-way shuffle (sort-merge) join customer ⋈ orders ⋈ lineitem;
    * the canonical fact-fact-dim chain. Aggregated to a bounded group
    * count so the output stays metadata-sized at 100 TB.
    */
  def join3Way(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.t(spark, sfDir, "customer")
    val o = Tables.t(spark, sfDir, "orders")
    val l = Tables.t(spark, sfDir, "lineitem")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  /** b9 — left outer join + null probe: customers that placed no
    * orders (the outer-join null side surfaced directly).
    */
  def joinLeftUnmatched(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.t(spark, sfDir, "customer")
    val o = Tables.t(spark, sfDir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .where(col("o_orderkey").isNull)
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** b10 — left semi join (EXISTS): customers with ≥1 open order. */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.t(spark, sfDir, "customer")
    val o = Tables.t(spark, sfDir, "orders").where(col("o_orderstatus") === "O")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** b11 — left anti join (NOT EXISTS): parts never ordered. */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.t(spark, sfDir, "part")
    val l = Tables.t(spark, sfDir, "lineitem")
    p.join(l, col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")
  }

  /** b12 — full outer join: part catalog vs parts seen in lineitem
    * (lineitem pre-aggregated per key so the outer join is
    * key-vs-key, not key-vs-600M-rows).
    */
  def joinFull(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.t(spark, sfDir, "part")
    val l = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("li_rows"))
    p.join(l, col("p_partkey") === col("l_partkey"), "full")
      .select(
        coalesce(col("p_partkey"), col("l_partkey")).as("partkey"),
        col("p_partkey").isNotNull.as("in_catalog"),
        coalesce(col("li_rows"), lit(0L)).as("li_rows"))
      .orderBy("partkey")
  }

  /** b17 — exact COUNT(DISTINCT), single- and multi-column. Spark
    * plans the multi-distinct via expand + two-phase aggregation.
    */
  def countDistinctQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("distinct_parts"),
      countDistinct(col("l_suppkey")).as("distinct_supps"),
      countDistinct(col("l_partkey"), col("l_suppkey")).as("distinct_part_supp"),
      count(lit(1)).as("total_rows"))

  /** b18's accuracy contract: the HLL estimate must sit within this
    * relative error of the exact count (the ACCURACY.json bound the
    * CI asserted for two rounds; measured max rel err 3.6%). */
  private[graft] val HllRelErrBound = 0.15

  /** b18 — approximate distinct (HLL++), now FULLY oracle-gated
    * (r17 verdict item 6): the sketch VALUE stays engine-private —
    * no oracle can recompute another engine's HLL — but the row the
    * driver hashes carries only cross-engine-derivable content: the
    * exact distinct counts (computed by both engines) and a
    * within-bound verdict on the sketch (|approx−exact|/exact ≤
    * [[HllRelErrBound]]), which the oracle pins as literal TRUE. A
    * sketch drifting out of bound now FAILS the hash gate instead of
    * merely a CI assertion — the ACCURACY.json rows retire into the
    * oracle. The HLL still runs in the same aggregate; at 100 TB the
    * exact side is the expensive verification pass you run on an
    * audit sample, the sketch is the production estimator.
    *
    * PRECONDITION: `l_partkey` and `l_orderkey` are non-null (TPC-H
    * declares both NOT NULL). The (cid, v) dedup aggregate keeps a
    * NULL key as one group, so on a nullable key `exact_parts` /
    * `exact_orders` would read one above COUNT(DISTINCT) (which skips
    * NULLs). `total_rows` is read off `l_partkey`'s groups (the cid-0
    * duplicate-count sum), so a corpus with nullable keys needs both
    * `v IS NOT NULL` before the dedup and a row count taken before
    * that filter.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 19 (r18 verdict item 6): the one-agg form planned the two
    // exact distincts + two HLLs as an Expand ×3 (every row tripled,
    // carrying both key columns). One narrow (cid, v) explode ×2
    // feeds ONE dedup aggregate instead; the exact count is the
    // deduped row count per cid, total_rows is the duplicate-count
    // sum on one side, and the HLL over the DEDUPED values is the
    // identical sketch (HLL is duplicate-insensitive — same value
    // set, same registers, same estimate).
    val g = Tables.t(spark, sfDir, "lineitem")
      .select(explode(expr(
        "array(struct(0 AS cid, l_partkey AS v), struct(1 AS cid, l_orderkey AS v))")).as("e"))
      .select(col("e.cid").as("cid"), col("e.v").as("v"))
      .groupBy(col("cid"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("cid")).agg(count(lit(1)).as("exact"),
        sum(col("c")).as("nrows"), approx_count_distinct(col("v")).as("ap"))
    g.agg(
        coalesce(max(when(col("cid") === 0, col("nrows"))), lit(0L)).as("total_rows"),
        coalesce(max(when(col("cid") === 0, col("exact"))), lit(0L)).as("exact_parts"),
        coalesce(max(when(col("cid") === 1, col("exact"))), lit(0L)).as("exact_orders"),
        coalesce(max(when(col("cid") === 0, col("ap"))), lit(0L)).as("ap"),
        coalesce(max(when(col("cid") === 1, col("ap"))), lit(0L)).as("ao"))
      .select(col("total_rows"), col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")).cast("double") <=
          lit(HllRelErrBound) * col("exact_parts")).as("parts_within_bound"),
        (abs(col("ao") - col("exact_orders")).cast("double") <=
          lit(HllRelErrBound) * col("exact_orders")).as("orders_within_bound"))
  }

  /** b50 — approximate quantile/percentile sketches (companion to
    * b18's HLL): the monitoring aggregates a 100 TB pipeline runs
    * where exact percentiles would shuffle the world. Sketches aren't
    * cross-engine comparable → no oracle (rows-only check); error
    * bounds are property-tested against exact percentiles instead
    * (OperatorPropertiesSpec). All outputs scalar (§5.3 rule 5: no
    * ArrayType in a final schema — the driver comparator can't hash
    * arrays), so the IQR ships as two scalar percentile columns.
    */
  /** b50's rank tolerance: the sketch value must land between the
    * exact percentiles at q ± this (approx_percentile accuracy 1000
    * bounds rank error at 1/1000 — the gate allows 10× slack). */
  private[graft] val PctlRankEps = 0.01

  /** b50 — approximate quantile sketches, FULLY oracle-gated like
    * b18 (r17 verdict item 6): the hashed row carries the EXACT
    * interpolated percentiles (both engines compute `percentile` /
    * `quantile_cont` over the same doubles, r4-rounded) plus a
    * within-bound verdict per sketch — the approx value must land
    * between the exact percentiles at q ± [[PctlRankEps]] (a rank-
    * tolerance band, the natural accuracy contract of a rank-error
    * sketch) — which the oracle pins as literal TRUE. The sketch
    * value itself stays engine-private.
    */
  def approxQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE percentile buffer and ONE sketch per column (array-of-
    // percentages form), not one per requested quantile: the scalar
    // form built 12 independent Percentile value→count maps and 4
    // approx_percentile sketches over the same 600k rows — 8.9 s
    // wall / 15.5 s cpu at sf0.1, the #2 bench key (optimization
    // round 18, guide §1.2 "per-task work"). Each array element is
    // computed by the same interpolation over the same buffer as the
    // scalar call, so the exact columns are value-identical; the
    // within_bound verdicts compare ONE merged sketch per column
    // against the same exact rank band (the sketch value itself is
    // engine-private — only the boolean is hashed, and the 1/1000
    // rank accuracy vs the ±0.01 band is unchanged).
    val eps = PctlRankEps
    def arr(c: String, qs: Seq[Double]) =
      expr(s"percentile(CAST($c AS DOUBLE), array(${qs.mkString("D,")}D))")
    def sk(c: String, qs: Seq[Double]) =
      expr(s"approx_percentile(CAST($c AS DOUBLE), array(${qs.mkString("D,")}D), 1000)")
    val priceQs = Seq(0.5 - eps, 0.5, 0.5 + eps, 0.95 - eps, 0.95, 0.95 + eps)
    val qtyQs = Seq(0.25 - eps, 0.25, 0.25 + eps, 0.75 - eps, 0.75, 0.75 + eps)
    Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        arr("l_extendedprice", priceQs).as("pe"),
        sk("l_extendedprice", Seq(0.5, 0.95)).as("ae"),
        arr("l_quantity", qtyQs).as("qe"),
        sk("l_quantity", Seq(0.25, 0.75)).as("aq"))
      .select(col("l_returnflag"),
        col("n"),
        round(element_at(col("pe"), 2), 4).as("p50_price"),
        round(element_at(col("pe"), 5), 4).as("p95_price"),
        round(element_at(col("qe"), 2), 4).as("p25_qty"),
        round(element_at(col("qe"), 5), 4).as("p75_qty"),
        element_at(col("ae"), 1).between(
          element_at(col("pe"), 1), element_at(col("pe"), 3))
          .as("p50_within_bound"),
        element_at(col("ae"), 2).between(
          element_at(col("pe"), 4), element_at(col("pe"), 6))
          .as("p95_within_bound"),
        element_at(col("aq"), 1).between(
          element_at(col("qe"), 1), element_at(col("qe"), 3))
          .as("p25_within_bound"),
        element_at(col("aq"), 2).between(
          element_at(col("qe"), 4), element_at(col("qe"), 6))
          .as("p75_within_bound"))
      .orderBy("l_returnflag")
  }

  /** b19 — ROLLUP with grouping_id over orders status×priority. */
  def rollupQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** b20 — CUBE over lineitem returnflag×linestatus. */
  def cubeQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** b21 — grouped collect, canon-sorted then stringified (SURVEY §5.3
    * rule 5: never emit unsorted collections and no ArrayType in a
    * final schema — `concat_ws` flattens the sorted set to one string
    * the cross-engine comparator can hash).
    */
  def groupCollect(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.t(spark, sfDir, "nation")
    val c = Tables.t(spark, sfDir, "customer")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(concat_ws("|", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** b22 — statistical aggregates per event_type: sample
    * stddev/variance, correlation, exact median. All FP quantities are
    * canon-rounded (§5.3 rule 2).
    */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        r4(stddev_samp(col("value"))).as("sd_value"),
        r4(var_samp(col("value"))).as("var_value"),
        r4(corr(col("value"), col("user_id").cast("double"))).as("corr_value_user"),
        r4(median(col("value"))).as("median_value"))
      .orderBy("event_type")

  /** c39 — z-score OUTLIER detection per event_type: the per-group
    * moments pass → broadcast stats → per-row |z| pass that a
    * telemetry/data-quality pipeline runs before training ingestion.
    * Determinism: mean and E[x²] go through the decimal canon (exact
    * sums, then identical double division/sqrt in both engines) —
    * `stddev_samp` itself is order-dependent FP and could flip a
    * threshold compare, which is why the moments are assembled by hand
    * from [[Canon.dsum]] sums. |z| is rounded at 1e-4 before the >3
    * cut. Population sigma (÷n) keeps the algebra to two exact sums.
    * Scale shape: one grouped moment pass (map-side combined, 5 output
    * rows), stats broadcast back onto one scan — the corpus never
    * shuffles on rows.
    */
  def zscoreOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    val stats = ev.groupBy(col("event_type").as("et"))
      .agg((dsum(col("value")) / count(col("value"))).as("mu"),
        (dsum(col("value") * col("value")) / count(col("value"))).as("m2"))
      .select(col("et"), col("mu"),
        greatest(sqrt(col("m2") - col("mu") * col("mu")), lit(1e-12)).as("sigma"))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .select(col("event_type"),
        round(abs(col("value") - col("mu")) / col("sigma"), 4).as("az"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("az") > 3.0, 1)).as("n_outliers"),
        max(col("az")).as("max_abs_z"))
      .orderBy("event_type")
  }

  /** b23 — pivot: documents lang × source counts, fixed value list so
    * the output schema is static; absent cells coalesced to 0 to match
    * the oracle's COUNT(CASE...) form.
    */
  def pivotQ(spark: SparkSession, sfDir: String): DataFrame = {
    val sources = (0 to 19).map(i => s"src$i")
    val piv = Tables.t(spark, sfDir, "documents")
      .groupBy(col("lang"))
      .pivot("source", sources)
      .count()
    piv.select(col("lang") +: sources.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy("lang")
  }

  /** b52 — fixed-bin histogram of a numeric column: global min/max via
    * a broadcast 1-row aggregate (no collect), bin assignment as a
    * per-row projection, counts map-side combined — the distribution
    * profile a pipeline computes per ingest batch. Bin arithmetic is
    * written identically in the oracle (same IEEE ops, same
    * association) so bin edges match bit-for-bit. The denominator
    * carries a +1e-12 epsilon (same guard as Layout.zorderBy): when
    * every value is equal, hi−lo = 0 and the unguarded ratio is NaN —
    * Spark nulls the cast while DuckDB ERRORS on CAST(NaN AS BIGINT),
    * so the engines would diverge; with the guard both put the
    * degenerate batch in bin 0.
    */
  def histogramQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.t(spark, sfDir, "events")
    val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    e.crossJoin(broadcast(bounds))
      .withColumn("bin", least(
        floor((col("value") - col("lo")) / (col("hi") - col("lo") + lit(1e-12)) * 20).cast("long"),
        lit(19L)))
      .groupBy(col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), col("n"),
        round(col("lo") + col("bin") * (col("hi") - col("lo")) / 20, 4).as("bin_lo"))
      .orderBy("bin")
  }

  private val HqBins = 100
  private val HqQs = Seq(0.5, 0.9, 0.99)

  /** c28 — ENGINE-REPRODUCIBLE approximate quantiles: two-pass
    * fixed-bin histogram sketch (bounds scan → 100-bin count scan)
    * with linear interpolation inside the target bin. Error is
    * bounded by one bin width (range/100); unlike `percentile_approx`
    * (b50 — rows-only, sketch internals differ per engine), every
    * step here is deterministic integer/double algebra, so the SAME
    * estimate comes out of Spark, DuckDB, or any partitioning — this
    * key is hash-matched, not rows-only. The bin table is mergeable
    * (counts add), so at 100 TB the second pass is one
    * map-side-combined agg to 100 rows; the cumulative sum runs as a
    * tiny bin×bin self-join, never a single-partition global window.
    */
  def histQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.t(spark, sfDir, "events")
    val bounds = e.agg(min(col("value")).cast("double").as("lo"),
      max(col("value")).cast("double").as("hi"), count(lit(1)).as("n"))
    val bins = e.crossJoin(broadcast(bounds))
      .select(least(floor((col("value") - col("lo")) /
          (col("hi") - col("lo") + lit(1e-12)) * HqBins).cast("long"),
        lit(HqBins - 1L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = bins.as("a").join(bins.as("b"), col("b.bin") <= col("a.bin"))
      .groupBy(col("a.bin").as("bin"), col("a.cnt").as("cnt"))
      .agg(sum(col("b.cnt")).as("cum"))
    HqQs.toDF("q")
      .crossJoin(broadcast(cum.crossJoin(broadcast(bounds))))
      .where(col("cum").cast("double") >= col("q") * col("n"))
      .groupBy(col("q"))
      .agg(min_by(struct(col("bin"), col("cnt"), col("cum")), col("bin")).as("s"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"), first(col("n")).as("n"))
      .select(col("q"), col("n"),
        round(col("lo") + (col("hi") - col("lo") + lit(1e-12)) / HqBins *
          (col("s.bin") + (col("q") * col("n") -
            (col("s.cum") - col("s.cnt")).cast("double")) / col("s.cnt")), 4).as("est"))
      .orderBy("q")
  }

  /** b29 — TPC-H Q3 shape: filtered 3-way join, revenue per order,
    * global top-10 — fused by Spark into TakeOrderedAndProject
    * (per-partition heaps; no global sort even at 100 TB).
    */
  def q3TopkRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = "1996-03-15"
    val c = Tables.t(spark, sfDir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = Tables.t(spark, sfDir, "orders").where(col("o_orderdate") < lit(cutoff))
    val l = Tables.t(spark, sfDir, "lineitem").where(col("l_shipdate") > lit(cutoff))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** b53 — TPC-H Q5 (local supplier volume): revenue per nation for
    * one region-year, where the supplier and the customer share the
    * nation — the canonical 6-table join chain and the planner's
    * star-vs-chain stress test. Join shape at 100 TB: region⋈nation
    * collapse to a ≤25-row broadcast dim; lineitem⋈orders and
    * ⋈customer shuffle on their keys with the date/region filters
    * PUSHED below the joins (scan-level pruning); supplier joins by
    * suppkey; the cross-table c_nationkey = s_nationkey predicate
    * applies as a post-join filter (it is not an equi-key of any
    * single join). Revenue rides the decimal canon; ordering is
    * revenue desc with the n_name tiebreak.
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val natRegion = Tables.t(spark, sfDir, "nation")
      .join(Tables.t(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    val o = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    Tables.t(spark, sfDir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(natRegion), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** c86 — INCREMENTAL aggregate maintenance: b16's pricing summary
    * maintained as base ⊕ delta instead of recomputed — the algebraic
    * mergeability contract every production incremental ETL depends
    * on. The corpus splits deterministically (md5 1-in-5 = the
    * "new arrivals" increment, the c50 id-split convention); each
    * side reduces to PARTIAL aggregates (decimal sums + counts — the
    * mergeable form; averages are NOT mergeable and are derived only
    * after the merge), the two partial tables (6 rows each) union,
    * and one final 6-group re-aggregation merges them. The oracle is
    * b16's own SQL — proving base ⊕ delta ≡ full recompute exactly,
    * which is the whole point: at 100 TB the base partials are a
    * materialized artifact and each increment costs one delta scan +
    * a group-sized merge, never a full-history pass.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.t(spark, sfDir, "lineitem")
    val isDelta = substring(md5(concat(lit("inc:"),
      col("l_orderkey").cast("string"), lit(":"),
      col("l_linenumber").cast("string"))), 1, 1).isin("0", "1", "2")
    // The base and delta partial tables are computed in ONE lineitem
    // pass by adding the delta flag to the partial grouping key (12
    // partial rows = the same two 6-row partial tables, keyed by
    // side), instead of two full scans each paying the per-row md5
    // split — r18 optimization round, measured 3.9 s → the union of
    // two .where() branches scanned lineitem twice and hashed every
    // row twice (guide §2.4: share one scan). The merge semantics are
    // unchanged: the final 6-group re-aggregation sums exactly the
    // same partial rows (decimal sums are associative), proving
    // base ⊕ delta ≡ full recompute as before.
    def partials(rows: DataFrame): DataFrame = rows
      .groupBy(col("l_returnflag"), col("l_linestatus"), isDelta.as("is_delta"))
      .agg(
        exactSum(col("l_quantity")).as("p_qty"),
        exactSum(col("l_extendedprice")).as("p_base"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("p_disc"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("p_charge"),
        exactSum(col("l_discount")).as("p_discsum"),
        count(lit(1)).as("p_n"))
    partials(li)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_base")).cast("double").as("sum_base_price"),
        sum(col("p_disc")).cast("double").as("sum_disc_price"),
        sum(col("p_charge")).cast("double").as("sum_charge"),
        round(sum(col("p_qty")).cast("double") / sum(col("p_n")), 4).as("avg_qty"),
        round(sum(col("p_base")).cast("double") / sum(col("p_n")), 4).as("avg_price"),
        round(sum(col("p_discsum")).cast("double") / sum(col("p_n")), 4).as("avg_disc"),
        sum(col("p_n")).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** b54 — TPC-H Q18 (large-volume customers): orders whose total
    * line quantity exceeds 300, with customer context — the
    * agg-derived SEMI-JOIN shape (the qualifying-key set comes from
    * an aggregation, not a stored dimension). Plan at 100 TB: the
    * qualifying orderkeys are an aggregate of lineitem (map-side
    * combined; output is duplicate-free keys ≪ lineitem), joined
    * back — Spark plans the key set as the build side; the final
    * top-100 fuses to TakeOrderedAndProject. One lineitem scan feeds
    * BOTH the qualifier and the final quantity sum via the self-join
    * on the qualified keys.
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.t(spark, sfDir, "lineitem")
    val qualifying = li.groupBy(col("l_orderkey").as("qk"))
      .agg(sum(col("l_quantity")).as("qsum"))
      .where(col("qsum") > 300).select(col("qk"))
    li.join(qualifying, col("l_orderkey") === col("qk"))
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** b57 — TPC-H Q4 (order-priority checking), adapted to this
    * fixture's columns: orders from 1996-H2 that had at least one
    * LATE line (shipped > 90 days after the order date — the fixture
    * carries no commit/receipt dates, so lateness is measured against
    * the order date), counted per priority. The shape under test is
    * the correlated-EXISTS semi-join: Spark plans the `left_semi`
    * with the non-equi lateness predicate as a residual on the hash
    * join, so lineitem is scanned once, never duplicated per match —
    * the row-explosion-proof way to spell EXISTS at 100 TB. Both
    * engines add the interval to a timestamp with exact day
    * arithmetic (no DST on UTC timestamps), so the predicate is
    * engine-identical.
    */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    val li = Tables.t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** b58 — TPC-H Q7 (volume shipping): bilateral trade revenue
    * between two nations by ship year. The shape under test is the
    * DISJUNCTIVE nation-pair predicate over two independent dimension
    * chains (supplier→nation and orders→customer→nation): the filter
    * cannot be pushed to either chain alone, so it runs as a residual
    * after both joins — but both nation legs broadcast (25 rows), so
    * only the two fact joins (lineitem⋈orders on orderkey) shuffle.
    * At 100 TB the plan is one lineitem scan, one orders/customer
    * shuffle join, and broadcast nation decorations — the disjunction
    * costs nothing extra.
    */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val n1 = Tables.t(spark, sfDir, "nation")
      .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = Tables.t(spark, sfDir, "nation")
      .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** b59 — TPC-H Q10 (returned-item reporting): the top 20 customers
    * by revenue LOST to returns in one quarter, with nation context —
    * the classic "who should account management call" query. Shape:
    * the `l_returnflag = 'R'` filter and the quarter window both push
    * to their scans (PushedFilters), nation broadcasts, and the final
    * top-20 fuses to TakeOrderedAndProject (per-partition heaps — no
    * global sort of the customer aggregate at any scale). Tie-break
    * on c_custkey makes the cut deterministic.
    */
  def q10ReturnedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-10-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.t(spark, sfDir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** b60 — TPC-H Q14 (promotion effect), adapted: the share of one
    * month's discounted revenue earned by ECONOMY-type parts (the
    * fixture's stand-in for the PROMO% prefix class). The shape is a
    * conditional-aggregate ratio over a fact⋈dimension join — both
    * sums ride one scan, the month window pushes down, and part joins
    * on partkey (broadcastable while part ≪ lineitem; at 100 TB part
    * grows with SF, so no hint is forced and AQE picks the side).
    * Numerator and denominator are exact decimal sums; only the final
    * ratio is double, rounded at the canon tolerance.
    */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-09-01") &&
        col("l_shipdate") < lit("1996-10-01"))
      .join(Tables.t(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) *
          dsum(when(col("p_type") === "ECONOMY", disc).otherwise(lit(0.0))) /
          dsum(disc), 4).as("promo_revenue_pct"),
        dsum(disc).as("total_revenue"))
  }

  /** b61 — TPC-H Q22 (global sales opportunity), adapted: customers
    * whose balance beats the positive-balance average but who have
    * gone DORMANT (no orders on/after 2000-01-01 — the fixture has no
    * order-less customers, so dormancy replaces "never ordered"),
    * grouped by market segment. Two shapes under test: the SCALAR
    * subquery threshold (a one-row aggregate broadcast into the
    * filter — never recomputed per row) and the NOT-EXISTS anti-join
    * against a filtered fact. The threshold assembles from an exact
    * decimal sum ÷ count so both engines compare against the
    * bit-identical double.
    */
  def q22DormantCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.t(spark, sfDir, "customer")
    val thresh = c.where(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(col("c_acctbal"))).as("avg_bal"))
    val recent = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(thresh))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** KMV sketch size — the estimator's space/accuracy dial. Sized
    * BELOW the fixture vocabulary (31 distinct tokens per language)
    * on purpose: the (k−1)/u_(k) order-statistics branch must
    * actually execute against the shipped corpus — at k = 64 every
    * fixture language had fewer than k distinct hashes, u_(k) never
    * existed, and the estimator (plus its oracle and mergeability
    * spec) passed vacuously on NULLs (round-10 advisor finding). A
    * production corpus dials k back up for accuracy (rel err
    * ~1/√(k−2)); the ALGEBRA under test is k-invariant.
    */
  private[graft] val KmvK = 16

  /** c101 — KMV (k-minimum-values) distinct-count sketch
    * (Bar-Yossef et al., RANDOM 2002 — public), the DETERMINISTIC
    * sketch b18's HLL cannot be: per language, hash every token to a
    * uniform dyadic u ∈ (0,1), keep the [[KmvK]] smallest distinct
    * values, and estimate the vocabulary as (k−1)/u_(k) — the
    * classic order-statistics estimator. Because the hash is md5 (not
    * an engine-private seed), the sketch IS reproducible
    * cross-engine: the oracle recomputes the identical k-th minimum
    * and the identical estimate, so this key hash-verifies a sketch's
    * ALGEBRA end-to-end where b18 can only rows-check (its HLL
    * internals are engine-private; ACCURACY.json carries its error
    * bound instead).
    *
    * Mergeability at 100 TB: the union of two KMV sketches is the k
    * smallest of the concatenation — an associative, map-side-
    * combinable reduction; here the per-partition WindowGroupLimit
    * prunes each partition to its local k before the exchange, so
    * only (groups × k) rows ever shuffle. The exact distinct count
    * rides along as the audit column, making the emitted relative
    * error measured, not asserted.
    */
  /** The distinct per-lang dyadic hash stream behind c101 — exposed
    * so the mergeability invariant (min-k of a union == min-k of the
    * min-k's) can be spec-checked on corpus halves.
    */
  private[graft] def kmvHashedU(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("lang"), col("w"),
        ((md5Prefix(col("w"), 1, 8).cast("double") + lit(0.5)) /
          lit(4294967296.0)).as("u"))
      .groupBy(col("lang"), col("u")).agg(count(lit(1)).as("dummy"))
      .select(col("lang"), col("u"))

  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = kmvHashedU(Tables.t(spark, sfDir, "documents"))
    val kth = hashed
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("u").asc)).cast("long"))
      .where(col("rn") === KmvK)
      .select(col("lang"), col("u").as("uk"))
    val exact = Tables.t(spark, sfDir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang")).agg(countDistinct(col("w")).as("n_exact"))
    exact.join(kth, Seq("lang"), "left")
      .select(col("lang"), col("n_exact"),
        round((lit(KmvK - 1) / col("uk")), 2).as("kmv_estimate"),
        round(abs(lit(KmvK - 1) / col("uk") - col("n_exact")) / col("n_exact"), 4)
          .as("rel_err"))
      .orderBy("lang")
  }

  /** CMS geometry: 3 hash rows × 64 counters; top-k eval tokens. */
  private[graft] val CmsDepth = 3
  private[graft] val CmsWidth = 64
  private[graft] val CmsEvalK = 10

  /** c118 — COUNT-MIN SKETCH frequency estimation (Cormode &
    * Muthukrishnan 2005 — public), md5-hashed so the sketch is
    * DETERMINISTIC and its full algebra hash-verifies cross-engine
    * (the c101 discipline; Spark's own sketches are engine-private).
    * Build: every token occurrence increments one counter per hash
    * row — a (row, bucket) grouped count, 192 cells total at any
    * corpus size, merged map-side (CMS union = cell-wise add: the
    * distributed-build property that makes it THE streaming
    * frequency sketch). Query: estimate(w) = min over rows of w's
    * cell — evaluated for the 10 most frequent tokens with the exact
    * count alongside, so the emitted `overestimate` (≥ 0 ALWAYS —
    * CMS never undercounts, a one-sided bound the spec pins) is
    * measured, not asserted.
    */
  def countMinSketch(spark: SparkSession, sfDir: String): DataFrame = {
    def bucket(j: Int, c: String) =
      s"CAST(graft_md5_prefix(concat('cms$j:', $c), 1, 8) AS BIGINT) % $CmsWidth"
    val toks = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    val cells = toks
      .select(explode(expr((0 until CmsDepth).map(j =>
        s"struct(${j}L AS j, ${bucket(j, "w")} AS b)")
        .mkString("array(", ", ", ")"))).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val evalToks = toks.groupBy(col("w")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("w").asc).limit(CmsEvalK)
    val probes = evalToks
      .select(col("w"), col("exact"),
        explode(expr((0 until CmsDepth).map(j =>
          s"struct(${j}L AS j, ${bucket(j, "w")} AS b)")
          .mkString("array(", ", ", ")"))).as("p"))
      .select(col("w"), col("exact"), col("p.j").as("j"), col("p.b").as("b"))
    probes.join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("w"), col("exact"))
      .agg(min(col("cnt")).as("cms_estimate"))
      .select(col("w").as("token"), col("exact"), col("cms_estimate"),
        (col("cms_estimate") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("token").asc)
  }

  /** HLL geometry: 64 buckets (6 index bits, 26 suffix bits). */
  private[graft] val HllBuckets = 64
  private[graft] val HllSuffixBits = 26
  /** α₆₄ — the HLL paper's constant for m = 64 (Flajolet et al. 2007,
    * §4: α_m = 0.7213/(1 + 1.079/m), tabulated 0.709 for m = 64) —
    * a shared LITERAL, never computed (the c68 PrJump rule).
    */
  private[graft] val HllAlpha = "0.709"

  /** c119 — HAND-BUILT HYPERLOGLOG (Flajolet, Fusy, Gandouet &
    * Meunier 2007 — public): the estimator behind b18's
    * `approx_count_distinct`, re-derived from first principles on
    * md5 so the ENTIRE register algebra hash-verifies cross-engine —
    * b18's builtin is engine-private (rows-only + measured error);
    * THIS key proves the mathematics. Per (language, scope): 32-bit
    * hash → 6-bit bucket + 26-bit suffix; register = max rho
    * (1 + leading zeros of the suffix, via `length(bin(v))` — an
    * exact INTEGER path in both engines, never floor(log2) whose FP
    * boundary at exact powers of two silently off-by-ones); the
    * harmonic sum Σ2^(−M_j) scales by 2^27 to an exact integer
    * (dyadic terms at decimal scale 18 would quantize — designed
    * out); the raw estimate αm²·2^27/S applies the paper's
    * small-range linear-counting correction when E ≤ 2.5m with
    * empty buckets present.
    *
    * Two cardinality SCOPES so BOTH estimator branches execute on
    * the fixtures: the 31-token vocabulary exercises linear
    * counting, the ~31² bigram space the raw harmonic estimator — a
    * single-scope key would ship one branch dead on every fixture.
    * Registers merge by MAX — the map-side-combinable reduction that
    * lets 1000 executors sketch 100 TB in one pass.
    */
  /** The stateless per-item (keys…, bkt, rho) projection behind c119
    * and the streaming c120 — one shared copy, so the streaming twin
    * cannot drift from the batch hash geometry.
    */
  private[graft] def hllRho(items: DataFrame, keys: Seq[String]): DataFrame = {
    val cap = HllSuffixBits + 1
    items
      .select(keys.map(col) :+
        expr("CAST(graft_md5_prefix(item, 1, 8) AS BIGINT)").as("v"): _*)
      .select(keys.map(col) :+
        expr(s"v div ${1L << HllSuffixBits}").as("bkt") :+
        expr(s"v % ${1L << HllSuffixBits}").as("sfx"): _*)
      .select(keys.map(col) :+ col("bkt") :+
        when(col("sfx") === 0, lit(cap))
          .otherwise(lit(cap) - length(expr("bin(sfx)"))).as("rho"): _*)
  }

  /** The estimator assembly over a (keys…, bkt, reg) register table:
    * harmonic sum scaled to an exact 2^27 integer, α·m²·2^27/S, and
    * the paper's small-range linear-counting branch. Register tables
    * are the MERGEABLE artifact (max per bucket) — batch partials
    * and streaming state both reduce to this same input.
    */
  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val m = HllBuckets
    val cap = HllSuffixBits + 1
    val est = regs.groupBy(keys.map(col): _*)
      // shiftleft, not pow(2, k): exact integer powers by
      // construction — the repo's no-libm-pow rule.
      .agg(count(lit(1)).as("n_filled"),
        sum(expr(s"CAST(shiftleft(1L, CAST($cap - reg AS INT)) AS BIGINT)"))
          .as("s_filled"))
      .select(keys.map(col) :+
        (lit(m) - col("n_filled")).as("v_empty") :+
        (col("s_filled") + (lit(m) - col("n_filled")) * (1L << cap)).as("s"): _*)
      .select(keys.map(col) :+ col("v_empty") :+
        (expr(s"CAST($HllAlpha AS DOUBLE) * $m * $m * ${1L << cap}") / col("s"))
          .as("e_raw"): _*)
    val corrected = when(col("e_raw") <= 2.5 * m && col("v_empty") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty")))
      .otherwise(col("e_raw"))
    est.select(keys.map(col) :+ corrected.as("est"): _*)
  }

  def hllDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("lang"), split(col("text"), " ").as("ws"))
    val items = docs
      .select(col("lang"), lit("tokens").as("scope"), explode(col("ws")).as("item"))
      .unionByName(docs
        .where(size(col("ws")) >= 2)
        .select(col("lang"), lit("bigrams").as("scope"),
          explode(expr(
            "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
            .as("item")))
    val keys = Seq("lang", "scope")
    val regs = hllRho(items, keys)
      .groupBy(keys.map(col) :+ col("bkt"): _*)
      .agg(max(col("rho")).as("reg"))
    val exact = items.groupBy(keys.map(col): _*)
      .agg(countDistinct(col("item")).as("n_exact"))
    exact.join(hllEstimate(regs, keys), keys)
      .select(col("lang"), col("scope"), col("n_exact"),
        round(col("est"), 2).as("hll_estimate"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
      .orderBy("lang", "scope")
  }

  /** b63 — UNPIVOT/melt (the inverse of b23's pivot): lineitem's four
    * measure columns melted to (metric, val) rows via the native
    * `Dataset.unpivot` — ONE Expand pass over one scan (exactly
    * b19/b20/b55's lattice machinery), never four scans unioned —
    * then a per-metric (count, exact-decimal sum) profile. The
    * wide→long reshape is the first step of every column-agnostic
    * audit (a12's stack is its string-typed cousin); at 100 TB the
    * Expand's ×4 row fan-out collapses map-side to 4 rows per
    * partition before the exchange. The oracle spells the same
    * reshape as UNION ALL branches — engine-equivalent because
    * unpivot drops nothing here (no nulls in the measures).
    */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "val")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), dsum(col("val")).as("total"))
      .orderBy("metric")

  // --- c87/c88: the two join co-location strategies ---------------

  /** Salt width of the c87 skew-mitigation join. */
  private[graft] val SaltWidth = 4

  /** c197 knobs: hot keys reported per audited join key, and the cap
    * on the recommended salt width (beyond ~32 the thin-side ×S
    * replication cost of c87 dominates what the spread buys). */
  private[graft] val SkewTopK = 3
  private[graft] val SkewSaltCap = 32L

  /** c197 — JOIN-SKEW AUDIT: the measurement that DECIDES c87 (the
    * pre-join hot-key scan every 100 TB pipeline runs before picking
    * plain / AQE-split / salted — public Spark operations practice;
    * AQE's skew split fixes what it can SEE post-shuffle, salting is
    * the plan-level answer, and this key computes the two numbers
    * that choice needs): per audited join key, the top-[[SkewTopK]]
    * hot keys with their row counts, the key-space stats, the skew
    * factor (hot-key rows ÷ mean rows per key), and the RECOMMENDED
    * salt width = ceil(skew factor) clamped to [1, [[SkewSaltCap]]] —
    * the c174 budget-rule discipline: the knob is data-derived, not
    * hand-set, and both engines compute it identically from integer
    * counts. The ceil-division is computed WITHOUT the nk×n_keys
    * 64-bit product (r17 ADVICE: at 100 TB hot-key rows × key-space
    * count can exceed 2^63, where non-ANSI Spark silently wraps while
    * DuckDB raises): min(cap, ceil(a/b)) = 1 + |{s ∈ 1..cap−1 :
    * s·b < a}|, so the clamp is evaluated as a bounded comparison
    * COUNT with both products carried exactly — DECIMAL(38,0) on the
    * Spark side (nk, n_keys < 2^63 ⇒ the product < 8.6e37 fits), and
    * HUGEINT on the DuckDB side.
    *
    * Audited keys: lineitem.l_orderkey (c87's many-per-key side) and
    * events.user_id (the behavioral stream's natural skew axis).
    *
    * Scale shape: per audit, ONE map-side-combined key-count
    * aggregate (key-space-sized — the same table a shuffle would
    * build anyway), a 2-value total broadcast, and a TakeOrdered
    * top-3 cut; the rank window orders the ≤3 SURVIVORS (the
    * c53/c186 rank-after-limit discipline — never the key space).
    * Output is 2×[[SkewTopK]] rows at any corpus size.
    */
  def joinSkewAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.t(spark, sfDir, "events")
    skewAuditOf(Tables.t(spark, sfDir, "lineitem"), "lineitem", "l_orderkey")
      .unionByName(skewAuditOf(ev, "events", "user_id"))
      .orderBy("tbl", "rank")
  }

  /** The c197 audit kernel over one (table, join-key) pair — shared
    * with c200, whose strategy pick must read EXACTLY the audit's
    * rule (one kernel, the measurement and its consumer cannot
    * drift). */
  private[graft] def skewAuditOf(df: DataFrame, tbl: String, keyCol: String): DataFrame = {
    val counts = df.select(col(keyCol).cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("nk"))
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("nk")).as("n_rows"))
    counts.orderBy(col("nk").desc, col("k").asc).limit(SkewTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("nk").desc, col("k").asc)).cast("long"))
      .crossJoin(broadcast(tot))
      .select(lit(tbl).as("tbl"), lit(keyCol).as("key_col"), col("rank"),
        col("k").as("hot_key"), col("nk").as("n_rows_key"),
        col("n_rows"), col("n_keys"),
        round(col("nk").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("skew_x"),
        (lit(1L) + size(expr(
          s"""filter(sequence(1L, ${SkewSaltCap - 1}L),
             |  s -> CAST(s AS DECIMAL(38,0)) * n_rows <
             |       CAST(nk AS DECIMAL(19,0)) * CAST(n_keys AS DECIMAL(19,0)))"""
            .stripMargin)).cast("long")).as("salt_rec"))
  }

  /** c200 — SKEW-ADAPTIVE join: the CONSUMER the r17 verdict said
    * c197 lacked. The join reads the audit's rank-1 recommendation
    * for its own key (ONE driver-side row — the same bounded
    * plan-decision collect AQE's runtime re-plan makes from shuffle
    * statistics) and picks the strategy: salt_rec = 1 → the plain
    * shuffle join; salt_rec > 1 → the c87 salted kernel with the
    * recommended width. The contract is c87's, now measurement-
    * driven end-to-end: the audit changes the PARTITIONING and never
    * the answer, so the oracle is the plain join's aggregate and the
    * spec drives a constructed hot-key corpus through the kernel
    * (audit recommends width > 1, output still equals plain exactly).
    *
    * Scale shape: the audit adds one map-side-combined key-count
    * aggregate over the fact side — the table the join's own shuffle
    * would build anyway, priced before the ×S thin-side replication
    * is paid. On the near-uniform fixture keys the audit recommends
    * width 2 (skew_x ~ 1.7 — lineitem's 1–7 rows per order), so the
    * salted path genuinely exercises at every SF.
    */
  def skewAdaptiveJoin(spark: SparkSession, sfDir: String): DataFrame =
    adaptiveJoinKernel(
      Tables.t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus")),
      Tables.t(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          col("l_linenumber")))._2

  /** The c200 kernel over explicit orders/lineitem-shaped frames —
    * returns (chosen width, the aggregate) so the spec can pin BOTH
    * that a skewed corpus picks salt > 1 AND that the output equals
    * the plain join.
    */
  private[graft] def adaptiveJoinKernel(o: DataFrame, l: DataFrame): (Long, DataFrame) = {
    val width = skewAuditOf(l, "lineitem", "l_orderkey")
      .where(col("rank") === 1).select(col("salt_rec")).head().getLong(0)
    val joined =
      if (width <= 1L)
        o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      else {
        val os = o.withColumn("salt",
          explode(expr(s"sequence(0L, ${width - 1}L)")))
        val ls = l.withColumn("salt", col("l_linenumber") % width)
        // hint("merge"): same pin as c87 — the strategy exists for the
        // no-broadcast regime; at fixture SF Spark would otherwise
        // broadcast the exploded thin side and the salt never reaches
        // an exchange.
        os.hint("merge").join(ls,
          col("o_orderkey") === col("l_orderkey") && os("salt") === ls("salt"))
      }
    (width, joined
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus"))
  }

  /** c87 — SALTED join, the skew-mitigation pattern as an operator
    * whose output provably equals the plain join: the many-rows-per-
    * key side (lineitem) takes a DETERMINISTIC salt
    * (l_linenumber % [[SaltWidth]] — data-derived, engine-identical,
    * never an RNG), the one-row-per-key side (orders) explodes ×S
    * over all salts, and the join key becomes (orderkey, salt) — a
    * hot key's rows now spread over S shuffle partitions instead of
    * hammering one. The oracle is the PLAIN join's aggregate, which
    * is the pattern's correctness contract: salting must change the
    * partitioning and nothing else.
    *
    * When to reach for it at 100 TB: AQE's skew-join split handles
    * skew it can SEE (post-shuffle partition sizes); salting is the
    * plan-level answer when one key exceeds what any single task can
    * hold even after splitting, or when the skew is in a grouping
    * key AQE doesn't rebalance. The ×S replication of the thin side
    * is the measured price.
    */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("salt", explode(expr(s"sequence(0, ${SaltWidth - 1})")))
    val l = Tables.t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        (col("l_linenumber") % SaltWidth).as("salt"))
    // hint("merge"): pins the SHUFFLE join the pattern exists for —
    // at fixture SF Spark would broadcast the exploded orders side and
    // the salt would never reach an exchange; at 100 TB neither fact
    // side broadcasts and this IS the strategy.
    o.hint("merge")
      .join(l, col("o_orderkey") === col("l_orderkey") && o("salt") === l("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Bucket count of the c88 co-located join tables. */
  private[graft] val BucketN = 8

  /** c88 — BUCKETED (co-located) join: both fact tables are written
    * ONCE as managed tables bucketed AND sorted by the join key
    * (`bucketBy(8, key).sortBy(key)`), and the join then runs with
    * ZERO exchanges and ZERO sorts on either side — bucket i joins
    * bucket i directly (PlanSpec pins the exchange-free plan). This
    * is the third co-location strategy the engine demonstrates
    * end-to-end, completing broadcast (b7: dim ≪ fact) and salting
    * (c87: skewed keys): bucketing pays the shuffle ONCE at write
    * time and amortizes it over every subsequent join/aggregation on
    * the bucket key — the layout a 100 TB fact table that is joined
    * daily should be stored in.
    *
    * The bucketed tables are session-catalog artifacts named from
    * [[graft.Memo.key]] over both input tables, so a regenerated corpus
    * gets fresh tables — `tableExists` gates the one-time write, and
    * the warehouse lives under the system tmpdir
    * ([[graft.Sessions.warehouseDir]]), never the repo. The oracle is the plain join aggregate: like c87, the
    * layout must change the plan, never the answer.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = graft.Memo.key(Seq("orders", "lineitem").map(Tables.path(sfDir, _)))
    val (to, tl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    if (!spark.catalog.tableExists(to)) {
      Tables.t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(BucketN, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(to)
      Tables.t(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.bucketBy(BucketN, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(tl)
    }
    // hint("merge"): a bucketed fact-fact join IS a sort-merge join —
    // that is what the sorted-bucket layout feeds exchange- and
    // sort-free. At fixture SF Spark would broadcast the small side
    // instead and the co-location would never engage.
    spark.table(to).hint("merge")
      .join(spark.table(tl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** b64 — TPC-H Q6 (forecasting revenue change): the pure
    * scan-and-aggregate query — one year of lineitem, a discount band
    * and a quantity cap, one conditional revenue sum. Deliberately
    * join-free: it isolates the scan path, so ALL three predicates
    * must reach the parquet reader (PushedFilters — pinned) and the
    * whole plan is one WholeStageCodegen span over one scan + a
    * 1-row partial/final aggregate; at 100 TB this query IS the
    * measured scan throughput. The discount band compares stored
    * doubles against the same literals in both engines — no
    * arithmetic before the comparison, so no FP divergence is
    * possible.
    */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** c102 bloom geometry: 256 bits (4 longs), 2 hash functions. */
  private[graft] val BloomBits = 256
  private[graft] val BloomWords = BloomBits / 64

  /** c102 — BLOOM-filter semi-join pruning (Bloom 1970 — public; the
    * runtime-filter pattern Spark injects natively when stats allow,
    * here built explicitly so the mechanism is visible and pinned):
    * the urgent-orders build side compresses its join-key set into a
    * [[BloomBits]]-bit filter (two salted xxhash64 hash functions,
    * `bit_or`-aggregated — associative, map-side combined); the
    * filter broadcasts as ONE 4-long row and prunes the lineitem
    * probe BEFORE the exchange; surviving rows (members + the bloom's
    * false positives) then join exactly, so the output provably
    * equals the plain join — the oracle IS the plain SQL, which is
    * the pattern's correctness contract (c87/c88's discipline applied
    * to the probe side).
    *
    * When to reach for it at 100 TB: the build side's key SET is too
    * big to broadcast (a broadcast hash join would OOM) but its BLOOM
    * fits in kilobytes — the probe shuffles only rows that can match,
    * cutting the exchange by ~the build's selectivity at a false-
    * positive cost this 256-bit demo geometry makes visible (m/n ≈
    * bits per key and k=2 set the fp rate; production sizes m from
    * the measured build count, the AQE-over-measured-sizes doctrine).
    */
  def bloomSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Hash functions are xxhash64 (codegen'd, integer-native) rather
    // than the md5→substring→conv string pipeline of earlier rounds:
    // the bloom's hashes are MECHANISM, not result — false positives
    // only decide which non-members survive to the exact join, and
    // the join restores the plain-join aggregate for ANY hash choice
    // (the oracle IS the plain SQL). Measured r18: the md5 form spent
    // ~5.5 s wall at sf0.1, almost all in per-row string hashing on
    // the 600k-row probe side (guide §1.2 per-task work).
    def h(pref: String, c: String) =
      s"pmod(xxhash64('$pref', $c), $BloomBits)"
    val build = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val wordAggs = (0 until BloomWords).map { wd =>
      expr(s"""bit_or(
        CASE WHEN h1 div 64 = $wd THEN shiftleft(1L, CAST(h1 % 64 AS INT)) ELSE 0L END |
        CASE WHEN h2 div 64 = $wd THEN shiftleft(1L, CAST(h2 % 64 AS INT)) ELSE 0L END)""")
        .as(s"w$wd")
    }
    val bloom = build
      .select(expr(h("bf1:", "o_orderkey")).as("h1"),
        expr(h("bf2:", "o_orderkey")).as("h2"))
      .agg(wordAggs.head, wordAggs.tail: _*)
    def member(hExpr: String) = {
      val word = s"CASE ($hExpr) div 64 WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END"
      s"($word & shiftleft(1L, CAST(($hExpr) % 64 AS INT))) != 0L"
    }
    val probe = Tables.t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .crossJoin(broadcast(bloom))
      .where(expr(member(h("bf1:", "l_orderkey"))) &&
        expr(member(h("bf2:", "l_orderkey"))))
    probe.join(build, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** b55 — arbitrary GROUPING SETS (the general form b19's rollup and
    * b20's cube are fixed lattices of): the four explicitly chosen
    * aggregation levels (status), (priority), (status, priority), ()
    * in ONE pass — Spark expands the sets into a single Expand +
    * hash-aggregate plan, reading the fact exactly once however many
    * levels are requested. Aggregated-away keys emit as the literal
    * `(all)` marker instead of engine-specific grouping_id bitmasks
    * (both columns are non-null in the data, so the COALESCE is
    * unambiguous and the output is engine-portable by construction).
    */
  def groupingSetsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val view = "graft_b55_orders"
    Tables.t(spark, sfDir, "orders").createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT coalesce(o_orderstatus, '(all)') AS status,
         |  coalesce(o_orderpriority, '(all)') AS priority,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
         |FROM $view
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
         |  (o_orderstatus, o_orderpriority), ())
         |ORDER BY status ASC NULLS FIRST, priority ASC NULLS FIRST""".stripMargin)
  }

  /** b31 — distinct union of two id universes (buyers ∪ event users). */
  def unionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val buyers = Tables.t(spark, sfDir, "orders").select(col("o_custkey").as("id"))
    val users = Tables.t(spark, sfDir, "events").select(col("user_id").as("id"))
    buyers.unionByName(users).distinct().orderBy("id")
  }

  /** b32 — INTERSECT: part keys that appear in lineitem ∩ large parts. */
  def intersectQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ordered = Tables.t(spark, sfDir, "lineitem").select(col("l_partkey").as("partkey"))
    val large = Tables.t(spark, sfDir, "part").where(col("p_size") >= 25)
      .select(col("p_partkey").as("partkey"))
    ordered.intersect(large).orderBy("partkey")
  }

  /** b33 — EXCEPT: customers that never ordered, as a set op (the
    * set-algebra twin of b9's outer-join formulation).
    */
  def exceptQ(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.t(spark, sfDir, "customer").select(col("c_custkey").as("custkey"))
    val buyers = Tables.t(spark, sfDir, "orders").select(col("o_custkey").as("custkey"))
    all.except(buyers).orderBy("custkey")
  }

  // --- c80: Z-order layout data-skipping audit ---------------------

  /** Key-space modulus, probe box, and block widths of the c80 audit.
    * The sx box sits at [4, 7] (not mirroring px's [64, 95]) so the
    * probe is non-vacuous at EVERY fixture SF — sf0.001 has only 10
    * suppliers, so sx never exceeds 10 there.
    */
  private[graft] val ZKeyMod = 256
  private[graft] val ZBoxLo = 64
  private[graft] val ZBoxHi = 95
  private[graft] val SxBoxLo = 4
  private[graft] val SxBoxHi = 7
  private[graft] val ZBlockDiv = 1024 // 64 z-blocks = 32×32 (px,sx) tiles
  private[graft] val LinBlockDiv = 4 // 64 px-ordered blocks

  /** The 16-bit Morton code of (px, sx): px on odd bits, sx on even —
    * pure integer div/mod arithmetic so the SAME formula (modulo the
    * engines' div spelling) evaluates identically in Spark and DuckDB.
    */
  private[graft] def zMortonExpr(divOp: String): String =
    (0 until 8).map { j =>
      val p = 1L << j
      s"((px $divOp $p) % 2) * ${1L << (2 * j + 1)} + ((sx $divOp $p) % 2) * ${1L << (2 * j)}"
    }.mkString(" + ")

  /** c80 — Z-ORDER clustering audit: measures, on real data, the
    * data-skipping win the Morton-interleaved layout (Delta/Iceberg
    * `OPTIMIZE ZORDER BY`; Morton 1966 — public) buys over a
    * single-key linear layout. Both layouts partition the SAME rows
    * into 64 blocks — `zorder` by the top 6 bits of the 16-bit Morton
    * code of (l_partkey mod 256, l_suppkey mod 256), `linear` by
    * px-range only — and both are probed with the same (px, sx) box
    * predicate through standard min/max block statistics (the parquet
    * rowgroup-pruning rule: a block is read iff its [min,max] ranges
    * intersect the box on EVERY probed column). Emits per layout:
    * blocks touched, rows scanned, and the scan amplification over
    * the exact match count.
    *
    * Why an audit instead of a write: the WRITE side of z-ordering is
    * one line on any engine — `repartitionByRange(z)` +
    * `sortWithinPartitions(z)` before the sink (the A6 connector seam
    * takes it unchanged) — while the VALUE is this measured skipping
    * ratio, which is what justifies paying the layout sort at 100 TB.
    * Block id = a z-PREFIX (`z div 1024`), not a global row_number —
    * no single-partition window anywhere (the c28 rule); the audit is
    * one scan + two block-sized (≤64-row) aggregates per layout.
    *
    * Expected contrast on uniform keys: the box's px span is exactly
    * one 32-aligned tile, so zorder touches ~1 block (the px-tile ×
    * the sx-tile containing [4, 7]) while linear touches all 8
    * px-blocks × the full sx range — a scan-amplification gap the
    * oracle verifies exactly, and the reason the layout sort is worth
    * paying at 100 TB.
    */
  /** The (px, sx) key stream feeding the c80/c95 layout audits. */
  private def skipRows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .select((col("l_partkey") % ZKeyMod).as("px"),
        (col("l_suppkey") % ZKeyMod).as("sx"))

  /** One layout's block-pruning audit over a keyed-row stream (shared
    * by c80's morton/linear rows and c95's hilbert row): per-block
    * min/max stats, the standard intersect rule, totals.
    */
  private def skipAudit(rows: DataFrame, name: String,
      blockExpr: String): DataFrame = {
    val touched = col("pmax") >= ZBoxLo && col("pmin") <= ZBoxHi &&
      col("smax") >= SxBoxLo && col("smin") <= SxBoxHi
    rows.withColumn("blk", expr(blockExpr))
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("n"), min(col("px")).as("pmin"),
        max(col("px")).as("pmax"), min(col("sx")).as("smin"),
        max(col("sx")).as("smax"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(touched, 1L).otherwise(0L)).as("blocks_touched"),
        sum(when(touched, col("n")).otherwise(0L)).as("rows_scanned"))
      .select(lit(name).as("layout"), col("n_blocks"),
        col("blocks_touched"), col("rows_scanned"))
  }

  /** Attach the exact-match denominator and the amplification ratio. */
  private def skipFinish(audits: DataFrame, rows: DataFrame): DataFrame = {
    val matching = rows
      .where(col("px").between(ZBoxLo, ZBoxHi) && col("sx").between(SxBoxLo, SxBoxHi))
      .agg(count(lit(1)).as("rows_matching"))
    audits.crossJoin(broadcast(matching))
      .select(col("layout"), col("n_blocks"), col("blocks_touched"),
        col("rows_scanned"), col("rows_matching"),
        when(col("rows_matching") > 0,
          round(col("rows_scanned").cast("double") / col("rows_matching"), 4))
          .as("scan_amplification"))
      .orderBy("layout")
  }

  def zorderSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = skipRows(spark, sfDir).withColumn("z", expr(zMortonExpr("div")))
    skipFinish(
      skipAudit(rows, "linear", s"px div $LinBlockDiv")
        .unionAll(skipAudit(rows, "zorder", s"z div $ZBlockDiv")),
      rows)
  }

  /** c95 — the HILBERT-curve counterpart of c80, closing the layout
    * family with the strictly-better-locality space-filling curve
    * (Hilbert 1891; the Layout.hilbertBy write path's index, here
    * oracle-verified cross-engine): consecutive Hilbert cells are
    * always grid neighbours (no Morton "seams"), and because 1024 =
    * 4^5, each `div 1024` block of the order-8 curve is EXACTLY one
    * aligned 32×32 subsquare — contiguous on disk AND compact in key
    * space, the property that keeps min/max pruning tight for box
    * probes at any alignment. Audited with c80's identical block
    * model and box so the two curves' numbers are directly
    * comparable.
    *
    * The index runs as [[Layout.hilbertKey]]'s constant-size runtime
    * fold on the Spark side; the DuckDB oracle unrolls the SAME
    * bit-level walk into machine-generated per-level CTEs from the
    * same constants (the c78 discipline — loop and SQL cannot
    * drift). DuckDB spells bitwise xor `xor()` (its `^` is
    * exponentiation — a silent wrong-answer trap the generator
    * encodes exactly once).
    */
  def hilbertSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    // The index runs as the UNROLLED flat-column walk (round 16:
    // Layout.hilbertLayers — plain-long CASEs whole-stage-codegen;
    // the HOF named_struct fold measured 6.1 cpu-s/6M rows and does
    // not), bit-identical to both the fold and the oracle's CTEs.
    val rows = Layout.withHilbertZ(
      skipRows(spark, sfDir)
        .withColumn("q1", col("px")).withColumn("q2", col("sx")),
      8, "z")
    skipFinish(skipAudit(rows, "hilbert", s"z div $ZBlockDiv"), rows)
  }

  /** The c95 oracle: unrolled Hilbert walk (h0..h8 CTEs) + the same
    * audit SQL as c80, all generated from shared constants.
    */
  private[graft] def hilbertOracleSql: String = {
    val bits = 8
    val nm1 = (1L << bits) - 1
    val levels = (1 to bits).map { i =>
      val s = 1L << (bits - i)
      val rx = s"CASE WHEN (x & $s) != 0 THEN 1 ELSE 0 END"
      val ry = s"CASE WHEN (y & $s) != 0 THEN 1 ELSE 0 END"
      s"""h$i AS (
         |  SELECT * REPLACE (
         |    CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN $nm1 - y ELSE y END
         |         ELSE x END AS x,
         |    CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN $nm1 - x ELSE x END
         |         ELSE y END AS y,
         |    d + ${1L << (2 * (bits - i))} * xor(3 * $rx, $ry) AS d)
         |  FROM h${i - 1}
         |)""".stripMargin
    }
    s"""WITH h0 AS (
       |  SELECT l_partkey % $ZKeyMod AS px, l_suppkey % $ZKeyMod AS sx,
       |    l_partkey % $ZKeyMod AS x, l_suppkey % $ZKeyMod AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem
       |), ${levels.mkString(", ")}, rows AS (
       |  SELECT px, sx, d AS z FROM h$bits
       |), matching AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS rows_matching FROM rows
       |  WHERE px BETWEEN $ZBoxLo AND $ZBoxHi AND sx BETWEEN $SxBoxLo AND $SxBoxHi
       |), audits AS (
       |  SELECT 'hilbert' AS layout, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |    CAST(SUM(CASE WHEN pmax >= $ZBoxLo AND pmin <= $ZBoxHi
       |                   AND smax >= $SxBoxLo AND smin <= $SxBoxHi
       |              THEN 1 ELSE 0 END) AS BIGINT) AS blocks_touched,
       |    CAST(SUM(CASE WHEN pmax >= $ZBoxLo AND pmin <= $ZBoxHi
       |                   AND smax >= $SxBoxLo AND smin <= $SxBoxHi
       |              THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
       |  FROM (
       |    SELECT z // $ZBlockDiv AS blk, COUNT(*) AS n, min(px) AS pmin,
       |      max(px) AS pmax, min(sx) AS smin, max(sx) AS smax
       |    FROM rows GROUP BY blk
       |  )
       |)
       |SELECT layout, n_blocks, blocks_touched, rows_scanned, rows_matching,
       |  CASE WHEN rows_matching > 0
       |       THEN ROUND(CAST(rows_scanned AS DOUBLE) / rows_matching, 4) END
       |    AS scan_amplification
       |FROM audits, matching
       |ORDER BY layout ASC NULLS FIRST""".stripMargin
  }

  /** The c80 oracle, generated from the same constants/Morton formula
    * as the Spark side (DuckDB spells integer division `//`).
    */
  private[graft] def zorderOracleSql: String = {
    def auditSql(name: String, blockExpr: String): String =
      s"""SELECT '$name' AS layout, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(CASE WHEN pmax >= $ZBoxLo AND pmin <= $ZBoxHi
         |                 AND smax >= $SxBoxLo AND smin <= $SxBoxHi
         |            THEN 1 ELSE 0 END) AS BIGINT) AS blocks_touched,
         |  CAST(SUM(CASE WHEN pmax >= $ZBoxLo AND pmin <= $ZBoxHi
         |                 AND smax >= $SxBoxLo AND smin <= $SxBoxHi
         |            THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
         |FROM (
         |  SELECT $blockExpr AS blk, COUNT(*) AS n, min(px) AS pmin,
         |    max(px) AS pmax, min(sx) AS smin, max(sx) AS smax
         |  FROM rows GROUP BY blk
         |)""".stripMargin
    s"""WITH rows AS (
       |  SELECT px, sx, ${zMortonExpr("//")} AS z
       |  FROM (SELECT l_partkey % $ZKeyMod AS px, l_suppkey % $ZKeyMod AS sx
       |        FROM lineitem)
       |), matching AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS rows_matching FROM rows
       |  WHERE px BETWEEN $ZBoxLo AND $ZBoxHi AND sx BETWEEN $SxBoxLo AND $SxBoxHi
       |), audits AS (
       |${auditSql("linear", s"px // $LinBlockDiv")}
       |UNION ALL
       |${auditSql("zorder", s"z // $ZBlockDiv")}
       |)
       |SELECT layout, n_blocks, blocks_touched, rows_scanned, rows_matching,
       |  CASE WHEN rows_matching > 0
       |       THEN ROUND(CAST(rows_scanned AS DOUBLE) / rows_matching, 4) END
       |    AS scan_amplification
       |FROM audits, matching
       |ORDER BY layout ASC NULLS FIRST""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "c80_zorder_skipping" -> (zorderSkipping(_, _)),
    "b16_q1_pricing_summary" -> (q1PricingSummary(_, _)),
    "b6_filter_complex" -> (filterComplex(_, _)),
    "b7_join_broadcast_dims" -> (joinBroadcastDims(_, _)),
    "b8_join_3way" -> (join3Way(_, _)),
    "b9_join_left_unmatched" -> (joinLeftUnmatched(_, _)),
    "b10_join_semi" -> (joinSemi(_, _)),
    "b11_join_anti" -> (joinAnti(_, _)),
    "b12_join_full" -> (joinFull(_, _)),
    "b17_count_distinct" -> (countDistinctQ(_, _)),
    "b18_approx_distinct" -> (approxDistinct(_, _)),
    "b50_approx_quantiles" -> (approxQuantiles(_, _)),
    "b19_rollup" -> (rollupQ(_, _)),
    "b20_cube" -> (cubeQ(_, _)),
    "b21_group_collect" -> (groupCollect(_, _)),
    "b22_stats_agg" -> (statsAgg(_, _)),
    "c39_zscore_outliers" -> (zscoreOutliers(_, _)),
    "b23_pivot" -> (pivotQ(_, _)),
    "b29_q3_topk_revenue" -> (q3TopkRevenue(_, _)),
    "b52_histogram" -> (histogramQ(_, _)),
    "c28_hist_quantiles" -> (histQuantiles(_, _)),
    "b31_union" -> (unionQ(_, _)),
    "b32_intersect" -> (intersectQ(_, _)),
    "b33_except" -> (exceptQ(_, _)),
    "b53_q5_local_supplier" -> (q5LocalSupplier(_, _)),
    "b54_q18_large_orders" -> (q18LargeOrders(_, _)),
    "b57_q4_order_priority" -> (q4OrderPriority(_, _)),
    "b58_q7_volume_shipping" -> (q7VolumeShipping(_, _)),
    "b59_q10_returned_revenue" -> (q10ReturnedRevenue(_, _)),
    "b60_q14_promo_revenue" -> (q14PromoRevenue(_, _)),
    "b61_q22_dormant_customers" -> (q22DormantCustomers(_, _)),
    "b63_unpivot" -> (unpivotMetrics(_, _)),
    "c101_kmv_distinct" -> (kmvDistinct(_, _)),
    "c102_bloom_semi_join" -> (bloomSemiJoin(_, _)),
    "b64_q6_forecast_revenue" -> (q6ForecastRevenue(_, _)),
    "c118_count_min_sketch" -> (countMinSketch(_, _)),
    "c119_hll_deterministic" -> (hllDeterministic(_, _)),
    "b55_grouping_sets" -> (groupingSetsQ(_, _)),
    "c95_hilbert_skipping" -> (hilbertSkipping(_, _)),
    "c86_incremental_agg" -> (incrementalAgg(_, _)),
    "c87_salted_join" -> (saltedJoin(_, _)),
    "c197_join_skew_audit" -> (joinSkewAudit(_, _)),
    "c200_skew_adaptive_join" -> (skewAdaptiveJoin(_, _)),
    "c88_bucketed_join" -> (bucketedJoin(_, _))
  )

  val oracle: Map[String, String] = oracleBase +
    // c86 must equal b16 EXACTLY — base ⊕ delta ≡ full recompute is
    // the key's whole claim, so they share one oracle text.
    ("c86_incremental_agg" -> oracleBase("b16_q1_pricing_summary"))

  /** Shared by c87/c88: the PLAIN join aggregate — the correctness
    * contract that salting/bucketing change the plan, not the answer.
    */
  private def plainJoinAggSql: String =
    s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin

  private def oracleBase: Map[String, String] = Map(
    "b55_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority), ())
        |ORDER BY status ASC NULLS FIRST, priority ASC NULLS FIRST""".stripMargin,

    "b64_q6_forecast_revenue" ->
      s"""SELECT ${oDsum("l_extendedprice * l_discount")} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,

    // The PLAIN filtered join — bloom pruning must change the probe
    // volume, never the answer (the c87/c88 contract, probe-side).
    "c102_bloom_semi_join" ->
      s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin,

    "c118_count_min_sketch" -> {
      def bucket(j: Int, c: String) =
        s"CAST(('0x' || substr(md5('cms$j:' || $c), 1, 8)) AS BIGINT) % $CmsWidth"
      val cellBranches = (0 until CmsDepth).map(j =>
        s"SELECT CAST($j AS BIGINT) AS j, ${bucket(j, "w")} AS b, w FROM toks")
        .mkString("\nUNION ALL\n")
      val probeBranches = (0 until CmsDepth).map(j =>
        s"SELECT w, exact, CAST($j AS BIGINT) AS j, ${bucket(j, "w")} AS b FROM evaltoks")
        .mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |), cells AS (
         |  SELECT j, b, COUNT(*) AS cnt FROM (
         |$cellBranches
         |  ) GROUP BY j, b
         |), evaltoks AS (
         |  SELECT w, COUNT(*) AS exact FROM toks GROUP BY w
         |  ORDER BY exact DESC NULLS LAST, w ASC NULLS FIRST LIMIT $CmsEvalK
         |), probes AS (
         |$probeBranches
         |)
         |SELECT w AS token, exact, MIN(cnt) AS cms_estimate,
         |  CAST(MIN(cnt) - exact AS BIGINT) AS overestimate
         |FROM probes JOIN cells USING (j, b)
         |GROUP BY w, exact
         |ORDER BY exact DESC NULLS LAST, token ASC NULLS FIRST""".stripMargin
    },

    "c119_hll_deterministic" -> {
      val cap = HllSuffixBits + 1
      val m = HllBuckets
      s"""WITH docs2 AS (
         |  SELECT lang, string_split(text, ' ') AS ws FROM documents
         |), items AS (
         |  SELECT lang, 'tokens' AS scope, unnest(ws) AS item FROM docs2
         |  UNION ALL
         |  SELECT lang, 'bigrams' AS scope,
         |    unnest(list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i + 1])) AS item
         |  FROM docs2 WHERE len(ws) >= 2
         |), parts AS (
         |  SELECT lang, scope,
         |    CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) // ${1L << HllSuffixBits} AS bkt,
         |    CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) % ${1L << HllSuffixBits} AS sfx
         |  FROM items
         |), regs AS (
         |  SELECT lang, scope, bkt,
         |    MAX(CASE WHEN sfx = 0 THEN $cap
         |             ELSE $cap - length(bin(sfx)) END) AS reg
         |  FROM parts GROUP BY lang, scope, bkt
         |), agg AS (
         |  SELECT lang, scope, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << ($cap - reg)) AS BIGINT) AS s_filled
         |  FROM regs GROUP BY lang, scope
         |), est AS (
         |  SELECT lang, scope, ($m - n_filled) AS v_empty,
         |    CAST($HllAlpha AS DOUBLE) * $m * $m * ${1L << cap}
         |      / (s_filled + ($m - n_filled) * ${1L << cap}) AS e_raw
         |  FROM agg
         |), exact AS (
         |  SELECT lang, scope, COUNT(DISTINCT item) AS n_exact
         |  FROM items GROUP BY lang, scope
         |)
         |SELECT exact.lang, exact.scope, n_exact,
         |  ROUND(CASE WHEN e_raw <= 160.0 AND v_empty > 0
         |    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / v_empty)
         |    ELSE e_raw END, 2) AS hll_estimate,
         |  ROUND(abs(CASE WHEN e_raw <= 160.0 AND v_empty > 0
         |    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / v_empty)
         |    ELSE e_raw END - n_exact) / n_exact, 4) AS rel_err
         |FROM exact JOIN est USING (lang, scope)
         |ORDER BY exact.lang ASC NULLS FIRST, exact.scope ASC NULLS FIRST""".stripMargin
    },

    "c101_kmv_distinct" ->
      s"""WITH hashed AS (
         |  SELECT DISTINCT lang,
         |    (CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |), kth AS (
         |  SELECT lang, u AS uk FROM (
         |    SELECT lang, u, CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY u ASC NULLS FIRST) AS BIGINT) AS rn
         |    FROM hashed
         |  ) WHERE rn = $KmvK
         |), exact AS (
         |  SELECT lang, COUNT(DISTINCT w) AS n_exact
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY lang
         |)
         |SELECT exact.lang, n_exact,
         |  ROUND(${KmvK - 1} / uk, 2) AS kmv_estimate,
         |  ROUND(abs(${KmvK - 1} / uk - n_exact) / n_exact, 4) AS rel_err
         |FROM exact LEFT JOIN kth ON exact.lang = kth.lang
         |ORDER BY exact.lang ASC NULLS FIRST""".stripMargin,

    "b63_unpivot" ->
      s"""SELECT * FROM (
         |  SELECT 'l_quantity' AS metric, COUNT(*) AS n,
         |    ${oDsum("l_quantity")} AS total FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice', COUNT(*), ${oDsum("l_extendedprice")}
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'l_discount', COUNT(*), ${oDsum("l_discount")} FROM lineitem
         |  UNION ALL
         |  SELECT 'l_tax', COUNT(*), ${oDsum("l_tax")} FROM lineitem
         |) ORDER BY metric ASC NULLS FIRST""".stripMargin,

    "b57_q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin,

    "b58_q7_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation ASC NULLS FIRST, cust_nation ASC NULLS FIRST,
         |  l_year ASC NULLS FIRST""".stripMargin,

    "b59_q10_returned_revenue" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-10-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC NULLS LAST, c_custkey ASC NULLS FIRST
         |LIMIT 20""".stripMargin,

    "b60_q14_promo_revenue" ->
      s"""SELECT
         |  ROUND(100.0 *
         |    ${oDsum("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} /
         |    ${oDsum("l_extendedprice * (1 - l_discount)")}, 4) AS promo_revenue_pct,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
         |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "b61_q22_dormant_customers" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  ${oDsum("c_acctbal")} AS total_bal
         |FROM customer
         |WHERE c_acctbal > (
         |    SELECT ${oDsum("c_acctbal")} / COUNT(c_acctbal)
         |    FROM customer WHERE c_acctbal > 0)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey
         |      AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin,

    "b54_q18_large_orders" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  ${oDsum("l_quantity")} AS total_qty
         |FROM customer, orders, lineitem
         |WHERE o_orderkey IN (
         |    SELECT l_orderkey FROM lineitem
         |    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
         |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate ASC NULLS FIRST,
         |  o_orderkey ASC NULLS FIRST
         |LIMIT 100""".stripMargin,

    "c87_salted_join" -> plainJoinAggSql,
    "c88_bucketed_join" -> plainJoinAggSql,
    // c200's contract IS c87's: the measurement-driven strategy pick
    // changes the partitioning and nothing else.
    "c200_skew_adaptive_join" -> plainJoinAggSql,

    // The c197 oracle replays per-key counts → totals → ranked top-3
    // → the shared integer salt rule for both audited keys.
    "c197_join_skew_audit" ->
      s"""WITH li AS (
         |  SELECT l_orderkey AS k, COUNT(*) AS nk FROM lineitem GROUP BY 1
         |), lt AS (
         |  SELECT COUNT(*) AS n_keys, CAST(SUM(nk) AS BIGINT) AS n_rows FROM li
         |), lh AS (
         |  SELECT k, nk, rnk FROM (
         |    SELECT k, nk, row_number() OVER (ORDER BY nk DESC NULLS LAST, k ASC) AS rnk FROM li
         |  ) WHERE rnk <= $SkewTopK
         |), ev AS (
         |  SELECT user_id AS k, COUNT(*) AS nk FROM events GROUP BY 1
         |), et AS (
         |  SELECT COUNT(*) AS n_keys, CAST(SUM(nk) AS BIGINT) AS n_rows FROM ev
         |), eh AS (
         |  SELECT k, nk, rnk FROM (
         |    SELECT k, nk, row_number() OVER (ORDER BY nk DESC NULLS LAST, k ASC) AS rnk FROM ev
         |  ) WHERE rnk <= $SkewTopK
         |)
         |SELECT * FROM (
         |  SELECT 'lineitem' AS tbl, 'l_orderkey' AS key_col,
         |    CAST(rnk AS BIGINT) AS rank, k AS hot_key, nk AS n_rows_key,
         |    n_rows, n_keys,
         |    ROUND(CAST(nk AS DOUBLE) * n_keys / n_rows, 4) AS skew_x,
         |    CAST(1 + len(list_filter(range(1, $SkewSaltCap),
 |      s -> CAST(s AS HUGEINT) * n_rows < CAST(nk AS HUGEINT) * n_keys)) AS BIGINT) AS salt_rec
         |  FROM lh CROSS JOIN lt
         |  UNION ALL
         |  SELECT 'events' AS tbl, 'user_id' AS key_col,
         |    CAST(rnk AS BIGINT) AS rank, k AS hot_key, nk AS n_rows_key,
         |    n_rows, n_keys,
         |    ROUND(CAST(nk AS DOUBLE) * n_keys / n_rows, 4) AS skew_x,
         |    CAST(1 + len(list_filter(range(1, $SkewSaltCap),
 |      s -> CAST(s AS HUGEINT) * n_rows < CAST(nk AS HUGEINT) * n_keys)) AS BIGINT) AS salt_rec
         |  FROM eh CROSS JOIN et
         |)
         |ORDER BY tbl ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "b53_q5_local_supplier" ->
      s"""SELECT n_name,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS FIRST""".stripMargin,

    "c80_zorder_skipping" -> zorderOracleSql,
    "c95_hilbert_skipping" -> hilbertOracleSql,

    "b16_q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${oDsum("l_quantity")} AS sum_qty,
         |  ${oDsum("l_extendedprice")} AS sum_base_price,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${oDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${oDavg("l_quantity")} AS avg_qty,
         |  ${oDavg("l_extendedprice")} AS avg_price,
         |  ${oDavg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "b6_filter_complex" ->
      """SELECT * FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
        |  AND o_orderstatus IN ('O', 'F')
        |  AND o_totalprice BETWEEN 10000 AND 200000
        |  AND o_orderpriority LIKE '%-%'
        |  AND o_orderpriority NOT LIKE '5%'
        |  AND o_custkey IS NOT NULL
        |  AND (o_orderstatus = 'F' OR o_totalprice > 150000)
        |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin,

    "b7_join_broadcast_dims" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_customers,
         |  ${oDsum("c_acctbal")} AS total_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "b8_join_3way" ->
      s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_items,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY c_mktsegment, o_orderpriority
         |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "b9_join_left_unmatched" ->
      """SELECT c_custkey, c_name
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IS NULL
        |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin,

    "b10_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin,

    "b11_join_anti" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey ASC NULLS FIRST""".stripMargin,

    "b12_join_full" ->
      """SELECT COALESCE(p_partkey, l_partkey) AS partkey,
        |  p_partkey IS NOT NULL AS in_catalog,
        |  COALESCE(li_rows, 0) AS li_rows
        |FROM part
        |FULL OUTER JOIN (SELECT l_partkey, COUNT(*) AS li_rows
        |                 FROM lineitem GROUP BY l_partkey) li
        |  ON p_partkey = l_partkey
        |ORDER BY partkey ASC NULLS FIRST""".stripMargin,

    "b17_count_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
        |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey, l_suppkey
        |                         FROM lineitem)) AS distinct_part_supp,
        |  COUNT(*) AS total_rows
        |FROM lineitem""".stripMargin,

    // b18/b50 (r17 verdict item 6): the hashed rows carry only
    // cross-engine-derivable content — exact counts/percentiles plus
    // the within-bound verdicts, which the oracle pins as literal
    // TRUE: a sketch drifting out of bound fails the hash gate.
    "b18_approx_distinct" ->
      """SELECT COUNT(*) AS total_rows,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_bound, TRUE AS orders_within_bound
        |FROM lineitem""".stripMargin,

    "b50_approx_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50_price,
        |  ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4) AS p95_price,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25_qty,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75_qty,
        |  TRUE AS p50_within_bound, TRUE AS p95_within_bound,
        |  TRUE AS p25_within_bound, TRUE AS p75_within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin,

    "b19_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${oDsum("o_totalprice")} AS total_price,
         |  GROUPING(o_orderstatus, o_orderpriority) AS gid
         |FROM orders
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY gid ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "b20_cube" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${oDsum("l_quantity")} AS sum_qty,
         |  GROUPING(l_returnflag, l_linestatus) AS gid
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid ASC NULLS FIRST, l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "b21_group_collect" ->
      """SELECT n_name,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments,
        |  COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS FIRST""".stripMargin,

    "b22_stats_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(stddev_samp(value), 4) AS sd_value,
        |  ROUND(var_samp(value), 4) AS var_value,
        |  ROUND(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
        |  ROUND(median(value), 4) AS median_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "c39_zscore_outliers" ->
      s"""WITH stats AS (
         |  SELECT event_type AS et,
         |    ${oDsum("value")} / COUNT(value) AS mu,
         |    ${oDsum("value * value")} / COUNT(value) AS m2
         |  FROM events GROUP BY event_type
         |), scored AS (
         |  SELECT e.event_type,
         |    ROUND(abs(e.value - s.mu) / greatest(sqrt(s.m2 - s.mu * s.mu), 1e-12), 4) AS az
         |  FROM events e JOIN stats s ON e.event_type = s.et
         |)
         |SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(CASE WHEN az > 3.0 THEN 1 END) AS n_outliers,
         |  MAX(az) AS max_abs_z
         |FROM scored
         |GROUP BY event_type
         |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "b23_pivot" -> {
      val cases = (0 to 19).map(i =>
        s"COUNT(CASE WHEN source = 'src$i' THEN 1 END) AS src$i").mkString(",\n  ")
      s"""SELECT lang,
         |  $cases
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang ASC NULLS FIRST""".stripMargin
    },

    "b29_q3_topk_revenue" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC NULLS LAST, l_orderkey ASC NULLS FIRST
         |LIMIT 10""".stripMargin,

    "c28_hist_quantiles" ->
      s"""WITH bounds AS (
         |  SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi,
         |    COUNT(*) AS n
         |  FROM events
         |), bins AS (
         |  SELECT least(CAST(floor((CAST(value AS DOUBLE) - lo) / (hi - lo + 1e-12) * $HqBins)
         |    AS BIGINT), ${HqBins - 1}) AS bin, COUNT(*) AS cnt
         |  FROM events, bounds GROUP BY 1
         |), cumbins AS (
         |  SELECT a.bin, a.cnt, CAST(SUM(b.cnt) AS BIGINT) AS cum
         |  FROM bins a JOIN bins b ON b.bin <= a.bin GROUP BY a.bin, a.cnt
         |), qs AS (
         |  SELECT CAST(q AS DOUBLE) AS q FROM (VALUES ${HqQs.map("(" + _ + ")").mkString(", ")}) t(q)
         |)
         |SELECT q, n,
         |  ROUND(lo + (hi - lo + 1e-12) / $HqBins *
         |    (bin + (q * n - CAST(cum - cnt AS DOUBLE)) / cnt), 4) AS est
         |FROM (
         |  SELECT q, min_by(bin, bin) AS bin, min_by(cnt, bin) AS cnt, min_by(cum, bin) AS cum,
         |    first(lo) AS lo, first(hi) AS hi, first(n) AS n
         |  FROM qs, cumbins, bounds
         |  WHERE CAST(cum AS DOUBLE) >= q * n
         |  GROUP BY q
         |)
         |ORDER BY q ASC NULLS FIRST""".stripMargin,

    "b52_histogram" ->
      """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
        |SELECT bin, COUNT(*) AS n,
        |  ROUND(lo + bin * (hi - lo) / 20, 4) AS bin_lo
        |FROM (
        |  SELECT least(CAST(floor((value - lo) / (hi - lo + 1e-12) * 20) AS BIGINT), 19) AS bin,
        |    lo, hi
        |  FROM events, b)
        |GROUP BY bin, lo, hi
        |ORDER BY bin ASC NULLS FIRST""".stripMargin,

    "b31_union" ->
      """SELECT DISTINCT id FROM (
        |  SELECT o_custkey AS id FROM orders
        |  UNION ALL
        |  SELECT user_id AS id FROM events
        |) ORDER BY id ASC NULLS FIRST""".stripMargin,

    "b32_intersect" ->
      """SELECT l_partkey AS partkey FROM lineitem
        |INTERSECT
        |SELECT p_partkey AS partkey FROM part WHERE p_size >= 25
        |ORDER BY partkey ASC NULLS FIRST""".stripMargin,

    "b33_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey ASC NULLS FIRST""".stripMargin
  )
}
