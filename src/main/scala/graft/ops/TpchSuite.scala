package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Canon.{dsum, oDsum, r4}

/** TPC-H completion (round 11): the 12 queries the suite still
  * lacked — Q2, Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q17, Q19, Q20, Q21
  * — closing the full 22-query surface (Q1=b16, Q3=b29, Q4=b57,
  * Q5=b53, Q6=b64, Q7=b58, Q10=b59, Q14=b60, Q18=b54, Q22=b61 were
  * already shipped). The TPC-H specification is public (tpc.org);
  * every query here is re-derived from its published English
  * description against THIS fixture's columns.
  *
  * Fixture adaptations (documented per query): the driver schema
  * carries no `partsupp` table and no `l_shipmode` /
  * `l_commitdate` / `l_receiptdate` / `p_container` columns, so
  *  - supply offers (Q2/Q20's partsupp role) derive from lineitem —
  *    the (part, supplier) pairs that actually traded, with unit
  *    price standing in for supply cost;
  *  - lateness (Q12/Q21's receipt-vs-commit) is `l_shipdate >
  *    o_orderdate + 60 days`, the b57 convention;
  *  - container/comment filters map onto p_type / p_size /
  *    o_orderpriority classes.
  * The SHAPES under test — correlated minima, scalar-subquery
  * thresholds, conditional-aggregate pivots, distribution
  * histograms, double-EXISTS — are the specification's, unchanged.
  *
  * Determinism: sums ride the decimal canon ([[graft.Canon.dsum]]);
  * raw double quotients/products are emitted UNROUNDED where both
  * engines compute them from identical operands with single IEEE
  * ops (bit-identical by construction — rounding would only
  * INTRODUCE midpoint-tie hazards, the c54/c60 class); ratios of
  * two exact sums round at 1e-4 per the canon's tolerance rule.
  */
object TpchSuite {

  type Q = (SparkSession, String) => DataFrame

  /** b65 — TPC-H Q2 (minimum-cost supplier): for each qualifying
    * part, the EUROPE supplier(s) quoting the minimum unit cost —
    * the correlated-scalar-subquery query (`cost = (SELECT min …)`).
    * Offers derive from lineitem: per (part, supplier) the minimum
    * traded unit price (no partsupp ships in this schema).
    *
    * Shape at 100 TB: offers are ONE map-side-combined aggregate of
    * lineitem; region⋈nation⋈supplier collapses to a broadcast dim;
    * the correlated min is a second (part-keyed) aggregate of the
    * already-filtered offers joined back by (part, cost) — the
    * standard decorrelation Spark's optimizer applies to the scalar
    * subquery, written directly. The double-equality join is exact:
    * both sides are the SAME IEEE quotient, min is selection (never
    * arithmetic), so `unit_cost = min_cost` is bit-deterministic.
    */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val offers = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val euro = Tables.t(spark, sfDir, "supplier")
      .join(Tables.t(spark, sfDir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.t(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = Tables.t(spark, sfDir, "part")
      .where(col("p_type") === "LARGE" && col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    val offered = offers
      .join(broadcast(euro), col("sk") === col("s_suppkey"))
      .join(parts, col("pk") === col("p_partkey"))
    val minCost = offered.groupBy(col("pk").as("mpk"))
      .agg(min(col("unit_cost")).as("min_cost"))
    offered.join(minCost,
        col("pk") === col("mpk") && col("unit_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("unit_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** b66 — TPC-H Q8 (national market share): NATION_5's share of the
    * AMERICA market's ECONOMY-part import volume, by order year —
    * the conditional-aggregate RATIO over the longest join chain in
    * the suite (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on
    * the demand side, supplier ⋈ nation on the supply side, part on
    * the goods side). Both nation legs and region broadcast; the
    * share is one pass: sum(case supplier-nation then v)/sum(v),
    * two exact decimal sums per year, quotient rounded at the
    * canon's 1e-4 ratio tolerance.
    */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val demand = Tables.t(spark, sfDir, "nation")
      .join(Tables.t(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "AMERICA")
      .select(col("n_nationkey").as("cnk"))
    val suppNat = Tables.t(spark, sfDir, "nation")
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val o = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "part").where(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(demand), col("c_nationkey") === col("cnk"))
      .join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNat), col("s_nationkey") === col("snk"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(r4(
        dsum(when(col("supp_nation") === "NATION_5", col("volume")).otherwise(0.0)) /
          dsum(col("volume"))).as("mkt_share"))
      .orderBy("o_year")
  }

  /** b67 — TPC-H Q9 (product-type profit): profit on 'gear' parts
    * per supplier nation per order year. Supply cost (partsupp's
    * role) is the documented stand-in 0.6 × p_retailprice, so
    * profit = l_extendedprice·(1−l_discount) − 0.6·p_retailprice·
    * l_quantity — each term a product of stored doubles, identical
    * IEEE in both engines, summed under the decimal canon. The
    * LIKE-on-p_name filter prunes part before the fact join; nation
    * broadcasts; one shuffle pair (lineitem⋈orders on orderkey)
    * carries the year.
    */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "part").where(col("p_name").contains("gear")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.t(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity")).as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(dsum(col("amount")).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)

  /** b68 — TPC-H Q11 (important stock): parts whose traded value
    * through NATION_3's suppliers exceeds a GLOBAL threshold — the
    * scalar-subquery-threshold query. The spec's fixed fraction is
    * deliberately replaced by a scale-invariant one (2× the mean
    * per-part value): TPC-H itself divides its fraction by SF
    * because a fixed fraction empties the result as the corpus
    * grows — the mean-multiple form needs no such knob at 100 TB.
    * Shape: one (part)-keyed decimal aggregate of the nation's
    * lines, eagerly `localCheckpoint`ed (the c21/c35 lineage-cut
    * idiom) so BOTH consumers — the 1-row threshold aggregate and
    * the filter — read the materialized group table: one fact pass
    * stays structural AND the threshold is a broadcast 1-row
    * aggregate instead of the round-11 partition-less window over
    * the part-count-sized group table (billions of rows through one
    * window task at TPC-H 100 TB — the §5.3 rule 9 class this
    * round retired). The naive two-branch form WITHOUT the
    * checkpoint re-aggregates the fact table twice — AQE cannot
    * stage-reuse the branches because the outer join's inferred
    * not-null constraint lands in only one branch's scan, breaking
    * canonical equality (measured round 11; pinned in PlanSpec).
    *
    * localCheckpoint COSTS, priced deliberately (round-12 ADVICE):
    * (1) eager — a Spark job runs at DataFrame-CONSTRUCTION time, so
    * building this query does the group-table work even if the result
    * is never executed (acceptable: both mains construct-then-execute
    * immediately); (2) non-fault-tolerant — blocks live on executor
    * local storage, so an executor loss AFTER materialization fails
    * the query instead of recomputing, a real availability trade at
    * 1000 executors. `persist(MEMORY_AND_DISK)` would fix (2) with
    * recomputable lineage BUT its cache entry lives in the session
    * CacheManager keyed by plan and is never reaped — each of the
    * repeated constructions in a 246-key bench/verify session would
    * leak one cached group table, where checkpoint blocks are
    * ContextCleaner-reaped with the RDD. A long-lived production
    * deployment should use a RELIABLE `checkpoint()` (HDFS/S3 dir):
    * same lineage cut, survives executor loss, storage-reaped.
    */
  def q11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    val natSupp = Tables.t(spark, sfDir, "supplier")
      .join(broadcast(Tables.t(spark, sfDir, "nation")
        .where(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val grouped = Tables.t(spark, sfDir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(dsum(col("l_extendedprice")).as("value"))
      .localCheckpoint(true)
    val thr = grouped.agg(
      (lit(2.0) * dsum(col("value")) / count(lit(1))).as("thr"))
    grouped.crossJoin(broadcast(thr))
      .where(col("value") > col("thr"))
      .select(col("p_partkey"), col("value"))
      .orderBy(col("value").desc, col("p_partkey").asc)
      .limit(100)
  }

  /** b69 — TPC-H Q12 (shipping modes and order priority): per
    * "mode", how many critical vs non-critical orders shipped LATE
    * in 1997 — the two-bucket conditional-aggregate pivot. The
    * schema has no l_shipmode, so l_returnflag is the stand-in mode
    * dimension; lateness is the b57 convention (shipped > 60 days
    * after the order date). One join, one grouped pass, two
    * conditional counts — the map-side-combined shape that holds at
    * any scale.
    */
  def q12LateByMode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")

  /** b70 — TPC-H Q13 (customer order-count distribution): the
    * histogram of customers by how many qualifying orders they
    * placed — the LEFT-join-then-double-aggregate query, and the one
    * whose first group-by key is an AGGREGATE of the join (customers
    * with zero orders must survive to the c_count=0 bucket, which
    * is exactly what the left join is for). Priority class
    * '4-NOT SPECIFIED' stands in for the spec's comment-pattern
    * exclusion. Two shuffles total: custkey (join + first agg ride
    * the same partitioning), then the group-count-sized histogram.
    */
  def q13OrderCountDist(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.t(spark, sfDir, "orders")
      .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.t(spark, sfDir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** b71 — TPC-H Q15 (top supplier): the supplier(s) achieving the
    * maximum quarterly revenue — the view-plus-scalar-max query. The
    * revenue "view" is one supplier-keyed decimal aggregate, eagerly
    * `localCheckpoint`ed (b68's rationale verbatim — including its
    * "localCheckpoint COSTS" paragraph: eager construction-time job,
    * executor-loss non-recoverability, and why persist/reliable
    * checkpoint are the alternatives — one fact pass
    * structural, and the scalar max becomes a broadcast 1-row
    * aggregate on the materialized view instead of the round-11
    * partition-less window over the supplier-count-sized result);
    * the `revenue = max` equality is exact because both sides are
    * the same canon-exact double. Ties (multiple suppliers at the
    * max) are emitted, per the spec.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val grouped = Tables.t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
      .localCheckpoint(true)
    val mx = grouped.agg(max(col("total_revenue")).as("max_revenue"))
    grouped.crossJoin(broadcast(mx))
      .where(col("total_revenue") === col("max_revenue"))
      .join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** b72 — TPC-H Q16 (parts/supplier relationship): how many
    * distinct suppliers can deliver each qualifying part class,
    * excluding blacklisted suppliers — the NOT-IN-subquery query.
    * The (part, supplier) relation derives from lineitem (no
    * partsupp); the "customer complaints" blacklist is the
    * s_acctbal < 0 suppliers, excluded with a broadcast LEFT-ANTI
    * join (the row-explosion-proof NOT IN: null-safe here because
    * keys are non-null fixture longs). count(DISTINCT) runs per
    * 3-attribute class with the relation pre-deduplicated map-side.
    */
  def q16SupplierRelationship(spark: SparkSession, sfDir: String): DataFrame = {
    val blacklist = Tables.t(spark, sfDir, "supplier")
      .where(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_sk"))
    val rel = Tables.t(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(blacklist), col("l_suppkey") === col("bad_sk"), "left_anti")
    rel.join(Tables.t(spark, sfDir, "part")
        .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  /** b73 — TPC-H Q17 (small-quantity-order revenue): revenue lost if
    * small orders (below 20% of a part's average order quantity) of
    * Brand#3 SMALL parts were no longer taken — the correlated
    * per-part AVG subquery. Decorrelated: the per-part average is
    * one aggregate of lineitem restricted BY THE PART FILTER (the
    * pushdown TPC-H planners prove; here it is explicit), joined
    * back to the same filtered lines; the output is one row,
    * `yearly = sum/7` as a single IEEE division of the canon-exact
    * sum (7 full years span the fixture's 1995-2001 ship dates).
    */
  def q17SmallQuantityRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.t(spark, sfDir, "part")
      .where(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
      .select(col("p_partkey"))
    val li = Tables.t(spark, sfDir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("p_partkey").as("apk"))
      .agg((lit(0.2) *
        (dsum(col("l_quantity")) / count(lit(1)))).as("qty_cut"))
    li.join(avgQty, col("p_partkey") === col("apk"))
      .where(col("l_quantity") < col("qty_cut"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  /** b74 — TPC-H Q19 (discounted revenue, disjunctive predicates):
    * one revenue sum under an OR of three conjunctive
    * brand/size/quantity clauses — the query that stresses
    * disjunction handling in scan pruning and join residuals. The
    * disjunction spans both tables (brand/size on part, quantity on
    * lineitem), so it runs as ONE residual on the partkey join —
    * never three unioned scans; per-table prefixes of the
    * disjunction (brand ∈ {…}, size ≤ 15, qty ≤ 30) are pushed as
    * scan filters since each clause implies them.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.t(spark, sfDir, "part")
      .where(col("p_brand").isin("Brand#11", "Brand#22", "Brand#5") &&
        col("p_size") <= 15)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.t(spark, sfDir, "lineitem")
      .where(col("l_quantity") <= 30)
      .join(p, col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#5" && col("p_size").between(5, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_rows"))
  }

  /** b75 — TPC-H Q20 (potential part promotion): suppliers whose
    * 1997 shipments of 'blue' parts exceed 20% of their all-time
    * volume in those parts — the nested-IN-subqueries query (the
    * fixture's ship dates spread uniformly over 1995–2001, so a
    * single year averages ~14% of a supplier's volume and the 20%
    * bar selects the genuinely 1997-heavy tail; the spec's 50%
    * against availqty has no partsupp to read). The
    * spec's availqty-vs-half-shipped test has no partsupp here, so
    * the stand-in compares the year's flow against the supplier's
    * own history — same nesting, same semantics class (a per-
    * (supplier) threshold derived from an aggregate of the same
    * fact table). Spark-first decorrelation: BOTH aggregates ride
    * ONE conditional-aggregate pass over the part-filtered lines
    * (sum(case year) vs sum(all)) — the two nested subqueries cost
    * one map-side-combined scan, then a broadcast semi-join
    * decorates the survivors.
    */
  def q20ExcessShippers(spark: SparkSession, sfDir: String): DataFrame = {
    val blueParts = Tables.t(spark, sfDir, "part")
      .where(col("p_name").startsWith("blue")).select(col("p_partkey"))
    val flows = Tables.t(spark, sfDir, "lineitem")
      .join(broadcast(blueParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        dsum(when(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"), col("l_quantity"))
          .otherwise(lit(0))).as("qty_1997"),
        dsum(col("l_quantity")).as("qty_all"))
      .where(col("qty_1997") > lit(0.2) * col("qty_all"))
    flows.join(Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("s_acctbal"), col("qty_1997"), col("qty_all"))
      .orderBy("s_name")
  }

  /** b76 — TPC-H Q21 (suppliers who kept orders waiting): per
    * supplier, the finalized multi-supplier orders where THEY were
    * the only late shipper — the double-correlated-EXISTS query
    * (EXISTS another supplier's line, NOT EXISTS another supplier's
    * LATE line). Spark-first formulation: one order-keyed aggregate
    * computes n_suppliers and the distinct LATE suppliers per order
    * (count + max over a when-projected column); qualifying orders
    * (≥ 2 suppliers, exactly 1 late) then attribute their single
    * late supplier — the pair of correlated EXISTS becomes ONE
    * grouped pass plus a group-sized join, the shape that survives
    * 100 TB where per-row subquery probes cannot. Lateness is the
    * b57 convention; 'F' restricts to finalized orders.
    */
  def q21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "orders").where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    val perOrder = lines.groupBy(col("ok"))
      .agg(countDistinct(col("sk")).as("n_supp"),
        countDistinct(when(col("late"), col("sk"))).as("n_late_supp"),
        max(when(col("late"), col("sk"))).as("late_sk"))
      .where(col("n_supp") >= 2 && col("n_late_supp") === 1)
    perOrder
      .join(Tables.t(spark, sfDir, "supplier"),
        col("late_sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  val queries: Map[String, Q] = Map(
    "b65_q2_min_cost_supplier" -> (q2MinCostSupplier(_, _)),
    "b66_q8_market_share" -> (q8MarketShare(_, _)),
    "b67_q9_product_profit" -> (q9ProductProfit(_, _)),
    "b68_q11_important_stock" -> (q11ImportantStock(_, _)),
    "b69_q12_late_by_mode" -> (q12LateByMode(_, _)),
    "b70_q13_order_count_dist" -> (q13OrderCountDist(_, _)),
    "b71_q15_top_supplier" -> (q15TopSupplier(_, _)),
    "b72_q16_supplier_relationship" -> (q16SupplierRelationship(_, _)),
    "b73_q17_small_quantity_revenue" -> (q17SmallQuantityRevenue(_, _)),
    "b74_q19_disjunctive_revenue" -> (q19DisjunctiveRevenue(_, _)),
    "b75_q20_excess_shippers" -> (q20ExcessShippers(_, _)),
    "b76_q21_waiting_suppliers" -> (q21WaitingSuppliers(_, _))
  )

  val oracle: Map[String, String] = Map(
    "b65_q2_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2
        |), euro AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |), offered AS (
        |  SELECT * FROM offers
        |  JOIN euro ON sk = s_suppkey
        |  JOIN part ON pk = p_partkey
        |  WHERE p_type = 'LARGE' AND p_size <= 5
        |), mc AS (
        |  SELECT pk AS mpk, MIN(unit_cost) AS min_cost FROM offered GROUP BY 1
        |)
        |SELECT s_acctbal, s_name, n_name, pk AS p_partkey, p_name, unit_cost
        |FROM offered JOIN mc ON pk = mpk AND unit_cost = min_cost
        |ORDER BY s_acctbal DESC NULLS LAST, n_name ASC NULLS FIRST,
        |  s_name ASC NULLS FIRST, p_partkey ASC NULLS FIRST
        |LIMIT 100""".stripMargin,

    "b66_q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  ROUND(
         |    ${oDsum("CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
         |    / ${oDsum("l_extendedprice * (1 - l_discount)")}, 4) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1
         |ORDER BY o_year ASC NULLS FIRST""".stripMargin,

    "b67_q9_product_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  ${oDsum("l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY nation ASC NULLS FIRST, o_year DESC NULLS LAST""".stripMargin,

    "b68_q11_important_stock" ->
      s"""WITH pp AS (
         |  SELECT l_partkey AS p_partkey, ${oDsum("l_extendedprice")} AS value
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
         |  GROUP BY 1
         |)
         |SELECT p_partkey, value FROM pp
         |WHERE value > (
         |  SELECT 2.0 * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
         |  FROM pp)
         |ORDER BY value DESC NULLS LAST, p_partkey ASC NULLS FIRST
         |LIMIT 100""".stripMargin,

    "b69_q12_late_by_mode" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin,

    "b70_q13_order_count_dist" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1
        |)
        |GROUP BY 1
        |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin,

    "b71_q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${oDsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1
         |)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey ASC NULLS FIRST""".stripMargin,

    "b72_q16_supplier_relationship" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC NULLS LAST, p_brand ASC NULLS FIRST,
        |  p_type ASC NULLS FIRST, p_size ASC NULLS FIRST""".stripMargin,

    "b73_q17_small_quantity_revenue" ->
      s"""WITH li AS (
         |  SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
         |), cuts AS (
         |  SELECT l_partkey AS apk,
         |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
         |           / COUNT(*)) AS qty_cut
         |  FROM li GROUP BY 1
         |)
         |SELECT ${oDsum("l_extendedprice")} / 7.0 AS avg_yearly,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM li JOIN cuts ON l_partkey = apk
         |WHERE l_quantity < qty_cut""".stripMargin,

    "b74_q19_disjunctive_revenue" ->
      s"""SELECT ${oDsum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 5 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "b75_q20_excess_shippers" ->
      """WITH flows AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01'
        |        THEN CAST(l_quantity AS DECIMAL(38,6))
        |        ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_1997,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_all
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'blue%'
        |  GROUP BY 1
        |)
        |SELECT s_name, s_acctbal, qty_1997, qty_all
        |FROM flows JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty_1997 > 0.2 * qty_all
        |ORDER BY s_name ASC NULLS FIRST""".stripMargin,

    "b76_q21_waiting_suppliers" ->
      """WITH lines AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |), per_order AS (
        |  SELECT ok, COUNT(DISTINCT sk) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN late THEN sk END) AS n_late_supp,
        |    MAX(CASE WHEN late THEN sk END) AS late_sk
        |  FROM lines GROUP BY 1
        |)
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM per_order
        |JOIN supplier ON late_sk = s_suppkey
        |WHERE n_supp >= 2 AND n_late_supp = 1
        |GROUP BY 1
        |ORDER BY numwait DESC NULLS LAST, s_name ASC NULLS FIRST
        |LIMIT 100""".stripMargin
  )
}
