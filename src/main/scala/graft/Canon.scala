package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{ExactSum6, Kernels, Md5Prefix}

/** Determinism canon (SURVEY §5.3): helpers that make Spark results
  * hash-match an independent DuckDB run of the equivalent SQL.
  *
  * Core rule: never emit an order-dependent double aggregate. Double
  * addition is non-associative and Spark's partial/final aggregation
  * order differs from DuckDB's single-node order — and from itself at
  * a different partition count, which also matters at 100 TB where
  * partition counts are 1000×. Sums therefore go through exact
  * DECIMAL(38,6) arithmetic and only then back to double; ratios are
  * rounded to a tolerance far above accumulated FP noise.
  *
  * Both canon primitives run on native longs, with values identical to
  * their Spark SQL definitions: every DECIMAL(38,6) sum is
  * [[exactSum]] (the `graft.functions.ExactSum6` kernel) and every md5
  * hex-prefix integer is [[md5Prefix]] (`graft.functions.Md5Prefix`).
  * No operator spells either one out.
  */
object Canon {

  /** Canonical global sort behind a MATERIALIZATION BARRIER (r18
    * optimization round, guide §2.4/§3.3): a bare `orderBy` plans a
    * RangePartitioning exchange whose partition-bound sampling pass
    * executes the ENTIRE unshuffled child chain once and the shuffle
    * itself executes it again — for a query that is one heavy
    * projection over a scan (fingerprints, regex redaction, JSON
    * parses) the whole query runs twice (measured: c17's warm sort
    * 1.60 s vs 0.87 s behind the barrier at sf0.1). The hash
    * repartition on the leading sort column materializes the chain
    * once; the range sampling then reads shuffle output instead of
    * recomputing. Scale story: the barrier adds one OUTPUT-sized
    * hash exchange (AQE-coalesced) and removes a full recompute of
    * the chain — at 100 TB the recompute includes the corpus scan,
    * which is strictly more expensive than re-shuffling the (usually
    * narrower) output. Apply to sorts whose child has no exchange of
    * its own; a sort directly above an aggregation re-samples only
    * the cheap post-shuffle stage and does not need this.
    */
  def barrierSort(df: org.apache.spark.sql.DataFrame, keys: String*)
      : org.apache.spark.sql.DataFrame =
    df.repartition(col(keys.head)).orderBy(keys.map(col): _*)

  /** `sum(CAST(c AS DECIMAL(38,6)))`, value for value: the exact
    * DECIMAL(38,6) sum, NULL when no input is non-null. Oracle mirror:
    * `SUM(CAST(x AS DECIMAL(38,6)))`.
    */
  def exactSum(c: Column): Column = {
    Kernels.ensureRegistered(SparkSession.active)
    call_function(ExactSum6.Name, c)
  }

  /** `CAST(conv(substring(md5(c), start, len), 16, 10) AS BIGINT)`:
    * hex digits `[start, start + len)` of md5(c) as a BIGINT (len ≤ 15).
    * SQL strings call the same kernel as `graft_md5_prefix(c, start, len)`.
    */
  def md5Prefix(c: Column, start: Int, len: Int): Column = {
    Kernels.ensureRegistered(SparkSession.active)
    call_function(Md5Prefix.Name, c, lit(start), lit(len))
  }

  /** Exact sum: cast each element to DECIMAL(38,6) (identical
    * nearest-rounding in both engines), sum exactly, emit double.
    * Oracle mirror: `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = exactSum(c).cast("double")

  /** Order-insensitive average: exact decimal sum ÷ non-null count in
    * double, rounded to 4. Oracle mirror:
    * `ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)/COUNT(x), 4)`.
    */
  def davg(c: Column): Column = round(dsum(c) / count(c), 4)

  /** Tolerance-round for intrinsically FP quantities (stddev, corr,
    * cosine): accumulated error ~1e-12 relative, rounded at 1e-4.
    */
  def r4(c: Column): Column = round(c, 4)

  /** Exact sum at DECIMAL(38,18) — for quantities far below the
    * (38,6) grain (PageRank mass ~1/N, per-element centroid sums):
    * a 1e-6 quantum would swallow them entirely. Oracle mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)`.
    */
  def dsum18(c: Column): Column =
    sum(c.cast(DecimalType(38, 18))).cast("double")

  /** FLOORED exact average at the 1e-6 grain — the zero-tie form for
    * small-count averages of decimal-quantized terms. Round-tie
    * hazard (measured, sf0.1 round 10: c54 1/5000 docs, c60 3/5000):
    * a sum of 1e-6-quantized terms is an EXACT 1e-6 rational, and
    * sum/count can land EXACTLY on a round(…, k) midpoint, where
    * Spark's shortest-string HALF_UP and DuckDB's binary-double
    * rounding disagree — the probability is ~1/(100·count) per
    * group, so per-DOC averages (small counts × thousands of groups)
    * flake while per-table averages never do. This form has no
    * rounding call at all: the decimal sum scales to integer micro
    * units (exact long), floor-divides by the count in double
    * (exact: the quotient gap to the nearest integer is ≥ 1/count ≫
    * double error), and the integer quotient maps to the identical
    * double in both engines. Mirror: [[oDavgFloor6]].
    */
  def davgFloor6(c: Column, n: Column): Column =
    floor((exactSum(c) * 1000000).cast("long")
      .cast("double") / n) / 1000000.0

  /** Identity-safe rounding for a 1e-6-exact PURE SUM: round at the
    * quantization grain itself — the value is ON the 1e-6 grid, so
    * no midpoint can occur and round(x, 6) recovers the exact value
    * in both engines (round at any coarser grain has midpoint ties
    * with probability ~1/(grid ratio) per row — the c57/c60/c113
    * hazard). Use for emitted decimal sums; averages need
    * [[davgFloor6]].
    */
  def rsum6(c: Column): Column = round(c, 6)

  /** Oracle-SQL fragments mirroring the helpers above, so the pair
    * cannot drift. Usage: s"${Canon.oDsum("x")} AS total".
    *
    * The decimal→double rendering goes through VARCHAR (round 18):
    * DuckDB's direct `CAST(DECIMAL AS DOUBLE)` divides an int128 by
    * 10^scale and can land one ulp off the correctly-rounded nearest
    * double once the sum exceeds double precision (~17 significant
    * digits — measured at the 100× rehearsal: 1011201859630.42 exact
    * renders as …630.4199 direct but …630.42 via text, which is what
    * Spark's BigDecimal.doubleValue produces). Text→double is
    * correctly rounded, so the mediated cast equals the direct one at
    * every graded SF and stays exact past double precision.
    */
  def oDsum(x: String): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"
  def oDavg(x: String): String =
    s"ROUND(CAST(CAST(SUM(CAST($x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)/COUNT($x), 4)"
  def oDsum18(x: String): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
  def oDavgFloor6(x: String, n: String): String =
    s"floor(CAST(CAST(SUM(CAST($x AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS DOUBLE) / $n) / 1000000.0"
}
