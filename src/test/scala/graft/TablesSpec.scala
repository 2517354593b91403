package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The events.ts vintage branch (round 10): the fixtures have shipped
  * `ts` both as INT64 nanos (read as LongType under nanosAsLong) and
  * as native µs (read as TIMESTAMP_NTZ). `Tables.tsTimestamp/tsUs/
  * tsNtz` must produce identical values for the same instant from
  * either physical form — this is the guard that a future vintage
  * flip fails HERE, not as 20 analysis errors across the suite.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // One instant, two vintages: 2026-03-01T12:34:56.789012345 UTC.
  private val nanos = 1772368496789012345L
  private val micros = nanos / 1000L // 1772368496789012

  private def nsFrame = Seq((1L, nanos)).toDF("event_id", "ts")
  private def usFrame = Seq((1L, micros)).toDF("event_id", "us")
    .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))

  test("tsUs: both vintages yield the same epoch-µs long") {
    val fromNs = nsFrame.select(Tables.tsUs(nsFrame).as("u")).as[Long].head()
    val fromUs = usFrame.select(Tables.tsUs(usFrame).as("u")).as[Long].head()
    assert(fromNs == micros && fromUs == micros)
  }

  test("tsNtz: both vintages yield the same TIMESTAMP_NTZ micros") {
    val a = nsFrame.select(unix_micros(Tables.tsNtz(nsFrame).cast("timestamp")).as("u"))
      .as[Long].head()
    val b = usFrame.select(unix_micros(Tables.tsNtz(usFrame).cast("timestamp")).as("u"))
      .as[Long].head()
    assert(a == micros && b == micros)
  }

  test("tsTimestamp: the ns vintage truncates (not rounds) to µs") {
    // …789012345 ns must become …789012 µs — DIV truncation, matching
    // DuckDB's ns→µs truncation on read. A float division would round
    // up to …789013 (low-digit corruption at 1.7e18 > 2^53).
    val v = nsFrame.select(unix_micros(Tables.tsTimestamp(nsFrame)).as("u")).as[Long].head()
    assert(v == micros)
    assert(v % 1000 == 12L) // the truncated tail survives exactly
  }

  test("the fixture on disk reads through the helpers without analysis errors") {
    for (sf <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val n = Tables.events(spark, sf)
        .where(col("ts").isNotNull).count()
      assert(n > 0, s"no events at $sf")
    }
  }

  /** A fresh directory for tables written by one test. */
  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_tables_$tag").toString
    graft.streaming.Streams.trackTmpDir(d)
    d
  }

  test("schema memo: a second read of an unchanged table launches no Spark job") {
    val dir = tmpDir("memo")
    spark.range(10).toDF("k").write.parquet(s"$dir/m.parquet")
    val first = TestSpark.jobsLaunched { Tables.t(spark, dir, "m").schema; () }
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val second = TestSpark.jobsLaunched { Tables.t(spark, dir, "m").schema; () }
    assert(second == 0, s"an unchanged table re-inferred its schema ($second jobs)")
    assert(Tables.t(spark, dir, "m").count() == 10)
  }

  test("schema memo: a table rewritten in place with another ts type reads its new schema") {
    val dir = tmpDir("rewrite")
    val path = s"$dir/v.parquet"
    def ts = Tables.t(spark, dir, "v").schema("ts").dataType
    Seq((1L, nanos)).toDF("event_id", "ts").write.parquet(path)
    assert(ts == LongType)
    assert(ts == LongType) // a memo hit
    usFrame.write.mode("overwrite").parquet(path)
    assert(ts == TimestampNTZType, "the rewrite kept the memoized LongType")
    val u = Tables.t(spark, dir, "v").select(unix_micros(col("ts").cast("timestamp")))
      .as[Long].head()
    assert(u == micros)
    Seq((1L, nanos)).toDF("event_id", "ts").write.mode("overwrite").parquet(path)
    assert(ts == LongType, "the rewrite back kept the memoized TIMESTAMP_NTZ")
  }

  test("schema memo: flipping a spark.sql.parquet.* conf that changes inference misses the memo") {
    // The fixture's ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) with
    // no Spark schema in its footer, so inferTimestampNTZ decides its
    // type. A child session keeps the flip off the shared test session.
    val child = spark.newSession()
    def ts = Tables.t(child, TestSpark.sf0001, "events").schema("ts").dataType
    assert(ts == TimestampNTZType)
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(ts == TimestampType, "the flipped conf read the memoized TIMESTAMP_NTZ")
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(ts == TimestampNTZType)
  }

  test("fingerprint: skips the names Spark skips, follows content changes, None when missing") {
    val dir = tmpDir("fp")
    val path = s"$dir/f.parquet"
    assert(Tables.fingerprint(path).isEmpty)
    spark.range(5).toDF("k").write.parquet(path)
    val fp = Tables.fingerprint(path)
    assert(fp.isDefined)
    // _SUCCESS is written by Spark and skipped by its listing; so are
    // these, so they must not move the fingerprint either.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, ".hidden"), "x")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_temporary"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "_temporary", "part"), "x")
    assert(Tables.fingerprint(path) == fp)
    spark.range(5).toDF("k").write.mode("append").parquet(path)
    assert(Tables.fingerprint(path) != fp, "a new data file must change the fingerprint")
  }
}
