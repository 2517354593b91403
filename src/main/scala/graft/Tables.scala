package graft

import java.nio.file.{Files, FileVisitOption, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Fixture table access (SURVEY §1.3).
  *
  * All runnable sources are parquet under a scale-factor directory
  * (`/root/testdata/sf*`). At 100 TB the same reader works unchanged:
  * `spark.read.parquet` scans are split by file/rowgroup, filters and
  * projections are pushed into the vectorized reader, and partition
  * count scales with input size — nothing here assumes a single file.
  *
  * Schema memo: a plain `spark.read.parquet` launches a schema-inference
  * job (a footer read) on every call, and one copy reads each table
  * several times. [[t]] therefore infers a table's schema on its first
  * read and hands it to later reads as `spark.read.schema(memo)`, which
  * launches no job. The memo key is the table's file [[fingerprint]]
  * (every data file's relative path, size, mtime and inode) plus every
  * set session conf under `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` (they change what inference returns),
  * so a rewrite, a rename-replace, a new file or a flipped conf misses
  * and re-infers. It holds metadata only, one entry per path. The
  * schema is memoized, not declared: a declared schema would break the
  * fixtures' second `events.ts` vintage (LongType nanos, VintageSpec),
  * while an inferred one follows whatever the files hold — the catalog
  * a 100 TB deployment reads, built lazily.
  */
object Tables {

  /** Every fixture table name (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table.
    *
    * Sets `spark.sql.legacy.parquet.nanosAsLong` defensively at read
    * time (it is a runtime SQL conf): an INT64 TIMESTAMP(NANOS)
    * `events.ts` vintage (pre-round-10 fixtures) is unreadable in
    * Spark 4.x without it, arriving as LongType nanos with it; the
    * round-10 native-µs vintage ignores the flag. Use [[events]] /
    * [[tsTimestamp]] for the vintage-independent timestamp.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.Kernels.ensureRegistered(spark)
    parquet(spark, path(sfDir, name))
  }

  /** The file path of fixture table `name` under `sfDir`. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Path → (memo key, inferred schema); see the object scaladoc. */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** A parquet read whose schema inference runs once per unchanged
    * table. A local path that does not exist raises Spark's own
    * `PATH_NOT_FOUND` without a read (whose metadata probe would log a
    * WARN with a stack trace first); a walk that fails (files vanishing
    * mid-walk) or a non-local URI falls back to the plain read.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(path) match {
      case None if Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme).isEmpty &&
          !Files.exists(Paths.get(path)) =>
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> s"file:${Paths.get(path).toAbsolutePath.normalize}"))
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = files + "|" + spark.conf.getAll.toSeq
          .filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
          .sorted.mkString(";")
        schemaMemo.get(path) match {
          case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemaMemo.put(path, (key, df.schema))
            df
        }
    }

  /** SHA-256 over the files Spark would read under `path`: each one's
    * relative path, size, mtime (ns) and `fileKey` (device + inode).
    * Names Spark skips are skipped at every level (`_`/`.` prefixes,
    * `._COPYING_`), except the `_metadata`/`_common_metadata` summaries
    * parquet inference may read. Symlinks are followed. `None` when
    * the path does not exist or cannot be walked.
    */
  private[graft] def fingerprint(path: String): Option[String] = {
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith("_metadata") && !name.startsWith("_common_metadata")
    def entry(root: java.nio.file.Path, p: java.nio.file.Path): Option[String] = {
      val rel = root.relativize(p)
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (!a.isRegularFile || rel.iterator().asScala.exists(c => hidden(c.toString))) None
      else Some(s"$rel\t${a.size}\t${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}\t${a.fileKey}")
    }
    scala.util.Try(Paths.get(path)).toOption.filter(Files.exists(_)).flatMap { root =>
      scala.util.Try {
        val walk = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
        try sha256(walk.iterator().asScala.flatMap(entry(root, _)).toVector.sorted)
          finally walk.close()
      }.toOption
    }
  }

  /** Hex SHA-256 over `lines`, each newline-terminated. */
  private[graft] def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update(s"$l\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** `events.ts` normalized to a session-TZ TIMESTAMP at µs
    * resolution, branched on the dtype the scan actually produced —
    * the driver fixtures have shipped the column in two vintages:
    *
    *  - raw INT64 TIMESTAMP(NANOS): arrives as LongType nanos under
    *    the nanosAsLong conf; integer `DIV 1000` is mandatory (nanos
    *    ≈ 1.7e18 exceeds double's 2^53 mantissa, `/ 1000` would
    *    corrupt low digits), then `timestamp_micros`.
    *  - native TIMESTAMP(MICROS) isAdjustedToUTC=false (round 10
    *    regeneration): arrives as TIMESTAMP_NTZ; the ntz→timestamp
    *    cast is exact because every session pins UTC (Sessions.scala,
    *    TestSpark) — DuckDB reads the same file as naive TIMESTAMP,
    *    so both engines see identical instants either way (verified
    *    via scripts/check.py on all ts-bearing keys).
    *
    * Branching on the READ dtype (not the path) keeps every consumer
    * correct against either vintage without re-coding the sites.
    */
  def tsTimestamp(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => timestamp_micros(expr("ts DIV 1000"))
    case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
    case org.apache.spark.sql.types.TimestampType => col("ts")
    // A THIRD vintage must fail here, loudly and by name — a silent
    // pass-through would hand consumers values off by TZ semantics or
    // a unit factor and only surface as oracle hash mismatches.
    case other => throw new IllegalStateException(
      s"events.ts arrived as $other — unknown fixture vintage; " +
        "extend Tables.tsTimestamp for it (see FIXTURES.md)")
  }

  /** `events.ts` as epoch-µs LONG (the canon total-order key for
    * window specs), dtype-branched like [[tsTimestamp]].
    */
  def tsUs(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => expr("ts DIV 1000")
    case _ => unix_micros(tsTimestamp(ev))
  }

  /** `events.ts` as µs TIMESTAMP_NTZ — the form the written parquet
    * must carry (isAdjustedToUTC=false) so DuckDB sees it like every
    * other fixture timestamp (session TZ pinned UTC).
    */
  def tsNtz(ev: DataFrame): Column = tsTimestamp(ev).cast("timestamp_ntz")

  /** `events` with `ts` already normalized per [[tsNtz]]. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    ev.withColumn("ts", tsNtz(ev))
  }

  /** Canonical read: like [[t]] but with `events.ts` already converted
    * to the µs TIMESTAMP_NTZ every engine agrees on — the form all
    * cross-table operators should consume.
    */
  def canonical(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else t(spark, sfDir, name)
}
