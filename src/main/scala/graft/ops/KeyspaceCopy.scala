package graft.ops

import java.io.{File, FileWriter}
import java.util.concurrent.{Callable, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicReference
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{ConfiguredSink, TableSink, TableSource, WriteConf}

/** The COMPOSED end-to-end keyspace copy — the reference tool's actual
  * deliverable (a "migrate keyspace from cluster" CLI is one
  * orchestrated run, not a menu of verified pieces) — and its
  * anti-entropy repair, as ONE walk over the
  * [[graft.sources.TableSource]]/[[graft.sources.TableSink]] seam:
  *
  *   1. PIN: `manifestDir/copy.conf` pins `nRanges` and
  *      `manifestDir/keyspace.ddl` pins the DDL (a11,
  *      [[Migration.createTableDdl]] over each table's schema from the
  *      source's own read path, a2). Both are write-once, in both
  *      modes: a (table, range) unit means the same rows only under
  *      the range arity AND the schema it was cut with, so a run
  *      under either drifted refuses before it touches anything.
  *   2. UNITS (A6/A10): the unit of work, retry, resume and repair is
  *      a (table, token range). Ranges are the a15 unit: the first hex
  *      nibbles of a row-content md5, so two independent runs (or
  *      engines) derive the SAME partition of the key space — the
  *      property that lets a run trust a manifest someone else wrote.
  *      Each range lands as its OWN output unit (`table/range_R`)
  *      through [[graft.sources.ConfiguredSink]] (retry/batch/writetime
  *      knobs), so re-overwriting range 7 cannot clobber ranges 0–6.
  *   3. SETTLE, the one per-unit rule: a unit is settled when its
  *      evidence equals the source truth (rows, a18 checksum). A copy
  *      (`trustLedger`) first takes a `manifestDir/manifest.tsv` line
  *      ([[RunLedger]], the ledger the c199 curation run shares) as
  *      that evidence, so a fully recorded table reads no source. Every
  *      other unit gets its truth from ONE grouped pass per table
  *      (a15's planning pass); beside it, ONE grouped audit job reads
  *      every pending unit through the destination's own read path,
  *      each read tagged with its literal range number (a unit whose
  *      read cannot be built audits as (0, "0"); if the audit job
  *      fails, every unit in it differs). An audit equal to the truth
  *      settles the unit without a write — an empty range is just such
  *      a unit — and records a ledger line unless an equal one is
  *      there. Anything else lands again; then ONE grouped read-back
  *      over every live unit of the table checks each landed unit,
  *      which must read back as exactly the truth, rows AND checksum,
  *      before its line is appended — a unit whose count is right but
  *      whose content is not is never recorded complete.
  *   4. VERIFY (a7 + a18): count parity plus the order-insensitive
  *      content checksum (sum of per-row 32-bit md5 prefixes, exact,
  *      the a18 algebra that cannot overflow at 1e12 rows) per table.
  *      The destination side is the read-back of 3, a fresh full read;
  *      the source side is an independent re-read once the table has
  *      settled.
  *
  * Truth, audit, read-back and source re-read are one Spark job each
  * ([[RunLedger.tally]]), so at nRanges 4096 a repair of a healthy
  * table runs one audit job where the per-unit walk ran 8192 (two per
  * unit). What still grows with the units is a write per landed unit
  * and one schema-inference job per unit the JVM has not read before
  * ([[graft.Tables]]' schema memo serves the rest).
  *
  * COPY vs REPAIR differ only in the evidence consulted first. A copy
  * RESUMES: re-invoking with the same `manifestDir` skips every unit
  * the ledger records and settles only the rest — kill-mid-copy →
  * resume → verify is the tested path (MigrationSpec "composed
  * copyKeyspace"). A repair (round 15, the `nodetool repair` analog
  * and the execution half of a23's planning) trusts no ledger line:
  * every unit is audited against the truth, so a target that rotted
  * AFTER the copy (a deleted unit, a partial restore, flipped values)
  * heals by re-landing exactly the diverged units instead of
  * re-moving 100 TB. The ledger keeps the LAST line per unit, so it
  * heals too.
  *
  * The ledger's trust rules live in [[RunLedger]]: only
  * NEWLINE-TERMINATED, CRC-valid lines count, and an untrusted line
  * reads as "no evidence", so the unit is audited and, if needed,
  * re-landed (idempotent, see 2) rather than trusted.
  *
  * Scale posture (100 TB): a lost executor or a dead sink costs one
  * range, not a re-copy. On a live token-range source (Cassandra
  * connector), each range read is a ring slice — no scan
  * amplification and no persist needed. On a FILE source a range
  * filter would otherwise rescan the table per range, so the source is
  * persisted (MEMORY_AND_DISK, recomputable lineage) once per table
  * while >1 unit is pending and unpersisted when the table completes.
  * Everything driver-side is metadata-sized: the manifest holds one
  * line per (table, range), and every job returns per-range
  * (rows, checksum) arrays, merged in a tree before the driver.
  *
  * Overlap: `rangeParallelism` bounds everything. Tables proceed
  * concurrently on `rangeParallelism` table lanes, so at most
  * `rangeParallelism` tables are persisted at once; their jobs
  * (truth, audit, unit writes, read-back and source re-read) share
  * `rangeParallelism` unit lanes, so at most that many are in flight
  * across all tables, and threads stay O(`rangeParallelism`). A
  * table's truth and audit run side by side. At 1 the walk is
  * strictly sequential, table by table and job by job. Every started
  * write settles — read back and, if it equals the truth, recorded —
  * before the first error propagates. One lock serializes every
  * manifest append. The Report is
  * ordered the same at any width: tables in discovery order; within a
  * table, skipped units, then units recorded without a write, then
  * written units, each by range.
  */
object KeyspaceCopy {

  /** One (table, range) unit's outcome. `skipped` = this run neither
    * wrote the unit nor appended a ledger line for it.
    */
  final case class RangeResult(
      table: String, range: Int, rows: Long, checksum: String, skipped: Boolean)

  /** The a7+a18 post-copy audit for one table: count parity and
    * content-checksum parity between an independent full re-read of
    * source and destination.
    */
  final case class TableVerify(
      table: String, srcRows: Long, dstRows: Long,
      srcChecksum: String, dstChecksum: String) {
    def ok: Boolean = srcRows == dstRows && srcChecksum == dstChecksum
  }

  final case class Report(
      ddl: Map[String, String],
      ranges: Seq[RangeResult],
      verify: Seq[TableVerify]) {
    def ok: Boolean = verify.nonEmpty && verify.forall(_.ok)
  }

  /** Destination sub-table name for one range unit — range-scoped
    * output so overwrite-on-retry touches only its own unit. A live
    * Cassandra sink would ignore the suffix (range writes are per-row
    * upserts into one table and idempotent by primary key); file sinks
    * need the scoping.
    */
  def rangeTable(table: String, range: Int): String = s"$table/range_$range"

  /** Deterministic token range of a row: first 4 hex nibbles of the
    * salted content md5, mod nRanges — a pure function of row CONTENT,
    * so the range partition is stable across runs, engines, and source
    * file layouts (the a15 trust property). Codegen'd expressions
    * only.
    */
  private def rangeCol(schema: StructType, nRanges: Int): Column =
    pmod(
      graft.Canon.md5Prefix(concat(lit("rng:"), RunLedger.rowRender(schema)), 1, 4)
        .cast("int"),
      lit(nRanges))

  /** The content of a write-once manifest file: `text`, written now if
    * the file is absent, else whatever an earlier run wrote there.
    */
  private def writeOnce(file: File, text: String): String =
    if (!file.exists()) {
      val w = new FileWriter(file)
      try w.write(text) finally w.close()
      text
    } else new String(java.nio.file.Files.readAllBytes(file.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  /** The `nRanges=` arity a `copy.conf` text pins, if it holds one. */
  private def pinnedRanges(conf: String): Option[Int] =
    conf.linesIterator.collectFirst { case l if l.startsWith("nRanges=") =>
      l.stripPrefix("nRanges=").trim.toInt }

  /** Thrown in place of a task that had not started when another task
    * failed; it never escapes [[Lanes]]. */
  private object Abandoned
      extends RuntimeException("abandoned after an earlier failure", null, false, false)

  /** The copy's bounded concurrency: `width` table lanes and `width`
    * unit lanes, two fixed pools, so threads stay O(width). A table
    * task runs on a table lane and hands its jobs (truth, audit, unit
    * writes, read-back, verification) to the unit lanes, which run
    * leaves only — a table lane may block on unit lanes, never the
    * reverse, so the pools cannot deadlock. At width 1 both are single
    * threads and the walk is strictly sequential. Every batch waits
    * for each task it submitted to settle; once any task has failed,
    * tasks that have not started are abandoned, so a dead sink stops
    * the copy instead of failing every remaining unit — except a
    * [[settling]] task, which finishes units that already landed.
    * `manifestLock` is the one lock every manifest append takes, across
    * all tables, so two units can never interleave a line.
    */
  private final class Lanes(width: Int, nTables: Int) {
    private val tablePool = Executors.newFixedThreadPool(math.min(width, nTables))
    private val unitPool = Executors.newFixedThreadPool(width)
    private val failure = new AtomicReference[Throwable]()
    val manifestLock = new Object
    def tables[A](work: Seq[() => A]): Seq[A] = rethrow(submit(tablePool, work, abandon = true))
    /** Two unit jobs side by side; the first failure rethrown. */
    def pair[A, B](a: () => A, b: () => B): (A, B) =
      rethrow(submit(unitPool, Seq[() => Any](a, b), abandon = true)) match {
        case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B])
      }
    /** Unit jobs whose outcomes are returned, failures included. */
    def attempt[A](work: Seq[() => A]): Seq[Try[A]] = submit(unitPool, work, abandon = true)
    /** One unit job. */
    def job[A](work: () => A): A = rethrow(attempt(Seq(work))).head
    /** One unit job that runs even after a failure elsewhere. */
    def settling[A](work: () => A): A = rethrow(submit(unitPool, Seq(work), abandon = false)).head
    /** The first failure's exception, in place of any later outcome's. */
    def rethrow[A](outcomes: Seq[Try[A]]): Seq[A] = {
      outcomes.collectFirst { case Failure(e) => throw Option(failure.get).getOrElse(e) }
      outcomes.map(_.get)
    }
    private def submit[A](pool: ExecutorService, work: Seq[() => A], abandon: Boolean): Seq[Try[A]] =
      work.map(w => pool.submit(new Callable[A] {
        def call(): A = {
          if (abandon && failure.get != null) throw Abandoned
          try w() catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
        }
      })).map(f => Try(f.get()))
    def close(): Unit = { unitPool.shutdown(); tablePool.shutdown() }
  }

  /** What a unit holds when it holds no rows: the audit of a unit whose
    * read cannot be built. */
  private val Empty = (0L, "0")

  /** (rows, checksum) of each of `table`'s range units in `units`, read
    * through `dstRead` and tallied in ONE job ([[RunLedger.tally]]).
    * Each read is tagged with its LITERAL range number, never a
    * [[rangeCol]] recomputed from the row, so a row that landed in the
    * wrong unit is counted where it landed. A unit without rows is
    * absent from the map. With `missingIsEmpty` a unit whose read
    * cannot be built (no such unit) is absent too; otherwise that
    * read's error propagates.
    */
  private def tally(
      spark: SparkSession, dstRead: TableSource, table: String, units: Seq[Int],
      missingIsEmpty: Boolean): Map[Int, (Long, String)] = {
    val reads = units.flatMap { r =>
      val read = Try(dstRead.read(spark, rangeTable(table, r)))
      if (missingIsEmpty) read.toOption.map(r -> _) else Some(r -> read.get)
    }
    if (reads.isEmpty) Map.empty
    else RunLedger.tally(reads.map { case (r, df) =>
      df.select(lit(r), RunLedger.rowHash(df.schema)) }.reduce(_ union _), units.max + 1)
  }

  /** Run (or resume) a keyspace copy (`trustLedger`), or repair an
    * existing one (`!trustLedger`): the walk of the object scaladoc.
    * Throws when a unit write exhausts the [[WriteConf]] retries or
    * lands something other than its source truth — the manifest then
    * holds every unit that settled, and re-invoking with the same
    * `manifestDir` resumes.
    *
    * `dstRead` is the destination's READ channel: every audit must
    * observe what actually landed through the same path future
    * readers will use, not trust the writer's word.
    */
  def run(
      spark: SparkSession,
      src: TableSource,
      dst: TableSink,
      dstRead: TableSource,
      conf: WriteConf,
      manifestDir: String,
      nRanges: Int,
      rangeParallelism: Int,
      trustLedger: Boolean): Report = {
    require(nRanges >= 1 && nRanges <= 4096, s"nRanges out of range: $nRanges")
    require(rangeParallelism >= 1 && rangeParallelism <= 64,
      s"rangeParallelism out of range: $rangeParallelism")
    new File(manifestDir).mkdirs()
    // Pin the range-function arity to the manifest: a (table, range)
    // cursor is only meaningful under the nRanges it was written at —
    // resuming 16-range state at nRanges=4 would skip range 3 while
    // range 3's CONTENT is a different row set (pmod 4 vs 16), and a
    // repair would "heal" every unit into a different partition.
    val pinned = pinnedRanges(writeOnce(new File(manifestDir, "copy.conf"), s"nRanges=$nRanges\n"))
    require(pinned.contains(nRanges),
      s"manifest at $manifestDir was written with nRanges=${pinned.orNull}; " +
        s"running with nRanges=$nRanges would mis-map its ranges — " +
        "use the original value or a fresh manifest dir")
    val tables = src.tableNames(spark)
    // Discovery backstop for sources that can't validate their own
    // location: a copy over zero tables would "succeed" vacuously.
    require(tables.nonEmpty,
      s"keyspace copy: source $src discovered zero tables — nothing to copy")
    val sink = new ConfiguredSink(dst, conf)
    val lanes = new Lanes(rangeParallelism, tables.size)
    try {
      val ddl = tables.zip(lanes.tables(tables.map(t => () =>
        Migration.createTableDdl(t, src.read(spark, t).schema)))).toMap
      val ddlText = tables.map(ddl).mkString("", ";\n\n", ";\n")
      // Schema drift guard (the same refusal as the nRanges pin):
      // keyspace.ddl is the statement the target was created from, and
      // [[rangeCol]] hashes the row-render over the schema's FIELDS, so
      // units cut under the old schema and units cut under the new one
      // are different partitions of the table — neither a resume nor a
      // repair may mix them.
      //
      // 100 TB RUNBOOK (the mid-copy schema-evolution drill,
      // MigrationSpec "v2 vintage APPEARING mid-copy"): when a new file
      // vintage lands in the source WHILE a copy is down, REJECT is the
      // only safe resume. Operator options, in order: (a) quarantine
      // the new vintage files and finish under the original schema —
      // the manifest stays trustworthy (the refused run touches neither
      // it nor the destination) — then copy the quarantined files as
      // their own delta; or (b) start a fresh manifest dir and re-copy
      // the affected table under the merged schema (proven a18-green in
      // the drill). Never hand-edit keyspace.ddl to force a resume.
      require(writeOnce(new File(manifestDir, "keyspace.ddl"), ddlText) == ddlText,
        s"source schema drifted since the manifest at $manifestDir was " +
          "started: regenerated DDL does not match keyspace.ddl — finish " +
          "under the original schema or start a fresh manifest dir")

      val ledger = RunLedger.readManifest(manifestDir)
      def record(table: String, r: Int, unit: (Long, String)): Unit =
        lanes.manifestLock.synchronized {
          RunLedger.appendManifest(manifestDir, table, r, unit._1, unit._2)
        }
      val walked = lanes.tables(tables.map { table => () =>
        val (recorded, pending) = (0 until nRanges)
          .partition(r => trustLedger && ledger.contains((table, r)))
        val fromLedger = recorded.map(r => r -> ledger((table, r)))
        // Each pending unit's truth, and whether this run lands it.
        val (truth, landing, outcomes): (Map[Int, (Long, String)], Seq[Int], Seq[Try[Unit]]) =
          if (pending.isEmpty) (Map.empty, Nil, Nil) else {
            val base = src.read(spark, table)
            val withRange = base.withColumn("__graft_range", rangeCol(base.schema, nRanges))
            // One source scan per table, not one per range: recomputable
            // MEMORY_AND_DISK lineage (an executor loss recomputes, the
            // localCheckpoint failure mode ADVICE flagged elsewhere). A
            // live token-range source reads ring slices instead and skips
            // this (object scaladoc).
            val cached = if (pending.size > 1)
              withRange.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else withRange
            try {
              // Source truth per range in ONE job (a15's planning pass,
              // which also fills `cached`), beside the destination audit
              // of every pending unit in ONE job: the two reads are
              // independent. An audit job that fails audits nothing, so
              // every unit in it lands again (an idempotent overwrite).
              val (truth, audit) = lanes.pair(
                () => RunLedger.tally(
                  cached.select(col("__graft_range"), RunLedger.rowHash(base.schema)), nRanges),
                () => Try(tally(spark, dstRead, table, pending, missingIsEmpty = true)).toOption)
              val (landing, agreeing) = pending.partition(r =>
                audit.forall(_.getOrElse(r, Empty) != truth.getOrElse(r, Empty)))
              // An audit equal to the truth settles its unit unwritten.
              agreeing.foreach { r =>
                val want = truth.getOrElse(r, Empty)
                if (!ledger.get((table, r)).contains(want)) record(table, r, want)
              }
              // `rangeParallelism` writes in flight: a live migrator
              // overlaps units to hide per-job scheduling latency and the
              // sink's write/ack round-trips (Spark's scheduler accepts
              // jobs from many threads). Every write SETTLES before
              // `cached` is unpersisted, and before any error propagates.
              (truth, landing, lanes.attempt(landing.map { r => () =>
                sink.write(cached.where(col("__graft_range") === r).drop("__graft_range"),
                  rangeTable(table, r))
              }))
            } finally { cached.unpersist(); () }
          }
        def want(r: Int) = truth.getOrElse(r, Empty)
        val landed = landing.zip(outcomes).collect { case (r, Success(_)) => r }
        val live = (fromLedger.collect { case (r, (n, _)) if n > 0L => r } ++
          pending.filter(want(_)._1 > 0L)).sorted
        // ONE grouped read-back settles every landed unit and, when no
        // write failed, is also the destination side of the table's
        // verification: a fresh read of every live unit.
        val failed = outcomes.exists(_.isFailure)
        val readBack =
          if (failed && landed.isEmpty) Map.empty[Int, (Long, String)]
          else lanes.settling(() => tally(spark, dstRead, table,
            if (failed) landed else (live ++ landed).distinct.sorted, missingIsEmpty = false))
        // No line before the unit reads back as exactly its truth;
        // every unit that did is recorded before any error propagates.
        def readsBack(r: Int) = readBack.getOrElse(r, Empty) == want(r)
        landed.filter(readsBack).foreach(r => record(table, r, want(r)))
        lanes.rethrow(outcomes)
        landed.foreach(r => require(readsBack(r),
          s"$table range $r landed ${readBack.getOrElse(r, Empty)}, " +
            s"source truth is ${want(r)} — refusing to mark complete"))
        // The source side: an independent re-read once the table settled.
        val (srcN, srcCs) = lanes.job(() => RunLedger.countAndChecksum(src.read(spark, table)))
        val dstUnits = live.map(readBack.getOrElse(_, Empty))
        val verify = TableVerify(table, srcN, dstUnits.map(_._1).sum,
          srcCs, dstUnits.map(u => BigInt(u._2)).sum.toString)
        val lands = landing.toSet
        val settled = pending.map { r =>
          val wrote = lands(r)
          val known = !wrote && ledger.get((table, r)).contains(want(r))
          (RangeResult(table, r, want(r)._1, want(r)._2, skipped = known), wrote)
        }
        val units = fromLedger.map { case (r, (n, cs)) =>
          (RangeResult(table, r, n, cs, skipped = true), false) } ++ settled
        (units.sortBy { case (u, wrote) =>
          (if (u.skipped) 0 else if (wrote) 2 else 1, u.range)
        }.map(_._1), verify)
      })
      Report(ddl, walked.flatMap(_._1), walked.map(_._2))
    } finally lanes.close()
  }
}
