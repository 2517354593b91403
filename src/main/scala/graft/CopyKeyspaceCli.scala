package graft

/** The composed keyspace copy as a runnable CLI — the reference
  * tool's invocation shape ("migrate this keyspace from that cluster"
  * is one command, not a library call). Wraps
  * [[graft.ops.Migration.copyKeyspace]] (and, with `--repair`,
  * [[graft.ops.Migration.repairKeyspace]]) over the parquet
  * connectors; a live deployment swaps the source/sink constructions
  * for the Cassandra connector pair (README "Production Cassandra
  * migration knobs") and nothing else changes.
  *
  * Usage:
  *   sbt "runMain graft.CopyKeyspaceCli <srcDir> <dstDir> <manifestDir> [nRanges] [rangeParallelism]"
  *   sbt "runMain graft.CopyKeyspaceCli --repair <srcDir> <dstDir> <manifestDir> [nRanges] [rangeParallelism]"
  *
  * Both modes are the one walk of [[graft.ops.KeyspaceCopy]]: a
  * (table, range) unit is settled when its evidence equals the
  * source's (rows, checksum) truth, and anything else is re-copied
  * and must read back as exactly that truth. A copy takes the
  * manifest as evidence first, so re-running with the same
  * manifestDir RESUMES: recorded units are skipped. `--repair`
  * trusts no manifest line and audits every destination unit, so
  * exactly the diverged units re-copy. Both modes refuse a manifestDir
  * pinned to another nRanges or to a drifted source schema. Exit 0
  * iff every table passes the post-copy count + content-checksum
  * verification.
  * `rangeParallelism` (default 4, both modes) is the number of range
  * units in flight at once, across tables — the live-migrator posture
  * that hides per-job scheduling latency; tables overlap, at most
  * that many at once; 1 reproduces the strictly sequential walk.
  * The stderr summary includes a throughput line: rows moved (units
  * written or recorded by this invocation), wall seconds, rows/s and
  * the number of Spark jobs the walk ran (per table one truth, one
  * audit, one read-back and one source re-read, plus a write per
  * landed unit and a schema inference per unit read).
  */
object CopyKeyspaceCli {
  def main(args: Array[String]): Unit = {
    val repairMode = args.headOption.contains("--repair")
    val rest = if (repairMode) args.drop(1) else args
    require(rest.length >= 3,
      "usage: CopyKeyspaceCli [--repair] <srcDir> <dstDir> <manifestDir> " +
        "[nRanges] [rangeParallelism] (both modes take both)")
    val Array(srcDir, dstDir, manifestDir) = rest.take(3)
    val nRanges = if (rest.length > 3) rest(3).toInt else 16
    val rangeParallelism = if (rest.length > 4) rest(4).toInt else 4
    val spark = Sessions.local(Sessions.cpus)
      .appName("graft-copy-keyspace").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources._
    val counters = new TaskCounters(spark.sparkContext)
    val t0 = System.nanoTime()
    val keyspaceRun =
      if (repairMode) ops.Migration.repairKeyspace _ else ops.Migration.copyKeyspace _
    val report = keyspaceRun(spark, new ParquetSource(srcDir), new ParquetSink(dstDir),
      new ParquetSource(dstDir), WriteConf(), manifestDir, nRanges, rangeParallelism)
    val wallS = (System.nanoTime() - t0) / 1e9
    val copied = report.ranges.count(!_.skipped)
    val skipped = report.ranges.count(_.skipped)
    val mode = if (repairMode) "repair" else "copy"
    System.err.println(
      s"[$mode] ranges: $copied copied, " +
        s"$skipped ${if (repairMode) "audited-healthy" else "resumed-as-complete"}")
    // Rows this invocation moved: the units it wrote or newly recorded,
    // not the ones it skipped (resumed or audited healthy).
    val moved = report.ranges.filter(!_.skipped).map(_.rows).sum
    val jobs = counters.drained()._4
    System.err.println(f"[$mode] moved $moved rows in $wallS%.2f s " +
      f"(${if (wallS > 0) moved / wallS else 0.0}%.0f rows/s, $jobs Spark jobs)")
    report.verify.foreach { v =>
      System.err.println(s"[verify] ${v.table}: rows ${v.srcRows}=${v.dstRows} " +
        s"checksum ${if (v.srcChecksum == v.dstChecksum) "MATCH" else "MISMATCH"} " +
        s"-> ${if (v.ok) "OK" else "FAILED"}")
    }
    println(s"""{"tables":${report.verify.size},"ranges_copied":$copied,""" +
      s""""ranges_skipped":$skipped,"ok":${report.ok}}""")
    spark.stop()
    if (!report.ok) sys.exit(1)
  }
}
