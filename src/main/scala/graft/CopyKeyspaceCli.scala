package graft

/** The composed keyspace copy as a runnable CLI — the reference
  * tool's invocation shape ("migrate this keyspace from that cluster"
  * is one command, not a library call). Wraps
  * [[graft.ops.Migration.copyKeyspace]] over the parquet connectors;
  * a live deployment swaps the source/sink constructions for the
  * Cassandra connector pair (README "Production Cassandra migration
  * knobs") and nothing else changes.
  *
  * Usage:
  *   sbt "runMain graft.CopyKeyspaceCli <srcDir> <dstDir> <manifestDir> [nRanges] [rangeParallelism]"
  *   sbt "runMain graft.CopyKeyspaceCli --repair <srcDir> <dstDir> <manifestDir> [nRanges]"
  *
  * Re-running with the same manifestDir RESUMES: completed
  * (table, range) units are skipped. Exit 0 iff every table passes
  * the post-copy count + content-checksum verification.
  * `rangeParallelism` (default 4) is the number of range units in
  * flight at once — the live-migrator posture that hides per-job
  * scheduling latency; 1 reproduces the strictly sequential walk.
  * `--repair` runs the anti-entropy verify-and-heal instead
  * ([[graft.ops.KeyspaceCopy.repair]]): every destination range unit
  * audits against a one-pass source truth and exactly the diverged
  * units re-copy.
  */
object CopyKeyspaceCli {
  def main(args: Array[String]): Unit = {
    val repairMode = args.headOption.contains("--repair")
    val rest = if (repairMode) args.drop(1) else args
    require(rest.length >= 3,
      "usage: CopyKeyspaceCli [--repair] <srcDir> <dstDir> <manifestDir> [nRanges] [rangeParallelism]")
    val Array(srcDir, dstDir, manifestDir) = rest.take(3)
    val nRanges = if (rest.length > 3) rest(3).toInt else 16
    val rangeParallelism = if (rest.length > 4) rest(4).toInt else 4
    val spark = Sessions.local(Sessions.cpus)
      .appName("graft-copy-keyspace").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources._
    val report = if (repairMode)
      ops.Migration.repairKeyspace(
        spark,
        new ParquetSource(srcDir),
        new ParquetSink(dstDir),
        new ParquetSource(dstDir),
        WriteConf(),
        manifestDir,
        nRanges,
        rangeParallelism)
    else ops.Migration.copyKeyspace(
      spark,
      new ParquetSource(srcDir),
      new ParquetSink(dstDir),
      new ParquetSource(dstDir),
      WriteConf(),
      manifestDir,
      nRanges,
      rangeParallelism)
    val copied = report.ranges.count(!_.skipped)
    val skipped = report.ranges.count(_.skipped)
    System.err.println(
      s"[${if (repairMode) "repair" else "copy"}] ranges: $copied copied, " +
        s"$skipped ${if (repairMode) "audited-healthy" else "resumed-as-complete"}")
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
