package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** The streaming API (graft.streaming.Streams) drives the same
  * transforms as the oracle'd batch operators; here they run against
  * unbounded MemoryStream input end to end.
  */
class StreamsApiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Every Scala source under `root`, with its text. */
  private def sources(root: String): List[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p)).toList
  }

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("tumblingAgg aggregates per hour incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Streams.tumblingAgg(input.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("s_tumble")
      .outputMode("update").start()
    try {
      input.addData((ts("10:05"), 1L, 2.0), (ts("10:40"), 2L, 3.0), (ts("11:10"), 1L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("s_tumble")
        .select($"hour_start", $"n_events", $"sum_value")
        .as[(Timestamp, Long, Double)].collect().groupBy(_._1).view
        .mapValues(_.maxBy(_._2)).toMap
      assert(rows(ts("10:00"))._2 == 2 && rows(ts("10:00"))._3 == 5.0)
      assert(rows(ts("11:00"))._2 == 1)
    } finally q.stop()
  }

  test("sessionAgg merges events within the gap and splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    // session windows support append (watermark-finalized) or
    // complete, not update; complete keeps the test single-batch
    val q = Streams.sessionAgg(input.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("s_session")
      .outputMode("complete").start()
    try {
      // two events 10 min apart (one session), third 40 min later (new)
      input.addData((ts("10:00"), 7L, 1.0), (ts("10:10"), 7L, 1.0), (ts("10:50"), 7L, 1.0))
      q.processAllAvailable()
      val sessions = spark.table("s_session")
        .select($"session_start").as[Timestamp].collect().toSet
      assert(sessions.contains(ts("10:00")) && sessions.contains(ts("10:50")))
    } finally q.stop()
  }

  test("dedupStream emits each key once within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.dedupStream(input.toDF().toDF("ts", "event_key"), "event_key")
      .writeStream.format("memory").queryName("s_dedup")
      .outputMode("append").start()
    try {
      input.addData((ts("10:00"), "k1"), (ts("10:01"), "k1"), (ts("10:02"), "k2"))
      q.processAllAvailable()
      input.addData((ts("10:03"), "k1"))
      q.processAllAvailable()
      val keys = spark.table("s_dedup").select($"event_key").as[String].collect().toSeq
      assert(keys.count(_ == "k1") == 1 && keys.count(_ == "k2") == 1)
    } finally q.stop()
  }

  test("file source -> tumblingAgg -> parquet sink runs end to end") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckptDir = Files.createTempDirectory("graft_stream_ckpt").toString
    // stage "arriving" event files
    // watermarks need TIMESTAMP (session-TZ), not NTZ — cast at ingest
    Tables.events(spark, TestSpark.sf0001)
      .select($"ts".cast("timestamp").as("ts"), $"user_id", $"value")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE")
      .parquet(srcDir)
    val q = Streams.toParquetSink(Streams.tumblingAgg(stream), outDir, ckptDir)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    // append mode emits watermark-finalized windows: all but the last
    // open hour of the fixture's 30-day span
    val out = spark.read.parquet(outDir)
    assert(out.count() > 0, "no finalized windows written")
    assert(out.columns.toSet == Set("hour_start", "n_events", "sum_value"))
  }

  test("c51: stateless per-row signature is bit-identical to the aggregate band kernel") {
    val sf = "/root/testdata/sf0.001"
    val stateless = Streams.statelessBands(
      Tables.t(spark, sf, "documents"))
      .as[(Long, Int, String)].collect().toSet
    val aggregate = ops.Llm.lshBandsPlan(spark, sf)
      .as[(Long, Int, String)].collect().toSet
    assert(stateless == aggregate,
      s"stateless and aggregate signatures diverge: ${stateless.diff(aggregate).take(3)} / ${aggregate.diff(stateless).take(3)}")
  }

  test("c51's signature store is a cross-process artifact: disk read after eviction, bit-identical") {
    import graft.ops.Llm
    val sfd = TestSpark.sf0001
    val dir = Llm.writeBandStore(spark, sfd)
    assert(new java.io.File(s"$dir/bands.parquet/_SUCCESS").exists())
    // Simulate a fresh process: drop every in-memory memo for this
    // app. A later bandStore() call must serve from DISK (the
    // _SUCCESS gate skips the write; the frame is a parquet scan of
    // the store path, visible in the plan), not recompute from
    // documents.
    Memo.evict(spark.sparkContext.applicationId)
    val fromDisk = Llm.bandStore(spark, sfd)
    val leaves = fromDisk.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(leaves.contains("bands-") && !leaves.contains("documents"),
      s"store read should scan the band store, not the corpus:\n$leaves")
    // and the stored signatures are bit-identical to a fresh kernel run
    val recomputed = Llm.lshBandsPlan(spark, sfd)
    assert(fromDisk.exceptAll(recomputed).isEmpty
      && recomputed.exceptAll(fromDisk).isEmpty,
      "band store drifted from the signature kernel")
  }

  test("the vector-index store is a cross-process artifact: disk read, corpus never scanned, bit-identical to a fresh train pass") {
    import graft.ops.NearDup
    val sfd = TestSpark.sf0001
    val dir = NearDup.writeVecIndexStore(spark, sfd)
    assert(new java.io.File(s"$dir/centroids.parquet/_SUCCESS").exists())
    assert(NearDup.writeVecIndexStore(spark, sfd) == dir)
    assert(new java.io.File(s"$dir/pq_codebook.parquet/_SUCCESS").exists())
    assert(NearDup.writeVecIndexStore(spark, sfd) == dir)
    assert(new java.io.File(s"$dir/ivf.parquet/_SUCCESS").exists())
    // The inverted lists are a LOSSLESS cluster-partitioned copy of
    // the corpus under the persisted centroids' assignment.
    import org.apache.spark.sql.functions.col
    val emb2 = Tables.t(spark, sfd, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val freshAsg = NearDup.kmAssign(emb2, NearDup.centroidStore(spark, sfd))
      .select(col("vec_id"), col("cluster"))
    val expectedIvf = emb2.join(freshAsg, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val storedIvf = NearDup.ivfIndexStore(spark, sfd)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    assert(storedIvf.exceptAll(expectedIvf).isEmpty
      && expectedIvf.exceptAll(storedIvf).isEmpty,
      "IVF inverted lists drifted from the assignment kernel")
    // And the persisted code table is the c56 encode verbatim.
    assert(NearDup.writeVecIndexStore(spark, sfd) == dir)
    val storedCodes = NearDup.pqCodesStore(spark, sfd)
      .select(col("vec_id"), col("j"), col("code"))
    val freshSubs = emb2
      .select(col("vec_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(0),
            org.apache.spark.sql.functions.lit(NearDup.PqM - 1))).as("j"),
        col("embedding"))
      .selectExpr("vec_id", "j",
        s"slice(embedding, j * (size(embedding) div ${NearDup.PqM}) + 1, " +
          s"size(embedding) div ${NearDup.PqM}) AS sub")
    val freshCodes = NearDup.pqCodes((freshSubs, NearDup.pqCodebookStore(spark, sfd)))
      .select(col("vec_id"), col("j"), col("code"))
    assert(storedCodes.exceptAll(freshCodes).isEmpty
      && freshCodes.exceptAll(storedCodes).isEmpty,
      "PQ code store drifted from the encode kernel")
    // The store frames must be parquet scans of the artifact (the
    // _SUCCESS gate skips the write), never a recompute that touches
    // the corpus.
    Seq(NearDup.centroidStore(spark, sfd), NearDup.pqCodebookStore(spark, sfd))
      .foreach { fromDisk =>
        val leaves = fromDisk.queryExecution.executedPlan.collectLeaves()
          .map(_.toString).mkString("\n")
        assert(leaves.contains("vec2-") && !leaves.contains("embeddings"),
          s"store read should scan the vec store, not the corpus:\n$leaves")
      }
    // Bit-identity: the persisted centroids equal a fresh decimal-exact
    // Lloyd pass (exceptAll compares doubles bitwise), and the codebook
    // equals a fresh seed slice.
    import org.apache.spark.sql.functions.{col, expr, lit, explode, sequence}
    val emb = Tables.t(spark, sfd, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val kmSeeds = emb
      .where(col("vec_id") % NearDup.kmSeedStride(NearDup.embCount(spark, sfd)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    val freshCents = NearDup.kmUpdate(emb, NearDup.kmAssign(emb, kmSeeds))
    val storedCents = NearDup.centroidStore(spark, sfd)
    assert(storedCents.exceptAll(freshCents).isEmpty
      && freshCents.exceptAll(storedCents).isEmpty,
      "centroid store drifted from the Lloyd kernel")
    val stride = NearDup.pqSeedStride(NearDup.embCount(spark, sfd))
    val freshCsubs = Tables.t(spark, sfd, "embeddings")
      .where(col("vec_id") % stride === 0)
      .select(expr(s"vec_id div $stride").as("centroid_id"),
        explode(sequence(lit(0), lit(NearDup.PqM - 1))).as("j"),
        col("embedding").as("cent"))
      .select(col("centroid_id"), col("j"),
        expr(s"slice(cent, j * (size(cent) div ${NearDup.PqM}) + 1, " +
          s"size(cent) div ${NearDup.PqM})").as("csub"))
    val storedCsubs = NearDup.pqCodebookStore(spark, sfd)
    assert(storedCsubs.exceptAll(freshCsubs).isEmpty
      && freshCsubs.exceptAll(storedCsubs).isEmpty,
      "PQ codebook store drifted from the seed slice")
    // The vec3 (ingest-segmented) store against the same kernels: the
    // base centroids are one Lloyd round from the base slice's strided
    // seeds, the segment union is every vector (base in seg0, arrivals
    // in seg1) assigned under them, and generation 2 is one
    // warm-started round over the whole corpus with its lists assigned
    // under the retrained centroids.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.when
    def same(stored: DataFrame, fresh: DataFrame, what: String): Unit =
      assert(stored.exceptAll(fresh).isEmpty && fresh.exceptAll(stored).isEmpty,
        s"vec3 $what drifted from its kernel")
    val base = emb.where(!NearDup.ingestIsNew)
    val baseSeeds = base
      .where(col("vec_id") % NearDup.kmSeedStride(NearDup.embCount(spark, sfd)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    val baseCents = NearDup.ingestCentroids(spark, sfd)
    same(baseCents, NearDup.kmUpdate(base, NearDup.kmAssign(base, baseSeeds)),
      "base centroids")
    def assigned(cents: DataFrame): DataFrame = Tables.t(spark, sfd, "embeddings")
      .join(NearDup.kmAssign(emb, cents).select(col("vec_id"), col("cluster")), "vec_id")
      .select(col("vec_id"), col("embedding"), col("label"), col("cluster"))
    same(NearDup.ingestSegStore(spark, sfd)
        .select(col("vec_id"), col("embedding"), col("label"), col("cluster"), col("segment")),
      assigned(baseCents).withColumn("segment", when(NearDup.ingestIsNew, 1).otherwise(0)),
      "segment union")
    val (g2Cents, g2Lists) = NearDup.ingestGen2(spark, sfd)
    same(g2Cents, NearDup.kmUpdate(emb, NearDup.kmAssign(emb, baseCents)),
      "generation-2 centroids")
    same(g2Lists.select(col("vec_id"), col("embedding"), col("label"), col("cluster")),
      assigned(g2Cents), "generation-2 lists")
  }

  test("a warm vector-store or band-store read launches no Spark job") {
    import graft.ops.{Llm, NearDup}
    val sfd = TestSpark.sf0001
    val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "centroids" -> (() => NearDup.centroidStore(spark, sfd)),
      "PQ codebook" -> (() => NearDup.pqCodebookStore(spark, sfd)),
      "IVF lists" -> (() => NearDup.ivfIndexStore(spark, sfd)),
      "PQ codes" -> (() => NearDup.pqCodesStore(spark, sfd)),
      "segment union" -> (() => NearDup.ingestSegStore(spark, sfd)),
      "vec3 base centroids" -> (() => NearDup.ingestCentroids(spark, sfd)),
      "bands" -> (() => Llm.bandStore(spark, sfd)))
    // The first call builds the store if absent and reads it once.
    reads.foreach { case (_, read) => read() }
    reads.foreach { case (what, read) =>
      val jobs = TestSpark.jobsLaunched { read(); () }
      assert(jobs == 0, s"a warm $what read launched $jobs Spark jobs")
    }
  }

  test("c36/c37 leave no session-conf drift, no cached RDDs, and reap their temp dirs") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val dirsBefore = Streams.tmpDirs.size()
    assert(Streams.streamAppend(spark, TestSpark.sf0001).count() > 0)
    Streams.streamEnrich(spark, TestSpark.sf0001).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevParts,
      "streaming key mutated the caller session's shuffle partitions")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"streaming keys leaked cached RDDs: $leaked")
    assert(Streams.tmpDirs.size() == dirsBefore + 4,
      "c36/c37 sink/checkpoint dirs not registered for exit-time reaping")
  }

  test("no verification key uses a memory sink (a memory sink is a driver-side collect)") {
    // The c51 100x rehearsal measured its collision set > 1 GiB: a
    // memory sink dies at driver.maxResultSize exactly where the
    // parquet harness keeps flowing. Pin the whole main tree, not just
    // Streams.scala, so the pattern cannot reappear elsewhere.
    val offenders = sources("src/main").collect {
      case (p, src) if src.contains("format(\"memory\")") => p
    }
    assert(offenders.isEmpty, s"memory sinks in the query surface: $offenders")
  }

  test("no scratch mains in the main tree: def main( only in the allowlisted tools") {
    // One-shot pricing and A/B mains accumulate in src/main once their
    // numbers are recorded (SCALE.md / OPTIMIZATION_*.md keep the
    // results). Each allowlisted main is the only tool for its job:
    // the Verify/Bench entry points, the keyspace-copy CLI, the plan dumps
    // (audit and per-key snapshots), ANN recall and the 100x linkage
    // check.
    val allow = Set("Verify", "Bench", "CopyKeyspaceCli", "Plans", "Recall",
      "LinkScale")
    val mains = sources("src/main").flatMap { case (p, src) =>
      // a main belongs to the last `object` declared before it
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val owner = "object\\s+(\\w+)".r.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("<no object>")
        (owner, p.toString)
      }
    }
    assert(mains.nonEmpty, "scan found no mains: wrong working directory?")
    val offenders = mains.filterNot { case (owner, _) => allow(owner) }
    assert(offenders.isEmpty, s"mains outside the allowlist: $offenders")
  }

  test("one session builder: only Sessions builds sessions and reads the width") {
    // Every session, tests included, comes from Sessions.local, and the
    // local width is read once (Sessions.cpus): a hand-built builder
    // drifts off the posture, and a second width read drifts off its
    // default. This spec names the needles, so it is skipped too.
    val needles = Seq("SparkSession.builder()", "\"SPARK_GRAFT_CPUS\"")
    val skip = Set("Sessions.scala", "StreamsApiSpec.scala")
    val srcs = sources("src")
    assert(srcs.exists(_._1.endsWith("Sessions.scala")), "scan found no Sessions.scala")
    val offenders = for {
      (p, src) <- srcs if !skip(p.getFileName.toString)
      n <- needles if src.contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty, s"session built or width read outside Sessions: $offenders")
  }

  test("one run ledger: only RunLedger names the manifest file and computes line CRCs") {
    // The keyspace copy and the curation run record finished units in
    // one ledger; a second manifest writer drifts off its torn-tail and
    // CRC rules. These needles are the ledger's file name and checksum.
    val needles = Seq("java.util.zip.CRC32", "\"manifest.tsv\"")
    val srcs = sources("src/main")
    val offenders = for {
      (p, src) <- srcs if p.getFileName.toString != "RunLedger.scala"
      n <- needles if src.contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty, s"manifest or CRC code outside RunLedger: $offenders")
    assert(srcs.exists(_._1.endsWith("RunLedger.scala")), "scan found no RunLedger.scala")
  }

  test("runToParquet reads an empty result back as an empty frame, not an inference error") {
    // A dup-free corpus makes c51's verified-collision stream empty for
    // every micro-batch: zero part files land in the sink, and a bare
    // spark.read.parquet would throw AnalysisException on schema
    // inference. The harness pins the writer's schema instead.
    import java.nio.file.Files
    val emptySrc = Files.createTempDirectory("graft_empty_src").toString
    Streams.trackTmpDir(emptySrc)
    val stream = spark.readStream
      .schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE")
      .parquet(emptySrc)
      .where($"value" > 0)
    val out = Streams.runToParquet(stream, "append", "empty_test")
    assert(out.isEmpty, "empty source produced rows")
    assert(out.columns.toSeq == Seq("ts", "user_id", "value"),
      "explicit read-back schema not applied")
  }

  test("runToParquet complete-mode snapshot equals the full-history aggregate") {
    // The complete-mode path (foreachBatch + distributed overwrite) must
    // deliver the same final table a memory sink used to — per-batch
    // snapshots overwrite, so the last one is the finished aggregate
    // even when the input arrives across several micro-batches.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    input.addData((ts("10:05"), 1L, 2.0), (ts("10:40"), 2L, 3.0))
    input.addData((ts("11:10"), 1L, 4.0))
    val agg = input.toDF().toDF("ts", "user_id", "value")
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour").as("w"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .select($"w.start".as("h"), $"n")
    val out = Streams.runToParquet(agg, "complete", "complete_test")
      .as[(Timestamp, Long)].collect().toMap
    assert(out == Map(ts("10:00") -> 2L, ts("11:00") -> 1L),
      s"complete snapshot diverged: $out")
  }

  test("deleteRecursively removes a nested directory tree") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_reap_test")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f.txt"), "x")
    Streams.deleteRecursively(root.toString)
    assert(!Files.exists(Paths.get(root.toString)), "tree not deleted")
  }

  test("statePartitionsFor tracks state size: floor 2, linear growth, clamp 64") {
    // r18 verdict item 3/8: the flat statePartitions = 8 is replaced
    // by a state-row-derived count. KB-state grains land on the floor
    // (never 1 — no serializing on a single store), a 150k-row state
    // (the sf0.1 order-keyed fold) gets ~10, and the local clamp is 64.
    assert(Streams.statePartitionsFor(1L) == 2)
    assert(Streams.statePartitionsFor(Streams.BoundedDomainHint) == 2)
    assert(Streams.statePartitionsFor(Streams.HourlyWindowYearHint) == 2)
    assert(Streams.statePartitionsFor(150000L) == 10)
    assert(Streams.statePartitionsFor(Long.MaxValue / 4) == 64)
    // the ceil-divide must not wrap: a hint at the Long edge is the clamp
    assert(Streams.statePartitionsFor(Long.MaxValue) == 64)
    // monotone: more state never means fewer partitions
    val xs = Seq(1L, 100L, 20000L, 100000L, 1000000L, 10000000L)
    assert(xs.map(Streams.statePartitionsFor).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("keyCount re-counts a table rewritten at the same path with more distinct keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_keycount").toString
    Streams.trackTmpDir(dir)
    spark.range(3).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Streams.keyCount(spark, dir, "t", "k") == 3L)
    assert(Streams.keyCount(spark, dir, "t", "k") == 3L)
    spark.range(7).toDF("k").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Streams.keyCount(spark, dir, "t", "k") == 7L,
      "the regenerated table reused the stale NDV")
  }
}
