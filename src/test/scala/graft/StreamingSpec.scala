package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics (SURVEY §2 B45–B47): watermark
  * late-data drop, stateful stream dedup, arbitrary stateful
  * processing. Streaming has no DuckDB oracle by design (§5.4) — these
  * MemoryStream suites are the coverage. The batch twins of these
  * operators (b42–b44, b26) ARE oracle'd: `window`/`session_window`
  * are the same Catalyst operators in both modes, so the semantics
  * tested here carry to the oracle'd plans.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("B45: watermark drops data later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .count()
      .select($"window.start".as("wstart"), $"count")
    val q = agg.writeStream.format("memory").queryName("b45")
      .outputMode("update").start()
    try {
      input.addData((ts("10:00"), 1L), (ts("10:15"), 1L))
      q.processAllAvailable() // watermark advances to 10:05
      input.addData((ts("09:00"), 2L)) // window [09:00,09:10) < watermark → dropped
      input.addData((ts("10:16"), 3L))
      q.processAllAvailable()
      val wstarts = spark.table("b45").select($"wstart").as[Timestamp]
        .collect().toSet
      assert(!wstarts.contains(ts("09:00")), "late row should have been dropped")
      assert(wstarts.contains(ts("10:00")) && wstarts.contains(ts("10:10")))
    } finally q.stop()
  }

  /** The claim c36's production topology rests on, tested across REAL
    * micro-batch boundaries: in append mode, the final emitted window
    * set is the same whether the data arrives as one batch or sliced
    * into several (arrival respecting event-time order up to the
    * lateness bound, which AvailableNow's file slicing preserves for
    * time-ordered files). Windows emit progressively as the watermark
    * passes them, but the union over batches equals the single-batch
    * result — the batching-invariance that lets the same topology run
    * a backfill (one huge batch) and live ingest (many small ones)
    * with identical output.
    */
  test("append-mode windowed agg emits the same final set under any batching") {
    implicit val sqlCtx = spark.sqlContext
    val rows: Seq[(Timestamp, Long)] = Seq(
      (ts("10:00"), 1L), (ts("10:07"), 2L), (ts("10:12"), 3L),
      (ts("10:21"), 4L), (ts("10:33"), 5L), (ts("10:41"), 6L),
      (ts("10:55"), 7L), (ts("11:05"), 8L))
    def run(name: String, batches: Seq[Seq[(Timestamp, Long)]]): Map[Timestamp, Long] = {
      val input = MemoryStream[(Timestamp, Long)]
      val agg = input.toDF().toDF("ts", "v")
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "10 minutes"))
        .agg(sum($"v").as("s"))
        .select($"window.start".as("wstart"), $"s")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[(Timestamp, Long)].collect().toMap
      } finally q.stop()
    }
    val oneBatch = run("mb_one", Seq(rows))
    val threeBatches = run("mb_three", Seq(rows.take(3), rows.slice(3, 6), rows.drop(6)))
    val eightBatches = run("mb_eight", rows.map(Seq(_)))
    assert(oneBatch == threeBatches && oneBatch == eightBatches,
      s"batching changed the emitted set: 1=$oneBatch 3=$threeBatches 8=$eightBatches")
    // And the emitted set is exactly the watermark cut: windows whose
    // end <= max(ts) - lateness (11:05 - 10min -> ends <= 10:55).
    assert(oneBatch.keySet == Set(ts("10:00"), ts("10:10"), ts("10:20"), ts("10:30"), ts("10:40")),
      s"watermark cut wrong: ${oneBatch.keySet}")
  }

  test("B46: dropDuplicatesWithinWatermark suppresses re-arriving keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val dedup = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("b46")
      .outputMode("append").start()
    try {
      input.addData((ts("10:00"), "a"), (ts("10:01"), "a"), (ts("10:02"), "b"))
      q.processAllAvailable()
      input.addData((ts("10:03"), "a")) // still within watermark → duplicate
      q.processAllAvailable()
      val ids = spark.table("b46").select($"id").as[String].collect().toSeq
      assert(ids.count(_ == "a") == 1, s"'a' emitted more than once: $ids")
      assert(ids.count(_ == "b") == 1)
    } finally q.stop()
  }

  test("B47: flatMapGroupsWithState keeps a running per-key count across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val counts = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (String, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          val batch = rows.toSeq
          val next = (n0 + batch.size, s0 + batch.map(_._2).sum)
          state.update(next)
          Iterator((key, next._1, next._2))
      }.toDF("key", "n", "total")
    val q = counts.writeStream.format("memory").queryName("b47")
      .outputMode("update").start()
    try {
      input.addData(("u1", 1.0), ("u1", 2.0), ("u2", 5.0))
      q.processAllAvailable()
      input.addData(("u1", 3.0))
      q.processAllAvailable()
      val byKey = spark.table("b47").as[(String, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(byKey("u1")._2 == 3L && byKey("u1")._3 == 6.0)
      assert(byKey("u2")._2 == 1L && byKey("u2")._3 == 5.0)
    } finally q.stop()
  }

  test("c89 kernel: the snapshot argmax never regresses when OLDER events arrive in later batches") {
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, graft.streaming.Streams.RocksDbProvider)
    // (user_id, event_id, event_type, value, ts_us)
    val input = MemoryStream[(Long, Long, String, Double, Long)]
    val snaps = input.toDS().groupByKey(_._1)
      .transformWithState(new graft.streaming.Streams.LatestSnapshotProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "ts_us", "event_id", "state", "value", "n_mutations")
    val q = snaps.writeStream.format("memory").queryName("c89k")
      .outputMode("update").start()
    try {
      input.addData((1L, 2L, "B", 2.0, 20L))
      q.processAllAvailable()
      // An OLDER mutation arrives in a LATER batch: the argmax must
      // hold (state B, ts 20) while the count still advances — the
      // monotonicity that makes the emission log batching-invariant.
      input.addData((1L, 1L, "A", 9.0, 10L))
      q.processAllAvailable()
      val out = spark.table("c89k")
        .as[(Long, Long, Long, String, Double, Long)].collect().sortBy(_._6)
      assert(out.toSeq == Seq(
        (1L, 20L, 2L, "B", 2.0, 1L), (1L, 20L, 2L, "B", 2.0, 2L)))
    } finally {
      // Restore BEFORE stop: a rethrowing stop() must not leak the
      // provider override into the shared session's later tests.
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      q.stop()
    }
  }

  test("c83 kernel: a run spanning micro-batches closes exactly once, with carried counts") {
    implicit val sqlCtx = spark.sqlContext
    // (user_id, event_id, event_type, ts_us)
    val input = MemoryStream[(Long, Long, String, Long)]
    val runs = graft.streaming.Streams.scd2Runs(input.toDS())
    val q = runs.writeStream.format("memory").queryName("c83k")
      .outputMode("append").start()
    try {
      // Batch 1: user 1 state A twice — nothing closes yet (A is open).
      input.addData((1L, 1L, "A", 10L), (1L, 2L, "A", 20L))
      q.processAllAvailable()
      assert(spark.table("c83k").count() == 0L,
        "open run must stay in state, not emit")
      // Batch 2: B closes the carried A run (n=2 ACROSS batches, from=10),
      // then A closes B — versions keep counting from the carry.
      input.addData((1L, 3L, "B", 30L), (1L, 4L, "A", 40L))
      q.processAllAvailable()
      val out = spark.table("c83k")
        .as[(Long, Long, String, Long, Long, Long)].collect().sortBy(_._2)
      assert(out.toSeq == Seq(
        (1L, 1L, "A", 10L, 30L, 2L), (1L, 2L, "B", 30L, 40L, 1L)))
    } finally q.stop()
  }

  test("c129 kernel: an island spanning micro-batches closes once with carried extent") {
    implicit val sqlCtx = spark.sqlContext
    val width = graft.ops.Insights.IntervalUs
    // (user_id, event_id, interval start in µs)
    val input = MemoryStream[(Long, Long, Long)]
    val runs = graft.streaming.Streams.islandRuns(input.toDS())
    val q = runs.writeStream.format("memory").queryName("c129k")
      .outputMode("append").start()
    try {
      // Batch 1: two overlapping intervals — one OPEN island, no output.
      input.addData((1L, 1L, 0L), (1L, 2L, width / 2))
      q.processAllAvailable()
      assert(spark.table("c129k").count() == 0L,
        "open island must stay in state, not emit")
      // Batch 2: an event past the carried island's end closes it with
      // the extent and count accumulated ACROSS batches.
      input.addData((1L, 3L, width * 4))
      q.processAllAvailable()
      val out = spark.table("c129k")
        .as[(Long, Long, Long, Long)].collect()
      assert(out.toSeq == Seq((1L, 0L, width / 2 + width, 2L)),
        s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("c136 kernel: taps carried across micro-batches reproduce the batch FIR") {
    implicit val sqlCtx = spark.sqlContext
    val taps = graft.ops.Insights.EwmaTaps
    // (user_id, event_id, value, ts_us)
    val input = MemoryStream[(Long, Long, Double, Long)]
    val runs = graft.streaming.Streams.ewmaRuns(input.toDS())
    val q = runs.writeStream.format("memory").queryName("c136k")
      .outputMode("append").start()
    try {
      val vals = (1 to taps + 1).map(i => i * 1.5)
      // Batch 1: 15 events — kernel not yet full, nothing emits.
      input.addData((1 until taps).map(i => (1L, i.toLong, vals(i - 1), i * 10L)): _*)
      q.processAllAvailable()
      assert(spark.table("c136k").count() == 0L, "kernel must fill first")
      // Batch 2: two more events — each emits one FIR over state+batch.
      input.addData((1L, taps.toLong, vals(taps - 1), taps * 10L),
        (1L, (taps + 1).toLong, vals(taps), (taps + 1) * 10L))
      q.processAllAvailable()
      val out = spark.table("c136k")
        .as[(Long, Long, Double, Double)].collect().sortBy(_._2)
      assert(out.length == 2)
      def fir(latestIdx: Int): Double = (0 until taps)
        .map(k => vals(latestIdx - k) * graft.ops.Insights.ewmaWeight(k))
        .reduce(_ + _)
      assert(out(0)._4 == fir(taps - 1) && out(1)._4 == fir(taps),
        s"got ${out.map(_._4).toSeq}")
    } finally q.stop()
  }

  test("c149 kernel: the last-timestamp carry crosses micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val runs = graft.streaming.Streams.gapBucketRuns(input.toDS())
    val q = runs.writeStream.format("memory").queryName("c149k")
      .outputMode("append").start()
    try {
      input.addData((1L, 1L, 0L))
      q.processAllAvailable()
      assert(spark.table("c149k").count() == 0L, "first event has no gap")
      // 5 s later (bucket 2: [4,7]) and 1000 s later (bucket 9: [512,1023]),
      // the first gap SPANNING the batch boundary.
      input.addData((1L, 2L, 5000000L), (1L, 3L, 1005000000L))
      q.processAllAvailable()
      val out = spark.table("c149k").as[(Long, Int)].collect().sortBy(_._2)
      assert(out.toSeq == Seq((1L, 2), (1L, 9)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("c150 kernel: the two-type carry completes trigrams across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Long)]
    val runs = graft.streaming.Streams.pathTrigramRuns(input.toDS())
    val q = runs.writeStream.format("memory").queryName("c150k")
      .outputMode("append").start()
    try {
      input.addData((1L, 1L, "a", 10L), (1L, 2L, "b", 20L))
      q.processAllAvailable()
      assert(spark.table("c150k").count() == 0L, "two types are not a trigram")
      input.addData((1L, 3L, "c", 30L), (1L, 4L, "d", 40L))
      q.processAllAvailable()
      val out = spark.table("c150k").as[Tuple1[String]].collect().map(_._1)
      assert(out.sorted.toSeq == Seq("a>b>c", "b>c>d"), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("stream-stream join matches keys only within the time horizon") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = graft.streaming.Streams.enrichJoin(
      imps.toDF().toDF("ts", "key"),
      clicks.toDF().toDF("rts", "rkey"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      imps.addData((ts("10:00"), "a"), (ts("10:00"), "b"))
      clicks.addData(
        (ts("10:05"), "a"),  // within 10 min of a's impression → match
        (ts("10:30"), "b"))  // 30 min later → outside horizon → no match
      q.processAllAvailable()
      import spark.implicits._
      val keys = spark.table("ssj").select($"key").as[String].collect().toSeq
      assert(keys == Seq("a"), s"expected only 'a' to join, got $keys")
    } finally q.stop()
  }

  /** Runs `body` with the state-store provider set to `provider`
    * (None = Spark's default), restoring the prior provider after —
    * the c89 conf-hygiene discipline factored out.
    */
  private def withStateStore[A](provider: Option[String])(body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    provider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
    try body finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  /** [[withStateStore]] on the RocksDB provider (required by
    * transformWithState). */
  private def withRocksDb[A](body: => A): A =
    withStateStore(Some(graft.streaming.Streams.RocksDbProvider))(body)

  test("checkpoint recovery: c83 stop/restart resumes exactly — no loss, no double-emit (fMGWS + tws)") {
    // Round-12 verdict item 5: the production property the stateful
    // kernels had not proven. Drive the scd2 topology against a FILE
    // checkpoint, stop the query mid-stream (batch 1 committed, batch
    // 2 not yet ingested), restart from the checkpoint, and require the
    // resumed run to emit EXACTLY the one-shot answer: the open run
    // carried in state before the stop must close with its carried
    // count (state restored, no loss) and batch-1 emissions must not
    // re-emit through the file sink's manifest (no double-emit). A
    // third restart with no new data must change nothing (idempotent
    // recovery). Runs on the RocksDB provider, the deployment-realistic
    // store.
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_fmgws").toFile
      graft.streaming.Streams.trackTmpDir(base.toString)
      val ckpt = new java.io.File(base, "ckpt").toString
      val outDir = new java.io.File(base, "out").toString
      val input = MemoryStream[(Long, Long, String, Long)]
      val runs = graft.streaming.Streams.scd2Runs(input.toDS())
      def start() = runs.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      // Batch 1: user 1's run (A, 2 events) stays OPEN in state;
      // user 2's (X) likewise. Nothing emits yet.
      val q1 = start()
      input.addData((1L, 1L, "A", 10L), (1L, 2L, "A", 20L), (2L, 10L, "X", 15L))
      q1.processAllAvailable(); q1.stop()
      // The kill window: data arrives while the query is DOWN.
      input.addData((1L, 3L, "B", 30L), (1L, 4L, "C", 40L), (2L, 11L, "Y", 25L))
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val q3 = start(); q3.processAllAvailable(); q3.stop()
      val got = spark.read.parquet(outDir).collect()
        .map(_.mkString("|")).sorted.toSeq
      // The one-shot oracle: closed runs only, each exactly once —
      // v1 of user 1 carries BOTH batch-1 events (state survived the
      // stop), closed by batch 2's B; C and Y stay open (unemitted).
      assert(got == Seq("1|1|A|10|30|2", "1|2|B|30|40|1", "2|1|X|15|25|1"),
        s"resumed emissions diverge from the one-shot oracle: $got")
    }
  }

  test("legacy-API checkpoint safety: a pre-frontier scd2 checkpoint fails to resume under scd2Runs with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE") {
    // The five run kernels (c83/c129/c136/c149/c150) run on
    // flatMapGroupsWithState and carry no versioned state names: their
    // checkpoint safety rests on Spark validating the state schema on
    // resume. Pinned with scd2: a probe with the pre-frontier state
    // shape (String, Long, Long, Long) and scd2Runs' output schema
    // writes a checkpoint; resuming it under Streams.scd2Runs (state
    // ((Long, Long), (String, Long, Long, Long))) on the default
    // provider — the one the registered keys run on — must fail
    // LOUDLY with the schema-incompatibility error class, never start
    // from an emptied store.
    implicit val sqlCtx = spark.sqlContext
    withStateStore(None) {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_legacy").toFile
      graft.streaming.Streams.trackTmpDir(base.toString)
      val ckpt = new java.io.File(base, "ckpt").toString
      val outDir = new java.io.File(base, "out").toString
      val input = MemoryStream[(Long, Long, String, Long)]
      def start(df: org.apache.spark.sql.DataFrame) = df.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val probe = input.toDS().groupByKey(_._1)
        .flatMapGroupsWithState[(String, Long, Long, Long),
          (Long, Long, String, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_: Long, rows: Iterator[(Long, Long, String, Long)],
           gs: GroupState[(String, Long, Long, Long)]) =>
            rows.foreach(r => gs.update((r._3, r._4, 1L, 1L)))
            Iterator.empty
        }
        .toDF("user_id", "version", "state", "valid_from_us", "valid_to_us",
          "n_events")
      val q1 = start(probe)
      input.addData((1L, 1L, "A", 10L))
      q1.processAllAvailable(); q1.stop()
      val e = intercept[Exception] {
        val q2 = start(graft.streaming.Streams.scd2Runs(input.toDS()))
        try { input.addData((1L, 2L, "B", 20L)); q2.processAllAvailable() }
        finally q2.stop()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(chain.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
        s"the resume must fail with the state-schema error class, got:\n$chain")
    }
  }

  test("state-schema versioning: a pre-v2 checkpoint resumed under the v2 state name fails LOUDLY, naming the variable") {
    // transformWithState names its state variables, and the stores of
    // its versioned kernels say so: c167's TombstoneGcProcessor keeps
    // `gc_v1`. Simulated with an UNVERSIONED probe (state variable
    // `gc`, a bare mutation count, same key and row types) that writes
    // a checkpoint; the production kernel (`gc_v1`) must not resume it
    // blind. The guard refuses, naming both sides; the bare resume is
    // pinned as the silent-state-loss hazard the guard exists for.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Dataset, Encoders, Row}
    class UnversionedGc extends StatefulProcessor[Long,
        (Long, Long, String, Double, Long, Boolean),
        (Long, Long, Long, Boolean, String, Double, Long, Long, Long, Long)] {
      @transient private var st: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Long]("gc", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(user: Long,
          rows: Iterator[(Long, Long, String, Double, Long, Boolean)],
          timerValues: TimerValues)
        : Iterator[(Long, Long, Long, Boolean, String, Double, Long, Long, Long, Long)] = {
        st.update((if (st.exists()) st.get() else 0L) + rows.size)
        Iterator.empty
      }
    }
    def start(emissions: org.apache.spark.sql.DataFrame, ckpt: String, outDir: String) =
      emissions.writeStream.outputMode("update")
        .foreachBatch((b: Dataset[Row], _: Long) => b.write.mode("append").parquet(outDir))
        .option("checkpointLocation", ckpt).start()
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_vmix").toFile
      graft.streaming.Streams.trackTmpDir(base.toString)
      val ckpt = new java.io.File(base, "ckpt").toString
      val outDir = new java.io.File(base, "out").toString
      val input = MemoryStream[(Long, Long, String, Double, Long, Boolean)]
      val unversioned = input.toDS().groupByKey(_._1)
        .transformWithState(new UnversionedGc, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "m_ts", "m_eid", "m_del", "m_type", "m_val",
          "tomb_ts", "n_writes", "n_deletes", "max_ts")
      val q1 = start(unversioned, ckpt, outDir)
      input.addData((1L, 1L, "A", 1.0, 10L, false), (1L, 2L, "B", 2.0, 20L, false))
      q1.processAllAvailable(); q1.stop()
      // THE GUARD, run where it belongs — BEFORE start(): the
      // preflight reads the checkpoint's recorded state variables and
      // refuses, naming both sides. (It must run before the first
      // incompatible start — an incompatible run REWRITES the
      // operator metadata to the new variable set, after which the
      // loss has already happened.)
      val e = intercept[IllegalStateException] {
        graft.streaming.Streams.requireStateVersion(ckpt, Set("gc_v1"))
      }
      assert(e.getMessage.contains("[gc]") && e.getMessage.contains("[gc_v1]"),
        s"the refusal must name recorded and required variables: ${e.getMessage}")
      // THE HAZARD, pinned: Spark 4.1 treats variable add/remove as
      // allowed evolution, so a bare resume under the versioned kernel
      // does NOT fail — it silently starts gc_v1 empty. If a Spark
      // upgrade ever makes this throw, the guard above becomes
      // redundant and this pin should be revisited.
      val q2 = start(graft.streaming.Streams.gcFoldTws(input.toDS()), ckpt, outDir)
      try { input.addData((1L, 3L, "C", 3.0, 30L, false)); q2.processAllAvailable() }
      finally q2.stop()
      // ...and the silent resume DID lose user 1's two batch-1 writes:
      // the only fold emitted counts batch 2's single mutation.
      val folds = spark.read.parquet(outDir).select("n_writes", "n_deletes")
        .as[(Long, Long)].collect().toSeq
      assert(folds == Seq((1L, 0L)),
        s"expected the unversioned state to be silently LOST, got: $folds")
      // A gc_v1-written checkpoint passes the same preflight, and a
      // fresh (nonexistent) checkpoint passes trivially.
      val base2 = java.nio.file.Files.createTempDirectory("graft_ckpt_v1ok").toFile
      graft.streaming.Streams.trackTmpDir(base2.toString)
      val ckpt2 = new java.io.File(base2, "ckpt").toString
      val input2 = MemoryStream[(Long, Long, String, Double, Long, Boolean)]
      val q3 = start(graft.streaming.Streams.gcFoldTws(input2.toDS()), ckpt2,
        new java.io.File(base2, "out").toString)
      input2.addData((1L, 1L, "A", 1.0, 10L, false))
      q3.processAllAvailable(); q3.stop()
      graft.streaming.Streams.requireStateVersion(ckpt2, Set("gc_v1"))
      graft.streaming.Streams.requireStateVersion(
        new java.io.File(base2, "never_started").toString, Set("gc_v1"))
    }
  }

  test("c160 multi-batch: per-batch emissions sum to the batch answer; no pair emits twice across >=3 batches") {
    // The verification key drains the dirty source as one AvailableNow
    // gulp; a LIVE reconciliation ingests micro-batch by micro-batch.
    // Statelessness makes that safe ONLY IF each dirty record arrives
    // in exactly one batch — pinned here: 3 feed files, one per
    // micro-batch, per-batch emission counts must SUM to the batch
    // answer, the pair set must be duplicate-free across batches, and
    // the union must equal batch c159 exactly.
    import org.apache.spark.sql.{Dataset, Row}
    val sfDir = TestSpark.sf0001
    val cust = Tables.t(spark, sfDir, "customer")
    val base = java.nio.file.Files.createTempDirectory("graft_c160_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    cust.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val linked = graft.ops.Llm.linkPairs(
      graft.ops.Llm.linkClean(cust), graft.ops.Llm.linkDirty(stream))
    // Idempotent per-batch writes (the c162 discipline): each batch
    // overwrites its own batch_id=<id> directory, so a foreachBatch
    // replay after a crash cannot double-write.
    val q = linked.writeStream.outputMode("append")
      .foreachBatch((b: Dataset[Row], id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"one-file-per-trigger must yield >=3 micro-batches, " +
        s"got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    val emitted = spark.read.parquet(out)
    val batch = graft.ops.Llm.recordLinkage(spark, sfDir)
    val batchN = batch.count()
    val perBatch = emitted.groupBy(col("batch_id").cast("long").as("batch_id"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch.values.sum == batchN,
      s"per-batch sums ${perBatch} != batch answer $batchN")
    assert(emitted.select("cust_id", "dirty_id").distinct().count() == batchN,
      "a pair emitted twice across micro-batches")
    val streamed = emitted.drop("batch_id")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "multi-batch union diverges from batch c159")
  }

  test("c162 multi-batch: every dirty record decides exactly once; union equals batch c161 across >=3 batches") {
    // The per-micro-batch resolution claim: a dirty record's candidate
    // set is complete within its own batch (static clean side), so the
    // batch-local argmax + unmatched rows ARE the global decision —
    // pinned across a real 3-file feed.
    import org.apache.spark.sql.{Dataset, Row}
    val sfDir = TestSpark.sf0001
    val cust = Tables.t(spark, sfDir, "customer")
    val base = java.nio.file.Files.createTempDirectory("graft_c162_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    cust.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val clean = graft.ops.Llm.linkClean(cust)
    val stream = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = stream.writeStream
      .foreachBatch((b: Dataset[Row], id: Long) =>
        graft.ops.Llm.resolveFrom(clean, graft.ops.Llm.linkDirty(b))
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "one-file-per-trigger must yield >=3 micro-batches")
    val emitted = spark.read.parquet(out)
    val batch = graft.ops.Llm.linkageResolution(spark, sfDir)
    val batchN = batch.count()
    assert(emitted.count() == batchN && emitted.select("dirty_id").distinct().count() == batchN,
      "every dirty record must decide exactly once across batches")
    val streamed = emitted.drop("batch_id")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "multi-batch resolution union diverges from batch c161")
    // Exactly-once under foreachBatch's at-least-once contract: a
    // crash between a batch's write job and its checkpoint commit
    // REPLAYS the batch on restart. The deterministic batch_id=<id>
    // overwrite makes the replay idempotent — pinned by re-writing
    // batch 0's own decisions into its directory and observing no
    // growth anywhere.
    val b0 = spark.read.parquet(s"$out/batch_id=0")
    val b0Rows = b0.collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(b0Rows), b0.schema)
      .write.mode("overwrite").parquet(s"$out/batch_id=0")
    assert(spark.read.parquet(out).count() == batchN,
      "a replayed batch write must not change the decision set")
  }

  test("state-version guard FAILS CLOSED on unparseable metadata and reads every operator, not just 0") {
    // ADVICE (r14): the guard used to inspect only state/0 and, if a
    // future Spark changed the metadata layout or the stateName JSON
    // spelling, parsed zero names and silently PASSED — the exact
    // silent-state-loss scenario it exists to prevent.
    def mkCkpt(tag: String): java.io.File = {
      val base = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$tag").toFile
      graft.streaming.Streams.trackTmpDir(base.toString)
      base
    }
    def writeMeta(ckpt: java.io.File, opId: Int, content: String): Unit = {
      val d = new java.io.File(ckpt, s"state/$opId/_metadata/v2")
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "0").toPath,
        content.getBytes("UTF-8"))
      ()
    }
    // 1. Metadata exists but zero stateName entries parse → throw,
    //    never pass blind.
    val blind = mkCkpt("blind")
    writeMeta(blind, 0, """{"someFutureLayout":{"vars":[{"name":"scd2"}]}}""")
    val e1 = intercept[IllegalStateException] {
      graft.streaming.Streams.requireStateVersion(blind.toString, Set("scd2_v2"))
    }
    assert(e1.getMessage.contains("zero") && e1.getMessage.contains("Refusing"),
      e1.getMessage)
    // 2. An incompatible variable recorded under operator 1 (not 0)
    //    is seen — the guard iterates all state/<opId> directories.
    val multi = mkCkpt("multiop")
    writeMeta(multi, 0, """{"stateName":"ewma_v2"}""")
    writeMeta(multi, 1, """{"stateName":"scd2"}""")
    val e2 = intercept[IllegalStateException] {
      graft.streaming.Streams.requireStateVersion(multi.toString,
        Set("ewma_v2", "scd2_v2"))
    }
    assert(e2.getMessage.contains("scd2") && e2.getMessage.contains("scd2_v2"),
      e2.getMessage)
    // 3. Compatible names across both operators pass.
    graft.streaming.Streams.requireStateVersion(multi.toString, Set("ewma_v2"))
    // 4. A checkpoint with a state dir but NO v2 metadata (legacy
    //    non-TWS operators) records nothing and passes — the guard
    //    only binds what the checkpoint can prove.
    val legacy = mkCkpt("legacyop")
    new java.io.File(legacy, "state/0/_metadata").mkdirs()
    graft.streaming.Streams.requireStateVersion(legacy.toString, Set("scd2_v2"))
  }

  test("checkpoint recovery: c167 stop/restart resumes the GC fold exactly — no loss, no double-count") {
    // The c83 recovery script applied to the tombstone-GC fold: ingest
    // a batch, stop, let mutations (including the DELETE) arrive while
    // the query is down, restart from the checkpoint, and require the
    // compacted emission log to equal the batch kernel over ALL data —
    // counts prove state survived (a lost fold undercounts, a replayed
    // one overcounts), the delete's shadowing proves the argmax
    // resumed, and an idle third restart must change nothing.
    implicit val sqlCtx = spark.sqlContext
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isDel(eid: Long): Boolean = md5hex(s"del:$eid").head == '0'
    val delId = Iterator.from(1).map(_.toLong).find(isDel).get
    val wIds = Iterator.from(1).map(_.toLong).filterNot(isDel).take(3).toSeq
    val G = graft.ops.Migration.GcGraceUs
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_c167").toFile
      graft.streaming.Streams.trackTmpDir(base.toString)
      val ckpt = new java.io.File(base, "ckpt").toString
      val outDir = new java.io.File(base, "out").toString
      val input = MemoryStream[(Long, Long, String, Double, Long, Boolean)]
      val emissions = graft.streaming.Streams.gcFoldTws(input.toDS())
      def start() = emissions.writeStream.outputMode("update")
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(outDir))
        .option("checkpointLocation", ckpt).start()
      val batch1 = Seq(
        (1L, wIds(0), "A", 1.0, G + 1, isDel(wIds(0))),
        (2L, wIds(1), "B", 2.0, 2 * G, isDel(wIds(1))))
      val batch2 = Seq(
        (1L, delId, "D", 0.0, G + 2, isDel(delId)), // delete lands AFTER the stop
        (1L, wIds(2), "C", 3.0, G + 3, isDel(wIds(2))))
      val q1 = start(); input.addData(batch1: _*)
      q1.processAllAvailable(); q1.stop()
      input.addData(batch2: _*) // arrives while the query is DOWN
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val q3 = start(); q3.processAllAvailable(); q3.stop() // idle restart
      val got = graft.streaming.Streams.gcCompact(spark.read.parquet(outDir))
        .collect().map(_.mkString("|")).sorted.toSeq
      import spark.implicits._
      val all = (batch1 ++ batch2).map(t => (t._1, t._2, t._3, t._4, t._5))
        .toDF("user_id", "event_id", "event_type", "value", "ts_us")
      val oneShot = graft.ops.Migration.tombstoneGcFrom(all)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(got == oneShot,
        s"resumed GC diverges from the one-shot batch kernel:\n$got\nvs\n$oneShot")
      // The recovery actually exercised the interesting rows: user 1
      // ends with 2 writes + 1 delete and a RETAINED disposition.
      assert(oneShot.exists(r => r.startsWith("1|C|") && r.endsWith("|2|1|retained")),
        s"script lost its target shape: $oneShot")
    }
  }

  test("c167: streaming tombstone GC converges to batch a24 across real micro-batches") {
    // The fold is mergeable, so the compacted emission log must equal
    // the batch compaction under ANY batching — pinned on a 3-file
    // feed (one file per trigger), including the grace decisions and
    // the vanished fully-collected keys.
    val sfDir = TestSpark.sf0001
    val ev = Tables.t(spark, sfDir, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_c167_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    ev.repartition(3).write.parquet(feed)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = s2.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val got = graft.streaming.Streams.streamTombstoneGcOf(stream)
    val batch = graft.ops.Migration.tombstoneGc(spark, sfDir)
    assert(got.count() == batch.count() && batch.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streamed GC diverges from batch a24")
  }

  test("c172: streaming TTL expiry converges to batch a26 across real micro-batches") {
    // The state is the plain latest-wins fold (the store doesn't know
    // TTLs exist); expiry is a read-side predicate over the compacted
    // emissions. Pinned on a 3-file feed (one file per trigger): the
    // read must equal batch a26 exactly, including fully-expired rows
    // DISAPPEARING (count strictly below the input keys).
    val sfDir = TestSpark.sf0001
    val o = Tables.t(spark, sfDir, "orders")
    val base = java.nio.file.Files.createTempDirectory("graft_c172_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    o.repartition(3).write.parquet(feed)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = s2.readStream.schema(o.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val got = graft.streaming.Streams.streamTtlExpiryOf(stream)
    val batch = graft.ops.Migration.ttlExpiry(spark, sfDir)
    assert(got.count() == batch.count() && batch.count() > 0)
    assert(batch.count() < o.count(), "fixture must contain fully-expired rows")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streamed TTL read diverges from batch a26")
  }

  test("c176: streaming ANN probes equal the batched-index answer across real micro-batches") {
    // Probes split across >= 3 micro-batches; the index side is the
    // static persisted store, so per-batch answers must union to the
    // batch kernel exactly (each probe in exactly one batch).
    import org.apache.spark.sql.{Dataset, Row}
    val sfDir = TestSpark.sf0001
    val emb = Tables.t(spark, sfDir, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft_c176_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    emb.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .where(col("vec_id") < 10)
    val q = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        graft.ops.NearDup.batchAnnIvfOf(batch.sparkSession, sfDir,
          batch.select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.length}")
    val emitted = spark.read.parquet(out).drop("batch_id")
    val batch = graft.ops.NearDup.batchAnnIvf(spark, sfDir)
    assert(emitted.count() == batch.count() && batch.count() > 0)
    assert(emitted.exceptAll(batch).isEmpty && batch.exceptAll(emitted).isEmpty,
      "streamed probe answers diverge from the batched-index kernel")
  }

  test("c180: streaming index ingest converges to the batch c177 ledger across real micro-batches") {
    // Arrivals split across >= 3 micro-batches; each batch assigns its
    // own arrivals to the STATIC persisted quantizer and emits per-cell
    // counts (stateless — each arrival in exactly one batch), the read
    // side merges and joins the static base occupancy through the
    // shared ledger kernel. The merged ledger must equal batch c177
    // row-for-row under ANY batching.
    import org.apache.spark.sql.{Dataset, Row}
    import graft.ops.NearDup
    val sfDir = TestSpark.sf0001
    NearDup.ingestCentroids(spark, sfDir)
    val emb = Tables.t(spark, sfDir, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft_c180_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    emb.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .where(NearDup.ingestIsNew)
      .select(col("vec_id"), col("embedding"))
    val q = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        NearDup.kmAssign(batch.select(col("vec_id"), col("embedding")),
            NearDup.ingestCentroids(batch.sparkSession, sfDir))
          .groupBy(col("cluster")).agg(count(lit(1)).as("n_new"))
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.length}")
    val nNew = spark.read.parquet(out).drop("batch_id")
      .groupBy(col("cluster")).agg(sum(col("n_new")).as("n_new"))
    val nBase = NearDup.ingestSegment(spark, sfDir, arrivals = false)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val streamed = NearDup.ingestLedgerFrom(nBase, nNew)
    val batch = NearDup.incrementalIndexIngest(spark, sfDir)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed ingest ledger diverges from batch c177")
  }

  test("c191: streaming n-gram novelty equals batch c185 across real micro-batches") {
    // Candidate docs split across >= 3 micro-batches; each batch
    // scores ITS test docs against the STATIC train gram set through
    // the shared noveltyOf kernel (stateless — a doc's novelty depends
    // only on its own grams + the standing artifact), so the emission
    // union must equal batch c185 row-for-row under ANY batching.
    import org.apache.spark.sql.{Dataset, Row}
    import graft.ops.TextAnalysis
    val sfDir = TestSpark.sf0001
    val docs = Tables.t(spark, sfDir, "documents")
    val trainG = TextAnalysis.trainGramSet(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_c191_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    docs.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        TextAnalysis.noveltyOf(
            TextAnalysis.gramSplit(batch).where(col("split") === "test"), trainG)
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.length}")
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batch = TextAnalysis.ngramNovelty(spark, sfDir)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed novelty diverges from batch c185")
  }

  test("c193: streaming KN scoring equals batch c189 across real micro-batches") {
    // Candidate docs split across >= 3 micro-batches; each batch
    // scores ITS test docs against the STATIC persisted model tables
    // through the shared knScoreOf kernel (stateless — a doc's score
    // depends only on its own bigrams + the standing LM artifact).
    import org.apache.spark.sql.{Dataset, Row}
    import graft.ops.TextAnalysis
    val sfDir = TestSpark.sf0001
    val docs = Tables.t(spark, sfDir, "documents")
    val m = TextAnalysis.knModel(
      TextAnalysis.knSplitDocs(docs).where(col("split") === "train"))
    val base = java.nio.file.Files.createTempDirectory("graft_c193_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    docs.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        TextAnalysis.knScoreOf(
            TextAnalysis.knSplitDocs(batch).where(col("split") === "test"), m)
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.length}")
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batch = TextAnalysis.knPerplexity(spark, sfDir)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed KN scores diverge from batch c189")
  }

  test("c195: streaming CDC gate equals batch c194 across real micro-batches") {
    // Incoming docs split across >= 3 micro-batches; each batch
    // chunks ITS docs and probes the STATIC base fingerprint store
    // through the shared cdcGateOf kernel (stateless — a doc's
    // verdicts depend only on its own bytes + the standing index).
    import org.apache.spark.sql.{Dataset, Row}
    import graft.ops.{Llm, NearDup}
    val sfDir = TestSpark.sf0001
    val docs = Tables.t(spark, sfDir, "documents")
    val store = NearDup.cdcBaseStore(docs)
    val base = java.nio.file.Files.createTempDirectory("graft_c195_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    docs.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .where(Llm.isIncoming(col("doc_id")))
    val q = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        NearDup.cdcGateOf(batch, store)
          .write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.length}")
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batch = NearDup.cdcIncremental(spark, sfDir)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed CDC gate diverges from batch c194")
  }

  test("c166: streaming frame dedup is STATELESS and equals the batch kernel across real micro-batches") {
    // Same discipline as c160: the topology must analyze to generate +
    // stream-static join only, and per-frame reference rows must union
    // to the batch answer across a multi-file feed (each doc arrives
    // in exactly one micro-batch, so no hit can emit twice).
    import org.apache.spark.sql.{Dataset, Row}
    import graft.ops.Multimodal
    val sfDir = TestSpark.sf0001
    val docs = Tables.t(spark, sfDir, "documents")
    val store = Multimodal.baseFrameStore(Multimodal.mediaTable(spark, sfDir))
    val base = java.nio.file.Files.createTempDirectory("graft_c166_mb").toFile
    graft.streaming.Streams.trackTmpDir(base.toString)
    val feed = new java.io.File(base, "feed").toString
    docs.repartition(3).write.parquet(feed)
    val out = new java.io.File(base, "out").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val hits = Multimodal.frameHitsOf(Multimodal.mediaOf(stream), store)
    assert(hits.isStreaming)
    val plan = hits.queryExecution.analyzed.toString
    Seq("Deduplicate", "FlatMapGroupsWithState", "TransformWithState")
      .foreach(op => assert(!plan.contains(op), s"stateful $op:\n$plan"))
    val q = hits.writeStream.outputMode("append")
      .foreachBatch((b: Dataset[Row], id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected >=3 micro-batches: ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    val emitted = spark.read.parquet(out).drop("batch_id")
    val batch = Multimodal.frameHitsOf(
      Multimodal.mediaTable(spark, sfDir), store)
    assert(emitted.count() == batch.count() && batch.count() > 0)
    assert(emitted.exceptAll(batch).isEmpty && batch.exceptAll(emitted).isEmpty,
      "streamed frame references diverge from the batch kernel")
  }

  test("c160: streaming record linkage is STATELESS — no dedup/agg/window state, append-safe by shape") {
    // The pass-union DISTINCT a naive port would need is a stateful
    // dedup; linkPairs replaces it with a row-local disjointness
    // filter, so the whole topology must analyze to joins + filters +
    // union only — nothing that holds cross-batch state.
    val sfDir = TestSpark.sf0001
    val schema = Tables.t(spark, sfDir, "customer").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "customer.parquet").parquet(sfDir)
    val linked = graft.ops.Llm.linkPairs(
      graft.ops.Llm.linkClean(Tables.t(spark, sfDir, "customer")),
      graft.ops.Llm.linkDirty(stream))
    assert(linked.isStreaming)
    val plan = linked.queryExecution.analyzed.toString
    Seq("Deduplicate", "Aggregate", "Window", "FlatMapGroupsWithState",
      "TransformWithState").foreach { op =>
      assert(!plan.contains(op), s"stateful operator $op in the c160 plan:\n$plan")
    }
  }

  test("order guard: an out-of-order event across batches fails LOUDLY, never silently corrupts") {
    // ADVICE round 11: streamTable streams a DIRECTORY with no
    // file-order guarantee — an island start arriving BEFORE the
    // carried frontier must throw, not silently extend a closed run.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.Streams.islandRuns(input.toDS())
      .writeStream.format("memory").queryName("c129_guard")
      .outputMode("append").start()
    try {
      input.addData((1L, 2L, 5000000L)); q.processAllAvailable()
      input.addData((1L, 1L, 1000000L)) // ts regresses past the frontier
      val e = intercept[Throwable] { q.processAllAvailable() }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).take(10)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" <- ")
      assert(chain.contains("out-of-order"),
        s"expected the islandRuns frontier guard in the cause chain: $chain")
    } finally q.stop()
  }

  test("a warm streaming key compiles no class: every session shares the codegen cache") {
    // c83 runs its stateful fold in a child session (Streams.stateSession),
    // c162 in the main session; each streaming query runs in a clone of
    // its session. The codegen cache keys on the classloader, so with a
    // loader per session the second run recompiles (15 and 22 classes
    // with artifact isolation on); with one loader per JVM it compiles
    // nothing.
    import org.apache.spark.metrics.source.CodegenMetrics
    val keys = Seq("c83_stream_scd2", "c162_stream_linkage_resolution")
    def runAll(): Unit = keys.foreach { k =>
      SparkEntry.queries(k)(spark, TestSpark.sf0001).queryExecution.toRdd.count(); ()
    }
    runAll()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runAll()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0L, s"the second run of ${keys.mkString(", ")} compiled $compiled classes")
  }
}
