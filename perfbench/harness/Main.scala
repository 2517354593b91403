package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry}
import graft.ops.{CurationRun, Llm, Migration, NearDup}
import graft.sources.{ParquetSink, ParquetSource, WriteConf}

/** One timed operation of a workload. */
final case class Op(key: String, wall: Double, traced: Boolean,
    rows: Long = -1L, error: String = "", extra: Map[String, String] = Map.empty) {
  def toJson: String = Json.obj(Seq(
    "key" -> Json.str(key), "wall_s" -> Json.num(wall), "traced" -> traced.toString,
    "rows" -> rows.toString, "error" -> Json.str(error)) ++ extra)
}

/** Benchmark harness: drives the compiled engine through its public and
  * `private[graft]` entry points, one workload per JVM.
  *
  * Arguments are `name=value` pairs:
  *  - `workload` query_mix | pipelines_cold
  *  - `data`     generated inputs (pipelines_cold: `corpus/` and `keyspace/`)
  *  - `work`     scratch directory for outputs, manifests and run dirs
  *  - `out`      result JSON path
  *  - `seconds`  query_mix: about how long the timed passes last
  *  - `trace`    0 or 1
  *  - `cpus`     local[] width
  *  - `keys`     query_mix: comma-separated keys in run order
  *  - `stream`   query_mix: the subset of `keys` that are streaming keys
  *
  * Timed operations start after the session and query_mix's warm-up;
  * outputs are written for checking only outside them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Tracer.nano0 // pins the span clock's origin to JVM start
    val workload = o("workload")
    val cpus = o("cpus").toInt
    val trace = o("trace") == "1"
    val work = o("work")

    val t0 = System.nanoTime()
    val b = Sessions.local(cpus.toString).appName(s"perfbench-$workload")
    if (trace) b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
    val spark = b.getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(NearDup.VecStoreDirConf, s"$work/vecstore")
    spark.conf.set(CurationRun.RunDirConf, s"$work/curation")

    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext, spark.sparkContext.applicationId)
      spark.sparkContext.addSparkListener(t.listener)
      Some(t)
    } else None
    val run = new Run(spark, tracer, o, cpus)
    workload match {
      case "query_mix" => run.queryMix()
      case "pipelines_cold" => run.pipelinesCold()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checked = run.ops.map(_.key).distinct
    Files.createDirectories(Paths.get(s"$work/out"))
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
      Json.obj(checked.filter(SparkEntry.oracleSql.contains)
        .map(k => k -> Json.str(SparkEntry.oracleSql(k)))) + "\n")
    tracer.foreach(_.drain())
    val layers = tracer.map(run.layerMetrics(_, sessionS)).getOrElse(Map.empty)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_s" -> Json.num(sessionS),
      "first_op_epoch_ms" -> run.firstOpEpochMs.toString,
      "warm" -> run.warm.map(_.toJson).mkString("[", ",", "]"),
      "ops" -> run.ops.map(_.toJson).mkString("[", ",\n", "]"),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(o("out")), json + "\n")
    tracer.foreach(t => Files.writeString(Paths.get(o("out") + ".spans.json"), t.toJson + "\n"))
    spark.stop()
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Process high-water resident set (VmHWM), in MiB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

final class Run(spark: SparkSession, tracer: Option[Tracer],
    o: Map[String, String], cpus: Int) {
  import Run._
  val data: String = o("data")
  val work: String = o("work")
  val seconds: Double = o("seconds").toDouble
  val warm = mutable.ArrayBuffer.empty[Op]
  val ops = mutable.ArrayBuffer.empty[Op]
  var firstOpEpochMs = 0L
  private val catalyst = mutable.Map.empty[Int, Map[String, Double]]
  private val copyRanges = mutable.Map.empty[Int, (Int, Int)]

  private def span[A](layer: String, name: String)(f: => A): A =
    tracer.fold(f)(_.span(layer, name)(f))

  private def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9

  /** Runs `f` as timed operation number `ops.size`; with tracing on, the
    * operation is traced or not as `traced` says, so the two halves of a
    * traced run give the tracing overhead.
    */
  private def timedOp(key: String, traced: Boolean)(f: => Op): Unit = {
    if (firstOpEpochMs == 0L) {
      firstOpEpochMs = System.currentTimeMillis()
      StreamProbe.on = tracer.isDefined
    }
    tracer.foreach { t => t.recording = traced; t.currentOp = ops.size }
    val t = System.nanoTime()
    val op = try span("op", key)(f) catch {
      case e: Throwable => Op(key, 0.0, traced, error = String.valueOf(e.getMessage).take(300))
    }
    ops += op.copy(wall = secondsSince(t), traced = traced && tracer.isDefined)
    tracer.foreach { t => t.recording = true; t.currentOp = -1 }
  }

  private def writeOutput(df: DataFrame, key: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$key")

  // ---- query_mix -----------------------------------------------------

  def queryMix(): Unit = {
    val keys = o("keys").split(",").toSeq
    val queries = SparkEntry.queries
    // Warm-up: two untimed passes, the first writing each key's output for
    // the oracle check. A key's first warm execution can still take nearly
    // twice its settled time (JIT), and how far it has settled by the timed passes
    // would otherwise depend on which other keys the seed drew.
    for (pass <- 0 until 2) keys.foreach { k =>
      try span("warmup", k) {
        val df = queries(k)(spark, data)
        if (pass == 0) writeOutput(df, k) else df.queryExecution.toRdd.count()
      } catch { case e: Throwable => warm += Op(k, 0.0, false, error = String.valueOf(e.getMessage).take(300)) }
    }
    // A fixed number of whole passes, about `seconds` long (a pass
    // takes ~5-9 s on 4 cores), so every key weighs the same in the
    // quantiles and every run does the same work. A traced run traces
    // every other key, switching halves each pass, so each key has
    // traced and untraced executions and JIT drift falls on both alike.
    val passes = math.max(2, math.round(seconds / 5).toInt)
    for (pass <- 0 until passes) {
      keys.zipWithIndex.foreach { case (k, j) =>
        val traced = (j + pass) % 2 == 0
        timedOp(k, traced) {
          val df = span("construct", k)(queries(k)(spark, data))
          span("catalyst", k)(df.queryExecution.executedPlan)
          val n = span("exec", k)(df.queryExecution.toRdd.count())
          if (traced) catalyst(ops.size) = df.queryExecution.tracker.phases
            .map { case (p, s) => p -> s.durationMs / 1e3 }
          Op(k, 0.0, traced, rows = n)
        }
      }
    }
  }

  // ---- pipelines_cold ------------------------------------------------

  /** The two composed deliverables, each once, in a fresh JVM, as their
    * users run them: the c199 curation run first (no memo, run dir or
    * codegen cache entry exists for the corpus), then the keyspace copy
    * plus the repair audit of that copy.
    */
  def pipelinesCold(): Unit = {
    curation(s"$data/corpus")
    keyspaceCopy(s"$data/keyspace")
  }

  private def curation(corpus: String): Unit = {
    spark.conf.set(CurationRun.RunDirConf, s"$work/curation")
    // Traced runs build the dedup memos as separately timed calls ahead
    // of the pipeline so each memo's cost is its own span.
    tracer.foreach { _ =>
      span("dedup", "lsh_bands")(Llm.warmBands(spark, corpus))
      span("dedup", "lsh_pairs")(Llm.warmPairs(spark, corpus))
      span("dedup", "cc_labels")(NearDup.warmLabels(spark, corpus))
      span("dedup", "token_sets")(Llm.warmTokenSets(spark, corpus))
    }
    var df: DataFrame = null
    timedOp(CurationKey, traced = true) {
      df = span("construct", "curationRun")(CurationRun.curationRun(spark, corpus))
      val n = span("exec", "funnel")(df.queryExecution.toRdd.count())
      Op(CurationKey, 0.0, true, rows = n)
    }
    if (df != null) writeOutput(df, CurationKey)
  }

  private def keyspaceCopy(src: String): Unit = {
    val dst = s"$work/keyspace/dst"
    val manifest = s"$work/keyspace/manifest"
    val par = math.min(4, cpus)
    def conns = (new ParquetSource(src), new ParquetSink(dst), new ParquetSource(dst))
    timedOp(CopyKey, traced = true) {
      val t = System.nanoTime()
      val copy = span("copy", "copyKeyspace") {
        val (s, d, r) = conns
        Migration.copyKeyspace(spark, s, d, r, WriteConf(), manifest, CopyRanges, par)
      }
      val copyS = secondsSince(t)
      val t2 = System.nanoTime()
      val repair = span("repair", "repairKeyspace") {
        val (s, d, r) = conns
        Migration.repairKeyspace(spark, s, d, r, WriteConf(), manifest, CopyRanges, par)
      }
      copyRanges(ops.size) = (copy.ranges.size, repair.ranges.size)
      val bad = (copy.verify ++ repair.verify).filterNot(_.ok)
        .map(v => s"${v.table}: rows ${v.srcRows}/${v.dstRows}")
      Op(CopyKey, 0.0, true, rows = copy.verify.map(_.dstRows).sum,
        error = if (copy.ok && repair.ok) "" else ("report not ok" +: bad).mkString("; "),
        extra = Map("copy_s" -> Json.num(copyS), "repair_s" -> Json.num(secondsSince(t2)),
          "dst" -> Json.str(dst),
          "tables" -> Json.obj(copy.verify.map(v => v.table -> s"[${v.srcRows},${v.dstRows}]"))))
    }
  }

  // ---- per-layer metrics (traced run) -----------------------------------

  /** Linearly interpolated quantile; 0 for no values. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (pos - lo)
    }
  }
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-layer figures. Time and count figures are means per traced
    * timed operation that ran the layer; process-wide figures (JVM,
    * codegen) and the dedup memo builds are totals.
    */
  def layerMetrics(t: Tracer, sessionS: Double): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val traced = ops.zipWithIndex.filter(_._1.traced)
    val tracedIdx = traced.map(_._2).toSet
    val timed = t.spans.filter(s => tracedIdx(s.op))
    def layer(l: String) = timed.filter(_.layer == l)
    def sumC(ss: Iterable[Span]) = { val c = new Counters; ss.foreach(s => c.add(t.countersUnder(s))); c }
    def secs(ss: Iterable[Span]) = ss.map(_.seconds).sum
    def opsIn(ss: Iterable[Span]) = math.max(1, ss.map(_.op).toSet.size).toDouble

    m("sessions.start_s") = sessionS
    m("jvm.gc_s") = Jvm.gcSeconds
    m("jvm.jit_compile_s") = Jvm.jitSeconds
    m("jvm.peak_heap_mb") = Jvm.peakHeapMb
    m("jvm.peak_rss_mb") = Jvm.peakRssMb
    m("codegen.compile_s") = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9
    m("codegen.classes") =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

    val opSpans = layer("op")
    m("op.wall_s") = median(traced.map(_._1.wall).toSeq)
    m("op.p80_s") = quantile(ops.map(_.wall).toSeq, 0.8)
    m("op.per_s") = if (ops.isEmpty) 0.0 else ops.size / ops.map(_.wall).sum
    m("trace.spans") = t.spans.size
    m("trace.handler_s") = t.handlerSeconds
    // Paired per key: median traced wall minus median untraced wall.
    val byKey = ops.groupBy(_.key).values.flatMap { os =>
      val (a, b) = os.partition(_.traced)
      if (a.nonEmpty && b.nonEmpty) Some(median(a.map(_.wall).toSeq) - median(b.map(_.wall).toSeq)) else None
    }
    m("trace.overhead_s") = median(byKey.toSeq)
    val oc = sumC(opSpans)
    m("tables.infer_jobs") = oc.inferJobs / opsIn(opSpans)
    m("tables.infer_s") = oc.inferMs / 1e3 / opsIn(opSpans)

    val cons = layer("construct"); val cat = layer("catalyst"); val exe = layer("exec")
    val nq = opsIn(cons)
    val cc = sumC(cons); val ec = sumC(exe)
    m("construct.s") = cons.map(t.selfSeconds).sum / nq
    m("construct.jobs") = cc.jobs / nq
    m("construct.tasks") = cc.tasks / nq
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${p}_s") = catalyst.values.map(_.getOrElse(p, 0.0)).sum / nq
    m("catalyst.s") = secs(cat) / nq
    m("exec.s") = secs(exe) / nq
    m("exec.jobs") = ec.jobs / nq
    m("exec.stages") = ec.stages / nq
    m("exec.tasks") = ec.tasks / nq
    m("exec.failed_tasks") = ec.failedTasks / nq
    m("exec.task_cpu_s") = ec.taskCpuNs / 1e9 / nq
    m("exec.task_run_s") = ec.taskRunMs / 1e3 / nq
    m("exec.core_util") = if (secs(exe) > 0) ec.taskRunMs / 1e3 / (secs(exe) * cpus) else 0.0
    m("exec.input_bytes") = ec.inputBytes / nq
    m("exec.shuffle_read_bytes") = ec.shuffleReadBytes / nq
    m("exec.shuffle_write_bytes") = ec.shuffleWriteBytes / nq
    m("exec.spill_bytes") = ec.spillBytes / nq
    m("exec.output_bytes") = ec.outputBytes / nq
    val queryOps = opSpans.filter(s => cons.exists(_.op == s.op))
    m("trace.unaccounted_s") = (secs(queryOps) - secs(cons) - secs(cat) - secs(exe)) / nq

    val streamKeys = o.getOrElse("stream", "").split(",").filter(_.nonEmpty).toSet
    val streamOps = ops.filter(op => streamKeys(op.key))
    val sn = math.max(1, streamOps.size).toDouble
    val st = StreamProbe.snapshot()
    def sv(k: String) = st.getOrElse(k, 0L).toDouble
    m("stream.key_p50_s") = median(streamOps.map(_.wall).toSeq)
    m("stream.queries") = sv("stream.queries") / sn
    m("stream.batches") = sv("stream.batches") / sn
    for (k <- Seq("startup", "trigger", "add_batch", "query_planning", "latest_offset",
        "wal_commit", "state_commit", "state_update"))
      m(s"stream.${k}_s") = sv(s"stream.${k}_ms") / 1e3 / sn
    for (k <- Seq("state_rows", "state_memory_bytes", "state_store_instances"))
      m(s"stream.$k") = sv(s"stream.$k") / sn

    for (phase <- Seq("copy", "repair")) {
      val ss = layer(phase); val c = sumC(ss); val w = secs(ss); val n = opsIn(ss)
      m(s"$phase.s") = w / n
      m(s"$phase.jobs") = c.jobs / n
      m(s"$phase.task_cpu_s") = c.taskCpuNs / 1e9 / n
      m(s"$phase.core_util") = if (w > 0) c.taskRunMs / 1e3 / (w * cpus) else 0.0
      m(s"$phase.input_bytes") = c.inputBytes / n
      if (phase == "copy") {
        m("copy.output_bytes") = c.outputBytes / n
        m("copy.output_rows") = c.outputRows / n
      }
    }
    val ranges = copyRanges.filter { case (i, _) => tracedIdx(i) }.values
    m("copy.ranges") = ranges.map(_._1).sum / opsIn(layer("copy"))
    m("repair.ranges_audited") = ranges.map(_._2).sum / opsIn(layer("repair"))
    m("copy.jobs_per_range") = if (m("copy.ranges") > 0) m("copy.jobs") / m("copy.ranges") else 0.0

    val dedup = t.spans.filter(_.layer == "dedup")
    for (s <- dedup) m(s"dedup.${s.name}_s") = s.seconds
    val dc = sumC(dedup)
    m("dedup.jobs") = dc.jobs.toDouble
    m("dedup.shuffle_bytes") = (dc.shuffleReadBytes + dc.shuffleWriteBytes).toDouble
    val cur = opSpans.filter(_.name == CurationKey)
    def under(l: String) = timed.filter(s => s.layer == l && cur.exists(_.id == s.parent))
    m("curation.stages_s") = secs(under("construct"))
    m("curation.funnel_s") = secs(under("exec"))
    m("curation.jobs") = sumC(cur).jobs.toDouble
    m("curation.artifact_bytes") = dirBytes(new File(s"$work/curation"))
    m.toMap
  }

  private def dirBytes(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet") || f.getName.startsWith("part-")) f.length.toDouble
    else 0.0
}

object Run {
  val CurationKey = "c199_curation_run"
  val CopyKey = "copy_repair"
  /** Token ranges per table of the keyspace copy. */
  val CopyRanges = 2
}
