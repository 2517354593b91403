package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters charged to one span by the Spark listener. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L; var outputRows = 0L
  var inferJobs = 0L; var inferMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; outputRows += o.outputRows
    inferJobs += o.inferJobs; inferMs += o.inferMs
  }
}

/** One timed region: a layer call made by the harness. `op` is the index
  * of the timed operation it belongs to (-1 outside the timed region).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the listeners that charge Spark jobs,
  * stages and tasks to the innermost open span.
  *
  * Attribution is by job group: every span sets
  * `setJobGroup("<runId>/<spanId>")` on the calling thread, and Spark
  * copies that local property into every job submitted under it,
  * including jobs from pool threads the engine creates inside the call.
  * Jobs without the group (threads created earlier) fall back to the
  * span whose interval holds the job's submission time.
  *
  * Nothing here runs unless tracing is on; the untraced run registers no
  * listener at all.
  */
final class Tracer(val sc: SparkContext, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile var recording = true
  var currentOp = -1

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long, Boolean)]()
  @volatile private var events = 0L
  @volatile private var handlerNs = 0L

  def span[A](layer: String, name: String)(f: => A): A = {
    if (!recording) return f
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, layer, parent, currentOp, System.nanoTime())
    spans.synchronized { spans += s }
    stack = s :: stack
    sc.setJobGroup(s"$runId/${s.id}", s"$layer $name", interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId/${p.id}", s"${p.layer} ${p.name}", false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanOfGroup(group: String, submitMs: Long): Int =
    Option(group).filter(_.startsWith(runId + "/"))
      .map(_.drop(runId.length + 1).toInt)
      .getOrElse(spanAt(submitMs))

  /** Innermost span whose wall interval contains an epoch-ms instant. */
  private def spanAt(epochMs: Long): Int = {
    val ns = (epochMs - Tracer.epochMs0) * 1000000L + Tracer.nano0
    val hits = spans.synchronized(spans.toList).filter { s =>
      s.startNs <= ns && (s.endNs < 0 || ns <= s.endNs)
    }
    if (hits.isEmpty) -1 else hits.maxBy(_.startNs).id
  }

  private def charge(spanId: Int)(f: Counters => Unit): Unit =
    if (spanId >= 0) f(counters.computeIfAbsent(spanId, _ => new Counters))

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally { handlerNs += System.nanoTime() - t0; events += 1 }
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val id = spanOfGroup(group, e.time)
      // The schema-inference job of a parquet read: its call site, which
      // names its stages, is the read inside Tables.t.
      val infer = e.stageInfos.exists(s => String.valueOf(s.name).contains("Tables.scala"))
      jobSpan.put(e.jobId, (id, e.time, infer))
      e.stageIds.foreach(st => stageSpan.put(st, id))
      charge(id) { c => c.synchronized { c.jobs += 1; if (infer) c.inferJobs += 1 } }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobSpan.get(e.jobId)).foreach { case (id, start, infer) =>
        if (infer) charge(id) { c => c.synchronized { c.inferMs += e.time - start } }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      charge(stageSpan.getOrDefault(e.stageInfo.stageId, -1)) { c =>
        c.synchronized { c.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      charge(stageSpan.getOrDefault(e.stageId, -1)) { c =>
        c.synchronized {
          c.tasks += 1
          if (e.reason != org.apache.spark.Success) c.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            c.taskCpuNs += m.executorCpuTime
            c.taskRunMs += m.executorRunTime
            c.inputBytes += m.inputMetrics.bytesRead
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.outputBytes += m.outputMetrics.bytesWritten
            c.outputRows += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var prev = -1L
    var spins = 0
    while (prev != events + StreamProbe.events.get() && spins < 200) {
      prev = events + StreamProbe.events.get()
      Thread.sleep(50); spins += 1
    }
  }

  def handlerSeconds: Double = handlerNs / 1e9

  def countersOf(s: Span): Counters =
    Option(counters.get(s.id)).getOrElse(new Counters)

  /** Counters of a span plus every span nested under it. */
  def countersUnder(s: Span): Counters = {
    val acc = new Counters
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Unit = { acc.add(countersOf(x)); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    acc
  }

  /** Wall time of a span minus the wall time of its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    val c = countersOf(s)
    s"""{"id":${s.id},"name":"${Json.esc(s.name)}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"op":${s.op},"run":"$runId",""" +
      s""""start_s":${(s.startNs - Tracer.nano0) / 1e9},"end_s":${(s.endNs - Tracer.nano0) / 1e9},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_cpu_s":${c.taskCpuNs / 1e9}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
}

/** Streaming progress collector, installed on every session (the engine's
  * stateful streams run on child sessions) through the static
  * `spark.sql.streaming.streamingQueryListeners` conf, so it needs a
  * no-argument constructor and keeps its totals in the companion.
  */
final class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    StreamProbe.events.incrementAndGet()
    if (StreamProbe.on) {
      StreamProbe.add("stream.queries", 1)
      StreamProbe.started.put(e.runId.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)
    }
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    StreamProbe.events.incrementAndGet()
    if (!StreamProbe.on) return
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    def ms(k: String) = d.getOrElse(k, 0L)
    StreamProbe.add("stream.batches", 1)
    Option(StreamProbe.started.remove(p.runId.toString)).foreach { t0 =>
      StreamProbe.add("stream.startup_ms", java.time.Instant.parse(p.timestamp).toEpochMilli - t0)
    }
    StreamProbe.add("stream.trigger_ms", ms("triggerExecution"))
    StreamProbe.add("stream.add_batch_ms", ms("addBatch"))
    StreamProbe.add("stream.query_planning_ms", ms("queryPlanning"))
    StreamProbe.add("stream.latest_offset_ms", ms("latestOffset"))
    StreamProbe.add("stream.wal_commit_ms", ms("walCommit"))
    p.stateOperators.foreach { s =>
      StreamProbe.add("stream.state_commit_ms", s.commitTimeMs)
      StreamProbe.add("stream.state_update_ms", s.allUpdatesTimeMs)
      StreamProbe.add("stream.state_rows", s.numRowsTotal)
      StreamProbe.add("stream.state_memory_bytes", s.memoryUsedBytes)
      StreamProbe.add("stream.state_store_instances", s.numStateStoreInstances)
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    StreamProbe.events.incrementAndGet(); ()
  }
}

object StreamProbe {
  @volatile var on = false
  val events = new java.util.concurrent.atomic.AtomicLong(0L)
  val started = new ConcurrentHashMap[String, java.lang.Long]()
  val totals = new ConcurrentHashMap[String, java.lang.Long]()
  def add(k: String, v: Long): Unit = { totals.merge(k, v, (a, b) => a + b); () }
  def get(k: String): Long = Option(totals.get(k)).map(_.longValue).getOrElse(0L)
  def snapshot(): Map[String, Long] = totals.asScala.map { case (k, v) => k -> v.longValue }.toMap
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
