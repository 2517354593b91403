package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}

/** Executor CPU ns, spilled bytes (memory + disk) and task count over
  * every task that ends on `sc` from construction on, and the number of
  * Spark jobs that ended there. The listener bus
  * is asynchronous, so [[drained]] reads once the counters hold still
  * for a 25 ms poll (at most ~1 s); a fixed sleep undercounts under load.
  */
final class TaskCounters(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val cpuNs, spillBytes, tasks, jobs = new AtomicLong(0L)
  sc.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(te.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }

  def drained(): (Long, Long, Long, Long) = {
    def read = (cpuNs.get(), spillBytes.get(), tasks.get(), jobs.get())
    var (prev, cur, spins) = ((-1L, -1L, -1L, -1L), read, 0)
    while (prev != cur && spins < 40) {
      Thread.sleep(25); prev = cur; cur = read; spins += 1
    }
    read
  }
}
