package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

/** One shared session for the whole forked test JVM, built by
  * [[Sessions.local]] like every main's. The width stays fixed at 4 so
  * the plan pins do not depend on the host.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs `body` launches from this thread and the threads it
    * starts, counted by job group (a thread inherits the group of the
    * thread that started it). The listener bus is asynchronous, so a
    * sentinel job in a second group runs after `body`; its start event
    * arrives after every job `body` launched, and the count is read
    * once it has arrived.
    */
  def jobsLaunched(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$group-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-sentinel"), "listener bus never delivered the sentinel")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
