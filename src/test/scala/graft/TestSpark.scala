package graft

import org.apache.spark.sql.SparkSession

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
}
