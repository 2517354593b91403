package graft

import org.scalatest.funsuite.AnyFunSuite

/** The CC kernel's doubling claim, measured: a path graph (worst-case
  * diameter for its size) must converge in O(log n) rounds — reach
  * roughly doubles per round (prop 1 step + pointer jump), so a
  * 10000-vertex path needs ~13 rounds, far under the 30-round cap.
  * Pins the complexity class, not just correctness: a kernel that
  * silently degraded to linear propagation would pass the union-find
  * equivalence test yet need 10000 rounds here.
  */
class CCRoundGrowthSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("path-graph convergence is logarithmic in diameter") {
    for (n <- Seq(1000, 10000)) {
      val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
      val out = ops.NearDup.connectedComponents(edges)
      assert(out.select("cluster_id").distinct().count() == 1L,
        s"a $n-path is one component")
      assert(out.where($"cluster_id" =!= 1L).count() == 0L,
        s"component min must win on the $n-path")
    }
  }

  test("the CC kernel runs a pinned number of Spark jobs on a fixed graph") {
    // Each materialized label table is one action that also returns its
    // row count and label sum; a per-round count or aggregate added
    // back raises this count.
    val edges = (1 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    var labels: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsLaunched { labels = ops.NearDup.connectedComponents(edges) }
    assert(labels.count() == 64L)
    assert(jobs == 68, s"CC jobs on a 64-vertex path: $jobs")
  }
}
