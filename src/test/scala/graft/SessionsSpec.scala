package graft

import org.scalatest.funsuite.AnyFunSuite

/** The wide-shuffle posture (Sessions.initialPartitions): planning is
  * unconditionally wide — round 9 built and rejected input-sized
  * bucketing because compressed bytes, footer stats, and row counts
  * are all unsafe lower bounds on shuffle volume (dictionary-packed
  * replica corpora hide 40x; operator fan-out like c11's trigram
  * explosion hides ~400x). This spec pins the posture so a future
  * "optimization" back to input-sizing has to confront the rationale.
  */
class SessionsSpec extends AnyFunSuite {

  test("exchanges are planned wide regardless of corpus, floored at the core count") {
    assert(Sessions.initialPartitions(4) == 256)
    assert(Sessions.initialPartitions(32) == 256)
    assert(Sessions.initialPartitions(512) == 512)
  }

  test("the session posture carries the wide planning and the array-safe advisory size") {
    // Sessions.local folds exactly this map into the builder, so
    // asserting the map IS asserting the session posture (no separate
    // constant that could drift from what a real session gets).
    val p = Sessions.posture(4)
    assert(p("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "256")
    assert(p("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "16m")
    assert(p("spark.sql.adaptive.enabled") == "true")
    assert(p("spark.sql.shuffle.partitions") == "4")
    assert(p("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // Cached-plan repartitioning must stay ON: without it every
    // memoized pair/band/gram InMemoryTableScan is frozen at the
    // 256-wide initial partitioning and the iterative graph keys pay
    // per-task dispatch 256× per rescan (round-16 measurement).
    assert(p("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    // scan-split floor: 128 KiB open cost so small inputs split to
    // the available cores (round 19: 241.5→204.3 s; the 4 MiB default
    // pinned 25 MiB tables at ~7 splits). Large-input split planning
    // is unaffected (bytes/parallelism dominates the floor there).
    assert(p("spark.sql.files.openCostInBytes") == "131072")
    // codegen cache sizing is part of the pinned posture (round 19:
    // the 100-entry default recompiled every fragment on repeated
    // runs — measured 319→237 s across the 297-key sf0.1 bench).
    assert(p("spark.sql.codegen.cache.maxEntries") == "10000")
    // ...and one classloader per JVM, so that cache is shared by every
    // session: isolation ON gives each session (and each streaming
    // query's clone) its own loader, and the cache keys on the loader.
    assert(p("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("the live test session carries every posture entry") {
    // TestSpark builds through Sessions.local like every main, so the
    // plan pins and the suites run under the graded posture. Static
    // confs (warehouse dir, codegen cache, UI) are fixed at context
    // start: read them from the SparkConf, where Spark keeps the
    // warehouse dir qualified. Keys a SPARK_GRAFT_CONF overlay
    // overrides are the overlay's to set.
    val spark = TestSpark.spark
    (Sessions.posture(4) -- Sessions.envOverlay.keys).foreach { case (k, v) =>
      val live =
        if (spark.conf.isModifiable(k)) spark.conf.getOption(k)
        else spark.sparkContext.getConf.getOption(k)
      val want = if (k == "spark.sql.warehouse.dir") s"file:$v" else v
      assert(live.contains(want), s"$k: posture $want, live session $live")
    }
  }

  test("WindowExec's partition-less warning is silenced; other warnings are not") {
    import org.apache.logging.log4j.LogManager
    TestSpark.spark
    assert(!LogManager.getLogger("org.apache.spark.sql.execution.window.WindowExec").isWarnEnabled)
    assert(LogManager.getRootLogger.isWarnEnabled)
  }
}
