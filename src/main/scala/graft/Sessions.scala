package graft
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The engine's local session posture. Every session — each main's and
  * the tests' — comes from [[local]], so answers, plan pins and timings
  * share the scale-critical settings:
  *
  *  - `shuffle.partitions = cpus` as the non-AQE floor;
  *  - AQE ON, planning every exchange WIDE
  *    (`initialPartitionNum` = [[initialPartitions]], an
  *    unconditional 256) and coalescing on measured sizes. The
  *    protection matters: the 4g rehearsal's OOM was the spill
  *    READERS' unmanaged read-ahead buffers once an 8-bucket 100×
  *    sort had spilled hundreds of files (SCALE.md round 9); see
  *    [[initialPartitions]] for why the width is NOT input-sized;
  *  - `advisoryPartitionSizeInBytes = 16m`, because the advisory is
  *    measured on COMPRESSED shuffle bytes and embedding-array rows
  *    decompress ~5-10× worse than scalars (c47's 4g OOM);
  *  - a 10k-entry codegen cache and artifact isolation OFF, so a
  *    generated class compiles once per JVM, not once per session
  *    (child and streaming sessions included);
  *  - UTC + ns-as-long (events.parquet carries ns timestamps) + no UI;
  *  - `WindowExec` logs at ERROR (see [[quietLoggers]]).
  */
object Sessions {

  /** Initial shuffle-bucket count: a flat 256, floored at the core
    * count. Planning wide is UNCONDITIONAL by design — input-sized
    * bucketing was built and rejected in round 9 because every cheap
    * input-side estimate is an unsafe lower bound on shuffle volume:
    *
    *  - on-disk bytes: the 100× rehearsal corpus holds its rows in
    *    131 MiB of parquet (near-identical replicas
    *    dictionary-compress ~40×) — sized from disk it got 15
    *    buckets, right back in the spill-reader OOM regime;
    *  - parquet footer `totalByteSize`: post-encoding, so dictionary
    *    pages hide the same 40× on duplicated text;
    *  - row counts: no input-side stat anticipates OPERATOR fan-out —
    *    c11's trigram explosion shuffles ~400× its input rows
    *    (241 GB spilled at 100× on a ~5 GiB-logical corpus).
    *
    * The measured insurance premium is ~3 s across the whole 98-key
    * sf0.1 bench (89.4 s at the cpus floor vs 92.1 s at 256 — mostly
    * c11's many tiny map-side bucket files); the payout is the whole
    * dedup family completing on a 4 GiB executor at 100× instead of
    * OOM-ing (SCALE.md round 9). A real cluster raises it with its
    * executor count — this is a local[] helper.
    */
  private[graft] def initialPartitions(cpus: Int): Int = math.max(cpus, 256)

  /** The mains' width: `SPARK_GRAFT_CPUS`, else the core count. */
  lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Catalog warehouse under the system tmpdir (one per JVM): the
    * bucketed-table seam (c88) writes managed tables, which must
    * never land in the default `./spark-warehouse` inside the repo.
    */
  private[graft] lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft_warehouse").toString

  /** The posture as data: [[local]] folds in exactly this map and
    * SessionsSpec asserts it on the live test session.
    */
  private[graft] def posture(cpus: Int): Map[String, String] = Map(
    "spark.sql.warehouse.dir" -> warehouseDir,
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialPartitions(cpus).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    // Let AQE coalesce CACHED plan output too (default false): the
    // memoized pair/band/gram tables otherwise freeze at the 256-wide
    // initialPartitionNum, and every InMemoryTableScan of a KB-sized
    // pair table pays 256 task dispatches — measured round 16 as the
    // dominant cost of the iterative graph keys (c68's 4109 tasks:
    // ~16 rescans × 256; the r15 "host dispatch" watch item was real
    // but AMPLIFIED 256× by this). With coalescing the same tables
    // cache at size-appropriate widths and the rescans dispatch a
    // handful of tasks.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Scan-split floor: Spark's split size is
    // min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))
    // — already input-size-adaptive, but the 4 MiB openCost default
    // (modelling spinning-disk file-open overhead) FLOORS the split
    // size, which pinned a ~25 MiB fixture table at ~7 splits on 32
    // cores and serialized the md5-grind keys onto a fraction of the
    // machine (c114 cpu ≈ wall at sf0.1 while the same key ran 22×
    // parallel at 10×). 128 KiB reflects local-NVMe/page-cache open
    // cost and lets small inputs use the available cores; for large
    // inputs bytes/parallelism ≥ maxPartitionBytes and the floor is
    // irrelevant — 100 TB split planning is unchanged. The residual
    // risk (a swarm of sub-128 KiB files getting a task each) is a
    // file-compaction problem (guide §6), not a reason to pretend
    // opens cost 4 MiB. Measured round 19 at sf0.1: full bench
    // 241.5 s → 204.3 s (geomean 1.19×) from this conf alone.
    "spark.sql.files.openCostInBytes" -> "131072",
    // Whole-stage-codegen compile cache (STATIC conf, JVM-wide): the
    // default 100 entries thrashes on a many-query session — this
    // engine's 297-key surface compiles 2-10 generated classes per
    // query, so by the time the bench's second interleaved pass (or
    // any repeated production query) runs, its entries are long
    // evicted and every fragment recompiles (janino compile ≈
    // 50-300 ms each). 10k entries holds the whole surface; the cost
    // is bounded metaspace for generated classes (KBs each, ≤ a few
    // hundred MB at the cap) and the win is any repeated plan shape
    // compiling once per JVM — a production posture, not a local[32]
    // tweak. Measured round 19 at sf0.1: full 297-key bench
    // 319.0 s → 236.6 s (geomean 1.40×) from this conf alone.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // One classloader per JVM, so that cache actually holds: Spark
    // keys a compiled class on (thread context classloader, code), and
    // with artifact isolation ON (the default) every session — each
    // `newSession` child and the clone every streaming query runs in —
    // gets its own executor classloader, so task-side code compiles
    // again per session, and janino's failed name lookups in that
    // loader fall back to a round trip to the driver's artifact
    // server. Isolation only serves a deployment that adds per-session
    // artifacts (`addArtifact`/`addJar`/`addFile`), which this engine
    // never does. Measured on 4 cores: a cold pipelines run's codegen
    // compile 5.78 s → 3.22 s, and a warm streaming key (c83, c162)
    // compiles 15-22 classes per run → 0.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // State-store background maintenance (snapshot + cleanup) is
    // sized for LONG-RUNNING queries; a verify/bench session instead
    // drains dozens of bounded AvailableNow streams whose providers
    // stay loaded after their query stops, so the default 60 s sweep
    // walks an ever-growing provider list doing tmp-dir I/O under the
    // later keys (measured: the 11-key streaming family costs 16.9 s
    // in isolation but 26.9 s at the tail of the full 188-key r10
    // bench). One 600 s interval means zero background sweeps inside
    // a session; an unbounded production stream — one query per
    // cluster, providers actually reused — keeps the default.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
    "spark.ui.enabled" -> "false")

  /** The one dev override: `SPARK_GRAFT_CONF=k=v;k=v` overlays extra
    * session confs (`spark.graft.*` knobs included) on the posture,
    * applied last so an A/B run can also override posture values.
    * Verify and Bench runs leave it unset: their posture is [[posture]].
    */
  private[graft] def envOverlay: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq
      .map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
      .toMap).getOrElse(Map.empty)

  /** `WindowExec` at ERROR: its "No Partition Defined" warning fires on
    * the engine's whitelisted, bounded global windows and buried real
    * warnings. Spark's logging init (re)installs its default log4j2
    * config, which would drop the level, so it runs first.
    */
  private lazy val quietLoggers: Unit = {
    new org.apache.spark.internal.Logging { initializeLogIfNecessary(false) }
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
  }

  def local(cpus: String): SparkSession.Builder = {
    quietLoggers
    val overlay = envOverlay
    if (overlay.nonEmpty)
      System.err.println(s"[sessions] SPARK_GRAFT_CONF overrides: ${overlay.keys.mkString(", ")}")
    (posture(cpus.toInt) ++ overlay).foldLeft(
      SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
  }
}
