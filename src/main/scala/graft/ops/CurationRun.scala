package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** c199 — the composed end-to-end CURATION RUN: the LLM-side analog
  * of A22's `KeyspaceCopy` (the r17 verdict's top item). The pieces
  * have been verified operators for rounds — MinHash dedup (c2/c21)
  * with the medoid keeper (c198), benchmark decontamination (c29),
  * the quality floor (c15/c31), corpus mixing (c26) and sequence
  * packing (c27) — but a 100 TB curation job does not run them as a
  * menu: it runs ONE orchestrated pipeline whose stages are
  * restartable units, because at that scale the job WILL be killed
  * mid-flight (preemption, quota, bad node) and recomputing the LSH
  * pass because the packer died is a six-figure bill.
  *
  * Orchestration contract (the KeyspaceCopy discipline, re-expressed
  * for a staged dataflow):
  *
  *   - Each stage writes its surviving doc set as a parquet artifact
  *     `stage<i>_<name>.parquet` through [[graft.Memo.atomicArtifact]]
  *     (temp-dir + ATOMIC_MOVE publish): a reader — including a
  *     resumed run — sees a COMPLETE artifact or nothing.
  *   - A stage whose artifact is already published is SKIPPED on
  *     resume (the `_SUCCESS` gate); a torn target (directory without
  *     `_SUCCESS` — only an external writer can produce one, the
  *     atomic publish never does) is wiped and rebuilt.
  *   - The [[RunLedger]] manifest KeyspaceCopy writes too (each line
  *     carries its own CRC, a torn tail is dropped on read and
  *     truncated before the next append) records stage i as unit
  *     (StageNames(i), i) with its (rows, order-free a18 content
  *     checksum). On resume each reused artifact is re-counted and
  *     re-checksummed against its manifest line — a served artifact
  *     is VERIFIED, not trusted; a mismatch throws rather than
  *     curating from corrupt state.
  *     A missing line (killed between publish and append) is
  *     re-derived from the artifact and healed.
  *
  * Stages (doc accounting per stage is the run's deliverable):
  *   0 corpus        — per-doc (source, lang, n_tokens, quality)
  *                     via the shared c15 projection
  *   1 dedup         — drop every cluster member except its c198
  *                     keeper (medoid / sampled-medoid rule)
  *   2 decontaminate — drop the eval split and every train doc
  *                     sharing a word 5-gram with it (c29 kernel)
  *   3 quality       — quality ≥ CurateQuality (the c31 floor)
  *   4 mix           — the c26 deterministic per-source hash mix
  *   5 pack          — c27 token-budget bins over the survivors
  *                     (per-lang exact prefix sums via
  *                     [[OrderStats.cumSums]]'s distributed kernel)
  *
  * The query's output is the per-(stage, source) FUNNEL — docs and
  * tokens surviving each stage, plus the packed-bin count the pack
  * stage adds — and the oracle replays the ENTIRE pipeline as one
  * SQL statement over the same parquet (recursive-CTE connected
  * components → shared keeper CTEs → gram/quality/mix/pack chain),
  * so the composition itself is hash-verified end to end, not just
  * the stages in isolation.
  *
  * Scale shape: every stage is one of the already-audited linear
  * shapes (band equi-joins for the labels, broadcast gram semi-join,
  * codegen'd per-row gates, the two-pass bucketed prefix sum);
  * stage artifacts are doc-set-sized projections (never text), so
  * the inter-stage bus is narrow; the run directory is keyed on the
  * corpus fingerprint PLUS the kernel constants (the c179 store-key
  * discipline — a constant change can never silently serve a stale
  * stage).
  */
object CurationRun {

  private[graft] val StageNames =
    Vector("corpus", "dedup", "decontaminate", "quality", "mix", "pack")

  /** Stage `i`'s artifact table name under the run dir ([[Tables.t]]
    * reads it through the schema memo); [[stageFile]] is its file.
    */
  private def stageTable(i: Int) = s"stage${i}_${StageNames(i)}"
  private[graft] def stageFile(i: Int) = stageTable(i) + ".parquet"

  private[graft] val RunDirConf = "spark.graft.curationRunDir"

  /** Stable-across-process run directory for a corpus: a
    * [[graft.Memo.storeDir]] keyed on the documents fingerprint, the
    * kernel constants every stage bakes into its artifact, and the
    * manifest canon (`ledger=2`: [[RunLedger]]'s line format and a18
    * checksum), so a dir whose manifest was written in another canon
    * is never resumed.
    */
  private[graft] def runDir(spark: SparkSession, sfDir: String): String =
    Memo.storeDir(
      spark.conf.getOption(RunDirConf).getOrElse(sys.props("java.io.tmpdir") + "/graft-curation"),
      "run1", Tables.path(sfDir, "documents"),
      s"cap=${NearDup.MedoidCap};candk=${NearDup.MedoidCandK};" +
        s"q=${TextAnalysis.CurateQuality};pack=${TextAnalysis.PackBudget};" +
        s"seeds=${Llm.MinhashSeeds};bands=${Llm.Bands};ledger=2")

  /** Build-or-resume one stage: atomic publish on build; on resume,
    * verify the served artifact against its manifest line (count +
    * order-free checksum) — heal a missing line, THROW on a
    * mismatching one. Returns the artifact as a DataFrame.
    */
  private def ensureStage(spark: SparkSession, dir: String, i: Int)
      (build: => DataFrame): DataFrame = {
    val name = stageFile(i)
    val target = new java.io.File(dir, name)
    val resumed = new java.io.File(target, "_SUCCESS").exists()
    if (target.exists() && !resumed) // torn foreign artifact
      graft.streaming.Streams.deleteRecursively(target.toString)
    Memo.atomicArtifact(dir, name) { scratch =>
      build.write.parquet(new java.io.File(scratch, name).toString)
    }
    val df = Tables.t(spark, dir, stageTable(i))
    val (rows, cs) = RunLedger.countAndChecksum(df)
    RunLedger.readManifest(dir).get((StageNames(i), i)) match {
      case Some((mRows, mCs)) =>
        if (resumed && (mRows != rows || mCs != cs))
          throw new IllegalStateException(
            s"curation stage $i artifact diverged from its manifest: " +
              s"($rows, $cs) vs recorded ($mRows, $mCs) — refusing to resume " +
              "from corrupt state")
      case None => RunLedger.appendManifest(dir, StageNames(i), i, rows, cs)
    }
    df
  }

  // ---- stage dataflow (each a verified operator's kernel) ----

  /** Per-cluster losers under the c198 keeper rule: every member
    * that is not its cluster's (sampled-)medoid keeper.
    */
  private[graft] def keeperLosers(labels: DataFrame, toks: DataFrame): DataFrame =
    labels
      .join(NearDup.medoidOf(labels, toks)
        .select(col("cluster_id"), col("keeper")), "cluster_id")
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id").as("loser_id"))

  private def mixKept = substring(
    md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 2) <
    element_at(
      map(lit(1), lit("20"), lit(2), lit("40"), lit(3), lit("60"), lit(4), lit("80")),
      (substring(col("source"), 4, 10).cast("int") % 4) + 1)

  /** Execute (or resume) the staged run into `dir`, up to stage
    * `upTo` inclusive. Stages beyond the cut are untouched — the
    * spec's kill simulation.
    */
  private[graft] def ensureRun(spark: SparkSession, sfDir: String, dir: String,
      upTo: Int = 5): Unit = {
    new java.io.File(dir).mkdirs()
    val docs = Tables.t(spark, sfDir, "documents")
    val s0 = ensureStage(spark, dir, 0) {
      TextAnalysis.qualityBase(docs)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("quality"))
    }
    if (upTo < 1) return
    val s1 = ensureStage(spark, dir, 1) {
      s0.join(
        graft.ops.Skew.maybeBroadcast(
          keeperLosers(NearDup.clusterLabels(spark, sfDir),
            Llm.tokenSets(spark, sfDir)),
          NearDup.labelTableCount(spark, sfDir), rowBytes = 16L, spark),
        col("doc_id") === col("loser_id"), "left_anti")
    }
    if (upTo < 2) return
    val s2 = ensureStage(spark, dir, 2) {
      s1.where(col("doc_id") % 50 =!= 0)
        .join(broadcast(TextAnalysis.contamIds(docs)),
          col("doc_id") === col("cid"), "left_anti")
    }
    if (upTo < 3) return
    val s3 = ensureStage(spark, dir, 3) {
      s2.where(col("quality") >= TextAnalysis.CurateQuality)
    }
    if (upTo < 4) return
    val s4 = ensureStage(spark, dir, 4) { s3.where(mixKept) }
    if (upTo < 5) return
    ensureStage(spark, dir, 5) {
      OrderStats.cumSums(
        s4.select(col("lang"), col("doc_id").cast("long").as("v"),
          col("n_tokens"), col("source")),
        Seq("lang"), Nil, Seq("n_tokens"))
        .withColumn("bin",
          floor((col("cum_n_tokens") - col("n_tokens")) /
            lit(TextAnalysis.PackBudget.toDouble)).cast("long"))
        .select(col("v").as("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("bin"))
    }
    ()
  }

  /** The per-(stage, source) funnel over the published artifacts —
    * docs and tokens surviving each stage; the pack stage adds the
    * count of (lang, bin) slots the source's docs landed in.
    */
  private[graft] def funnel(spark: SparkSession, dir: String): DataFrame = {
    val perStage = (0 to 5).map { i =>
      val df = Tables.t(spark, dir, stageTable(i))
      val nBins =
        if (i == 5)
          countDistinct(concat_ws(":", col("lang"), col("bin"))).as("n_bins")
        else first(lit(null).cast("long")).as("n_bins")
      df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"), nBins)
        .select(lit(i.toLong).as("stage_idx"), lit(StageNames(i)).as("stage"),
          col("source"), col("n_docs"), col("n_tokens"), col("n_bins"))
    }
    perStage.reduce(_ unionByName _).orderBy("stage_idx", "source")
  }

  /** c199 entry: run (or resume) the staged pipeline for the corpus,
    * then report the funnel.
    */
  def curationRun(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = runDir(spark, sfDir)
    ensureRun(spark, sfDir, dir)
    funnel(spark, dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c199_curation_run" -> (curationRun(_, _)))

  // The oracle replays the WHOLE pipeline as one statement: recursive
  // CC → the shared c198 keeper CTEs → losers → the c15 quality base
  // → the c29 gram gate → the c31 floor → the c26 mix cut → the c27
  // pack window → the stage funnel.
  val oracle: Map[String, String] = {
    val stopList = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(", ")
    val mixCut =
      """substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |      (CASE (CAST(substr(source, 4, 10) AS INT) % 4) + 1
        |        WHEN 1 THEN '20' WHEN 2 THEN '40' WHEN 3 THEN '60' ELSE '80' END)""".stripMargin
    def funnelRow(idx: Int, rel: String) =
      s"""SELECT CAST($idx AS BIGINT) AS stage_idx, '${StageNames(idx)}' AS stage, source,
         |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(NULL AS BIGINT) AS n_bins
         |  FROM $rel GROUP BY source""".stripMargin
    Map("c199_curation_run" ->
      s"""${NearDup.oracleClustersCte}, ${NearDup.oracleKeeperCtes},
         |keepx AS (
         |  SELECT cluster_id, keeper FROM med
         |  UNION ALL SELECT cluster_id, keeper FROM cap
         |), losers AS (
         |  SELECT c.doc_id FROM clusters c JOIN keepx k USING (cluster_id)
         |  WHERE c.doc_id != k.keeper
         |), base AS (
         |  SELECT doc_id, source, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    ROUND(0.5 * least(CAST(length(text) AS DOUBLE) / 300.0, 1.0)
         |      + 0.5 * (1.0 - CAST(len(list_filter(ws, w -> list_contains([$stopList], w))) AS DOUBLE)
         |        / len(ws)), 4) AS quality
         |  FROM (SELECT *, string_split(text, ' ') AS ws FROM documents)
         |), s1 AS (
         |  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), tgrams AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
         |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
         |  FROM documents
         |), evg AS (
         |  SELECT DISTINCT g FROM tgrams WHERE doc_id % 50 = 0
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM tgrams
         |  WHERE doc_id % 50 != 0 AND g IN (SELECT g FROM evg)
         |), s2 AS (
         |  SELECT * FROM s1 WHERE doc_id % 50 != 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |), s3 AS (
         |  SELECT * FROM s2 WHERE quality >= ${TextAnalysis.CurateQuality}
         |), s4 AS (
         |  SELECT * FROM s3 WHERE $mixCut
         |), s5 AS (
         |  SELECT doc_id, source, lang, n_tokens,
         |    CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / ${TextAnalysis.PackBudget}.0) AS BIGINT) AS bin
         |  FROM s4
         |)
         |SELECT * FROM (
         |  ${funnelRow(0, "base")}
         |  UNION ALL ${funnelRow(1, "s1")}
         |  UNION ALL ${funnelRow(2, "s2")}
         |  UNION ALL ${funnelRow(3, "s3")}
         |  UNION ALL ${funnelRow(4, "s4")}
         |  UNION ALL SELECT CAST(5 AS BIGINT) AS stage_idx, 'pack' AS stage, source,
         |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(DISTINCT lang || ':' || CAST(bin AS VARCHAR)) AS BIGINT) AS n_bins
         |  FROM s5 GROUP BY source
         |)
         |ORDER BY stage_idx ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)
  }
}
