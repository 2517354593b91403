package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Canon, Tables}

/** Retrieval and selection operators over the documents corpus — the
  * query-side and sampling-side complements of the curation keys in
  * [[TextAnalysis]]:
  *
  *  - c70 BM25 ranked retrieval (Robertson & Walker's Okapi BM25 —
  *    public; the standard sparse-retrieval scorer feeding RAG and
  *    data-selection pipelines),
  *  - c71 weighted sampling without replacement (Efraimidis &
  *    Spirakis 2006, IPL — public; the one-pass distributed weighted
  *    reservoir),
  *  - c72 the Gopher rule gate (Rae et al. 2021, arXiv:2112.11446
  *    §A1.1 — public; the canonical hand-rule document filter).
  *
  * Determinism follows the repo canon: integer-derived ratios and
  * IEEE-identical `ln`, decimal-exact cross-row sums, tolerance
  * rounding at 1e-4 on emitted FP columns, and total-ordered ranks
  * with explicit tiebreaks (SURVEY §5.3).
  */
object Retrieval {

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))

  // --- c70: Okapi BM25 top-k -------------------------------------

  /** BM25 free parameters — the textbook defaults. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** How many query terms / results per term the key emits. */
  private val Bm25Queries = 5
  private val Bm25TopK = 5

  /** c70 — Okapi BM25 ranked retrieval: score every document for each
    * of the [[Bm25Queries]] most frequent corpus terms (a
    * deterministic, data-derived query set — no fixture-coupled
    * literals) and keep the top [[Bm25TopK]] docs per query term.
    *
    * score(q,d) = idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(q) = ln((N − df + 0.5)/(df + 0.5) + 1) — the Lucene-style
    * non-negative idf.
    *
    * Scale shape: one token scan collapses to (doc, term) counts with
    * map-side combine; document frequency and the query-term table are
    * VOCABULARY-sized aggregates of that table, never a second corpus
    * pass; the per-doc length table comes from the same (doc, term)
    * counts (sum of tf — no rescan). The 5-row query table broadcasts
    * into a semi-prune of the tf table, so the scoring join touches
    * ~N·queries/vocab rows, and the final rank window partitions by
    * query term with a (score DESC, doc_id) total order → Spark
    * executes it as WindowGroupLimit, pre-pruning each partition to
    * its local top-k before the exchange — at 100 TB the shuffle
    * carries ≤ k rows per (partition, term), not the scored corpus.
    *
    * Determinism: tf/df/dl/N are exact integers; avgdl is one exact
    * int ratio in double; idf and the score are products/quotients of
    * those plus `ln` — IEEE-identical in both engines (the c46 rule) —
    * and the emitted score tolerance-rounds at 1e-4 with the rank
    * taken on the rounded value + doc_id tiebreak so the cut cannot
    * straddle engines.
    */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    bm25TopkFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[bm25Topk]] over any (doc_id, text) frame. */
  private[graft] def bm25TopkFrom(docs: DataFrame): DataFrame = {
    val tf = toks(docs).groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_toks"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"), sum(col("tf")).as("cnt"))
    // Top-Bm25Queries terms via sort+limit (TakeOrderedAndProject — a
    // distributed bounded heap), with the rank window applied AFTER
    // the limit so it orders 5 rows, never the vocabulary (the c53
    // discipline; a global row_number over the vocab would funnel the
    // whole term table through one partition).
    val queries = df
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(Bm25Queries)
      .withColumn("qrank", row_number().over(
        Window.orderBy(col("cnt").desc, col("w").asc)).cast("long"))
      .select(col("w").as("q"), col("qrank"), col("df"))
    val scored = tf
      .join(broadcast(queries), col("w") === col("q"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("q"), col("qrank"), col("doc_id"), col("tf"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") /
              (col("total_toks").cast("double") / col("n_docs"))))).as("s"))
      .select(col("q"), col("qrank"), col("doc_id"), col("tf"),
        round(col("s"), 4).as("score"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .where(col("rn") <= Bm25TopK)
      .select(col("q"), col("qrank"), col("rn"), col("doc_id"), col("tf"), col("score"))
      .orderBy("qrank", "rn")
  }

  // --- c97: reciprocal-rank fusion ---------------------------------

  /** RRF constant (Cormack et al. 2009's k = 60), per-ranker list cap,
    * and emitted top-k.
    */
  private val RrfK = 60
  private val RrfCap = 50
  private val RrfTopK = 5

  /** c97 — RECIPROCAL-RANK FUSION of two rankers (Cormack, Clarke &
    * Buettcher, SIGIR 2009 — public): the standard hybrid-retrieval
    * merge, score(d) = Σ_r 1/(k + rank_r(d)) over each ranker's capped
    * list. Fused here: Okapi BM25 (c70's exact scorer — saturating tf,
    * length-normalized) and classic TF-IDF (tf · ln(N/df) — linear tf,
    * no length norm), two genuinely different orderings of the same
    * candidate set, for the same data-derived query terms as c70. RRF
    * is ranker-agnostic — swap either input for an ANN distance rank
    * (c38) and the fusion stage is unchanged, which is exactly why RAG
    * stacks standardize on it.
    *
    * Scale shape: both rankers ride ONE (doc, term) count table (no
    * second corpus pass); each ranker's list is CAPPED at [[RrfCap]]
    * per query BEFORE the fusion join — the rank windows execute as
    * WindowGroupLimit (per-partition top-cap pre-prune), so the
    * full-outer fusion join touches ≤ 2·cap rows per query at any
    * corpus size — the production shape where each ranker ships its
    * top-1000 and fusion never sees the scored corpus.
    *
    * Determinism: ranks are row_numbers over (1e-4-rounded score,
    * doc_id) total orders; the RRF sum is two exact-rational
    * reciprocals added in fixed order, rounded at 1e-6; absent-in-one-
    * list docs contribute only their present term (coalesce 0) — both
    * engines evaluate the identical expression.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame =
    rrfFusionFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[rrfFusion]] over any (doc_id, text) frame. */
  private[graft] def rrfFusionFrom(docs: DataFrame): DataFrame = {
    val tf = toks(docs).groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_toks"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"), sum(col("tf")).as("cnt"))
    val queries = dfq
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(Bm25Queries)
      .withColumn("qrank", row_number().over(
        Window.orderBy(col("cnt").desc, col("w").asc)).cast("long"))
      .select(col("w").as("q"), col("qrank"), col("df"))
    val scored = tf
      .join(broadcast(queries), col("w") === col("q"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("q"), col("qrank"), col("doc_id"),
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") /
              (col("total_toks").cast("double") / col("n_docs")))), 4).as("s_bm25"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("s_tfidf"))
    // r18 optimization: both rankers' ranks are window specs over the
    // SAME q-partitioning, so they compute over ONE exchange of ONE
    // `scored` evaluation (the old form evaluated the whole scored
    // chain under each rankedBy branch and full-outer-joined the two
    // capped lists — two extra exchanges plus a join, guide §2.4:
    // window functions partitioned alike share one shuffle). A doc
    // outside one ranker's cap contributes 0 to the fusion sum and a
    // NULL rank column — exactly the join form's coalesce/absent
    // semantics — and the membership filter runs BEFORE the final
    // top-k window, so that window still sorts ≤ 2·cap rows per query
    // at any scale.
    def rk(scoreCol: String) = row_number().over(
      Window.partitionBy(col("q"))
        .orderBy(col(scoreCol).desc, col("doc_id").asc)).cast("long")
    val fused = scored
      .withColumn("rb", rk("s_bm25"))
      .withColumn("rt", rk("s_tfidf"))
      .where(col("rb") <= RrfCap || col("rt") <= RrfCap)
      .select(col("q"), col("qrank"), col("doc_id"),
        when(col("rb") <= RrfCap, col("rb")).as("rank_bm25"),
        when(col("rt") <= RrfCap, col("rt")).as("rank_tfidf"))
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_bm25")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_tfidf")), lit(0.0)), 6))
    fused
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("rrf_score").desc, col("doc_id").asc)).cast("long"))
      .where(col("rn") <= RrfTopK)
      .select(col("q"), col("qrank"), col("rn"), col("doc_id"),
        col("rank_bm25"), col("rank_tfidf"), col("rrf_score"))
      .orderBy("qrank", "rn")
  }

  // --- c103: NDCG ranking evaluation -------------------------------

  /** c103 — NDCG@k offline ranking evaluation (Järvelin & Kekäläinen,
    * TOIS 2002 — public): the quality metric every retrieval change
    * ships behind, computed over c97's fused top-[[RrfTopK]] lists.
    * Graded relevance is a deterministic md5-derived {0,1,2} stand-in
    * per (query, doc) — the seam a human-judgment or click-model
    * table plugs into (ONE expression swaps for a join against the
    * judgment artifact; the metric algebra ships as-is, the c100
    * discipline). DCG = Σ (2^rel − 1)/log2(rank+1); IDCG re-ranks the
    * SAME k gains ideally (rel DESC, doc_id tiebreak); NDCG = ratio.
    *
    * Scale shape: the eval runs on the top-k lists, never the corpus
    * — per query it touches k rows, and the per-query sums are
    * k-term decimal-exact aggregates (order-free; ln-ratio log2 is
    * IEEE-identical cross-engine, the c46 rule). The ideal-rank
    * window partitions by query over k rows — WindowGroupLimit-sized
    * by construction.
    */
  def ndcgEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = rrfFusionFrom(Tables.t(spark, sfDir, "documents"))
      .select(col("q"), col("qrank"), col("rn"), col("doc_id"))
      .withColumn("rel", expr(
        "CAST(graft_md5_prefix(concat('rel:', q, ':', CAST(doc_id AS STRING)), 1, 2) AS BIGINT) % 3"))
      .withColumn("gain", expr("CAST(shiftleft(1L, CAST(rel AS INT)) - 1 AS DOUBLE)"))
    val ideal = ranked.withColumn("irank", row_number().over(
      Window.partitionBy(col("q"))
        .orderBy(col("rel").desc, col("doc_id").asc)).cast("long"))
    ideal
      .groupBy(col("q"), col("qrank"))
      .agg(
        Canon.dsum18(col("gain") / (log(col("rn") + 1) / log(lit(2.0)))).as("dcg_raw"),
        Canon.dsum18(col("gain") / (log(col("irank") + 1) / log(lit(2.0)))).as("idcg_raw"))
      .select(col("q"), col("qrank"),
        round(col("dcg_raw"), 6).as("dcg"),
        round(col("idcg_raw"), 6).as("idcg"),
        when(col("idcg_raw") > 0, round(col("dcg_raw") / col("idcg_raw"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("qrank")
  }

  // --- c155: mean reciprocal rank ----------------------------------

  /** c155 — MRR@k over the fused lists (Voorhees, TREC-8 1999 —
    * public): per query the rank of the FIRST relevant doc in c97's
    * top-[[RrfTopK]] fusion and its reciprocal, plus the mean over
    * the query panel — the retrieval metric next to c103's NDCG
    * (NDCG grades the whole list, MRR grades time-to-first-hit, the
    * metric RAG answer-retrieval actually feels). Relevance is
    * c103's data-derived seam verbatim (one expression swaps for a
    * judgment table; the metric algebra ships as-is).
    *
    * Scale shape: runs on the top-k lists, never the corpus; the
    * mean rides an exact DECIMAL(38,18) sum of the 1e-6-rounded
    * reciprocals (order-free — a bare double mean over the panel
    * would be partial-order-dependent). A query with NO relevant doc
    * in its list contributes rr = 0 (the standard convention),
    * keeping the panel denominator fixed.
    */
  def mrrEval(spark: SparkSession, sfDir: String): DataFrame = {
    val rel = rrfFusionFrom(Tables.t(spark, sfDir, "documents"))
      .select(col("q"), col("qrank"), col("rn"), col("doc_id"))
      .withColumn("rel", expr(
        "CAST(graft_md5_prefix(concat('rel:', q, ':', CAST(doc_id AS STRING)), 1, 2) AS BIGINT) % 3"))
    val perQ = rel.groupBy(col("q"), col("qrank"))
      .agg(min(when(col("rel") > 0, col("rn"))).as("first_rel"))
      .select(col("q"), col("qrank"),
        coalesce(col("first_rel"), lit(0L)).as("first_rel_rank"),
        when(col("first_rel").isNotNull,
          round(lit(1.0) / col("first_rel"), 6)).otherwise(lit(0.0)).as("rr"))
    val mrr = perQ.agg(
      round(Canon.dsum18(col("rr")) / count(lit(1)), 6).as("mrr"))
    perQ.crossJoin(broadcast(mrr))
      .select(col("q"), col("qrank"), col("first_rel_rank"), col("rr"), col("mrr"))
      .orderBy("qrank")
  }

  // --- c71: weighted sampling without replacement ------------------

  /** Sample size of the c71 key. */
  private val SampleK = 100

  /** c71 — weighted sampling WITHOUT replacement by exponential race:
    * Efraimidis & Spirakis (IPL 2006, public) in its ln form — each
    * doc draws key = −ln(u)/w (u uniform, w = n_chars its weight) and
    * the k smallest keys are EXACTLY a weighted sample without
    * replacement. One corpus scan + a global top-k: Spark executes the
    * sort+limit as TakeOrderedAndProject (per-partition bounded heap,
    * driver merges p·k rows) — the one-pass distributed reservoir, no
    * corpus shuffle at any scale.
    *
    * Determinism: u derives from md5(doc_id) as (x+0.5)/2^32 — exact
    * dyadic arithmetic on an exact integer, never 0 or 1 — so the key
    * is `ln` of identical doubles divided by an integer: bit-identical
    * cross-engine (the c46 rule), and the top-k cut with doc_id
    * tiebreak cannot straddle. The sample is a pure function of
    * (doc_id, weight): reproducible across runs, engines and
    * partitionings, and stable under corpus growth except where a new
    * doc races into the top k — the Efraimidis-Spirakis property that
    * makes the sample mergeable across shards by keeping each shard's
    * top k and re-selecting.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    weightedSampleFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[weightedSample]] over any (doc_id, lang, n_chars) frame. */
  private[graft] def weightedSampleFrom(docs: DataFrame): DataFrame = {
    val u = (Canon.md5Prefix(concat(lit("wsamp:"), col("doc_id").cast("string")), 1, 8)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    docs
      .select(col("doc_id"), col("lang"), col("n_chars").as("weight"),
        (-log(u) / col("n_chars")).as("k"))
      .orderBy(col("k").asc, col("doc_id").asc)
      .limit(SampleK)
      .select(
        row_number().over(Window.orderBy(col("k").asc, col("doc_id").asc))
          .cast("long").as("rn"),
        col("doc_id"), col("lang"), col("weight"),
        round(col("k"), 6).as("key"))
      .orderBy("rn")
  }

  // --- c72: Gopher rule gate ---------------------------------------

  /** The stopword list shared with the c15/c45 quality kernels. */
  private val Stop = Seq("the", "a", "of", "and", "in")

  /** c72 — the Gopher hand-rule document gate (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1, public), the canonical pre-filter run
    * before any model-based quality scoring: per doc,
    *
    *  - r_wc:    50 ≤ word count ≤ 100,000,
    *  - r_mwl:   3 ≤ mean word length ≤ 10,
    *  - r_alpha: > 80% of words contain an alphabetic character,
    *  - r_stop:  ≥ 2 distinct stop words present,
    *
    * plus the overall `passes` conjunction and `n_failed`. The paper's
    * symbol/bullet/ellipsis ratios collapse to the alpha rule on a
    * single-line corpus; the four kept rules are the ones this fixture
    * can exercise in both directions.
    *
    * Scale shape: ONE scan, zero joins, zero shuffles before the
    * output sort — every rule is a per-row expression over the split
    * token array (array_* higher-order functions, codegen'd), so the
    * gate runs at scan speed and composes with c31's curation pipeline
    * as a pushed-down predicate. Determinism: counts are integers,
    * mean word length is an exact int ratio, and every threshold
    * compares integer-derived doubles — identical in both engines.
    */
  def gopherGate(spark: SparkSession, sfDir: String): DataFrame =
    gopherGateFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[gopherGate]] over any (doc_id, lang, text) frame. */
  private[graft] def gopherGateFrom(docs: DataFrame): DataFrame = {
    val stopArr = s"array(${Stop.map("'" + _ + "'").mkString(",")})"
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").as("char_sum"),
        size(expr("filter(ws, w -> w rlike '[a-z]')")).cast("long").as("n_alpha"),
        size(expr(s"array_intersect(array_distinct(ws), $stopArr)"))
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        round(col("char_sum").cast("double") / col("n_words"), 4).as("mean_word_len"),
        round(col("n_alpha").cast("double") / col("n_words"), 4).as("alpha_frac"),
        col("n_stop"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_wc"),
        (col("char_sum").cast("double") / col("n_words") >= 3.0 &&
          col("char_sum").cast("double") / col("n_words") <= 10.0).as("r_mwl"),
        (col("n_alpha").cast("double") / col("n_words") > 0.8).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"))
      .withColumn("n_failed",
        ((!col("r_wc")).cast("long") + (!col("r_mwl")).cast("long") +
          (!col("r_alpha")).cast("long") + (!col("r_stop")).cast("long")))
      .withColumn("passes", col("n_failed") === 0)
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c70_bm25_topk" -> (bm25Topk(_, _)),
    "c71_weighted_sample" -> (weightedSample(_, _)),
    "c72_gopher_gate" -> (gopherGate(_, _)),
    "c97_rrf_fusion" -> (rrfFusion(_, _)),
    "c103_ndcg_eval" -> (ndcgEval(_, _)),
    "c155_mrr_eval" -> (mrrEval(_, _)))

  /** Shared c97/c103 oracle CTE chain: both rankers, capped rank
    * lists, the RRF fusion, and the fused rank — ends at `ranked`.
    */
  private def rrfOracleCte: String =
    s"""WITH tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks FROM dl
       |), dfreq AS (
       |  SELECT w, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY w
       |), queries AS (
       |  SELECT w AS q, qrank, df FROM (
       |    SELECT w, df, CAST(row_number() OVER
       |      (ORDER BY cnt DESC NULLS LAST, w ASC NULLS FIRST) AS BIGINT) AS qrank
       |    FROM dfreq
       |  ) WHERE qrank <= $Bm25Queries
       |), scored AS (
       |  SELECT q, qrank, tf.doc_id,
       |    ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf.tf * ${Bm25K1 + 1.0})
       |      / (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl
       |          / (CAST(total_toks AS DOUBLE) / n_docs))), 4) AS s_bm25,
       |    ROUND(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS s_tfidf
       |  FROM tf JOIN queries ON tf.w = queries.q
       |       JOIN dl ON tf.doc_id = dl.doc_id, stats
       |), ra AS (
       |  SELECT q, qrank, doc_id, rank_bm25 FROM (
       |    SELECT q, qrank, doc_id, CAST(row_number() OVER (PARTITION BY q
       |      ORDER BY s_bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST) AS BIGINT) AS rank_bm25
       |    FROM scored
       |  ) WHERE rank_bm25 <= $RrfCap
       |), rb AS (
       |  SELECT q, qrank, doc_id, rank_tfidf FROM (
       |    SELECT q, qrank, doc_id, CAST(row_number() OVER (PARTITION BY q
       |      ORDER BY s_tfidf DESC NULLS LAST, doc_id ASC NULLS FIRST) AS BIGINT) AS rank_tfidf
       |    FROM scored
       |  ) WHERE rank_tfidf <= $RrfCap
       |), fused AS (
       |  SELECT coalesce(ra.q, rb.q) AS q, coalesce(ra.qrank, rb.qrank) AS qrank,
       |    coalesce(ra.doc_id, rb.doc_id) AS doc_id, rank_bm25, rank_tfidf,
       |    ROUND(coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + rank_bm25), 0.0)
       |      + coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + rank_tfidf), 0.0), 6) AS rrf_score
       |  FROM ra FULL OUTER JOIN rb
       |    ON ra.q = rb.q AND ra.doc_id = rb.doc_id
       |), ranked AS (
       |  SELECT q, qrank, doc_id, rank_bm25, rank_tfidf, rrf_score,
       |    CAST(row_number() OVER (PARTITION BY q
       |      ORDER BY rrf_score DESC NULLS LAST, doc_id ASC NULLS FIRST) AS BIGINT) AS rn
       |  FROM fused
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "c70_bm25_topk" ->
      s"""WITH tf AS (
         |  SELECT doc_id, w, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY doc_id, w
         |), dl AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
         |), stats AS (
         |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks FROM dl
         |), dfreq AS (
         |  SELECT w, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY w
         |), queries AS (
         |  SELECT w AS q, qrank, df FROM (
         |    SELECT w, df, CAST(row_number() OVER
         |      (ORDER BY cnt DESC NULLS LAST, w ASC NULLS FIRST) AS BIGINT) AS qrank
         |    FROM dfreq
         |  ) WHERE qrank <= $Bm25Queries
         |), scored AS (
         |  SELECT q, qrank, tf.doc_id, tf.tf,
         |    ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf.tf * ${Bm25K1 + 1.0})
         |      / (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl
         |          / (CAST(total_toks AS DOUBLE) / n_docs))), 4) AS score
         |  FROM tf JOIN queries ON tf.w = queries.q
         |       JOIN dl ON tf.doc_id = dl.doc_id, stats
         |)
         |SELECT q, qrank, rn, doc_id, tf, score FROM (
         |  SELECT q, qrank, doc_id, tf, score,
         |    CAST(row_number() OVER (PARTITION BY q
         |      ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST) AS BIGINT) AS rn
         |  FROM scored
         |) WHERE rn <= $Bm25TopK
         |ORDER BY qrank ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "c97_rrf_fusion" ->
      s"""$rrfOracleCte
         |SELECT q, qrank, rn, doc_id, rank_bm25, rank_tfidf, rrf_score
         |FROM ranked WHERE rn <= $RrfTopK
         |ORDER BY qrank ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "c103_ndcg_eval" ->
      s"""$rrfOracleCte, rel AS (
         |  SELECT q, qrank, rn, doc_id,
         |    CAST(('0x' || substr(md5('rel:' || q || ':' || CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 3 AS rel
         |  FROM ranked WHERE rn <= $RrfTopK
         |), gains AS (
         |  SELECT q, qrank, rn,
         |    CAST((1 << rel) - 1 AS DOUBLE) AS gain, doc_id,
         |    CAST(row_number() OVER (PARTITION BY q
         |      ORDER BY rel DESC NULLS LAST, doc_id ASC NULLS FIRST) AS BIGINT) AS irank
         |  FROM rel
         |)
         |SELECT q, qrank,
         |  ROUND(CAST(SUM(CAST(gain / (ln(rn + 1) / ln(2)) AS DECIMAL(38,18))) AS DOUBLE), 6) AS dcg,
         |  ROUND(CAST(SUM(CAST(gain / (ln(irank + 1) / ln(2)) AS DECIMAL(38,18))) AS DOUBLE), 6) AS idcg,
         |  CASE WHEN CAST(SUM(CAST(gain / (ln(irank + 1) / ln(2)) AS DECIMAL(38,18))) AS DOUBLE) > 0
         |    THEN ROUND(CAST(SUM(CAST(gain / (ln(rn + 1) / ln(2)) AS DECIMAL(38,18))) AS DOUBLE)
         |      / CAST(SUM(CAST(gain / (ln(irank + 1) / ln(2)) AS DECIMAL(38,18))) AS DOUBLE), 6)
         |    ELSE 0.0 END AS ndcg
         |FROM gains
         |GROUP BY q, qrank
         |ORDER BY qrank ASC NULLS FIRST""".stripMargin,

    "c155_mrr_eval" ->
      s"""$rrfOracleCte, rel AS (
         |  SELECT q, qrank, rn,
         |    CAST(('0x' || substr(md5('rel:' || q || ':' || CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 3 AS rel
         |  FROM ranked WHERE rn <= $RrfTopK
         |), per_q AS (
         |  SELECT q, qrank,
         |    CAST(coalesce(min(CASE WHEN rel > 0 THEN rn END), 0) AS BIGINT)
         |      AS first_rel_rank,
         |    CASE WHEN min(CASE WHEN rel > 0 THEN rn END) IS NOT NULL
         |      THEN ROUND(CAST(1.0 AS DOUBLE) / min(CASE WHEN rel > 0 THEN rn END), 6)
         |      ELSE 0.0 END AS rr
         |  FROM rel GROUP BY q, qrank
         |), m AS (
         |  SELECT ROUND(CAST(SUM(CAST(rr AS DECIMAL(38,18))) AS DOUBLE)
         |    / COUNT(*), 6) AS mrr FROM per_q
         |)
         |SELECT q, qrank, first_rel_rank, rr, mrr FROM per_q, m
         |ORDER BY qrank ASC NULLS FIRST""".stripMargin,

    "c71_weighted_sample" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, n_chars AS weight,
         |    -ln((CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |         + 0.5) / 4294967296.0) / n_chars AS k
         |  FROM documents
         |), top AS (
         |  SELECT * FROM keyed ORDER BY k ASC NULLS FIRST, doc_id ASC NULLS FIRST
         |  LIMIT $SampleK
         |)
         |SELECT CAST(row_number() OVER
         |    (ORDER BY k ASC NULLS FIRST, doc_id ASC NULLS FIRST) AS BIGINT) AS rn,
         |  doc_id, lang, weight, ROUND(k, 6) AS key
         |FROM top
         |ORDER BY rn ASC NULLS FIRST""".stripMargin,

    "c72_gopher_gate" -> {
      val stopList = Stop.map("'" + _ + "'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS char_sum,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(ws), [$stopList])) AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
         |), rules AS (
         |  SELECT doc_id, lang, n_words,
         |    ROUND(CAST(char_sum AS DOUBLE) / n_words, 4) AS mean_word_len,
         |    ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_frac,
         |    n_stop,
         |    (n_words >= 50 AND n_words <= 100000) AS r_wc,
         |    (CAST(char_sum AS DOUBLE) / n_words >= 3.0
         |      AND CAST(char_sum AS DOUBLE) / n_words <= 10.0) AS r_mwl,
         |    (CAST(n_alpha AS DOUBLE) / n_words > 0.8) AS r_alpha,
         |    (n_stop >= 2) AS r_stop
         |  FROM base
         |)
         |SELECT doc_id, lang, n_words, mean_word_len, alpha_frac, n_stop,
         |  r_wc, r_mwl, r_alpha, r_stop,
         |  CAST((NOT r_wc)::INT + (NOT r_mwl)::INT + (NOT r_alpha)::INT
         |    + (NOT r_stop)::INT AS BIGINT) AS n_failed,
         |  ((NOT r_wc)::INT + (NOT r_mwl)::INT + (NOT r_alpha)::INT
         |    + (NOT r_stop)::INT = 0) AS passes
         |FROM rules
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })
}
