package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Canon, Tables}

/** Text-analysis operators for the training-data pipeline (north-star
  * group: language-ID, quality scoring, token counting, document
  * fingerprinting).
  *
  * Scale posture: lang-ID's profile table is (n_langs × top-k) rows —
  * broadcast; per-doc scoring shuffles once on (doc, candidate-lang).
  * Quality/token-count are pure per-row projections. Fingerprints are
  * per-doc bottom-k sketches (constant bytes per doc regardless of doc
  * size) — the winnowing-style shape used for corpus-scale dedup
  * indexes.
  */
object TextAnalysis {
  import Canon._

  type Q = (SparkSession, String) => DataFrame

  private val ProfileTopK = 10
  private[graft] val Stopwords = Seq("the", "a", "of", "and", "in")

  /** c14 — language identification by token-profile overlap: each
    * language's profile = its top-10 corpus tokens; a doc's score for
    * a language = how many of its token occurrences hit that profile;
    * prediction = argmax (lang-ascending tiebreak). Self-trained,
    * deterministic, no model artifacts. (On these fixtures every
    * language shares one synthetic vocabulary, so accuracy is
    * near-chance — the pipeline, not the accuracy, is the operator.)
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
    val wProf = Window.partitionBy(col("plang"))
      .orderBy(col("cnt").desc, col("w"))
    val profile = toks.groupBy(col("lang").as("plang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wProf))
      .where(col("r") <= ProfileTopK)
      .select(col("plang"), col("w"))
    val scores = toks.join(broadcast(profile), "w")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("score"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("plang"))
    scores.withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        col("plang").as("predicted_lang"), col("score"))
      .orderBy("doc_id")
  }

  /** c15 — heuristic quality score: length score, stopword ratio,
    * average token length — the cheap filters a corpus pipeline runs
    * before anything expensive.
    */
  /** The shared quality projection (per-doc `ws`, `n_tokens`,
    * `n_stop`, `ls_raw`, `quality`) behind c15 and the c31 pipeline.
    * quality is built from UNROUNDED components: rounding the inputs
    * first manufactures exact .00005 half-way cases where Spark
    * (decimal HALF_UP) and DuckDB (binary rounding) disagree.
    */
  private[graft] def qualityBase(d: DataFrame): DataFrame = d
    .withColumn("ws", split(col("text"), " "))
    .withColumn("n_tokens", size(col("ws")).cast("long"))
    .withColumn("n_stop",
      size(expr(s"filter(ws, w -> array_contains(array(${Stopwords.map("'" + _ + "'").mkString(",")}), w))"))
        .cast("double"))
    .withColumn("ls_raw", least(length(col("text")).cast("double") / 300.0, lit(1.0)))
    .withColumn("quality",
      round(lit(0.5) * col("ls_raw") +
        lit(0.5) * (lit(1.0) - col("n_stop") / col("n_tokens")), 4))

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    qualityBase(Tables.t(spark, sfDir, "documents"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round((length(col("text")) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"), 4).as("avg_token_len"),
        col("quality"),
        round(col("n_stop") / col("n_tokens"), 4).as("stopword_ratio"),
        round(col("ls_raw"), 4).as("length_score"))
      .orderBy("doc_id")

  /** c16 — token counting: whitespace tokens vs BPE-ish subword pieces
    * (greedy ≤3-char chunks via regex — the codepoint-budget estimator
    * shape used for context-length accounting).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]{1,3}', 0)")).cast("long").as("bpe_pieces"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"))
      .withColumn("pieces_per_token",
        round(col("bpe_pieces").cast("double") / col("ws_tokens"), 4))
      .transform(graft.Canon.barrierSort(_, "doc_id"))

  /** c17 — document fingerprint: bottom-4 sketch of character 5-gram
    * md5s, sampled at stride 4 (winnowing-style). Constant-size per
    * doc; near-dup docs share most sketch elements, exact dups share
    * all. The stride cuts hashing work 4× vs every-position 5-grams —
    * at 100 TB the fingerprint pass is hash-bound, so the stride is
    * the difference between 1× and 4× the corpus-scan cost. Output is
    * the '|'-joined sorted sketch (one string, §5.3 rule 5).
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    graft.Canon.barrierSort(Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), expr(
        "concat_ws('|', slice(array_sort(transform(sequence(1, greatest(length(text) - 4, 1), 4), i -> md5(substring(text, i, 5)))), 1, 4))")
        .as("fingerprint")), "doc_id")

  private val ChunkW = 32
  private val ChunkStride = 24

  /** c52 — token-window CHUNKING with overlap: split each document's
    * token stream into windows of [[ChunkW]] tokens starting every
    * [[ChunkStride]] (overlap = W−S = 8 tokens of shared context) —
    * the chunking step that feeds embedding/RAG indexing and
    * fixed-context pretraining. Window starts are
    * `1, 1+S, … ≤ max(n−(W−S), 1)`: the bound drops any start whose
    * window would add no new token (a pure suffix of its
    * predecessor), so every token is covered exactly once by a chunk
    * tail and interior chunks overlap by exactly W−S — pinned in
    * TextAnalysisSpec. Each chunk is addressed content-first
    * (md5 of the re-joined window) so downstream chunk dedup/indexing
    * is content-addressable, plus (doc_id, chunk_idx) provenance.
    * Scale shape: one corpus scan, a per-row `sequence`+`explode`
    * fan-out of ~n/S rows per doc and a codegen'd projection — no
    * shuffle, no state; at 100 TB chunking stays embarrassingly
    * parallel and output size is input×(W/S) tokens by construction.
    */
  def chunkTokens(spark: SparkSession, sfDir: String): DataFrame =
    chunkTokensFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[chunkTokens]] over any (doc_id, text) frame — split
    * out so the spec can pin the window arithmetic on hand-built docs.
    */
  private[graft] def chunkTokensFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("start", explode(sequence(lit(1L),
        greatest(col("n") - lit((ChunkW - ChunkStride).toLong), lit(1L)),
        lit(ChunkStride.toLong))))
      .withColumn("chunk", expr(s"slice(ws, cast(start as int), $ChunkW)"))
      .select(col("doc_id"),
        expr(s"(start - 1) div $ChunkStride + 1").as("chunk_idx"),
        col("start").as("start_token"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  private val BpeTopK = 20

  /** c53 — BPE merge candidates: the pair-counting step of one
    * byte-pair-encoding merge iteration — for every adjacent character
    * pair inside a word, the corpus-weighted occurrence count; the
    * top-[[BpeTopK]] ranked pairs are the merges a tokenizer trainer
    * would apply next. Counting runs on the VOCABULARY, not the
    * corpus: one corpus scan collapses to (word, count) with map-side
    * combine, then the per-character fan-out (≤ len(w)−1 rows per
    * vocab entry) touches each distinct word once — at 100 TB the
    * corpus-sized pass is a counting scan and the string work is
    * vocab-sized, which is why production BPE trainers are feasible
    * at all. Multiplicity is preserved ("aaa" contributes "aa"
    * twice), matching the textbook BPE count. Deterministic global
    * top-k: full (count DESC, pair ASC) tiebreak; the rank window
    * runs AFTER the limit so it orders 20 rows, not the pair table.
    */
  def bpeMergePairs(spark: SparkSession, sfDir: String): DataFrame =
    bpeMergePairsFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[bpeMergePairs]] over any (text) frame — split out so
    * the spec can pin pair multiplicity ("aaa" → "aa" twice) directly.
    */
  private[graft] def bpeMergePairsFrom(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .where(length(col("w")) >= 2)
    vocab
      .select(col("w"), col("wc"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wc")).as("n_occurrences"),
        countDistinct(col("w")).as("n_words"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(BpeTopK)
      .withColumn("merge_rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("pair").asc)).cast("long"))
      .select(col("merge_rank"), col("pair"), col("n_occurrences"), col("n_words"))
      .orderBy("merge_rank")
  }

  // c61 — the merge-application side of one BPE training iteration.
  private[graft] val BpeMergeMark = "_"

  /** c61 — APPLY the winning BPE merge (c53's rank-1 pair) to the
    * corpus, closing the count → select → apply loop of one tokenizer-
    * training iteration: every left-to-right non-overlapping occurrence
    * of the pair inside a word becomes one merged symbol, and the
    * per-language symbol-count reduction is reported (the quantity BPE
    * training greedily maximizes). Greedy left-to-right is exactly
    * `replace(w, pair, mark)` in both engines ("aaa" under pair "aa"
    * merges ONCE — the application semantics — while c53 counts it
    * twice — the counting semantics; both are the textbook behavior,
    * pinned by spec), and each merge shortens the word by exactly one
    * char, so merges = len(w) − len(replace(w, pair, mark)).
    *
    * Scale shape: all string work runs on the (lang, word) VOCABULARY
    * (c53's discipline — the corpus-sized pass is a counting scan with
    * map-side combine); the winning pair is a 1-row broadcast. At
    * 100 TB a full BPE train is this plan iterated |vocab|-of-merges
    * times over the shrinking vocab table — each round is one
    * vocab-sized projection plus one corpus-free aggregation.
    */
  def bpeApplyMerge(spark: SparkSession, sfDir: String): DataFrame =
    bpeApplyMergeFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[bpeApplyMerge]] over any (lang, text) frame — split
    * out so the spec can pin the greedy left-to-right application
    * semantics ("aaaa" merges twice, "aaa" once) directly.
    */
  private[graft] def bpeApplyMergeFrom(docs: DataFrame): DataFrame = {
    val top = bpeMergePairsFrom(docs)
      .where(col("merge_rank") === 1).select(col("pair"))
    val vocab = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wc"))
    vocab.crossJoin(broadcast(top))
      .withColumn("merges",
        (length(col("w")) - length(expr(s"replace(w, pair, '$BpeMergeMark')")))
          .cast("long"))
      .groupBy(col("lang"), col("pair"))
      .agg(
        sum(when(col("merges") > 0, col("wc")).otherwise(0L)).as("n_carrier_tokens"),
        sum(col("wc") * length(col("w"))).as("n_symbols_before"),
        sum(col("wc") * col("merges")).as("n_merges"))
      .select(col("lang"), col("pair"), col("n_carrier_tokens"),
        col("n_symbols_before"), col("n_merges"),
        (col("n_symbols_before") - col("n_merges")).as("n_symbols_after"),
        round((col("n_symbols_before") - col("n_merges")).cast("double") /
          col("n_symbols_before"), 4).as("compression"))
      .orderBy("lang")
  }

  // c78 — the iterative trainer closing c53 (count) + c61 (apply)
  // into the actual BPE training loop.
  private[graft] val BpeTrainRounds = 3

  /** Round r's merge mark (0-based): one UPPERCASE char — disjoint
    * from the lowercase corpus alphabet, so a merged pair stays ONE
    * symbol = one char and later rounds can merge marks with letters
    * or marks with marks (how real BPE symbols compose).
    */
  private[graft] def bpeMark(r: Int): String = ('A' + r).toChar.toString

  /** c78 — BPE TRAINING, [[BpeTrainRounds]] greedy merge rounds: each
    * round counts adjacent symbol pairs over the current vocabulary,
    * picks the most frequent (count desc, pair asc — the spec
    * tiebreak), rewrites every word's non-overlapping left-to-right
    * occurrences to a fresh single-char mark, and re-collapses the
    * vocabulary (distinct words CAN collide after a merge — their
    * counts sum, exactly a symbol-sequence vocab). Emits one row per
    * round: the winning pair, its count, and the post-merge vocabulary
    * size / total symbol count (the quantities the greedy loop
    * optimizes). Sennrich et al. 2016 (arXiv:1508.07909, public)
    * reduced to its exact deterministic core.
    *
    * Scale shape: the ONE corpus-sized pass is the initial word-count
    * aggregation (map-side combined); every round after that is
    * VOCABULARY-sized — pair explode (≤ len−1 per word), a
    * vocab-keyed agg, a 1-row `limit(1)` winner broadcast, and the
    * rewrite projection. Per-round vocab tables are eagerly
    * `localCheckpoint(true)`'d (the c35 Lloyd discipline): without the
    * cut, round r's plan would embed round r−1's TWICE (once via the
    * winner subtree, once via the rewrite), doubling plan size per
    * round and re-running the corpus scan 2^K times.
    *
    * Counting semantics are c53's (overlaps counted: "aaa" → "aa"
    * twice); application semantics are c61's (`replace` merges
    * left-to-right non-overlapping: "aaa" merges once) — both
    * textbook, both engine-identical.
    */
  def bpeTrainSteps(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainStepsFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[bpeTrainSteps]] over any (text) frame — split out so
    * the spec can pin the loop semantics (mark reuse across rounds,
    * post-merge vocab collisions summing) on a hand-built corpus.
    */
  private[graft] def bpeTrainStepsFrom(docs: DataFrame): DataFrame = {
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .localCheckpoint(true)
    val rounds = (0 until BpeTrainRounds).map { r =>
      val counts = vocab.where(length(col("w")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n_occurrences"))
      val winner = counts
        .orderBy(col("n_occurrences").desc, col("pair").asc).limit(1)
      vocab = vocab.crossJoin(broadcast(winner))
        .select(expr(s"replace(w, pair, '${bpeMark(r)}')").as("w"), col("wc"))
        .groupBy(col("w")).agg(sum(col("wc")).as("wc"))
        .localCheckpoint(true)
      val stats = vocab.agg(count(lit(1)).as("vocab_size_after"),
        sum(col("wc") * length(col("w"))).as("n_symbols_after"))
      winner.crossJoin(stats)
        .select(lit(r + 1L).as("merge_round"), col("pair"),
          col("n_occurrences"), col("vocab_size_after"),
          col("n_symbols_after"))
    }
    rounds.reduce(_.unionAll(_)).orderBy("merge_round")
  }

  /** The c78 oracle, machine-generated for [[BpeTrainRounds]] rounds —
    * the same count → select → apply chain as unrolled DuckDB CTEs, so
    * the Spark loop and the SQL can never drift on round count or mark
    * characters.
    */
  private[graft] def bpeTrainOracleSql: String = {
    val v0 =
      """v0 AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w
        |)""".stripMargin
    val rounds = (0 until BpeTrainRounds).map { r =>
      val (prev, cur, n) = (s"v$r", s"v${r + 1}", r + 1)
      s"""p$n AS (
         |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
         |  FROM (SELECT wc,
         |          unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
         |        FROM $prev WHERE length(w) >= 2)
         |  GROUP BY pair
         |), t$n AS (
         |  SELECT pair, n_occurrences FROM p$n
         |  ORDER BY n_occurrences DESC NULLS LAST, pair ASC NULLS FIRST LIMIT 1
         |), $cur AS (
         |  SELECT w, CAST(SUM(wc) AS BIGINT) AS wc
         |  FROM (SELECT replace($prev.w, t$n.pair, '${bpeMark(r)}') AS w, wc
         |        FROM $prev, t$n)
         |  GROUP BY w
         |), s$n AS (
         |  SELECT CAST($n AS BIGINT) AS merge_round, t$n.pair, t$n.n_occurrences,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $cur) AS vocab_size_after,
         |    (SELECT CAST(SUM(wc * length(w)) AS BIGINT) FROM $cur) AS n_symbols_after
         |  FROM t$n
         |)""".stripMargin
    }
    val union = (1 to BpeTrainRounds)
      .map(n => s"SELECT * FROM s$n").mkString("\nUNION ALL\n")
    s"WITH ${(v0 +: rounds).mkString(", ")}\n$union\nORDER BY merge_round ASC NULLS FIRST"
  }

  // c60 — the "curated domain" stand-in for DSIR's target corpus.
  private[graft] val TargetSources = Seq("src0", "src1")

  /** c60 — importance weighting for data selection, the deterministic
    * unigram form of DSIR (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169,
    * public): score every document by how much more likely its tokens
    * are under the TARGET domain's unigram distribution than under the
    * full corpus's — log w(d) = Σ_tokens ln p̂_target(w) − ln p̂_corpus(w),
    * add-1 smoothed over the corpus vocabulary so target-unseen tokens
    * penalize rather than zero out. DSIR proper hashes n-gram features
    * into buckets and resamples via Gumbel noise; this reduction keeps
    * the importance-weight core exact and RNG-free (selection =
    * deterministic log w > 0, the "more target-like than corpus-
    * average" cut), which is what makes it oracle-verifiable.
    *
    * Scale shape: one token-stream scan feeds two map-side-combined
    * vocabulary aggregations (corpus counts; target counts — the
    * target filter is a pushed-down source predicate); the per-token
    * log-ratio table is vocabulary-sized and broadcasts like c46's
    * unigram table (past broadcast size the same plan is a shuffle
    * join on the token). Per-token log-ratios ride the decimal canon
    * ([[Canon.dsum]]) so the per-doc sum is partition- and engine-
    * invariant; every probability is an exact integer ratio until the
    * final ln.
    */
  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame =
    importanceWeightsFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[importanceWeights]] over any (doc_id, source, text)
    * frame — split out so the spec can pin the sign behavior on a
    * hand-built two-domain corpus.
    */
  private[graft] def importanceWeightsFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
    val corpus = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val target = toks.where(col("source").isin(TargetSources: _*))
      .groupBy(col("w").as("tw_w")).agg(count(lit(1)).as("tw"))
    val totals = corpus.agg(sum(col("cw")).as("c_total"),
        count(lit(1)).as("v"))
      .crossJoin(target.agg(sum(col("tw")).as("t_total")))
    val lam = corpus.join(target, col("w") === col("tw_w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("w").as("lw"),
        (log((coalesce(col("tw"), lit(0L)) + 1).cast("double") /
           (col("t_total") + col("v")).cast("double")) -
         log((col("cw") + 1).cast("double") /
           (col("c_total") + col("v")).cast("double"))).as("lam"))
    toks.join(broadcast(lam), col("w") === col("lw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        Canon.rsum6(Canon.dsum(col("lam"))).as("log_weight"))
      .select(col("doc_id"), col("n_tokens"), col("log_weight"),
        (col("log_weight") > 0).cast("long").as("selected"))
      .orderBy("doc_id")
  }

  /** c20 — deterministic hash sampling: keep a document iff the first
    * hex nibble of md5("sample:" ++ doc_id) falls in a fixed set — a
    * 4/16 = 25% sample that is reproducible across runs, engines and
    * cluster sizes (no RNG, no seed plumbing, no partition
    * sensitivity), which is how a production corpus pipeline cuts
    * reproducible subsamples. The salt isolates this decision from
    * every other md5(doc_id) use. Reported as per-language kept/total/
    * rate so the oracle verifies both the membership decision and the
    * stratification balance.
    */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.t(spark, sfDir, "documents")
    val kept = d.where(substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 1)
      .isin("0", "1", "2", "3"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val totals = d.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    kept.join(totals, "lang")
      .select(col("lang"), col("n_kept"), col("n_total"),
        round(col("n_kept").cast("double") / col("n_total"), 4).as("rate"))
      .orderBy("lang")
  }

  // Shared by the Spark query and the DuckDB oracle (triple-quoted: the
  // backslashes reach both regex engines literally). Subset of
  // Java-regex/RE2 syntax that behaves identically in both.
  private val EmailPat = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val UrlPat = """https?://\S+"""
  private val PhonePat = """\+?\d[\d-]{6,}\d"""

  /** c23 — PII detection + redaction: count and mask emails, URLs and
    * phone numbers — the scrub pass a training corpus runs before
    * anything leaves the pipeline. The fixtures carry no PII, so the
    * query first PLANTS one deterministic span of each kind per
    * document (derived from doc_id — reproducible across engines),
    * then detects and redacts; the oracle re-derives identical spans,
    * so the match verifies the regex semantics end-to-end, not a
    * no-op. Pure per-row projection: regex work is codegen'd,
    * no shuffle, scales linearly with corpus bytes. Redaction order
    * (email → URL → phone) is fixed and mirrored in the oracle —
    * the patterns are applied to disjoint spans but order still
    * matters for any text that nests them.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.org or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" see https://ex.org/u/"), col("doc_id").cast("string")).as("text"))
      .withColumn("n_email", size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long"))
      .withColumn("n_url", size(regexp_extract_all(col("text"), lit(UrlPat), lit(0))).cast("long"))
      .withColumn("n_phone", size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).cast("long"))
      .withColumn("clean",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailPat, "<EMAIL>"), UrlPat, "<URL>"), PhonePat, "<PHONE>"))
      .select(col("doc_id"), col("lang"), col("n_email"), col("n_url"), col("n_phone"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
      .transform(graft.Canon.barrierSort(_, "doc_id"))

  private[graft] val PackBudget = 2048

  /** c26 — corpus MIXING: downsample each source to a target rate —
    * how a training mix rebalances web/books/code/… proportions. Rates
    * are enforced with the same deterministic-hash membership as c20:
    * keep iff the first md5 byte (2 hex chars, fixed-width so the
    * lexicographic compare IS the numeric compare, identical in both
    * engines) is below the source's cut. Per-source target rates
    * derive from the source number (src_num % 4 + 1)/8 ∈ {.125, .25,
    * .375, .5}; cuts are the matching hex bytes 20/40/60/80.
    * Reproducible across runs/engines/partitionings; one scan, tiny
    * agg — nothing here breaks at any corpus size.
    */
  def corpusMix(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
      .withColumn("target_rate", ((col("src_num") % 4) + 1).cast("double") / 8.0)
      .withColumn("cut", element_at(
        map(lit(1), lit("20"), lit(2), lit("40"), lit(3), lit("60"), lit(4), lit("80")),
        (col("src_num") % 4) + 1))
      .withColumn("kept", substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 2) < col("cut"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("kept"), 1)).as("n_kept"),
        first(col("target_rate")).as("target_rate"))
      .withColumn("actual_rate", round(col("n_kept").cast("double") / col("n_total"), 4))
      .orderBy("source")

  private val MixAlpha = 0.3

  /** c58 — TEMPERATURE language sampling: the multilingual training-
    * mix re-weighting q_l ∝ p_l^α (α = [[MixAlpha]] = 0.3, the
    * mT5/XLM-R setting — Xue et al. 2020, arXiv:2010.11934; Conneau
    * et al. 2019, arXiv:1911.02116; both public) that up-samples
    * low-resource languages without letting any language dominate.
    * Per language: corpus share p_l, sampling weight q_l and the
    * boost factor q_l/p_l a sampler would apply. p_l is an exact
    * count ratio; p^α is intrinsically FP (pow), so the emitted
    * columns tolerance-round at 1e-4 ([[Canon.r4]], the stddev/corr
    * rule) — far above pow's ulp-level cross-engine drift but fine
    * enough to pin the mix.
    *
    * Scale shape: one counting scan with map-side combine to n_langs
    * rows, then arithmetic on the driver-sized aggregate — nothing
    * here changes at any corpus size.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.t(spark, sfDir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // zn rides Canon.dsum: a raw double sum's merge order is
    // nondeterministic (determinism canon); the 1e-6 decimal cast is
    // far above pow's ulp-level cross-engine drift.
    val tot = counts.agg(sum(col("n_docs")).as("total"),
      dsum(pow(col("n_docs"), MixAlpha)).as("zn"))
    // zn = Σ n^α: dividing n^α/N^α by Σ (n/N)^α cancels the N^α, so
    // weights can be computed from raw counts without the share
    // intermediate — fewer FP steps for the oracle to mirror.
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("total"), 4).as("share"),
        round(pow(col("n_docs"), MixAlpha) / col("zn"), 4).as("weight"),
        round((pow(col("n_docs"), MixAlpha) / col("zn")) /
          (col("n_docs").cast("double") / col("total")), 4).as("boost"))
      .orderBy("lang")
  }

  /** c27 — sequence PACKING accounting: assign documents to fixed
    * token-budget bins (the context-window packing step before
    * training) by running token count within each language, bin =
    * floor(tokens-before-this-doc / budget); report per-bin doc/token
    * counts and fill rate. Deterministic: doc_id order, no RNG.
    *
    * Scale shape (round-13 OrderStats promotion): languages are a
    * CONSTANT-cardinality partition key over a corpus-scaled stream,
    * so the old per-lang running-sum window was a ~5-task sequential
    * sort of the whole doc table at 100 TB — exactly the §5.3 rule 9
    * class the r12 sweep retired elsewhere (its own scaladoc had
    * flagged the "(lang, shard)" dial; the promotion implements it).
    * Now the prefix sum comes from
    * [[graft.ops.OrderStats.cumSums]]'s two-pass bucketed kernel
    * (v = doc_id, measure = the long token count — integer prefix
    * sums are associative, so chunk-offset assembly is bit-identical
    * to the sequential window), distributing the sort across ~n/1024
    * value-range shards per language.
    */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.t(spark, sfDir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .select(col("lang"), col("doc_id").cast("long").as("v"), col("n_tokens"))
    graft.ops.OrderStats.cumSums(toks, Seq("lang"), Nil, Seq("n_tokens"))
      .withColumn("bin", floor((col("cum_n_tokens") - col("n_tokens")) / lit(PackBudget.toDouble)).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .withColumn("fill_rate", round(col("bin_tokens").cast("double") / PackBudget, 4))
      .orderBy("lang", "bin")
  }

  /** c29 — benchmark DECONTAMINATION: flag training documents sharing
    * any word 5-gram with the held-out eval split (doc_id % 50 = 0 —
    * a stand-in for a benchmark suite) — the leakage check every
    * training corpus runs before a model sees the data. Scale shape:
    * the eval gram set is benchmark-sized (tiny vs the corpus), so it
    * BROADCASTS and the train side never shuffles — one gram-explode
    * scan, a broadcast semi-join, a distinct on the (small) offender
    * set, and a broadcast membership join back onto the per-lang agg.
    * On these fixtures the planted near-dup pairs are exactly what it
    * catches (2 contaminated docs at sf0.001).
    */
  /** The c29 contamination kernel over any documents frame: distinct
    * ids of TRAIN docs sharing a word 5-gram with the eval split
    * (doc_id % 50 = 0). Column `cid`. Shared by c29 and the c199
    * curation run's decontamination stage (one kernel — the batch
    * report and the pipeline gate cannot drift). */
  private[graft] def contamIds(docs: DataFrame): DataFrame = {
    def grams(d: DataFrame): DataFrame = d
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))")).as("g"))
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select(col("g")).distinct()
    grams(docs.where(col("doc_id") % 50 =!= 0)).join(broadcast(evalGrams), "g")
      .select(col("doc_id").as("cid")).distinct()
  }

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val train = docs.where(col("doc_id") % 50 =!= 0)
    train.join(broadcast(contamIds(docs)), col("doc_id") === col("cid"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"), count(col("cid")).as("n_contaminated"))
      .withColumn("contam_rate",
        round(col("n_contaminated").cast("double") / col("n_train"), 4))
      .orderBy("lang")
  }

  private[graft] val CurateQuality = 0.8

  /** c31 — the composed CURATION pipeline, end-to-end: dedup survivors
    * (c21/c22's cluster losers anti-joined away) ∘ deterministic 50%
    * hash sample (c20's membership kernel, salt 'curate:') ∘ quality
    * floor (c15's score ≥ 0.8) → per-language doc/token/avg-quality
    * accounting. One corpus scan carries every per-row step (sample
    * predicate, quality projection, filters are all codegen'd in one
    * stage); the only extra input is the loser-id list from the dedup
    * family (broadcast under [[graft.ops.Skew.maybeBroadcast]]'s
    * size bound, AQE-decided above it). This is the proof the operators COMPOSE — the
    * whole pipeline is one declarative plan, and the oracle replays
    * the identical pipeline as one SQL statement.
    */
  def curateCorpus(spark: SparkSession, sfDir: String): DataFrame =
    curateAgg(Tables.t(spark, sfDir, "documents"),
      NearDup.clusterLosers(spark, sfDir) /* size-aware hint inside */)
      .orderBy("lang")

  /** The one curation pipeline, over any (batch OR streaming)
    * documents frame: dedup-loser anti-join ∘ deterministic 50% hash
    * sample (salt 'curate:') ∘ quality floor → per-language
    * accounting. Shared by c31 (batch) and c55 (streaming) so the
    * gate predicates can never drift apart — they hash against the
    * same oracle.
    */
  private[graft] def curateAgg(docs: DataFrame, losers: DataFrame): DataFrame =
    qualityBase(
      docs.join(losers, col("doc_id") === col("loser_id"), "left_anti")
        .where(substring(md5(concat(lit("curate:"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7")))
      .where(col("quality") >= CurateQuality)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        davg(col("quality")).as("avg_quality"))

  /** c32 — deterministic train/val/test SPLIT (~80/10/10): assign each
    * document by its first md5 byte (salt 'split:'; fixed-width hex
    * compare, as in c26): [00,1a) → val, [1a,34) → test (26/256 ≈
    * 10.2% each), rest → train (≈79.7%). Reproducible across runs,
    * engines, partition counts and cluster sizes, and STABLE under
    * corpus growth: a doc's split never changes when other docs are
    * added or removed — the property an RNG-based split cannot give
    * and the reason production pipelines hash-split. Reported per
    * (split, lang) so the oracle checks membership and stratification.
    */
  def dataSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val byte = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    Tables.t(spark, sfDir, "documents")
      .withColumn("split",
        when(byte < "1a", "val").when(byte < "34", "test").otherwise("train"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang")
  }

  /** c33 — repetition/boilerplate detection: distinct-token ratio and
    * the share of the single most frequent token — the cheap signals
    * that catch template spam and stuck-generation loops before
    * training. Tokens explode once and aggregate per (doc, token) with
    * map-side combine (never a per-doc collect); ties on the top
    * token resolve by count DESC then token ASC in both engines.
    */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    toks.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        max(col("c")).as("top_count"),
        min_by(col("w"), struct((-col("c")).as("nc"), col("w"))).as("top_token"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        col("top_token"),
        round(col("distinct_tokens").cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        round(col("top_count").cast("double") / col("n_tokens"), 4)
          .as("top_token_share"))
      .orderBy("doc_id")
  }

  /** c40 — text NORMALIZATION: the canonicalization pass upstream of
    * every dedup/fingerprint operator — lowercase, non-alphanumerics →
    * space, whitespace collapsed, edges trimmed. Reported per doc as
    * normalized length + md5 of the normalized text (the form exact
    * dedup would key on), so the oracle verifies the exact normalized
    * BYTES, not just counts. Pure codegen'd projection — no shuffle
    * besides the canon sort. Regexes are shared verbatim with the
    * DuckDB oracle and stay inside the RE2 ∩ Java common subset
    * (character classes only); the fixture corpus is ASCII, so
    * `lower` agrees engine-to-engine (no locale case mappings).
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
      .select(col("doc_id"), col("lang"),
        length(col("norm")).cast("long").as("norm_len"),
        md5(col("norm")).as("norm_md5"))
      .transform(graft.Canon.barrierSort(_, "doc_id"))

  /** c41 — STRATIFIED balancing sample: downsample every language to
    * the smallest language's size (the corpus-balancing step before
    * mixing), deterministically — keep iff the doc's md5-derived
    * 32-bit uniform < target/n(lang). Like c20/c26/c32, membership is
    * a pure function of doc_id, so the sample is reproducible across
    * runs, engines and partitionings, and STABLE under corpus growth
    * within a stratum (a kept doc stays kept until its stratum's rate
    * changes). Two passes: a 10-row count aggregate (broadcast back)
    * + one scan; the rate (exact-int division in double) and the
    * uniform are bit-identical in both engines, so the `<` cut cannot
    * straddle.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val counts = docs.groupBy(col("lang").as("slang")).agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("target"))
    val rates = counts.crossJoin(broadcast(target))
      .select(col("slang"), (col("target").cast("double") / col("n_lang")).as("rate"))
    val u = md5Prefix(concat(lit("strat:"), col("doc_id").cast("string")), 1, 8)
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), col("lang") === col("slang"))
      .select(col("lang"), col("rate"), (u < col("rate")).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"),
        round(max(col("rate")), 4).as("target_rate"))
      .orderBy("lang")
  }

  /** c45 — per-language QUALITY TOP-K: the "keep the best k documents
    * per stratum" curation selector — rank by the c15 quality score
    * (rounded, deterministic) with doc_id tiebreak, keep the top 5 per
    * language. The rank window executes with Spark's WindowGroupLimit:
    * each partition pre-prunes to its local top-k BEFORE the exchange,
    * so the shuffle carries ≤ k·n_langs rows per partition rather than
    * the scored corpus — the same 100 TB shape PlanSpec pins for c19.
    */
  def qualityTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    qualityBase(Tables.t(spark, sfDir, "documents"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  /** c46 — unigram LM SURPRISE: per-doc average −ln p(w) under the
    * corpus's own unigram model — the language-model perplexity
    * filter (CCNet-style) reduced to its deterministic unigram form:
    * high surprise = rare-token soup (noise), very low = repetitive
    * boilerplate; curation keeps the middle band. Two corpus passes:
    * token counts (map-side combined, vocabulary-sized result), then
    * probabilities broadcast back onto the token stream (a natural
    * vocabulary is MBs; past broadcast size the same plan is a
    * shuffle join on the token — never per-doc state). The per-token
    * surprise goes through the decimal canon ([[Canon.davg]]) so the
    * average is partition- and engine-invariant; p itself is an exact
    * integer ratio, identical in both engines.
    */
  def unigramSurprise(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val probs = freq.crossJoin(broadcast(total))
      .select(col("w").as("pw"), (col("cnt").cast("double") / col("total")).as("p"))
    toks.join(broadcast(probs), col("w") === col("pw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        Canon.davgFloor6(-log(col("p")), count(lit(1))).as("avg_surprise"))
      .orderBy("doc_id")
  }

  /** c63 — token-distribution ENTROPY: per-doc Shannon entropy of the
    * token frequency distribution, H = −Σ p·ln p with p = c/n — the
    * information-density quality signal that separates natural text
    * (high entropy) from stuck-loop/template spam (low entropy: a few
    * tokens dominate). Complements c33's ratio heuristics with the
    * proper information measure, and `norm_entropy` = H / ln(distinct)
    * (∈ [0,1]) makes docs of different vocabulary sizes comparable.
    *
    * Determinism: H is computed as ln n − (Σ c·ln c)/n — c and n are
    * exact integers, ln is IEEE-identical on both engines (the c46/c58
    * rule), and the sum rides [[Canon.dsum]] so partial-aggregation
    * order cannot perturb it; the final values tolerance-round at
    * 1e-4. Scale shape: one token explode with map-side-combined
    * (doc, token) counting, then a per-doc aggregate — the same
    * two-level combine as c33, no joins, no corpus-sized shuffle
    * beyond the (doc, token) key.
    */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame =
    tokenEntropyFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[tokenEntropy]] over any (doc_id, lang, text) frame. */
  private[graft] def tokenEntropyFrom(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
    val h = log(col("n_tokens")) - col("clogc") / col("n_tokens")
    cnt.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        dsum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("distinct_tokens"),
        round(h, 4).as("entropy"),
        round(when(col("distinct_tokens") > 1, h / log(col("distinct_tokens")))
          .otherwise(lit(0.0)), 4).as("norm_entropy"))
      .orderBy("doc_id")
  }

  /** c65 — VOCABULARY COVERAGE: per language, how many distinct
    * tokens (ranked by frequency) are needed to cover 90% of all token
    * occurrences — the tokenizer-sizing measurement (a vocab budget is
    * chosen against exactly this curve) and the Zipf-shape audit of a
    * corpus. `vocab_90` = the smallest frequency rank whose cumulative
    * count reaches 90%, with the (count DESC, token ASC) tiebreak both
    * engines share; the 90% cut compares integers (`cum·10 ≥ total·9`)
    * so no FP boundary can straddle.
    *
    * Scale shape: the corpus pass is one map-side-combined (lang,
    * token) count; ranks and cumulative counts then assemble over the
    * VOCABULARY (≪ corpus, but itself data-scaled — web-corpus vocabs
    * run to billions of distinct tokens — under a CONSTANT language
    * key, so round 13 promoted the per-lang rank/cumsum window to
    * [[graft.ops.OrderStats.cumSums]]'s two-pass bucketed kernel:
    * v = −count (ascending ≡ count DESC), token tiebreak, measures =
    * (1L → rank, count → cumulative occurrences) — both integer
    * prefix sums, bit-identical to the retired window). Nothing
    * corpus-sized crosses a window, and no language's vocabulary
    * funnels through one task.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame =
    vocabCoverageFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[vocabCoverage]] over any (lang, text) frame. */
  private[graft] def vocabCoverageFrom(docs: DataFrame): DataFrame = {
    val freq = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
    val ranked = graft.ops.OrderStats.cumSums(
        freq.select(col("lang"), col("w"), col("c"),
          (-col("c")).as("v"), lit(1L).as("one")),
        Seq("lang"), Seq("w"), Seq("one", "c"))
      .select(col("lang"), col("w"), col("c"),
        col("cum_one").as("r"), col("cum_c").as("cum"))
    val tot = freq.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab_size"))
    ranked.join(tot, "lang")
      .where(col("cum") * 10 >= col("n_tokens") * 9)
      .groupBy(col("lang"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("vocab_size")).as("vocab_size"),
        min(col("r")).as("vocab_90"))
      .select(col("lang"), col("n_tokens"), col("vocab_size"), col("vocab_90"),
        round(col("vocab_90").cast("double") / col("vocab_size"), 4)
          .as("vocab_90_frac"))
      .orderBy("lang")
  }

  /** c54 — bigram LM SURPRISE: per-doc average −ln p(b|a) under the
    * corpus's own maximum-likelihood bigram model — the KenLM/CCNet-
    * style perplexity filter (Wenzek et al. 2019, arXiv:1911.00359,
    * public) that separates fluent text from boilerplate/garbage, in
    * self-trained form (no external model artifact, engine-exact).
    * p(b|a) = count(a,b) / count(a-as-context), both counted over the
    * corpus bigram stream, so the estimate is the textbook conditional
    * MLE and every quantity is integer-derived (cross-engine exact
    * until the final −ln, which canon-rounds via [[Canon.davg]]).
    * Docs with fewer than 2 tokens have no bigrams and produce no row
    * (the MLE score is undefined for them) — same as the oracle's
    * empty-join behavior.
    *
    * Scale shape: one corpus scan fans out to the bigram stream
    * (≈ token count), which feeds two map-side-combined aggregations
    * (bigram counts, context counts) and one shuffle join back on the
    * (a,b) key. The bigram table is vocabulary²-bounded but corpus-
    * bounded in practice — NOT assumed broadcastable (unlike c46's
    * unigram table); the probability join shuffles both sides on
    * (a,b), which AQE sizes from measured bytes. At 100 TB this is
    * three shuffles of token-stream scale with no all-pairs step.
    */
  def bigramSurprise(spark: SparkSession, sfDir: String): DataFrame =
    bigramSurpriseFrom(Tables.t(spark, sfDir, "documents"))

  /** Kernel of [[bigramSurprise]] over any (doc_id, text) frame. */
  private[graft] def bigramSurpriseFrom(docs: DataFrame): DataFrame = {
    val pairs = docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cb = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cb"))
    val ca = pairs.groupBy(col("a").as("ca_a")).agg(count(lit(1)).as("ca"))
    val probs = cb.join(ca, cb("a") === ca("ca_a"))
      .select(col("a"), col("b"), (col("cb").cast("double") / col("ca")).as("p"))
    pairs.join(probs, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Canon.davgFloor6(-log(col("p")), count(lit(1))).as("avg_surprise"))
      .orderBy("doc_id")
  }

  /** c100 feature-hash width — the classifier's weight-vector size. */
  private[graft] val LqBuckets = 64

  /** c100 — HASHED LINEAR quality classifier gate: the model-based
    * document filter (the fastText-style quality scorer of the
    * CCNet/RefinedWeb lineage — Joulin et al. 2016, arXiv:1607.01759,
    * public) in its deployable Spark shape. Each token hashes into one
    * of [[LqBuckets]] feature buckets (feature hashing — Weinberger et
    * al. 2009, public); the doc's score is the mean bucket weight over
    * its tokens; the gate keeps score > 0.
    *
    * The WEIGHTS are a deterministic md5-derived stand-in (uniform in
    * [−1/2, 1/2), dyadic — computed inline per token, no weight table
    * to join or broadcast); a production run swaps ONE expression for
    * a lookup in a trained 64-float artifact and every other line —
    * hashing, scan shape, exact accumulation, the gate — ships as-is.
    * That seam discipline is the multimodal decode-stub rule
    * (SURVEY D10) applied to model-based scoring.
    *
    * Scale shape: ONE token scan; (doc, Σweight, n) accumulates with
    * map-side combine — nothing vocabulary- or corpus-sized shuffles
    * and there is no join at all. Determinism: weights are exact
    * 32-bit dyadic rationals summed in DECIMAL(38,18) (order-free),
    * so the score and the >0 cut are engine-identical — no sigmoid
    * (exp's cross-engine rounding is not pinned; the gate is monotone
    * in the linear score, so the sigmoid adds nothing the cut needs).
    */
  def linearQualityGate(spark: SparkSession, sfDir: String): DataFrame =
    lqScores(spark, sfDir).orderBy("doc_id")

  /** The c100 score kernel WITHOUT the presentation sort — shared by
    * c100 and the round-12 eval metrics (c153 AUC / c154 calibration),
    * which aggregate the scores and must not inherit a useless
    * doc-ordered exchange.
    */
  private[graft] def lqScores(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
    val bucket = expr(s"CAST(graft_md5_prefix(concat('feat:', w), 1, 4) AS BIGINT) % $LqBuckets")
    val weight = expr("(CAST(graft_md5_prefix(concat('wgt:', CAST(b AS STRING)), 1, 8) AS BIGINT) / 4294967296.0) - 0.5")
    toks
      .withColumn("b", bucket)
      .withColumn("wt", weight)
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), dsum18(col("wt")).as("wsum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("wsum") / col("n_tokens"), 6).as("score"),
        (col("wsum") > 0).as("keep"))
  }

  /** Calibration bin count for c154. */
  private[graft] val CalBins = 10

  /** c153 — EXACT tie-corrected ROC-AUC of the c100 hashed-linear
    * quality score against the "is English" document label — the
    * classifier-evaluation primitive every model-based quality gate
    * needs before its threshold means anything (AUC = P(score of a
    * random positive > random negative); Hanley & McNeil 1982 —
    * public). Tie correction is the Mann–Whitney identity (c123):
    * AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) with R₁ the positives'
    * average-rank sum. (On this fixture the hashed score carries no
    * language signal, so AUC ≈ 0.5 — like c14, the METRIC is the
    * operator, and ~0.5 is the honest readout.)
    *
    * Scale shape: docs collapse to per-SCORE tallies (map-side
    * combined — scores are 1e-6-rounded, so the tally table is far
    * below doc count), average ranks assemble from
    * [[graft.ops.OrderStats.cumLe]]'s two-pass cumulative counts
    * (§5.3 rule 9 — no global rank window), and R₁ is an
    * integer-weighted sum of exact half-ranks: order-free in double
    * far past any corpus size (the c123 argument).
    */
  def aucExact(spark: SparkSession, sfDir: String): DataFrame = {
    val tall = lqScores(spark, sfDir)
      .select(col("score").as("v"), (col("lang") === "en").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y"), 1L).otherwise(0L)).as("np"))
    val ranked = OrderStats.cumLe(tall, Nil, Nil)
      .withColumn("avg_rk",
        (col("cum_le") - col("cnt") + 1).cast("double") +
          (col("cnt") - 1).cast("double") / 2.0)
    ranked.agg(
        sum(col("np")).as("n_pos"),
        sum(col("cnt") - col("np")).as("n_neg"),
        sum(col("np").cast("double") * col("avg_rk")).as("r1"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("r1") - col("n_pos").cast("double") *
              (col("n_pos") + 1).cast("double") / 2.0) /
            (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .as("auc"))
  }

  /** c154 — calibration audit (reliability bins + ECE): the c100
    * score min-max-normalized to [0, 1], cut into [[CalBins]]
    * equal-width bins; per bin the count, mean normalized score,
    * positive fraction, and |gap|, plus the expected calibration
    * error Σ (n_b/N)·gap — the standard "is the classifier's score a
    * probability" audit (Naeini et al. AAAI 2015 — public) run
    * before a quality gate's cutoff is trusted. Pairs with c153: AUC
    * measures ranking, THIS measures the score's face value.
    *
    * Determinism: the normalized p is one IEEE expression over
    * stored doubles and the broadcast (lo, hi) — identical in both
    * engines (the b52 epsilon guard for the all-equal corner); per-bin
    * means ride DECIMAL(38,18) sums of identical doubles (order-free);
    * gaps and ECE assemble from exact ratios. One scan + a
    * [[CalBins]]-group map-side-combined aggregate — trivially
    * 100 TB-safe.
    */
  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = lqScores(spark, sfDir)
      .select(col("score"), (col("lang") === "en").as("y"))
    val bounds = scored.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    val binned = scored.crossJoin(broadcast(bounds))
      .withColumn("p", (col("score") - col("lo")) /
        (col("hi") - col("lo") + lit(1e-12)))
      .withColumn("bin", least(floor(col("p") * CalBins).cast("long"),
        lit(CalBins - 1L)))
    val perBin = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        dsum18(col("p")).as("sp"),
        sum(when(col("y"), 1L).otherwise(0L)).as("npos"))
      .withColumn("mean_p_raw", col("sp") / col("n"))
      .withColumn("frac_pos_raw", col("npos").cast("double") / col("n"))
      .withColumn("gap_raw", abs(col("frac_pos_raw") - col("mean_p_raw")))
    val ece = perBin.agg(
      (dsum18(col("n") * col("gap_raw")) /
        sum(col("n")).cast("double")).as("ece_raw"))
    perBin.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"),
        round(col("mean_p_raw"), 4).as("mean_p"),
        round(col("frac_pos_raw"), 4).as("frac_pos"),
        round(col("gap_raw"), 4).as("gap"),
        round(col("ece_raw"), 4).as("ece"))
      .orderBy("bin")
  }

  /** PR-curve operating points for c157. */
  private[graft] val PrBins = 20

  /** c157 — precision/recall OPERATING-POINT table: TP/FP/FN,
    * precision, recall and F1 of the c100 score against the
    * is-English label at [[PrBins]] equal-width score thresholds —
    * the table a gate owner actually reads when picking a cutoff
    * (c153 grades the RANKING, c154 the score's face value, THIS the
    * candidate operating points; together the standard classifier
    * acceptance triple). Threshold i keeps every doc whose score bin
    * is ≥ i (bin edges from the broadcast (lo, hi), the b52 epsilon
    * discipline — the same monotone binning both engines evaluate
    * identically).
    *
    * Scale shape: one scan to per-bin (count, positives) tallies
    * (map-side combined, ≤ [[PrBins]] rows), suffix sums via a tiny
    * bin×bin self-join (the c28 idiom — never a data-sized pass per
    * threshold); all ratios are exact-integer quotients rounded at
    * 1e-4.
    */
  def prCurve(spark: SparkSession, sfDir: String): DataFrame = {
    // r18 optimization: docs collapse to per-SCORE integer tallies
    // first (the c153 grain) — the tally is an AGGREGATE exchange,
    // prune-stable under both its consumers (bounds and the binning),
    // so the c100 scoring pass over the corpus runs ONCE instead of
    // twice. Bin membership is a function of the score value and the
    // same broadcast (lo, hi), and the per-bin counts are integer
    // sums of the tallies — outputs identical.
    val tall = lqScores(spark, sfDir)
      .select(col("score"), (col("lang") === "en").as("y"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y"), 1L).otherwise(0L)).as("npv"))
    val bounds = tall.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    val perBin = tall.crossJoin(broadcast(bounds))
      .withColumn("bin", least(floor((col("score") - col("lo")) /
          (col("hi") - col("lo") + lit(1e-12)) * PrBins).cast("long"),
        lit(PrBins - 1L)))
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("n"), sum(col("npv")).as("np"))
    val suff = perBin.as("a")
      .join(perBin.as("b"), col("b.bin") >= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(sum(col("b.np")).as("tp"), sum(col("b.n") - col("b.np")).as("fp"))
    val totals = perBin.agg(sum(col("np")).as("n_pos"))
    val p = col("tp").cast("double") / (col("tp") + col("fp"))
    val r = col("tp").cast("double") / col("n_pos")
    suff.crossJoin(broadcast(totals)).crossJoin(broadcast(bounds))
      .select(col("bin"),
        round(col("lo") + col("bin") * (col("hi") - col("lo") + lit(1e-12)) /
          PrBins, 6).as("threshold"),
        col("tp"), col("fp"), (col("n_pos") - col("tp")).as("fn"),
        when(col("tp") + col("fp") > 0, round(p, 4)).as("precision"),
        when(col("n_pos") > 0, round(r, 4)).as("recall"),
        when(col("tp") > 0, round(lit(2.0) * p * r / (p + r), 4))
          .otherwise(when(col("n_pos") > 0 && col("tp") + col("fp") > 0,
            lit(0.0))).as("f1"))
      .orderBy("bin")
  }

  /** c156 — language-ID CONFUSION MATRIX: c14's predictions crossed
    * with the labeled language — per (actual, predicted) cell the
    * count and its share of the actual language's row (the recall
    * decomposition; the diagonal cells ARE per-class recall). The
    * eval every self-trained classifier ships with; like c14 itself,
    * near-uniform on this shared-vocabulary fixture BY DESIGN. The
    * matrix is |langs|² rows from one aggregate over c14's output —
    * the per-doc work is c14's, the eval adds a 25-row table.
    */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = langId(spark, sfDir)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = conf.groupBy(col("actual_lang"))
      .agg(sum(col("n")).as("n_actual"))
    conf.join(broadcast(totals), "actual_lang")
      .select(col("actual_lang"), col("predicted_lang"), col("n"),
        round(col("n").cast("double") / col("n_actual"), 4).as("share_of_actual"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** c182 vocabulary and output bounds: PMI runs on the top-[[PmiVocab]]
    * terms by document frequency (df-desc, term-asc tiebreak — the
    * boundary is deterministic in both engines) and emits the top
    * [[PmiTopPairs]] pairs.
    */
  private[graft] val PmiVocab = 50
  private[graft] val PmiTopPairs = 30

  /** c182 — TERM CO-OCCURRENCE PMI (Church & Hanks 1990 — public):
    * pointwise mutual information ln(p(a,b) / (p(a)·p(b))) over
    * document-level co-occurrence — the classic association measure
    * behind collocation/phrase mining and the lexical-association
    * audit a corpus curation runs (which term pairs travel together
    * far more than chance — boilerplate templates, mined phrases,
    * topic markers).
    *
    * Scale shape: the corpus-sized work is ONE token scan collapsed
    * to distinct (doc, term) presence; everything pair-shaped is
    * VOCABULARY-bounded (the c53 discipline) — the top-50 df vocab
    * broadcasts back onto the presence stream, the per-doc pair
    * fan-out is ≤ C(50,2) rows before the map-side-combined pair
    * count, and the result is a ≤1225-row table at any corpus size.
    * PMI's ln runs on integer counts (engine-identical, the c8 idf
    * convention), r4-rounded; ties at the top-30 cut break
    * lexicographically.
    */
  def termPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docTerms = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val vocab = docTerms.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w").asc).limit(PmiVocab)
    val vt = docTerms.join(broadcast(vocab), "w")
    val pairs = vt.select(col("doc_id"), col("w").as("term_a"), col("df").as("df_a"))
      .join(vt.select(col("doc_id"), col("w").as("term_b"), col("df").as("df_b")),
        Seq("doc_id"))
      .where(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    val n = Tables.t(spark, sfDir, "documents").agg(count(lit(1)).as("n_docs"))
    pairs.crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs") /
          (col("df_a") * col("df_b"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a").asc, col("term_b").asc)
      .limit(PmiTopPairs)
  }

  /** c185 — N-GRAM NOVELTY (the memorization audit — Lee et al. 2022,
    * arXiv:2107.06499 §5's substring-overlap measurement, public; and
    * the quantity memorization studies report): for every TEST-split
    * document, what fraction of its word 5-grams already appears
    * ANYWHERE in the TRAIN split. c29 asks the mirror question for a
    * tiny benchmark (train docs touching eval grams — eval side
    * broadcasts); this audits the whole test split, where NEITHER
    * side is small: the measurement behind "the eval was novel" /
    * "the model saw this verbatim" claims, and the follow-up audit
    * after a c32/c168/c184 split.
    *
    * Scale shape: one gram-explode scan feeds both sides; the train
    * gram SET and the per-doc-distinct test grams hash-partition on
    * the gram — an equi-join where broadcast would be wrong (both
    * sides are corpus-scale), which is exactly the honest shape; the
    * per-doc aggregate map-side combines. In production the train
    * gram set is a standing artifact (the bandStore discipline)
    * probed by each new eval candidate.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    noveltyOf(
      gramSplit(Tables.t(spark, sfDir, "documents")).where(col("split") === "test"),
      trainGramSet(spark, sfDir))
      .orderBy("doc_id")

  /** The c185 gram stream with its split tag over any (doc_id, lang,
    * text) frame — word 5-grams + the c32 hash split. Stateless
    * (pure per-row generate), so it runs unchanged on a STREAMING
    * frame — the c191 ingest side.
    */
  private[graft] def gramSplit(docs: DataFrame): DataFrame = {
    val byte = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 5)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))")).as("g"))
      .withColumn("split",
        when(byte < "1a", "val").when(byte < "34", "test").otherwise("train"))
  }

  /** The distinct TRAIN gram set — c185's standing artifact side (in
    * production a parquet-persisted gram store next to the band
    * store, probed by every new eval candidate; c191 models exactly
    * that with a materialized static frame).
    */
  private[graft] def trainGramSet(spark: SparkSession, sfDir: String): DataFrame =
    gramSplit(Tables.t(spark, sfDir, "documents"))
      .where(col("split") === "train").select(col("g")).distinct()

  /** The c185 scoring kernel: per-doc-distinct candidate grams LEFT
    * JOIN the train gram set → n_grams / n_seen / novelty. Shared by
    * batch c185 and streaming c191 (one kernel — the two cannot
    * drift).
    */
  private[graft] def noveltyOf(testGrams: DataFrame, trainG: DataFrame): DataFrame =
    testGrams.select(col("doc_id"), col("lang"), col("g")).distinct()
      .join(trainG.withColumn("seen", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), count(col("seen")).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 4))

  /** c186 fit window: the OLS runs on the top-[[ZipfTopK]]
    * rank-frequency points (the head is where the power law lives
    * and where corpus pathologies show; the tail is Heaps-dominated
    * and noisy at any corpus size).
    */
  private[graft] val ZipfTopK = 100

  /** c186 — ZIPF RANK-FREQUENCY FIT (Zipf 1949 — public; the corpus
    * health audit curation pipelines run: natural language sits near
    * slope −1 on log rank vs log frequency, and a corpus that drifts
    * far off is telling you something — boilerplate floods flatten
    * the head, template spam steepens it, tokenizer damage bends it).
    * OLS of ln(frequency) on ln(rank) over the top-100 terms: slope,
    * intercept, and r² — one row, the number a corpus report quotes.
    *
    * Scale shape: one token scan collapses to (term, tf) with
    * map-side combine; the rank cut is a vocabulary-sized
    * TakeOrdered and the rank window orders the 100 SURVIVORS (the
    * c53 rank-after-limit discipline — never a corpus window); the
    * moment sums ride the c91 decimal canon so the fit is
    * partition- and engine-invariant.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val top = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("w").asc).limit(ZipfTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("tf").desc, col("w").asc)).cast("long"))
    olsOf(top.select(log(col("rank").cast("double")).as("x"),
      log(col("tf").cast("double")).as("y")))
  }

  /** Closed-form simple OLS over an (x, y) frame with the c91
    * DECIMAL(38,6) moment canon — one row (n, slope, intercept, r²).
    * Shared by c186 (Zipf) and c190 (Heaps) so the two corpus-health
    * fits cannot drift in their arithmetic; [[OlsOracleTail]] is the
    * DuckDB mirror over a CTE named `pts`.
    */
  private def olsOf(pts: DataFrame): DataFrame = {
    pts.agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"),
        dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sx"), col("sy"), col("syy"))
      .select(col("n"),
        round(col("num") / col("den"), 4).as("slope"),
        round((col("sy") - col("num") / col("den") * col("sx")) / col("n"), 4)
          .as("intercept"),
        round(col("num") * col("num") /
          (col("den") * (col("n") * col("syy") - col("sy") * col("sy"))), 4)
          .as("r2"))
  }

  /** DuckDB tail mirroring [[olsOf]] — append after a WITH chain
    * whose last CTE is `pts(x, y)`. */
  private val OlsOracleTail: String =
    """, m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      |  FROM pts
      |), i AS (
      |  SELECT n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
      |    sx, sy, syy FROM m
      |)
      |SELECT n,
      |  ROUND(num / den, 4) AS slope,
      |  ROUND((sy - num / den * sx) / n, 4) AS intercept,
      |  ROUND(num * num / (den * (n * syy - sy * sy)), 4) AS r2
      |FROM i""".stripMargin

  /** c190 fit resolution: vocabulary growth is sampled at
    * [[HeapsPoints]] doc-id cutoffs evenly spaced over the observed
    * id span (integer arithmetic on a 2-value broadcast — the c184
    * cut discipline). */
  private[graft] val HeapsPoints = 10

  /** c190 — HEAPS-LAW VOCABULARY GROWTH fit (Heaps 1978 — public; the
    * companion corpus-health audit to c186's Zipf fit, and the
    * capacity-planning curve behind every vocabulary/tokenizer
    * budget: V(N) ≈ K·N^β with β ≈ 0.4-0.6 for natural text, so the
    * fit answers "how fast does this corpus mint new types" — a β
    * near 1 means unbounded novelty (IDs, hashes, OCR damage), a β
    * near 0 means a closed template vocabulary, and the projection to
    * the full-corpus N is how a pipeline sizes its term dictionaries
    * BEFORE paying the full scan). OLS of ln V on ln N over
    * [[HeapsPoints]] cumulative checkpoints: slope = β, intercept =
    * ln K, plus r² — one row.
    *
    * The cumulative curve needs no sequential scan: checkpoint k's
    * token count is a SUM over docs with id ≤ cut_k, and its
    * vocabulary size counts terms whose FIRST-OCCURRENCE doc (one
    * vocab-sized min aggregate) is ≤ cut_k — both are broadcast-cut
    * crossjoins over 10 rows, the c184 integer-cut discipline, never
    * a corpus window. Scale shape: one token scan → per-doc counts
    * (map-side) + term first-occurrence (vocab-sized, map-side min);
    * 10-row broadcast; two ≤10-group aggregates; OLS on ≤10 points
    * through [[olsOf]]'s decimal canon.
    */
  def heapsFit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val cuts = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .select(explode(expr(
        s"array_distinct(transform(sequence(1, $HeapsPoints), k -> lo + ((hi - lo) * k) div $HeapsPoints))"))
        .as("cut"))
    val cumTok = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .crossJoin(broadcast(cuts)).where(col("doc_id") <= col("cut"))
      .groupBy(col("cut")).agg(sum(col("nt")).as("ntok"))
    val cumVoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(cuts)).where(col("fd") <= col("cut"))
      .groupBy(col("cut")).agg(count(lit(1)).as("v"))
    olsOf(cumTok.join(cumVoc, "cut")
      .select(log(col("ntok").cast("double")).as("x"),
        log(col("v").cast("double")).as("y")))
  }

  /** c189's ONE shared probability formula text, feeding both engines
    * (the c183/a18 machine-generated-spec discipline: a DECIMAL
    * promotion or evaluation-order drift between hand-kept twins is
    * exactly the class of bug this prevents). Interpolated Kneser-Ney
    * with absolute discount 0.75 over integer count columns
    * (cvw, cv, n1f, n1b, tt — all cast to DOUBLE before any
    * arithmetic): seen context → discounted MLE + backoff mass ×
    * continuation probability; unseen context → continuation alone.
    * The continuation distribution is OOV-floored at one pseudo-type
    * ((n1b + 1)/(tt + 1)) so a test word never seen as a bigram
    * continuation still scores a positive probability — the UNK
    * convention, deterministic in both engines.
    */
  private[graft] val KnProbSql: String = {
    val pcont = "((CAST(n1b AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1.0))"
    s"CASE WHEN cv > 0 THEN (GREATEST(CAST(cvw AS DOUBLE) - 0.75, 0.0) " +
      s"+ 0.75 * CAST(n1f AS DOUBLE) * $pcont) / CAST(cv AS DOUBLE) " +
      s"ELSE $pcont END"
  }

  /** c189 — KNESER-NEY held-out perplexity (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated formulation — public; the CCNet
    * perplexity filter of Wenzek et al. 2019 in its PROPER form): c54
    * scores every doc under a model trained on the whole corpus
    * including itself — fine as a fluency gate, but a curation
    * pipeline that ranks documents by LM fit must hold the model out
    * or the duplicated boilerplate it wants to kill scores as the
    * most fluent text in the corpus. This key trains the bigram LM on
    * the c32 TRAIN split only and scores TEST docs, with smoothing
    * (c54's raw MLE assigns zero to any unseen bigram and cannot
    * score held-out text at all): discounted seen-bigram mass is
    * redistributed via the CONTINUATION distribution — "how many
    * distinct contexts precede w" — the Kneser-Ney insight that
    * frequency alone overweights words that only ever follow one
    * context. Output per test doc: bigram count, unseen-bigram count,
    * and average negative log-likelihood (ppl = e^avg_nll is monotone
    * in it; the exp is omitted — the c100 no-sigmoid discipline, one
    * less cross-engine libm call).
    *
    * Scale shape: one corpus scan fans to the bigram stream; the
    * model is THREE map-side-combined integer count tables derived
    * from one (v,w) aggregate — bigram counts, per-context totals +
    * follower types (a regroup of the bigram table, not a rescan),
    * continuation types — plus a 1-row type-count broadcast; scoring
    * is three hash-partitioned equi-joins of the test bigram stream
    * against vocabulary-bounded tables (never assumed broadcastable —
    * the c54 posture) and a per-doc map-side-combined fold. At 100 TB
    * the count tables are the standing LM artifact next to the band
    * store; the probability arithmetic is [[KnProbSql]] — integer
    * counts to IEEE doubles, identical text in both engines.
    */
  def knPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = knSplitDocs(Tables.t(spark, sfDir, "documents"))
    val m = knModel(docs.where(col("split") === "train"))
    knScoreOf(docs.where(col("split") === "test"), m).orderBy("doc_id")
  }

  /** The c189 split tag over any (doc_id, text) frame — the c32/c185
    * hash rule. Stateless, so it runs unchanged on a STREAMING frame
    * (the c193 ingest side). */
  private[graft] def knSplitDocs(docs: DataFrame): DataFrame = {
    val byte = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    docs.withColumn("split",
      when(byte < "1a", "val").when(byte < "34", "test").otherwise("train"))
  }

  private[graft] def knBigrams(df: DataFrame): DataFrame = df
    .withColumn("ws", split(col("text"), " "))
    .where(size(col("ws")) >= 2)
    .select(col("doc_id"), explode(expr(
      """transform(sequence(1, size(ws) - 1),
        |  i -> struct(element_at(ws, i) AS v, element_at(ws, i + 1) AS w))""".stripMargin))
      .as("p"))
    .select(col("doc_id"), col("p.v").as("v"), col("p.w").as("w"))

  /** The c189 LM artifact: the four KN count tables trained on a
    * (doc_id, text) frame — bigram counts, context totals + follower
    * types, continuation types, and the 1-row type count. In
    * production these persist next to the band store; c193
    * materializes them once and probes them per micro-batch.
    */
  private[graft] case class KnModel(cvw: DataFrame, ctx: DataFrame,
      cont: DataFrame, tt: DataFrame)

  private[graft] def knModel(trainDocs: DataFrame): KnModel = {
    val cvw = knBigrams(trainDocs)
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val ctx = cvw.groupBy(col("v"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1f"))
    val cont = cvw.groupBy(col("w")).agg(count(lit(1)).as("n1b"))
    val tt = cvw.agg(count(lit(1)).as("tt"))
    KnModel(cvw, ctx, cont, tt)
  }

  /** The c189 scoring kernel: candidate docs' bigram stream against a
    * trained [[KnModel]] — shared by batch c189 and streaming c193
    * (one kernel, the two cannot drift). */
  private[graft] def knScoreOf(testDocs: DataFrame, m: KnModel): DataFrame =
    knBigrams(testDocs)
      .join(m.cvw, Seq("v", "w"), "left")
      .join(m.ctx, Seq("v"), "left")
      .join(m.cont, Seq("w"), "left")
      .crossJoin(broadcast(m.tt))
      .select(col("doc_id"),
        coalesce(col("cvw"), lit(0L)).as("cvw"),
        coalesce(col("cv"), lit(0L)).as("cv"),
        coalesce(col("n1f"), lit(0L)).as("n1f"),
        coalesce(col("n1b"), lit(0L)).as("n1b"),
        col("tt"))
      .withColumn("p", expr(KnProbSql))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cvw") === 0L, 1L).otherwise(0L)).as("n_unseen"),
        Canon.davgFloor6(-log(col("p")), count(lit(1))).as("avg_nll"))

  /** c196 — SOURCE-OVERLAP matrix (round 17; the cross-dump
    * provenance audit every multi-source pretraining mix needs —
    * Common Crawl snapshots overlap month-to-month, curated dumps
    * embed each other, and a mixing plan that double-counts a source
    * pair silently up-weights their shared content: the measurement
    * behind "these two dumps are 40% the same data". c185 audits
    * train↔test leakage; this audits source↔source duplication at
    * the same 5-gram grain): for every source pair, the shared
    * distinct-gram count, each side's gram-set size, Jaccard, and
    * containment (shared / smaller side — the "is B inside A"
    * signal Jaccard dilutes when sizes differ).
    *
    * Scale shape: one gram scan → distinct (source, gram) presence;
    * the pair fan is generated ROW-LOCALLY from each gram's sorted
    * source set (collect_set is ≤#sources by construction, the pair
    * fan ≤ C(#sources,2) per gram — never a gram-keyed self-join
    * whose planner could pick the unconstrained order; the
    * round-17 DuckDB 79 GB lesson, SCALE.md) and map-side combines
    * into a ≤C(20,2)-row matrix. Output is sources²-bounded at any
    * corpus size.
    */
  /** Per distinct 5-gram, the sorted set of sources containing it —
    * the ONE heavy pass shared by c196's matrix and c201's plan
    * (round 19). `collect_set` dedups (source, gram) duplicates, so
    * the separate distinct exchange the old presence grain paid is
    * folded into this aggregate; and because every downstream branch
    * hangs off this AGGREGATE grain, its exchange is prune-stable
    * (the r18 finding-2 mechanism) — the corpus explode executes
    * once no matter how many branches consume it. */
  private[graft] def gramSources(docs: DataFrame): DataFrame = docs
    .withColumn("ws", split(col("text"), " "))
    .where(size(col("ws")) >= 5)
    .select(col("source"), explode(expr(
      "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))")).as("g"))
    .groupBy(col("g")).agg(sort_array(collect_set(col("source"))).as("ss"))

  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val gs = gramSources(Tables.t(spark, sfDir, "documents"))
    // Per-source gram-set sizes as ONE broadcast row (map source→n):
    // joining the bySrc table twice (n_a, n_b) re-executed its whole
    // chain per reference; the 1-row map is attached row-locally.
    val srcSizes = gs.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(map_from_arrays(
        collect_list(col("source")), collect_list(col("n"))).as("nm"))
    gs.where(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss) - i - 1),
          |    b -> struct(a AS sa, b AS sb))))""".stripMargin)).as("p"))
      .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_shared"))
      .crossJoin(broadcast(srcSizes))
      .select(col("sa"), col("sb"), col("n_shared"),
        coalesce(element_at(col("nm"), col("sa")), lit(0L)).as("n_a"),
        coalesce(element_at(col("nm"), col("sb")), lit(0L)).as("n_b"))
      .select(col("sa"), col("sb"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4).as("jaccard"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .orderBy("sa", "sb")
  }

  /** c201 decision thresholds on the marginal-novel fraction: at or
    * above [[PlanKeepMin]] a source is kept at full weight; between
    * [[PlanDwMin]] and it, down-weighted to its novel fraction;
    * below, dropped. Data-derived consumable knobs (the c197→c200
    * discipline): the weight column is exactly what a c26-style
    * mixer multiplies its target rate by. */
  private[graft] val PlanKeepMin = 0.5
  private[graft] val PlanDwMin = 0.1

  /** c201 — SOURCE-OVERLAP mixing PLAN (round 18; the decision
    * artifact the r17 verdict said c196 lacked: the matrix measures
    * "dumps A and B are 40% the same data", this emits the
    * keep/down-weight/drop rows a mixing run consumes). Greedy
    * marginal-novel-gram accounting under a DETERMINISTIC pick
    * order — largest gram set first, ties to the lexicographically
    * smaller source (the standard large-cover-first greedy order,
    * fixed up front so the whole accounting is ONE pass): a gram is
    * credited to the FIRST picked source containing it, so a
    * source's `novel_grams` is exactly the marginal coverage it adds
    * when picked in that order, and a source whose grams are already
    * covered by earlier picks scores near zero — the redundant-dump
    * signal the pairwise matrix can only hint at. (The fully
    * ADAPTIVE set-cover greedy re-ranks after every pick — n_sources
    * passes over the gram table; the fixed order keeps the 100 TB
    * cost at one gram-keyed aggregate and is the accounting a
    * mixing plan needs: deterministic, replayable, engine-identical.)
    *
    * Scale shape: c196's presence grain (distinct source×gram), one
    * sources-bounded count, the pick-order rank over that ≤#sources
    * aggregate (whitelisted global window — never data-sized), one
    * map-side-combined per-gram MIN(pick_order), and a
    * sources-bounded marginal count. Output is #sources rows.
    */
  def sourceOverlapPlan(spark: SparkSession, sfDir: String): DataFrame =
    overlapPlanOf(Tables.t(spark, sfDir, "documents")).orderBy("pick_order")

  /** The c201 plan kernel over any documents frame — shared with
    * c202, which CONSUMES the weights (one kernel, the decision and
    * its consumer cannot drift). */
  private[graft] def overlapPlanOf(docs: DataFrame): DataFrame = {
    val gs = gramSources(docs)
    val bySrc = gs.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val prio = bySrc.withColumn("pick_order",
      row_number().over(Window.orderBy(col("n_grams").desc, col("source").asc))
        .cast("long"))
    // source→pick_order as ONE broadcast row: the old presence⋈prio
    // join re-ran the full gram pass under the join's probe side;
    // here each gram's min pick-order is a row-local array_min over
    // its (≤#sources) source set, and the only remaining gram-keyed
    // work is the map-side-combined count per owner.
    val prioMap = prio.agg(map_from_arrays(
      collect_list(col("source")), collect_list(col("pick_order"))).as("pm"))
    val owners = gs.crossJoin(broadcast(prioMap))
      .select(expr("array_min(transform(ss, s -> element_at(pm, s)))").as("mpo"))
      .groupBy(col("mpo")).agg(count(lit(1)).as("novel_grams"))
    prio.join(broadcast(owners), col("pick_order") === col("mpo"), "left")
      .withColumn("novel_grams", coalesce(col("novel_grams"), lit(0L)))
      .withColumn("novel_frac",
        round(col("novel_grams").cast("double") / col("n_grams"), 4))
      .select(col("source"), col("pick_order"), col("n_grams"),
        col("novel_grams"), col("novel_frac"),
        when(col("novel_frac") >= PlanKeepMin, "keep")
          .when(col("novel_frac") >= PlanDwMin, "down_weight")
          .otherwise("drop").as("decision"),
        when(col("novel_frac") >= PlanKeepMin, 1.0)
          .when(col("novel_frac") >= PlanDwMin, col("novel_frac"))
          .otherwise(0.0).as("weight"))
      .orderBy("pick_order")
  }

  /** c202 — WEIGHTED mix: the CONSUMER of c201's plan (the c197→c200
    * discipline applied to the mixing side — the full
    * measurement→decision→action chain c196→c201→this). Each
    * source's c26 target rate is multiplied by its plan weight —
    * a redundant dump's rate collapses toward zero, a
    * fully-novel source keeps its full rate — and membership is the
    * same deterministic first-md5-byte rule, compared as INTEGERS
    * (conv(md5[0:2], 16) < floor(eff_rate·256)) so no hex-case or
    * string-compare hazard exists between engines. Output is c26's
    * accounting plus the consumed weight and effective rate.
    *
    * Scale shape: the plan is a sources-bounded artifact (broadcast);
    * the corpus scans ONCE with the membership predicate codegen'd;
    * counts map-side combine to #sources rows. The floor boundary is
    * engine-identical: both engines compute the same double product
    * of the same values, so the same floor.
    */
  def weightedMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents")
    val plan = overlapPlanOf(docs).select(col("source"), col("weight"))
    docs
      .join(broadcast(plan), "source")
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
      .withColumn("target_rate",
        ((col("src_num") % 4) + 1).cast("double") / 8.0)
      .withColumn("eff_rate", col("target_rate") * col("weight"))
      .withColumn("kept",
        md5Prefix(concat(lit("mix:"), col("doc_id").cast("string")), 1, 2)
          .cast("int") < floor(col("eff_rate") * 256).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("kept"), 1)).as("n_kept"),
        first(col("target_rate")).as("target_rate"),
        first(col("weight")).as("weight"),
        round(first(col("eff_rate")), 4).as("eff_rate"))
      .withColumn("actual_rate",
        round(col("n_kept").cast("double") / col("n_total"), 4))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "c202_weighted_mix" -> (weightedMix(_, _)),
    "c196_source_overlap" -> (sourceOverlap(_, _)),
    "c201_source_overlap_plan" -> (sourceOverlapPlan(_, _)),
    "c190_heaps_fit" -> (heapsFit(_, _)),
    "c189_kn_perplexity" -> (knPerplexity(_, _)),
    "c186_zipf_fit" -> (zipfFit(_, _)),
    "c185_ngram_novelty" -> (ngramNovelty(_, _)),
    "c182_term_pmi" -> (termPmi(_, _)),
    "c153_auc_exact" -> (aucExact(_, _)),
    "c154_calibration_bins" -> (calibrationBins(_, _)),
    "c156_lang_confusion" -> (langConfusion(_, _)),
    "c157_pr_curve" -> (prCurve(_, _)),
    "c100_linear_quality_gate" -> (linearQualityGate(_, _)),
    "c54_bigram_surprise" -> (bigramSurprise(_, _)),
    "c46_unigram_surprise" -> (unigramSurprise(_, _)),
    "c45_quality_topk" -> (qualityTopk(_, _)),
    "c41_stratified_sample" -> (stratifiedSample(_, _)),
    "c40_text_normalize" -> (textNormalize(_, _)),
    "c14_lang_id" -> (langId(_, _)),
    "c33_repetition_score" -> (repetitionScore(_, _)),
    "c23_pii_redact" -> (piiRedact(_, _)),
    "c26_corpus_mix" -> (corpusMix(_, _)),
    "c27_sequence_pack" -> (sequencePack(_, _)),
    "c29_decontaminate" -> (decontaminate(_, _)),
    "c31_curate_corpus" -> (curateCorpus(_, _)),
    "c32_data_split" -> (dataSplit(_, _)),
    "c15_quality_score" -> (qualityScore(_, _)),
    "c16_token_count" -> (tokenCount(_, _)),
    "c17_doc_fingerprint" -> (docFingerprint(_, _)),
    "c20_hash_sample" -> (hashSample(_, _)),
    "c52_chunk_tokens" -> (chunkTokens(_, _)),
    "c53_bpe_merge_pairs" -> (bpeMergePairs(_, _)),
    "c58_temperature_mix" -> (temperatureMix(_, _)),
    "c60_importance_weights" -> (importanceWeights(_, _)),
    "c61_bpe_apply_merge" -> (bpeApplyMerge(_, _)),
    "c78_bpe_train_steps" -> (bpeTrainSteps(_, _)),
    "c63_token_entropy" -> (tokenEntropy(_, _)),
    "c65_vocab_coverage" -> (vocabCoverage(_, _))
  )

  /** The c201 greedy-plan chain as a reusable oracle CTE (ends at
    * `plan(source, pick_order, n_grams, novel_grams, novel_frac,
    * decision, weight)`) — shared by c201 and its consumer c202. */
  private val overlapPlanCte: String =
    s"""WITH pres AS (
       |  SELECT DISTINCT source, g FROM (
       |    SELECT source, unnest(list_transform(
       |      range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
       |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
       |    FROM documents)
       |), bysrc AS (
       |  SELECT source, COUNT(*) AS n_grams FROM pres GROUP BY source
       |), prio AS (
       |  SELECT source, n_grams, CAST(row_number() OVER (
       |    ORDER BY n_grams DESC NULLS LAST, source ASC) AS BIGINT) AS pick_order
       |  FROM bysrc
       |), own AS (
       |  SELECT g, MIN(po) AS mpo FROM (
       |    SELECT p.g, pr.pick_order AS po FROM pres p JOIN prio pr USING (source)
       |  ) GROUP BY g
       |), nov AS (
       |  SELECT mpo, COUNT(*) AS novel_grams FROM own GROUP BY mpo
       |), plan AS (
       |  SELECT source, pick_order, n_grams, novel_grams, novel_frac,
       |    CASE WHEN novel_frac >= $PlanKeepMin THEN 'keep'
       |         WHEN novel_frac >= $PlanDwMin THEN 'down_weight'
       |         ELSE 'drop' END AS decision,
       |    CASE WHEN novel_frac >= $PlanKeepMin THEN 1.0
       |         WHEN novel_frac >= $PlanDwMin THEN novel_frac
       |         ELSE 0.0 END AS weight
       |  FROM (
       |    SELECT source, pick_order, n_grams,
       |      COALESCE(novel_grams, 0) AS novel_grams,
       |      ROUND(CAST(COALESCE(novel_grams, 0) AS DOUBLE) / n_grams, 4) AS novel_frac
       |    FROM prio LEFT JOIN nov ON pick_order = mpo
       |  )
       |)""".stripMargin

  /** c100's score pipeline as a reusable oracle CTE (ends at `lq`) —
    * shared by c100 / c153 / c154 so the score definition cannot
    * drift between the gate and its evaluation metrics.
    */
  private def lqOracleCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), feat AS (
       |  SELECT doc_id, lang,
       |    (CAST(('0x' || substr(md5('wgt:' || CAST(
       |        CAST(('0x' || substr(md5('feat:' || w), 1, 4)) AS BIGINT) % $LqBuckets
       |      AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0) - 0.5 AS wt
       |  FROM toks
       |), lq AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_tokens,
       |    ROUND(CAST(SUM(CAST(wt AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
       |      AS score,
       |    (CAST(SUM(CAST(wt AS DECIMAL(38,18))) AS DOUBLE) > 0) AS keep
       |  FROM feat
       |  GROUP BY doc_id, lang
       |)""".stripMargin

  /** c14's full oracle text — also the `pred` CTE of c156's confusion
    * matrix (one definition, no drift).
    */
  private def c14OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
       |), profile AS (
       |  SELECT plang, w FROM (
       |    SELECT lang AS plang, w, COUNT(*) AS cnt,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY COUNT(*) DESC NULLS LAST, w ASC) AS r
       |    FROM toks GROUP BY lang, w
       |  ) WHERE r <= $ProfileTopK
       |), scores AS (
       |  SELECT doc_id, lang, plang, COUNT(*) AS score
       |  FROM toks JOIN profile ON toks.w = profile.w
       |  GROUP BY doc_id, lang, plang
       |)
       |SELECT doc_id, actual_lang, predicted_lang, score FROM (
       |  SELECT doc_id, lang AS actual_lang, plang AS predicted_lang, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC NULLS LAST, plang ASC) AS rn
       |  FROM scores
       |) WHERE rn = 1
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  val oracle: Map[String, String] = Map(
    // The c186 oracle replays term frequencies, the deterministic
    // top-100 rank cut, and the c91 decimal-canon OLS verbatim.
    "c186_zipf_fit" ->
      s"""WITH tf AS (
         |  SELECT w, COUNT(*) AS tf FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |  ) GROUP BY w
         |), top AS (
         |  SELECT tf, rank FROM (
         |    SELECT tf, row_number() OVER (ORDER BY tf DESC NULLS LAST, w ASC) AS rank
         |    FROM tf
         |  ) WHERE rank <= $ZipfTopK
         |), pts AS (
         |  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y FROM top
         |)$OlsOracleTail""".stripMargin,

    // The c190 oracle replays cuts → cumulative tokens/vocab →
    // ln-ln points → the shared OLS tail (OlsOracleTail verbatim —
    // the same fit arithmetic as c186).
    "c190_heaps_fit" ->
      s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
         |cuts AS (
         |  SELECT DISTINCT unnest(list_transform(range(1, $HeapsPoints + 1),
         |    k -> lo + ((hi - lo) * k) // $HeapsPoints)) AS cut
         |  FROM b
         |), ct AS (
         |  SELECT cut, CAST(SUM(nt) AS BIGINT) AS ntok
         |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents)
         |  CROSS JOIN cuts WHERE doc_id <= cut GROUP BY cut
         |), fo AS (
         |  SELECT w, MIN(doc_id) AS fd FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |  ) GROUP BY w
         |), cv AS (
         |  SELECT cut, COUNT(*) AS v FROM fo CROSS JOIN cuts WHERE fd <= cut GROUP BY cut
         |), pts AS (
         |  SELECT ln(CAST(ntok AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
         |  FROM ct JOIN cv USING (cut)
         |)$OlsOracleTail""".stripMargin,

    // The c196 oracle replays distinct (source, gram) presence and
    // counts pairs via the plain gram-keyed self-join — the honest
    // quadratic form the engine's row-local fan avoids.
    "c196_source_overlap" ->
      """WITH pres AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_transform(
        |      range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
        |    FROM documents)
        |), bysrc AS (
        |  SELECT source, COUNT(*) AS n FROM pres GROUP BY source
        |), shared AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_shared
        |  FROM pres a JOIN pres b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT sa, sb, n_shared, na.n AS n_a, nb.n AS n_b,
        |  ROUND(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared), 4) AS jaccard,
        |  ROUND(CAST(n_shared AS DOUBLE) / LEAST(na.n, nb.n), 4) AS containment
        |FROM shared JOIN bysrc na ON na.source = sa JOIN bysrc nb ON nb.source = sb
        |ORDER BY sa ASC NULLS FIRST, sb ASC NULLS FIRST""".stripMargin,

    // The c201 oracle replays the fixed largest-first greedy: presence
    // → per-source sizes → pick order → per-gram first-picked owner →
    // marginal counts → the threshold decisions. The chain ends in a
    // `plan` CTE shared verbatim with c202's oracle (one decision
    // text for the plan and its consumer).
    "c201_source_overlap_plan" ->
      s"""$overlapPlanCte
         |SELECT * FROM plan
         |ORDER BY pick_order ASC NULLS FIRST""".stripMargin,

    // c202 replays c26's rate rule × the plan weight, with the
    // membership compare in INTEGERS (no hex-case hazard).
    "c202_weighted_mix" ->
      s"""$overlapPlanCte, marked AS (
         |  SELECT d.source, p.weight,
         |    CAST(((CAST(substr(d.source, 4, 10) AS INT) % 4) + 1) AS DOUBLE) / 8.0 AS target_rate,
         |    CAST(((CAST(substr(d.source, 4, 10) AS INT) % 4) + 1) AS DOUBLE) / 8.0 * p.weight AS eff_rate,
         |    CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 2) AS INT) <
         |      CAST(floor((CAST(((CAST(substr(d.source, 4, 10) AS INT) % 4) + 1) AS DOUBLE) / 8.0
         |        * p.weight) * 256) AS INT) AS kept
         |  FROM documents d JOIN plan p USING (source)
         |)
         |SELECT source, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
         |  first(target_rate) AS target_rate,
         |  first(weight) AS weight,
         |  ROUND(first(eff_rate), 4) AS eff_rate,
         |  ROUND(CAST(COUNT(CASE WHEN kept THEN 1 END) AS DOUBLE) / COUNT(*), 4) AS actual_rate
         |FROM marked GROUP BY source
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    // The c185 oracle replays grams → the c32 split rule → the
    // distinct train set → per-test-doc seen/novelty.
    "c185_ngram_novelty" ->
      """WITH g AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, lang, g,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM g
        |), tr AS (SELECT DISTINCT g AS tg FROM sp WHERE split = 'train'),
        |te AS (SELECT DISTINCT doc_id, lang, g FROM sp WHERE split = 'test')
        |SELECT doc_id, lang, COUNT(*) AS n_grams, COUNT(tg) AS n_seen,
        |  ROUND(1.0 - CAST(COUNT(tg) AS DOUBLE) / COUNT(*), 4) AS novelty
        |FROM te LEFT JOIN tr ON te.g = tr.tg
        |GROUP BY doc_id, lang
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // The c189 oracle replays split → train bigram counts → the three
    // derived KN tables → the SHARED probability formula (KnProbSql
    // verbatim) → the floored per-doc average. Bigrams emit as
    // "v w" strings and re-split (tokens carry no spaces); SUM casts
    // to BIGINT to match Spark's long.
    "c189_kn_perplexity" ->
      s"""WITH sp AS (
         |  SELECT doc_id, text,
         |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
         |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM documents
         |), bg AS (
         |  SELECT doc_id, split,
         |    string_split(g, ' ')[1] AS v, string_split(g, ' ')[2] AS w
         |  FROM (
         |    SELECT doc_id, split, unnest(list_transform(
         |      range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
         |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS g
         |    FROM sp)
         |), cvw AS (
         |  SELECT v, w, COUNT(*) AS cvw FROM bg WHERE split = 'train' GROUP BY v, w
         |), ctx AS (
         |  SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv, COUNT(*) AS n1f FROM cvw GROUP BY v
         |), cont AS (
         |  SELECT w, COUNT(*) AS n1b FROM cvw GROUP BY w
         |), tt AS (SELECT COUNT(*) AS tt FROM cvw
         |), j AS (
         |  SELECT doc_id, COALESCE(cvw, 0) AS cvw, COALESCE(cv, 0) AS cv,
         |    COALESCE(n1f, 0) AS n1f, COALESCE(n1b, 0) AS n1b, tt
         |  FROM (SELECT doc_id, v, w FROM bg WHERE split = 'test') te
         |  LEFT JOIN cvw USING (v, w) LEFT JOIN ctx USING (v)
         |  LEFT JOIN cont USING (w) CROSS JOIN tt
         |), pr AS (
         |  SELECT doc_id, cvw, $KnProbSql AS p FROM j
         |)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN cvw = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
         |  ${Canon.oDavgFloor6("-ln(p)", "COUNT(*)")} AS avg_nll
         |FROM pr GROUP BY doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // The c182 oracle replays presence → df → the top-vocab cut →
    // vocab-bounded pair counts → the integer-count ln, with the same
    // tiebreaks at both deterministic cuts.
    "c182_term_pmi" ->
      s"""WITH words AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |  )
         |), df AS (
         |  SELECT w, COUNT(*) AS df FROM words GROUP BY w
         |), vocab AS (
         |  SELECT w, df FROM (
         |    SELECT w, df, row_number() OVER (
         |      ORDER BY df DESC NULLS LAST, w ASC) AS rn FROM df
         |  ) WHERE rn <= $PmiVocab
         |), vt AS (
         |  SELECT doc_id, w, df FROM words JOIN vocab USING (w)
         |), pairs AS (
         |  SELECT a.w AS term_a, b.w AS term_b, a.df AS df_a, b.df AS df_b,
         |    COUNT(*) AS n_ab
         |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.w < b.w
         |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2
         |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT term_a, term_b, df_a, df_b, n_ab,
         |  ROUND(ln(CAST(n_ab AS DOUBLE) * n_docs / (df_a * df_b)), 4) AS pmi
         |FROM pairs CROSS JOIN n
         |ORDER BY pmi DESC NULLS LAST, term_a ASC NULLS FIRST, term_b ASC NULLS FIRST
         |LIMIT $PmiTopPairs""".stripMargin,

    "c100_linear_quality_gate" ->
      s"""$lqOracleCte
         |SELECT doc_id, lang, n_tokens, score, keep FROM lq
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "c153_auc_exact" ->
      s"""$lqOracleCte, scored AS (
         |  SELECT score AS v, lang = 'en' AS y FROM lq
         |), tall AS (
         |  SELECT v, COUNT(*) AS cnt,
         |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
         |  FROM scored GROUP BY v
         |), cum AS (
         |  SELECT v, cnt, np, CAST(SUM(cnt) OVER (ORDER BY v ASC NULLS FIRST
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cle
         |  FROM tall
         |)
         |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         |  CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
         |  CASE WHEN SUM(np) > 0 AND SUM(cnt - np) > 0 THEN
         |    ROUND((SUM(np * (CAST(cle - cnt + 1 AS DOUBLE) + (cnt - 1) / 2.0))
         |        - CAST(SUM(np) AS DOUBLE) * (SUM(np) + 1) / 2.0)
         |      / (CAST(SUM(np) AS DOUBLE) * SUM(cnt - np)), 6)
         |  END AS auc
         |FROM cum""".stripMargin,

    "c154_calibration_bins" ->
      s"""$lqOracleCte, scored AS (
         |  SELECT score, lang = 'en' AS y FROM lq
         |), bounds AS (
         |  SELECT min(score) AS lo, max(score) AS hi FROM scored
         |), binned AS (
         |  SELECT least(CAST(floor((score - lo) / (hi - lo + 1e-12)
         |      * $CalBins) AS BIGINT), ${CalBins - 1}) AS bin,
         |    (score - lo) / (hi - lo + 1e-12) AS p, y
         |  FROM scored, bounds
         |), per_bin AS (
         |  SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mean_p_raw,
         |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         |      AS frac_pos_raw
         |  FROM binned GROUP BY bin
         |), ece AS (
         |  SELECT CAST(SUM(CAST(n * abs(frac_pos_raw - mean_p_raw)
         |      AS DECIMAL(38,18))) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS ece_raw
         |  FROM per_bin
         |)
         |SELECT bin, n, ROUND(mean_p_raw, 4) AS mean_p,
         |  ROUND(frac_pos_raw, 4) AS frac_pos,
         |  ROUND(abs(frac_pos_raw - mean_p_raw), 4) AS gap,
         |  ROUND(ece_raw, 4) AS ece
         |FROM per_bin, ece
         |ORDER BY bin ASC NULLS FIRST""".stripMargin,

    "c157_pr_curve" ->
      s"""$lqOracleCte, scored AS (
         |  SELECT score, lang = 'en' AS y FROM lq
         |), bounds AS (
         |  SELECT min(score) AS lo, max(score) AS hi FROM scored
         |), per_bin AS (
         |  SELECT least(CAST(floor((score - lo) / (hi - lo + 1e-12)
         |      * $PrBins) AS BIGINT), ${PrBins - 1}) AS bin,
         |    COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
         |  FROM scored, bounds GROUP BY 1
         |), suff AS (
         |  SELECT a.bin, CAST(SUM(b.np) AS BIGINT) AS tp,
         |    CAST(SUM(b.n - b.np) AS BIGINT) AS fp
         |  FROM per_bin a JOIN per_bin b ON b.bin >= a.bin
         |  GROUP BY a.bin
         |), totals AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos FROM per_bin
         |)
         |SELECT bin,
         |  ROUND(lo + bin * (hi - lo + 1e-12) / $PrBins, 6) AS threshold,
         |  tp, fp, n_pos - tp AS fn,
         |  CASE WHEN tp + fp > 0
         |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 4) END AS precision,
         |  CASE WHEN n_pos > 0
         |    THEN ROUND(CAST(tp AS DOUBLE) / n_pos, 4) END AS recall,
         |  CASE WHEN tp > 0 THEN ROUND(
         |      2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / n_pos)
         |      / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / n_pos)), 4)
         |    WHEN n_pos > 0 AND tp + fp > 0 THEN 0.0
         |  END AS f1
         |FROM suff, totals, bounds
         |ORDER BY bin ASC NULLS FIRST""".stripMargin,

    "c156_lang_confusion" ->
      s"""WITH pred AS ($c14OracleSql
         |), conf AS (
         |  SELECT actual_lang, predicted_lang, COUNT(*) AS n
         |  FROM pred GROUP BY actual_lang, predicted_lang
         |), totals AS (
         |  SELECT actual_lang, CAST(SUM(n) AS BIGINT) AS n_actual
         |  FROM conf GROUP BY actual_lang
         |)
         |SELECT conf.actual_lang, predicted_lang, n,
         |  ROUND(CAST(n AS DOUBLE) / n_actual, 4) AS share_of_actual
         |FROM conf JOIN totals ON conf.actual_lang = totals.actual_lang
         |ORDER BY conf.actual_lang ASC NULLS FIRST,
         |  predicted_lang ASC NULLS FIRST""".stripMargin,

    "c78_bpe_train_steps" -> bpeTrainOracleSql,

    "c58_temperature_mix" ->
      s"""WITH counts AS (
         |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
         |), tot AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
         |    ${Canon.oDsum(s"pow(n_docs, $MixAlpha)")} AS zn
         |  FROM counts
         |)
         |SELECT lang, n_docs,
         |  ROUND(CAST(n_docs AS DOUBLE) / total, 4) AS share,
         |  ROUND(pow(n_docs, $MixAlpha) / zn, 4) AS weight,
         |  ROUND((pow(n_docs, $MixAlpha) / zn) / (CAST(n_docs AS DOUBLE) / total), 4) AS boost
         |FROM counts, tot
         |ORDER BY lang ASC NULLS FIRST""".stripMargin,
    // DuckDB zips equal-length unnests in one SELECT, so the bigram
    // stream is (ws[1:n-1], ws[2:n]) zipped positionally — empty for
    // single-token docs, mirroring the Spark-side `size(ws) >= 2`
    // filter.
    "c54_bigram_surprise" ->
      s"""WITH pairs AS (
         |  SELECT doc_id, unnest(ws[1:len(ws) - 1]) AS a, unnest(ws[2:len(ws)]) AS b
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |), cb AS (
         |  SELECT a, b, COUNT(*) AS cb FROM pairs GROUP BY a, b
         |), ca AS (
         |  SELECT a AS ca_a, COUNT(*) AS ca FROM pairs GROUP BY a
         |), probs AS (
         |  SELECT a, b, CAST(cb AS DOUBLE) / ca AS p
         |  FROM cb JOIN ca ON cb.a = ca.ca_a
         |)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${Canon.oDavgFloor6("-ln(p)", "COUNT(*)")} AS avg_surprise
         |FROM pairs JOIN probs ON pairs.a = probs.a AND pairs.b = probs.b
         |GROUP BY doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "c46_unigram_surprise" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), freq AS (
         |  SELECT w AS pw, COUNT(*) AS cnt FROM toks GROUP BY w
         |), probs AS (
         |  SELECT pw, CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM freq) AS p FROM freq
         |)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  ${Canon.oDavgFloor6("-ln(p)", "COUNT(*)")} AS avg_surprise
         |FROM toks JOIN probs ON toks.w = probs.pw
         |GROUP BY doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "c45_quality_topk" -> {
      val stopList = Stopwords.map("'" + _ + "'").mkString(", ")
      s"""SELECT doc_id, lang, quality, rn FROM (
         |  SELECT doc_id, lang, quality,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY quality DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rn
         |  FROM (
         |    SELECT doc_id, lang,
         |      ROUND(0.5 * least(CAST(length(text) AS DOUBLE) / 300.0, 1.0)
         |        + 0.5 * (1.0 - CAST(len(list_filter(ws, w -> list_contains([$stopList], w))) AS DOUBLE)
         |                       / len(ws)), 4) AS quality
         |    FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents)
         |  )
         |) WHERE rn <= 5
         |ORDER BY lang ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
    },
    "c41_stratified_sample" ->
      """WITH counts AS (SELECT lang AS slang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT min(n_lang) AS target FROM counts),
        |rates AS (SELECT slang, CAST(target AS DOUBLE) / n_lang AS rate FROM counts, t)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |                   / 4294967296.0 < rate THEN 1 END) AS n_kept,
        |  ROUND(MAX(rate), 4) AS target_rate
        |FROM documents d JOIN rates r ON d.lang = r.slang
        |GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag for replace-all (Spark
    // replaces all occurrences by default).
    "c40_text_normalize" ->
      """SELECT doc_id, lang,
        |  CAST(length(norm) AS BIGINT) AS norm_len,
        |  md5(norm) AS norm_md5
        |FROM (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents
        |)
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "c33_repetition_score" ->
      """WITH counts AS (
        |  SELECT doc_id, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY doc_id, w
        |), stats AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS distinct_tokens, max(c) AS top_count
        |  FROM counts GROUP BY doc_id
        |), top AS (
        |  SELECT doc_id, w AS top_token FROM (
        |    SELECT doc_id, w,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY c DESC NULLS LAST, w ASC) AS rn
        |    FROM counts
        |  ) WHERE rn = 1
        |)
        |SELECT s.doc_id, n_tokens, distinct_tokens, top_token,
        |  ROUND(CAST(distinct_tokens AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
        |  ROUND(CAST(top_count AS DOUBLE) / n_tokens, 4) AS top_token_share
        |FROM stats s JOIN top t ON s.doc_id = t.doc_id
        |ORDER BY s.doc_id ASC NULLS FIRST""".stripMargin,

    "c32_data_split" ->
      """SELECT CASE
        |    WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
        |    WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'test'
        |    ELSE 'train' END AS split,
        |  lang, COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY split ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin,

    "c31_curate_corpus" -> {
      val stopList = Stopwords.map("'" + _ + "'").mkString(", ")
      s"""${NearDup.oracleClustersCte},
         |curated AS (
         |  SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ROUND(0.5 * least(CAST(length(text) AS DOUBLE) / 300.0, 1.0)
         |      + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |          w -> list_contains([$stopList], w))) AS DOUBLE)
         |        / len(string_split(text, ' '))), 4) AS quality
         |  FROM documents
         |  WHERE substr(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 1)
         |      IN ('0', '1', '2', '3', '4', '5', '6', '7')
         |    AND doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  ${Canon.oDavg("quality")} AS avg_quality
         |FROM curated
         |WHERE quality >= $CurateQuality
         |GROUP BY lang
         |ORDER BY lang ASC NULLS FIRST""".stripMargin
    },

    "c29_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
        |  FROM documents
        |), ev AS (
        |  SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0
        |), contam AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE doc_id % 50 != 0 AND g IN (SELECT g FROM ev)
        |)
        |SELECT lang, COUNT(*) AS n_train,
        |  COUNT(c.doc_id) AS n_contaminated,
        |  ROUND(CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*), 4) AS contam_rate
        |FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
        |WHERE d.doc_id % 50 != 0
        |GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin,

    "c26_corpus_mix" ->
      """WITH marked AS (
        |  SELECT source,
        |    CAST(((CAST(substr(source, 4, 10) AS INT) % 4) + 1) AS DOUBLE) / 8.0 AS target_rate,
        |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |      (CASE (CAST(substr(source, 4, 10) AS INT) % 4) + 1
        |        WHEN 1 THEN '20' WHEN 2 THEN '40' WHEN 3 THEN '60' ELSE '80' END) AS kept
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
        |  first(target_rate) AS target_rate,
        |  ROUND(CAST(COUNT(CASE WHEN kept THEN 1 END) AS DOUBLE) / COUNT(*), 4) AS actual_rate
        |FROM marked
        |GROUP BY source
        |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "c27_sequence_pack" ->
      s"""WITH toks AS (
         |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), binned AS (
         |  SELECT lang, n_tokens,
         |    CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / $PackBudget.0) AS BIGINT) AS bin
         |  FROM toks
         |)
         |SELECT lang, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / $PackBudget, 4) AS fill_rate
         |FROM binned
         |GROUP BY lang, bin
         |ORDER BY lang ASC NULLS FIRST, bin ASC NULLS FIRST""".stripMargin,

    "c23_pii_redact" ->
      s"""WITH planted AS (
         |  SELECT doc_id, lang,
         |    text || ' reach user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.org or +1-555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' see https://ex.org/u/' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents
         |), redacted AS (
         |  SELECT doc_id, lang, text,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$EmailPat', '<EMAIL>', 'g'),
         |      '$UrlPat', '<URL>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g') AS clean
         |  FROM planted
         |)
         |SELECT doc_id, lang,
         |  CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$UrlPat')) AS BIGINT) AS n_url,
         |  CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT) AS n_phone,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM redacted
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "c14_lang_id" -> c14OracleSql,

    "c15_quality_score" -> {
      val stopList = Stopwords.map("'" + _ + "'").mkString(", ")
      s"""SELECT doc_id, n_tokens, avg_token_len,
         |  ROUND(n_stop / n_tokens, 4) AS stopword_ratio,
         |  ROUND(ls_raw, 4) AS length_score,
         |  ROUND(0.5 * ls_raw + 0.5 * (1.0 - n_stop / n_tokens), 4) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    ROUND(CAST(length(text) - (len(ws) - 1) AS DOUBLE) / len(ws), 4) AS avg_token_len,
         |    CAST(len(list_filter(ws, w -> list_contains([$stopList], w))) AS DOUBLE) AS n_stop,
         |    least(CAST(length(text) AS DOUBLE) / 300.0, 1.0) AS ls_raw
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
         |)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    },

    "c16_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,3}', 0)) AS BIGINT) AS bpe_pieces,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters,
        |  ROUND(CAST(len(regexp_extract_all(text, '[a-z]{1,3}', 0)) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS pieces_per_token
        |FROM documents
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "c20_hash_sample" ->
      """WITH kept AS (
        |  SELECT lang, COUNT(*) AS n_kept FROM documents
        |  WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0', '1', '2', '3')
        |  GROUP BY lang
        |), totals AS (
        |  SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
        |)
        |SELECT kept.lang, n_kept, n_total,
        |  ROUND(CAST(n_kept AS DOUBLE) / n_total, 4) AS rate
        |FROM kept JOIN totals ON kept.lang = totals.lang
        |ORDER BY kept.lang ASC NULLS FIRST""".stripMargin,

    "c17_doc_fingerprint" ->
      """SELECT doc_id,
        |  array_to_string(list_sort(list_transform(range(1, greatest(len(text) - 4, 1) + 1, 4),
        |    i -> md5(substr(text, i, 5))))[1:4], '|') AS fingerprint
        |FROM documents
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // DuckDB range(a, b, s) is end-EXCLUSIVE (Spark sequence is
    // inclusive) — hence the `+ 1` on the start bound, same idiom as
    // the c17 oracle. List slice ws[a:b] is 1-based inclusive, so
    // [start : start+W-1] mirrors Spark's slice(ws, start, W).
    "c52_chunk_tokens" ->
      s"""SELECT doc_id,
         |  CAST((start - 1) // $ChunkStride + 1 AS BIGINT) AS chunk_idx,
         |  CAST(start AS BIGINT) AS start_token,
         |  CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM (
         |  SELECT doc_id, start, ws[start:start + ${ChunkW - 1}] AS chunk
         |  FROM (
         |    SELECT doc_id, ws,
         |      unnest(range(1, greatest(len(ws) - ${ChunkW - ChunkStride}, 1) + 1,
         |                   $ChunkStride)) AS start
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  )
         |)
         |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin,

    // SUM(BIGINT) is HUGEINT in DuckDB — cast back to BIGINT to match
    // Spark's long sum (same rule as the c33 oracle).
    "c53_bpe_merge_pairs" ->
      s"""WITH vocab AS (
         |  SELECT w, COUNT(*) AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |  HAVING length(w) >= 2
         |), pairs AS (
         |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences,
         |    COUNT(DISTINCT w) AS n_words
         |  FROM (
         |    SELECT w, wc,
         |      unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
         |    FROM vocab
         |  )
         |  GROUP BY pair
         |)
         |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS BIGINT)
         |    AS merge_rank,
         |  pair, n_occurrences, n_words
         |FROM pairs
         |ORDER BY n_occurrences DESC NULLS LAST, pair ASC NULLS FIRST
         |LIMIT $BpeTopK""".stripMargin,

    // Same pair-counting CTEs as c53, then the rank-1 pair applied to
    // the per-language vocabulary with the same left-to-right
    // non-overlapping `replace` the Spark side uses.
    "c61_bpe_apply_merge" ->
      s"""WITH vocab AS (
         |  SELECT w, COUNT(*) AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |  HAVING length(w) >= 2
         |), pcounts AS (
         |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
         |  FROM (
         |    SELECT w, wc,
         |      unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
         |    FROM vocab
         |  )
         |  GROUP BY pair
         |), top AS (
         |  SELECT pair FROM pcounts
         |  ORDER BY n_occurrences DESC NULLS LAST, pair ASC NULLS FIRST LIMIT 1
         |), lv AS (
         |  SELECT lang, w, COUNT(*) AS wc
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY lang, w
         |), merged AS (
         |  SELECT lang, top.pair AS pair, wc, length(w) AS lw,
         |    length(w) - length(replace(w, top.pair, '$BpeMergeMark')) AS merges
         |  FROM lv, top
         |)
         |SELECT lang, pair,
         |  CAST(SUM(CASE WHEN merges > 0 THEN wc ELSE 0 END) AS BIGINT) AS n_carrier_tokens,
         |  CAST(SUM(wc * lw) AS BIGINT) AS n_symbols_before,
         |  CAST(SUM(wc * merges) AS BIGINT) AS n_merges,
         |  CAST(SUM(wc * lw) - SUM(wc * merges) AS BIGINT) AS n_symbols_after,
         |  ROUND(CAST(SUM(wc * lw) - SUM(wc * merges) AS DOUBLE) / SUM(wc * lw), 4)
         |    AS compression
         |FROM merged
         |GROUP BY lang, pair
         |ORDER BY lang ASC NULLS FIRST""".stripMargin,

    "c60_importance_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
         |), corpus AS (
         |  SELECT w, COUNT(*) AS cw FROM toks GROUP BY w
         |), target AS (
         |  SELECT w AS tw_w, COUNT(*) AS tw FROM toks
         |  WHERE source IN (${TargetSources.map(s => s"'$s'").mkString(", ")})
         |  GROUP BY w
         |), tot AS (
         |  SELECT CAST(SUM(cw) AS BIGINT) AS c_total, CAST(COUNT(*) AS BIGINT) AS v
         |  FROM corpus
         |), ttot AS (
         |  SELECT CAST(SUM(tw) AS BIGINT) AS t_total FROM target
         |), lam AS (
         |  SELECT w AS lw,
         |    ln(CAST(COALESCE(tw, 0) + 1 AS DOUBLE) / CAST(t_total + v AS DOUBLE))
         |      - ln(CAST(cw + 1 AS DOUBLE) / CAST(c_total + v AS DOUBLE)) AS lam
         |  FROM corpus LEFT JOIN target ON corpus.w = target.tw_w, tot, ttot
         |), scored AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    ROUND(${Canon.oDsum("lam")}, 6) AS log_weight
         |  FROM toks JOIN lam ON toks.w = lam.lw
         |  GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens, log_weight,
         |  CAST(CASE WHEN log_weight > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM scored
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // H = ln n − (Σ c·ln c)/n: integers + IEEE ln + the decimal-sum
    // canon, so the same algebra lands on the same rounded value in
    // both engines. SUM(BIGINT)→HUGEINT cast rule as in c33/c53.
    "c63_token_entropy" ->
      s"""WITH cnt AS (
         |  SELECT doc_id, lang, w, COUNT(*) AS c
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  GROUP BY doc_id, lang, w
         |), agg AS (
         |  SELECT doc_id, lang,
         |    CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS distinct_tokens,
         |    ${Canon.oDsum("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")} AS clogc
         |  FROM cnt GROUP BY doc_id, lang
         |)
         |SELECT doc_id, lang, n_tokens, distinct_tokens,
         |  ROUND(ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens, 4) AS entropy,
         |  ROUND(CASE WHEN distinct_tokens > 1
         |    THEN (ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens)
         |         / ln(CAST(distinct_tokens AS DOUBLE))
         |    ELSE 0.0 END, 4) AS norm_entropy
         |FROM agg
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // The 90% cut compares integers (cum·10 ≥ total·9) and the rank
    // window orders (count DESC, token ASC) — the frequency ranking is
    // total-ordered, so MIN(r) is the same rank in both engines.
    "c65_vocab_coverage" ->
      """WITH freq AS (
        |  SELECT lang, w, COUNT(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY lang, w
        |), rk AS (
        |  SELECT lang, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY c DESC NULLS LAST, w ASC NULLS FIRST) AS BIGINT) AS r,
        |    CAST(SUM(c) OVER (PARTITION BY lang
        |      ORDER BY c DESC NULLS LAST, w ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM freq
        |), tot AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab_size
        |  FROM freq GROUP BY lang
        |)
        |SELECT t.lang, MAX(t.n_tokens) AS n_tokens,
        |  MAX(t.vocab_size) AS vocab_size,
        |  MIN(rk.r) AS vocab_90,
        |  ROUND(CAST(MIN(rk.r) AS DOUBLE) / MAX(t.vocab_size), 4) AS vocab_90_frac
        |FROM rk JOIN tot t ON rk.lang = t.lang
        |WHERE rk.cum * 10 >= t.n_tokens * 9
        |GROUP BY t.lang
        |ORDER BY t.lang ASC NULLS FIRST""".stripMargin
  )
}
