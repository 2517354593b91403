package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.{Canon, Memo, Tables}
import graft.functions.ArrayDot.cosine

/** LLM-data-pipeline operators (SURVEY §2 group C, mandated by the
  * north star): dedup (exact + MinHash/LSH), similarity search, text
  * analysis, multimodal join.
  *
  * Scale posture (C10): no `collect()` anywhere; near-dup detection is
  * bucketed LSH (candidates meet only inside a band bucket — never the
  * O(n²) all-pairs join); vector search broadcasts the single probe
  * row and top-k's via `orderBy().limit(k)` (TakeOrderedAndProject —
  * per-partition heaps). Cross-engine determinism: MinHash uses `md5`
  * (bit-identical in every engine, uniformly distributed) with numeric
  * min over the digest's 60-bit prefix — a valid min-hash family that
  * DuckDB reproduces exactly, sidestepping engine-specific
  * `hash()`/`xxhash64` (§5.3 rule 6).
  */
object Llm {
  import Canon._

  type Q = (SparkSession, String) => DataFrame

  private[graft] val MinhashSeeds = 8 // k signatures
  private[graft] val Bands = 4 // b bands of r = k/b = 2 rows

  /** c1 — exact dedup: group identical texts, keep min doc_id (the
    * canonical survivor), count the duplicates.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** Tokenized documents: (doc_id, ws: array<string>). */
  private def tokenized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))

  /** (doc_id, band_idx, band_val) LSH bucket assignments: word
    * 3-shingles → per-seed min-hash signature → banded band hash.
    *
    * The k per-seed min-hashes are k `min` AGGREGATE COLUMNS over one
    * shingle pass, not a k× row explosion (the round-2 shape
    * crossJoined a seeds table, putting 8× the shingle count through
    * the aggregation): the map-side partial agg compresses to one
    * 8-column row per (partition, doc) before the shuffle.
    *
    * The min-hash value is the first 60 bits of `md5("<seed>:" ++
    * shingle)` as a BIGINT (`Canon.md5Prefix(.., 1, 15)` here;
    * `CAST('0x'||substr(md5(..),1,15) AS BIGINT)` in DuckDB — verified
    * bit-identical). Numeric min over a 60-bit prefix is the same
    * min-hash family as lexicographic min over the hex digest, but the
    * aggregation buffer is 8 mutable longs instead of 8 strings, so
    * Spark keeps HashAggregate with map-side combine — min(string)
    * forced a SortAggregate that SORTED the full exploded shingle
    * stream (round-4 verdict, "What's wrong" #2).
    */
  /** Per-doc MinHash signature table (doc_id, mh0..mh{k−1}) — the
    * shingle → per-seed min pass shared by the band builder and the
    * c64 calibration audit. One shingle explode, k min-aggregate
    * columns (map-side combined to one k-long row per (partition,
    * doc) — see [[lshBandsPlan]] for why this beats a k× explosion).
    */
  private[graft] def minhashSigsPlan(spark: SparkSession, sfDir: String): DataFrame =
    minhashSigsOf(tokenized(spark, sfDir))

  /** The signature kernel over any (doc_id, ws) frame — so consumers
    * that only need a SUBSET of signatures (c64 prunes to its audit
    * sample) can pre-filter the frame instead of hashing the corpus.
    */
  private[graft] def minhashSigsOf(toks: DataFrame): DataFrame = {
    val shingles = toks
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("shingle"))
    val minCols = (0 until MinhashSeeds).map(s =>
      min(md5Prefix(concat(lit(s"$s:"), col("shingle")), 1, 15)
        .cast("long")).as(s"mh$s"))
    shingles.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
  }

  private[graft] def lshBandsPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSigsPlan(spark, sfDir)
    sigs.select(col("doc_id"), posexplode(expr(
      (0 until Bands).map(j =>
        s"md5(concat(cast(mh${2 * j} as string), ':', cast(mh${2 * j + 1} as string)))")
        .mkString("array(", ", ", ")"))).as(Seq("band_idx", "band_val")))
  }

  /** Materialized band table, one per corpus ([[graft.Memo]]).
    *
    * The signature pass is the dominant cost of the whole dedup family
    * and THREE consumers replay it when left un-materialized: the c2
    * self-join evaluates the subtree under BOTH join inputs (Spark
    * cannot share an un-materialized subtree across self-join sides),
    * and c3/c11 rebuild it from scratch — ~6× the necessary hash work
    * (round-4 verdict, top item). The table is tiny relative to the
    * corpus (Bands rows × (long, int, 32-char hex) per doc — ~0.1% of
    * corpus bytes at any scale), so MEMORY_AND_DISK for the application
    * lifetime is bounded.
    */
  private[graft] def lshBands(spark: SparkSession, sfDir: String): DataFrame =
    Memo.frame(spark, "bands", Tables.path(sfDir, "documents"))(
      lshBandsPlan(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK))._1

  /** Pre-materialize the band table for a corpus — Bench calls this in
    * its prelude so the family's one-time signature pass is not billed
    * to whichever dedup key happens to run first (round-5 verdict:
    * c11's 9.45 s was ~9 s of this shared cost).
    */
  private[graft] def warmBands(spark: SparkSession, sfDir: String): Unit = {
    lshBands(spark, sfDir)
    writeBandStore(spark, sfDir)
    ()
  }

  /** On-disk LSH signature store — the durable form of the signature
    * seam [[lshBands]] models in memory: bands computed ONCE and
    * probed by every later job or PROCESS — c51's streaming gate
    * reads this table, so a fresh session probes signatures it never
    * computed (the production ingest shape: one signature job, many
    * probe jobs). It lives under the vector-store root
    * ([[NearDup.vecStoreRoot]]) in a [[graft.Memo.storeDir]] keyed on
    * the documents fingerprint and the signature constants, and is
    * published like every flat vector-store artifact
    * ([[NearDup.publishFlat]]: once, atomically, 4M-row files — band
    * rows are ~50 B, so ~200 MB files, a handful per 100× corpus).
    * Returns the store dir.
    */
  private[graft] def writeBandStore(spark: SparkSession, sfDir: String): String =
    NearDup.publishFlat(Memo.storeDir(NearDup.vecStoreRoot(spark), "bands",
      Tables.path(sfDir, "documents"), s"seeds=$MinhashSeeds;bands=$Bands"), "bands")(
      lshBands(spark, sfDir))

  /** The store as a frame: a parquet SCAN of the persisted signature
    * table through [[graft.Tables.t]] — never the in-memory memo — so
    * every consumer takes the cross-process read path (pinned by
    * StreamsApiSpec: bit-identical to [[lshBandsPlan]] after the memos
    * are evicted).
    */
  private[graft] def bandStore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, writeBandStore(spark, sfDir), "bands")

  /** The LSH candidate-pair plan: docs sharing at least one band
    * bucket. The join is per-bucket (equi on band_idx+band_val), so
    * work scales with bucket occupancy, not n². Both join sides read
    * the materialized band table ([[lshBands]]), so the plan shows one
    * signature pipeline + InMemoryTableScans.
    */
  private[graft] def minhashPairsPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = lshBands(spark, sfDir)
    val a = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band_idx").as("bi2"), col("band_val").as("bv2"))
    a.join(b, col("band_idx") === col("bi2") && col("band_val") === col("bv2") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Materialized candidate-pair table, one per corpus
    * ([[graft.Memo]]) — the third one-time pass of the dedup family
    * (bands → pairs → cluster labels).
    *
    * FIVE consumers read the pair set (c2 itself, the c3/c43 verify
    * scores, the c11 char-level verify, and the CC edge list behind
    * c21/c22/c31), and c11 alone references it under TWO join inputs
    * (the broadcast candidate-id set and the pair spine), so an
    * un-materialized plan replays the band self-join + distinct up to
    * six times per bench pass — measured at sf0.1 as ~490 tasks for
    * 826 result rows, with task overhead (deserialize + schedule) of
    * the replayed stages dominating wall time 3–4×. The table is
    * duplicate-sized (two longs per candidate pair — ≪ corpus at any
    * scale).
    */
  private[graft] def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Memo.frame(spark, "pairs", Tables.path(sfDir, "documents"))(
      minhashPairsPlan(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK))._1

  /** Pre-materialize the pair table (and, transitively, the band
    * table) — Bench times this as its own setup key so the shared
    * pass is never billed to whichever consumer runs first.
    */
  private[graft] def warmPairs(spark: SparkSession, sfDir: String): Unit = {
    minhashPairs(spark, sfDir); ()
  }

  /** c2 — MinHash/LSH near-duplicate candidate pairs, read from the
    * memoized pair table ([[minhashPairs]]).
    */
  def dedupMinhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** Materialized token-set table (doc_id, tset = distinct whitespace
    * tokens), one per corpus ([[graft.Memo]]) — the fifth one-time pass
    * of the dedup family (bands → pairs → labels → grams → token sets).
    * FOUR verify-stage keys read it under TWO join inputs each
    * (c3/c43's pair scoring, c50's incremental gate, c51's streaming
    * gate), so un-materialized the corpus-wide split+distinct
    * projection runs 8× per bench pass (round-8 verdict #6). Like the
    * gram table it is corpus-sized, not duplicate-sized: at 100 TB this
    * is the tokenized corpus a real pipeline materializes ONCE next to
    * the signature store, and MEMORY_AND_DISK models that seam at test
    * scale.
    */
  private[graft] def tokenSets(spark: SparkSession, sfDir: String): DataFrame =
    Memo.frame(spark, "tokens", Tables.path(sfDir, "documents"))(
      tokenized(spark, sfDir)
        .select(col("doc_id"), array_distinct(col("ws")).as("tset"))
        .persist(StorageLevel.MEMORY_AND_DISK))._1

  /** Pre-materialize the token-set table — its own Bench setup key
    * (same attribution discipline as bands/pairs/labels/grams).
    */
  private[graft] def warmTokenSets(spark: SparkSession, sfDir: String): Unit = {
    tokenSets(spark, sfDir); ()
  }

  /** c3 — exact token-set Jaccard over the c2 candidate pairs (the
    * verify stage of the dedup pipeline: cheap LSH recall → exact
    * precision on the small candidate set).
    */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir)
    val toks = tokenSets(spark, sfDir)
    pairs
      .join(toks.select(col("doc_id").as("doc_a"), col("tset").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tset").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** c192's shared formula texts over the joined count columns
    * (m1/m2 = clipped matches, rlen/clen = reference/candidate word
    * lengths) — ONE text per quantity feeds both engines (the
    * c183/c189 discipline). Deliberately libm-FREE: every arithmetic
    * op here (integer→double casts, division, multiplication, sqrt)
    * is IEEE-754 exactly-rounded and therefore bit-identical across
    * engines — the brevity penalty's exp(1 − r/c) is NOT (platform
    * libm), so instead of baking it into the score the monotone
    * ingredient `len_ratio` ships as its own column (the c100
    * no-sigmoid discipline: a gate can threshold the pair (bleu2,
    * len_ratio) and loses nothing the exp would add).
    */
  private[graft] val BleuP1Sql = "CAST(m1 AS DOUBLE) / CAST(clen AS DOUBLE)"
  // clen > 1 is structurally guaranteed on the banded pair table
  // (band membership requires a 3-shingle), but the formula text is
  // reusable over ANY pair table, so the denominator guards itself
  // (r17 ADVICE): a 1-word candidate scores p2 = 0, never a
  // division-by-zero NULL/Inf.
  private[graft] val BleuP2Sql =
    "CASE WHEN clen > 1 THEN CAST(m2 AS DOUBLE) / CAST(clen - 1 AS DOUBLE) ELSE 0.0 END"
  private[graft] val BleuSql =
    s"CASE WHEN m1 > 0 AND m2 > 0 THEN sqrt(($BleuP1Sql) * ($BleuP2Sql)) ELSE 0.0 END"

  /** c192 — BLEU-style MODIFIED n-GRAM PRECISION over the LSH
    * candidate pairs (Papineni et al. 2002 §2.1, public — the
    * clipped-count precision behind MT eval, repurposed as the
    * dedup-verification metric a curation REVIEW wants: c3's Jaccard
    * says "the token SETS overlap", this says "the candidate REUSES
    * the reference's phrasing, repetition-aware and order-aware at
    * the bigram level"). For each banded pair (a = reference, b =
    * candidate; the a<b convention): p_n = Σ_g min(count_b(g),
    * count_a(g)) / #n-grams(b) for n = 1,2 — the CLIP is what stops
    * a candidate repeating one shared word from scoring 1.0 —
    * bleu2 = √(p1·p2) when both match counts are positive (the
    * smoothing-free convention: a pair with zero shared bigrams
    * scores 0), plus len_ratio = |b|/|a|, the brevity-penalty
    * ingredient (see [[BleuSql]] for why the exp form is not baked
    * in). Every pair in this table already carries ≥3 words per side
    * (band membership requires a 3-shingle), so the p2 denominator
    * clen−1 ≥ 2 is structurally safe.
    *
    * Scale shape: the candidates-only discipline (the c3/c117
    * posture — never all-pairs): two per-doc n-gram COUNT tables
    * (map-side combined, corpus-bounded) are probed by the memoized
    * pair table via doc-keyed equi-joins; the clipped sum is one
    * map-side-combined aggregate per order over pairs×doc-length
    * rows; lengths ride a doc-sized join. At 100 TB the gram-count
    * tables are the same standing artifact family as the band store.
    */
  def bleuPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir)
    val docs = Tables.t(spark, sfDir, "documents")
    // Per-doc gram-count MAPS, not a gram-instance join: the pair
    // side carries TWO doc-sized maps per row and the clipped sum is
    // a row-local fold (the c3 tokenSets posture). The instance-join
    // alternative shuffles pairs × doc-length ROWS — measured 46 GB
    // of spill-to-death on the 100× rehearsal corpus, whose
    // 100-replica families inflate the pair count quadratically; the
    // map form holds the same pairs at a handful of shuffled GB.
    def gramMap(grams: DataFrame) = grams
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("g"), col("c")))).as("m"))
    val uniM = gramMap(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("g")))
    val biM = gramMap(docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2)))")).as("g")))
    val lens = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len1"))
    def clip(ma: String, mb: String): String =
      s"""aggregate(map_keys($mb), 0L,
         |  (acc, k) -> acc + least(element_at($mb, k), coalesce(element_at($ma, k), 0L)))""".stripMargin
    pairs
      .join(uniM.select(col("doc_id").as("doc_a"), col("m").as("ua")), "doc_a")
      .join(uniM.select(col("doc_id").as("doc_b"), col("m").as("ub")), "doc_b")
      .join(biM.select(col("doc_id").as("doc_a"), col("m").as("ba")), "doc_a")
      .join(biM.select(col("doc_id").as("doc_b"), col("m").as("bb")), "doc_b")
      .join(lens.select(col("doc_id").as("doc_a"), col("len1").as("rlen")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len1").as("clen")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(clip("ua", "ub")).as("m1"),
        expr(clip("ba", "bb")).as("m2"),
        col("rlen"), col("clen"))
      .select(col("doc_a"), col("doc_b"), col("m1"), col("m2"),
        round(expr(BleuP1Sql), 4).as("p1"),
        round(expr(BleuP2Sql), 4).as("p2"),
        round(col("clen").cast("double") / col("rlen"), 4).as("len_ratio"),
        round(expr(BleuSql), 4).as("bleu2"))
      .orderBy("doc_a", "doc_b")
  }

  /** c117 — LEVENSHTEIN edit-distance verification over the LSH
    * candidate pairs: the CHARACTER-level near-dup measure closing
    * the verification triple (c3 = token-set Jaccard, c11 =
    * char-trigram Jaccard, THIS = true edit distance — the only one
    * of the three that sees order: "a b c" vs "c b a" are Jaccard-1
    * but edit-distant). Unit-cost Levenshtein is definition-identical
    * in Spark (`levenshtein`, codegen'd) and DuckDB (`levenshtein`),
    * so the distances are EXACT integers and the normalized
    * similarity 1 − d/max(len) is one exact ratio. Convention pinned
    * for the max(len) = 0 corner (two empty texts): edit_sim = 1.0 —
    * identical strings — guarded explicitly in BOTH engines, because
    * an unguarded 0/0 is NULL under Spark's non-ANSI division but an
    * error/NaN path in DuckDB double division (latent on the shipped
    * all-non-empty fixtures; the contract must not depend on that).
    *
    * Scale shape: the candidates-only discipline is what makes an
    * O(len²)-per-pair metric affordable at all — edit distance runs
    * ONLY on pairs an LSH band proposed (the memoized pair table —
    * never all-pairs), and text crosses the wire once per side via
    * the same doc-keyed joins as c3. At 100 TB the per-pair cost is
    * the dial: band-gate first (cheap), verify the survivors here.
    */
  /** The c117 normalized similarity from a PRECOMPUTED distance — the
    * round-12 regression fix: round 11's empty-empty guard moved the
    * similarity's `levenshtein` inside a `when` branch while
    * `edit_dist` kept an unconditional one, and a CONDITIONAL
    * subexpression defeats codegen subexpression elimination — the
    * O(len²) kernel ran TWICE per pair (+64% on the bench). Deriving
    * the ratio from the stored `edit_dist` column makes one
    * evaluation structural: the distance lands in its own projection,
    * and CollapseProject will not inline a non-cheap expression that
    * is referenced twice downstream.
    */
  private[graft] def editSimFromDist(dist: Column, ta: Column, tb: Column): Column =
    when(greatest(length(ta), length(tb)) > 0,
      round(lit(1.0) - dist /
        greatest(length(ta), length(tb)).cast("double"), 4))
      .otherwise(lit(1.0))

  /** The c117 normalized similarity with its pinned empty-empty
    * convention — split out so the corner is unit-testable without a
    * band store.
    */
  private[graft] def editSimExpr(ta: Column, tb: Column): Column =
    editSimFromDist(graft.functions.EditDistance.edist(ta, tb), ta, tb)

  def editDistancePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir)
    val docs = Tables.t(spark, sfDir, "documents")
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      // ONE kernel call, and it is the bit-parallel one
      // ([[graft.functions.EditKernel]] — Myers/Hyyrö, the round-13
      // close of the c117 100× hole). History of the dial: round 12
      // root-caused a conditional `levenshtein` double-evaluating
      // (CSE defeat); early round 13 tried the builtin's threshold
      // ladder and MEASURED it useless at these lengths (a 128-band
      // over ~300-char strings is as wide as the matrix, ~0.7 ms per
      // pair either way — and the 100×-docs corpus proposes 29.7M
      // candidate pairs, quadratic in its replica-family size, so the
      // builtin's constant is ~6 CPU-hours). The bit-parallel kernel
      // does the identical exact computation ~50× faster, needs no
      // ladder, and keeps the plan at exactly one kernel evaluation
      // (edit_dist in its own projection; edit_sim derives from the
      // stored column — PlanSpec-pinned).
      // SORT BELOW THE KERNEL: a global orderBy's range-partitioner
      // SAMPLES its child with a separate job, i.e. everything below
      // the sort executes twice. With the sort on the (doc_a, doc_b,
      // ta, tb) spine and the kernel in projections ABOVE it (no
      // optimizer rule moves a Project through a Sort), the sample
      // pass re-runs only the joins while the kernel evaluates ONCE —
      // projections preserve the sort's ordering and partitioning.
      .orderBy("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"),
        graft.functions.EditDistance.edist(col("ta"), col("tb"))
          .cast("long").as("edit_dist"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        editSimFromDist(col("edit_dist"), col("ta"), col("tb")).as("edit_sim"))
  }

  /** c158 — EXACT micro-edit similarity JOIN (edit distance ≤
    * [[EditJoinD]]), zero recall loss: the entity-resolution /
    * OCR-grade near-identity join the LSH family cannot express
    * (MinHash sees token SETS — a one-character typo is invisible to
    * it as signal and a reordering is invisible as noise; this key's
    * predicate is the true character-level distance). The dirty side
    * is a deterministic single-character DELETION planted on half the
    * corpus (md5-dealt position — the A13 drift discipline), so the
    * join provably must recover every planted (doc, typo) pair plus
    * any genuine near-identical pairs (the fixture's exact dups).
    *
    * Candidate generation is the PassJoin pigeonhole (Li, Deng, Feng
    * VLDB 2011 — public): partition each clean string into
    * [[EditJoinK]] = D+1 contiguous segments; any string within edit
    * distance D contains at least one segment EXACTLY (D edits touch
    * ≤ D segments), at a start position shifted by at most ±D, with
    * |len difference| ≤ D. So the dirty side enumerates, per
    * candidate clean LENGTH L ∈ [n−D, n+D] and segment index, the ≤
    * (2D+1) aligned substrings — a CONSTANT ≤ (2D+1)²·K probes per
    * row — and candidates come from an equi-join on
    * (xxhash64(substring), segment_idx, L): only ids and fixed-width
    * keys cross the probe/candidate exchanges (a hash collision can
    * only ADD a candidate, which the exact kernel kills — recall is
    * pigeonhole on the true segment either way). Nothing is
    * all-pairs: bucket occupancy scales with near-identical density,
    * not n². ID pairs then join text back — each side's text crossing
    * one exchange ONCE — for the bit-parallel
    * [[graft.functions.EditKernel]] verify. Kernel placement (the
    * round-14 measured choice): the optimizer pushes the `≤ D` gate
    * INTO the text join as its condition, so the kernel runs once per
    * CANDIDATE there (the unavoidable verify work, and survivors-only
    * flow downstream) plus once per SURVIVOR in the output projection
    * (output-sized, ~15 µs each). The alternatives measured worse:
    * forcing one textual evaluation needs either an aggregate barrier
    * (adds a full exchange of every candidate) or a nondeterministic
    * projection (blocks every downstream optimization), both dearer
    * than the survivor-sized recompute. PlanSpec pins this exact
    * shape. The ORACLE is the full quadratic brute force (the c96
    * standard): a lost or invented pair fails the hash, so zero loss
    * is verified, not asserted.
    * Strings shorter than K chars can't be segmented and are excluded
    * by BOTH engines' `length ≥ 3` guard (fixture min is 44).
    */
  private[graft] val EditJoinD = 2
  private[graft] val EditJoinK = EditJoinD + 1

  def editJoinExact(spark: SparkSession, sfDir: String): DataFrame = {
    val D = EditJoinD
    val K = EditJoinK
    val docs = Tables.t(spark, sfDir, "documents")
      .where(length(col("text")) >= K)
    // Deterministic dirty side: md5-dealt half, one deletion at an
    // md5-derived position (identical text in both engines).
    val dirty = docs
      .where(substring(md5(concat(lit("typo:"), col("doc_id").cast("string"))), 1, 1) < "8")
      .select(col("doc_id").as("dirty_id"),
        expr("CAST(graft_md5_prefix(concat('pos:', CAST(doc_id AS STRING)), 1, 4) AS INT) % length(text)").as("pos"),
        col("text"))
      .select(col("dirty_id"),
        expr("concat(substring(text, 1, pos), substring(text, pos + 2))").as("t"))
    // Clean segments: K rows per doc keyed by (xxhash64(segment),
    // index, clean length) + doc_id. PassJoin's even partition: the
    // first (L mod K) segments carry one extra char. The c117
    // discipline (round-13 verdict item 1): only IDS and FIXED-WIDTH
    // keys cross the probe/candidate exchanges — the 8-byte segment
    // hash stands in for the ~L/K-char segment text, and the dirty
    // text `t` (~300 B × ≤(2D+1)²·K probe rows per doc) no longer
    // rides the explode → distinct → join pipeline at all. A hash
    // COLLISION can only ADD a candidate pair, never drop one
    // (pigeonhole recall is on the true segment; the collision's
    // extra pair dies at the exact kernel), so zero loss is
    // preserved — and still verified, not asserted, by the unchanged
    // quadratic oracle.
    def segLen(l: String, i: Int) =
      s"(($l div $K) + (CASE WHEN $i < ($l % $K) THEN 1 ELSE 0 END))"
    def segStart(l: String, i: Int) =
      s"(CASE WHEN $i < ($l % $K) THEN $i * (($l div $K) + 1) " +
        s"ELSE ($l % $K) * (($l div $K) + 1) + ($i - ($l % $K)) * ($l div $K) END)"
    // r18 optimization: ONE documents scan exploding the K segment
    // structs per row, not K unioned scans (guide §2.4 share one
    // scan). Same (doc_id, seg_h, seg_idx, clean_len) rows.
    val segStructs = (0 until K).map { i =>
      s"struct(xxhash64(substring(text, ${segStart("length(text)", i)} + 1, " +
        s"${segLen("length(text)", i)})) AS seg_h, $i AS seg_idx)"
    }.mkString("array(", ", ", ")")
    val cleanSegs = docs
      .select(col("doc_id"), length(col("text")).as("clean_len"),
        explode(expr(segStructs)).as("sg"))
      .select(col("doc_id"), col("sg.seg_h").as("seg_h"),
        col("sg.seg_idx").as("seg_idx"), col("clean_len"))
    // Dirty probes: for each candidate clean length (n−D..n+D),
    // segment index, and shift (−D..+D), the HASH of the aligned
    // substring of t — a constant ≤ K·(2D+1)² structs per row, each
    // (long, int) instead of a string. TWO-LEVEL explode by design:
    // the first level fans out the 2D+1 candidate lengths and STORES
    // the segmentation arithmetic (base, k) as columns; the second
    // builds the K·(2D+1) probe structs as small expressions over
    // those stored columns. The flat 75-branch form inlined the
    // div/mod trees into every CASE — a single monster projection
    // past codegen's method limits, measured at 14.7 s for 141k probe
    // rows at sf0.1; this shape is whole-stage-codegen-sized and runs
    // in milliseconds.
    val lenArr = (-D to D).map(dl => s"length(t) + ($dl)").mkString("array(", ",", ")")
    val lens = dirty
      .select(col("dirty_id"), col("t"), explode(expr(lenArr)).as("clean_len"))
      .where(col("clean_len") >= K)
      .withColumn("base", expr(s"clean_len div $K"))
      .withColumn("k", expr(s"clean_len % $K"))
    val probeArr = (for { i <- 0 until K; sh <- -D to D } yield {
      val len = s"(base + (CASE WHEN $i < k THEN 1 ELSE 0 END))"
      val start = s"(CASE WHEN $i < k THEN $i * (base + 1) " +
        s"ELSE k * (base + 1) + ($i - k) * base END)"
      val p = s"($start + ($sh))"
      s"""CASE WHEN $p >= 0 AND $len >= 1 AND $p + $len <= length(t)
         |THEN named_struct('seg_h', xxhash64(substring(t, $p + 1, $len)), 'seg_idx', $i) END""".stripMargin
    }).mkString("array(", ",\n", ")")
    val probes = lens
      .select(col("dirty_id"), col("clean_len"),
        explode(expr(probeArr)).as("pr"))
      .where(col("pr").isNotNull)
      .select(col("dirty_id"), col("pr.seg_h").as("seg_h"),
        col("pr.seg_idx").as("seg_idx"), col("clean_len"))
      .distinct()
    // Candidate ID pairs from the fixed-width equi-join; text joins
    // back ONLY here, each side's text crossing one exchange once,
    // for the single verify-kernel projection.
    val idPairs = cleanSegs
      .join(probes, Seq("seg_h", "seg_idx", "clean_len"))
      .select(col("doc_id"), col("dirty_id"))
      .distinct()
    idPairs
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .join(dirty, "dirty_id")
      .select(col("doc_id"), col("dirty_id"),
        graft.functions.EditDistance.edist(col("text"), col("t"))
          .cast("long").as("edit_dist"))
      .where(col("edit_dist") <= D)
      // Barrier before the canonical sort: the range-bound sampling
      // pass would otherwise re-run the verify joins AND the
      // O(len²/w) edit-distance kernel once per candidate a second
      // time (Canon.barrierSort rationale).
      .transform(graft.Canon.barrierSort(_, "doc_id", "dirty_id"))
  }

  /** c159 — blocked PROBABILISTIC RECORD LINKAGE (Fellegi & Sunter
    * 1969 — public; the reconciliation step after a migration whose
    * legacy rows lost their keys: a13's drift diff assumes key-joined
    * rows, this key links them when no join key survives). The dirty
    * side is the md5-dealt half of `customer`, trisected by a second
    * md5 digit into two deterministic corruption classes: class 0
    * deletes one name character at an md5-derived position (balance
    * stable), class 1 adds one cent to the balance (name stable) —
    * so NO single field survives every record, the condition that
    * makes naive exact joins lose rows and linkage earn its keep.
    *
    * BLOCKING (the scale story): two equi-join passes, each keyed on
    * the fields the OTHER corruption class leaves stable — pass A on
    * (nation, segment, balance-cents) catches name-corrupted records,
    * pass B on (nation, segment, exact name) catches
    * balance-corrupted ones; candidates = the DISTINCT union. Both
    * keys are high-cardinality (cents ≈ 1.2M values, names unique),
    * so block occupancy — and the candidate count — scales LINEARLY
    * with the corpus, never n² (the standard multi-pass FS posture:
    * blocking recall comes from the union, not from widening any one
    * block). Every planted pair is caught by construction: class 0
    * via pass A, class 1 via pass B (spec-asserted).
    *
    * SCORING: integer agreement weights — rounded Fellegi-Sunter
    * log2(m/u) odds under the documented assumptions m ≈ 0.95 and
    * u_name ≈ 0.06 (log2 ≈ 4), u_bal ≈ 0.12 (log2 ≈ 3), block base 2
    * for the always-agreeing (nation, segment) — kept INTEGER so the
    * score hashes identically cross-engine (an EM-estimated float
    * m/u would be the production refinement; it adds nothing at
    * fixture determinism and breaks exact comparison). Name agreement
    * is edit distance ≤ 1 on the bit-parallel
    * [[graft.functions.EditDistance]] kernel (DuckDB: levenshtein);
    * balance agreement is exact cents. `score = 2 + 4·name + 3·bal`,
    * link threshold ≥ [[LinkThreshold]]: a class-0 self-pair scores
    * 9, a class-1 self-pair 6, a balance-collision stranger with a
    * far name scores 5 and is refused. FS is honest about ambiguity:
    * a stranger sharing the block AND a 1-edit name (TPC-H names
    * differ by digits) links at 9 — deterministically, in both
    * engines, with the score on the row for the analyst.
    *
    * Balance-cents canon: `CAST(round(c_acctbal * 100) AS BIGINT)` —
    * round() lands exactly on the integer the 2-decimal fixture
    * value means, so Spark's truncating cast and DuckDB's rounding
    * cast agree (never CAST a raw double product).
    */
  private[graft] val LinkNameW = 4
  private[graft] val LinkBalW = 3
  private[graft] val LinkBlockW = 2
  private[graft] val LinkThreshold = 6

  /** The clean linkage side: id + fields + block attributes. */
  private[graft] def linkClean(cust: DataFrame): DataFrame =
    cust.select(
      col("c_custkey").as("cust_id"), col("c_name").as("name"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))

  /** The deterministic dirty side (md5-dealt half, two corruption
    * classes) — works on a static OR a streaming customer frame
    * (pure row-wise expressions), the c51 batch/stream-sharing
    * discipline.
    */
  private[graft] def linkDirty(cust: DataFrame): DataFrame = {
    val balCents = "CAST(round(c_acctbal * 100) AS BIGINT)"
    cust
      .where(substring(md5(concat(lit("link:"), col("c_custkey").cast("string"))), 1, 1) < "8")
      .withColumn("cls",
        when(substring(md5(concat(lit("link:"), col("c_custkey").cast("string"))), 2, 1) < "8", 0)
          .otherwise(1))
      .withColumn("npos",
        expr("CAST(graft_md5_prefix(concat('lpos:', CAST(c_custkey AS STRING)), 1, 4) AS INT) % length(c_name)"))
      .select(
        col("c_custkey").as("dirty_id"),
        expr("CASE WHEN cls = 0 THEN concat(substring(c_name, 1, npos), substring(c_name, npos + 2)) ELSE c_name END").as("name_d"),
        col("c_nationkey").as("nat_d"), col("c_mktsegment").as("seg_d"),
        expr(s"CASE WHEN cls = 0 THEN $balCents ELSE $balCents + 1 END").as("bal_cents_d"))
  }

  /** Both blocking passes + FS scoring, STATELESSLY: instead of a
    * DISTINCT over the pass union (a stateful dedup no append-mode
    * stream can run), pass B drops the pairs pass A already caught —
    * a B-pair is also an A-pair iff its balances match, a row-local
    * predicate — so `A ∪ (B where bal≠) ≡ DISTINCT(A ∪ B)` exactly.
    * Each pass carries its fields through the join (no re-join by
    * id), which keeps the whole pipeline stream-static-safe and
    * drops the batch plan's distinct exchange + two joins-back.
    */
  private[graft] def linkPairs(clean: DataFrame, dirty: DataFrame): DataFrame =
    linkCandidates(clean, dirty).where(col("score") >= LinkThreshold)

  /** The scored candidate set BEFORE the link threshold — shared by
    * [[linkPairs]] (≥ threshold) and c163's two-threshold banding
    * (which needs the sub-threshold candidates too). Catalyst pushes
    * linkPairs' threshold filter back inside each pass, so the split
    * costs nothing.
    */
  private[graft] def linkCandidates(clean: DataFrame, dirty: DataFrame): DataFrame = {
    def score(pairs: DataFrame): DataFrame = pairs
      .select(col("cust_id"), col("dirty_id"),
        (graft.functions.EditDistance.edist(col("name"), col("name_d")) <= 1)
          .cast("int").as("name_agree"),
        (col("bal_cents") === col("bal_cents_d")).cast("int").as("bal_agree"))
      .withColumn("score", lit(LinkBlockW) +
        lit(LinkNameW) * col("name_agree") + lit(LinkBalW) * col("bal_agree"))
    val passA = dirty.join(clean,
      col("nat") === col("nat_d") && col("seg") === col("seg_d") &&
        col("bal_cents") === col("bal_cents_d"))
    val passB = dirty.join(clean,
      col("nat") === col("nat_d") && col("seg") === col("seg_d") &&
        col("name") === col("name_d"))
      .where(col("bal_cents") =!= col("bal_cents_d"))
    score(passA).unionByName(score(passB))
  }

  def recordLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    linkPairs(linkClean(cust), linkDirty(cust))
      .orderBy("cust_id", "dirty_id")
  }

  /** c161 — linkage RESOLUTION, the Fellegi-Sunter DECISION step that
    * completes the c159 family: c159 emits scored candidate PAIRS; a
    * real reconciliation ends in an ASSIGNMENT — each dirty record →
    * its single best clean match, or an explicit `unmatched` decision
    * (the c22-survivors analog for linkage). Per dirty record the
    * winner is one whole-row `max(struct(score, cust_id))` — the a16
    * map-side argmax discipline: partial aggregation combines on the
    * map side and the shuffle carries ONE row per dirty record, never
    * a corpus-scaled window sort. Ties (two clean records at the same
    * score — e.g. two block-sharing strangers whose names are both
    * within 1 edit) break to the HIGHEST cust_id, deterministically
    * in both engines. Every dirty record appears EXACTLY once (the
    * c50 complete-gate convention): the dirty side left-joins the
    * argmax result, and a record with no candidate ≥ threshold gets
    * `(matched_id NULL, score 0, 'unmatched')` — the honest FS
    * non-link decision, visible to the analyst instead of silently
    * dropped. Scale: candidates are linear (c159's blocking), the
    * argmax is one combine-side agg, and the dirty⋈best join keys on
    * dirty_id — nothing here is n² or corpus-windowed.
    */
  /** The resolution kernel shared by batch c161 and its per-micro-
    * batch streaming twin c162 (the c51 batch/stream-sharing
    * discipline): works on ANY (clean, dirty) pair of static frames —
    * c162 calls it inside `foreachBatch` on each micro-batch's dirty
    * slice, where it is exact because each dirty record arrives in
    * exactly one micro-batch and the clean side is static, so the
    * batch-local candidate set (and hence the argmax) IS the global
    * one.
    */
  private[graft] def resolveFrom(clean: DataFrame, dirty: DataFrame): DataFrame = {
    val best = linkPairs(clean, dirty)
      .groupBy(col("dirty_id"))
      .agg(max(struct(col("score"), col("cust_id"))).as("m"))
      .select(col("dirty_id"), col("m.cust_id").as("matched_id"),
        col("m.score").as("best_score"))
    dirty.select(col("dirty_id"))
      .join(best, Seq("dirty_id"), "left")
      .select(col("dirty_id"), col("matched_id"),
        coalesce(col("best_score"), lit(0)).as("score"),
        when(col("matched_id").isNotNull, lit("linked"))
          .otherwise(lit("unmatched")).as("decision"))
  }

  def linkageResolution(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    resolveFrom(linkClean(cust), linkDirty(cust)).orderBy("dirty_id")
  }

  /** c163 — the FULL Fellegi-Sunter TWO-THRESHOLD decision structure
    * (FS 1969 §3: an upper threshold above which pairs auto-link, a
    * lower threshold below which they auto-reject, and the band
    * between routed to CLERICAL REVIEW — the error-bounded triage
    * every production linkage runs; c159/c161 implement the
    * single-threshold cut, this key exposes the review queue). Bands
    * over the UNthresholded candidate set ([[linkCandidates]] — same
    * blocking, same integer scoring): score ≥ 9 (both fields agree)
    * = `link`, ≥ 6 (exactly one strong agreement — the c159
    * threshold) = `review`, below = `nonlink` (block-only or
    * balance-only agreement; kept in the output so the audit sees
    * what blocking proposed and scoring refused). Row-level — the
    * review band IS the clerical work queue — with the score on the
    * row. Candidates are blocking-bounded (linear, measured at 1.5M
    * in SCALE.md round 15), so the full banded output is
    * candidate-sized, never n².
    */
  private[graft] val LinkUpper = 9

  def linkageBands(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    linkCandidates(linkClean(cust), linkDirty(cust))
      .select(col("cust_id"), col("dirty_id"), col("score"),
        when(col("score") >= LinkUpper, lit("link"))
          .when(col("score") >= LinkThreshold, lit("review"))
          .otherwise(lit("nonlink")).as("band"))
      .orderBy("cust_id", "dirty_id")
  }

  /** c169 — Fellegi-Sunter EM parameter estimation: the PRODUCTION
    * refinement c159's scaladoc names and defers — instead of assumed
    * m/u odds, estimate them from the candidate set itself by EM
    * (Fellegi & Sunter 1969 §5 / Winkler's unsupervised formulation —
    * public). The whole algorithm runs on the SUFFICIENT STATISTIC:
    * with 2 binary agreement fields a candidate's E-step weight is a
    * function of its (name_agree, bal_agree) PATTERN only, so the
    * corpus collapses to a 4-cell contingency table in ONE map-side-
    * combined aggregate and two unrolled EM rounds are pure scalar
    * arithmetic on that 1-row table — in-plan, no loop, no driver
    * math, no window (the c35 fixed-round discipline applied to a
    * 4-number state). This is exactly how production FS scales: EM
    * over pattern counts is O(2^k) per round regardless of corpus
    * size; only the pattern count aggregation touches data.
    *
    * Cross-engine determinism: both engines evaluate the SAME
    * machine-generated formula text ([[emLayers]] — one builder emits
    * the Spark selectExpr layers AND the DuckDB CTE chain, the
    * a18/c78 shared-spec discipline) over IEEE doubles derived from
    * integer counts in a fixed operation order, so the unrounded
    * intermediates agree bit-for-bit and the r4-rounded outputs hash.
    * Init (p=0.1, m=0.9, u=0.1) and exactly 2 rounds are part of the
    * spec: EM is monotone in likelihood but init-dependent, so a
    * reproducible estimate pins both.
    *
    * What the estimate SAYS (and the textbook caveat it demonstrates,
    * spec-pinned): the balance weight comes back ≈ 3.1 — EM RECOVERS
    * c159's assumed integer `LinkBalW = 3` from the data — while the
    * name weight comes back ≈ 0, because WITHIN blocked candidates
    * name agreement is nearly universal (pass B conditions on name
    * equality and class-0 corruption stays inside edit-1), so the
    * field carries no in-block discrimination. That is the classic
    * conditioning-on-blocking bias (u must be estimated on random
    * pairs, not blocked candidates, to recover a field's GLOBAL
    * weight) — and exactly why c159 takes its name weight from prior
    * knowledge rather than in-block estimation. The key surfaces the
    * bias honestly instead of hiding it.
    */
  private[graft] def emLayers: Seq[Seq[(String, String)]] = {
    def lit(x: String) = s"CAST($x AS DOUBLE)"
    val init = Seq(
      "p_0" -> lit("0.1"), "m1_0" -> lit("0.9"), "u1_0" -> lit("0.1"),
      "m2_0" -> lit("0.9"), "u2_0" -> lit("0.1"))
    def round(r: Int): Seq[Seq[(String, String)]] = {
      val i = r - 1
      def t(x: String, a: Int) = if (a == 1) x else s"(${lit("1.0")} - $x)"
      def w(a1: Int, a2: Int): String = {
        val pm = s"(p_$i * ${t(s"m1_$i", a1)} * ${t(s"m2_$i", a2)})"
        val pu = s"((${lit("1.0")} - p_$i) * ${t(s"u1_$i", a1)} * ${t(s"u2_$i", a2)})"
        s"($pm / ($pm + $pu))"
      }
      val wLayer = Seq(
        s"w11_$r" -> w(1, 1), s"w10_$r" -> w(1, 0),
        s"w01_$r" -> w(0, 1), s"w00_$r" -> w(0, 0))
      val sLayer = Seq(
        s"s_$r" -> s"(((n11 * w11_$r + n10 * w10_$r) + n01 * w01_$r) + n00 * w00_$r)")
      // Winkler's boundary clamp: a degenerate cell (n00 is ZERO by
      // construction here — every candidate agrees on its blocking
      // field) drives m/u to exactly 0/1 and the next E-step to 0/0;
      // clamping into [1e-4, 1-1e-4] keeps every denominator strictly
      // positive, identically in both engines.
      def clamp(e: String) =
        s"least(greatest($e, ${lit("0.0001")}), ${lit("0.9999")})"
      val eLayer = Seq(
        s"p_$r" -> clamp(s"(s_$r / n)"),
        s"m1_$r" -> clamp(s"((n11 * w11_$r + n10 * w10_$r) / s_$r)"),
        s"m2_$r" -> clamp(s"((n11 * w11_$r + n01 * w01_$r) / s_$r)"),
        s"u1_$r" -> clamp(s"((n11 * (${lit("1.0")} - w11_$r) + n10 * (${lit("1.0")} - w10_$r)) / (n - s_$r))"),
        s"u2_$r" -> clamp(s"((n11 * (${lit("1.0")} - w11_$r) + n01 * (${lit("1.0")} - w01_$r)) / (n - s_$r))"))
      Seq(wLayer, sLayer, eLayer)
    }
    Seq(init) ++ round(1) ++ round(2)
  }

  /** The r4-rounded one-row output of the 2-round EM chain.
    *
    * Cross-engine ulp note (the one ACCEPTED risk in the bit-for-bit
    * claim): everything upstream of the weights is rational IEEE
    * arithmetic in a fixed operation order — exact-rounded per op, so
    * bit-identical in Spark and DuckDB — but `log2` is a
    * transcendental: Spark evaluates `Math.log(x)/Math.log(2)` while
    * DuckDB calls libm `log2`, and the two may differ in the last ulp
    * (~1e-16 relative). An unrounded weight sitting WITHIN an ulp of
    * an r4 rounding boundary (k·1e-4 + 5e-5) could therefore round
    * differently per engine and flip the verification hash. We accept
    * the risk rather than dropping log-weights (they are the FS
    * literature's unit and c171 consumes them), and we CAGE it: the
    * OperatorPropertiesSpec guard "c169/c170: r4 boundary distance"
    * asserts every fixture weight sits ≥ 1e-9 from the nearest
    * boundary — seven orders of magnitude beyond any ulp drift — so a
    * fixture change that lands a weight near a boundary fails CI
    * loudly instead of making the oracle flicker.
    */
  private[graft] def emFinalExprs: Seq[(String, String)] = Seq(
    "n_candidates" -> "CAST(n AS BIGINT)",
    "p_match" -> "ROUND(p_2, 4)",
    "m_name" -> "ROUND(m1_2, 4)", "u_name" -> "ROUND(u1_2, 4)",
    "m_bal" -> "ROUND(m2_2, 4)", "u_bal" -> "ROUND(u2_2, 4)",
    "w_name" -> "ROUND(log2(m1_2 / u1_2), 4)",
    "w_bal" -> "ROUND(log2(m2_2 / u2_2), 4)")

  def fsEmWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    fsEmWeightsOf(linkCandidates(linkClean(cust), linkDirty(cust)))
  }

  /** The full 2-round EM layer chain over any scored candidate frame
    * carrying integer (name_agree, bal_agree): one map-side-combined
    * 4-cell aggregate, then [[emLayers]] applied as selectExpr layers
    * — the 1-row result carries every intermediate including the
    * UNROUNDED m1_2/u1_2/m2_2/u2_2. Shared by c169 (display-rounds
    * it) and c171 (consumes the unrounded m's for estimated weights).
    */
  private[graft] def emChainOf(cands: DataFrame): DataFrame = {
    def pat(a1: Int, a2: Int): Column =
      sum(when(col("name_agree") === a1 && col("bal_agree") === a2, 1L)
        .otherwise(0L))
    var df = cands.agg(
      pat(1, 1).cast("double").as("n11"), pat(1, 0).cast("double").as("n10"),
      pat(0, 1).cast("double").as("n01"), pat(0, 0).cast("double").as("n00"),
      count(org.apache.spark.sql.functions.lit(1)).cast("double").as("n"))
    emLayers.foreach { layer =>
      df = df.selectExpr("*" +: layer.map { case (a, e) => s"$e AS $a" }: _*)
    }
    df
  }

  /** EM chain over any scored candidate frame carrying integer
    * (name_agree, bal_agree) — split out for the spec's independent
    * Scala-EM cross-check.
    */
  private[graft] def fsEmWeightsOf(cands: DataFrame): DataFrame =
    emChainOf(cands).selectExpr(emFinalExprs.map { case (a, e) => s"$e AS $a" }: _*)

  /** c170 — FS GLOBAL u from RANDOM pairs: the other half of the
    * weight story c169 exposes. u_j is "P(field j agrees | NON-match)"
    * — estimated correctly it must come from pairs with no systematic
    * relationship, NOT from blocked candidates (conditioning on the
    * blocking key is exactly the bias c169 measures: in-block
    * u_name ≈ m_name ≈ 1 → weight 0, while the field is highly
    * discriminative globally). The random-pair sample here is the
    * deterministic MODULAR-SHIFT pairing: each dirty record pairs
    * with the clean record at
    * `cust_id = (dirty_id + `[[UShift]]` − 1) mod maxKey + 1` —
    * wrap-around keeps the sample n-SIZED at every corpus size (a
    * plain shift starves small tables: at sf0.001's 150 customers a
    * +137 shift leaves 6 pairs), ids are arbitrary so the pair is as
    * unrelated as a uniform draw, the pairing is linear never n²
    * (the production posture: u needs only a sample), and the shift
    * ≢ 0 (mod maxKey) at every fixture size so no record meets its
    * own clean row or planted partner. maxKey rides a 1-row
    * broadcast (the a24 cutoff discipline). Weights use c159's
    * documented m ≈ 0.95 over the clamped global u:
    * `w_j = log2(0.95 / max(u_j, 1e-4))`.
    *
    * Read together with c169 (spec-pinned): w_name_global ≈ 13
    * (unique names almost never agree by chance — the clamp floor
    * binds) vs c169's in-block w_name ≈ 0; u_bal_global ≪ c169's
    * in-block u_bal 0.12. Same fields, opposite verdicts — which is
    * the Fellegi-Sunter lesson this pair of keys exists to make
    * measurable: a field's weight is a property of the PAIR
    * DISTRIBUTION you score it on.
    *
    * Scale shape: ONE key-equi join (dirty_id + shift = cust_id, both
    * sides shuffle co-partitioned) and one map-side-combined 2-column
    * average — output is one row.
    */
  private[graft] val UShift = 137L
  private[graft] val AssumedM = 0.95

  /** The 1-row UNROUNDED global-u aggregate over the modular-shift
    * random pairing — shared by c170 (display-rounds + assumed-m
    * weights) and c171 (consumes the raw u's under c169's estimated
    * m's). The n-sized invariant rides the plan: the pairing is
    * n-sized ONLY if every computed mate key exists in the clean
    * table; a gap in the cust_id sequence would silently shrink the
    * sample and bias u, so assert_true filters the 1-row result and a
    * non-contiguous key space fails loudly at every corpus size, not
    * just on the fixture the spec happens to pin.
    */
  private[graft] def globalURawOf(clean: DataFrame, dirty: DataFrame): DataFrame = {
    val maxKey = clean.agg(max(col("cust_id")).as("max_key"))
    val pairs = dirty.crossJoin(broadcast(maxKey))
      .withColumn("mate", (col("dirty_id") + UShift - 1) % col("max_key") + 1)
      .join(clean, col("mate") === col("cust_id"))
      .select(
        (graft.functions.EditDistance.edist(col("name"), col("name_d")) <= 1)
          .cast("int").as("na"),
        (col("bal_cents") === col("bal_cents_d")).cast("int").as("ba"))
    val nDirty = dirty.agg(count(lit(1)).as("n_dirty"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        avg(col("na")).as("u_name_raw"),
        avg(col("ba")).as("u_bal_raw"))
      .crossJoin(broadcast(nDirty))
      .where(assert_true(col("n_pairs") === col("n_dirty"),
        lit("c170: u-sample lost pairs — modular-shift mate keys missing " +
          "from clean table (non-contiguous cust_id space?)")).isNull)
      .drop("n_dirty")
  }

  def fsGlobalU(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    val floor = "CAST(0.0001 AS DOUBLE)"
    val m = s"CAST($AssumedM AS DOUBLE)"
    globalURawOf(linkClean(cust), linkDirty(cust))
      .selectExpr(
        "n_pairs",
        "ROUND(u_name_raw, 6) AS u_name",
        "ROUND(u_bal_raw, 6) AS u_bal",
        s"ROUND(log2($m / greatest(u_name_raw, $floor)), 4) AS w_name",
        s"ROUND(log2($m / greatest(u_bal_raw, $floor)), 4) AS w_bal")
  }

  /** c171 — FS ESTIMATED-WEIGHT RESCORE: the decision step that makes
    * c169/c170 consequential. Those two keys ESTIMATE the
    * Fellegi-Sunter parameters — c169's EM gives m_j = P(agree |
    * match) from the blocked candidates (where the matches live, so
    * in-block m is estimable), c170's random pairing gives the GLOBAL
    * u_j = P(agree | non-match) (the one quantity blocking poisons) —
    * but through round 15 nothing consumed them: c159/c161/c163 score
    * with the ASSUMED integer weights. This key closes the loop: the
    * estimated weight `w_j = log2(m_j_EM / max(u_j_global, 1e-4))`
    * re-scores the c163 UNthresholded candidate set on the same
    * log2-odds scale (`score_est = block 2 + w_name·name_agree +
    * w_bal·bal_agree`), the SAME two thresholds re-band it (they are
    * odds thresholds, valid on any weight set sharing the scale), and
    * the output is the BAND-MIGRATION MATRIX — (assumed band ×
    * estimated band, pair count, the weights on the row) — the audit
    * a production linkage runs before switching weight sets.
    *
    * What it shows (spec-pinned): the estimated weights PROMOTE every
    * single-agreement candidate to auto-link — w_name ≈ 13 and
    * w_bal ≈ 12 (vs the assumed 4 and 3) because the globally
    * estimated u says agreement on a near-unique field is
    * overwhelming evidence — so the `review` queue drains to `link`
    * and even the assumed-NONLINK balance-only pairs (score 5 under
    * integer weights) auto-link. No planted pair ever demotes. That
    * is the measured, honest consequence of estimating u on random
    * pairs instead of assuming it — and exactly the decision shift
    * (clerical queue size) the matrix exists to price.
    *
    * Determinism: everything upstream of log2 is rational arithmetic
    * in fixed order over one machine-generated formula text per
    * expression ([[emLayers]], [[estWeightExprs]], [[estScoreExpr]],
    * [[bandCaseSql]] — one builder each, both engines); log2 carries
    * the c169/c170 accepted ulp risk, CI-caged by the same
    * boundary-distance guard extended to the (finitely many: 4)
    * distinct rescored values' distances from the band thresholds and
    * their r4 boundaries.
    *
    * Scale shape: candidates are blocking-bounded (linear); the two
    * parameter estimates are one map-side-combined aggregate each
    * (4-cell EM statistic, 2-column u average); weights are a 1-row
    * broadcast onto the candidate set (the a24 cutoff discipline);
    * the matrix is a groupBy over ≤ 9 band pairs. Nothing windows,
    * nothing is n².
    */
  private[graft] def estWeightExprs: Seq[(String, String)] = Seq(
    "w_name_est" -> "log2(m1_2 / greatest(u_name_raw, CAST(0.0001 AS DOUBLE)))",
    "w_bal_est" -> "log2(m2_2 / greatest(u_bal_raw, CAST(0.0001 AS DOUBLE)))")

  private[graft] def estScoreExpr: String =
    s"(CAST($LinkBlockW AS DOUBLE) + w_name_est * name_agree + w_bal_est * bal_agree)"

  private[graft] def bandCaseSql(score: String): String =
    s"CASE WHEN $score >= $LinkUpper THEN 'link' " +
      s"WHEN $score >= $LinkThreshold THEN 'review' ELSE 'nonlink' END"

  /** Row-level rescored candidates — split out so the spec can pin
    * planted-pair non-demotion and the per-pattern score values.
    */
  private[graft] def estRescoredOf(clean: DataFrame, dirty: DataFrame): DataFrame = {
    val cands = linkCandidates(clean, dirty)
    val weights = emChainOf(cands)
      .crossJoin(broadcast(globalURawOf(clean, dirty)))
      .selectExpr(estWeightExprs.map { case (a, e) => s"$e AS $a" }: _*)
    cands.crossJoin(broadcast(weights))
      .selectExpr("cust_id", "dirty_id", "name_agree", "bal_agree", "score",
        s"${bandCaseSql("score")} AS band",
        s"$estScoreExpr AS score_est", "w_name_est", "w_bal_est")
      .withColumn("band_est", expr(bandCaseSql("score_est")))
  }

  def fsEstimatedRescore(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.t(spark, sfDir, "customer")
    estRescoredOf(linkClean(cust), linkDirty(cust))
      .groupBy(col("band"), col("band_est"))
      // The weights are plan-constant (1-row broadcast), so min() IS
      // the value — it just rides the same aggregate.
      .agg(count(lit(1)).as("n_pairs"),
        min(col("w_name_est")).as("wn"), min(col("w_bal_est")).as("wb"))
      .selectExpr("band AS band_assumed", "band_est", "n_pairs",
        "ROUND(wn, 4) AS w_name_est", "ROUND(wb, 4) AS w_bal_est")
      .orderBy("band_assumed", "band_est")
  }

  /** c43 — token-set CONTAINMENT over the LSH candidate pairs:
    * containment(A→B) = |A∩B| / |A| is the ASYMMETRIC near-dup
    * measure — a short doc quoted whole inside a long one scores
    * containment ≈ 1 while its Jaccard (c3) stays low, so dedup
    * pipelines use both (MinHash recall → Jaccard for symmetric dups,
    * containment for subset/quote dups). Same candidates-only shape
    * as c3: scores are computed only for pairs an LSH band proposed.
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir)
    val toks = tokenSets(spark, sfDir)
    pairs
      .join(toks.select(col("doc_id").as("doc_a"), col("tset").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tset").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("ta")), 4).as("contain_a_in_b"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("tb")), 4).as("contain_b_in_a"))
      .orderBy("doc_a", "doc_b")
  }

  /** c64 — MinHash CALIBRATION audit: for every LSH candidate pair,
    * the sketch's Jaccard estimate (matching signature positions / k)
    * next to the exact 3-shingle-set Jaccard — the estimator's own
    * target set (NOT c3's token-set score: the shingle-vs-token
    * modeling gap is a separate, deliberate choice the sketch never
    * promised to close) — with the absolute error,
    * the measurement that tells an operator of the dedup pipeline
    * whether k = [[MinhashSeeds]] is sized right for their corpus
    * (E[est] = J; σ = √(J(1−J)/k), so k=8 carries ~±0.17 — visibly
    * coarse, which is exactly what this audit surfaces) and whether
    * the banding threshold matches the τ their gate uses. The same
    * audit-as-a-query discipline as a12/a7: trust in the pipeline is
    * itself a query over the pipeline's own tables.
    *
    * Determinism: the estimate is an integer count / k and the exact
    * Jaccard an integer ratio — no FP accumulates anywhere before the
    * final ROUND(4).
    *
    * Scale shape — the AUDIT-BUDGET discipline (added after the 100×
    * rehearsal measured exact-verify-on-24.7M-candidates at 481 s /
    * 139 GiB spill, SCALE.md round 10): an error audit needs a
    * statistical sample, not every pair, so the candidate spine is
    * cut to ≈[[CalBudget]] pairs by a deterministic md5-uniform on
    * the PAIR key compared against the measured pair count (which
    * rides the plan as a broadcast 1-row aggregate —
    * post-materialization knowledge, per the no-input-side-estimates
    * doctrine). Below the budget the cut keeps EVERYTHING
    * (budget/n ≥ 1), so fixture-scale runs audit every candidate and
    * the oracle replays the same arithmetic; above it the audit stays
    * budget-bounded at any corpus size. The signature and shingle-set
    * passes then hash only the ≤2·budget SAMPLED docs (broadcast
    * semi-prune, the c11 discipline) instead of the corpus — in
    * production the signature side reads the persisted store next to
    * [[bandStore]].
    */
  private[graft] val CalBudget = 4096L

  def minhashCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir)
    val tot = pairs.agg(count(lit(1)).as("npairs"))
    val u = md5Prefix(concat(lit("cal:"), col("doc_a").cast("string"),
      lit(":"), col("doc_b").cast("string")), 1, 15)
      .cast("double") / lit(math.pow(2, 60))
    val samp = pairs.crossJoin(broadcast(tot))
      .where(u < lit(CalBudget.toDouble) / col("npairs"))
      .select(col("doc_a"), col("doc_b"))
    val ids = samp.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sampledToks = tokenized(spark, sfDir)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
    val sigArr = minhashSigsOf(sampledToks)
      .select(col("doc_id"),
        array((0 until MinhashSeeds).map(i => col(s"mh$i")): _*).as("sig"))
    // The estimator's TARGET is the 3-SHINGLE-set Jaccard (that is
    // the set the signatures minimize over) — comparing against c3's
    // token-set score would charge the sketch with the
    // shingle-vs-token modeling gap it never promised to close.
    val shingleSets = sampledToks
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))")
        .as("sset"))
    val matches = size(expr("filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)"))
    val est = matches.cast("double") / lit(MinhashSeeds.toDouble)
    val exact = size(array_intersect(col("ta"), col("tb"))).cast("double") /
      size(array_union(col("ta"), col("tb")))
    samp
      .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .join(shingleSets.select(col("doc_id").as("doc_a"), col("sset").as("ta")), "doc_a")
      .join(shingleSets.select(col("doc_id").as("doc_b"), col("sset").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(est, 4).as("est_jaccard"),
        round(exact, 4).as("shingle_jaccard"),
        round(abs(est - exact), 4).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Incoming-batch membership: a deterministic 1-in-[[IncMod]] split
    * of doc_ids via the same 60-bit md5-prefix hash the sampler (c20)
    * uses — stands in for "the documents that arrived since the last
    * dedup run". Content-independent (keyed on doc_id), so the split
    * is stable under text edits, like a real ingest timestamp.
    */
  private[graft] val IncMod = 5L
  private[graft] val IncTau = 0.5
  private[graft] def isIncoming(id: Column): Column =
    md5Prefix(concat(lit("inc:"), id.cast("string")), 1, 15)
      .cast("long") % IncMod === 0L

  /** c50 — incremental dedup: gate an incoming batch against the
    * EXISTING corpus without re-deduping the corpus side — the
    * production shape at 100 TB, where signatures are computed once,
    * persisted, and each ingest increment probes them (the
    * [[minhashPairs]] memo plays that signature store role here, and
    * its band table now has the real durable form — [[bandStore]],
    * the on-disk parquet store c51's streaming gate probes across
    * processes). Candidates are
    * the memoized LSH pairs restricted to MIXED (incoming, base)
    * pairs — never incoming×incoming (intra-batch dups are c1/c2's
    * job) and never base×base (the corpus was already deduped).
    * Exact-Jaccard verify on the candidate set only (c3 discipline),
    * best match per incoming doc via a rank window that prunes
    * map-side (WindowGroupLimit), verdict = drop iff the best
    * verified match reaches τ = [[IncTau]]. Every incoming doc gets a
    * row (no-candidate docs keep) so the output is the complete gate
    * decision for the batch.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalGateOf(minhashPairs(spark, sfDir),
      Tables.t(spark, sfDir, "documents"),
      Some(tokenSets(spark, sfDir)))

  /** The gate body, over an explicit candidate-pair table and corpus
    * (unit-testable on constructed fixtures; [[incrementalDedup]]
    * feeds it the memoized LSH pairs and the memoized token-set
    * table — constructed fixtures omit `tokSets` and tokenize inline).
    */
  private[graft] def incrementalGateOf(pairs: DataFrame, docs: DataFrame,
      tokSets: Option[DataFrame] = None): DataFrame = {
    val cands = pairs
      .where(isIncoming(col("doc_a")) =!= isIncoming(col("doc_b")))
      .select(
        when(isIncoming(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_new"),
        when(isIncoming(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_base"))
    val toks = tokSets.getOrElse(docs
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tset")))
    val scored = cands
      .join(toks.select(col("doc_id").as("doc_new"), col("tset").as("ta")), "doc_new")
      .join(toks.select(col("doc_id").as("doc_base"), col("tset").as("tb")), "doc_base")
      .select(col("doc_new"), col("doc_base"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))), 4).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_new"))
      .orderBy(col("jaccard").desc, col("doc_base").asc)
    val best = scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_new").as("doc_id"), col("doc_base").as("best_base"),
        col("jaccard").as("best_jaccard"))
    val nCands = scored.groupBy(col("doc_new").as("doc_id"))
      .agg(count(lit(1)).as("n_cands"))
    docs
      .where(isIncoming(col("doc_id")))
      .select(col("doc_id"))
      .join(nCands, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        col("best_base"), col("best_jaccard"),
        when(col("best_jaccard") >= IncTau, lit("drop")).otherwise(lit("keep"))
          .as("verdict"))
      .orderBy("doc_id")
  }

  /** c4 — similarity search: brute-force cosine top-10 against a probe
    * vector (vec_id 0), the exact baseline ANN variants are measured
    * against. Probe is a broadcast single row; top-k fuses to
    * TakeOrderedAndProject. At 100 TB the same plan holds: one scan,
    * no shuffle, k rows to the driver.
    */
  def cosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("probe"))
    emb.crossJoin(broadcast(probe))
      .select(col("vec_id"), round(cosine(col("embedding"), col("probe")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Per-(label, dim) centroid components via posexplode + exact
    * decimal mean (row algebra keeps the aggregation associative and
    * cross-engine exact; §5.3 rule 2).
    */
  private def centroidComponents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .groupBy(col("label"), col("idx"))
      .agg((sum(col("x").cast("double").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))

  /** c6 — label centroids, one row per (label, dimension). */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroidComponents(spark, sfDir)
      .select(col("label"), col("idx").cast("long").as("idx"),
        round(col("c"), 4).as("centroid"))
      .orderBy("label", "idx")

  /** c5 — KNN per label: the 3 vectors closest (cosine) to their own
    * label's centroid.
    *
    * Plan: centroids regrouped to one array row per label (n_labels
    * rows — metadata-sized at any scale), broadcast-joined onto the
    * corpus, cosine computed per row with the c4 `zip_with`/`aggregate`
    * kernel. The previous shape (64× posexplode + shuffle-join on
    * (label, idx) + re-aggregate) moved 64× the corpus through an
    * Exchange; this one moves zero corpus rows — the only shuffle left
    * is the per-label top-3 window on (label). Cross-engine exact:
    * both engines fold the 64 double products in array-index order
    * (the proven c4 kernel), so the values are bit-identical before
    * the canon round.
    */
  def knnPerLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = centroidComponents(spark, sfDir)
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(idx, c))), s -> s.c)").as("carr"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos").desc, col("vec_id"))
    Tables.t(spark, sfDir, "embeddings")
      .join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        round(cosine(col("embedding"), col("carr")), 4).as("cos"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .orderBy("label", "rn")
  }

  /** c111 neighborhood size and probe-panel budget. */
  private[graft] val KnnEvalK = 5
  private[graft] val KnnEvalPanel = 128

  /** c111 — kNN LABEL-PREDICTION EVALUATION: leave-one-out accuracy
    * of "predict a vector's label from its [[KnnEvalK]] nearest
    * neighbors' majority vote" on a deterministic md5 1-in-16 probe
    * sample — the standard embedding-quality probe (if labels aren't
    * kNN-predictable, the embedding carries no label signal and every
    * downstream label-conditioned step — c5, c6, c47's cells — is
    * built on noise). Completes the eval family: c103 scores a
    * RANKING, this scores the SPACE.
    *
    * Shape: the probe sample broadcasts (rows × 64 floats — KB at
    * any corpus size at this rate); candidates score with the
    * codegen'd [[graft.functions.ArrayDot]] kernel; the top-k window
    * partitions by probe with a (cos, vec_id) total order →
    * WindowGroupLimit pre-prunes map-side; votes and the majority
    * arg-max (count DESC, label ASC — deterministic) are probe-sized.
    * Brute-force scoring is the eval's POINT (ground-truth
    * neighbors); a production run at 100 TB swaps the candidate
    * stage for the c38 IVF shortlist and measures recall loss
    * separately (ACCURACY.json's ladder).
    */
  def knnLabelEval(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.t(spark, sfDir, "embeddings")
    // FIXED-SIZE probe panel, not a fixed fraction: eval precision
    // depends on the panel's absolute size, so a 1-in-16 sample that
    // was 125 probes at sf0.1 becomes 12.5k at 100× and the
    // brute-force eval grows quadratically — the 100× rehearsal
    // measured exactly that failure. The md5 threshold derives from
    // the corpus COUNT (the kmSeedStride discipline, mirrored as a
    // scalar subquery in the oracle): ~[[KnnEvalPanel]] probes at any
    // corpus size, so eval cost stays linear in n.
    val t = (KnnEvalPanel.toLong << 32) / NearDup.embCount(spark, sfDir)
    val probes = emb
      .where(expr("CAST(graft_md5_prefix(concat('knn:', CAST(vec_id AS STRING)), 1, 8) AS BIGINT)") < t)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plabel"))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("pid"))
      .select(col("pid"), col("plabel"), col("label"), col("vec_id"),
        round(cosine(col("embedding"), col("pe")), 4).as("cos"))
    val topk = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pid"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .where(col("rn") <= KnnEvalK)
    val votes = topk.groupBy(col("pid"), col("plabel"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val predicted = votes
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("pid"))
          .orderBy(col("cnt").desc, col("label").asc)))
      .where(col("vr") === 1)
      .select(col("pid"), col("plabel"),
        (col("label") === col("plabel")).as("correct"))
    predicted.groupBy(col("plabel").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_probes"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_probes"), 4).as("accuracy"))
      .orderBy("label")
  }

  /** c7 — text stats per language: doc counts, exact-mean lengths,
    * vocabulary size.
    */
  def textStatsByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.t(spark, sfDir, "documents")
      .withColumn("ws", split(col("text"), " "))
    val base = d.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      davg(col("n_chars")).as("avg_chars"),
      davg(size(col("ws"))).as("avg_tokens"))
    val vocab = d.select(col("lang"), explode(col("ws")).as("w"))
      .groupBy(col("lang")).agg(countDistinct(col("w")).as("vocab"))
    base.join(vocab, "lang").orderBy("lang")
  }

  /** c8 — TF-IDF top terms per language: corpus doc-frequency → idf,
    * per-lang term frequency → score, window top-5. The doc-frequency
    * side is a distinct+groupBy (shuffle on word — fine: vocabulary,
    * not corpus, cardinality); N is a broadcast 1-row aggregate, not a
    * collect.
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val words = tokenized(spark, sfDir)
      .join(Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), explode(col("ws")).as("word"))
    val docFreq = words.select(col("doc_id"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.t(spark, sfDir, "documents").agg(count(lit(1)).as("n_total"))
    val tf = words.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(docFreq, "word")
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("word"),
        round(col("tf") * log(col("n_total").cast("double") / col("df")), 4).as("score"))
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("word"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  /** c9 — multimodal search: text table ⋈ vector table on the shared
    * id space, language filter on the text side, cosine ranking on the
    * vector side — the "one frame, both modalities" join.
    */
  def multimodalSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents").where(col("lang") === "en")
    val emb = Tables.t(spark, sfDir, "embeddings")
    val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("probe"))
    docs.join(emb, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(probe))
      .select(col("doc_id"), col("source"),
        round(cosine(col("embedding"), col("probe")), 4).as("cos"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(10)
  }

  // c96 knobs — τ = PfxTauNum/PfxTauDen, kept RATIONAL end-to-end.
  private[graft] val PfxTauNum = 4
  private[graft] val PfxTauDen = 5

  /** c96 — EXACT set-similarity self-join by PREFIX FILTERING
    * (Chaudhuri, Ganti & Kaushik, ICDE 2006; Bayardo et al., WWW 2007
    * — public): every pair of documents whose 3-shingle-set Jaccard
    * is ≥ τ = 4/5, with ZERO recall loss — the deterministic
    * complement of the MinHash/LSH family (c2 trades recall for
    * cost; this key trades cost for certainty, the pairing a
    * compliance-grade dedup run needs).
    *
    * The lemma: order every shingle by one GLOBAL (frequency asc,
    * shingle asc) rank; if J(A,B) ≥ τ then A and B must share an
    * element inside each one's first |·| − ⌈τ·|·|⌉ + 1 rare-first
    * shingles — so an equi-join on PREFIX shingles proposes every
    * qualifying pair, and rare-first ordering keeps the proposal list
    * small exactly when the corpus is discriminative. The threshold
    * stays RATIONAL throughout: prefix length uses the integer
    * ⌈4·sz/5⌉ = (4·sz + 4) div 5 (a double 0.8·sz would round the
    * prefix SHORT on exact multiples — a silent recall hole), and the
    * verify is the cross-multiplied 5·|∩| ≥ 4·|∪| — no FP compare
    * anywhere.
    *
    * Scale shape: the frequency table is shingle-vocabulary-sized
    * (shuffle-joined, NOT assumed broadcastable — the c54 rule); the
    * per-doc rank window sorts each doc's own shingles; candidates
    * meet on the prefix-shingle equi-key and dedup once; exact
    * verification touches candidates only. The oracle is the full
    * brute-force quadratic join in DuckDB, so any missed pair fails
    * the hash — the zero-loss claim is verified, not asserted.
    */
  def prefixFilterJoin(spark: SparkSession, sfDir: String): DataFrame =
    prefixFilterJoinOf(tokenized(spark, sfDir))

  /** Kernel of [[prefixFilterJoin]] over any (doc_id, ws) frame.
    *
    * Rewritten in the r18 optimization round — the output (every pair
    * with Jaccard ≥ τ, zero loss) is unchanged and still verified
    * against the full-quadratic DuckDB oracle; what changed is the
    * physical shape. The old form built the per-doc distinct shingle
    * ARRAY and referenced it under six plan branches (both pfx
    * self-join sides replayed the whole freq→join→window chain, the
    * verify attached full arrays twice, and Generate's pushed-down
    * non-null guards re-evaluated the shingle transform ~3× per row
    * inside each scan's Filter) — measured 9.8 s wall / 27.3 s cpu at
    * sf0.1 with SIX documents scans in the plan. This form (guide
    * §2.4 remove shuffles, §2.3 shuffle fewer bytes):
    *
    *  - ONE shingle stream `ex` = explode THEN hash-agg distinct, so
    *    the concat_ws runs once per position and the distinct is a
    *    map-side-combinable aggregate instead of a per-row
    *    array_distinct re-run in every Generate guard; `ex`'s distinct
    *    Exchange is plan-identical under its three consumers, so
    *    exchange reuse materializes it once;
    *  - df (global shingle frequency), sz (per-doc distinct count)
    *    and the rare-first rank come from WINDOWS over that one
    *    stream (the doc_id exchange serves both sz and rank) — the
    *    vocabulary-sized freq table no longer broadcasts or joins;
    *  - candidates come from a ROW-LOCAL pair fan per prefix shingle
    *    (the c196 discipline: sort the ≤bucket-sized doc list once,
    *    fan i<j pairs in a projection) instead of a pfx×pfx self-join
    *    that duplicated the entire upstream chain;
    *  - the verify counts |A∩B| by joining the candidate pairs back
    *    to the exploded stream (ids + one shingle string per row
    *    cross the exchanges — never a full shingle ARRAY), and
    *    |A∪B| = sz_a + sz_b − inter arithmetically. A shared prefix
    *    shingle guarantees inter ≥ 1, so the inner join drops no
    *    candidate.
    */
  private[graft] def prefixFilterJoinOf(toks: DataFrame): DataFrame = {
    val ex = toks
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("s"))
      .distinct()
    val ranked = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s").asc)))
    val pfx = ranked
      .where(col("rn") <=
        col("sz") - expr(s"($PfxTauNum * sz + ${PfxTauDen - 1}) div $PfxTauDen") + 1)
      .select(col("doc_id"), col("sz"), col("s"))
    val cands = pfx.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(sequence(i + 1, size(ds) - 1),
          |    j -> struct(ds[i].doc_id AS doc_a, ds[i].sz AS sz_a,
          |                ds[j].doc_id AS doc_b, ds[j].sz AS sz_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.sz_a").as("sz_a"),
        col("p.doc_b").as("doc_b"), col("p.sz_b").as("sz_b"))
      .distinct()
    cands
      .join(ex.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(ex.select(col("doc_id").as("db"), col("s").as("sb")),
        col("doc_b") === col("db") && col("s") === col("sb"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sz_a") + col("sz_b") - col("inter")).as("uni"))
      .where(col("inter") * PfxTauDen >= col("uni") * PfxTauNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, Q] = Map(
    "c96_prefix_filter_join" -> (prefixFilterJoin(_, _)),
    "c1_dedup_exact" -> (dedupExact(_, _)),
    "c2_dedup_minhash_pairs" -> (dedupMinhashPairs(_, _)),
    "c3_jaccard_pairs" -> (jaccardPairs(_, _)),
    "c192_bleu_pairs" -> (bleuPairs(_, _)),
    "c117_edit_distance_pairs" -> (editDistancePairs(_, _)),
    "c158_edit_join_exact" -> (editJoinExact(_, _)),
    "c159_record_linkage" -> (recordLinkage(_, _)),
    "c161_linkage_resolution" -> (linkageResolution(_, _)),
    "c163_linkage_bands" -> (linkageBands(_, _)),
    "c169_fs_em_weights" -> (fsEmWeights(_, _)),
    "c170_fs_global_u" -> (fsGlobalU(_, _)),
    "c171_fs_estimated_rescore" -> (fsEstimatedRescore(_, _)),
    "c43_containment_pairs" -> (containmentPairs(_, _)),
    "c64_minhash_calibration" -> (minhashCalibration(_, _)),
    "c50_incremental_dedup" -> (incrementalDedup(_, _)),
    "c4_cosine_topk" -> (cosineTopk(_, _)),
    "c111_knn_label_eval" -> (knnLabelEval(_, _)),
    "c5_knn_per_label" -> (knnPerLabel(_, _)),
    "c6_label_centroids" -> (labelCentroids(_, _)),
    "c7_text_stats_by_lang" -> (textStatsByLang(_, _)),
    "c8_tfidf_top_terms" -> (tfidfTopTerms(_, _)),
    "c9_multimodal_search" -> (multimodalSearch(_, _))
  )

  /** Shared oracle CTE: the LSH candidate pairs in DuckDB's dialect
    * (1-based list indexing; same md5 formulas).
    */
  private[graft] val oraclePairsCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM toks WHERE len(ws) >= 3
       |), mh AS (
       |  SELECT doc_id, seed,
       |    min(CAST(('0x' || substr(md5(seed::VARCHAR || ':' || shingle), 1, 15)) AS BIGINT)) AS mh
       |  FROM sh, range($MinhashSeeds) s(seed)
       |  GROUP BY doc_id, seed
       |), sig AS (
       |  SELECT doc_id, list(mh ORDER BY seed ASC) AS sigs FROM mh GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, j AS band_idx,
       |    md5(sigs[2*j+1]::VARCHAR || ':' || sigs[2*j+2]::VARCHAR) AS band_val
       |  FROM sig, range($Bands) t(j)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // The FULL brute-force quadratic join — deliberately ignorant of
    // the prefix filter, so a single pair the filter loses (or
    // invents) fails the hash. Integer cross-multiplied threshold,
    // mirroring the Spark side's rational τ.
    "c96_prefix_filter_join" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sset
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE len(w) >= 3
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ROUND(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sset, b.sset))), 4) AS jaccard
         |FROM t a JOIN t b ON a.doc_id < b.doc_id
         |WHERE $PfxTauDen * len(list_intersect(a.sset, b.sset))
         |  >= $PfxTauNum * len(list_distinct(list_concat(a.sset, b.sset)))
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    "c1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id ASC NULLS FIRST""".stripMargin,

    "c2_dedup_minhash_pairs" ->
      s"""$oraclePairsCte
         |SELECT doc_a, doc_b FROM pairs
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    "c117_edit_distance_pairs" ->
      s"""$oraclePairsCte
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |  CASE WHEN greatest(length(da.text), length(db.text)) > 0
         |    THEN ROUND(1.0 - levenshtein(da.text, db.text)
         |      / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE), 4)
         |    ELSE 1.0 END AS edit_sim
         |FROM pairs
         |JOIN documents da ON da.doc_id = doc_a
         |JOIN documents db ON db.doc_id = doc_b
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    // The c158 oracle is the FULL QUADRATIC brute force (the c96
    // standard): every (clean, dirty) pair scored — a candidate the
    // PassJoin blocking loses, or one it invents, fails the hash.
    "c158_edit_join_exact" ->
      s"""WITH dirty AS (
         |  SELECT doc_id AS dirty_id,
         |    substr(text, 1, pos) || substr(text, pos + 2) AS t
         |  FROM (
         |    SELECT doc_id, text,
         |      CAST(('0x' || substr(md5('pos:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
         |        % length(text) AS pos
         |    FROM documents
         |    WHERE substr(md5('typo:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
         |      AND length(text) >= ${EditJoinK})
         |)
         |SELECT c.doc_id, d.dirty_id,
         |  CAST(levenshtein(c.text, d.t) AS BIGINT) AS edit_dist
         |FROM documents c, dirty d
         |WHERE length(c.text) >= ${EditJoinK}
         |  AND levenshtein(c.text, d.t) <= ${EditJoinD}
         |ORDER BY doc_id ASC NULLS FIRST, dirty_id ASC NULLS FIRST""".stripMargin,

    // The c159 oracle replays both blocking passes, the distinct
    // union, and the integer FS score — every branch is exact
    // integer/string arithmetic, so a lost candidate, an invented
    // one, or a mis-scored field fails the hash.
    "c159_record_linkage" ->
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    c_nationkey AS nat, c_mktsegment AS seg,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name, c_nationkey AS nat,
         |    c_mktsegment AS seg, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), cands AS (
         |  SELECT DISTINCT cust_id, dirty_id FROM (
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.bal_cents = d.bal_cents_d
         |    UNION ALL
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.name = d.name_d)
         |)
         |SELECT cust_id, dirty_id,
         |  CAST(levenshtein(c.name, d.name_d) <= 1 AS INT) AS name_agree,
         |  CAST(c.bal_cents = d.bal_cents_d AS INT) AS bal_agree,
         |  ${LinkBlockW} + ${LinkNameW} * CAST(levenshtein(c.name, d.name_d) <= 1 AS INT)
         |    + ${LinkBalW} * CAST(c.bal_cents = d.bal_cents_d AS INT) AS score
         |FROM cands
         |JOIN clean c USING (cust_id)
         |JOIN dirty d USING (dirty_id)
         |WHERE ${LinkBlockW} + ${LinkNameW} * CAST(levenshtein(c.name, d.name_d) <= 1 AS INT)
         |    + ${LinkBalW} * CAST(c.bal_cents = d.bal_cents_d AS INT) >= ${LinkThreshold}
         |ORDER BY cust_id ASC NULLS FIRST, dirty_id ASC NULLS FIRST""".stripMargin,

    // The c163 oracle replays the same candidates + integer score with
    // NO threshold, then the two-threshold band CASE — a pair banded
    // differently, a lost sub-threshold candidate, or an invented one
    // fails the hash.
    // c170 replays the shift pairing and the same clamped weight math.
    "c170_fs_global_u" ->
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name,
         |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), mk AS (SELECT max(cust_id) AS max_key FROM clean),
         |pairs AS (
         |  SELECT CAST(levenshtein(c.name, d.name_d) <= 1 AS INT) AS na,
         |    CAST(c.bal_cents = d.bal_cents_d AS INT) AS ba
         |  FROM dirty d CROSS JOIN mk
         |  JOIN clean c ON (d.dirty_id + $UShift - 1) % mk.max_key + 1 = c.cust_id
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(AVG(na), 6) AS u_name,
         |  ROUND(AVG(ba), 6) AS u_bal,
         |  ROUND(log2(CAST($AssumedM AS DOUBLE)
         |    / greatest(AVG(na), CAST(0.0001 AS DOUBLE))), 4) AS w_name,
         |  ROUND(log2(CAST($AssumedM AS DOUBLE)
         |    / greatest(AVG(ba), CAST(0.0001 AS DOUBLE))), 4) AS w_bal
         |FROM pairs""".stripMargin,

    // c169 replays the candidate agreements, collapses them to the
    // 4-cell pattern table, and runs the SAME machine-generated EM
    // layer chain (emLayers/emFinalExprs — one builder, two engines).
    "c169_fs_em_weights" -> {
      val layerCtes = emLayers.zipWithIndex.map { case (layer, i) =>
        val cols = layer.map { case (a, e) => s"$e AS $a" }.mkString(",\n    ")
        s"l$i AS (SELECT *,\n    $cols\n  FROM ${if (i == 0) "c0" else s"l${i - 1}"})"
      }.mkString(",\n")
      val finals = emFinalExprs.map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    c_nationkey AS nat, c_mktsegment AS seg,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name, c_nationkey AS nat,
         |    c_mktsegment AS seg, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), cands AS (
         |  SELECT DISTINCT cust_id, dirty_id FROM (
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.bal_cents = d.bal_cents_d
         |    UNION ALL
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.name = d.name_d)
         |), agr AS (
         |  SELECT CAST(levenshtein(c.name, d.name_d) <= 1 AS INT) AS na,
         |    CAST(c.bal_cents = d.bal_cents_d AS INT) AS ba
         |  FROM cands
         |  JOIN clean c USING (cust_id)
         |  JOIN dirty d USING (dirty_id)
         |), c0 AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN na = 1 AND ba = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n11,
         |    CAST(SUM(CASE WHEN na = 1 AND ba = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n10,
         |    CAST(SUM(CASE WHEN na = 0 AND ba = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n01,
         |    CAST(SUM(CASE WHEN na = 0 AND ba = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n00,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM agr
         |),
         |$layerCtes
         |SELECT $finals
         |FROM l${emLayers.size - 1}""".stripMargin
    },

    // The c171 oracle replays the candidate generation, BOTH parameter
    // estimates (the c169 EM layer chain and the c170 modular-shift
    // u-sample — same machine-generated formula text, one builder per
    // expression), the estimated-weight rescore, and the band-migration
    // matrix. A mis-estimated parameter, a mis-scored pattern, or a
    // pair landing in the wrong band cell fails the hash.
    "c171_fs_estimated_rescore" -> {
      val layerCtes = emLayers.zipWithIndex.map { case (layer, i) =>
        val cols = layer.map { case (a, e) => s"$e AS $a" }.mkString(",\n    ")
        s"l$i AS (SELECT *,\n    $cols\n  FROM ${if (i == 0) "c0" else s"l${i - 1}"})"
      }.mkString(",\n")
      val wcols = estWeightExprs.map { case (a, e) => s"$e AS $a" }.mkString(",\n    ")
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    c_nationkey AS nat, c_mktsegment AS seg,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name, c_nationkey AS nat,
         |    c_mktsegment AS seg, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), cands AS (
         |  SELECT DISTINCT cust_id, dirty_id FROM (
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.bal_cents = d.bal_cents_d
         |    UNION ALL
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.name = d.name_d)
         |), agr AS (
         |  SELECT cust_id, dirty_id,
         |    CAST(levenshtein(c.name, d.name_d) <= 1 AS INT) AS name_agree,
         |    CAST(c.bal_cents = d.bal_cents_d AS INT) AS bal_agree
         |  FROM cands
         |  JOIN clean c USING (cust_id)
         |  JOIN dirty d USING (dirty_id)
         |), c0 AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN name_agree = 1 AND bal_agree = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n11,
         |    CAST(SUM(CASE WHEN name_agree = 1 AND bal_agree = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n10,
         |    CAST(SUM(CASE WHEN name_agree = 0 AND bal_agree = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n01,
         |    CAST(SUM(CASE WHEN name_agree = 0 AND bal_agree = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n00,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM agr
         |),
         |$layerCtes,
         |mk AS (SELECT max(cust_id) AS max_key FROM clean),
         |upairs AS (
         |  SELECT CAST(levenshtein(c.name, d.name_d) <= 1 AS INT) AS na,
         |    CAST(c.bal_cents = d.bal_cents_d AS INT) AS ba
         |  FROM dirty d CROSS JOIN mk
         |  JOIN clean c ON (d.dirty_id + $UShift - 1) % mk.max_key + 1 = c.cust_id
         |), uagg AS (
         |  SELECT AVG(na) AS u_name_raw, AVG(ba) AS u_bal_raw FROM upairs
         |), weights AS (
         |  SELECT
         |    $wcols
         |  FROM l${emLayers.size - 1} CROSS JOIN uagg
         |), scored AS (
         |  SELECT a.*, ${LinkBlockW} + ${LinkNameW} * name_agree
         |      + ${LinkBalW} * bal_agree AS score,
         |    $estScoreExpr AS score_est, w_name_est, w_bal_est
         |  FROM agr a CROSS JOIN weights
         |), banded AS (
         |  SELECT ${bandCaseSql("score")} AS band_assumed,
         |    ${bandCaseSql("score_est")} AS band_est,
         |    w_name_est, w_bal_est
         |  FROM scored
         |)
         |SELECT band_assumed, band_est, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(min(w_name_est), 4) AS w_name_est,
         |  ROUND(min(w_bal_est), 4) AS w_bal_est
         |FROM banded
         |GROUP BY band_assumed, band_est
         |ORDER BY band_assumed ASC NULLS FIRST, band_est ASC NULLS FIRST""".stripMargin
    },

    "c163_linkage_bands" ->
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    c_nationkey AS nat, c_mktsegment AS seg,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name, c_nationkey AS nat,
         |    c_mktsegment AS seg, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), cands AS (
         |  SELECT DISTINCT cust_id, dirty_id FROM (
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.bal_cents = d.bal_cents_d
         |    UNION ALL
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.name = d.name_d)
         |), scored AS (
         |  SELECT cust_id, dirty_id,
         |    ${LinkBlockW} + ${LinkNameW} * CAST(levenshtein(c.name, d.name_d) <= 1 AS INT)
         |      + ${LinkBalW} * CAST(c.bal_cents = d.bal_cents_d AS INT) AS score
         |  FROM cands
         |  JOIN clean c USING (cust_id)
         |  JOIN dirty d USING (dirty_id)
         |)
         |SELECT cust_id, dirty_id, score,
         |  CASE WHEN score >= ${LinkUpper} THEN 'link'
         |    WHEN score >= ${LinkThreshold} THEN 'review'
         |    ELSE 'nonlink' END AS band
         |FROM scored
         |ORDER BY cust_id ASC NULLS FIRST, dirty_id ASC NULLS FIRST""".stripMargin,

    // The c161 oracle replays c159's candidate generation and scoring,
    // then the SAME decision rule — best score, ties to highest
    // cust_id — via a window (the oracle may window; the Spark side
    // must not), and left-joins the full dirty side so unmatched
    // records surface explicitly. A dirty record resolved to a
    // different winner, a lost unmatched row, or a duplicated decision
    // fails the hash.
    "c161_linkage_resolution" ->
      s"""WITH dirty AS (
         |  SELECT c_custkey AS dirty_id,
         |    CASE WHEN cls = 0
         |      THEN substr(c_name, 1, npos) || substr(c_name, npos + 2)
         |      ELSE c_name END AS name_d,
         |    c_nationkey AS nat, c_mktsegment AS seg,
         |    CASE WHEN cls = 0 THEN bal_cents ELSE bal_cents + 1 END AS bal_cents_d
         |  FROM (
         |    SELECT *,
         |      CAST(('0x' || substr(md5('lpos:' || CAST(c_custkey AS VARCHAR)), 1, 4)) AS INT)
         |        % length(c_name) AS npos,
         |      CASE WHEN substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 2, 1) < '8'
         |        THEN 0 ELSE 1 END AS cls,
         |      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM customer
         |    WHERE substr(md5('link:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8')
         |), clean AS (
         |  SELECT c_custkey AS cust_id, c_name AS name, c_nationkey AS nat,
         |    c_mktsegment AS seg, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer
         |), cands AS (
         |  SELECT DISTINCT cust_id, dirty_id FROM (
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.bal_cents = d.bal_cents_d
         |    UNION ALL
         |    SELECT c.cust_id, d.dirty_id FROM clean c JOIN dirty d
         |      ON c.nat = d.nat AND c.seg = d.seg AND c.name = d.name_d)
         |), scored AS (
         |  SELECT cust_id, dirty_id,
         |    ${LinkBlockW} + ${LinkNameW} * CAST(levenshtein(c.name, d.name_d) <= 1 AS INT)
         |      + ${LinkBalW} * CAST(c.bal_cents = d.bal_cents_d AS INT) AS score
         |  FROM cands
         |  JOIN clean c USING (cust_id)
         |  JOIN dirty d USING (dirty_id)
         |  WHERE ${LinkBlockW} + ${LinkNameW} * CAST(levenshtein(c.name, d.name_d) <= 1 AS INT)
         |      + ${LinkBalW} * CAST(c.bal_cents = d.bal_cents_d AS INT) >= ${LinkThreshold}
         |), best AS (
         |  SELECT dirty_id, cust_id AS matched_id, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY dirty_id
         |      ORDER BY score DESC, cust_id DESC) AS rn
         |    FROM scored)
         |  WHERE rn = 1
         |)
         |SELECT d.dirty_id, b.matched_id,
         |  coalesce(b.score, 0) AS score,
         |  CASE WHEN b.matched_id IS NOT NULL THEN 'linked'
         |    ELSE 'unmatched' END AS decision
         |FROM dirty d LEFT JOIN best b USING (dirty_id)
         |ORDER BY dirty_id ASC NULLS FIRST""".stripMargin,

    "c3_jaccard_pairs" ->
      s"""$oraclePairsCte
         |SELECT doc_a, doc_b,
         |  ROUND(CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
         |        / len(list_distinct(list_concat(ta.tset, tb.tset))), 4) AS jaccard
         |FROM pairs
         |JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |      FROM documents) ta ON ta.doc_id = doc_a
         |JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |      FROM documents) tb ON tb.doc_id = doc_b
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    // The c192 oracle replays the banded pairs + per-doc n-gram count
    // tables + clipped-match sums, then the SHARED libm-free formula
    // texts (BleuP1Sql/BleuP2Sql/BleuSql verbatim).
    "c192_bleu_pairs" ->
      s"""$oraclePairsCte, unic AS (
         |  SELECT doc_id, g, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents
         |  ) GROUP BY doc_id, g
         |), bic AS (
         |  SELECT doc_id, g, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i+1])) AS g
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |    WHERE len(ws) >= 2
         |  ) GROUP BY doc_id, g
         |), lens AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len1 FROM documents
         |), mm1 AS (
         |  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS m1
         |  FROM pairs p JOIN unic cb ON cb.doc_id = p.doc_b
         |  JOIN unic ca ON ca.doc_id = p.doc_a AND ca.g = cb.g
         |  GROUP BY p.doc_a, p.doc_b
         |), mm2 AS (
         |  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS m2
         |  FROM pairs p JOIN bic cb ON cb.doc_id = p.doc_b
         |  JOIN bic ca ON ca.doc_id = p.doc_a AND ca.g = cb.g
         |  GROUP BY p.doc_a, p.doc_b
         |), j AS (
         |  SELECT p.doc_a, p.doc_b, COALESCE(m1, 0) AS m1, COALESCE(m2, 0) AS m2,
         |    la.len1 AS rlen, lb.len1 AS clen
         |  FROM pairs p
         |  LEFT JOIN mm1 ON mm1.doc_a = p.doc_a AND mm1.doc_b = p.doc_b
         |  LEFT JOIN mm2 ON mm2.doc_a = p.doc_a AND mm2.doc_b = p.doc_b
         |  JOIN lens la ON la.doc_id = p.doc_a
         |  JOIN lens lb ON lb.doc_id = p.doc_b
         |)
         |SELECT doc_a, doc_b, m1, m2,
         |  ROUND($BleuP1Sql, 4) AS p1,
         |  ROUND($BleuP2Sql, 4) AS p2,
         |  ROUND(CAST(clen AS DOUBLE) / rlen, 4) AS len_ratio,
         |  ROUND($BleuSql, 4) AS bleu2
         |FROM j
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    "c43_containment_pairs" ->
      s"""$oraclePairsCte
         |SELECT doc_a, doc_b,
         |  ROUND(CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
         |        / len(ta.tset), 4) AS contain_a_in_b,
         |  ROUND(CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
         |        / len(tb.tset), 4) AS contain_b_in_a
         |FROM pairs
         |JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |      FROM documents) ta ON ta.doc_id = doc_a
         |JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |      FROM documents) tb ON tb.doc_id = doc_b
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    // est = matching signature positions / k over the sig CTE's
    // seed-ordered list; exact = the 3-shingle-set Jaccard (the
    // estimator's own target set). Integer counts and ratios
    // end-to-end, ROUND(4) only at emission. The samp CTE replays the
    // audit-budget cut: md5-uniform on the pair key vs the measured
    // pair count — a no-op below CalBudget pairs (this fixture), the
    // bounded sample above it.
    "c64_minhash_calibration" ->
      s"""$oraclePairsCte, sset AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
         |  FROM toks WHERE len(ws) >= 3
         |), tot AS (SELECT COUNT(*) AS npairs FROM pairs),
         |samp AS (
         |  SELECT doc_a, doc_b FROM pairs, tot
         |  WHERE CAST(CAST('0x' || substr(md5('cal:' || doc_a::VARCHAR || ':' || doc_b::VARCHAR), 1, 15) AS BIGINT) AS DOUBLE)
         |        / 1152921504606846976.0
         |      < CAST($CalBudget AS DOUBLE) / npairs
         |)
         |SELECT doc_a, doc_b,
         |  ROUND(CAST(len(list_filter(range(1, $MinhashSeeds + 1),
         |        i -> sa.sigs[i] = sb.sigs[i])) AS DOUBLE) / $MinhashSeeds, 4)
         |    AS est_jaccard,
         |  ROUND(CAST(len(list_intersect(ta.sset, tb.sset)) AS DOUBLE)
         |        / len(list_distinct(list_concat(ta.sset, tb.sset))), 4)
         |    AS shingle_jaccard,
         |  ROUND(abs(
         |    CAST(len(list_filter(range(1, $MinhashSeeds + 1),
         |        i -> sa.sigs[i] = sb.sigs[i])) AS DOUBLE) / $MinhashSeeds
         |    - CAST(len(list_intersect(ta.sset, tb.sset)) AS DOUBLE)
         |        / len(list_distinct(list_concat(ta.sset, tb.sset)))), 4) AS abs_err
         |FROM samp
         |JOIN sig sa ON sa.doc_id = doc_a
         |JOIN sig sb ON sb.doc_id = doc_b
         |JOIN sset ta ON ta.doc_id = doc_a
         |JOIN sset tb ON tb.doc_id = doc_b
         |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin,

    // Incoming split + candidate restriction + verify + best-match
    // rank, all over the SAME pairs CTE — the incoming predicate is
    // repeated inline (DuckDB has no plain-SQL named predicate).
    "c50_incremental_dedup" ->
      s"""$oraclePairsCte, cands AS (
         |  SELECT CASE WHEN (CAST('0x' || substr(md5('inc:' || doc_a::VARCHAR), 1, 15) AS BIGINT) % $IncMod = 0)
         |              THEN doc_a ELSE doc_b END AS doc_new,
         |         CASE WHEN (CAST('0x' || substr(md5('inc:' || doc_a::VARCHAR), 1, 15) AS BIGINT) % $IncMod = 0)
         |              THEN doc_b ELSE doc_a END AS doc_base
         |  FROM pairs
         |  WHERE (CAST('0x' || substr(md5('inc:' || doc_a::VARCHAR), 1, 15) AS BIGINT) % $IncMod = 0)
         |     <> (CAST('0x' || substr(md5('inc:' || doc_b::VARCHAR), 1, 15) AS BIGINT) % $IncMod = 0)
         |), scored AS (
         |  SELECT c.doc_new, c.doc_base,
         |    ROUND(CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
         |          / len(list_distinct(list_concat(ta.tset, tb.tset))), 4) AS jaccard
         |  FROM cands c
         |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |        FROM documents) ta ON ta.doc_id = c.doc_new
         |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         |        FROM documents) tb ON tb.doc_id = c.doc_base
         |), best AS (
         |  SELECT doc_new, doc_base, jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY doc_new ORDER BY jaccard DESC, doc_base ASC) AS rn
         |  FROM scored
         |), nc AS (
         |  SELECT doc_new, COUNT(*) AS n_cands FROM scored GROUP BY doc_new
         |)
         |SELECT d.doc_id,
         |  COALESCE(nc.n_cands, 0) AS n_cands,
         |  b.doc_base AS best_base,
         |  b.jaccard AS best_jaccard,
         |  CASE WHEN b.jaccard >= $IncTau THEN 'drop' ELSE 'keep' END AS verdict
         |FROM documents d
         |LEFT JOIN nc ON nc.doc_new = d.doc_id
         |LEFT JOIN best b ON b.doc_new = d.doc_id AND b.rn = 1
         |WHERE CAST('0x' || substr(md5('inc:' || d.doc_id::VARCHAR), 1, 15) AS BIGINT) % $IncMod = 0
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "c111_knn_label_eval" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS pid, embedding AS pe, label AS plabel
         |  FROM embeddings
         |  WHERE CAST(('0x' || substr(md5('knn:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    < (($KnnEvalPanel * 4294967296) // (SELECT COUNT(*) FROM embeddings))
         |), scored AS (
         |  SELECT pid, plabel, e.label, e.vec_id, ROUND(
         |    list_sum(list_transform(range(1, len(e.embedding) + 1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
         |  FROM embeddings e JOIN probes ON e.vec_id != probes.pid
         |), topk AS (
         |  SELECT pid, plabel, label FROM (
         |    SELECT pid, plabel, label,
         |      row_number() OVER (PARTITION BY pid
         |        ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rn
         |    FROM scored
         |  ) WHERE rn <= $KnnEvalK
         |), votes AS (
         |  SELECT pid, plabel, label, COUNT(*) AS cnt
         |  FROM topk GROUP BY pid, plabel, label
         |), predicted AS (
         |  SELECT pid, plabel, (label = plabel) AS correct FROM (
         |    SELECT pid, plabel, label,
         |      row_number() OVER (PARTITION BY pid
         |        ORDER BY cnt DESC NULLS LAST, label ASC NULLS FIRST) AS vr
         |    FROM votes
         |  ) WHERE vr = 1
         |)
         |SELECT plabel AS label, COUNT(*) AS n_probes,
         |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 4) AS accuracy
         |FROM predicted
         |GROUP BY plabel
         |ORDER BY plabel ASC NULLS FIRST""".stripMargin,

    "c4_cosine_topk" ->
      """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(
        |  list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(p[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(p, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
        |FROM embeddings, probe
        |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
        |LIMIT 10""".stripMargin,

    "c5_knn_per_label" ->
      """WITH cents AS (
        |  SELECT label, list(c ORDER BY idx ASC) AS carr FROM (
        |    SELECT label, i - 1 AS idx,
        |      CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
        |    FROM embeddings, range(1, 65) t(i)
        |    GROUP BY label, i
        |  ) GROUP BY label
        |), scored AS (
        |  SELECT e.label, vec_id, ROUND(
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * carr[i]))
        |    / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(carr, x -> x * x)))), 4) AS cos
        |  FROM embeddings e JOIN cents ON e.label = cents.label
        |)
        |SELECT label, vec_id, cos, rn FROM (
        |  SELECT label, vec_id, cos,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rn
        |  FROM scored
        |) WHERE rn <= 3
        |ORDER BY label ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "c6_label_centroids" ->
      """SELECT label, i - 1 AS idx,
        |  ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 4) AS centroid
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i
        |ORDER BY label ASC NULLS FIRST, idx ASC NULLS FIRST""".stripMargin,

    "c7_text_stats_by_lang" ->
      s"""WITH d AS (
         |  SELECT lang, n_chars, string_split(text, ' ') AS ws FROM documents
         |), base AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    ${oDavg("n_chars")} AS avg_chars,
         |    ${oDavg("len(ws)")} AS avg_tokens
         |  FROM d GROUP BY lang
         |), v AS (
         |  SELECT lang, COUNT(DISTINCT w) AS vocab
         |  FROM (SELECT lang, unnest(ws) AS w FROM d) GROUP BY lang
         |)
         |SELECT base.lang, n_docs, avg_chars, avg_tokens, vocab
         |FROM base JOIN v ON base.lang = v.lang
         |ORDER BY base.lang ASC NULLS FIRST""".stripMargin,

    "c8_tfidf_top_terms" ->
      """WITH words AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
        |), df AS (
        |  SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words)
        |  GROUP BY word
        |), tf AS (
        |  SELECT lang, word, COUNT(*) AS tf FROM words GROUP BY lang, word
        |), n AS (SELECT COUNT(*) AS n_total FROM documents),
        |scored AS (
        |  SELECT lang, tf.word,
        |    ROUND(tf * ln(CAST(n_total AS DOUBLE) / df), 4) AS score
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |)
        |SELECT lang, word, score, rn FROM (
        |  SELECT lang, word, score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC NULLS LAST, word ASC NULLS FIRST) AS rn
        |  FROM scored
        |) WHERE rn <= 5
        |ORDER BY lang ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "c9_multimodal_search" ->
      """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        |SELECT doc_id, source, ROUND(
        |  list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(p[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(p, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos,
        |  substring(text, 1, 40) AS snippet
        |FROM documents
        |JOIN embeddings ON doc_id = vec_id
        |CROSS JOIN probe
        |WHERE lang = 'en'
        |ORDER BY cos DESC NULLS LAST, doc_id ASC NULLS FIRST
        |LIMIT 10""".stripMargin
  )
}
