package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
/** Physical-plan dumps: `explain("formatted")` output from a session
  * built like every main's ([[Sessions.local]]), so the dumps show the
  * plans the graded posture runs. Two forms:
  *
  *  - `Plans [sfDir] [out]` — the plan audit: the scale-critical
  *    queries to PLANS.md (default sf0.001), the artifact backing the
  *    PlanSpec assertions (pushdown, pruning, broadcast, top-k fusion,
  *    no cartesian products);
  *  - `Plans <keys> <outDir> <tag> <sfDir>` — per-key snapshots of a
  *    comma-separated key list to `<outDir>/<key>_<tag>.txt`, so
  *    before/after plan claims in OPTIMIZATION_r*.md are checkable
  *    artifacts (plans/r18/) rather than prose.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length <= 2 || args.length == 4,
      "usage: Plans [sfDir] [out] | Plans <keys> <outDir> <tag> <sfDir>")
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.length == 4) snapshot(spark, args) else audit(spark, args)
    spark.stop()
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def snapshot(spark: SparkSession, args: Array[String]): Unit = {
    val Array(keyList, outDir, tag, sfDir) = args
    val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty)
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { k =>
      val plan = formatted(SparkEntry.queries(k)(spark, sfDir))
      Files.writeString(Paths.get(outDir, s"${k}_$tag.txt"), plan)
      println(s"[plans] wrote $outDir/${k}_$tag.txt (${plan.length} chars)")
    }
  }

  private def audit(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val audited = Seq(
      "b16_q1_pricing_summary" ->
        "Scan should read 6 columns only; two-phase HashAggregate; 6-group shuffle.",
      "b6_filter_complex" ->
        "All predicates in PushedFilters on the parquet scan.",
      "b7_join_broadcast_dims" ->
        "Both dimension joins BroadcastHashJoin; no shuffle before the aggregation.",
      "b29_q3_topk_revenue" ->
        "TakeOrderedAndProject top-k fusion; filters pushed on all three scans.",
      "b24_window_topk_per_group" ->
        "Single shuffle+sort on o_custkey feeding all three ranking functions.",
      "c2_dedup_minhash_pairs" ->
        ("Band-bucket equi-join (no cartesian); both self-join sides are " +
          "InMemoryTableScans of the materialized band table (ONE signature pass, " +
          "shared with c3/c11); the signature aggregation inside the cached plan " +
          "is HashAggregate (BIGINT minhash), never SortAggregate."),
      "c4_cosine_topk" ->
        "Broadcast probe + TakeOrderedAndProject; corpus never shuffles.",
      "c12_embedding_near_dup" ->
        "Cell-id equi-join on (label, sign-bucket probe); norms computed in the per-vector projection, not per pair.",
      "c5_knn_per_label" ->
        "Centroid arrays broadcast; per-row cosine; no per-vector re-aggregate Exchange.",
      "c19_batch_ann_topk" ->
        "Probe batch broadcast; WindowGroupLimit prunes per-probe top-k map-side before the exchange.",
      "c13_ann_ivf" ->
        "Cell ranking is a bounded global aggregate (no empty-partition Window); probed cells broadcast onto the corpus scan.",
      "a12_profile_columns" ->
        "ONE scan of orders feeding the stack generator; per-column counts via a single grouped aggregation.",
      "c22_dedup_survivors" ->
        "Duplicate-sized removal list broadcasts; corpus scanned once, no SortMergeJoin; per-lang agg map-side combined.",
      "c23_pii_redact" ->
        "Pure codegen'd regex projection: no Exchange besides the canon sort.",
      "c24_embedding_quantize" ->
        "Shuffle-free higher-order-function projection; scan reads only vec_id + embedding.",
      "c28_hist_quantiles" ->
        "Two scans (bounds, bins); cumulative sum as a tiny bin-by-bin broadcast self-join — no global Window.",
      "c29_decontaminate" ->
        "Eval gram set + offender set broadcast; the training corpus is never shuffle-joined.",
      "c31_curate_corpus" ->
        "Loser ids broadcast into a LeftAnti; sample + quality + filters fuse into the one corpus scan stage.",
      "c11_ngram_jaccard_pairs" ->
        "Per-char trigram transform sits above a broadcast LeftSemi on the candidate id set — never over the whole corpus; pair joins are doc-id equi-joins.",
      "c35_kmeans_iterate" ->
        "Seed/refined centroids broadcast each Lloyd round; the update aggregation is map-side-combined HashAggregate; no cartesian product anywhere.",
      "c38_ann_ivf_adaptive" ->
        ("Centroids read from the persisted index (vec- store scan, not a train " +
          "recompute); the candidate scan reads the cluster-PARTITIONED inverted " +
          "lists with the probed-cell filter as a dynamicpruning PartitionFilter " +
          "(probe I/O = nprobe/k of the corpus); top-k fuses to " +
          "TakeOrderedAndProject; no cartesian product."),
      "c47_semantic_dedup" ->
        ("In-cell pair work is an equi-join on the cell id (no cartesian besides the broadcast " +
          "seed-centroid pass); the duplicate-sized loser list broadcasts into a LeftAnti."),
      "c48_substring_dup_spans" ->
        ("Shared-gram id set broadcasts into a LeftSemi that prunes the gram stream; pairs expand " +
          "from the capped per-gram collect (no self-join) — both gram reads are InMemoryTableScans " +
          "of the memoized sampled-gram table (the projection itself ran once, at setup)."),
      "c50_incremental_dedup" ->
        ("Candidates come from the memoized pair table (no signature recompute); verify joins " +
          "carry only candidate rows; best-match rank pre-prunes map-side (WindowGroupLimit); " +
          "no cartesian product anywhere."),
      "c49_dup_fraction" ->
        ("Shared-gram set (uncapped — doc-level signal counts boilerplate) broadcasts back onto " +
          "the gram stream; per-doc n_shared/n_grams is map-side-combined HashAggregate; no pair " +
          "fan-out, no SortMergeJoin; both gram reads are InMemoryTableScans of the memoized table."),
      "c52_chunk_tokens" ->
        "Per-row sequence+explode fan-out with zero hash exchanges — the canon sort is the only shuffle.",
      "c54_bigram_surprise" ->
        ("Bigram stream feeds two map-side-combined HashAggregates; the probability join shuffles " +
          "on the (a,b) key (bigram table NOT assumed broadcastable, unlike c46's unigram table)."),
      "c56_pq_encode" ->
        ("Sub-codebook broadcasts (M×k rows); argmin and the code pivot are map-side-combined " +
          "HashAggregates; no shuffle carries an embedding — only (id, j, code, d2) quads."),
      "c57_pq_adc_topk" ->
        ("ADC LUT (M×k doubles) broadcasts onto the code table; shortlist broadcasts into the " +
          "re-rank fetch; final top-k fuses to TakeOrderedAndProject; no cartesian product."),
      "c74_funnel_conversion" ->
        ("ONE hashpartitioning(user_id) exchange serves all three stacked stage windows; " +
          "the per-user collapse and the 3-row stage table add no per-stage re-shuffle."),
      "c76_scd2_intervals" ->
        ("One (user_id, ts, event_id) sort serves lag + running-sum; the (user, version) " +
          "collapse reuses the window's user partitioning (ClusteredDistribution subset — " +
          "exactly one Exchange in the whole plan)."),
      "c77_interval_overlap_join" ->
        ("Bucket EQUI-join (SMJ/SHJ), never BroadcastNestedLoopJoin/CartesianProduct — the " +
          "bucket explode turns the interval theta-join into a shuffled equi-join."),
      "c78_bpe_train_steps" ->
        ("Final report plan contains NO documents scan — each BPE round reads the " +
          "localCheckpoint'ed vocab, so the corpus is scanned once (at round-0 setup), " +
          "not 2^K times."),
      "c79_hard_negatives" ->
        ("Anchor batch broadcasts into both branches; each branch's rn=1 cut executes " +
          "as WindowGroupLimit below its exchange; no cartesian product."),
      "c85_media_embed_topk" ->
        ("Embedding = one per-row projection of byte-addressed folds (blobs never " +
          "shuffle); 1-row probe broadcasts; top-k fuses to TakeOrderedAndProject."),
      "b53_q5_local_supplier" ->
        ("Nation-region dim broadcasts; the 1996 year filter is in PushedFilters on " +
          "the orders scan; fact joins are shuffle equi-joins, nothing nested-loop."),
      "c86_incremental_agg" ->
        ("Exactly two lineitem scans (base + delta partials) union into one 6-group " +
          "merge re-aggregation — the mergeability contract, visible in the plan."),
      "c87_salted_join" ->
        ("Both SMJ sides exchange on (orderkey, salt) — the hot-key spread; the plain " +
          "join oracle proves the salt changes partitioning only."),
      "c88_bucketed_join" ->
        ("Bucketed: true scans feed the SMJ with no exchange and no sort on either " +
          "side; the only hash exchange in the plan is the final 3-group aggregate."),
      "b57_q4_order_priority" ->
        ("EXISTS plans as LeftSemi with the non-equi lateness predicate as a " +
          "hash-join residual — lineitem never duplicates matches."),
      "b59_q10_returned_revenue" ->
        ("returnflag + quarter window both in PushedFilters; nation broadcasts; " +
          "top-20 fuses to TakeOrderedAndProject."),
      "b63_unpivot" ->
        "ONE Expand node over ONE lineitem scan — never four unioned scans.",
      "a19_cdc_apply" ->
        ("ONE FullOuter join on the key applies all three op classes; exactly two " +
          "orders scans (base + changelog) in the plan."),
      "a20_split_planner" ->
        ("The 1-row quantile-bounds artifact broadcasts onto the assignment scan " +
          "(BroadcastNestedLoopJoin of one row — never a shuffle join)."),
      "c97_rrf_fusion" ->
        ("Both rankers' capped rank lists pre-prune map-side via WindowGroupLimit " +
          "BEFORE the full-outer fusion join — fusion never sees the scored corpus."),
      "c98_triangle_count" ->
        ("Degree-ordered wedge enumeration and closure are equi-joins — no " +
          "cartesian product anywhere on the graph side."),
      "c101_kmv_distinct" ->
        ("Per-partition k-min prune via WindowGroupLimit — only groups × k rows " +
          "cross the exchange; the sketch reduces map-side."),
      "c102_bloom_semi_join" ->
        ("The 256-bit filter bit_or-aggregates map-side and broadcasts as ONE " +
          "4-long row; the membership Filter sits UNDER the probe's exchange."),
      "c114_poisson_bootstrap_ci" ->
        ("ONE events scan through a Generate (sequence explode) fan-out; replicate " +
          "means collapse map-side to (type, replicate) partials."),
      "c117_edit_distance_pairs" ->
        ("Levenshtein runs ONLY on the memoized LSH pair table (InMemoryTableScan) " +
          "— the candidates-only discipline for an O(len^2)-per-pair metric."),
      "c158_edit_join_exact" ->
        ("PassJoin pigeonhole: candidates are an equi-join on (xxhash64(segment), " +
          "idx, clean_len) — ids + 8-byte keys only through the probe exchanges, " +
          "never text or a cartesian; the bit-parallel kernel verifies as the " +
          "text join's condition (once per candidate) plus an output-sized " +
          "survivor projection."),
      "c159_record_linkage" ->
        ("Two blocking equi-join passes (nation+segment+balance-cents / " +
          "nation+segment+exact-name), DISTINCT-unioned id pairs, fields joined " +
          "back by id for the integer FS score — high-cardinality block keys, " +
          "no cartesian, the edit kernel only at scoring."),
      "c161_linkage_resolution" ->
        ("The decision step is a map-side argmax: groupBy(dirty_id) with ONE " +
          "max-of-struct HashAggregate (partial combine before the exchange — " +
          "one row per dirty record crosses it), never a window over " +
          "candidates; the dirty side left-joins the argmax on dirty_id for " +
          "the explicit unmatched rows; no cartesian product."),
      "c163_linkage_bands" ->
        ("Same two blocking passes as c159 with the threshold filter split " +
          "out — Catalyst pushes each pass's residual back inside the join; " +
          "the band CASE is a row-local projection; no cartesian, no window."),
      "a23_drift_ranges" ->
        ("A13's one key-equi-join then a 256-group map-side-combined " +
          "HashAggregate — one row per (partition, range) crosses the " +
          "exchange; output range-catalog-sized."),
      "a24_tombstone_gc" ->
        ("ONE map-side-combined HashAggregate over the log (argmax struct " +
          "carries is_del; tombstone ts and counts ride the same groupBy); " +
          "the grace cutoff is a 1-row broadcast crossJoin — no window, no " +
          "second log shuffle."),
      "a25_cell_lww_merge" ->
        ("One full-outer SortMergeJoin on the key (both replica sides " +
          "co-partition) plus row-local CASE per cell — no window, no " +
          "second join, output key-sized."),
      "c169_fs_em_weights" ->
        ("The only data pass is the c159 blocking-join candidate " +
          "generation collapsing to ONE map-side-combined 4-cell " +
          "aggregate; both EM rounds are scalar projections on the " +
          "1-row table — no loop, no window, no second scan."),
      "a26_ttl_expiry" ->
        ("ONE orders scan + row-local expiry CASEs; the max-writetime " +
          "'now' is a 1-row broadcast — no window, no key join."),
      "c164_frame_dedup" ->
        ("Frame hash computed INSIDE the per-row Generate; only (doc_id, " +
          "frame_idx, hash) triples reach the map-side-combined " +
          "HashAggregate — the blob column never crosses an Exchange."),
      "c165_incremental_frame_dedup" ->
        ("Base side collapses to DISTINCT hashes before the probe join; " +
          "per-doc gate rollup partial-aggregates map-side; the blob " +
          "column never crosses an Exchange on either path."),
      "b77_interval_coalesce" ->
        ("EXACTLY ONE hash exchange (user_id): the island window and both " +
          "downstream aggregations all run on the same partitioning — " +
          "grouping keys are supersets of the window partition key."),
      "b78_resample_ffill" ->
        ("Events collapse to (user, day) grain BEFORE any join; the date " +
          "spine is a per-user sequence explode (Generate), never a " +
          "global-calendar cross join; forward fill is one user window."),
      "c121_kmv_pair_overlap" ->
        ("Per-source sketch rank runs as WindowGroupLimit (partition-local " +
          "k before the exchange); the pair stage joins k-row sketches only " +
          "— the gram streams are never pair-joined for the estimator " +
          "(the exact audit join is the fixture-affordable exception)."),
      "c125_basket_lift" ->
        ("Part dimension broadcasts into the lineitem scan; pair generation " +
          "is an orderkey equi-join (within-basket, no cartesian); brand " +
          "marginals and the basket total broadcast."),
      "c126_window_funnel" ->
        ("Both stage joins are (user, 7d-bucket) equi-joins with the window " +
          "as residual — pair work scales with window density, not history " +
          "depth; each collapses map-side to the earliest qualifying next " +
          "stage; no cartesian product."),
      "b83_join_asof_forward" ->
        ("Forward as-of as user-equi join + per-click WindowGroupLimit: " +
          "the rn=1 cut prunes partition-locally before the exchange."),
      "c132_sharded_topk_bounds" ->
        ("Per-shard top-m publishes via WindowGroupLimit; the bound grid " +
          "joins candidates against the 8-row threshold table — the corpus " +
          "vocabulary never crosses the exchange."),
      "c139_tumbling_ohlc" ->
        ("ONE aggregate over ONE events scan — open/close ride " +
          "min/max-of-struct so no window and no second pass exist."),
      "c144_cohort_ltv" ->
        ("First-day collapse then day-grain curve; the decimal cumulative " +
          "runs on the (cohorts x ages) table; sizes broadcast back."),
      "c146_cuped_adjustment" ->
        ("Per-user conditional collapse then ONE moment aggregate over " +
          "user-count rows; decimal cross-products inside the aggregate — " +
          "no second scan, no join."),
      // Round 16 (verdict item 3): the remaining top-10 cost centers
      // plus the round-15/16 keys that postdate the last full regen.
      "c96_prefix_filter_join" ->
        ("Rare-first prefix tokens equi-join (token, then doc-pair dedup) — " +
          "candidates only; the exact Jaccard verify runs on the candidate " +
          "join's output, never a corpus self-join; per-doc rank window is " +
          "doc-bounded (no global window); no cartesian product."),
      "c68_pagerank" ->
        ("Each damped round is ONE edge equi-join + a map-side-combined " +
          "DECIMAL sum; the rank and out-degree tables broadcast; edge table " +
          "is an InMemoryTableScan of the memoized pair table (coalesced " +
          "post-round-16, a handful of partitions); no window, no cartesian."),
      "c64_minhash_calibration" ->
        ("The audit budget cut compares against a 1-row broadcast pair count; " +
          "signature and shingle passes run only on the broadcast-semi-pruned " +
          "sampled docs — never the corpus; estimate and exact scores join " +
          "back by pair id; no cartesian."),
      "c59_simhash_hamming_pairs" ->
        ("Block-pigeonhole equi-join on (block_idx, block_val) — candidate " +
          "work scales with bucket occupancy; the Hamming verify (xor+popcount) " +
          "runs as the join condition on candidates only; no cartesian."),
      "c73_simhash_wide_pairs" ->
        ("Same pigeonhole shape as c59 at the 60-bit production width — " +
          "wider blocks, ~65x fewer candidate pairs through the exchange; " +
          "no cartesian."),
      "c99_label_propagation" ->
        ("Each LPA round is one edge equi-join + a per-(node, label) count " +
          "collapse and an argmax HashAggregate (mode-with-tiebreak, no " +
          "window); label tables localCheckpoint each round; edge scans are " +
          "coalesced InMemoryTableScans; no cartesian."),
      "c95_hilbert_skipping" ->
        ("The Hilbert key is a codegen'd row-local projection; the range " +
          "probe filters on the persisted layout's min/max (file skipping), " +
          "reading a bounded fraction of row groups; no shuffle besides the " +
          "final order."),
      "c168_cluster_safe_split" ->
        ("One doc_id-equi LEFT join against the memoized cluster-label " +
          "table (coalesced InMemoryTableScan) + a row-local md5 CASE on " +
          "the cluster id — no window, no second scan, no cartesian."),
      "c170_fs_global_u" ->
        ("The modular-shift mate key rides a 1-row broadcast maxKey " +
          "crossJoin; ONE key-equi join pairs dirty records with clean " +
          "mates; the u estimate is one map-side-combined 2-column average " +
          "with the n-sized assert_true filter on the 1-row result; no " +
          "window, no cartesian beyond the 1-row broadcasts."),
      "c171_fs_estimated_rescore" ->
        ("Both parameter estimates are 1-row aggregates (4-cell EM " +
          "statistic + modular-pair u average) crossJoined and broadcast " +
          "onto the candidate set; the rescore is a row-local projection; " +
          "the migration matrix is a <=9-group map-side-combined " +
          "HashAggregate; no window, no corpus-sized shuffle."),
      "c172_stream_ttl_expiry" ->
        ("Read-side compaction is one max-of-struct HashAggregate over the " +
          "emission log; the TTL classes are row-local md5 CASEs and the " +
          "'now' cutoff a 1-row broadcast — the a26 read kernel verbatim; " +
          "no window."),
      "c173_ivf_pq_search" ->
        ("IVFADC composition: persisted centroids broadcast for cell " +
          "ranking; BOTH candidate reads (encode + re-rank fetch) scan the " +
          "cluster-partitioned inverted lists with dynamicpruning " +
          "PartitionFilters; codebook + LUT + shortlist broadcast; the raw " +
          "corpus is scanned only for the pushed 1-row probe; top-k fuses " +
          "to TakeOrderedAndProject."),
      "c174_filtered_ann" ->
        ("Filtered ANN: the label predicate applies row-locally on the " +
          "DPP-pruned inverted-list scan (widened 8-cell probe); centroids " +
          "and the 1-row probe broadcast; the raw corpus is never joined " +
          "back; top-k fuses to TakeOrderedAndProject."),
      "c175_batch_ann_ivf" ->
        ("Batched IVF: probe batch broadcasts; per-probe cell rank and " +
          "per-probe top-3 both execute as WindowGroupLimit (probe-bounded, " +
          "map-side pre-prune); ONE DPP-pruned inverted-list scan serves " +
          "the union of probed cells; no cartesian, no corpus-wide window."),
      "c177_incremental_index_ingest" ->
        ("Ingest ledger: two broadcast-assignment passes (centroids " +
          "broadcast, per-vector min_by argmax collapses map-side), two " +
          "map-side-combined cell-count HashAggregates, ONE cells-sized " +
          "full outer join; growth/flag row-local; no corpus-sized " +
          "shuffle beyond the two count exchanges."),
      "c178_index_apply_ingest" ->
        ("Apply-ingest audit: per-cell occupancy read FROM the published " +
          "segments — two cluster-partitioned file scans unioned, one " +
          "map-side-combined HashAggregate; NO join anywhere (the ingest " +
          "write itself was increment-sized and ran at store-build time)."),
      "c179_index_rebuild_swap" ->
        ("Rebuild-swap audit: one scan of the swapped generation-2 lists " +
          "+ one cells-sized HashAggregate; the retrain cost lives in the " +
          "flag-gated store write, never in the serving query."),
      "c181_mmr_rerank" ->
        ("MMR greedy: the corpus appears ONCE (broadcast-probe " +
          "TakeOrderedAndProject pool); every greedy step is a " +
          "broadcast join + ≤pool-sized TakeOrdered over checkpointed " +
          "12/132-row inputs — no corpus re-scan, no window, no " +
          "cartesian beyond the 1-row probe."),
      "a27_reshard_movement" ->
        ("Reshard plan: both placements are row-local codegen'd " +
          "projections (HRW = transform + array_max fold — no shard " +
          "fan-out join, no window); one scan per scheme + one " +
          "≤48-group map-side-combined HashAggregate."),
      "c188_cdc_chunking" ->
        ("CDC chunking: ONE documents scan; boundary hash + chunk " +
          "explode are codegen'd higher-order projections (no UDF); " +
          "two map-side-combined HashAggregates (per-source, " +
          "per-fingerprint first-owner) + a sources×sources join — " +
          "nothing corpus-windowed, nothing pairwise."),
      "c189_kn_perplexity" ->
        ("KN scoring: train bigram aggregate feeds ctx/cont/tt as " +
          "REGROUPS (no second corpus scan); the three probability " +
          "joins are hash-partitioned equi-joins (count tables never " +
          "assumed broadcastable — the c54 posture) except the 1-row " +
          "tt broadcast; per-doc fold map-side combines."),
      "c192_bleu_pairs" ->
        ("BLEU pairs: candidates-only (memoized pair table — never " +
          "all-pairs); gram-count MAPS join doc-keyed (one doc-sized " +
          "payload per pair side), clipped sums are row-local lambda " +
          "folds — no pairs×gram-instance exchange (the 46 GB spill " +
          "shape the rework removed), no re-aggregate after the join."),
      "a28_merkle_range_diff" ->
        ("Merkle diff: one scan per side into 256-group map-side-" +
          "combined DECIMAL sums; ONLY digest rows meet (broadcast-" +
          "size full outer join) — no row-level join between the " +
          "sides, no window, no exchange beyond the two digest aggs."),
      "c196_source_overlap" ->
        ("Source overlap: ONE gram scan → per-gram collect_set " +
          "ObjectHashAggregate (the distinct folded into the set — " +
          "r19); the pair fan is a row-local lambda over each gram's " +
          "≤#sources sorted set (never a gram-keyed self-join — the " +
          "DuckDB 79 GB planner-trap lesson); per-source sizes ride " +
          "ONE broadcast map row; map-side combine to the " +
          "≤C(20,2)-row matrix."),
      "c197_join_skew_audit" ->
        ("Skew audit: per audited key ONE map-side-combined key-count " +
          "HashAggregate + a 2-value broadcast total + TakeOrdered " +
          "top-3; the rank window orders the 3 survivors, never the " +
          "key space; salt rule is a codegen'd bounded filter-count " +
          "(no 64-bit product anywhere)."),
      "c198_medoid_keeper" ->
        ("Medoid keeper: sizes from one label HashAggregate; sub-cap " +
          "pair fan is a cluster-keyed equi-join bounded at 15 rows " +
          "per member; over-cap stage fans exactly K=8 hash-ordered " +
          "candidates per member (cluster-partitioned windows, never " +
          "partition-less); scores map-side combine — nothing " +
          "corpus-pairwise."),
      "c199_curation_run" ->
        ("Curation funnel: six stage-artifact scans into " +
          "sources-sized map-side-combined HashAggregates + a " +
          "unionByName — the pipeline's heavy lifting (CC labels, " +
          "gram semi-join, prefix sums) ran ONCE into the gated " +
          "artifacts; the funnel itself is scan+agg only."),
      "c200_skew_adaptive_join" ->
        ("Skew-adaptive join: the audit aggregate prices the fact " +
          "side's key distribution (the same table its shuffle builds " +
          "anyway), then ONE sort-merge join at the recommended salt " +
          "width — exploded thin side, hot key spread over S " +
          "partitions, aggregate map-side combines."),
      "c202_weighted_mix" ->
        ("Weighted mix: the sources-bounded plan BROADCASTS onto ONE " +
          "corpus scan with the integer membership compare codegen'd; " +
          "counts map-side combine to #sources rows — the plan build " +
          "(c201's shape) is the only other work."),
      "c201_source_overlap_plan" ->
        ("Overlap plan: c196's per-gram source-set aggregate grain " +
          "(prune-stable, so its exchange reuses across branches — " +
          "r19); pick-order rank over the ≤#sources count " +
          "(whitelisted); each gram's MIN(pick_order) is a row-local " +
          "array_min over its set against ONE broadcast pick-order " +
          "map row (the presence⋈prio join and its gram re-scan are " +
          "gone); marginal counts map-side combine, sources-bounded."),
      "c112_autocorrelation" ->
        ("Autocorrelation: positions from the OrderStats two-pass " +
          "bucketed rank (no partition-less window), evaluated ONCE " +
          "(r19 — the old (type, pos) self-join replayed the kernel " +
          "under both sides): each row fans to 1+AcfLags slot " +
          "records, one (type, slot) aggregate gathers (x, y_1..y_K) " +
          "and a row-local filtered fan emits the identical pair " +
          "multiset; DECIMAL moment sums map-side combine; the lag " +
          "spine is a broadcast cross of the tiny type set — " +
          "lags-bounded LINEAR fan, never quadratic."),
      "c37_stream_enrich" ->
        ("Stream enrich (cost-center audit): the plan below is the " +
          "SINK READ (orderBy over the appended parquet) — the cost " +
          "center is the stream-stream join that produced it: four " +
          "state stores per shuffle partition, statePartitions " +
          "pinned at 8 to track state size not CPU count, " +
          "watermark-bounded buffers; its 2.6 s is micro-batch " +
          "machinery (checkpoint + state commit per batch), not a " +
          "plan-shape defect."))
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by `graft.Plans` on ")
      .append(sfDir).append(s" at local[${spark.sparkContext.defaultParallelism}])\n\n")
    sb.append("Each plan is `explain(\"formatted\")` output; the stated property is\n")
      .append("asserted programmatically in PlanSpec so regressions fail CI.\n")
    audited.foreach { case (key, expectation) =>
      sb.append(s"\n## $key\n\n**Expected shape:** $expectation\n\n```\n")
        .append(formatted(SparkEntry.queries(key)(spark, sfDir))).append("```\n")
    }
    // The streaming serving/ingest keys are audited through their
    // per-micro-batch KERNELS (running the stream here would audit
    // only the final sink read): what executes per trigger IS these
    // plans; the streaming wrapper adds only a foreachBatch parquet
    // append.
    locally {
      import org.apache.spark.sql.functions.col
      import graft.ops.NearDup
      val kernelAudits = Seq(
        ("c176_stream_ann_probe (per-micro-batch kernel = c175's)",
          "Every trigger runs the c175 kernel against the static store: " +
            "ONE DPP-pruned inverted-list scan for the batch's probe-cell " +
            "union, probe-bounded WindowGroupLimits; no state store.",
          () => NearDup.batchAnnIvfOf(spark, sfDir,
            Tables.t(spark, sfDir, "embeddings").where(col("vec_id") < 10)
              .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))),
        ("c180_stream_index_ingest (per-micro-batch kernel)",
          "Every trigger assigns ITS arrivals to the broadcast persisted " +
            "centroids (map-side min_by argmax) and emits one cells-sized " +
            "count aggregate; no state store, no cross-batch window — the " +
            "read-side merge is the c177 ledger join audited above.",
          () => {
            NearDup.kmAssign(
              Tables.t(spark, sfDir, "embeddings").where(NearDup.ingestIsNew)
                .select(col("vec_id"), col("embedding")),
              NearDup.ingestCentroids(spark, sfDir))
              .groupBy(col("cluster"))
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("n_new"))
          }))
      kernelAudits.foreach { case (title, expectation, mk) =>
        sb.append(s"\n## $title\n\n**Expected shape:** $expectation\n\n```\n")
          .append(formatted(mk())).append("```\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote ${audited.size} plans to $out")
  }
}
