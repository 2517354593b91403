package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Physical-plan audits (the 100 TB posture, SURVEY §2 C10 / §4):
  * these assertions pin the *plan shape*, not timings — filters reach
  * the parquet scan, projections prune columns, small dims broadcast,
  * top-k fuses to TakeOrderedAndProject, and nothing falls back to an
  * unbounded cartesian product. A regression here is a scale-killer
  * long before it's a slow benchmark.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("b6: predicates are pushed to the parquet scan") {
    val p = plan(Relational.filterComplex(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("In(o_orderstatus") || p.contains("o_orderstatus"), p)
  }

  test("b16: scan reads only the 7 needed lineitem columns") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
  }

  test("b7: dimension joins are broadcast, fact side stays shuffle-free pre-agg") {
    val p = plan(Relational.joinBroadcastDims(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("b29: top-k fuses into TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q3TopkRevenue(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c4: probe is broadcast and top-k fuses (no shuffle over the corpus)") {
    val p = plan(Llm.cosineTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("c2: LSH candidate join is an equi-join on band buckets, not cartesian") {
    val p = plan(Llm.dedupMinhashPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c2: both self-join sides read the materialized band table (one signature pass)") {
    // Round 4's plan replayed the full shingle→signature subtree under
    // BOTH join inputs; with the persisted band table each side is an
    // InMemoryTableScan and the signature pipeline exists once, at
    // materialization time. Node traversal (not string match): the
    // plan STRING legitimately shows the cached pipeline as the
    // InMemoryRelation's provenance, but it must not be a live node of
    // the query tree — no Generate (shingle explode) may execute here.
    // Target is the UNCACHED pair plan: the c2 query itself now reads
    // the memoized pair table (next test), so this pins the plan that
    // materializes it. Once the pair table itself is cached, the cache
    // manager may substitute the WHOLE fragment with its
    // InMemoryRelation (ims == 1); before that, both band sides must
    // be InMemoryTableScans (ims == 2). Either way: no Generate
    // (shingle explode) and no parquet re-scan may execute here.
    val sp = Llm.minhashPairsPlan(spark, sf).queryExecution.sparkPlan
    val gens = sp.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    val ims = sp.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
    assert(gens.isEmpty, s"signature subtree replayed inside the self-join: $sp")
    assert(ims.size == 2 || ims.size == 1,
      s"expected cached join sides (2) or the cached pair table (1), got ${ims.size}: $sp")
    val files = sp.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(files.isEmpty, s"raw corpus rescanned under the pair join: $sp")
  }

  test("c2/c3/c11/c43: every pair consumer reads ONE memoized pair table") {
    // The band self-join + distinct is the dedup family's second
    // shared one-time pass; un-materialized it replayed up to six
    // times per bench sweep (c11 alone holds it under two join
    // inputs), costing ~490 tasks for 826 result rows at sf0.1 —
    // task overhead, not data work. Same discipline as lshBands /
    // clusterLabels: one persisted table per (app, corpus).
    val p1 = Llm.minhashPairs(spark, sf)
    assert(p1 eq Llm.minhashPairs(spark, sf),
      "pair table must be memoized per (app, corpus)")
    for (df <- Seq(Llm.dedupMinhashPairs(spark, sf),
        Llm.jaccardPairs(spark, sf),
        NearDup.ngramJaccardPairs(spark, sf),
        Llm.containmentPairs(spark, sf))) {
      val sp = df.queryExecution.sparkPlan
      val joins = sp.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
              j.condition.exists(_.toString.contains("band")) => j }
      assert(joins.isEmpty, s"band self-join replayed under a pair consumer: $sp")
    }
  }

  test("c2 signature pass hash-aggregates (BIGINT minhash buffer, no sort)") {
    // min(md5-hex-string) forced SortAggregate — the full exploded
    // shingle stream was SORTED before aggregation. min over the 60-bit
    // BIGINT prefix keeps a fixed-width mutable buffer → HashAggregate
    // with map-side combine.
    val p = plan(Llm.lshBandsPlan(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), s"minhash agg fell back to sort: $p")
  }

  test("c13: cell ranking is a bounded aggregate, not an empty-partition window") {
    val p = plan(NearDup.annIvf(spark, sf))
    assert(!p.contains("Window"), s"global window back in the cell ranker: $p")
  }

  test("a12: single-pass column audit — one scan of orders, not one per column") {
    val p = plan(Migration.profileColumns(spark, sf))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, found $scans: $p")
  }

  test("b35/b37: pure projections carry no shuffle besides the canon sort") {
    for (df <- Seq(Functions.stringFuncs(spark, sf), Functions.mathFuncs(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"projection-only query grew a hash shuffle: $p")
    }
  }

  test("c23/c24: redaction and quantization are shuffle-free projections") {
    // c24 stays strictly shuffle-free (canon range sort only). c23
    // carries exactly ONE hash exchange since r18: the
    // Canon.barrierSort materialization barrier that stops the range
    // sort's bound sampling from re-running the regex projection over
    // the corpus a second time.
    val p24 = plan(NearDup.embeddingQuantize(spark, sf))
    assert(!p24.contains("Exchange hashpartitioning"),
      s"projection-only query grew a hash shuffle: $p24")
    val p23 = plan(TextAnalysis.piiRedact(spark, sf))
    assert(!p23.contains("Join") && !p23.contains("Aggregate"), p23)
    assert(p23.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"c23 should carry only the barrier exchange:\n$p23")
  }

  test("c52: chunking is a shuffle-free fan-out (canon sort is the only exchange)") {
    val p = plan(TextAnalysis.chunkTokens(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row chunk fan-out grew a hash shuffle: $p")
  }

  test("c56/c57: PQ codebook and LUT broadcast; no cartesian; c57 top-k fuses") {
    val p56 = plan(NearDup.pqEncode(spark, sf))
    assert(p56.contains("BroadcastHashJoin"), p56)
    assert(!p56.contains("CartesianProduct"), p56)
    // The packed-long argmin must stay a HashAggregate: min(struct)
    // planned as SortAggregate and SORTED the n·M·k scored stream —
    // 17 GiB of spill and ~7× CPU at the 100×/4 GiB rehearsal.
    assert(!p56.contains("SortAggregate"),
      s"PQ argmin fell out of hash aggregation: $p56")
    val p57 = plan(NearDup.pqAdcTopk(spark, sf))
    assert(p57.contains("BroadcastHashJoin"), p57)
    assert(p57.contains("TakeOrderedAndProject"), p57)
    assert(!p57.contains("SortAggregate"), p57)
  }

  test("c22: removal list broadcasts; corpus joins without shuffling") {
    val p = plan(NearDup.dedupSurvivors(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join: $p")
  }

  test("c21/c22: cluster labels are memoized; c22 reads the checkpointed label table") {
    // The CC loop is one-time per (app, corpus) — round-7 verdict: c22
    // and c31 re-ran it per invocation. Same discipline as lshBands.
    val l1 = NearDup.clusterLabels(spark, sf)
    val l2 = NearDup.clusterLabels(spark, sf)
    assert(l1 eq l2, "cluster labels must be memoized per (app, corpus)")
    val sp = NearDup.dedupSurvivors(spark, sf).queryExecution.sparkPlan
    val gens = sp.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty, s"shingle/signature work replayed under c22: $sp")
    assert(sp.toString.contains("ExistingRDD"),
      s"loser side not read from the checkpointed label table: $sp")
  }

  test("c11: trigram work is pruned to candidate docs by a broadcast semi-join") {
    // The per-char trigram transform must sit above a LeftSemi against
    // the (duplicate-sized, broadcast) candidate id set — shingling the
    // whole corpus to score a few thousand pairs is the shape that
    // dies at 100 TB.
    val p = plan(NearDup.ngramJaccardPairs(spark, sf))
    assert(p.contains("LeftSemi"), s"documents scan not candidate-pruned: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c47: cell pair join is equi on cluster; loser list broadcasts into the anti-join") {
    val sp = NearDup.semanticDedup(spark, sf).queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), s"in-cell pair join went cartesian: $p")
    val antis = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(antis.nonEmpty, s"loser removal is not a broadcast anti-join: $p")
  }

  test("c48: shared-gram set broadcasts into a semi-join that prunes the gram stream") {
    val sp = NearDup.substringDupSpans(spark, sf).queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), s"gram self-join went cartesian: $p")
    val semis = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j }
    assert(semis.nonEmpty, s"gram stream not pruned by a broadcast semi-join: $p")
  }

  test("c50: incremental gate — best-match rank prunes map-side; no cartesian anywhere") {
    val sp = Llm.incrementalDedup(spark, sf).queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), s"incremental gate went cartesian: $p")
    assert(p.contains("WindowGroupLimit"), s"best-match rank does not pre-prune map-side: $p")
  }

  test("c49: shared-gram set joins broadcast; per-doc agg is partial (map-side combine)") {
    val sp = NearDup.dupFraction(spark, sf).queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), s"gram join went cartesian: $p")
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, s"shared-gram set not broadcast onto the gram stream: $p")
    assert(!p.contains("SortMergeJoin"), s"gram-stream shuffle join: $p")
  }

  test("c45: per-lang quality top-k prunes map-side via WindowGroupLimit") {
    val p = plan(TextAnalysis.qualityTopk(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("c39: moment stats broadcast back onto the scan; corpus never shuffle-joins") {
    val p = plan(Relational.zscoreOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join: $p")
  }

  test("c40: normalization is a pure projection — no join, no aggregate, one canon sort") {
    val p = plan(TextAnalysis.textNormalize(spark, sf))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Aggregate"), p)
    // Two exchanges since r18: the Canon.barrierSort hash barrier
    // (one regex pass instead of the range sampler's two) plus the
    // canon orderBy's range partitioning.
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2, p)
  }

  test("c38: adaptive IVF — refined cells and probe broadcast, top-k fuses, no cartesian") {
    val p = plan(NearDup.annIvfAdaptive(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // Round 16: the candidate scan reads the cluster-PARTITIONED
    // inverted-list store and the probed-cell filter must prune at
    // the FILE level via dynamic partition pruning — losing this
    // silently turns probe I/O from nprobe/k of the corpus into all
    // of it.
    assert(p.contains("ivf.parquet"), p)
    assert(p.contains("dynamicpruning"),
      s"probed-cell filter no longer prunes partitions:\n$p")
  }

  test("c173: IVFADC — both candidate reads DPP-prune the inverted lists; LUT/shortlist broadcast; no full-corpus pass") {
    val p = plan(NearDup.ivfPqSearch(spark, sf))
    assert(p.contains("ivf.parquet"), p)
    assert(p.contains("dynamicpruning"),
      s"probed-cell filter must prune inverted-list partitions:\n$p")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The only reads of the raw embeddings table are the 1-row probe
    // lookups (vec_id = 0, pushed to the scan) — every
    // candidate-sized read must come from the pruned store files.
    val corpusScans = p.split("\n").filter(_.contains("embeddings.parquet"))
    assert(corpusScans.nonEmpty &&
      corpusScans.forall(_.contains("EqualTo(vec_id,0)")),
      s"IVFADC must never scan the raw corpus beyond the probe row:\n${corpusScans.mkString("\n")}")
  }

  test("c174: filtered ANN — predicate applies on the DPP-pruned cell scan, never a corpus join") {
    val p = plan(NearDup.filteredAnn(spark, sf))
    assert(p.contains("ivf.parquet"), p)
    assert(p.contains("dynamicpruning"),
      s"probed-cell filter must prune inverted-list partitions:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // The raw embeddings table is read ONLY for the pushed 1-row
    // probe — the label predicate rides the store scan's rows.
    val corpusScans = p.split("\n").filter(_.contains("embeddings.parquet"))
    assert(corpusScans.nonEmpty &&
      corpusScans.forall(_.contains("EqualTo(vec_id,0)")),
      s"filtered ANN must not join back to the corpus:\n${corpusScans.mkString("\n")}")
  }

  test("c175: batched IVF — probe-bounded windows group-limit; one DPP-pruned list scan serves the probe union") {
    val p = plan(NearDup.batchAnnIvf(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"per-probe rank must pre-prune map-side:\n$p")
    assert(p.contains("ivf.parquet") && p.contains("dynamicpruning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c177: ingest ledger — broadcast assignment argmax, map-side cell counts, no corpus-sized shuffle join") {
    val p = plan(NearDup.incrementalIndexIngest(spark, sf))
    assert(p.contains("Broadcast"), s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // Both count aggregates must partial-aggregate map-side.
    assert(p.contains("partial_count"), p)
  }

  test("c178: apply-ingest occupancy — segment scans read ONLY the partition column, one aggregate, NO join") {
    val df = NearDup.indexApplyIngest(spark, sf)
    val p = plan(df)
    assert(p.contains("seg0.parquet") && p.contains("seg1.parquet"),
      s"must read both published segments:\n$p")
    // The occupancy query is pure partition-column metadata: no data
    // column may be read (ReadSchema empty on both scans) and no join
    // may appear anywhere.
    assert(p.contains("ReadSchema: struct<>"), s"segment scan reads data columns:\n$p")
    assert(!p.contains("Join"), s"occupancy must not join:\n$p")
    assert(p.contains("partial_sum"), p)
  }

  test("c179: rebuild-swap occupancy — one gen-2 scan, one aggregate, no join; the rebuild lives in the store write") {
    val p = plan(NearDup.indexRebuildSwap(spark, sf))
    assert(p.contains("lists_g2.parquet"), s"must read the swapped generation:\n$p")
    assert(!p.contains("seg0.parquet") && !p.contains("seg1.parquet"),
      s"gen-2 serving must not touch gen-1 segments:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("ReadSchema: struct<>"), s"gen-2 scan reads data columns:\n$p")
  }

  test("c181: MMR — the served plan is pool-bounded (checkpointed 1-row picks only; no corpus scan, no window)") {
    // The greedy chain materializes each pick via localCheckpoint at
    // build time, so the SERVED plan must contain nothing but the
    // union of those 1-row RDD scans — the corpus parquet, windows,
    // and joins have all been paid once, pool-side.
    val p = plan(NearDup.mmrRerank(spark, sf))
    assert(p.contains("ExistingRDD"), s"picks must be checkpointed:\n$p")
    assert(!p.contains("Scan parquet"), s"a corpus scan leaked into serving:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    // And the POOL plan (the one corpus pass the key pays) fuses its
    // top-k: assert on the pool kernel directly.
    val emb = Tables.t(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val probe = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(org.apache.spark.sql.functions.col("embedding").as("probe"))
    val pool = emb.crossJoin(org.apache.spark.sql.functions.broadcast(probe))
      .orderBy(org.apache.spark.sql.functions.col("vec_id"))
      .limit(NearDup.MmrPool)
    assert(plan(pool).contains("TakeOrderedAndProject"),
      s"pool shape must fuse top-k:\n${plan(pool)}")
  }

  test("a27: reshard placements are row-local (no shard fan-out join, no window)") {
    val p = plan(Migration.reshardMovement(spark, sf))
    assert(!p.contains("Window"), s"HRW argmax must be a row-local fold:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), "movement matrix must map-side combine")
  }

  test("c35: releases its embeddings working-set cache (no persist leak)") {
    NearDup.kmeansIterate(spark, sf).queryExecution.toRdd.count()
    // CacheManager matches by logical plan: if the emb cache leaked,
    // an identical plan reports its storage level.
    val probe = Tables.t(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    assert(probe.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "kmeansIterate leaked its embeddings cache")
  }

  test("c35: Lloyd rounds broadcast centroids and never go cartesian") {
    val p = plan(NearDup.kmeansIterate(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The centroid-update aggregation must partial-aggregate map-side
    // (HashAggregate), not sort the exploded (cluster, dim) stream.
    assert(p.contains("HashAggregate"), p)
  }

  test("c29: eval gram set and offender set broadcast; train side never shuffle-joins") {
    val p = plan(TextAnalysis.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join: $p")
  }

  test("c31: pipeline scan stays single-stage with a broadcast anti-join") {
    val p = plan(TextAnalysis.curateCorpus(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join: $p")
  }

  test("c28: no single-partition global window in the quantile path") {
    val p = plan(Relational.histQuantiles(spark, sf))
    assert(!p.contains("Window"), s"global window crept into the sketch: $p")
  }

  test("c12: near-dup pair join is an equi-join on the cell id, not cartesian") {
    val p = plan(NearDup.embeddingNearDup(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c12: multi-probe explode carries keys only — the embedding array never rides a probe row") {
    // SCALE.md 100×: exploding the array with the probes moves (p+1)×
    // the embedding table through the candidate Exchange. The probe
    // side must generate from a 3-column key projection and the array
    // must enter the plan only via the two post-candidate id joins.
    // (optimizedPlan, not executedPlan: AQE hides the inner tree from
    // collect(); the optimizer has already run column pruning here.)
    val plan = NearDup.embeddingNearDup(spark, sf).queryExecution.optimizedPlan
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.nonEmpty, "expected the multi-probe explode in the plan")
    for (g <- gens) {
      val cols = g.output.map(_.name)
      assert(!cols.exists(c => c.contains("embedding") || c == "ea" || c == "eb"),
        s"probe explode carries the embedding array: $cols")
      assert(g.child.output.size <= 3,
        s"probe explode input is not the key-only projection: ${g.child.output.map(_.name)}")
    }
  }

  test("c4/c12: cosine paths run the codegen'd dot kernel, not the interpreted fold") {
    // A revert to aggregate(zip_with(...)) would keep results identical
    // (ArrayDotSpec pins bit parity) but put a boxed per-element lambda
    // back in the hottest loop of every embedding operator.
    for (df <- Seq(Llm.cosineTopk(spark, sf), NearDup.embeddingNearDup(spark, sf))) {
      val p = plan(df)
      assert(p.contains("array_dot"), s"dot kernel missing from plan: $p")
      assert(!p.contains("zip_with"), s"interpreted fold back in the cosine path: $p")
    }
  }

  test("c5: corpus never explodes — centroids broadcast, cosine per row") {
    // The round-2 plan posexploded every embedding to 64 rows and
    // shuffle-joined on (label, idx): 64× corpus through an Exchange.
    // The rewrite broadcasts the n_labels-row centroid-array table, so
    // the only Exchange left is the per-label top-3 window.
    // (The centroid build still posexplodes, but its Exchange carries
    // only map-side-combined (label, idx) partials — 640 rows per
    // partition — not corpus rows.)
    val p = plan(Llm.knnPerLabel(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"centroids not broadcast: $p")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"per-vector re-aggregate shuffle (the 64x corpus Exchange) is back: $p")
  }

  test("c19: batched ANN — probes broadcast, per-probe top-k prunes map-side") {
    val p = plan(NearDup.batchAnnTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set not broadcast: $p")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed below the exchange: $p")
  }

  test("b13: range join is an equi-join on user_id with a band filter") {
    val p = plan(Windows.rangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b16 agg is two-phase (map-side partial + final) hash aggregation") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_exact_sum6"), s"no map-side partial aggregation: $p")
  }

  test("c62: prefix shortlist fuses to TakeOrderedAndProject; probe broadcasts; no cartesian blowup") {
    val p = plan(NearDup.annPrefixRerank(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"shortlist top-k not fused: $p")
    assert(p.contains("Broadcast"), s"probe/shortlist not broadcast: $p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the 50-row shortlist must broadcast-join, never SMJ the corpus: $p")
  }

  test("c63/c66: entropy and scaler aggs stay in hash aggregation with map-side combine") {
    Seq(TextAnalysis.tokenEntropy(spark, sf) -> "c63",
      NearDup.dimStandardize(spark, sf) -> "c66").foreach { case (df, k) =>
      val p = plan(df)
      assert(p.contains("HashAggregate"), s"$k: $p")
      assert(!p.contains("SortAggregate"),
        s"$k: decimal-sum agg fell back to SortAggregate (full-stream sort): $p")
      assert(p.contains("partial_"), s"$k: no map-side partial aggregation: $p")
      assert(!p.contains("CartesianProduct"), s"$k: $p")
    }
  }

  test("c65: the rank/cumsum window runs over the vocabulary, after a partial token count") {
    val p = plan(TextAnalysis.vocabCoverage(spark, sf))
    // the corpus-sized token stream must collapse (partial count) BEFORE
    // any window — the window input is the vocab-sized freq table
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c74: one exchange serves all three funnel stage windows") {
    val p = plan(Analytics.funnelConversion(spark, sf))
    // Three stacked Window operators over the same partitionBy must
    // share ONE hashpartitioning exchange — a per-stage re-shuffle
    // would triple the funnel's network cost at any corpus size.
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
    assert(p.linesIterator.count(_.contains("Window [min(")) >= 3, p)
  }

  test("c76: the (user, version) collapse reuses the window's user partitioning") {
    val p = plan(Analytics.scd2Intervals(spark, sf))
    // ClusteredDistribution(user_id, version) is satisfied by the
    // window's hashpartitioning(user_id) — a second exchange before
    // the run-collapse aggregate is the regression this pins against.
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("c77: interval overlap is a bucket EQUI-join — never a nested-loop theta join") {
    val p = plan(Analytics.intervalOverlapJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"theta join fell back to nested loop — the bucket equi-key is gone:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("c78: every BPE round reads the checkpointed vocab, not a replayed corpus scan") {
    val p = plan(TextAnalysis.bpeTrainSteps(spark, sf))
    // The plan lineage is cut per round: the documents parquet scan
    // must not appear at all in the FINAL report plan (only vocab
    // checkpoint scans do) — its presence would mean the 2^K-replay
    // shape the localCheckpoint discipline exists to prevent.
    assert(!p.contains("documents.parquet"), s"corpus scan leaked into round plan:\n$p")
  }

  test("c79: anchors broadcast and both rank branches pre-prune via WindowGroupLimit") {
    val p = plan(NearDup.hardNegatives(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"both mining branches must group-limit below their exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c85: media blobs never shuffle — probe broadcasts, top-k fuses") {
    val p = plan(Multimodal.mediaEmbedTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Broadcast"), p)
    // The binary column must not appear in any Exchange's input row —
    // only doc_id and the 8 mean doubles cross the wire.
    val exchangeInputs = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeInputs.contains("content"), s"blob crossed an exchange:\n$exchangeInputs")
  }

  test("b54: Q18's top-100 fuses to TakeOrderedAndProject; nothing cartesian") {
    val p = plan(Relational.q18LargeOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a16: latest-wins is a mergeable struct-max aggregate — no window, partial combine") {
    val p = plan(Migration.latestSnapshot(spark, sf))
    assert(!p.contains("Window"), s"snapshot must not need a window:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"struct-max must combine map-side:\n$p")
  }

  test("a24: tombstone GC is ONE mergeable aggregate + a 1-row broadcast cutoff — no window, no second log shuffle") {
    val p = plan(Migration.tombstoneGc(spark, sf))
    assert(!p.contains("Window"), s"GC must not window the log:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"argmax must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cutoff must broadcast as one row:\n$p")
    // The log is aggregated once: exactly one per-user hash exchange.
    val userExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"expected one user_id exchange, got $userExchanges:\n$p")
  }

  test("a25: cell LWW merge is ONE full-outer join on the key — no window, both replica scans co-partition") {
    val p = plan(Migration.cellLwwMerge(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("Window"), s"cell merge must be row-local after the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val orderScans = p.linesIterator.count(_.contains("orders.parquet"))
    assert(orderScans == 2, s"expected the two replica scans only, got $orderScans:\n$p")
  }

  test("b53: Q5 broadcasts the nation-region dim and pushes the date filter to the scan") {
    val p = plan(Relational.q5LocalSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("o_orderdate"), s"date filter not pushed:\n$pushed")
  }

  test("c86: the incremental merge computes both partial tables in ONE scan") {
    // r18: the delta flag joined the partial grouping key, so the
    // base and delta partial tables come from one lineitem pass (one
    // md5 per row) and the merge re-aggregates the same 12 partial
    // rows the two-scan form produced.
    val p = plan(Relational.incrementalAgg(spark, sf))
    val scans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("c87: the join key carries the salt — hot keys spread over SaltWidth partitions") {
    val p = plan(Relational.saltedJoin(spark, sf))
    val saltExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("salt"))
    assert(saltExchanges >= 2, s"both join sides must partition by (key, salt):\n$p")
  }

  test("c88: the bucketed join runs with zero exchanges and zero sorts on its inputs") {
    val p = plan(Relational.bucketedJoin(spark, TestSpark.sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("Bucketed: true"), s"scan is not bucket-aware:\n$p")
    // The ONLY hash exchange permitted is the final 3-group aggregate;
    // the join itself must be exchange-free (bucket i ⋈ bucket i).
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"bucketed join still shuffles:\n$p")
  }

  test("b57: EXISTS plans as a left-semi join — lineitem rows never duplicate matches") {
    val p = plan(Relational.q4OrderPriority(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b59: returnflag + quarter filters push to their scans; top-20 fuses; nation broadcasts") {
    val p = plan(Relational.q10ReturnedRevenue(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("l_returnflag"), s"returnflag not pushed:\n$pushed")
    assert(pushed.contains("o_orderdate"), s"quarter window not pushed:\n$pushed")
  }

  test("b58: both nation legs broadcast; the disjunctive pair residual never goes cartesian") {
    // Q7's shape promise: the (supp_nation, cust_nation) disjunction is
    // a residual AFTER two broadcast nation decorations — 25-row dims
    // must never shuffle, and the residual must never degrade the join
    // graph to a cross product. The shipdate window pushes to the
    // lineitem scan so the fact read is already windowed.
    val p = plan(Relational.q7VolumeShipping(spark, sf))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both nation legs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("l_shipdate"), s"ship window not pushed:\n$pushed")
  }

  test("b65: Q2's correlated min decorrelates to aggregates + equi-joins, dims broadcast") {
    // The scalar-subquery shape must never plan as a per-part probe:
    // one offers aggregate, one part-keyed min aggregate, equi-joined.
    val p = plan(ops.TpchSuite.q2MinCostSupplier(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"euro dim must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"offers + correlated-min aggregates must be hash aggs (partial+final):\n$p")
  }

  test("b68/b71: the global scalar threshold reads the checkpointed group table (no window, no fact re-scan)") {
    // Round 12: the group table is eagerly localCheckpoint'ed, so the
    // 1-row scalar aggregate and the filter BOTH read the materialized
    // RDD — one fact pass stays structural (the scan happened exactly
    // once, at materialization) and the round-11 partition-less window
    // over the group table is gone (§5.3 rule 9). The naive
    // two-branch form without the checkpoint re-scans the fact table:
    // AQE cannot stage-reuse the branches (not-null constraint lands
    // in one branch's scan only — measured round 11).
    for (df <- Seq(ops.TpchSuite.q11ImportantStock(spark, sf),
      ops.TpchSuite.q15TopSupplier(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("WindowExec") && !p.contains("Window,"),
        s"threshold must be a broadcast 1-row aggregate, not a window:\n$p")
      assert(!p.contains("lineitem.parquet"),
        s"fact scan must be pre-materialized (checkpointed group table), " +
          s"not re-read downstream:\n$p")
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"both branches must read the checkpointed group table:\n$p")
    }
  }

  test("c117: exactly one bit-parallel kernel; edit_sim derives from the stored edit_dist") {
    // Round 11's empty-empty guard moved edit_sim's levenshtein inside
    // a `when` branch; a CONDITIONAL subexpression defeats codegen
    // subexpression elimination, so the O(len²) kernel ran twice per
    // pair (+64% measured). Round 13 replaced the builtin with the
    // bit-parallel EditKernel expression: the plan must hold EXACTLY
    // one edit_distance evaluation (in its own projection, edit_sim
    // deriving from the stored column) and ZERO builtin levenshtein
    // calls — a second kernel is the r11 regression back, and a
    // builtin call is the 0.7 ms/pair cell-matrix walk the 100×
    // rehearsal measured as ~6 CPU-hours over its 29.7M pairs.
    val p = plan(ops.Llm.editDistancePairs(spark, sf))
    val kernels = "edit_distance".r.findAllIn(p).length
    assert(kernels == 1, s"expected exactly one edit_distance kernel, got $kernels:\n$p")
    assert(!p.contains("levenshtein"),
      s"builtin levenshtein back in the c117 plan:\n$p")
  }

  test("c158: PassJoin candidates come from a segment equi-join — no cartesian, kernel verifies in the join") {
    // The exact micro-edit join must never degenerate to all-pairs:
    // candidates are an equi-join on (xxhash64(segment), idx,
    // clean_len). Kernel shape (round 14): the `<= D` gate rides the
    // TEXT JOIN as its condition — one kernel eval per candidate, the
    // unavoidable verify work, with survivors-only flowing on — plus
    // one output-sized eval in the survivor projection. Exactly two
    // textual sites, and the brute-force shape lives only in the
    // DuckDB oracle.
    val p = plan(ops.Llm.editJoinExact(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"theta-join crept into c158:\n$p")
    val lines = p.linesIterator.toSeq
    val joinKernel = lines.count(l =>
      l.contains("Join") && l.contains("edit_distance"))
    val projKernel = lines.count(l =>
      l.trim.startsWith("+- Project [") && l.contains("edit_distance") ||
        l.trim.startsWith("Project [") && l.contains("edit_distance"))
    val total = "edit_distance".r.findAllIn(p).length
    assert(joinKernel == 1,
      s"the candidate verify must be the text join's condition:\n$p")
    assert(total == 2 && projKernel >= 1,
      s"expected join-condition + survivor-projection kernel sites, got $total:\n$p")
  }

  test("c158: segment-keyed exchanges carry ids + fixed-width keys only — text crosses once, at the kernel join") {
    // Round-13 verdict item 1: the probe/candidate pipeline must key
    // on (xxhash64(seg), seg_idx, clean_len) + ids ONLY; the ~300 B
    // document text may cross an exchange only at the final join that
    // feeds the verify kernel. Every Exchange whose partitioning
    // involves the segment hash is checked for text columns in its
    // input.
    val df = ops.Llm.editJoinExact(spark, sf)
    val fm = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sections = fm.split("\n\n")
    val segExchanges = sections.filter(s =>
      s.contains("Exchange") && s.contains("seg_h"))
    assert(segExchanges.nonEmpty, s"expected seg_h-keyed exchanges:\n$fm")
    segExchanges.foreach { s =>
      assert(!s.contains("text#") && """[\[, ]t#""".r.findFirstIn(s).isEmpty,
        s"segment-keyed exchange still carries document text:\n$s")
    }
  }

  test("b74: Q19's disjunction is one residual on one partkey join, one lineitem scan") {
    val p = plan(ops.TpchSuite.q19DisjunctiveRevenue(spark, sf))
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"the OR must not union scans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("l_quantity"), s"qty prefix of the disjunction not pushed:\n$pushed")
  }

  test("b76: Q21's double EXISTS is one grouped pass — lineitem scanned once, no cartesian") {
    val p = plan(ops.TpchSuite.q21WaitingSuppliers(spark, sf))
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"the two correlated EXISTS must fold into the grouped pass:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b61: the scalar threshold broadcasts once; dormancy is a hash anti-join") {
    val p = plan(Relational.q22DormantCustomers(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b63: unpivot is ONE Expand over ONE lineitem scan, never four unioned scans") {
    val p = plan(Relational.unpivotMetrics(spark, sf))
    assert(p.linesIterator.count(_.contains("Expand")) == 1, p)
    val scans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans:\n$p")
  }

  test("c97: both rank windows share ONE q-exchange; no fusion join; final top-k sees capped rows") {
    // r18: the two rankers' rank windows are window specs over the
    // same q-partitioning (one exchange, one `scored` evaluation)
    // and the full-outer fusion join is gone — membership in either
    // capped list filters BEFORE the final top-k window, so fusion
    // still never sorts the scored corpus.
    val p = plan(Retrieval.rrfFusion(spark, sf))
    assert(!p.contains("FullOuter"), s"fusion join crept back into c97:\n$p")
    val windows = p.linesIterator.count(_.trim.startsWith("+- Window"))
    assert(windows >= 3, s"expected the two rank windows + final top-k:\n$p")
    val qExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(q#"))
    assert(qExchanges <= 1, s"rank windows must share the q exchange:\n$p")
  }

  test("c98: wedge enumeration and closure are equi-joins — nothing cartesian") {
    val p = plan(NearDup.triangleCount(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a19: the merge is ONE full-outer join on the key — no per-op passes") {
    val p = plan(Migration.cdcApply(spark, sf))
    assert(p.contains("FullOuter"), p)
    val orderScans = p.linesIterator.count(_.contains("orders.parquet"))
    assert(orderScans == 2, s"expected base + changelog scans only, got $orderScans:\n$p")
  }

  test("c100: the classifier gate has NO join — weights compute inline per token") {
    val p = plan(TextAnalysis.linearQualityGate(spark, sf))
    assert(!p.contains("Join"), s"weight lookup must be an inline expression:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("c101: per-partition KMV prune via WindowGroupLimit — only groups×k rows shuffle") {
    val p = plan(Relational.kmvDistinct(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"KMV k-min must pre-prune map-side:\n$p")
  }

  test("c102: the bloom broadcasts as one row and prunes the probe before its exchange") {
    val p = plan(Relational.bloomSemiJoin(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the membership test must sit UNDER the probe's exchange (filter
    // before shuffle): the Filter node carrying the bit test appears
    // below the join's Exchange in the plan tree — pinned by the
    // bit-mask fragment appearing in a Filter, not a join condition
    assert(p.contains("shiftleft"), s"bloom bit test missing from plan:\n$p")
  }

  test("c105: dim pairing is an equi self-join on vec_id — never a cartesian") {
    val p = plan(Analytics.corrMatrix(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("c114: the bootstrap is ONE events scan through a Generate fan-out") {
    val p = plan(Analytics.poissonBootstrapCi(spark, sf))
    val scans = p.linesIterator.count(_.contains("events.parquet"))
    assert(scans == 2, s"replicate + base scans only, got $scans:\n$p")
    assert(p.contains("Generate"), s"sequence explode missing:\n$p")
  }

  test("a20: quantile bounds broadcast as one row onto the assignment scan") {
    val p = plan(Migration.splitPlanner(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), s"the 1-row bounds must never shuffle-join:\n$p")
  }

  test("c117: edit distance runs only on the memoized LSH pair table") {
    val p = plan(Llm.editDistancePairs(spark, sf))
    assert(p.contains("InMemoryTableScan"), s"pair memo not reused:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c64: calibration joins are id-equi over the sampled pair spine; nothing cartesian") {
    val p = plan(Llm.minhashCalibration(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row broadcast pair-count feeding
    // the audit-budget cut (the c6/c41 broadcast-total pattern); the
    // sig/sset sides join the spine as broadcast equi-joins
    assert(p.contains("BroadcastHashJoin"), p)
    // the signature/shingle passes are semi-pruned to sampled docs
    assert(p.contains("LeftSemi"), s"sampled-doc semi-prune missing: $p")
  }

  test("b77: one user_id exchange serves the window and both aggregations") {
    // HashPartitioning(user_id) satisfies the (user_id, island) and
    // user_id groupings downstream of the window — a second shuffle
    // here would double the operator's only data movement at 100 TB.
    val p = plan(Insights.intervalCoalesce(spark, sf))
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("b78: day-grain collapse happens before the spine join; no cartesian") {
    val p = plan(Insights.resampleFfill(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), s"sequence explode missing:\n$p")
  }

  test("c125: part dim broadcasts into the lineitem scan; pair join is order-equi") {
    val p = plan(Insights.basketLift(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"basket pair generation went cartesian:\n$p")
  }

  test("c126: both stage joins are user_id-equi with the window as residual") {
    val p = plan(Insights.windowFunnel(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"funnel stage join went cartesian:\n$p")
  }

  test("c121: the corpus feeds k-row sketches; pair estimation never joins gram streams") {
    val p = plan(Insights.kmvPairOverlap(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the sketch rank is per-source top-k — partial WindowGroupLimit
    // prunes each partition to local k before the exchange
    assert(p.contains("WindowGroupLimit"), s"sketch top-k unpruned:\n$p")
  }

  test("b81: the brand dim broadcasts and the cumulative windows run post-aggregate") {
    val p = plan(Insights.abcClassification(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b83: forward as-of plans as an equi-join with per-click WindowGroupLimit") {
    val p = plan(Insights.asofForward(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // rn=1 under a total order prunes partition-locally before the exchange
    assert(p.contains("WindowGroupLimit"), s"as-of top-1 unpruned:\n$p")
  }

  test("c132: shard top-m prunes map-side; no cartesian besides the 8-row threshold grid") {
    val p = plan(Insights.shardedTopkBounds(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"published lists unpruned:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c134: the conversion-touch pairing is a (user, bucket) equi-join") {
    val p = plan(Insights.linearAttribution(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"attribution pairing went cartesian:\n$p")
  }

  test("c139: the OHLC build is ONE aggregate over one events scan — no window") {
    val p = plan(Insights.tumblingOhlc(spark, sf))
    val scans = p.linesIterator.count(_.contains("events.parquet"))
    assert(scans == 1, s"expected one scan, got $scans:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window,"),
      s"bars must come from min/max-of-struct aggregation, not a window:\n$p")
  }

  test("c198: neither keeper stage goes cartesian; the pair fans ride the cluster key") {
    val p = plan(NearDup.medoidKeeper(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"keeper pair fan went cartesian:\n$p")
  }

  test("c199: the funnel is scan+aggregate+union over the published artifacts — no joins") {
    val p = plan(CurationRun.curationRun(spark, sf))
    assert(p.contains("Union"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"funnel must not re-join (the pipeline's joins ran once into the artifacts):\n$p")
  }

  test("c200: the fixture's skew pick takes the SALTED sort-merge branch") {
    val p = plan(Relational.skewAdaptiveJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), s"merge hint lost:\n$p")
    assert(p.contains("salt"), s"salt never reached the join key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c201: the plan's only broadcast is the ≤#sources pick-order table; no cartesian") {
    val p = plan(TextAnalysis.sourceOverlapPlan(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"pick-order table must broadcast onto the presence scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c202: the consumed plan broadcasts onto one corpus scan; no sort-merge, no cartesian") {
    val p = plan(TextAnalysis.weightedMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the sources-bounded plan must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
