package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CurationRun, Llm, NearDup}

/** The corpus memo ([[Memo]]): every per-corpus artifact follows its
  * input table's fingerprint, so a corpus rewritten in place under a
  * live session is never served stale, in memory or on disk.
  */
class MemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Rows of `df` as a set of rendered strings. */
  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("a corpus rewritten in place rebuilds every memo, moves every store dir and unpersists the replaced frames") {
    def tmp(tag: String) = {
      val d = java.nio.file.Files.createTempDirectory(tag).toString
      graft.streaming.Streams.trackTmpDir(d); d
    }
    // `ref` holds v2 from the start: its fresh plans give the expected
    // v2 rows without touching `dir`'s cached plans.
    val (dir, ref, root) = (tmp("graft_memo"), tmp("graft_memo_ref"), tmp("graft_memo_store"))
    val docs = Tables.t(spark, TestSpark.sf0001, "documents")
    val emb = Tables.t(spark, TestSpark.sf0001, "embeddings")
    // v1: half the corpus. v2: all of it plus a re-keyed copy of v1, so
    // every memo's content changes (v2 adds exact-duplicate pairs).
    val v1Docs = docs.where(col("doc_id") % 2 === 0)
    def write(at: String, d: DataFrame, e: DataFrame): Unit = {
      d.write.mode("overwrite").parquet(Tables.path(at, "documents"))
      e.write.mode("overwrite").parquet(Tables.path(at, "embeddings"))
    }
    def writeV2(at: String) =
      write(at, docs.unionByName(v1Docs.withColumn("doc_id", col("doc_id") + 1000000L)), emb)
    write(dir, v1Docs, emb.where(col("vec_id") % 2 === 0))
    writeV2(ref)
    val memos: Seq[(String, String => DataFrame, String => DataFrame)] = Seq(
      ("lshBands", Llm.lshBands(spark, _), Llm.lshBandsPlan(spark, _)),
      ("minhashPairs", Llm.minhashPairs(spark, _), Llm.minhashPairsPlan(spark, _)),
      ("tokenSets", Llm.tokenSets(spark, _), d => Tables.t(spark, d, "documents")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tset"))),
      ("clusterLabels", NearDup.clusterLabels(spark, _), d => NearDup.connectedComponents(
        Llm.minhashPairsPlan(spark, d).select(col("doc_a").as("u"), col("doc_b").as("v")))),
      ("sampledGramTable", NearDup.sampledGramTable(spark, _),
        d => NearDup.sampledGrams(Tables.t(spark, d, "documents"))),
      ("simhashWideTable", NearDup.simhashWideTable(spark, _), NearDup.simhashValuesWide(spark, _)))
    val expected = memos.map { case (n, _, fresh) => n -> rows(fresh(ref)) }.toMap
    def counts() = Seq(NearDup.embCount(spark, dir), NearDup.docCount(spark, dir),
      NearDup.gramTableCount(spark, dir), NearDup.labelTableCount(spark, dir))
    def stores() = Seq(Llm.writeBandStore(spark, dir), NearDup.vecStorePath(spark, dir),
      CurationRun.runDir(spark, dir))
    val cm = spark.sharedState.cacheManager
    def cached(df: DataFrame) = cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
    spark.conf.set(NearDup.VecStoreDirConf, root)
    try {
      val v1 = memos.map { case (n, memo, _) => n -> memo(dir) }.toMap
      val v1Rows = v1.map { case (n, df) => n -> rows(df) }
      val (v1Counts, v1Stores) = (counts(), stores())
      // Labels are the CC kernel's checkpointed RDD, not a cached plan.
      val v1Builders = (v1 - "clusterLabels").map { case (n, df) => n -> cached(df).get }
      writeV2(dir)

      memos.foreach { case (n, memo, _) =>
        val got = rows(memo(dir))
        val (stale, fresh) = (got == v1Rows(n), got == expected(n))
        assert(!stale, s"$n serves the old corpus")
        assert(fresh, s"$n differs from a fresh build over the new corpus")
      }
      val v2Counts = counts()
      assert(v2Counts == Seq(emb.count(), docs.count() + v1Docs.count(),
        expected("sampledGramTable").size, expected("clusterLabels").size))
      v1Counts.zip(v2Counts).foreach { case (a, b) => assert(a < b, s"counts $v1Counts -> $v2Counts") }
      val v2Stores = stores()
      v1Stores.zip(v2Stores).foreach { case (a, b) => assert(a != b, s"store dir $a survived the rewrite") }
      assert(new java.io.File(v2Stores.head).getParent == root,
        "the band store is not under the vec-store root")
      // The old plan and the new one over the same path are one plan to
      // the CacheManager, so "unpersisted" means: whatever it finds for
      // the old frame is not the old frame's cache buffer.
      v1Builders.foreach { case (n, builder) =>
        assert(!cached(v1(n)).exists(_ eq builder), s"$n: the replaced frame is still persisted")
      }
    } finally spark.conf.unset(NearDup.VecStoreDirConf)
  }
}
