package graft

/** Standalone ANN-recall measurement (dev/rehearsal entry point):
  * runs [[Verify.annRecallReport]] — c13/c38 recall@5 and c12 banded
  * pair recall vs the exact brute-force oracle — on
  * `SPARK_GRAFT_SF_DIR`, which only needs the embeddings table.
  * Verify embeds the same report into ACCURACY.json at the driver's
  * fixture; this main exists so the 10×/100× scale corpora (documents
  * + embeddings only, no lineitem) can be measured too (SCALE.md's
  * recall ladder). `SPARK_GRAFT_CONF='spark.graft.c12ProbeHamming=2'`
  * widens c12's multi-probe for the run, so the ladder can measure the
  * low-band recall the wider probing buys.
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = "{\n\"sf_dir\": \"" + sfDir + "\",\n" +
      Verify.annRecallReport(spark, sfDir) + "\n}"
    spark.stop()
    println(report)
  }
}
