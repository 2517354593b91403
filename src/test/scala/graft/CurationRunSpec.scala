package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CurationRun, RunLedger}

/** c199 orchestration contract: stage artifacts are atomic,
  * `_SUCCESS`-gated resume units; a killed run resumes without
  * recomputing finished stages; torn artifacts are rebuilt; a
  * manifest/artifact divergence refuses to resume (MigrationSpec's
  * kill/resume discipline applied to the staged curation dataflow).
  * The funnel VALUES are hash-verified by the driver's DuckDB gate —
  * these tests pin the orchestration semantics around them.
  */
class CurationRunSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_c199_spec").toString

  private def successOf(dir: String, i: Int) =
    new java.io.File(new java.io.File(dir, CurationRun.stageFile(i)), "_SUCCESS")

  private lazy val dirA: String = {
    val d = freshDir()
    CurationRun.ensureRun(spark, sf, d)
    d
  }

  /** Each stage's run-ledger unit: (stage name, stage number). */
  private val allStages = (0 to 5).map(i => (CurationRun.StageNames(i), i)).toSet

  private lazy val funnelA =
    CurationRun.funnel(spark, dirA).collect().map(_.toSeq).toSeq

  test("full run publishes six gated stage artifacts, a CRC manifest, and a non-trivial funnel") {
    (0 to 5).foreach(i => assert(successOf(dirA, i).exists(),
      s"stage $i artifact not published"))
    val m = RunLedger.readManifest(dirA)
    assert(m.keySet == allStages, s"manifest incomplete: ${m.keySet}")
    assert(funnelA.nonEmpty)
    // the funnel is a genuine funnel: per-stage total docs never grow
    val totals = funnelA.groupBy(_.head.asInstanceOf[Long])
      .view.mapValues(_.map(_(3).asInstanceOf[Long]).sum).toMap
    (0 to 4).foreach(i => assert(totals(i.toLong) >= totals(i + 1L),
      s"stage ${i + 1} grew the corpus: $totals"))
    // and every stage genuinely gated something on this fixture
    assert(totals(5L) < totals(0L), "pipeline dropped nothing - fixture vacuous")
  }

  test("kill/resume: a run killed after stage 2 resumes without recomputing finished stages") {
    val d = freshDir()
    CurationRun.ensureRun(spark, sf, d, upTo = 2)
    (0 to 2).foreach(i => assert(successOf(d, i).exists()))
    (3 to 5).foreach(i => assert(!successOf(d, i).exists(),
      s"stage $i ran past the kill point"))
    val mtimes = (0 to 2).map(i => successOf(d, i).lastModified())
    CurationRun.ensureRun(spark, sf, d)
    (0 to 5).foreach(i => assert(successOf(d, i).exists()))
    (0 to 2).foreach(i => assert(successOf(d, i).lastModified() == mtimes(i),
      s"stage $i was recomputed on resume"))
    val funnelB = CurationRun.funnel(spark, d).collect().map(_.toSeq).toSeq
    assert(funnelB == funnelA, "resumed run diverged from the single-shot run")
  }

  test("a torn stage artifact (directory without _SUCCESS) is wiped and rebuilt") {
    val d = freshDir()
    CurationRun.ensureRun(spark, sf, d)
    val s4 = new java.io.File(d, CurationRun.stageFile(4))
    assert(successOf(d, 4).delete())
    val junk = new java.io.File(s4, "part-torn.parquet.tmp")
    val w = new java.io.FileWriter(junk); w.write("torn"); w.close()
    CurationRun.ensureRun(spark, sf, d)
    assert(successOf(d, 4).exists(), "torn stage was not rebuilt")
    assert(!junk.exists(), "torn content survived the rebuild")
    val funnelC = CurationRun.funnel(spark, d).collect().map(_.toSeq).toSeq
    assert(funnelC == funnelA)
  }

  test("a manifest line diverging from its artifact refuses resume; a torn tail line heals") {
    val d = freshDir()
    CurationRun.ensureRun(spark, sf, d)
    val mf = new java.io.File(d, "manifest.tsv")
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toVector
    // torn tail: a partial append (no CRC) must be dropped on read,
    // then healed by the next run
    val w0 = new java.io.FileWriter(mf, true); w0.write("pack\t5\t99"); w0.close()
    assert(RunLedger.readManifest(d).keySet == allStages)
    CurationRun.ensureRun(spark, sf, d) // must not throw
    // now a VALID-CRC line whose rows contradict the artifact: resume
    // must refuse rather than curate from corrupt state
    val tampered = lines.map { l =>
      val f = l.split("\t")
      if (f(1) == "3") {
        val payload = s"${f(0)}\t3\t${f(2).toLong + 7}\t${f(3)}"
        payload + "\t" + RunLedger.lineCrc(payload)
      } else l
    }
    val w = new java.io.FileWriter(mf, false)
    w.write(tampered.mkString("", "\n", "\n")); w.close()
    val e = intercept[IllegalStateException] {
      CurationRun.ensureRun(spark, sf, d)
    }
    assert(e.getMessage.contains("refusing to resume"))
  }

  test("a torn manifest tail is truncated before the next append, so the healed line is trusted") {
    // A kill mid-append leaves a newline-less fragment. The next
    // append must drop it first: glued onto the fragment, the healed
    // line would fail its CRC and the stage would stay unrecorded.
    val d = freshDir()
    CurationRun.ensureRun(spark, sf, d)
    val mf = new java.io.File(d, "manifest.tsv")
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toVector
    val (stage3, others) = lines.partition(_.split("\t")(1) == "3")
    assert(stage3.size == 1, s"expected one stage-3 line: $lines")
    val w = new java.io.FileWriter(mf, false)
    w.write(others.mkString("", "\n", "\n") + stage3.head.take(stage3.head.length / 2))
    w.close()
    assert(!RunLedger.readManifest(d).contains(("quality", 3)))
    CurationRun.ensureRun(spark, sf, d)
    val artifact = spark.read.parquet(new java.io.File(d, CurationRun.stageFile(3)).toString)
    assert(RunLedger.readManifest(d).get(("quality", 3)) ==
      Some(RunLedger.countAndChecksum(artifact)),
      "stage 3's healed line was not recorded with the artifact's (rows, checksum)")
    assert(RunLedger.readManifest(d).keySet == allStages)
  }
}
