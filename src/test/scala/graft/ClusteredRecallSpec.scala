package graft

import org.apache.spark.sql.functions._

import graft.ann.{Ann, Pq}

/** Regression gate for the clustered-corpus ANN laws (r12, verdict #4):
  * the r11 study's numbers live in PLANS §clustered-corpus and
  * CLUSTERED_r{N}.json, but an artifact is only a record — this spec
  * re-measures the headline law on the 64-Gaussian corpus at sf0.1 (2k
  * vectors, ~31/cluster) every test run, so a quietly broken index build
  * (which the uniform driver corpus's oracles cannot see — there recall
  * ~ scanned fraction no matter what) fails a named test instead of
  * drifting silently. Bands sit just under the measured values (1.000 at
  * both dials, three scales) to absorb nothing — any real
  * assignment/probe regression lands far below them.
  *
  * The corpus is generated into a temp dir before the suite by
  * tools/clustered_embeddings.py (deterministic, about a second). The
  * tests cancel only when python3 with numpy and pyarrow is missing. */
class ClusteredRecallSpec extends SparkSpec {

  private lazy val toolchain: Boolean = scala.util.Try(
    scala.sys.process.Process(Seq("python3", "-c", "import numpy, pyarrow")).! == 0
  ).getOrElse(false)

  private lazy val Dir: String = {
    val d = tempDir("graft_clustered").toString + "/sf0.1"
    val rc = scala.sys.process.Process(
      Seq("python3", "tools/clustered_embeddings.py", "2000", d)).!
    require(rc == 0, s"tools/clustered_embeddings.py exited $rc")
    d
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (toolchain) Dir: Unit
  }

  private val Missing = "python3 with numpy + pyarrow is needed to generate the clustered corpus"

  private def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
    Pq.recallVsBruteForce(spark, Dir, approx)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)

  test("aligned 64x1 IVF holds the measured law: recall ~1.0 at 1.6% scanned") {
    assume(toolchain, Missing)
    val rec = meanRecall(Ann.a2KnnIvf(spark, Dir, nlists = 64, nprobe = 1))
    assert(rec >= 0.99,
      f"64x1 recall $rec%.3f < 0.99 — the index build broke the measured " +
        "clustered-corpus law (PLANS §clustered-corpus: 1.000 at every scale)")
  }

  test("the auto operating point honors its recall floor on clustered data") {
    assume(toolchain, Missing)
    val rec = meanRecall(Ann.a2KnnIvfAuto(spark, Dir, recallFloor = 0.9))
    assert(rec >= 0.9,
      f"a2 auto recall $rec%.3f under its promised 0.9 floor on the corpus " +
        "the chooser's laws were measured on")
  }

  test("a22's rerank restores what pure ADC loses inside clusters (r13)") {
    assume(toolchain, Missing)
    // measured at sf0.1-clustered: a13 (pure ADC within probed lists)
    // 0.400 — the 8-byte codes cannot order intra-cluster near-duplicates
    // — while a22's exact rerank of the same probed shortlist recovers
    // 0.995. The gate pins the GAP, not just a level: rerank must beat
    // ADC-only by a wide margin on clusterable data or the refine stage
    // has quietly stopped reranking.
    val adc = meanRecall(Pq.a13IvfPqTopK(spark, Dir))
    val rr = meanRecall(Pq.a22IvfPqRerank(spark, Dir))
    assert(rr >= 0.95, f"a22 recall $rr%.3f < 0.95 on the clustered corpus")
    assert(rr >= adc + 0.3,
      f"a22 ($rr%.3f) must far exceed pure-ADC a13 ($adc%.3f) — the " +
        "rerank stage is the whole point of the refine shape")
  }

  test("the routed dispatch honors the floor in both regimes (r13)") {
    assume(toolchain, Missing)
    import graft.ann.Router
    Seq(Router.ComputeBound, Router.IoBound).foreach { reg =>
      val rec = meanRecall(Router.aRouteTopk(spark, Dir, recallFloor = 0.9, regime = reg))
      assert(rec >= 0.9,
        f"routed dispatch (${reg.name}) recall $rec%.3f under the 0.9 floor")
    }
  }
}
