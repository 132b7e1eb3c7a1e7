package graft

import org.apache.spark.sql.functions.col

import graft.ann.{Ann, Pq, Router}

/** The a-family's auto operating points (r12, verdict #1 — the d5 chooser
  * pattern applied to the ANN dials whose static defaults the repo's own
  * clustered-corpus study showed failing: rerankDepth=50 recovering 0.052
  * recall at 3,125/cluster, nlists=8 scanning 37.5% at 8x the aligned
  * cost). These specs prove (a) the closed form encodes the measured laws
  * with sane values, (b) the auto entry points are exactly the explicit
  * paths at the chooser's dials, (c) the oracle-registered queries still
  * run the pinned literals, and (d) both infeasibility throws and the
  * fixed-Q guard are reachable through the public entries. */
class AnnAutoSpec extends SparkSpec {

  test("nlistsFor follows the sqrt law with the measured floor and cap") {
    assert(Ann.nlistsFor(1L) === 8, "tiny corpora keep the oracle floor")
    assert(Ann.nlistsFor(64L) === 8)
    assert(Ann.nlistsFor(200000L) === 448, "sqrt growth (sf10 clustered corpus)")
    assert(Ann.nlistsFor(Long.MaxValue / 4) === 65536, "centroid-broadcast cap")
    intercept[IllegalArgumentException](Ann.nlistsFor(0L))
  }

  test("rerank ratio inverts the measured recall curve monotonically") {
    // pinned anchors from PLANS §clustered-corpus (sf1 occ~313, sf10 ~3125)
    assert(math.abs(Ann.rerankRatioFor(0.803) - 0.64) < 1e-9)
    assert(math.abs(Ann.rerankRatioFor(0.052) - 0.016) < 1e-9)
    assert(Ann.rerankRatioFor(0.01) === 0.016, "floors below the curve clamp low")
    val rs = Seq(0.05, 0.2, 0.5, 0.8, 0.9, 0.95, 0.99).map(Ann.rerankRatioFor)
    assert(rs === rs.sorted, s"ratio must be monotone in the floor: $rs")
    assert(rs.last <= 2.56 + 1e-9, "never extrapolates past the measured range")
  }

  test("annOperatingPoint encodes both laws and both refusals") {
    // the sf10 clustered corpus's own numbers: 200k vectors, ~3125/cluster
    val p = Ann.annOperatingPoint(200000L, 3125L, 0.95)
    assert(p.nlists === 448 && p.nprobe === 3)
    // the third-decade splinter law: 448 deterministic centroids over 64
    // true clusters duplicate ~7x, and every splinter list must be probed
    // (measured: recall 0.763 under the 0.9 floor at nprobe=3)
    val ps = Ann.annOperatingPoint(200000L, 3125L, 0.95, splinter = 7)
    assert(ps.nprobe === 7 && ps.nlists === 448)
    assert(Ann.annOperatingPoint(200000L, 3125L, 0.95, splinter = 2).nprobe === 3,
      "small splinters keep the measured constant 3")
    // a splinter past the scan budget means the corpus is one giant crowd
    // at this nlists — refuse rather than scan wearing an index hat
    val exS = intercept[IllegalArgumentException](
      Ann.annOperatingPoint(200000L, 3125L, 0.95, splinter = 200))
    assert(exS.getMessage.contains("splinters"))
    assert(p.rerankDepth > 3125 && p.rerankDepth < 65536,
      s"R=${p.rerankDepth} must cover occupancy (R ~ 1-2x occ law)")
    // structure-less regime: the floor IS the scanned fraction — refuse
    val ex1 = intercept[IllegalArgumentException](
      Ann.annOperatingPoint(200000L, 450L, 0.9, clusteredRegime = false))
    assert(ex1.getMessage.contains("infeasible"))
    // single-crowd corpus: no feasible shortlist depth — refuse
    val ex2 = intercept[IllegalArgumentException](
      Ann.annOperatingPoint(500L, 499L, 0.99))
    assert(ex2.getMessage.contains("infeasible"))
  }

  test("splinterEstimate sees no centroid near-duplicates on structure-less data") {
    val n = graft.rag.Search.corpus(spark, Sf).count()
    assert(Ann.splinterEstimate(spark, Sf, Ann.nlistsFor(n)) === 1,
      "random 64-dim unit vectors are near-orthogonal — no pair past tau")
  }

  test("a2 auto == a2 explicit at the chooser's operating point") {
    val n = graft.rag.Search.corpus(spark, Sf).count()
    val occ = Ann.occupancyEstimate(spark, Sf, Ann.nlistsFor(n))
    val spl = Ann.splinterEstimate(spark, Sf, Ann.nlistsFor(n))
    val p = Ann.annOperatingPoint(n, occ, 0.9, splinter = spl)
    val auto = Ann.a2KnnIvfAuto(spark, Sf, recallFloor = 0.9)
      .collect().map(_.toSeq).toSeq
    val explicitly = Ann.a2KnnIvf(spark, Sf, p.nlists, p.nprobe)
      .collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty, "fixture must produce neighbors")
    assert(auto === explicitly,
      s"a2 auto at ${p.nlists}x${p.nprobe} diverged from the explicit dials")
  }

  test("a7 auto == a7 explicit at the chooser's rerank depth") {
    val n = graft.rag.Search.corpus(spark, Sf).count()
    val occ = Ann.occupancyEstimate(spark, Sf, Ann.nlistsFor(n))
    val p = Ann.annOperatingPoint(n, occ, 0.9)
    val auto = Pq.a7PqRerankAuto(spark, Sf, recallFloor = 0.9)
      .collect().map(_.toSeq).toSeq
    val explicitly = Pq.a7PqRerank(spark, Sf, rerankDepth = p.rerankDepth)
      .collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty, "fixture must produce rerank results")
    assert(auto === explicitly,
      s"a7 auto at R=${p.rerankDepth} diverged from the explicit depth")
  }

  test("a7 auto on a corpus of at most 121 vectors refuses only on the depth law") {
    // n <= 121 gives 8-11 lists, where the IVF law's smallest nprobe (3)
    // already exceeds a quarter of them: ivf_flat is infeasible. a7 probes
    // no lists, so it must serve at the depth the router prices for it.
    val dir = tempDir("graft_a7small").toString
    spark.read.parquet(s"$Sf/embeddings.parquet").filter(col("vec_id") < 120L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val n = graft.rag.Search.corpus(spark, dir).count()
    val nl = Ann.nlistsFor(n)
    val d = Router.route(n, Ann.occupancyEstimate(spark, dir, nl),
      Ann.splinterEstimate(spark, dir, nl), 0.9, Router.ComputeBound)
    assert(n <= 121L && d.nprobe === -1 && d.rerankDepth > 0,
      s"fixture must have the IVF law infeasible and the depth law feasible: $d")
    val auto = Pq.a7PqRerankAuto(spark, dir, recallFloor = 0.9)
      .collect().map(_.toSeq).toSeq
    val explicitly = Pq.a7PqRerank(spark, dir, rerankDepth = d.rerankDepth)
      .collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty, "fixture must produce rerank results")
    assert(auto === explicitly,
      s"a7 auto diverged from a7 at the priced depth R=${d.rerankDepth}")
  }

  test("registered a2/a7 still run the pinned literals untouched by auto") {
    val regA2 = SparkEntry.queries("a2_knn_ivf")(spark, Sf).collect().map(_.toSeq).toSeq
    val litA2 = Ann.a2KnnIvf(spark, Sf).collect().map(_.toSeq).toSeq
    assert(regA2 === litA2, "registered a2 drifted from the pinned 8x3 default")
    val regA7 = SparkEntry.queries("a7_pq_rerank")(spark, Sf).collect().map(_.toSeq).toSeq
    val litA7 = Pq.a7PqRerank(spark, Sf).collect().map(_.toSeq).toSeq
    assert(regA7 === litA7, "registered a7 drifted from the pinned R=50 default")
  }

  test("infeasible floors throw THROUGH the auto entries; fixed-Q guards") {
    // structure-less regime at a floor past the scan budget refuses via
    // the public a2 entry, not just the chooser
    val ex = intercept[IllegalArgumentException](
      Ann.a2KnnIvfAuto(spark, Sf, recallFloor = 0.9, clusteredRegime = false))
    assert(ex.getMessage.contains("infeasible"))
    val exQ = intercept[IllegalArgumentException](
      Ann.fixedQGuard(Ann.MaxFixedQRows + 1, "spec"))
    assert(exQ.getMessage.contains("fixed-Q"))
  }
}
