package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {

  test("minhash-lsh emits verified pairs only (jaccard >= 0.5, a < b)") {
    val out = Dedup.d2MinhashLsh(spark, Sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  test("d2s sampled verification is exactly d2's rows at the sampled doc_a") {
    // r14: the sampled twin grades the same verification formula over the
    // 1-in-D2sMod candidate sample — it must BE the full run's subset,
    // never a re-derivation that could drift (the d7s/a22s rule)
    val d2Rows = Dedup.d2MinhashLsh(spark, Sf).collect()
    val full = d2Rows.filter(_.getAs[Long]("doc_a") % Dedup.D2sMod == 0)
    val sampled = Dedup.d2sMinhashLshSampled(spark, Sf).collect()
    assert(sampled.length === full.length,
      s"sampled ${sampled.length} vs full-subset ${full.length}")
    assert(sampled.sameElements(full))
    // the un-sampled smod=1 degenerate must reproduce d2 exactly
    val all = Dedup.d2sMinhashLshSampled(spark, Sf, smod = 1).collect()
    assert(all.sameElements(d2Rows))
  }

  test("d6s/d8s sampled chain: refinement + conservative-survivor laws") {
    // r15 (verdict r14 #3): the sampled chain's gradeable-artifact claim
    // rests on two laws. (1) REFINEMENT — d6s clusters over sampled edges
    // (a subset of d2's) must each sit inside exactly ONE full d6
    // cluster: a sampled cluster straddling two full clusters would mean
    // the twin invented an edge the full chain never verified.
    val full = Dedup.d6DupClusters(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val sampled = Dedup.d6sDupClustersSampled(spark, Sf).collect()
    assert(sampled.nonEmpty, "sf0.1 has sampled near-dup pairs")
    val byCluster = sampled.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      val fullIds = members.map(m => full(m.getAs[Long]("doc_id"))).distinct
      assert(fullIds.length === 1,
        s"sampled cluster $cid straddles full clusters ${fullIds.toSeq}")
    }
    // (2) CONSERVATIVE SURVIVORS — sampled drops ⊆ full drops (a doc that
    // isn't its sampled-cluster min is > that min ≥ the full-cluster min,
    // so the full chain drops it too): d8s ships a corpus that is a
    // SUPERSET of d8's, never one missing a doc the full chain keeps.
    val d8Ids = Dedup.d8CanonicalCorpus(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val d8sIds = Dedup.d8sCanonicalCorpusSampled(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(d8Ids.subsetOf(d8sIds),
      s"d8 survivors missing from d8s: ${(d8Ids -- d8sIds).take(5)}")
    // and the delta is exactly explicable: every extra d8s survivor must
    // be a doc the FULL chain dropped as a near-dup non-canonical
    (d8sIds -- d8Ids).foreach { id =>
      assert(full.get(id).exists(_ != id),
        s"d8s kept $id which d8 dropped for a reason other than clustering")
    }
  }

  test("simhash near-dups are within hamming 3 and agree with minhash dups") {
    val sim = Dedup.d3Simhash(spark, Sf)
    assert(sim.filter(col("hamming") > 3).count() == 0)
  }

  test("d3w wide simhash: stricter-threshold subset of d3, exact dups at hamming 0") {
    // r14: hamming <= 3 over 120 bits implies the sig0 half is within 3,
    // and d3's 15-bit pigeonhole blocking catches every such pair — so
    // every wide pair must appear in d3 with a hamming no larger than the
    // wide one's (the wide form only tightens the bar)
    val wide = Dedup.d3wSimhashWide(spark, Sf).collect()
    assert(wide.nonEmpty, "corpus has exact dups; they collide at hamming 0")
    val narrow = Dedup.d3Simhash(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    wide.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(narrow.contains(pair), s"wide pair $pair missing from d3")
      assert(r.getAs[Int]("hamming") >= narrow(pair),
        "120-bit hamming is a superset sum of the 60-bit half's")
    }
    assert(wide.exists(_.getAs[Int]("hamming") == 0),
      "exact duplicates must collide on both independent halves")
  }

  test("simhash chunk blocking is pigeonhole-complete at multiple configs") {
    // hamming <= 3 bits over c equal chunks leaves >= 1 chunk equal for any
    // c > 3 — so 4x15-bit and 6x10-bit blocking must enumerate EXACTLY the
    // same near-dup pairs (neither is a sample of the other)
    val c4 = Dedup.d3SimhashChunked(spark, Sf, chunkCount = 4).collect().map(_.toSeq).toSet
    val c6 = Dedup.d3SimhashChunked(spark, Sf, chunkCount = 6).collect().map(_.toSeq).toSet
    assert(c4.nonEmpty, "fixture must exercise at least one near-dup pair")
    assert(c4 == c6, "chunk configs disagree - pigeonhole completeness broken")
    // a config that can't guarantee completeness must be rejected loudly
    intercept[IllegalArgumentException](Dedup.d3SimhashChunked(spark, Sf, chunkCount = 3))
    intercept[IllegalArgumentException](Dedup.d3SimhashChunked(spark, Sf, chunkCount = 7))
  }

  test("exact dedup partitions the corpus") {
    val d1 = Dedup.d1ExactDup(spark, Sf)
    val total = d1.agg(sum(col("n_docs"))).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, Sf).count())
  }

  test("embedding near-dup pairs pass the cosine threshold") {
    val out = Dedup.d5EmbeddingNeardup(spark, Sf).collect()
    out.foreach(r => assert(r.getAs[Double]("similarity") >= 0.4))
  }

  test("d5 blocking dial: planes are prefix-stable, verification is dial-independent") {
    // widening the dial must never re-randomize already-pinned planes
    assert(Dedup.hyperplanes(8) == Dedup.hyperplanes(16).take(8))
    // at any bit width the dial changes only the CANDIDATE set: every
    // reported pair must carry the identical exact score the default
    // (oracle-pinned 4x4) assigns it — a dial that perturbed scores would
    // be a correctness bug, not a recall trade
    def keyed(bits: Int) = Dedup.d5EmbeddingNeardup(spark, Sf, bitsPerBand = bits)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("similarity")).toMap
    val base = keyed(4)
    Seq(2, 3).foreach { bits =>
      val dialed = keyed(bits)
      assert(dialed.nonEmpty, s"dial $bits produced no pairs on the fixture")
      dialed.keySet.intersect(base.keySet).foreach { k =>
        assert(dialed(k) == base(k), s"score drift at $bits bits on $k")
      }
    }
  }

  test("d5 closed form reproduces the measured dial curve over two decades") {
    // PLANS.md §d5-dial: recall = 1-(1-p^r)^b with p = 1 - acos(sim)/pi.
    // The nine `graft.Dial d5` measurements (sf0.1 / sf1 / sf10, ~0.02 band of
    // truth-mass over-performance) pin the model; the tolerance brackets
    // the largest observed deviation.
    val measured = Seq( // (bits, bands, measured recall, scale)
      (2, 4, 0.870, "sf0.1"), (3, 4, 0.676, "sf0.1"), (4, 4, 0.508, "sf0.1"),
      (2, 4, 0.881, "sf1"), (3, 4, 0.704, "sf1"), (4, 4, 0.522, "sf1"),
      (5, 4, 0.363, "sf1"), (4, 8, 0.771, "sf1"), (5, 8, 0.598, "sf1"),
      (10, 4, 0.050, "sf10"), (12, 4, 0.023, "sf10"), (10, 8, 0.095, "sf10"))
    measured.foreach { case (r, b, obs, sf) =>
      val pred = Dedup.d5ClosedFormRecall(r, b, 0.4)
      assert(math.abs(pred - obs) <= 0.03,
        s"closed form $pred vs measured $obs at ${r}x$b ($sf)")
    }
  }

  test("d5 operating point: cost dial from N, recall dial from the closed form") {
    // near-dup regime at warehouse scale: r pins bucket occupancy ~1k,
    // b comes off the closed form (PLANS.md §d5-dial second-decade rule)
    assert(Dedup.d5OperatingPoint(1_000_000_000L, 0.9, 0.85) == (20, 42))
    assert(Dedup.d5OperatingPoint(1_000_000_000L, 0.9, 0.90) == (20, 50))
    // the chosen point must itself satisfy its floor
    Seq((1_000L, 0.9, 0.5), (200_000L, 0.85, 0.7), (1_000_000_000L, 0.95, 0.9))
      .foreach { case (n, sim, floor) =>
        val (r, b) = Dedup.d5OperatingPoint(n, sim, floor)
        assert(Dedup.d5ClosedFormRecall(r, b, sim) >= floor, s"($n,$sim,$floor)->($r,$b)")
        assert(b <= 64)
      }
    // r grows with log2(N): +1 decade ~ +3.3 bits
    val r1 = Dedup.d5OperatingPoint(1_000_000L, 0.9, 0.8)._1
    val r2 = Dedup.d5OperatingPoint(10_000_000L, 0.9, 0.8)._1
    assert(r2 - r1 >= 3 && r2 - r1 <= 4)
    // a loose threshold at scale is INFEASIBLE and must throw, not
    // silently run a quadratic — the sf10 8x4 disk-death lesson
    val ex = intercept[IllegalArgumentException](
      Dedup.d5OperatingPoint(1_000_000_000L, 0.4, 0.8))
    assert(ex.getMessage.contains("infeasible"))
  }

  test("connected components handles a diameter-400 chain within the round cap") {
    import spark.implicits._
    // a path graph 0-1-2-...-400: worst case for plain neighbor propagation
    // (400 rounds); pointer jumping must collapse it in O(log d) <= 30
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain).collect()
    assert(labels.length == 401)
    labels.foreach(r => assert(r.getAs[Long]("lbl") == 0L,
      s"node ${r.getAs[Long]("doc_id")} not labeled with the component min"))
  }

  test("canonical corpus: no surviving exact dups, cluster canonicals survive, drops don't") {
    val surv = Dedup.d8CanonicalCorpus(spark, Sf)
    val n = surv.count()
    assert(surv.select("content_hash").distinct().count() == n)
    val clusters = Dedup.d6DupClusters(spark, Sf)
    val drops = clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    assert(surv.join(drops, Seq("doc_id")).count() == 0)
    val canonicals = clusters.select(col("cluster_id").as("doc_id")).distinct()
    assert(canonicals.join(surv, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("lsh recall: caught <= true pairs, recall in [0,1], and d2 pairs are a subset of truth") {
    val r = Dedup.d7LshRecall(spark, Sf).collect()(0)
    val nTrue = r.getAs[Long]("n_true_pairs")
    val nCaught = r.getAs[Long]("n_caught")
    val recall = r.getAs[Double]("recall")
    assert(nCaught <= nTrue)
    assert(recall >= 0.0 && recall <= 1.0)
    // every VERIFIED d2 pair is by construction a caught true pair
    assert(Dedup.d2MinhashLsh(spark, Sf).count() <= nCaught)
  }
}
