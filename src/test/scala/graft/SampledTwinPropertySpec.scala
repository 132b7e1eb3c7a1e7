package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.DetHash

/** r16 (verdict r15 #5): the sampled-twin laws, fuzzed over the sample
  * modulus instead of pinned at the shipped dial. The d2s→d6s→d8s→p1s/p5s
  * chain rests on three laws — SAMPLING (the twin's pair stream IS the
  * doc_a-mod filter of the full stream), REFINEMENT (sampled edges ⊆ full
  * edges ⇒ every sampled cluster sits inside exactly one full cluster) and
  * CONSERVATISM (sampled drops ⊆ full drops; every sampled leak maps to a
  * full leak) — previously spec-pinned only at smod=13 (and smod=1 for
  * d2s). Here every law is asserted for smod ∈ {1, 2, 13, 101}, with
  * smod=1 additionally required to DEGENERATE to the full chain exactly.
  * The d7s ground truth rests on the same SAMPLING law (its truth pairs
  * are the full truth set's doc_a-mod slice), asserted over the same
  * moduli. r6s's query-thinning rule gets the same treatment: the thinned
  * twin must be the exact query-id restriction of the full assembly at
  * every thinning factor. */
class SampledTwinPropertySpec extends SparkSpec {

  test("pair-sampling, refinement, and conservatism laws hold for every " +
       "smod in {1, 2, 13, 101}; smod=1 degenerates to the full chain") {
    val fullPairsDf = Dedup.d2MinhashLsh(spark, Sf).select("doc_a", "doc_b")
    val fullPairs = fullPairsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fullPairs.nonEmpty, "fixture must have verified near-dup pairs")
    val fullCc = Dedup.connectedComponents(fullPairsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def split(docId: Long): String = {
      val b = DetHash.h60Local(s"split$docId") % 10
      if (b < 8) "train" else if (b == 8) "val" else "test"
    }
    def leaks(cc: Map[Long, Long]): Set[Long] =
      cc.groupBy(_._2).collect {
        case (lbl, ms) if ms.keys.map(split).toSet.size > 1 => lbl
      }.toSet
    val fullLeaks = leaks(fullCc)
    val fullDrops = fullCc.collect { case (d, l) if d != l => d }.toSet

    for (smod <- Seq(1, 2, 13, 101)) {
      val sampledDf = Dedup.d2sMinhashLshSampled(spark, Sf, smod)
        .select("doc_a", "doc_b")
      val sampled = sampledDf.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // SAMPLING: the twin IS the doc_a-mod restriction of the full stream
      assert(sampled === fullPairs.filter(_._1 % smod == 0),
        s"smod=$smod: sampled pairs are not the doc_a % $smod slice")
      val scc = Dedup.connectedComponents(sampledDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // REFINEMENT: two docs sharing a sampled label share the full label
      scc.groupBy(_._2).foreach { case (lbl, ms) =>
        val fullLbls = ms.keys.map(fullCc).toSet
        assert(fullLbls.size == 1,
          s"smod=$smod: sampled cluster $lbl spans full clusters $fullLbls")
      }
      // CONSERVATISM (d8s/p1s): sampled drops ⊆ full drops
      val sDrops = scc.collect { case (d, l) if d != l => d }.toSet
      assert(sDrops.subsetOf(fullDrops),
        s"smod=$smod: twin invented drops ${sDrops -- fullDrops}")
      // CONSERVATISM (p5s): every sampled leak maps to a reported full leak
      leaks(scc).foreach { lbl =>
        assert(fullLeaks.contains(fullCc(lbl)),
          s"smod=$smod: sampled leak $lbl has no full counterpart")
      }
      if (smod == 1) {
        // DEGENERACY: the 1-in-1 twin IS the full chain
        assert(sampled === fullPairs, "smod=1 pair stream diverged")
        assert(scc === fullCc, "smod=1 clustering diverged")
      }
    }
  }

  test("sampled-truth law: the sampled truth pairs are the full truth " +
       "set's doc_a-mod slice for every smod in {1, 2, 13, 101}; d7s grades " +
       "d7's candidate index") {
    def pairs(smod: Option[Int]): Seq[(Long, Long)] =
      Dedup.truthPairs(spark, Sf, smod).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val full = pairs(None)
    assert(full.nonEmpty, "fixture must have ground-truth near-dup pairs")
    for (smod <- Seq(1, 2, 13, 101)) {
      val sampled = pairs(Some(smod))
      assert(sampled === full.filter(_._1 % smod == 0),
        s"smod=$smod: sampled truth is not the doc_a % $smod slice")
      if (smod == 1) assert(sampled === full, "smod=1 truth diverged")
    }
    val d7 = Dedup.d7LshRecall(spark, Sf).collect().head
    val d7s = Dedup.d7sLshRecallSampled(spark, Sf).collect().head
    assert(d7s.getAs[Long]("n_lsh_candidates") === d7.getAs[Long]("n_lsh_candidates"))
    assert(d7s.getAs[Long]("n_true_pairs") === full.count(_._1 % Dedup.D7sMod == 0))
  }

  test("r6s query-thinning law: the twin is the exact query-id " +
       "restriction of the full assembly at every thinning factor") {
    val full = graft.rag.RagOps.r6ContextAssembly(spark, Sf, qmod = 100)
      .collect().map(_.toSeq).toSeq
    assert(full.nonEmpty)
    for (t <- Seq(1, 2, 13)) {
      val qmod = 100 * t
      val thin = graft.rag.RagOps.r6ContextAssembly(spark, Sf, qmod = qmod)
        .collect().map(_.toSeq).toSeq
      val restricted = full.filter(r => r.head.asInstanceOf[Long] % qmod == 0)
      assert(thin === restricted,
        s"thinning $t: twin is not the query-id % $qmod restriction " +
          s"(${thin.length} vs ${restricted.length} rows)")
    }
  }
}
