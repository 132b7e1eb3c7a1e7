package graft

import graft.dedup.Dedup

/** The d6-FULL bounded-disk path (r17, verdict r16 #8): residue passes
  * partition d2's candidate set exactly, so the staged multipass pair set
  * — and the cluster report over it — is byte-equal to the registered
  * single-job queries. What the multipass buys (per-pass spill bounded by
  * 1/passes of the verify stream) is the measured sf100d artifact; what
  * this spec pins is that it buys it WITHOUT changing a single output row,
  * plus the resume contract and the staged-oracle formula sharing. */
class MultipassDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def freshStaging(): String =
    tempDir("graft_d2mp").toString

  test("residue passes partition the candidates: multipass pairs == d2 exactly") {
    val staging = freshStaging()
    val mp = Dedup.d2MultipassPairs(spark, dir, passes = 4, staging)
    assert(mp.orderBy("doc_a", "doc_b").collect().toSeq ===
      Dedup.d2MinhashLsh(spark, dir).collect().toSeq)
    // disjoint: no candidate lands in two residue classes
    assert(mp.count() === mp.select("doc_a", "doc_b").distinct().count())
    // smod=1 degenerate: ONE pass is the full set too
    val one = Dedup.d2MultipassPairs(spark, dir, passes = 1, freshStaging())
    assert(one.orderBy("doc_a", "doc_b").collect().toSeq ===
      Dedup.d2MinhashLsh(spark, dir).collect().toSeq)
  }

  test("d6 over the multipass pair set == the registered d6 report") {
    assert(Dedup.d6DupClustersFull(spark, dir, passes = 3, freshStaging())
      .collect().toSeq ===
      Dedup.d6DupClusters(spark, dir).collect().toSeq)
  }

  test("a completed pass is not recomputed on re-entry") {
    val staging = freshStaging()
    Dedup.d2MultipassPairs(spark, dir, passes = 2, staging).count()
    val marker = java.nio.file.Paths.get(s"$staging/pass_0/_SUCCESS")
    val t1 = java.nio.file.Files.getLastModifiedTime(marker)
    Dedup.d2MultipassPairs(spark, dir, passes = 2, staging).count()
    assert(java.nio.file.Files.getLastModifiedTime(marker) === t1,
      "pass_0 was rewritten although its _SUCCESS marker existed")
  }

  test("the FULL-chain deliverables over the multipass clustering == registered") {
    val staging = freshStaging()
    assert(Dedup.d8CanonicalCorpusFull(spark, dir, 3, staging).collect().toSeq ===
      Dedup.d8CanonicalCorpus(spark, dir).collect().toSeq)
    assert(graft.pipeline.Pipeline.p1TrainingMixFull(spark, dir, 3, staging)
      .collect().toSeq ===
      graft.pipeline.Pipeline.p1TrainingMix(spark, dir).collect().toSeq)
    assert(graft.pipeline.Pipeline.p5SplitLeakageFull(spark, dir, 3, staging)
      .collect().toSeq ===
      graft.pipeline.Pipeline.p5SplitLeakage(spark, dir).collect().toSeq)
    // p8f carries the raw token column instead of d13's scrub count (the
    // p8s narrowing it KEEPS); every other column — including the
    // full-clustering neardup_drop the sampled twin could only bound — is
    // the registered p8's, byte-equal once both token columns drop
    val p8f = graft.pipeline.Pipeline.p8fCurationAuditFull(spark, dir, 3, staging)
    val p8 = graft.pipeline.Pipeline.p8CurationAudit(spark, dir)
    assert(p8f.columns.toSeq.filterNot(_ == "n_tokens") ===
      p8.columns.toSeq.filterNot(_ == "n_tokens_clean"))
    assert(p8f.drop("n_tokens").collect().toSeq ===
      p8.drop("n_tokens_clean").collect().toSeq)
  }

  test("r6 full-Q assembly over query-residue passes == the registered r6") {
    val staging = freshStaging()
    val full = graft.rag.RagOps.r6ContextAssemblyFull(spark, dir, 3, staging)
    assert(full.collect().toSeq ===
      graft.rag.RagOps.r6ContextAssembly(spark, dir).collect().toSeq)
    // residue classes partition the query set: no query assembled twice
    assert(full.count() === full.select("query_id").distinct().count())
  }

  test("d3 full over cv-residue passes == the registered d3") {
    val full = Dedup.d3SimhashFull(spark, dir, 3, freshStaging())
    assert(full.collect().toSeq ===
      Dedup.d3Simhash(spark, dir).collect().toSeq)
    // the final distinct folded every cross-residue re-detection
    assert(full.count() === full.select("doc_a", "doc_b").distinct().count())
  }

  test("the flip extras are built from the registered oracles' fragments") {
    val ex = Dedup.flipExtras(13).map(e => e.name -> e).toMap
    // d3: the registered oracle IS sig-builder + chunk-tail; the staged
    // passes carry the same builders with only the residue predicates
    assert(Dedup.oracle("d3_simhash") ===
      Dedup.d3SigCtes("documents") + Dedup.d3ChunkTail("", ordered = true))
    assert(ex("d3_sig_stage").passSql.contains(
      Dedup.d3SigCtes("documents WHERE doc_id % 13 = {R}")))
    assert(ex("d3_simhash_full").requires === Seq("d3_sig_stage"))
    // d11: the dup test is ONE fragment in both forms
    assert(Dedup.oracle("d11_dup_text_fraction").contains(Dedup.D11DupCaseSql))
    assert(ex("d11_dup_text_fraction_full").passSql.contains(Dedup.D11DupCaseSql))
    // d13: registered body == builder at its defaults; the staged pass
    // carries the same body over docsr + the precomputed df table
    assert(Dedup.oracle("d13_scrubbed_corpus").contains(Dedup.D13ScrubCteBody))
    assert(ex("d13_scrubbed_corpus_full").passSql.contains(
      Dedup.d13ScrubCteBody("docsr", "SELECT h, df FROM t_dfh2")))
  }

  test("the staged oracle shares its formulas with the registered oracles") {
    // the verify predicate is ONE fragment: registered d6/d6s carry it...
    assert(SparkEntry.oracleSql("d6_dup_clusters").contains(Dedup.JaccVerifyPredSql))
    assert(SparkEntry.oracleSql("d6s_dup_clusters_sampled").contains(Dedup.JaccVerifyPredSql))
    // ...and the d2 oracle spells the same expression (its WHERE clause)
    assert(SparkEntry.oracleSql("d2_minhash_lsh").contains(Dedup.JaccVerifyPredSql))
    // the staged plan carries the fragment in its per-residue pass, plus
    // the shl/sig/band constructions, and parses as the JSON contract
    // d6_full_check.py consumes
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(Dedup.d6FullOracleJson(5))
    assert(root.path("passes").asInt() === 5)
    assert(root.path("pass_sql").asText().contains(Dedup.JaccVerifyPredSql))
    assert(root.path("pass_sql").asText().contains("doc_a % 5 = {R}"))
    val setup = root.path("setup")
    assert(setup.size() === 4)
    assert(setup.get(0).asText().startsWith("CREATE TABLE IF NOT EXISTS t_shl"))
    // the signature/band fragments in t_cand are the registered d2
    // oracle's own text, not a re-spelling
    val candSql = setup.get(1).asText()
    val d2Sql = SparkEntry.oracleSql("d2_minhash_lsh")
    Seq("AS sig0", "AS sig15").foreach { frag =>
      val line = candSql.linesIterator.find(_.contains(frag)).get.trim
      assert(d2Sql.contains(line), s"sig fragment drifted: $line")
    }
    val bandLine = candSql.linesIterator.find(_.contains("CASE b")).get.trim
    assert(d2Sql.contains(bandLine), s"band fragment drifted: $bandLine")
  }
}
