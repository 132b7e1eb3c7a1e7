package graft.rag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ann.Stages
import graft.functions.Vec
import graft.sources.{Artifact, Warehouse}

/** Vector search (SURVEY.md §2.B3-B5, B8, §2.D1) — the reference's
  * `rag_search` / `find_similar_documents` / `compute_similarity` re-expressed
  * as broadcast-join cosine top-k.
  *
  * Reference semantics: /root/reference/mcp_synaptic/rag/database/search.py
  * (embed query -> kNN -> similarity = max(0, 1-distance) -> threshold ->
  * limit, ranked), rag/retrieval.py:find_similar_documents (search by a doc's
  * own vector, exclude self), rag/embeddings/manager.py:compute_similarity
  * (cosine). Thresholds are settings in the reference (default 0.7); here
  * they're fixed per query at values matched to the synthetic data's cosine
  * distribution (max pairwise ~0.5) so results are non-trivial.
  *
  * Scale design (§6): the query side is always small — it is `broadcast()`,
  * the 100 TB corpus side streams through a single narrow scan stage; cosine
  * is computed with codegen'd higher-order functions (no UDF); per-query
  * top-k is a window over (query_id) — at scale the partial top-k per
  * partition is handled by AQE + the rank filter pushing down the sort
  * (for very large k use a partial-aggregate top-k; k here is ~10).
  */
object Search {

  /** Embedding dimension of the corpus (TESTDATA.md: float[64]). */
  val Dim = 64

  /** Corpus with raw float vectors and precomputed norms (norm is computed
    * once per row, not once per pair).
    *
    * Dot products use the native codegen expression [[Vec.dotNative]]
    * (graft.functions.DotProduct): measured against the interpreted HOF
    * fold and a statically unrolled 64-term sum, the custom Expression's
    * tight primitive loop wins — the HOF runs outside whole-stage codegen
    * and the unrolled tree trips codegen method-size limits. Identical
    * left-to-right double accumulation keeps oracle parity. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", Vec.norm2Native(col("v")))

  /** Generic broadcast cosine search.
    * @param clampZero  reference similarity = max(0, cosine)
    * @param sameLabel  metadata equality filter (reference metadata_filter)
    */
  def knn(spark: SparkSession, dir: String, queryPred: Column, k: Int,
          threshold: Double, clampZero: Boolean, sameLabel: Boolean): DataFrame =
    knnOver(corpus(spark, dir), queryPred, k, threshold, clampZero, sameLabel)

  /** [[knn]] over an EXPLICIT corpus frame (vec_id, label, v, nrm) — the
    * streamed-append composition ([[graft.ann.Router.aRouteTopkStreamed]])
    * serves over (batch ∪ streamed) without a warehouse rebuild. Same
    * plan, same broadcast contract. */
  private[graft] def knnOver(e: DataFrame, queryPred: Column, k: Int,
                             threshold: Double, clampZero: Boolean,
                             sameLabel: Boolean): DataFrame = {
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val cond = if (sameLabel)
      col("vec_id") =!= col("query_id") && col("label") === col("qlabel")
    else col("vec_id") =!= col("query_id")
    // Broadcast CONTRACT: `q` here is the user's query batch — fixed-Q in
    // production (a search request carries a handful of vectors), so the
    // hint is sound at 100 TB. The testdata's `vec_id % 100` predicate makes
    // q corpus-proportional ONLY as a fixture artifact; a caller with an
    // unbounded query side should use the un-hinted r5/r5b path instead.
    Stages.rankTopK(e.join(broadcast(q), cond),
      Stages.cosine(col("qv"), col("qnrm"), col("v"), col("nrm"), clampZero), k,
      Some(threshold))
  }

  /** B3: rag_search — queries are vectors with vec_id % 100 == 0. */
  def r3SearchTopK(spark: SparkSession, dir: String): DataFrame =
    knn(spark, dir, col("vec_id") % 100 === 0, k = 10, threshold = 0.2,
      clampZero = true, sameLabel = false)

  /** B4: rag_search with metadata equality filter (label = query's label). */
  def r4SearchFiltered(spark: SparkSession, dir: String): DataFrame =
    knn(spark, dir, col("vec_id") % 100 === 0, k = 10, threshold = 0.1,
      clampZero = true, sameLabel = true)

  /** B5: find_similar_documents — query docs are source='src0'; search by the
    * doc's own vector (doc_id joins vec_id 1:1), exclude self, top-5.
    *
    * GRADING VARIANT, not the serving path: the query set is a fixed
    * FRACTION of the corpus (reference semantics), so measured work grows
    * quadratically with scale. Production at 100× pins Q fixed — use
    * [[r5bFindSimilarBlocked]] (auto-dialed LSH blocking) as the entry
    * point; this registered shape exists to match the reference and its
    * oracle. */
  def r5FindSimilar(spark: SparkSession, dir: String): DataFrame = {
    val srcDocs = Tables.documents(spark, dir)
      .filter(col("source") === "src0").select(col("doc_id"))
    val e = corpus(spark, dir)
    // Both joins deliberately UN-hinted (the m7/r13 lesson, applied here in
    // r10): `srcDocs` and `q` are a fixed FRACTION of the corpus — forcing
    // their broadcast would make r5 die at driver memory long before its
    // owned quadratic dies at cluster time. The planner/AQE broadcasts
    // while the side fits and degrades to shuffle when it doesn't; the
    // non-equi q-join stays a BNL join either way (r5's owned quadratic —
    // r5bFindSimilarBlocked is the scale path).
    val q = e.join(srcDocs, col("vec_id") === col("doc_id"))
      .select(col("doc_id").as("query_doc_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    findSimilarTop5(e.join(q, col("vec_id") =!= col("query_doc_id")))
  }

  /** r5/r5b's ranking: per query doc, the top 5 by clamped cosine with
    * similarity >= 0.3, as (query_doc_id, doc_id, similarity, rnk). */
  private def findSimilarTop5(pairs: DataFrame): DataFrame =
    Stages.rankTopK(pairs,
      Stages.cosine(col("qv"), col("qnrm"), col("v"), col("nrm"), clampZero = true),
      5, Some(0.3), query = "query_doc_id", idAs = "doc_id")

  /** B5b: [[r5FindSimilar]]'s semantics on the SCALE PATH — the candidate
    * set comes from d5's 16-bit/4-band random-hyperplane LSH blocking
    * (graft.dedup.Dedup.Hyperplanes) instead of the all-pairs product.
    * r5 is Q=N brute force by reference semantics
    * (rag/retrieval.py:find_similar_documents per doc) and measured
    * quadratic at sf1 (0.60 -> 32.0 s, PLANS.md); this is the corpus-wide
    * batch variant that survives the decade: band signatures are ONE
    * narrow pass over the corpus, candidates collide per (band, bv)
    * bucket, and scoring touches candidate pairs only. Ranks are
    * re-assigned among candidates, so a blocking miss promotes later
    * neighbors — recall vs r5 is measured (FindSimilarBlockedSpec), not
    * assumed, same contract as d7/a3.
    *
    * Joins are deliberately UN-hinted: the query/band sides here are
    * corpus-proportional (the m7/r13 lesson — a forced broadcast of a
    * corpus fraction is an OOM at scale), so the planner/AQE picks
    * broadcast while they fit and degrades to shuffle when they don't.
    *
    * `bitsPerBand`/`bands` are d5's SCALE DIAL, inherited (r10): the
    * candidate term is ~N²·frac/2^bits, so the 4x4 default taken one
    * decade up dies the same disk-spill death d5's does (measured at
    * sf10); run scaled corpora at bits ~ log2(N/1k) per the d5 closed
    * form. Planes are prefix-stable (Dedup.hyperplanes), the 4x4
    * default byte-identical to the committed, oracle-pinned plan. */
  def r5bFindSimilarBlocked(spark: SparkSession, dir: String,
                            bitsPerBand: Int = 4, bands: Int = 4,
                            sampleMod: Option[Int] = None): DataFrame = {
    val e = corpus(spark, dir)
    val bandTensor = graft.dedup.Dedup.hyperplanes(bands * bitsPerBand)
      .grouped(bitsPerBand).toSeq
    val bands0 = e.select(col("vec_id"),
        posexplode(transform(typedlit(bandTensor), band =>
          (0 until bitsPerBand).map { o =>
            when(Vec.dotNative(col("v"), element_at(band, o + 1)) > 0.0,
              lit(1L << o)).otherwise(0L)
          }.reduce(_ + _))))
      .toDF("vec_id", "band", "bv")
    // sampleMod (r12, the d7s pattern): a deterministic 1-in-k QUERY
    // sample applied to BOTH engines — the graded index/blocking stays
    // full-corpus, the owned-quadratic verify stage divides by k, and the
    // DuckDB oracle becomes feasible one decade further up (sf10)
    val srcDocs = Tables.documents(spark, dir)
      .filter(col("source") === "src0").select(col("doc_id"))
    val qDocs = sampleMod.fold(srcDocs)(m => srcDocs.filter(col("doc_id") % m === 0))
    val qb = bands0.join(qDocs, col("vec_id") === col("doc_id"))
      .select(col("doc_id").as("query_doc_id"), col("band"), col("bv"))
    val cand = bands0.join(qb, Seq("band", "bv"))
      .filter(col("vec_id") =!= col("query_doc_id"))
      .select("query_doc_id", "vec_id").distinct()
    val q = e.select(col("vec_id").as("query_doc_id"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    findSimilarTop5(cand.join(q, "query_doc_id").join(e, "vec_id"))
  }

  /** B5b AUTO MODE (r11, the d5 chooser applied at r5b's entry): dials
    * come from `Dedup.d5OperatingPoint` on the live corpus count at
    * r5b's own verify threshold (0.3), so a pipeline caller hits the
    * closed form — and its infeasibility throw — rather than inheriting
    * a literal tuned at another scale. The registered
    * `r5b_find_similar_blocked` query keeps the oracle-pinned 4x4
    * literal; this entry point is additive (DedupAutoSpec). */
  def r5bFindSimilarBlockedAuto(spark: SparkSession, dir: String,
                                recallFloor: Double = 0.5,
                                targetBucket: Long = 1024L): DataFrame = {
    val n = corpus(spark, dir).count()
    val (bits, bands) =
      graft.dedup.Dedup.d5OperatingPoint(n, 0.3, recallFloor, targetBucket)
    r5bFindSimilarBlocked(spark, dir, bits, bands)
  }

  /** B8: compute_similarity — pairwise cosine over a fixed probe set. */
  def r8PairwiseSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir).filter(col("vec_id") < 20)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("similarity", Stages.cosine(col("va"), col("na"), col("vb"), col("nb")))
      .select("vec_a", "vec_b", "similarity")
      .orderBy("vec_a", "vec_b")
  }

  /** D1: brute-force ANN baseline — raw cosine (no clamp/threshold), top-10,
    * queries vec_id % 97 == 0. */
  def a1KnnBruteforce(spark: SparkSession, dir: String): DataFrame =
    knn(spark, dir, col("vec_id") % 97 === 0, k = 10, threshold = -1.0,
      clampZero = false, sameLabel = false)

  /** Depth of the shared first-stage retrieval shortlist (r15/r16/r20). */
  val ShortlistK = 50

  /** The %101 query set's raw-cosine top-[[ShortlistK]], an artifact
    * bucketed by query_id — the shared first-stage
    * vector ranker of the retrieval stack (r15's fusion input, r16's MMR
    * candidate pool, transitively r20's rerank shortlist). Before this
    * artifact each of those queries re-scanned the full corpus; now only
    * the first call pays the brute-force pass, and the bucketed layout
    * feeds the per-query windows/joins downstream without an exchange. */
  private[graft] def knnShortlist101(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "knn101", dir, Seq("embeddings.parquet")) { t =>
      Warehouse.writeBucketed(
        knn(spark, dir, col("vec_id") % 101 === 0, k = ShortlistK,
          threshold = -1.0, clampZero = false, sameLabel = false),
        t, "query_id")
    }

  /** Brute-force ground truth@10 for a `vec_id % qmod` query set, read
    * from the [[knnShortlist101]] artifact instead of re-scanning the
    * corpus (r17 optimization round, guide §2.4): a recall eval's truth is
    * a STORED asset versioned with the corpus (the d7 truthPairs rule —
    * build once, probe every eval), and before this every a-family recall
    * query re-derived it inline TWICE per run (recallVsBruteForce reads
    * its bf side in both the intersection join and the n_true groupBy).
    * Top-10 is the stored top-50 filtered to rnk <= 10 — same rounded
    * cosine, same (similarity desc, vec_id) tie-break, so the rows are
    * identical by construction and the oracle hashes pin it. qmod must be
    * a multiple of 101 (the sampled twins' 1313 = 13·101): those query
    * sets are subsets of the artifact's %101 set. The bucketed-by-query_id
    * layout feeds the recall groupBys without an exchange. */
  private[graft] def bruteTruth10(spark: SparkSession, dir: String,
                                  qmod: Int): DataFrame = {
    require(qmod % 101 == 0,
      s"bruteTruth10: qmod $qmod is not a multiple of 101 — the stored " +
        "shortlist artifact covers %101 query sets; widen the artifact or " +
        "use Search.knn directly for a foreign query set")
    val base = knnShortlist101(spark, dir).filter(col("rnk") <= 10)
    (if (qmod == 101) base else base.filter(col("query_id") % qmod === 0))
      .select(col("query_id"), col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r3_search_topk"         -> ((s, d) => r3SearchTopK(s, d)),
    "r4_search_filtered"     -> ((s, d) => r4SearchFiltered(s, d)),
    "r5_find_similar"        -> ((s, d) => r5FindSimilar(s, d)),
    "r5b_find_similar_blocked" -> ((s, d) => r5bFindSimilarBlocked(s, d)),
    "r5bs_find_similar_blocked" ->
      ((s, d) => r5bFindSimilarBlocked(s, d, sampleMod = Some(13))),
    "r8_pairwise_similarity" -> ((s, d) => r8PairwiseSimilarity(s, d)),
    "a1_knn_bruteforce"      -> ((s, d) => a1KnnBruteforce(s, d)),
  )

  // ---------------------------------------------------------------- oracle

  import Stages.Sql.{cosine, ranked, corpus => corpusSql}

  private def knnSql(queryPred: String, k: Int, threshold: Double,
                     clamp: Boolean, sameLabel: Boolean): String = {
    val joinCond = if (sameLabel) "en.vec_id <> q.query_id AND en.label = q.qlabel"
    else "en.vec_id <> q.query_id"
    s"""${corpusSql(label = true)}, q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qnrm
       |  FROM en WHERE $queryPred
       |), scored AS (
       |  SELECT q.query_id, en.vec_id,
       |    ${cosine("q.qv", "q.qnrm", "en.v", "en.nrm", clamp)} AS similarity
       |  FROM q JOIN en ON $joinCond
       |), ${ranked("ranked", "scored")}
       |SELECT query_id, vec_id, similarity, rnk FROM ranked
       |WHERE rnk <= $k AND similarity >= $threshold
       |ORDER BY query_id, rnk""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "r3_search_topk" -> knnSql("vec_id % 100 = 0", 10, 0.2, clamp = true, sameLabel = false),
    "r4_search_filtered" -> knnSql("vec_id % 100 = 0", 10, 0.1, clamp = true, sameLabel = true),
    "r5_find_similar" ->
      s"""${corpusSql(label = true)}, q AS (
         |  SELECT d.doc_id AS query_doc_id, en.v AS qv, en.nrm AS qnrm
         |  FROM documents d JOIN en ON en.vec_id = d.doc_id
         |  WHERE d.source = 'src0'
         |), scored AS (
         |  SELECT q.query_doc_id, en.vec_id AS doc_id,
         |    ${cosine("q.qv", "q.qnrm", "en.v", "en.nrm", clampZero = true)} AS similarity
         |  FROM q JOIN en ON en.vec_id <> q.query_doc_id
         |), ${ranked("ranked", "scored", "query_doc_id", "doc_id")}
         |SELECT query_doc_id, doc_id, similarity, rnk FROM ranked
         |WHERE rnk <= 5 AND similarity >= 0.3
         |ORDER BY query_doc_id, rnk""".stripMargin,
    // d5's hyperplane/band CTEs; scoring/ranking is r5's, restricted to
    // the banded candidate set.
    "r5b_find_similar_blocked" -> r5bSql(""),
    "r5bs_find_similar_blocked" -> r5bSql(" AND doc_id % 13 = 0"),
  ) ++ oracleTail

  /** r5b's oracle, parameterized by the query-doc sample predicate (r12 —
    * "" = the registered full query set; the sampled variant restricts
    * the LEFT side only, exactly as the Spark path's `sampleMod`). */
  private def r5bSql(samplePred: String): String =
      s"""${corpusSql(label = true)}, ${graft.dedup.Dedup.BandsSql}, qd AS (
         |  SELECT doc_id FROM documents WHERE source = 'src0'$samplePred
         |), cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_doc_id, b.vec_id
         |  FROM bands qb JOIN qd ON qb.vec_id = qd.doc_id
         |  JOIN bands b ON qb.band = b.band AND qb.bv = b.bv AND b.vec_id <> qb.vec_id
         |), scored AS (
         |  SELECT c.query_doc_id, c.vec_id AS doc_id,
         |    ${cosine("qe.v", "qe.nrm", "en.v", "en.nrm", clampZero = true)} AS similarity
         |  FROM cand c JOIN en qe ON qe.vec_id = c.query_doc_id JOIN en ON en.vec_id = c.vec_id
         |), ${ranked("ranked", "scored", "query_doc_id", "doc_id")}
         |SELECT query_doc_id, doc_id, similarity, rnk FROM ranked
         |WHERE rnk <= 5 AND similarity >= 0.3
         |ORDER BY query_doc_id, rnk""".stripMargin

  private def oracleTail: Map[String, String] = Map(
    "r8_pairwise_similarity" ->
      s"""${corpusSql(label = true)}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosine("a.v", "a.nrm", "b.v", "b.nrm")} AS similarity
         |FROM en a JOIN en b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 20 AND b.vec_id < 20
         |ORDER BY vec_a, vec_b""".stripMargin,
    "a1_knn_bruteforce" -> knnSql("vec_id % 97 = 0", 10, -1.0, clamp = false, sameLabel = false),
  )
}
