package graft.rag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DetHash, Exact}
import graft.sources.{Artifact, Warehouse}

/** Lexical (keyword) retrieval — BM25 and hybrid lexical+vector fusion
  * (SURVEY.md §2.B). The reference engine searches by embedding only
  * (rag/retrieval.py); production RAG stacks pair that with a keyword
  * index and fuse the two rankings, so both ship here as first-class
  * oracle-gated operators.
  *
  * Scale design: the inverted index is a once-per-corpus-version bucketed
  * table keyed by the 60-bit term hash — postings joins shuffle 8-byte
  * keys, and query-side and corpus-side reads of the same bucketed layout
  * join exchange-free. Candidate generation is QUERY-TERM PRUNING: each
  * query keeps only its [[QTerms]] rarest terms, so the per-query join
  * cost is bounded by those terms' posting lists (the idf mass lives in
  * exactly the rare terms) — never corpus-quadratic, and adaptive to any
  * vocabulary shape where a fixed df-percentage stopword cap is not.
  * Scoring is BM25 (Robertson/Spärck Jones, the public Okapi
  * formulation) with per-term contributions rounded to e6 integers
  * and summed EXACTLY as longs — no order-dependent float accumulation
  * (SURVEY.md §5.3b).
  */
object Lexical {

  val QueryMod = 101  // query docs: doc_id % 101 == 0 (the ANN probe set)
  val TopK = 10
  val QTerms = 10     // rarest query terms kept for candidate generation
  val RrfK = 60       // reciprocal-rank-fusion constant (public default)
  /** Per-ranker depth fed into the fusion = the shared shortlist depth. */
  val RrfDepth: Int = Search.ShortlistK

  private def words(c: Column): Column = split(c, " ")

  private val Docs = Seq("documents.parquet")

  /** The lexical inverted index artifact: one row per (term-hash, doc)
    * carrying tf, doc length, and the term's
    * document frequency, bucketed by term hash (the postings join key). */
  private def lexIndex(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "lex", dir, Docs) { t =>
      val docs = Tables.documents(spark, dir)
      val tf = docs
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .select(col("doc_id"), DetHash.h60(col("w")).as("hs"))
        .groupBy("doc_id", "hs").agg(count(lit(1)).as("tf"))
      val dl = docs.select(col("doc_id"), size(words(col("text"))).cast("long").as("dl"))
      val df = tf.groupBy("hs").agg(count(lit(1)).as("df"))
      Warehouse.writeBucketed(tf.join(dl, "doc_id").join(df, "hs"), t, "hs")
    }

  /** Corpus size + average doc length (the BM25 normalizer), one row. */
  private def lexStats(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "lexstats", dir, Docs) { t =>
      Warehouse.writeTable(
        Tables.documents(spark, dir)
          .select(size(words(col("text"))).cast("long").as("dl"))
          .agg(count(lit(1)).as("n"), avg(col("dl")).as("avglen")), t)
    }

  /** B14: BM25 top-k — query docs retrieve by their [[QTerms]] RAREST
    * terms (lexical more-like-this, the keyword twin of r5). Candidate
    * generation is query-term pruning: keeping only the lowest-df terms
    * bounds each query's cost to QTerms posting lists — the idf mass
    * lives in exactly those terms, and unlike a fixed df-percentage
    * stopword cap this adapts to any vocabulary shape (a 31-word
    * synthetic vocab and a 10M-word web vocab both yield bounded joins).
    * Per-term contribution: idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/
    * avglen)) with k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1); each
    * contribution rounds to an e6 long and the per-doc score is an EXACT
    * integer sum, so the ranking is bit-stable at any shuffle order in
    * any engine. */
  /** Each query's [[QTerms]] rarest terms as (hs, query_id) rows. */
  private def rarestTerms(idx: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("df"), col("hs"))
    idx.filter(col("doc_id") % QueryMod === 0)
      .select(col("hs"), col("doc_id").as("query_id"), col("df"))
      .withColumn("qr", row_number().over(wq))
      .filter(col("qr") <= QTerms)
      .select("hs", "query_id")
  }

  /** Per-(query, doc) summed BM25 contributions for a term set — the
    * pre-ranking half of scoreTerms. Per-term contributions round to e6
    * longs and sum EXACTLY, so partial sums from disjoint term sets merge
    * associatively (what r19 exploits to score each term set once). */
  private def termScores(terms: DataFrame, idx: DataFrame, st: DataFrame): DataFrame = {
    val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfSat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avglen")))
    terms.join(idx, "hs")
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(st))
      .withColumn("ce6", round(lit(1e6) * idf * tfSat).cast("long"))
      .groupBy("query_id", "doc_id").agg(sum(col("ce6")).as("score_e6"))
  }

  /** Rank (query_id, doc_id, score_e6) rows: top-k per query. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_e6").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "score_e6", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** Pass-1 BM25 candidate scores (query_id, doc_id, score_e6) for the
    * rarest-terms query formulation, an artifact bucketed by query_id.
    * Bounded: each query contributes at most the union of its [[QTerms]]
    * rare-term posting lists. This is the
    * shared pre-ranking artifact of the whole lexical stack — r14 ranks it
    * to top-10, r15 to top-[[RrfDepth]], r19 merges it (exact-integer
    * partial sums) with the expansion-term scores — so the postings join
    * runs once per corpus, not once per query family member. The bucketed
    * layout means every downstream per-query window sorts locally with no
    * exchange. */
  private def bm25Candidates(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "bm25c", dir, Docs) { t =>
      val idx = lexIndex(spark, dir)
      Warehouse.writeBucketed(
        termScores(rarestTerms(idx), idx, lexStats(spark, dir)), t, "query_id")
    }

  def r14Bm25TopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    rankTopK(bm25Candidates(spark, dir), k)

  val PrfDocs = 10   // feedback depth: pass-1 top docs per query
  val PrfTerms = 5   // expansion terms drawn from the feedback docs

  /** B19: pseudo-relevance feedback (RM3-style two-pass retrieval): the
    * pass-1 BM25 top-[[PrfDocs]] act as implicit relevance judgments;
    * their [[PrfTerms]] strongest terms (by total tf, df-rarity then hash
    * tie-breaks — exact integers, fully deterministic) expand the query,
    * and pass 2 rescores with the union term set. The classic lexical
    * recall lever when queries underspecify. Scale shape: pass 1 is r14;
    * expansion statistics touch only (feedback docs x their terms) rows;
    * pass 2 scores ONLY the PrfTerms expansion terms and merges their
    * exact-integer partial sums with the materialized pass-1 scores
    * (contributions are additive over disjoint term sets, so this equals
    * rescoring the union — without walking the qsel posting lists a
    * second time; the r6 rewrite, same hashes). */
  def r19PrfSearch(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val idx = lexIndex(spark, dir)
    val st = lexStats(spark, dir)
    val qsel = rarestTerms(idx)
    // pass-1 partial sums: the shared materialized candidate-score table
    // (bounded: candidate pairs of QTerms rare-term posting lists per
    // query) — ranked for feedback AND merged into the final score
    val c1 = bm25Candidates(spark, dir)
    val fb = rankTopK(c1, PrfDocs).select("query_id", "doc_id")
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("ftf").desc, col("df"), col("hs"))
    val exp = fb.join(idx.select(col("doc_id"), col("hs"), col("tf"), col("df")), "doc_id")
      .join(qsel, Seq("query_id", "hs"), "left_anti")
      .groupBy("query_id", "hs").agg(sum(col("tf")).as("ftf"), max(col("df")).as("df"))
      .withColumn("er", row_number().over(we))
      .filter(col("er") <= PrfTerms)
      .select("hs", "query_id")
    rankTopK(c1.unionByName(termScores(exp, idx, st))
      .groupBy("query_id", "doc_id").agg(sum(col("score_e6")).as("score_e6")), k)
  }

  /** e6-exact reciprocal-rank contribution 1/(RrfK + rank); null rank
    * (doc absent from that ranker's top-RrfDepth) contributes 0. */
  private def rrf6(rank: Column): Column =
    coalesce(Exact.ratio6e(lit(1L), lit(RrfK.toLong) + rank), lit(0L))

  /** B15: hybrid search — reciprocal-rank fusion (Cormack et al. 2009) of
    * the BM25 top-50 and the cosine-kNN top-50 over the same query set.
    * RRF needs only ranks, so the fused score is a sum of two e6-exact
    * reciprocals — pure integer arithmetic, no score normalization across
    * incomparable scales, bit-stable in both engines.
    *
    * Both ranker inputs are the materialized first-stage shortlists
    * ([[bm25Candidates]] ranked to [[RrfDepth]], [[Search.knnShortlist101]])
    * and the fused top-[[TopK]] is itself an artifact: r16 and r20
    * consume the same shortlist, and before this each of them re-ran
    * BOTH rankers from raw corpus scans (the r6 bench's single most
    * expensive recompute). */
  def r15HybridRrf(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "rrf", dir, Docs :+ "embeddings.parquet") { t =>
      Warehouse.writeTable(fuseRrf(spark, dir), t)
    }.orderBy("query_id", "rnk")

  /** The fusion plan behind [[r15HybridRrf]] (build side of its artifact). */
  private def fuseRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = rankTopK(bm25Candidates(spark, dir), RrfDepth)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rl"))
    val vec = Search.knnShortlist101(spark, dir)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk").as("rv"))
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e6", rrf6(col("rl")) + rrf6(col("rv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_e6").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("query_id", "doc_id", "rrf_e6", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r14_bm25_topk"  -> ((s, d) => r14Bm25TopK(s, d)),
    "r15_hybrid_rrf" -> ((s, d) => r15HybridRrf(s, d)),
    "r19_prf_search" -> ((s, d) => r19PrfSearch(s, d)),
  )

  // ---------------------------------------------------------------- oracle

  /** The per-(term-set row, posting) BM25 contribution + ranked top-`depth`
    * pair of CTEs, scoring the (hs, query_id) rows of `termsRel` —
    * identical expression tree to scoreTerms so the doubles match
    * bit-for-bit before the e6 round. */
  private def scoreSql(termsRel: String, contribName: String,
                       rankedName: String, depth: Int): String =
    s"""$contribName AS (
       |  SELECT s.query_id, t.doc_id AS doc_id,
       |    CAST(round(1e6 * ln((n - df + 0.5) / (df + 0.5) + 1.0) *
       |      ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / avglen)))) AS BIGINT) AS ce6
       |  FROM $termsRel s
       |  JOIN tfx t ON t.hs = s.hs AND t.doc_id <> s.query_id
       |  JOIN dfx ON dfx.hs = s.hs
       |  JOIN dlx l ON l.doc_id = t.doc_id
       |  CROSS JOIN stats
       |), $rankedName AS (
       |  SELECT query_id, doc_id, score_e6,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, doc_id) AS rnk
       |  FROM (SELECT query_id, doc_id, CAST(sum(ce6) AS BIGINT) AS score_e6
       |        FROM $contribName GROUP BY 1, 2)
       |  QUALIFY rnk <= $depth
       |)""".stripMargin

  /** BM25 CTE chain up to a ranked list (query_id, doc_id, score_e6, rnk).
    * Mirrors lexIndex + r14Bm25TopK. */
  private def bm25Cte(depth: Int): String =
    s"""tok AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hs
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |), tfx AS (
       |  SELECT doc_id, hs, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dlx AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n, avg(dl) AS avglen FROM dlx
       |), dfx AS (
       |  SELECT hs, count(*) AS df FROM tfx GROUP BY 1
       |), qsel AS (
       |  SELECT hs, doc_id AS query_id FROM (
       |    SELECT q.doc_id, q.hs,
       |      row_number() OVER (PARTITION BY q.doc_id ORDER BY df, q.hs) AS qr
       |    FROM tfx q JOIN dfx ON dfx.hs = q.hs
       |    WHERE q.doc_id % $QueryMod = 0)
       |  WHERE qr <= $QTerms
       |), ${scoreSql("qsel", "contrib", "bm25", depth)}""".stripMargin

  private def rrf6Sql(rank: String): String =
    s"coalesce(CAST(${Exact.ratio6eSql("1", s"($RrfK + $rank)")} AS BIGINT), 0)"

  val oracle: Map[String, String] = Map(
    "r14_bm25_topk" ->
      s"""WITH ${bm25Cte(TopK)}
         |SELECT query_id, doc_id, score_e6, rnk FROM bm25 ORDER BY query_id, rnk""".stripMargin,

    "r19_prf_search" ->
      s"""WITH ${bm25Cte(PrfDocs)}, fb AS (
         |  SELECT query_id, doc_id FROM bm25
         |), expc AS (
         |  SELECT f.query_id, t.hs, CAST(sum(t.tf) AS BIGINT) AS ftf, max(dfx.df) AS df
         |  FROM fb f
         |  JOIN tfx t ON t.doc_id = f.doc_id
         |  JOIN dfx ON dfx.hs = t.hs
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM qsel q WHERE q.query_id = f.query_id AND q.hs = t.hs)
         |  GROUP BY 1, 2
         |), expsel AS (
         |  SELECT hs, query_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ftf DESC, df, hs) AS er
         |    FROM expc) WHERE er <= $PrfTerms
         |), terms2 AS (
         |  SELECT hs, query_id FROM qsel UNION ALL SELECT hs, query_id FROM expsel
         |), ${scoreSql("terms2", "contrib2", "prf", TopK)}
         |SELECT query_id, doc_id, score_e6, rnk FROM prf ORDER BY query_id, rnk""".stripMargin,

    "r15_hybrid_rrf" ->
      (Search.CorpusCte + s""", ${bm25Cte(RrfDepth)}, q AS (
         |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id % $QueryMod = 0
         |), vscored AS (
         |  SELECT q.query_id, en.vec_id AS doc_id,
         |    round(CASE WHEN q.qnrm*en.nrm = 0 THEN 0.0
         |      ELSE (${Search.dotSql("q.qv", "en.v")})/(q.qnrm*en.nrm) END, 6) AS similarity
         |  FROM q JOIN en ON en.vec_id <> q.query_id
         |), vranked AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, doc_id) AS rnk
         |  FROM vscored QUALIFY rnk <= $RrfDepth
         |), fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    ${rrf6Sql("l.rnk")} + ${rrf6Sql("v.rnk")} AS rrf_e6
         |  FROM bm25 l FULL OUTER JOIN vranked v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
         |)
         |SELECT query_id, doc_id, rrf_e6, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id) AS rnk
         |  FROM fused)
         |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin),
  )
}
