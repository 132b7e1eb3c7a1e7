package graft.rag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ann.Stages
import graft.sources.Warehouse

/** RAG document-store operators (SURVEY.md §2.B1/B2/B6/B7).
  *
  * Reference semantics:
  *  - Document ingest derives content_hash (dedup key), content_length,
  *    word_count: /root/reference/mcp_synaptic/models/rag.py:Document.
  *  - Collection stats: /root/reference/mcp_synaptic/rag/database/stats.py.
  *  - get_relevant_context: /root/reference/mcp_synaptic/rag/retrieval.py
  *    :get_relevant_context — concat top hits in rank order; a hit that would
  *    overflow max_context_length is truncated to the remaining space with
  *    '...' ONLY if more than 100 chars remain, then assembly stops; parts
  *    joined with "\n\n".
  *  - search_by_metadata: filter-only retrieval (threshold 0).
  *
  * Scale notes (§6): ingest and stats are single-pass scans with map-side
  * partial aggregation; the dup-group window shuffles once on content_hash
  * (same layout a bucketed warehouse write would reuse). Context assembly
  * is a window + groupBy over the (tiny) top-k hit set, not the corpus.
  */
object RagOps {

  /** r6s query sample: the base 1-in-100 query set thinned 1-in-101 (the
    * d7s convention for brute-quadratic twins — r6's embedded r3 is a
    * Q × N scan in both engines, so a 1-in-13 sample would still leave
    * the 2M-vector decade hours deep in the DuckDB oracle). */
  val R6sQmod = 100 * 101

  /** B1: document ingest — hash, length, word count, exact-dup grouping. */
  def r1DocIngest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        length(col("text")).as("content_length"),
        size(split(col("text"), " ")).cast("long").as("word_count"))
      .withColumn("dup_group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  /** B2: collection stats — one row over documents × embeddings.
    *
    * n_langs/n_sources use size(collect_set(..)) rather than
    * countDistinct: two countDistincts in one aggregate trigger
    * RewriteDistinctAggregates' Expand, which (a) pushes EVERY scanned
    * row through the partial aggregate 3x — pure waste at corpus scale
    * for two tiny-domain columns — and (b) numbers its grouping
    * internals in nondeterministic rule order, which made this the one
    * query whose plan fingerprint would not settle across runs.
    * collect_set partials are bounded by the domain (langs/sources), so
    * the single-pass aggregate is safe and strictly cheaper. */
  def r2CollectionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).as("total_content_length"),
      graft.functions.Exact.ratio6(
        sum(length(col("text"))), count(lit(1))).as("avg_content_length"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_word_count"),
      size(collect_set(col("lang"))).cast("long").as("n_langs"),
      size(collect_set(col("source"))).cast("long").as("n_sources"))
    val e = Tables.embeddings(spark, dir).agg(
      count(lit(1)).as("n_vectors"),
      max(size(col("embedding"))).as("embedding_dim"))
    d.crossJoin(e)
  }

  /** B6: get_relevant_context over the r3 search hits (max_context_length=600,
    * max_documents=5, threshold=0.2). The overflow/truncate/break fold is
    * expressed as a prefix-sum window — valid because assembly is strictly
    * rank-ordered and stops at the first overflowing document.
    *
    * GRADING VARIANT, not the serving path: the default qmod=100 query set
    * grows with the corpus (Q∝N over the embedded r3 brute scan).
    * Production at 100× pins Q fixed — the registered `r6s` twin
    * (qmod=100·101) is the scale entry point, graded through sf100d. */
  def r6ContextAssembly(spark: SparkSession, dir: String,
                        qmod: Int = 100): DataFrame =
    r6Assemble(spark, dir, col("vec_id") % qmod === 0).orderBy("query_id")

  /** B6-FULL (r17): the DEFAULT (qmod=100, Q∝N) query set assembled in
    * `passes` bounded residue passes — the d2MultipassPairs rule applied
    * to the one remaining spark_disk_bound shape: the embedded brute
    * search's (query x corpus) score stream spills per PASS (1/passes of
    * the full stream), never per corpus. Query residue classes
    * vec_id % (100*passes) == 100*r for r < passes partition the qmod=100
    * set exactly (r6s is the (101, 0) slice of the same family).
    * Spec-pinned byte-equal to [[r6ContextAssembly]]; same staging
    * contract as the d2 multipass. */
  def r6ContextAssemblyFull(spark: SparkSession, dir: String,
                            passes: Int, staging: String): DataFrame =
    Warehouse.stagedPasses(spark, staging, passes, "r6") { r =>
      r6Assemble(spark, dir, col("vec_id") % (100 * passes) === 100L * r)
    }.orderBy("query_id")

  private def r6Assemble(spark: SparkSession, dir: String,
                         queryPred: Column): DataFrame = {
    val MaxLen = 600
    val hits = Search.knn(spark, dir, queryPred, k = 5,
      threshold = 0.2, clampZero = true, sameLabel = false)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = hits.join(docs, hits("vec_id") === docs("doc_id"))
      .withColumn("len", length(col("text")))
      .withColumn("cum_before", coalesce(sum(col("len")).over(w), lit(0L)))
    // first overflowing rank per query (NULL when everything fits)
    val wq = Window.partitionBy(col("query_id"))
    val withOv = scored.withColumn("overflow_rnk",
      min(when(col("cum_before") + col("len") > MaxLen, col("rnk"))).over(wq))
    val parts = withOv
      .withColumn("part",
        when(col("overflow_rnk").isNull || col("rnk") < col("overflow_rnk"), col("text"))
          .when(col("rnk") === col("overflow_rnk") && lit(MaxLen) - col("cum_before") > 100,
            concat(col("text").substr(lit(1), (lit(MaxLen) - col("cum_before") - lit(3)).cast("int")), lit("...")))
          .otherwise(lit(null)))
      .filter(col("part").isNotNull)
    parts.groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rnk"), col("part")))).as("ps"))
      .select(col("query_id"),
        array_join(transform(col("ps"), p => p.getField("part")), "\n\n").as("context"),
        size(col("ps")).as("docs_used"))
      .withColumn("context_length", length(col("context")))
      .select("query_id", "context", "context_length", "docs_used")
  }

  /** B10: get_document_summary (reference rag/retrieval.py:get_document_summary)
    * — extractive summary per source: sentences in doc order, each appended
    * only if it fits max_summary_length=500, overflowing sentences SKIPPED
    * (not a prefix cut — the reference breaks the inner sentence loop but
    * keeps scanning docs until the running total passes the cap), parts
    * joined with ' '. Texts carry no '. ' so each doc is one sentence with
    * '.' appended (the reference's sentence-termination rule).
    *
    * The guarded skip-continue fold is inherently sequential per group — an
    * ordered `aggregate` over the collected group, identical in the DuckDB
    * oracle via a seeded list_reduce (string accumulator: DuckDB 1.0 drops
    * nested-list accumulation inside list_reduce). Groups are bounded
    * (docs per source), so the collect_list stays small at any corpus size. */
  def r10DocSummary(spark: SparkSession, dir: String): DataFrame = {
    val MaxLen = 500
    val sent = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), concat(col("text"), lit(".")).as("s"),
        (length(col("text")) + 1).cast("long").as("slen"))
    val zero = struct(lit("").as("summary"), lit(0L).as("total"), lit(0L).as("n"))
    sent.groupBy("source")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("s"), col("slen")))).as("xs"))
      .withColumn("f",
        aggregate(col("xs"), zero, (acc, x) =>
          when(acc.getField("total") + x.getField("slen") > MaxLen, acc)
            .otherwise(struct(
              when(acc.getField("n") === 0, x.getField("s"))
                .otherwise(concat(acc.getField("summary"), lit(" "), x.getField("s")))
                .as("summary"),
              (acc.getField("total") + x.getField("slen") + 1).as("total"),
              (acc.getField("n") + 1).as("n")))))
      .select(col("source"), col("f.summary").as("summary"),
        length(col("f.summary")).as("summary_length"), col("f.n").as("docs_used"))
      .orderBy("source")
  }

  /** B11: rag_get_document — id lookup returning the document with its
    * derived fields (mcp/rag_tools.py:rag_get_document). */
  def r11GetDocument(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 83 === 0)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        length(col("text")).as("content_length"),
        size(split(col("text"), " ")).cast("long").as("word_count"),
        col("lang"), col("source"))
      .orderBy("doc_id")

  /** B12: rag_update_document — BOTH reference branches (rag/database/
    * documents.py:113-151): a content update re-derives hash/length/word
    * count and re-embeds; a METADATA-ONLY update swaps the metadata fields
    * (lang, source here) wholesale while every content-derived field is
    * carried from the existing row untouched and no re-embed happens
    * (`embedding = ... if content is not None`). Both stamp updated_at;
    * created_at/content survive either way. One probe set per branch;
    * content-update precedence on the (rare) overlap. */
  def r12UpdateDocument(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stamp = lit("2024-01-31 00:00:00").cast("timestamp")
    val content = docs.filter(col("doc_id") % 91 === 0)
      .withColumn("new_text", concat(lit("updated: "), col("text")))
      .select(col("doc_id"), lit("content").as("update_kind"),
        md5(col("new_text")).as("content_hash"),
        length(col("new_text")).as("content_length"),
        size(split(col("new_text"), " ")).cast("long").as("word_count"),
        col("lang"), col("source"),
        lit(true).as("reembedded"), stamp.as("updated_at"))
    val meta = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") % 91 =!= 0)
      .select(col("doc_id"), lit("metadata").as("update_kind"),
        md5(col("text")).as("content_hash"),
        length(col("text")).as("content_length"),
        size(split(col("text"), " ")).cast("long").as("word_count"),
        lit("en").as("lang"), concat(lit("curated/"), col("source")).as("source"),
        lit(false).as("reembedded"), stamp.as("updated_at"))
    content.unionByName(meta).orderBy("doc_id")
  }

  /** B13: rag_delete_document (reference: rag/database/documents.py:170 —
    * delete by id, idempotent on missing ids). Batch form: a left-anti
    * join of the corpus against the delete-id set. The delete set is
    * CORPUS-PROPORTIONAL (~1/9 of all doc ids), so the join is left
    * UN-HINTED: AQE picks a broadcast while the set fits the threshold
    * and degrades to a shuffled anti-join beyond it, instead of a forced
    * broadcast build that would OOM at 100 TB. */
  def r13DeleteDocuments(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dels = docs.filter(col("doc_id") % 9 === 4).select("doc_id")
    docs.join(dels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        length(col("text")).as("content_length"))
      .orderBy("doc_id")
  }

  /** B7: metadata-only retrieval: lang IN ('de','fr'), ordered page of 20. */
  def r7SearchByMetadata(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("lang").isin("de", "fr"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
      .limit(20)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r1_doc_ingest"        -> ((s, d) => r1DocIngest(s, d)),
    "r2_collection_stats"  -> ((s, d) => r2CollectionStats(s, d)),
    "r6_context_assembly"  -> ((s, d) => r6ContextAssembly(s, d)),
    "r6s_context_assembly" -> ((s, d) => r6ContextAssembly(s, d, qmod = R6sQmod)),
    "r7_search_by_metadata" -> ((s, d) => r7SearchByMetadata(s, d)),
    "r10_doc_summary"      -> ((s, d) => r10DocSummary(s, d)),
    "r11_get_document"     -> ((s, d) => r11GetDocument(s, d)),
    "r12_update_document"  -> ((s, d) => r12UpdateDocument(s, d)),
    "r13_delete_documents" -> ((s, d) => r13DeleteDocuments(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "r1_doc_ingest" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  length(text) AS content_length,
        |  len(string_split(text, ' ')) AS word_count,
        |  count(*) OVER (PARTITION BY md5(text)) AS dup_group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    "r2_collection_stats" ->
      """SELECT * FROM
        |(SELECT count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_content_length,
        |  ((2000000*CAST(sum(length(text)) AS HUGEINT) + (count(*))) // (2*CAST(count(*) AS HUGEINT))) / 1000000.0 AS avg_content_length,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_word_count,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources
        | FROM documents)
        |CROSS JOIN
        |(SELECT count(*) AS n_vectors, max(len(embedding)) AS embedding_dim
        | FROM embeddings)""".stripMargin,

    "r6_context_assembly" -> r6OracleSql(100),
    // r6s (r15, verdict r14 #3): r6's embedded brute r3 search is the
    // family's sf100d exclusion — queries ÷101 (the d7s/D22 sample rule
    // for brute-quadratic twins) divides the pair stream in BOTH engines,
    // putting an in-oracle-budget verdict at the 2M-vector decade
    "r6s_context_assembly" -> r6OracleSql(R6sQmod),

    "r7_search_by_metadata" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('de', 'fr') ORDER BY doc_id LIMIT 20""".stripMargin,
  ) ++ oracleTail

  /** r6's assembly oracle parameterized by the query sample — shared by
    * the full (qmod 100) and sampled (qmod [[R6sQmod]]) entries so the
    * fold formula cannot drift between them. */
  private def r6OracleSql(qmod: Int): String =
    r6OracleSqlWhere(s"vec_id % $qmod = 0")

  /** The r6 oracle over an arbitrary query-set predicate — the registered
    * entries use `vec_id % qmod = 0`; the staged full-Q verification
    * (graft.DedupFull's r6 extra) uses one residue class per pass. One
    * builder, so the assembly formula cannot drift between forms. */
  private[graft] def r6OracleSqlWhere(queryWhere: String): String = {
      val hitsSql = Stages.Sql.corpus(label = true) +
        s""", q AS (
          |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE $queryWhere
          |), scored0 AS (
          |  SELECT q.query_id, en.vec_id,
          |    ${Stages.Sql.cosine("q.qv", "q.qnrm", "en.v", "en.nrm", clampZero = true)} AS similarity
          |  FROM q JOIN en ON en.vec_id <> q.query_id
          |), ${Stages.Sql.ranked("ranked", "scored0")}, hits AS (
          |  SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= 5 AND similarity >= 0.2
          |)""".stripMargin
      hitsSql +
        """, joined AS (
          |  SELECT h.query_id, h.rnk, d.text, length(d.text) AS len
          |  FROM hits h JOIN documents d ON d.doc_id = h.vec_id
          |), cums AS (
          |  SELECT *, coalesce(sum(len) OVER (PARTITION BY query_id ORDER BY rnk
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM joined
          |), ov AS (
          |  SELECT *, min(CASE WHEN cum_before + len > 600 THEN rnk END)
          |      OVER (PARTITION BY query_id) AS overflow_rnk
          |  FROM cums
          |), parts AS (
          |  SELECT query_id, rnk,
          |    CASE WHEN overflow_rnk IS NULL OR rnk < overflow_rnk THEN text
          |         WHEN rnk = overflow_rnk AND 600 - cum_before > 100
          |           THEN substr(text, 1, CAST(600 - cum_before - 3 AS INT)) || '...'
          |    END AS part
          |  FROM ov
          |)
          |SELECT query_id,
          |  string_agg(part, e'\n\n' ORDER BY rnk) AS context,
          |  length(string_agg(part, e'\n\n' ORDER BY rnk)) AS context_length,
          |  count(part) AS docs_used
          |FROM parts WHERE part IS NOT NULL
          |GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  // lazy: referenced from `oracle` above its own definition site
  private lazy val oracleTail: Map[String, String] = Map(
    "r11_get_document" ->
      """SELECT doc_id, md5(text) AS content_hash, length(text) AS content_length,
        |  len(string_split(text, ' ')) AS word_count, lang, source
        |FROM documents WHERE doc_id % 83 = 0 ORDER BY doc_id""".stripMargin,

    "r12_update_document" ->
      """SELECT doc_id, 'content' AS update_kind,
        |  md5('updated: ' || text) AS content_hash,
        |  length('updated: ' || text) AS content_length,
        |  len(string_split('updated: ' || text, ' ')) AS word_count,
        |  lang, source, TRUE AS reembedded,
        |  TIMESTAMP '2024-01-31 00:00:00' AS updated_at
        |FROM documents WHERE doc_id % 91 = 0
        |UNION ALL
        |SELECT doc_id, 'metadata' AS update_kind,
        |  md5(text) AS content_hash,
        |  length(text) AS content_length,
        |  len(string_split(text, ' ')) AS word_count,
        |  'en' AS lang, 'curated/' || source AS source, FALSE AS reembedded,
        |  TIMESTAMP '2024-01-31 00:00:00' AS updated_at
        |FROM documents WHERE doc_id % 97 = 0 AND doc_id % 91 <> 0
        |ORDER BY doc_id""".stripMargin,

    "r13_delete_documents" ->
      """SELECT doc_id, md5(text) AS content_hash, length(text) AS content_length
        |FROM documents WHERE doc_id % 9 <> 4 ORDER BY doc_id""".stripMargin,

    "r10_doc_summary" ->
      """WITH sent AS (
        |  SELECT source, doc_id, text || '.' AS s, length(text) + 1 AS slen FROM documents
        |), folded AS (
        |  SELECT source,
        |    list_reduce(
        |      [struct_pack(summary := '', total := CAST(0 AS BIGINT), n := CAST(0 AS BIGINT))] ||
        |      list_transform(list(struct_pack(s := s, slen := slen) ORDER BY doc_id),
        |        e -> struct_pack(summary := e.s, total := CAST(e.slen AS BIGINT), n := CAST(1 AS BIGINT))),
        |      (acc, e) -> CASE WHEN acc.total + e.total > 500 THEN acc
        |        ELSE struct_pack(
        |          summary := CASE WHEN acc.n = 0 THEN e.summary ELSE acc.summary || ' ' || e.summary END,
        |          total := acc.total + e.total + 1,
        |          n := acc.n + 1) END
        |    ) AS f
        |  FROM sent GROUP BY source
        |)
        |SELECT source, f.summary AS summary, length(f.summary) AS summary_length,
        |  f.n AS docs_used
        |FROM folded ORDER BY source""".stripMargin,
  )
}
