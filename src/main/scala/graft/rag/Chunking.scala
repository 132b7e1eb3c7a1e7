package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{Artifact, Warehouse}

/** Document chunking for RAG ingestion (SURVEY.md §2.B) — the standard
  * fixed-size sliding window with overlap: 32-word chunks on a 24-word
  * stride (8 words of overlap), so no retrievable statement straddles a
  * boundary without appearing whole in a neighbor. Chunk identity is the
  * md5 of the chunk text — the downstream unit the embedder and the
  * vector index ingest (the reference embeds whole documents; production
  * RAG corpora chunk first, so the chunk table is the real ingest shape).
  *
  * Scale shape: one narrow generator pass — split, explode the stride
  * positions (sequence + explode are codegen generators; no window, no
  * shuffle), slice per chunk. Chunk rows are ~len/stride per doc; the
  * output is naturally partition-local to the input split, so at 100 TB
  * chunking is a map-only stage feeding the embed/index build.
  */
object Chunking {

  val ChunkWords = 32
  val Stride = 24

  /** Stateless chunk rows from any (doc_id, text, carry...) frame —
    * generator + projections only, so it runs unchanged on a STREAMING
    * DataFrame (the H10 online ingest) and the batch r17 path. The ONE
    * place chunk boundaries are defined: r17, r18's feature index, and
    * H10 all read chunk identity from here, so they cannot drift.
    * `withText = true` additionally emits the chunk text (`ctext`) for
    * downstream embedding. */
  def chunkRows(df: DataFrame, carry: Seq[String] = Nil,
                withText: Boolean = false): DataFrame = {
    val t = df
      .select(col("doc_id") +: carry.map(col) :+ split(col("text"), " ").as("ws"): _*)
      .withColumn("len", size(col("ws")).cast("long"))
    val cw = slice(col("ws"), col("start_pos").cast("int") + 1, lit(ChunkWords))
    val base = Seq(
      col("doc_id"),
      (col("start_pos") / Stride).cast("long").as("chunk_id"),
      col("start_pos"),
      size(cw).cast("long").as("n_chunk_words"),
      md5(concat_ws(" ", cw)).as("chunk_hash"))
    val textCol = if (withText) Seq(concat_ws(" ", cw).as("ctext")) else Nil
    t.select(col("doc_id") +: carry.map(col) :+ col("ws") :+
        explode(sequence(lit(0L), col("len") - 1, lit(Stride.toLong))).as("start_pos"): _*)
      .select(base ++ textCol ++ carry.map(col): _*)
  }

  def r17Chunking(spark: SparkSession, dir: String): DataFrame =
    chunkRows(Tables.documents(spark, dir))
      .orderBy("doc_id", "chunk_id")

  /** B18: chunk-level retrieval — the composed ingest path end to end:
    * chunk (r17) -> feature-hash embed (r9's embedder) -> search. Scoring
    * is a SPARSE cosine over the inverted index: query and chunk
    * signed-count features join on bucket equality (active buckets only,
    * s != 0) and the dot product is an EXACT integer sum (so is each
    * side's squared norm) — doubles appear only in the final
    * round(dot/(|q||c|), 6). The candidate set is pairs sharing at least
    * one active bucket, identically defined in Spark and the oracle (r6
    * had the Spark side dense-scanning ALL pairs while the oracle joined
    * sparsely — a latent membership divergence, now closed by making BOTH
    * engines run the sparse formulation). This is the inverted-postings
    * join IR engines run at web scale: cost is bounded by shared active
    * buckets, no dense Dim-wide math per (query, chunk) pair, bit-stable
    * at any shuffle order. Chunks of the query's own document are
    * excluded; top-5 per query. */

  /** The chunk postings index — sparse rows (doc_id, chunk_id, bucket, s,
    * n2) with s != 0, an artifact bucketed by doc_id: the ingest artifact a chunked RAG corpus stores. n2 (the
    * chunk's exact squared norm) is denormalized onto each posting row so
    * scoring needs no second join. The doc_id bucketing makes the
    * post-join (query_id, doc_id, chunk_id) aggregation exchange-free
    * (doc_id ⊆ the grouping keys), so retrieval is: bucketed scan ->
    * broadcast join on bucket -> partial+final HashAggregate, one shuffle
    * of the tiny aggregated candidate rows only. */
  private def chunkFeatureIndex(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "chunkfeat", dir, Seq("documents.parquet")) { t =>
      // the (doc_id, chunk_id) pair rides through Embed.features' single
      // id column as a synthesized key, split back after — no re-join
      val chunks = chunkRows(Tables.documents(spark, dir), withText = true)
        .select(concat_ws("#", col("doc_id"), col("chunk_id")).as("ck"), col("ctext"))
      val cf = Embed.features(chunks, "ck", "ctext")
        .filter(col("s") =!= 0)
        .withColumn("doc_id", split_part(col("ck"), lit("#"), lit(1)).cast("long"))
        .withColumn("chunk_id", split_part(col("ck"), lit("#"), lit(2)).cast("long"))
        .select("doc_id", "chunk_id", "bucket", "s")
      val norms = cf.groupBy("doc_id", "chunk_id")
        .agg(sum(col("s") * col("s")).as("n2"))
      Warehouse.writeBucketed(cf.join(norms, Seq("doc_id", "chunk_id")), t, "doc_id")
    }

  /** B18: chunk-level search over the inverted sparse-feature index.
    *
    * GRADING VARIANT at the default qmod: the query set is corpus-
    * proportional, so the bucket join's work grows quadratically with
    * scale (the #1 bench hotspot at sf1 — owned, reference semantics).
    * Production at 100× pins Q fixed — the registered `r18s` twin
    * (qmod=101·13) is the scale entry point. */
  def r18ChunkSearch(spark: SparkSession, dir: String, k: Int = 5,
                     qmod: Int = 101): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cf = chunkFeatureIndex(spark, dir)
    // query postings (tiny: |docs|/101 queries × ≤Dim active buckets) with
    // the exact squared norm attached — broadcast into the chunk index
    val qf = Embed.features(
        Tables.documents(spark, dir).filter(col("doc_id") % qmod === 0)
          .select(col("doc_id").as("query_id"), col("text")), "query_id", "text")
      .filter(col("s") =!= 0)
      .select(col("query_id"), col("bucket").as("qb"), col("s").as("qs"))
    val q2 = qf.groupBy("query_id").agg(sum(col("qs") * col("qs")).as("q2"))
    val q = qf.join(q2, "query_id")
    // s != 0 on both sides ⇒ n2 ≥ 1 and q2 ≥ 1: no zero-norm guard needed
    val sim = round(
      col("dp").cast("double") / (sqrt(col("q2").cast("double")) * sqrt(col("n2").cast("double"))), 6)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("doc_id"), col("chunk_id"))
    cf.join(broadcast(q), col("qb") === col("bucket") && col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id", "chunk_id", "q2", "n2")
      .agg(sum(col("s") * col("qs")).as("dp"))
      .withColumn("similarity", sim)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "chunk_id", "similarity", "rnk")
      .orderBy("query_id", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r17_chunking" -> ((s, d) => r17Chunking(s, d)),
    "r18_chunk_search" -> ((s, d) => r18ChunkSearch(s, d)),
    // r12, the d7s pattern: 1-in-13 query sample on BOTH engines — the
    // chunk index stays full-corpus; the oracle becomes sf10-feasible
    "r18s_chunk_search" -> ((s, d) => r18ChunkSearch(s, d, qmod = 1313)),
  )

  /** r18's oracle, parameterized by the query-doc sample modulus
    * (r12 — 101 = the registered full query set; 1313 = the d7s-style
    * 1-in-13 sample that keeps the chunk index full-corpus while the
    * pair stage divides by 13). */
  private def r18Sql(qmod: Int): String =
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, ws, unnest(range(0, len, $Stride)) AS start_pos FROM t
         |), ch AS (
         |  SELECT doc_id, start_pos // $Stride AS chunk_id,
         |    list_slice(ws, start_pos + 1, least(start_pos + $ChunkWords, len(ws))) AS cw
         |  FROM st
         |), ctok AS (
         |  SELECT doc_id, chunk_id, ${graft.functions.DetHash.h60Sql("'fh:' || w")} AS h
         |  FROM (SELECT doc_id, chunk_id, unnest(cw) AS w FROM ch)
         |), cf AS (
         |  -- active postings only (s <> 0), matching the Spark index:
         |  -- candidate membership is "shares >= 1 active bucket" in BOTH
         |  -- engines (the sparse inverted-index formulation)
         |  SELECT doc_id, chunk_id, CAST(h % ${Embed.Dim} AS INT) AS bucket,
         |    sum(CASE WHEN (h // ${Embed.Dim}) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM ctok GROUP BY 1, 2, 3
         |  HAVING sum(CASE WHEN (h // ${Embed.Dim}) % 2 = 1 THEN 1 ELSE -1 END) <> 0
         |), qtok AS (
         |  SELECT doc_id AS query_id, ${graft.functions.DetHash.h60Sql("'fh:' || w")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents WHERE doc_id % $qmod = 0)
         |), qf AS (
         |  SELECT query_id, CAST(h % ${Embed.Dim} AS INT) AS bucket,
         |    sum(CASE WHEN (h // ${Embed.Dim}) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM qtok GROUP BY 1, 2
         |  HAVING sum(CASE WHEN (h // ${Embed.Dim}) % 2 = 1 THEN 1 ELSE -1 END) <> 0
         |), q2 AS (
         |  SELECT query_id, CAST(sum(s*s) AS BIGINT) AS q2 FROM qf GROUP BY 1
         |), c2 AS (
         |  SELECT doc_id, chunk_id, CAST(sum(s*s) AS BIGINT) AS c2 FROM cf GROUP BY 1, 2
         |), dp AS (
         |  SELECT q.query_id, c.doc_id, c.chunk_id, CAST(sum(q.s * c.s) AS BIGINT) AS dp
         |  FROM qf q JOIN cf c ON c.bucket = q.bucket AND c.doc_id <> q.query_id
         |  GROUP BY 1, 2, 3
         |), scored AS (
         |  -- s <> 0 postings only, so q2 >= 1 and c2 >= 1: no zero guard
         |  SELECT dp.query_id, dp.doc_id, dp.chunk_id,
         |    round(CAST(dp.dp AS DOUBLE) /
         |        (sqrt(CAST(q2.q2 AS DOUBLE)) * sqrt(CAST(c2.c2 AS DOUBLE))), 6) AS similarity
         |  FROM dp
         |  JOIN q2 ON q2.query_id = dp.query_id
         |  JOIN c2 ON c2.doc_id = dp.doc_id AND c2.chunk_id = dp.chunk_id
         |)
         |SELECT query_id, doc_id, chunk_id, similarity, rnk FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY similarity DESC, doc_id, chunk_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "r17_chunking" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, ws, unnest(range(0, len, $Stride)) AS start_pos FROM t
         |), ch AS (
         |  SELECT doc_id, start_pos // $Stride AS chunk_id, start_pos,
         |    list_slice(ws, start_pos + 1, least(start_pos + $ChunkWords, len(ws))) AS cw
         |  FROM st
         |)
         |SELECT doc_id, chunk_id, start_pos,
         |  CAST(len(cw) AS BIGINT) AS n_chunk_words,
         |  md5(array_to_string(cw, ' ')) AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "r18_chunk_search" -> r18Sql(101),
    "r18s_chunk_search" -> r18Sql(1313),
  )
}
