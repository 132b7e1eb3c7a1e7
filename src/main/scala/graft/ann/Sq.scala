package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.rag.Search
import graft.rag.Search.dotSql
import graft.sources.{Artifact, Warehouse}

/** Scalar quantization (SQ8) ANN (SURVEY.md §2.D) — the middle point of
  * the compression/accuracy trade: each of the 64 dims is affinely mapped
  * to an 8-bit code against per-dimension [min, max] bounds (the public
  * FAISS `SQ8` / Milvus `IVF_SQ8` technique), so a vector stores in
  * 64 bytes instead of 256 — 4x compression with far higher fidelity
  * than PQ's 8 bytes/vector. Queries score against the RECONSTRUCTED
  * vectors (mn + code*scale per dim), never the raw floats.
  *
  * Index build is one narrow pass (a 64-row min/max aggregate, then a
  * per-row encode — no joins, no shuffle beyond the tiny stats agg);
  * the code table is a once-per-corpus-version bucketed artifact like the
  * PQ code table. A zero-width dimension (mx == mn) yields scale 0 and
  * code 0 — reconstruction degrades to the constant mn, identically in
  * both engines.
  */
object Sq {

  val TopK = 10
  val Levels = 255 // code range 0..255

  /** Per-dim quantization bounds as ONE row of pos-ordered arrays:
    * mn double[64], sc double[64] with sc = (mx-mn)/255. */
  private def statsTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "sqstats", dir, Ann.Emb) { t =>
      val perDim = Search.corpus(spark, dir)
        .select(posexplode(Vec.toDouble(col("v"))).as(Seq("pos", "x")))
        .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val row = perDim
        .agg(sort_array(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("s"))
        .select(
          transform(col("s"), s => s.getField("mn")).as("mn"),
          transform(col("s"), s => (s.getField("mx") - s.getField("mn")) / lit(255.0)).as("sc"))
      Warehouse.writeTable(row, t)
    }

  /** recon_d = mn_d + code_d * sc_d, in index order. */
  private def reconOf(codes: Column, mn: Column, sc: Column): Column =
    zip_with(zip_with(codes, sc, (c, s) => c * s), mn, (x, m) => x + m)

  /** The SQ8 code table (vec_id, codes long[64], rn2), an artifact
    * bucketed by vec_id. rn2 = |recon|^2 is stored
    * at build time so query-side scoring never re-folds the norm. */
  private def codesTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "sqcodes", dir, Ann.Emb) { t =>
      val st = statsTable(spark, dir)
      val codes = zip_with(
        zip_with(Vec.toDouble(col("v")), col("mn"), (x, m) => x - m),
        col("sc"),
        (x, s) => when(s === 0.0, lit(0L)).otherwise(round(x / s).cast("long")))
      val enc = Search.corpus(spark, dir)
        .crossJoin(broadcast(st))
        .withColumn("codes", codes)
        .withColumn("rn2", Vec.dotNative(reconOf(col("codes"), col("mn"), col("sc")),
          reconOf(col("codes"), col("mn"), col("sc"))))
        .select("vec_id", "codes", "rn2")
      Warehouse.writeBucketed(enc, t, "vec_id")
    }

  /** SQ8 top-k: cosine of the query against reconstructed vectors.
    * `qmod` picks the deterministic query set (vec_id % qmod == 0); 1313
    * is the 1-in-13 sampled-oracle point (d7s pattern) — the code table
    * under test is full-corpus either way. */
  def sqTopK(spark: SparkSession, dir: String, k: Int = TopK, qmod: Int = 101): DataFrame = {
    val e = Search.corpus(spark, dir)
    val st = statsTable(spark, dir)
    val codes = codesTable(spark, dir)
    val q = e.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("query_id"), Vec.toDouble(col("v")).as("qv"),
        col("nrm").as("qnrm"))
    // fixed-Q contract (Ann scaladoc): q is the O(queries) probe batch.
    Stages.rankTopK(codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .crossJoin(broadcast(st)),
      Stages.cosine(col("qv"), col("qnrm"), reconOf(col("codes"), col("mn"), col("sc")),
        sqrt(col("rn2"))), k)
  }

  /** D12: SQ8 recall@10 vs exact brute force — the measured point between
    * a6 (PQ, 8 bytes) and exact (256 bytes) on the compression curve. */
  def a12SqRecall(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame =
    Pq.recallVsBruteForce(spark, dir, sqTopK(spark, dir, qmod = qmod), qmod)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a12_sq8_recall" -> ((s, d) => a12SqRecall(s, d)),
    "a12s_sq8_recall" -> ((s, d) => a12SqRecall(s, d, qmod = 1313)),
  )

  // ---------------------------------------------------------------- oracle

  /** qmod-parameterized a12 oracle; a12Sql(101) is the registered text
    * byte-for-byte (driver-scale grades unchanged). */
  private def a12Sql(qmod: Int): String =
    Search.CorpusCte +
      s""", pd AS (
         |  SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx
         |  FROM en, range(1, 65) t(i) GROUP BY 1
         |), st AS (
         |  SELECT list(mn ORDER BY pos) AS mn,
         |         list((mx - mn) / 255.0 ORDER BY pos) AS sc
         |  FROM pd
         |), codes AS (
         |  SELECT vec_id, list_transform(range(1, 65),
         |    i -> CASE WHEN sc[i] = 0 THEN 0
         |              ELSE CAST(round((v[i] - mn[i]) / sc[i]) AS BIGINT) END) AS codes
         |  FROM en, st
         |), recon AS (
         |  SELECT vec_id,
         |    list_transform(range(1, 65), i -> mn[i] + codes[i] * sc[i]) AS r
         |  FROM codes, st
         |), rn AS (
         |  SELECT vec_id, r, sqrt(${dotSql("r", "r")}) AS rnrm FROM recon
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id % $qmod = 0
         |), sqscored AS (
         |  SELECT q.query_id, rn.vec_id,
         |    round(CASE WHEN q.qnrm*rn.rnrm = 0 THEN 0.0
         |      ELSE ${dotSql("q.qv", "rn.r")}/(q.qnrm*rn.rnrm) END, 6) AS similarity
         |  FROM q JOIN rn ON rn.vec_id <> q.query_id
         |), sq10 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rnk
         |    FROM sqscored) WHERE rnk <= $TopK
         |)""".stripMargin + Pq.recallTailSql("sq10", qmod)

  val oracle: Map[String, String] = Map(
    "a12_sq8_recall" -> a12Sql(101),
    // sampled variant (d7s pattern): full-corpus codes/recon, 1-in-13
    // queries; shared CTEs materialized for DuckDB feasibility at sf10
    // (the d7 CTE-inlining lesson — en/codes/recon are read 2-4x)
    "a12s_sq8_recall" -> Pq.materializeShared(a12Sql(1313),
      Seq("en", "st", "codes", "recon", "rn", "bf")),
  )
}
