package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.rag.Search
import graft.rag.Search.dotSql
import graft.sources.{Artifact, Warehouse}

/** RESIDUAL-encoded IVFPQ (SURVEY.md §2.D) — the full Jégou et al. 2011
  * construction as shipped by FAISS `IVFx,PQy`: vectors are PQ-encoded as
  * RESIDUALS from their coarse centroid (r = v - c_list), not raw. The
  * residual distribution is centered and far tighter than the raw one, so
  * the same 16-centroid subquantizers spend their resolution on the part
  * of the vector the coarse quantizer didn't explain — the standard
  * accuracy lever over raw-vector IVFPQ (a13).
  *
  * Index row: (vec_id, codes, rn2) partitioned by list_id, where rn2 =
  * |c_list + recon(residual)|^2 is assembled EXACTLY at build time from
  * |c|^2 + 2·Σ_m dot(c_m, cc_m) + Σ_m |cc_m|^2 — query scoring never
  * touches raw vectors. Query: approx_dot(q, v̂) = dot(q, c_list) (one
  * term per probed (query, list) pair, tiny) + Σ_m LUT_m[code_m] (the
  * ADC scan over codes). Same dynamic-partition-pruned probe plan as a13.
  *
  * All arithmetic is double with the identical expression tree in the
  * DuckDB oracle; distances round to 6 with centroid-id tie-breaks, so
  * codes — and therefore scores — are bit-identical cross-engine.
  */
object IvfPqR {

  import Pq.{M, D, K}

  private def vd(c: Column): Column = Vec.toDouble(c)

  /** Residual frame (vec_id, list_id, rv double[dim], cvd double[dim])
    * from any coarse assignment (vec_id, list_id, v) + centroid set
    * (cent_id, cvd double[dim]) — shared by the deterministic-coarse (a16)
    * and k-means-coarse (a18) variants. */
  private def residualFrame(asg: DataFrame, cent: DataFrame): DataFrame =
    asg.join(broadcast(cent), col("list_id") === col("cent_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(vd(col("v")), col("cvd"), (a, b) => a - b).as("rv"),
        col("cvd"))

  /** The deterministic coarse centroids (vec_id < 8) as (cent_id, cvd). */
  private def coarse(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), vd(col("v")).as("cvd"))

  /** Residual codebook (m, k, c double[d], cn2): the residuals of rows
    * 8 <= vec_id < 8+K (k = vec_id - 8) — deterministic and replayable. */
  private def residualCodebook(res: DataFrame, d: Int): DataFrame =
    Stages.codebook(res.filter(col("vec_id") >= 8 && col("vec_id") < 8 + K),
      (col("vec_id") - 8).as("k"), col("rv"), d)

  /** The residual IVFPQ index artifact: codes + exact rn2, written
    * PARTITIONED BY list_id. The encoder's candidates additionally carry
    * the cross term dot(c_list_m, cc), so rn2 assembles in the same pass. */
  private def indexTable(spark: SparkSession, kind: String, dir: String,
                         res: DataFrame, rcb: DataFrame, d: Int): DataFrame =
    Artifact.table(spark, kind, dir, Ann.Emb) { t =>
      val enc = Stages.encode(res, rcb, col("rv"), d,
        Seq(col("vec_id"), col("list_id"), Vec.dotNative(col("cvd"), col("cvd")).as("cn2c")),
        cross = Some(col("cvd")))
      val rn2 = col("cn2c") +
        lit(2.0) * (0 until M).map(m => col(s"cx$m")).reduce(_ + _) +
        (0 until M).map(m => col(s"cn$m")).reduce(_ + _)
      Warehouse.writePartitionedTable(
        enc.select(Seq(col("vec_id"), rn2.as("rn2")) ++
          (0 until M).map(m => col(s"code$m")) :+ col("list_id"): _*),
        t, "list_id")
    }

  /** ADC scoring shared by a16/a18: probes carry (query_id, list_id, qvd
    * double[dim], qnrm, qc = dot(q, c_list)); codes is the encoded index.
    * Builds the per-query residual LUTs, broadcasts probe×LUT, and ranks
    * approx cosine within probed lists. */
  private def adcTopK(codes: DataFrame, probes: DataFrame, rcb: DataFrame,
                      k: Int, d: Int): DataFrame = {
    // The distinct + groupBy(query_id) exchanges of the LUT build are
    // O(queries), scale-independent; a row-local LUT measured 2.6x
    // slower (Stages.lut).
    val lut = Stages.lut(probes.select(col("query_id"), col("qvd")).distinct(),
      rcb, col("qvd"), d, col("query_id"))
    // broadcast(lut): both sides are O(queries) (fixed-Q contract); the
    // stats-less aggregate output otherwise plans a SortMergeJoin with 2
    // Exchanges + 2 Sorts inside every residual probe subtree (r18, guide
    // §3.1 — the Pq.a13IvfPqTopK fix applied to the a16/a18 shared path).
    val probeLut = probes.join(broadcast(lut), "query_id")
      .select(Seq(col("query_id"), col("list_id").as("p_list"), col("qnrm"), col("qc")) ++
        (0 until M).map(m => col(s"l$m")): _*)
    // fixed-Q contract (Ann scaladoc): probeLut is O(queries × nprobe).
    Stages.rankTopK(codes.join(broadcast(probeLut),
        col("list_id") === col("p_list") && col("vec_id") =!= col("query_id")),
      Stages.adcScore(col("rn2"), Some(col("qc"))), k)
  }

  /** D16 (a16): residual-IVFPQ top-10 for the standard probe set, encoded
    * at the corpus's live subspace width ([[Pq.subDimOf]]). */
  def a16IvfPqResidualTopK(spark: SparkSession, dir: String, k: Int = 10,
                           qmod: Int = 101): DataFrame = {
    val e = Search.corpus(spark, dir)
    val d = Pq.subDimOf(spark, dir)
    val res = residualFrame(Ann.listAssignment(e).select("vec_id", "list_id", "v"), coarse(e))
    val rcb = residualCodebook(res, d)
    val codes = indexTable(spark, "ivfpqr", dir, res, rcb, d)
    // per-(query, probed list): the dot(q, c_list) offset
    val probes = Ann.listProbes(e, qmod = qmod)
      .select(col("query_id"), col("list_id"), vd(col("qv")).as("qvd"), col("qnrm"))
      .join(broadcast(coarse(e)), col("list_id") === col("cent_id"))
      .withColumn("qc", Vec.dotNative(col("qvd"), col("cvd")))
      .select("query_id", "list_id", "qvd", "qnrm", "qc")
    adcTopK(codes, probes, rcb, k, d)
  }

  /** D18 (a18): residual IVFPQ with a LEARNED (k-means) coarse quantizer —
    * the composition the deterministic a16 variant stands in for at oracle
    * time: coarse lists come from [[KmeansIvf]]'s trained, partitioned
    * index (the production build path), residual encode/ADC reuse the a16
    * machinery unchanged. The trained centroids explain more variance than
    * a16's first-8-vectors stand-ins, so residuals are tighter and the
    * same 16-centroid subquantizers buy strictly more resolution — the
    * recall gain is measured by a18_ivfpqrk_recall against the identical
    * brute-force ground truth a17 uses. Not oracle-gated (k-means is not
    * SQL-reproducible); spec-tested instead (IvfPqRKSpec): result shape,
    * probe fan-out bound, and recall at-least-matching the deterministic
    * a17 path. */
  def a18IvfPqrKmeansTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val d = Pq.subDimOf(spark, dir)
    val (asg, centDf) = KmeansIvf.ivfIndex(spark, dir)
    val cent = centDf.select(col("cent_id"), col("cv").as("cvd"), col("csq"))
    val res = residualFrame(asg.select("vec_id", "list_id", "v"),
      cent.select("cent_id", "cvd"))
    val rcb = residualCodebook(res, d)
    val codes = indexTable(spark, "ivfpqrk", dir, res, rcb, d)
    // probe selection: nearest trained centroids by squared L2 (a4's rule)
    val queries = asg.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("query_id"), vd(col("v")).as("qvd"), col("nrm").as("qnrm"))
    val probes = Stages.nearestL2(queries, cent, col("qvd"), col("cvd"), KmeansIvf.NProbe)
      .withColumn("qc", Vec.dotNative(col("qvd"), col("cvd")))
      .select(col("query_id"), col("cent_id").as("list_id"), col("qvd"), col("qnrm"), col("qc"))
    adcTopK(codes, probes, rcb, k, d)
  }

  /** D18 recall: k-means-coarse residual IVFPQ vs the same brute-force
    * ground truth as a17 — makes "learned coarse ≥ deterministic coarse"
    * a measured number instead of a claim. */
  def a18IvfPqrKmeansRecall(spark: SparkSession, dir: String): DataFrame =
    Pq.recallVsBruteForce(spark, dir, a18IvfPqrKmeansTopK(spark, dir))

  /** D17 (a17): residual-IVFPQ recall@10 — graded against brute force so
    * the residual-vs-raw (a14) gain is a measured number. */
  def a17IvfPqResidualRecall(spark: SparkSession, dir: String,
                             qmod: Int = 101): DataFrame =
    Pq.recallVsBruteForce(spark, dir, a16IvfPqResidualTopK(spark, dir, qmod = qmod), qmod)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a16_ivfpqr_topk" -> ((s, d) => a16IvfPqResidualTopK(s, d)),
    "a17_ivfpqr_recall" -> ((s, d) => a17IvfPqResidualRecall(s, d)),
    "a18_ivfpqrk_topk" -> ((s, d) => a18IvfPqrKmeansTopK(s, d)),
    "a18_ivfpqrk_recall" -> ((s, d) => a18IvfPqrKmeansRecall(s, d)),
    // r12, the d7s pattern (see Pq.scala): 1-in-13 query sample
    "a16s_ivfpqr_topk" -> ((s, d) => a16IvfPqResidualTopK(s, d, qmod = 1313)),
    "a17s_ivfpqr_recall" -> ((s, d) => a17IvfPqResidualRecall(s, d, qmod = 1313)),
  )

  // ---------------------------------------------------------------- oracle

  /** DOUBLE[8] subvector m of 64-dim list v (m is a SQL expression). */
  private def subSql(v: String, m: String): String =
    s"list_transform(range(1, ${D + 1}), j -> $v[$m*$D + j])"

  private def residualCte(qmod: Int): String = {
    val codePivot = (0 until M).map(m =>
      s"max(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n        ")
    val cnPivot = (0 until M).map(m =>
      s"max(CASE WHEN m = $m THEN cn2 END) AS cnp$m").mkString(",\n        ")
    val cxPivot = (0 until M).map(m =>
      s"max(CASE WHEN m = $m THEN cx END) AS cx$m").mkString(",\n        ")
    val cxSum = (0 until M).map(m => s"cx$m").mkString(" + ")
    val cnSum = (0 until M).map(m => s"cnp$m").mkString(" + ")
    val lutJoins = (0 until M).map(m =>
      s"JOIN lut l$m ON l$m.query_id = pq.query_id AND l$m.m = $m AND l$m.k = s.code$m")
      .mkString("\n  ")
    val lutSum = (0 until M).map(m => s"l$m.qd").mkString(" + ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e0),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
       |asg0 AS (
       |  SELECT en.vec_id, cent.cent_id, en.v, en.nrm,
       |    round(CASE WHEN en.nrm*cent.cnrm = 0 THEN 0.0
       |      ELSE ${dotSql("en.v", "cent.cv")}/(en.nrm*cent.cnrm) END, 6) AS cs
       |  FROM en, cent
       |), asg AS (
       |  SELECT vec_id, cent_id AS list_id, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |), resid AS (
       |  SELECT a.vec_id, a.list_id,
       |    list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS rv, c.cv
       |  FROM asg a JOIN cent c ON c.cent_id = a.list_id
       |), rcb AS (
       |  SELECT t.m, r.vec_id - 8 AS k, ${subSql("r.rv", "t.m")} AS c,
       |    ${dotSql(subSql("r.rv", "t.m"), subSql("r.rv", "t.m"))} AS cn2
       |  FROM resid r, range(0, $M) t(m) WHERE r.vec_id >= 8 AND r.vec_id < ${8 + K}
       |), subv AS (
       |  SELECT r.vec_id, r.cv, t.m, ${subSql("r.rv", "t.m")} AS sub
       |  FROM resid r, range(0, $M) t(m)
       |), dists AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    round(-2.0*${dotSql("s.sub", "c.c")} + c.cn2, 6) AS dist, c.cn2,
       |    ${dotSql(subSql("s.cv", "s.m"), "c.c")} AS cx
       |  FROM subv s JOIN rcb c ON c.m = s.m
       |), codes AS (
       |  SELECT vec_id, m, k AS code, cn2, cx FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM dists) WHERE rn = 1
       |), cp AS (
       |  SELECT vec_id,
       |        $codePivot,
       |        $cnPivot,
       |        $cxPivot
       |  FROM codes GROUP BY vec_id
       |), cpx AS (
       |  SELECT cp.*, a.list_id,
       |    ${dotSql("r.cv", "r.cv")} + 2.0 * ($cxSum) + ($cnSum) AS rn2
       |  FROM cp
       |  JOIN asg a ON a.vec_id = cp.vec_id
       |  JOIN resid r ON r.vec_id = cp.vec_id
       |), probes0 AS (
       |  SELECT vec_id AS query_id, cent_id AS list_id, v AS qv, nrm AS qnrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM asg0 WHERE vec_id % $qmod = 0) WHERE rn <= 3
       |), pq AS (
       |  SELECT p.query_id, p.list_id, p.qnrm, ${dotSql("p.qv", "c.cv")} AS qc
       |  FROM probes0 p JOIN cent c ON c.cent_id = p.list_id
       |), lut AS (
       |  SELECT q.query_id, c.m, c.k, ${dotSql(subSql("q.qv", "c.m"), "c.c")} AS qd
       |  FROM (SELECT DISTINCT query_id, qv FROM probes0) q, rcb c
       |), scored AS (
       |  SELECT pq.query_id, s.vec_id,
       |    round(CASE WHEN pq.qnrm * sqrt(s.rn2) = 0 THEN 0.0
       |      ELSE (pq.qc + ($lutSum)) / (pq.qnrm * sqrt(s.rn2)) END, 6) AS similarity
       |  FROM pq
       |  JOIN cpx s ON s.list_id = pq.list_id AND s.vec_id <> pq.query_id
       |  $lutJoins
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rnk
       |  FROM scored)""".stripMargin
  }

  private lazy val ResidualCte: String = residualCte(101)

  /** The multi-referenced CTEs of the residual chain (see
    * Pq.materializeShared — applied to the sampled variants only). */
  private val ResidualSharedCtes = Seq(
    "en", "cent", "asg0", "asg", "resid", "rcb", "cp", "cpx",
    "probes0", "pq", "lut", "bf")

  val oracle: Map[String, String] = Map(
    "a16_ivfpqr_topk" -> (ResidualCte +
      """
        |SELECT query_id, vec_id, similarity, rnk FROM ranked WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin),

    "a17_ivfpqr_recall" -> (ResidualCte +
      """
        |, ivfpqr AS (
        |  SELECT query_id, vec_id FROM ranked WHERE rnk <= 10
        |)""".stripMargin + Pq.recallTailSql("ivfpqr")),

    // ---- sampled variants (r12, d7s pattern — see Pq.scala)
    "a16s_ivfpqr_topk" -> Pq.materializeShared(residualCte(1313) +
      """
        |SELECT query_id, vec_id, similarity, rnk FROM ranked WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin, ResidualSharedCtes),

    "a17s_ivfpqr_recall" -> Pq.materializeShared(residualCte(1313) +
      """
        |, ivfpqr AS (
        |  SELECT query_id, vec_id FROM ranked WHERE rnk <= 10
        |)""".stripMargin + Pq.recallTailSql("ivfpqr", 1313), ResidualSharedCtes),
  )
}
