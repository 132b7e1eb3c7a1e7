package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rag.Search
import graft.rag.Search.dotSql
import graft.sources.Artifact

/** D19: GRAPH-ordered probe selection over the IVF centroids (SURVEY.md
  * §2.D) — the navigable-graph idea (HNSW/NSG layer-0) applied at the
  * coarse-quantizer level, at the SAME probed-list budget as a3's fixed
  * nprobe: instead of ranking every centroid by query distance, the query
  * enters at its single nearest centroid and expands along the centroid
  * k-NN graph's out-edges, probing the best `nprobe` of {entry} ∪
  * neighbors(entry). At 8 centroids this is a behavioral model; the point
  * at scale is that probe selection touches entry + degree candidates
  * (O(degree)) instead of all sqrt(N) centroids (O(nlists)) — the standard
  * trick once nlists itself is too large to scan per query.
  *
  * Everything is deterministic (rounded cosines, id tie-breaks): the edge
  * list, entry choice, expansion, and final ranking are all oracle-gated
  * in DuckDB — including the recall number, so the cost of greedy probe
  * ordering vs exhaustive centroid ranking (a3) is a measured, graded
  * quantity (GraphProbeSpec compares the two at equal budget).
  *
  * Scale notes: centroid table and edge list are tiny broadcast artifacts
  * (nlists × degree rows, built once per corpus version); the probe scan
  * itself is a2's partition-pruned plan unchanged — only the probe-set
  * construction differs.
  */
object GraphProbe {

  val NLists = 8
  val Degree = 3 // out-edges per centroid in the centroid k-NN graph
  val NProbe = 3 // equal-budget with a3's fixed nprobe
  val Beam = 1   // hop-1 frontier width carried into the second hop
  val TopK = 10

  /** Centroid k-NN graph: per source centroid, its Degree nearest other
    * centroids by rounded cosine (dst tie-break). 8×8 → 8×3 rows; at scale
    * a once-per-corpus broadcast artifact. */
  private def centroidEdges(cent: DataFrame): DataFrame = {
    val c2 = cent.select(col("cent_id").as("dst"), col("cv").as("cv2"), col("cnrm").as("cnrm2"))
    val we = Window.partitionBy(col("src")).orderBy(col("cs").desc, col("dst"))
    cent.select(col("cent_id").as("src"), col("cv"), col("cnrm"))
      .join(broadcast(c2), col("dst") =!= col("src"))
      .withColumn("cs", Stages.cosine(col("cv"), col("cnrm"), col("cv2"), col("cnrm2")))
      .withColumn("rn", row_number().over(we)).filter(col("rn") <= Degree)
      .select("src", "dst")
  }

  /** Greedy graph probe set — beam-width-Beam, two-hop expansion (the
    * HNSW layer-0 walk truncated to a fixed depth so it stays one
    * declarative plan): entry = nearest centroid; hop 1 visits N(entry);
    * the Beam best hop-1 neighbors by query cosine are expanded again
    * (hop 2). The probe set is the NProbe best of {entry} ∪ N(entry) ∪
    * N(best₁..Beam). A single-hop frontier measurably missed lists the
    * walk reaches (recall 0.52 vs 0.58 exhaustive at sf0.001 — the
    * global #2/#3 centroid is not always an entry neighbor); the second
    * hop recovers most of that (0.54) while still touching
    * O(Beam × degree) candidates per query, not all nlists. Beam stays
    * 1: beam-2 was tried and MEASURED WORSE (0.52) — the wider frontier
    * surfaces centroids with higher query cosine that displace lists
    * actually holding true neighbors, a reminder that the
    * centroid-cosine proxy is not monotone in recall. */
  /** The centroid-graph edge list as a driver-side index artifact (r17
    * optimization round, guide §1.2 step 1): HNSW/NSG deployments
    * STORE the neighbor graph with the index — it is build output, not
    * per-query work — yet every a19 serve re-ran [[centroidEdges]]'s
    * window over the centroid cross pairs. nlists × Degree longs —
    * driver-trivial at any scale that can hold centroids. */
  private def edgeMapOf(spark: SparkSession, dir: String): Map[Long, Seq[Long]] =
    Artifact.value(spark, "edges", dir, Ann.Emb) {
      centroidEdges(Stages.centroids(Search.corpus(spark, dir), NLists)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).map { case (s, ds) => (s, ds.map(_._2).sorted) }
    }

  /** Greedy graph probe set — beam-width-Beam, two-hop expansion,
    * computed ROW-LOCALLY (r17 optimization round, guide §2.4 — the
    * [[Ann.listProbes]] pattern): the centroid set rides one broadcast
    * row, the edge list is a plan literal from the memoized graph
    * artifact, and each query row derives entry/hops/probes with array
    * expressions over its own sorted score array. The r16 shape ran the
    * SAME logic as 3 windows + 4 joins + a union-distinct over tiny
    * frames — ~40 exchanges of scheduling overhead per serve and a
    * per-serve edge rebuild. Ordering is identical by construction:
    * `sc` is sorted by (ncs = −rounded-cosine, cent_id) ascending ==
    * every old window's (cs desc, id asc), and filter() preserves that
    * order, so entry (old rn=1), the Beam cut, and the final NProbe cut
    * select the same centroids; array_union == the old union-distinct.
    * Oracle hashes pin the equality (the DuckDB side is unchanged). */
  private def graphProbes(spark: SparkSession, dir: String, e: DataFrame,
                          qmod: Int): DataFrame = {
    val em = edgeMapOf(spark, dir)
    // plan-literal edge map (the probedListIds static-IN-set precedent:
    // deterministic per corpus version, so fingerprints stay stable)
    val edgeCol = map(em.toSeq.sortBy(_._1).flatMap { case (s, ds) =>
      Seq(lit(s), array(ds.map(lit): _*)) }: _*)
    val sc = sort_array(Stages.centroidScores)
    val entry = element_at(col("sc"), 1).getField("cent_id")
    val h1 = element_at(edgeCol, col("entry"))
    val b1 = transform(
      slice(filter(col("sc"),
        s => array_contains(col("h1"), s.getField("cent_id"))), 1, Beam),
      x => x.getField("cent_id"))
    val h2 = flatten(transform(col("b1"), x => element_at(edgeCol, x)))
    val cands = array_union(array(col("entry")), array_union(col("h1"), col("h2")))
    val probes = slice(filter(col("sc"),
      s => array_contains(col("cands"), s.getField("cent_id"))), 1, NProbe)
    e.filter(col("vec_id") % qmod === 0)
      .crossJoin(broadcast(Stages.centroidRow(e, NLists)))
      .withColumn("sc", sc)
      .withColumn("entry", entry)
      .withColumn("h1", h1)
      .withColumn("b1", b1)
      .withColumn("h2", h2)
      .withColumn("cands", cands)
      .select(col("vec_id").as("query_id"), explode(probes).as("probe"),
        col("v").as("qv"), col("nrm").as("qnrm"))
      .select(col("query_id"), col("probe.cent_id").as("list_id"),
        col("qv"), col("qnrm"))
  }

  /** D19 (a19): top-10 via graph-ordered probes — a2's pruned list scan
    * with the greedy probe set. */
  def a19GraphTopK(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame = {
    // serve from the STORED partitioned IVF list table (r17 optimization
    // round) — the scaladoc's "a2's partition-pruned plan" made literal:
    // the r16 body re-ran Ann.listAssignment's O(corpus · nlists) argmin
    // inline on every serve, and the inline shape can never partition-
    // prune. Same rows (the table IS the materialized assignment); the
    // probes join now drives dynamic partition pruning exactly as a2's.
    // The edge/cand broadcasts are O(nlists × degree) index artifacts.
    Ann.listTopK(Ann.ivfListTable(spark, dir, NLists),
      graphProbes(spark, dir, Search.corpus(spark, dir), qmod), TopK)
  }

  /** D19 recall: graph-ordered probes vs brute force — same ground truth
    * and tail as a3, so greedy-vs-exhaustive probe selection at equal
    * budget is a measured, oracle-checked number. */
  def a19GraphRecall(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame =
    Pq.recallVsBruteForce(spark, dir, a19GraphTopK(spark, dir, qmod), qmod)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a19_graph_topk" -> ((s, d) => a19GraphTopK(s, d)),
    "a19_graph_recall" -> ((s, d) => a19GraphRecall(s, d)),
    // sampled variants (d7s pattern, qmod 1313): the centroid graph, edge
    // list and list assignment stay full-corpus; only the query fan-out
    // divides by 13 — converts the sf10 DuckDB-infeasible oracles
    "a19s_graph_topk" -> ((s, d) => a19GraphTopK(s, d, qmod = 1313)),
    "a19s_graph_recall" -> ((s, d) => a19GraphRecall(s, d, qmod = 1313)),
  )

  // ---------------------------------------------------------------- oracle

  /** graphCte(101) is the registered text byte-for-byte. */
  private def graphCte(qmod: Int): String =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e0),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM en WHERE vec_id < $NLists),
       |asg0 AS (
       |  SELECT en.vec_id, cent.cent_id, en.v, en.nrm,
       |    round(CASE WHEN en.nrm*cent.cnrm = 0 THEN 0.0
       |      ELSE ${dotSql("en.v", "cent.cv")}/(en.nrm*cent.cnrm) END, 6) AS cs
       |  FROM en, cent
       |), asg AS (
       |  SELECT vec_id, cent_id AS list_id, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |), edges0 AS (
       |  SELECT c1.cent_id AS src, c2.cent_id AS dst,
       |    round(CASE WHEN c1.cnrm*c2.cnrm = 0 THEN 0.0
       |      ELSE ${dotSql("c1.cv", "c2.cv")}/(c1.cnrm*c2.cnrm) END, 6) AS cs
       |  FROM cent c1 JOIN cent c2 ON c2.cent_id <> c1.cent_id
       |), edges AS (
       |  SELECT src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rn
       |    FROM edges0) WHERE rn <= $Degree
       |), qcos AS (
       |  SELECT vec_id AS query_id, cent_id, v AS qv, nrm AS qnrm, cs
       |  FROM asg0 WHERE vec_id % $qmod = 0
       |), entry AS (
       |  SELECT query_id, cent_id AS entry FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM qcos) WHERE rn = 1
       |), h1 AS (
       |  SELECT e.query_id, g.dst AS cand FROM entry e JOIN edges g ON g.src = e.entry
       |), b1 AS (
       |  SELECT query_id, cand AS bx FROM (
       |    SELECT h.query_id, h.cand, q.cs,
       |      row_number() OVER (PARTITION BY h.query_id ORDER BY q.cs DESC, h.cand) AS rn
       |    FROM h1 h JOIN qcos q ON q.query_id = h.query_id AND q.cent_id = h.cand
       |  ) WHERE rn <= $Beam
       |), h2 AS (
       |  SELECT b.query_id, g.dst AS cand FROM b1 b JOIN edges g ON g.src = b.bx
       |), cands AS (
       |  SELECT DISTINCT query_id, cand FROM (
       |    SELECT query_id, entry AS cand FROM entry
       |    UNION ALL SELECT query_id, cand FROM h1
       |    UNION ALL SELECT query_id, cand FROM h2
       |  )
       |), probes AS (
       |  SELECT query_id, cent_id AS list_id, qv, qnrm FROM (
       |    SELECT q.query_id, q.cent_id, q.qv, q.qnrm, q.cs,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY q.cs DESC, q.cent_id) AS rn
       |    FROM qcos q JOIN cands c ON c.query_id = q.query_id AND c.cand = q.cent_id
       |  ) WHERE rn <= $NProbe
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    round(CASE WHEN p.qnrm*a.nrm = 0 THEN 0.0
       |      ELSE ${dotSql("p.qv", "a.v")}/(p.qnrm*a.nrm) END, 6) AS similarity
       |  FROM probes p JOIN asg a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rnk
       |  FROM scored)""".stripMargin

  private lazy val GraphCte: String = graphCte(101)

  /** Shared CTEs materialized in the SAMPLED oracles only (d7 inlining
    * lesson): en and asg0 are each read 2x+, and asg0 is the O(N x nlists)
    * assignment scan — inlined, DuckDB recomputes it per reference. */
  private val GraphSharedCtes = Seq("en", "asg0", "asg", "edges", "qcos", "bf")

  val oracle: Map[String, String] = Map(
    "a19_graph_topk" -> (GraphCte +
      s"""
         |SELECT query_id, vec_id, similarity, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin),

    "a19_graph_recall" -> (GraphCte +
      s"""
         |, graphp AS (
         |  SELECT query_id, vec_id FROM ranked WHERE rnk <= $TopK
         |)""".stripMargin + Pq.recallTailSql("graphp")),

    "a19s_graph_topk" -> Pq.materializeShared(graphCte(1313) +
      s"""
         |SELECT query_id, vec_id, similarity, rnk FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin, GraphSharedCtes),

    "a19s_graph_recall" -> Pq.materializeShared(graphCte(1313) +
      s"""
         |, graphp AS (
         |  SELECT query_id, vec_id FROM ranked WHERE rnk <= $TopK
         |)""".stripMargin + Pq.recallTailSql("graphp", 1313), GraphSharedCtes),
  )
}
