package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
  * the standard diversification pass production RAG stacks run on a
  * retrieval shortlist before context assembly: greedily pick the next
  * document maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so the
  * selected set trades raw relevance for coverage (near-duplicate hits
  * collapse to one representative).
  *
  * Spark shape: the greedy selection is inherently SEQUENTIAL per query —
  * not expressible as joins/windows — so this is the one place the typed
  * `KeyValueGroupedDataset.mapGroups` path is the right tool: the
  * shortlist (50 rows/query, with unit-normalized vectors) groups by
  * query and each group runs the O(k·n) greedy loop in executor-local
  * Scala. At 100 TB the shortlist is still O(queries × 50) — corpus size
  * never enters the group stage; the heavy lifting stays in the
  * broadcast-kNN shortlist builder. Deterministic: candidates are sorted
  * (sim desc, id) before the loop and ties break on smallest vec_id, so
  * the output is reproducible at any partitioning. Rows-only + spec
  * (greedy selection is not SQL-expressible; MmrSpec asserts the
  * diversity contract against the plain top-k).
  */
object Mmr {

  val Lambda = 0.5
  /** Candidate-pool depth = the shared materialized shortlist's depth. */
  val ShortlistK: Int = Search.ShortlistK
  val TopK = 10

  /** Shortlist row (public: Catalyst's deserializer codegen requires an
    * accessible case class for the typed mapGroups path). */
  case class Cand(query_id: Long, vec_id: Long, sim: Double, u: Seq[Double])

  def r16MmrRerank(spark: SparkSession, dir: String,
                   lambda: Double = Lambda, k: Int = TopK): DataFrame = {
    import spark.implicits._
    // the shared materialized first-stage shortlist (same query set and
    // depth r15's vector ranker uses) — the corpus brute-force pass behind
    // it runs once per corpus version, not once per retrieval query
    val shortlist = Search.knnShortlist101(spark, dir)
      .select(col("query_id"), col("vec_id"), col("similarity"))
    val e = Search.corpus(spark, dir)
    // attach unit vectors to the tiny shortlist (broadcast into the corpus
    // scan, as a7's re-rank does) so the in-group diversity term is a dot
    val unit = transform(col("v"), x =>
      when(col("nrm") === 0.0, lit(0.0)).otherwise(x.cast("double") / col("nrm")))
    val cands = e.select(col("vec_id"), unit.as("u"), col("nrm"))
      .join(broadcast(shortlist), "vec_id")
      .select(col("query_id"), col("vec_id"), col("similarity").as("sim"), col("u"))
      .as[Cand]
    cands.groupByKey(_.query_id)
      .flatMapGroups { (q, it) =>
        val pool = it.toArray.sortBy(c => (-c.sim, c.vec_id))
        val selectedIds = scala.collection.mutable.Set.empty[Long]
        val maxSimToSel = scala.collection.mutable.HashMap.empty[Long, Double]
        val out = Seq.newBuilder[(Long, Long, Double, Double, Int)]
        var rank = 0
        while (rank < math.min(k, pool.length)) {
          var best: Cand = null
          var bestScore = Double.NegativeInfinity
          // pool is (sim desc, id asc)-ordered, so on exact score ties the
          // earlier (higher-sim / smaller-id) candidate wins — deterministic
          pool.foreach { c =>
            if (!selectedIds(c.vec_id)) {
              val score = lambda * c.sim - (1 - lambda) * maxSimToSel.getOrElse(c.vec_id, 0.0)
              if (score > bestScore) { best = c; bestScore = score }
            }
          }
          selectedIds += best.vec_id
          rank += 1
          out += ((q, best.vec_id, best.sim, math.rint(bestScore * 1e6) / 1e6, rank))
          // fold the new pick into each survivor's max-similarity-to-set
          pool.foreach { c =>
            if (!selectedIds(c.vec_id)) {
              val d = c.u.iterator.zip(best.u.iterator).map { case (a, b) => a * b }.sum
              if (d > maxSimToSel.getOrElse(c.vec_id, Double.NegativeInfinity))
                maxSimToSel(c.vec_id) = d
            }
          }
        }
        out.result().iterator
      }
      .toDF("query_id", "vec_id", "similarity", "mmr_score", "rnk")
      .orderBy("query_id", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r16_mmr_rerank" -> ((s, d) => r16MmrRerank(s, d)),
  )
}
