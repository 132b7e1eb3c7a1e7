package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** The ANN search stages every vector-search entry point composes (the
  * stages the FAISS library composes over the Jégou et al. 2011 IVFADC
  * construction): cosine scoring, top-k ranking, the PQ codebook /
  * encoder / lookup table / ADC score, and the coarse centroid stages.
  * Oracle parity depends on each rule here — the rounding, the zero-norm
  * guard, the (similarity desc, vec_id) tie-break, the (dist, k) argmin —
  * so each exists once. Plans print expressions in source order, so every
  * stage builds its expression tree in a fixed order and takes its
  * operands in the caller's order.
  */
object Stages {

  import Pq.{M, K}

  /** Cosine from a precomputed numerator: 0.0 when either norm is zero,
    * optionally clamped at 0 (the reference's max(0, similarity)),
    * rounded to 6 digits for cross-engine rank stability. */
  def cosineOf(dot: Column, an: Column, bn: Column, clampZero: Boolean = false): Column = {
    val raw = when(an * bn === 0.0, 0.0).otherwise(dot / (an * bn))
    round(if (clampZero) greatest(raw, lit(0.0)) else raw, 6)
  }

  /** [[cosineOf]] of vectors `a` and `b` with norms `an` and `bn`. */
  def cosine(a: Column, an: Column, b: Column, bn: Column,
             clampZero: Boolean = false): Column =
    cosineOf(Vec.dotNative(a, b), an, bn, clampZero)

  /** Per-query top-`k` of the candidate `pairs` scored by `sim`:
    * row_number over (similarity desc, vec_id asc) within each `query`,
    * kept while rnk <= k (and similarity >= `threshold` when given), as
    * (query, vec_id renamed `idAs`, similarity, rnk) ordered by (query,
    * rnk). */
  def rankTopK(pairs: DataFrame, sim: Column, k: Int,
               threshold: Option[Double] = None, query: String = "query_id",
               idAs: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy(col(query)).orderBy(col("similarity").desc, col("vec_id"))
    val top = col("rnk") <= k
    // no alias when the name stays: a same-name alias would print in the plan
    val id = if (idAs == "vec_id") col("vec_id") else col("vec_id").as(idAs)
    pairs.withColumn("similarity", sim)
      .withColumn("rnk", row_number().over(w))
      .filter(threshold.fold(top)(t => top && col("similarity") >= t))
      .select(col(query), id, col("similarity"), col("rnk"))
      .orderBy(query, "rnk")
  }

  // ------------------------------------------------------------------ PQ

  /** Subvector `m` of width `d`. */
  def subvec(v: Column, m: Int, d: Int): Column = slice(v, m * d + 1, d)

  /** PQ codebook (m, k, c, cn2): the M width-`d` subvectors of `src` for
    * each row of `rows`, with centroid id `k` (a column named k). */
  def codebook(rows: DataFrame, k: Column, src: Column, d: Int): DataFrame =
    rows.select(k, explode(array((0 until M).map { m =>
        struct(lit(m).as("m"), subvec(src, m, d).as("c"))
      }: _*)).as("s"))
      .select(col("s.m").as("m"), col("k"), col("s.c").as("c"))
      .withColumn("cn2", Vec.dotNative(col("c"), col("c")))

  /** PQ codes of `src` for every row of `rows`: `keep` followed by, per
    * subspace m, code<m> (nearest centroid id) and cn<m> (its |c|^2) —
    * plus cx<m> = dot(subvec m of `cross`, c) when `cross` is given (the
    * residual encoder's centroid cross term).
    *
    * The M*K codebook is pivoted into ONE broadcast row and the
    * per-subspace L2 argmin (-2*dot + |c|^2; the |x|^2 term is constant
    * per (vec, m)) is computed ROW-LOCALLY with `least()` over (dist, k,
    * ...) candidate structs — struct ordering is lexicographic, so the
    * tie-break is exactly the oracle's ORDER BY dist, k. Encoding is one
    * narrow map over the corpus: no explode, no join fan-out, no exchange.
    * A missing (m, k) cell yields a null candidate, which `least` skips —
    * the same candidate set as the oracle's join against present rows. */
  def encode(rows: DataFrame, cb: DataFrame, src: Column, d: Int,
             keep: Seq[Column], cross: Option[Column] = None): DataFrame = {
    val cbAggs = (for (m <- 0 until M; k <- 0 until K) yield
      max(when(col("m") === m && col("k") === k,
        struct(col("k"), col("c"), col("cn2")))).as(s"cb_${m}_$k")).toSeq
    val cbRow = cb.groupBy().agg(cbAggs.head, cbAggs.tail: _*)
    val outCols = (0 until M).flatMap { m =>
      val sv = subvec(src, m, d)
      val cands = (0 until K).map { k =>
        val cc = col(s"cb_${m}_$k")
        when(cc.isNotNull, struct(Seq(
          round(lit(-2.0) * Vec.dotNative(sv, cc.getField("c")) + cc.getField("cn2"), 6).as("dist"),
          cc.getField("k").as("k"),
          cc.getField("cn2").as("cn2")) ++
          cross.map(x => Vec.dotNative(subvec(x, m, d), cc.getField("c")).as("cross")): _*))
      }
      val best = least(cands: _*)
      Seq(best.getField("k").as(s"code$m"), best.getField("cn2").as(s"cn$m")) ++
        cross.map(_ => best.getField("cross").as(s"cx$m"))
    }
    rows.crossJoin(broadcast(cbRow)).select(keep ++ outCols: _*)
  }

  /** Per-query ADC lookup tables grouped by `keys`: l<m> maps centroid id
    * k -> dot(subvec m of query vector `q`, c). The slice offset depends
    * on m, so the dot is a CASE chain over m. Maps are keyed BY k (not
    * array position): robust to a sparse centroid id range.
    *
    * A row-local build (codebook pivoted into one broadcast row, each
    * query row computing its M maps inline, as [[encode]] does) was
    * measured 2.6x SLOWER across the PQ family in a same-window A/B
    * (14.0 s -> 37.0 s over the 23 a5..a22 bench queries at sf0.1): the
    * groupBy exchange this shape pays is O(queries) under the fixed-Q
    * serving contract, while the M*K-branch expression tree ran far
    * slower than the shuffle it saved. */
  def lut(queries: DataFrame, cb: DataFrame, q: Column, d: Int,
          keys: Column*): DataFrame = {
    val qd = (0 until M).map(m => (m, Vec.dotNative(subvec(q, m, d), col("c"))))
      .foldRight(lit(null).cast("double")) { case ((m, dot), acc) =>
        when(col("m") === m, dot).otherwise(acc)
      }
    val lutAggs = (0 until M).map { m =>
      map_from_entries(collect_list(when(col("m") === m, struct(col("k"), col("qd"))))).as(s"l$m")
    }
    queries.join(broadcast(cb), lit(true))
      .withColumn("qd", qd)
      .groupBy(keys: _*)
      .agg(lutAggs.head, lutAggs.tail: _*)
  }

  /** ADC cosine of a (codes x lut) row: M map lookups summed left to
    * right (after the residual offset `qc`, when given) over qnrm ·
    * sqrt(`rn2`), the reconstruction's squared norm. */
  def adcScore(rn2: Column, qc: Option[Column] = None): Column = {
    val approx = (0 until M).map(m => element_at(col(s"l$m"), col(s"code$m"))).reduce(_ + _)
    cosineOf(qc.fold(approx)(_ + approx), col("qnrm"), sqrt(rn2))
  }

  // -------------------------------------------------------------- coarse

  /** The deterministic coarse centroids: rows with vec_id < nlists, as
    * (cent_id, cv, cnrm). */
  def centroids(e: DataFrame, nlists: Int): DataFrame =
    e.filter(col("vec_id") < nlists)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** The centroids as ONE row: `cents`, their (cent_id, cv, cnrm) structs
    * sorted so the one-row aggregate is deterministic — broadcast beside
    * each corpus or query row so centroid ranking is row-local. */
  def centroidRow(e: DataFrame, nlists: Int): DataFrame =
    centroids(e, nlists).agg(sort_array(collect_list(
      struct(col("cent_id"), col("cv"), col("cnrm")))).as("cents"))

  /** Per row of (v, nrm) beside a [[centroidRow]]: each centroid as (ncs
    * = −rounded cosine, cent_id). Ascending struct order is (cosine desc,
    * cent_id asc), the oracle's window order; Spark's double compare
    * treats -0.0 and 0.0 as equal, exactly like a `.desc` sort. */
  def centroidScores: Column =
    transform(col("cents"), c => struct(
      negate(cosine(col("v"), col("nrm"), c.getField("cv"), c.getField("cnrm"))).as("ncs"),
      c.getField("cent_id").as("cent_id")))

  /** The `nprobe` centroids nearest each query by squared L2 (q·q − 2 q·c
    * + csq, rounded; cent_id tie-break): `queries` (query_id, `q`) x
    * broadcast `cent` (cent_id, `c`, csq), kept while rn <= nprobe. */
  def nearestL2(queries: DataFrame, cent: DataFrame, q: Column, c: Column,
                nprobe: Int): DataFrame = {
    val d2 = Vec.dotNative(q, q) - lit(2.0) * Vec.dotNative(q, c) + col("csq")
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cent_id"))
    queries.join(broadcast(cent), lit(true))
      .withColumn("d2", round(d2, 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
  }
}
