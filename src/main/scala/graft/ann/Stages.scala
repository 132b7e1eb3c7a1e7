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
  * so each exists once, with its DuckDB twin in [[Stages.Sql]] beside it.
  * Plans print expressions in source order, so every stage builds its
  * expression tree in a fixed order and takes its operands in the
  * caller's order.
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

  /** The DuckDB twins of the stages, which every vector-search oracle
    * composes: the same rounding, zero-norm guard, tie-breaks and
    * left-to-right sums as the Spark side, so both engines agree bit for
    * bit. Each returns SQL text; CTE builders return `name AS (...)`
    * without a leading or trailing comma. Every member is a `def`: the
    * oracles of [[Pq]] are built while Pq initializes, and this object
    * reads Pq's dials, so a `val` here could be read before it is set. */
  object Sql {

    /** In-order left-fold dot product, Spark's sequential accumulation
      * (SURVEY.md §5.3). */
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc,x) -> acc+x)"

    private def guarded(num: String, an: String, bn: String, clampZero: Boolean): String = {
      val c = s"CASE WHEN $an*$bn = 0 THEN 0.0 ELSE $num/($an*$bn) END"
      if (clampZero) s"round(greatest($c, 0.0), 6)" else s"round($c, 6)"
    }

    /** [[Stages.cosineOf]]: the numerator `num` (any expression) over the
      * norms `an` and `bn`. */
    def cosineOf(num: String, an: String, bn: String): String =
      guarded(s"($num)", an, bn, clampZero = false)

    /** [[Stages.cosine]] of vectors `a` and `b` with norms `an` and `bn`. */
    def cosine(a: String, an: String, b: String, bn: String,
               clampZero: Boolean = false): String =
      guarded(dot(a, b), an, bn, clampZero)

    /** The corpus CTEs `e0` and `en` (vec_id, [label,] v, nrm): vectors
      * cast to DOUBLE[], norms computed once per row. Opens the WITH. */
    def corpus(label: Boolean): String = {
      val cols = if (label) "vec_id, label" else "vec_id"
      s"""WITH e0 AS (
         |  SELECT $cols, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), en AS (
         |  SELECT $cols, v, sqrt(${dot("v", "v")}) AS nrm FROM e0
         |)""".stripMargin
    }

    /** The rows of `from` (cs-scored (vec, centroid) rows) numbered `rn`
      * within each `part` by (cs desc, cent_id) — the centroid ranking
      * [[centroidScores]] sorts by. */
    def nearest(from: String, part: String = "vec_id"): String =
      s"""SELECT *, row_number() OVER (PARTITION BY $part ORDER BY cs DESC, cent_id) AS rn
         |    FROM $from""".stripMargin

    /** [[centroids]] and the list assignment: `cent` (the rows with
      * vec_id < `nlists`, a SQL expression), `asg0` (every corpus row's
      * rounded cosine `cs` to every centroid) and `asg` (each row's
      * nearest centroid as list_id). Both carry label when `label` and
      * v, nrm when `vectors`. */
    def centroids(nlists: String, label: Boolean, vectors: Boolean): String = {
      val lab = if (label) Seq("label") else Nil
      val vecs = if (vectors) Seq("v", "nrm") else Nil
      val asg0 = ("vec_id" +: lab).map("en." + _) ++ Seq("cent.cent_id") ++ vecs.map("en." + _)
      val asg = ("vec_id" +: lab) ++ Seq("cent_id AS list_id") ++ vecs
      s"""cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM en WHERE vec_id < $nlists),
         |asg0 AS (
         |  SELECT ${asg0.mkString(", ")},
         |    ${cosine("en.v", "en.nrm", "cent.cv", "cent.cnrm")} AS cs
         |  FROM en, cent
         |), asg AS (
         |  SELECT ${asg.mkString(", ")} FROM (
         |    ${nearest("asg0")}) WHERE rn = 1
         |)""".stripMargin
    }

    /** The probe set `name`: the `nprobe` (a SQL expression) nearest
      * centroids of each `vec_id % qmod = 0` query from `asg0`, as
      * (query_id, [qlabel,] list_id[, qv, qnrm]). */
    def probes(name: String, qmod: Int, nprobe: String, label: Boolean,
               vectors: Boolean): String = {
      val cols = Seq("vec_id AS query_id") ++ (if (label) Seq("label AS qlabel") else Nil) ++
        Seq("cent_id AS list_id") ++ (if (vectors) Seq("v AS qv", "nrm AS qnrm") else Nil)
      s"""$name AS (
         |  SELECT ${cols.mkString(", ")} FROM (
         |    ${nearest(s"asg0 WHERE vec_id % $qmod = 0")}) WHERE rn <= $nprobe
         |)""".stripMargin
    }

    private def rank(from: String, query: String, id: String): String =
      s"""SELECT *, row_number() OVER (PARTITION BY $query ORDER BY similarity DESC, $id) AS rnk
         |  FROM $from""".stripMargin

    /** [[rankTopK]]'s window: `name` is every row of `from` numbered
      * `rnk` within each `query` by (similarity desc, `id`); the caller
      * keeps rnk <= k. */
    def ranked(name: String, from: String, query: String = "query_id",
               id: String = "vec_id"): String =
      s"""$name AS (
         |  ${rank(from, query, id)})""".stripMargin

    /** The (query_id, vec_id) top-`k` of `from` by [[ranked]]'s order, as
      * a SELECT. */
    def topIds(from: String, k: Int): String =
      s"""SELECT query_id, vec_id FROM (
         |    ${rank(from, "query_id", "vec_id")}) WHERE rnk <= $k""".stripMargin

    /** [[rankTopK]]'s last steps over the [[ranked]] CTE `from`: (query_id,
      * vec_id, similarity, rnk) kept while rnk <= `k`, ordered by
      * (query_id, rnk). Ends the WITH. */
    def keepTopK(from: String = "ranked", k: Int = 10): String =
      s"""
         |SELECT query_id, vec_id, similarity, rnk FROM $from WHERE rnk <= $k
         |ORDER BY query_id, rnk""".stripMargin

    /** Recall of the [[ranked]] CTE `from`: its top `k` as CTE `name`,
      * then the [[recallTail]]. */
    def recallAt(name: String, from: String = "ranked", k: Int = 10,
                 qmod: Int = 101): String =
      s"""
         |, $name AS (
         |  SELECT query_id, vec_id FROM $from WHERE rnk <= $k
         |)""".stripMargin + recallTail(name, qmod)

    /** The recall-vs-brute-force tail (the oracle of
      * [[Pq.recallVsBruteForce]]): joins `approx` (query_id, vec_id)
      * against the exact top-10 of every `vec_id % qmod = 0` query over
      * `en`, as (query_id, n_true, n_common, recall). Continues a WITH. */
    def recallTail(approx: String, qmod: Int = 101): String =
      s"""
         |, bfs AS (
         |  SELECT q.vec_id AS query_id, en2.vec_id,
         |    ${cosine("q.v", "q.nrm", "en2.v", "en2.nrm")} AS similarity
         |  FROM en q JOIN en en2 ON en2.vec_id <> q.vec_id
         |  WHERE q.vec_id % $qmod = 0
         |), bf AS (
         |  ${topIds("bfs", 10)}
         |), common AS (
         |  SELECT bf.query_id, count(*) AS n_common
         |  FROM bf JOIN $approx a ON bf.query_id = a.query_id AND bf.vec_id = a.vec_id
         |  GROUP BY bf.query_id
         |)
         |SELECT t.query_id, t.n_true, coalesce(c.n_common, 0) AS n_common,
         |  round(CAST(coalesce(c.n_common, 0) AS DOUBLE) / t.n_true, 6) AS recall
         |FROM (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id) t
         |LEFT JOIN common c ON c.query_id = t.query_id
         |ORDER BY t.query_id""".stripMargin

    /** [[subvec]]: the width-`d` subvector `m` (a SQL expression) of `v`. */
    def subvec(v: String, m: String, d: Int): String =
      s"list_transform(range(1, $d + 1), j -> $v[$m*$d + j])"

    /** [[codebook]]: CTE `name` (m, k, c, cn2) — the M width-`d`
      * subvectors of `v` for each row of `from` kept by `where`, with
      * centroid id `k` (SQL expressions over `from`'s alias). */
    def codebook(name: String, k: String, v: String, from: String, where: String,
                 d: Int): String =
      s"""$name AS (
         |  SELECT t.m, $k AS k, ${subvec(v, "t.m", d)} AS c,
         |    ${dot(subvec(v, "t.m", d), subvec(v, "t.m", d))} AS cn2
         |  FROM $from, range(0, $M) t(m) WHERE $where
         |)""".stripMargin

    /** [[encode]]: CTEs subv, dists, codes and cp — the PQ codes of
      * column `v` for every row of `from` (aliased `a`) against codebook
      * CTE `cb`, by the per-subspace (dist, k) argmin. cp holds vec_id,
      * code<m>, cnp<m> (its |c|^2) and, when `cross` names a column of
      * `from`, cx<m> = dot(subvec m of cross, c). */
    def encode(cb: String, from: String, a: String, v: String, d: Int,
               cross: Option[String] = None): String = {
      def pivot(c: String, as: String) =
        (0 until M).map(m => s"max(CASE WHEN m = $m THEN $c END) AS $as$m")
      val cx = cross.fold("") { x =>
        s""",
           |    ${dot(subvec(s"s.$x", "s.m", d), "c.c")} AS cx""".stripMargin
      }
      val pivots = pivot("code", "code") ++ pivot("cn2", "cnp") ++
        cross.fold(Seq.empty[String])(_ => pivot("cx", "cx"))
      val carried = cross.fold("")(x => s"$a.$x, ")
      s"""subv AS (
         |  SELECT $a.vec_id, ${carried}t.m, ${subvec(s"$a.$v", "t.m", d)} AS sub
         |  FROM $from $a, range(0, $M) t(m)
         |), dists AS (
         |  SELECT s.vec_id, s.m, c.k,
         |    round(-2.0*${dot("s.sub", "c.c")} + c.cn2, 6) AS dist, c.cn2$cx
         |  FROM subv s JOIN $cb c ON c.m = s.m
         |), codes AS (
         |  SELECT vec_id, m, k AS code, cn2${cross.fold("")(_ => ", cx")} FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
         |    FROM dists) WHERE rn = 1
         |), cp AS (
         |  SELECT vec_id,
         |        ${pivots.mkString(",\n        ")}
         |  FROM codes GROUP BY vec_id
         |)""".stripMargin
    }

    /** [[adcScore]]'s lookups: the M joins l<m> of `lut` on query alias
      * `q` and codes row `s`. */
    def lutJoins(q: String): String = (0 until M).map(m =>
      s"JOIN lut l$m ON l$m.query_id = $q.query_id AND l$m.m = $m AND l$m.k = s.code$m")
      .mkString("\n  ")

    /** The [[lutJoins]] lookups summed left to right. */
    def adcSum: String = (0 until M).map(m => s"l$m.qd").mkString(" + ")
  }
}
