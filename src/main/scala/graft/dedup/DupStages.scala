package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DetHash, Exact}
import graft.sources.Warehouse

/** The dedup stages every §2.C query composes (the chain of Broder's
  * MinHash and Charikar's SimHash near-duplicate detection): hashed word
  * n-gram shingles, the MinHash signature and its LSH bands, the
  * inverted-index intersection count with its Jaccard, the rare-shingle
  * ground-truth pairs, the connected-components cluster table and its
  * size report, and the SimHash signature with its hamming-verified chunk
  * join. Full, sampled (`…s`), multipass (`…Full`) and staged-oracle
  * flavours differ only in the arguments they pass — a doc-sample
  * modulus, a residue slice, a table name — so each step exists once,
  * with its DuckDB twin in [[DupStages.Sql]] beside it. Plans print
  * expressions in source order, so every stage builds its expression tree
  * in a fixed order.
  */
object DupStages {

  import Dedup.{D3Hamming, D7DfCap}

  // ------------------------------------------------------------ shingles

  private def parse(df: DataFrame, n: Int, carry: Seq[String]): (Seq[Column], DataFrame, Column) = {
    val keyCols = col("doc_id") +: carry.map(col)
    val withWs = df.select(keyCols :+ split(col("text"), " ").as("ws"): _*)
    val zipped = arrays_zip((0 until n).map(o =>
      slice(col("ws"), lit(o + 1), greatest(size(col("ws")) - (n - 1), lit(0))).as(s"w$o")): _*)
    (keyCols, withWs, zipped)
  }

  // h60nn: hs is the join key of every downstream index probe — the
  // non-nullable type folds away inferred IsNotNull filters that would
  // re-run the md5 chain per row (DetHash.h60nn scaladoc)
  private def shingleHash(n: Int): Column =
    DetHash.h60nn(concat_ws(" ", (0 until n).map(o => col(s"sh.w$o")): _*)).as("hs")

  /** Exploded DISTINCT 60-bit-hashed word `n`-gram shingles of `df`'s
    * text: one row per (doc_id, hs), plus the `carry` columns.
    *
    * Built ROW-LOCALLY: arrays_zip of n shifted slices of the
    * pre-projected token array (the t7 bigram pattern, and exactly the
    * oracle's list_transform over range). The earlier posexplode +
    * lead-Window shape paid an Exchange(hashpartitioning(doc_id)) + Sort
    * over the FULL token stream before hashing, a whole extra shuffle of
    * the corpus parse; arrays_zip/slice are plain codegen'd expressions
    * (no lambda), and the token array is projected ONCE so the split is
    * not re-evaluated per slice. Slice o covers token positions
    * o..o+size−n; docs shorter than n tokens zip to an empty array. The
    * trailing distinct carries the parse's ONLY exchange.
    *
    * Shingles are hashed to 60-bit longs (md5-derived, oracle-reproducible)
    * BEFORE the distinct, so every downstream shuffle and join moves
    * 8-byte keys instead of ~25-char strings. At 2^60 the collision
    * probability over billions of distinct shingles is negligible
    * (~n^2/2^61), and both engines hash identically. */
  def shingles(df: DataFrame, n: Int, carry: Seq[String] = Nil): DataFrame = {
    val (keyCols, withWs, zipped) = parse(df, n, carry)
    withWs.select(keyCols :+ explode(zipped).as("sh"): _*)
      .select(keyCols :+ shingleHash(n): _*)
      .distinct()
  }

  /** Positional 3-gram shingles (doc_id, pos, hs) of `docs`: every
    * position, no distinct — [[shingles]]' parse with posexplode, which
    * numbers the zipped windows from 0 exactly like token positions. */
  def shinglePositions(docs: DataFrame): DataFrame = {
    val (keyCols, withWs, zipped) = parse(docs, 3, Nil)
    withWs.select(keyCols :+ posexplode(zipped).as(Seq("pos", "sh")): _*)
      .select(keyCols ++ Seq(col("pos").cast("long").as("pos"), shingleHash(3)): _*)
  }

  /** The df-capped (stop-shingle-free) postings of the shingle index `ex`:
    * shingles in more than [[Dedup.D7DfCap]] documents dropped. */
  def rare(ex: DataFrame): DataFrame =
    ex.join(
      ex.groupBy("hs").agg(count(lit(1)).as("df"))
        .filter(col("df") <= D7DfCap).select("hs"),
      Seq("hs"), "left_semi")

  // ------------------------------------------------------------- MinHash

  /** MinHash universal-hash permutation coefficients over the Mersenne prime
    * 2^31-1: h_p(x) = (a_p * x + b_p) mod M with md5-derived a_p, b_p.
    * One md5 per shingle total; the 16 permutations are integer arithmetic
    * (codegen'd, no per-permutation hashing). Values are inlined as literals
    * in both the Spark plan and the DuckDB oracle. */
  private[graft] val MersenneM = 2147483647L
  private[graft] val MinhashCoef: Seq[(Long, Long)] =
    (0 until 16).map { p =>
      (DetHash.h60Local(s"ma$p") % (MersenneM - 1) + 1, DetHash.h60Local(s"mb$p") % MersenneM)
    }

  /** MinHash signatures (sig0..sig15 + per-doc shingle count n) of the
    * shingle index `ex` — the minima AND the count ride ONE groupBy
    * shuffle (exchange-free on the bucketed index layout). */
  def signature(ex: DataFrame): DataFrame = {
    val hashed = ex.withColumn("h31", col("hs") % MersenneM)
    val aggs = MinhashCoef.zipWithIndex.map { case ((a, b), p) =>
      min((lit(a) * col("h31") + lit(b)) % MersenneM).as(s"sig$p")
    } :+ count(lit(1)).as("n")
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows (doc_id, b, bh) — 4 bands x 4 rows over the 16 minima. */
  def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("b"),
            md5(concat_ws(",", (0 until 4).map(o => col(s"sig${4 * b + o}").cast("string")): _*)).as("bh"))
        }: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))

  /** Distinct candidate pairs (doc_a < doc_b) colliding on at least one band. */
  def candidates(sig: DataFrame): DataFrame = {
    val bs = bands(sig)
    bs.as("x").join(bs.as("y"),
        col("x.b") === col("y.b") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  // ------------------------------------------------------------- Jaccard

  /** Intersection counts i of the candidate `pairs` (columns `a`, `b`):
    * each side's postings in the shingle index `ex` joined on (b, hs) —
    * an inverted-index count, no per-pair array ops. */
  def probe(pairs: DataFrame, ex: DataFrame, a: String, b: String): DataFrame =
    pairs
      .join(ex.select(col("doc_id").as(a), col("hs")), a)
      .join(ex.select(col("doc_id").as(b), col("hs")), Seq(b, "hs"))
      .groupBy(a, b).agg(count(lit(1)).as("i"))

  /** Intersection counts i of every (doc_a < doc_b) pair sharing a
    * shingle: postings `x` self-joined to `y` on hs and the `block`
    * columns. */
  def selfJoin(x: DataFrame, y: DataFrame, block: Seq[String] = Nil): DataFrame =
    x.as("x").join(y.as("y"),
        ("hs" +: block).map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))

  /** `inter` (a, b, i) with each side's shingle count from `counts`
    * (doc_id, n) attached as na / nb — the operands of [[jaccard]]. */
  def sized(inter: DataFrame, counts: DataFrame, a: String, b: String): DataFrame =
    inter
      .join(counts.select(col("doc_id").as(a), col("n").as("na")), a)
      .join(counts.select(col("doc_id").as(b), col("n").as("nb")), b)

  /** |A ∩ B| / |A ∪ B| = i / (na + nb − i) over [[sized]] rows, rounded
    * by `ratio` (Exact.ratio6 for a reported score, Exact.ratio6e for an
    * e6 integer verdict). */
  def jaccard(ratio: (Column, Column) => Column): Column =
    ratio(col("i"), col("na") + col("nb") - col("i"))

  // --------------------------------------------------------------- truth

  /** The exhaustive near-dup ground truth: every (doc_a, doc_b) pair with
    * Jaccard >= 0.5 over the rare-shingle postings `rare`, sized by
    * `counts`. With `sampleMod` = m the x (smaller doc_id) side is
    * restricted to doc_id % m == 0 before the hs self-join, so the pair
    * stream shrinks m-fold and the content is exactly the full set's
    * doc_a % m == 0 slice.
    *
    * A recall-eval ground truth is a STORED artifact versioned with the
    * corpus, recomputed on refresh and probed by every eval run: the
    * inverted-index pair join (~sum(df^2) rows through one exchange,
    * df-capped) is the dominant build cost, the stored result is just id
    * pairs, and the sample filter stays inside the build so a sampled
    * build never needs the full pair stream. */
  def truth(rare: DataFrame, counts: DataFrame, sampleMod: Option[Int]): DataFrame = {
    val x = sampleMod.fold(rare)(m => rare.filter(col("doc_id") % m === 0))
    sized(selfJoin(x, rare), counts, "doc_a", "doc_b")
      .filter(jaccard(Exact.ratio6e) >= 500000L)
      .select("doc_a", "doc_b")
  }

  /** LSH recall: counts of the `truth` pairs, the candidate pairs `cand`,
    * the truth pairs `cand` caught, and their e6-exact ratio. */
  def recall(cand: DataFrame, truth: DataFrame): DataFrame = {
    val caught = truth.join(cand, Seq("doc_a", "doc_b"))
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(cand.agg(count(lit(1)).as("n_lsh_candidates")))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      // empty truth set: emit null recall (DuckDB's // would raise on /0,
      // Spark's IntegralDivide yields null — pin both engines to null)
      .withColumn("recall", when(col("n_true_pairs") === 0, lit(null).cast("double"))
        .otherwise(Exact.ratio6(col("n_caught"), col("n_true_pairs"))))
  }

  // ------------------------------------------------------------ clusters

  /** Writes the (doc_id, cluster_id) cluster assignment of the verified
    * `pairs` (doc_a, doc_b) to `table`, bucketed by doc_id: connected
    * components ([[Dedup.connectedComponents]]), cluster id = the
    * smallest member id.
    *
    * The pair chain plus the iterative CC loop is the most expensive build
    * in the dedup family, several deliverables (the d6 report, the d8
    * canonical corpus, the p-family mixes and audits) consume it, and
    * clustering is inherently whole-corpus, so at warehouse scale the
    * assignment is a written table, not a per-query recompute. */
  def clusters(pairs: DataFrame, table: String): Unit = {
    val edges = pairs.select("doc_a", "doc_b").persist()
    Warehouse.writeBucketed(
      Dedup.connectedComponents(edges).select(col("doc_id"), col("lbl").as("cluster_id")),
      table, "doc_id")
    edges.unpersist()
  }

  /** The cluster report: each (doc_id, cluster_id) row of `clusters` with
    * its cluster's size, ordered by doc_id. */
  def clusterReport(clusters: DataFrame): DataFrame =
    clusters
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy("doc_id")

  // ------------------------------------------------------------- SimHash

  /** One 60-bit SimHash half: word hash `hash` (DuckDB: h60 of `word`),
    * named by `suffix` — word hash h<suffix>, bit sums s<suffix>,
    * signature sig<suffix>. */
  case class SimhashHalf(suffix: String, hash: Column => Column, word: String)

  /** d3's 60-bit signature: one half, md5 of the word. */
  val Simhash60 = Seq(SimhashHalf("", DetHash.h60, "w"))

  /** d3w's 120-bit signature: two INDEPENDENT halves, md5 of the word and
    * of the seeded '1:' || word (DetHash.h60Seeded's exact concat). */
  val Simhash120 = Seq(
    SimhashHalf("0", DetHash.h60, "w"),
    SimhashHalf("1", w => DetHash.h60Seeded(lit(1), w), "'1:' || w"))

  /** The SimHash signature (doc_id, sig<suffix> per half) of `docs`.
    * Per-token hash once, then ALL bit-sums as map-side partial
    * aggregates in ONE groupBy — summing +-1 per occurrence equals the
    * count-weighted per-distinct-word sum, so no (doc, word) pre-count
    * and no 60x bit-explode shuffle; a wider signature costs one more
    * column pass, never a second shuffle. */
  def simhash(docs: DataFrame, halves: Seq[SimhashHalf]): DataFrame = {
    val tok = halves.foldLeft(
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))) { (t, h) =>
      t.withColumn(s"h${h.suffix}", h.hash(col("w")))
    }
    val bitAggs = halves.flatMap(h => (0 until 60).map { b =>
      sum(expr(s"2 * ((h${h.suffix} >> $b) & 1) - 1")).as(s"s${h.suffix}_$b")
    })
    tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id") +: halves.map { h =>
        (0 until 60).map(b => when(col(s"s${h.suffix}_$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as(s"sig${h.suffix}")
      }: _*)
  }

  /** Hamming-verified near-dup pairs of the signature table `sig`: rows
    * exploded to `chunkCount` chunks with chunk value `cv` (a SQL
    * expression over c and the signature columns), restricted by
    * `cvPred`, equality self-joined on (c, cv), distinct, then hamming
    * (summed over the halves) <= [[Dedup.D3Hamming]]. */
  def hammingPairs(sig: DataFrame, halves: Seq[SimhashHalf], chunkCount: Int,
                   cv: String, cvPred: Column): DataFrame = {
    val sigs = halves.map(h => s"sig${h.suffix}")
    val chunks = sig.select((col("doc_id") +: sigs.map(col)) :+
        explode(sequence(lit(0), lit(chunkCount - 1))).as("c"): _*)
      .withColumn("cv", expr(cv))
      .filter(cvPred)
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++
        halves.map(h => col(s"x.sig${h.suffix}").as(s"sa${h.suffix}")) ++
        halves.map(h => col(s"y.sig${h.suffix}").as(s"sb${h.suffix}")): _*)
      .distinct()
    cand.withColumn("hamming",
        expr(halves.map(h => s"bit_count(sa${h.suffix} ^ sb${h.suffix})").mkString(" + ")))
      .filter(col("hamming") <= D3Hamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The DuckDB twin of each stage, composed by the dedup oracles — the
    * registered one-query texts and the staged multipass plan alike. */
  object Sql {

    private def gram(n: Int): String =
      (0 until n).map(o => if (o == 0) "ws[i]" else s"ws[i+$o]").mkString(" || ' ' || ")

    /** `sh`: each document's distinct word `n`-gram shingle list beside
      * `keys` (expressions over `src`, the columns read from documents).
      * Opens the WITH. */
    def shingles(n: Int, keys: String = "doc_id", src: String = "doc_id"): String =
      s"""WITH sh AS (
         |  SELECT $keys, list_distinct(list_transform(range(1, len(ws)-${n - 2}),
         |    i -> ${gram(n)})) AS sh
         |  FROM (SELECT $src, string_split(text, ' ') AS ws FROM documents)
         |)""".stripMargin

    /** The body of `shl`: `sh`'s lists hashed to 60 bits as `hh`. */
    def hashed(keys: String = "doc_id"): String =
      s"""SELECT $keys, list_distinct(list_transform(sh,
         |    s -> ${DetHash.h60Sql("s")})) AS hh
         |  FROM sh""".stripMargin

    /** The exploded (doc_id, h) postings of the shingle lists in `shl`. */
    def postings(shl: String): String = s"SELECT doc_id, unnest(hh) AS h FROM $shl"

    /** The 3-gram shingle index: `sh`, `shl` (hashed lists) and `shx`
      * (their postings) — [[shingles]]. shl/shx are multiply referenced
      * downstream (the rare CTE alone reads shx twice); DuckDB inlines
      * CTEs by default, so MATERIALIZED pins one evaluation of the
      * shingle explode (without it the d7 oracle spilled past 38 GB at
      * 500k docs). Opens the WITH. */
    def index: String =
      shingles(3) +
        s""", shl AS MATERIALIZED (
           |  ${hashed()}
           |), shx AS MATERIALIZED (
           |  ${postings("shl")}
           |)""".stripMargin

    /** The CTEs `h31s`, `sig` and `bands` over `shx` — [[signature]] and
      * [[bands]]; sig and bands are MATERIALIZED when `materialized`. */
    def minhash(materialized: Boolean): String = {
      val m = if (materialized) " MATERIALIZED" else ""
      val sigCols = MinhashCoef.zipWithIndex.map { case ((a, b), p) =>
        s"min(($a * h31 + $b) % $MersenneM) AS sig$p"
      }.mkString(",\n        ")
      val bandCases = (0 until 4).map { b =>
        val cat = (0 until 4).map(o => s"CAST(sig${4 * b + o} AS VARCHAR)").mkString(" || ',' || ")
        s"WHEN $b THEN md5($cat)"
      }.mkString(" ")
      s"""h31s AS (
         |  SELECT doc_id, h % $MersenneM AS h31 FROM shx
         |), sig AS$m (
         |  SELECT doc_id,
         |        $sigCols
         |  FROM h31s GROUP BY doc_id
         |), bands AS$m (
         |  SELECT doc_id, b, CASE b $bandCases END AS bh
         |  FROM sig, range(0, 4) t(b)
         |)""".stripMargin
    }

    /** [[candidates]]: the distinct band-colliding pairs of `bands`. */
    private val CandPairs =
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin

    /** The one-query candidate chain: [[index]], [[minhash]] and the
      * MATERIALIZED `cand` pairs. Opens the WITH. */
    def candidates: String =
      s"""$index, ${minhash(materialized = true)}, cand AS MATERIALIZED (
         |  $CandPairs
         |)""".stripMargin

    /** The staged twin of [[candidates]]: `t_cand` built from the
      * persisted shingle lists `t_shl`. */
    def candidateTable: String =
      s"""CREATE TABLE IF NOT EXISTS t_cand AS
         |WITH shx AS (
         |  ${postings("t_shl")}
         |), ${minhash(materialized = false)}
         |$CandPairs""".stripMargin

    /** [[jaccard]] of the shingle lists `x`.hh and `y`.hh as an e6
      * integer: round-half-up(|I| / |U|, 6) * 1e6. */
    def jaccard(x: String, y: String): String =
      s"((2000000*(len(list_intersect($x.hh, $y.hh))) + (len(list_distinct($x.hh || $y.hh)))) // (2*(len(list_distinct($x.hh || $y.hh)))))"

    /** SELECT `cols` from the pairs of `cand` joined to both sides'
      * shingle lists in `shl` (x for doc_a, y for doc_b), kept where
      * `pred` holds and, for a `slice` (m, r), where doc_a % m = r. */
    def verified(cols: String, pred: String, cand: String = "cand", shl: String = "shl",
                 slice: Option[(Int, String)] = None): String =
      s"""SELECT $cols
         |FROM $cand JOIN $shl x ON x.doc_id = doc_a JOIN $shl y ON y.doc_id = doc_b
         |WHERE ${slice.fold("") { case (m, r) => s"doc_a % $m = $r AND " }}$pred""".stripMargin

    /** [[rare]]: the `shx` postings of shingles in at most
      * [[Dedup.D7DfCap]] documents. */
    def rare: String =
      s"""rare AS (
         |  SELECT doc_id, h FROM shx
         |  WHERE h IN (SELECT h FROM shx GROUP BY h HAVING count(*) <= $D7DfCap)
         |)""".stripMargin

    /** The d7 recall query over [[candidates]]: [[truth]] from the rare
      * postings (its x side restricted to doc_id % m = 0 for `sampleMod`
      * m), then [[recall]]. */
    def recall(sampleMod: Option[Int]): String =
      candidates +
        s""", nsh AS (
           |  SELECT doc_id, len(hh) AS n FROM shl
           |), $rare, inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id${sampleMod.fold("")(m => s"\n  WHERE a.doc_id % $m = 0")}
           |  GROUP BY 1, 2
           |), truth AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN nsh x ON x.doc_id = doc_a
           |  JOIN nsh y ON y.doc_id = doc_b
           |  WHERE ${Exact.ratio6eSql("i", "x.n + y.n - i")} >= 500000
           |), caught AS (
           |  SELECT t.doc_a, t.doc_b FROM truth t
           |  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
           |)
           |SELECT
           |  (SELECT count(*) FROM truth) AS n_true_pairs,
           |  (SELECT count(*) FROM cand) AS n_lsh_candidates,
           |  (SELECT count(*) FROM caught) AS n_caught,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
           |    ELSE ${Exact.ratio6Sql("(SELECT count(*) FROM caught)", "(SELECT count(*) FROM truth)")} END AS recall""".stripMargin

    /** [[clusterReport]] over the (doc_id, cluster_id) relation `from`. */
    def clusterReport(from: String): String =
      s"""SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM $from ORDER BY doc_id""".stripMargin

    /** [[shinglePositions]]: the CTE `shpos` (doc_id, pos, h) over the
      * documents relation `docsRel`. */
    def shinglePositions(docsRel: String): String =
      s"""shpos AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    ${DetHash.h60Sql(gram(3))} AS h
         |  FROM (SELECT doc_id, unnest(range(1, len(ws)-1)) AS i, ws
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $docsRel))
         |)""".stripMargin

    /** [[simhash]]: the CTEs `wc` (word counts), `wh`, `bits` and `sig`
      * over the documents relation `docsFrom`. Opens the WITH. */
    def simhash(docsFrom: String, halves: Seq[SimhashHalf]): String = {
      def each(f: SimhashHalf => String) = halves.map(f).mkString(",\n    ")
      s"""WITH wc AS (
         |  SELECT doc_id, w, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $docsFrom) GROUP BY 1,2
         |), wh AS (
         |  SELECT doc_id, ${each(h => s"${DetHash.h60Sql(h.word)} AS h${h.suffix}")}, cnt FROM wc
         |), bits AS (
         |  SELECT doc_id, b, ${each(h => s"sum(cnt * (2 * ((h${h.suffix} >> b) & 1) - 1)) AS s${h.suffix}")}
         |  FROM wh, range(0, 60) t(b) GROUP BY 1, 2
         |), sig AS (
         |  SELECT doc_id, ${each(h => s"CAST(sum(CASE WHEN s${h.suffix} > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig${h.suffix}")}
         |  FROM bits GROUP BY 1
         |)""".stripMargin
    }

    /** [[hammingPairs]] over a `sig` CTE: 4 chunks with value `cv`, chunk
      * rows restricted by `chunkWhere` (a WHERE clause or ""), ordered by
      * (doc_a, doc_b) when `ordered`. */
    def hammingPairs(halves: Seq[SimhashHalf], cv: String, chunkWhere: String,
                     ordered: Boolean): String = {
      val sigs = halves.map(h => s"sig${h.suffix}")
      val pairSigs = halves.map(h => s"a.sig${h.suffix} AS sa${h.suffix}") ++
        halves.map(h => s"b.sig${h.suffix} AS sb${h.suffix}")
      val hamming = halves.map(h => s"bit_count(xor(sa${h.suffix}, sb${h.suffix}))").mkString(" + ")
      s"""
         |, chunks AS (
         |  SELECT doc_id, ${sigs.mkString(", ")}, c, $cv AS cv FROM sig, range(0, 4) t(c)$chunkWhere
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, ${pairSigs.mkString(", ")}
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, $hamming AS hamming FROM cand
         |WHERE $hamming <= $D3Hamming${if (ordered) " ORDER BY doc_a, doc_b" else ""}""".stripMargin
    }
  }
}
