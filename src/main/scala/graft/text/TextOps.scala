package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DetHash, Exact}
import graft.sources.{Artifact, Warehouse}

/** Text-analysis pipeline operators (SURVEY.md §2.E) over `documents`.
  *
  * All four are single-pass narrow scans — no shuffle at all (the per-doc
  * computations are codegen'd higher-order functions / regexes), so they
  * scale linearly to 100 TB with zero data movement; outputs are written
  * partition-local.
  */
object TextOps {

  private def words(c: Column): Column = split(c, " ")

  private val StopEn = Seq("the", "a", "of", "to", "in", "is", "and")
  private val StopDe = Seq("der", "die", "das", "und", "ist")
  private val StopEs = Seq("el", "los", "y", "es", "una")
  private val StopFr = Seq("le", "les", "et", "est", "une")

  private def hits(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isin(stops.map(s => s: Any): _*)))

  /** E1: n-gram/stopword-profile language ID + correctness vs the label.
    * Deterministic argmax with fixed priority tie-break (en>de>es>fr). */
  def t1LangId(spark: SparkSession, dir: String): DataFrame = {
    // split ONCE (r17 optimization round, guide §4): inlining words(text)
    // into the 4 hits() calls + stop_ratio evaluated the regex split 5x
    // per document; projecting it pins one evaluation (CollapseProject
    // keeps the barrier for a non-cheap multi-referenced alias)
    val ws = col("ws")
    Tables.documents(spark, dir)
      .withColumn("ws", words(col("text")))
      .withColumn("en_hits", hits(ws, StopEn))
      .withColumn("de_hits", hits(ws, StopDe))
      .withColumn("es_hits", hits(ws, StopEs))
      .withColumn("fr_hits", hits(ws, StopFr))
      .withColumn("pred_lang",
        when(col("en_hits") >= greatest(col("de_hits"), col("es_hits"), col("fr_hits")) &&
          col("en_hits") > 0, "en")
          .when(col("de_hits") >= greatest(col("es_hits"), col("fr_hits")) && col("de_hits") > 0, "de")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
      .withColumn("is_correct", col("pred_lang") === col("lang"))
      .withColumn("stop_ratio", Exact.ratio6(col("en_hits"), size(ws)))
      .select("doc_id", "lang", "pred_lang", "is_correct", "stop_ratio")
      .orderBy("doc_id")
  }

  /** E2: quality scoring — lexical-diversity / length / stopword ratios.
    * ALL arithmetic stays in e6-scaled integer space until the final /1e6
    * (graft.functions.Exact): ratio rounding on doubles diverges between
    * engines at exact-half boundaries, which small-integer ratios hit in
    * practice (found at sf0.1). The low-quality flag is an integer compare
    * — no FP at all on the decision path. */
  def t2Quality(spark: SparkSession, dir: String): DataFrame =
    e6Scored(spark, dir)
      .select(col("doc_id"), col("n_words"),
        (col("dr_e6").cast("double") / 1000000.0).as("distinct_ratio"),
        (col("sr_e6").cast("double") / 1000000.0).as("stop_ratio"),
        (col("ls_e6").cast("double") / 1000000.0).as("len_score"),
        (col("score_e6").cast("double") / 1000000.0).as("quality_score"),
        (col("score_e6") < 500000L).as("is_low_quality"))
      .orderBy("doc_id")

  /** The shared e6-integer quality-score pipeline behind t2 and t9:
    * documents plus n_words and the dr/sr/ls/score_e6 columns.
    * score = 0.4*dr + 0.3*ls + 0.3*(1-sr); e6-scaled, round-half-up /10. */
  private[graft] def e6Scored(spark: SparkSession, dir: String): DataFrame = {
    // split ONCE — see t1LangId (ws was inlined 3x here); dropped before
    // return so consumer schemas are unchanged
    val ws = col("ws")
    Tables.documents(spark, dir)
      .withColumn("ws", words(col("text")))
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("dr_e6", Exact.ratio6e(size(array_distinct(ws)), col("n_words")))
      .withColumn("sr_e6", Exact.ratio6e(hits(ws, Seq("the", "a")), col("n_words")))
      .withColumn("ls_e6", least(Exact.ratio6e(col("n_words"), lit(100)), lit(1000000L)))
      .withColumn("score_e6",
        expr("(2 * (4*dr_e6 + 3*ls_e6 + 3*(1000000 - sr_e6)) + 10) div 20"))
      .drop("ws")
  }

  /** E9: exact global quality rank + NTILE(10) decile per document — the
    * "sort the corpus by quality and cut mixing tiers" step of a training
    * pipeline. The naive form (`row_number()/ntile()` OVER a global ORDER
    * BY) collapses to a single-partition Window — THE scale trap for this
    * shape — so the rank comes from
    * [[graft.operators.GlobalRank.withGlobalRankN]]: range-repartition +
    * per-partition offsets + a bit-decoded in-partition position (no
    * Window node at all), fully parallel. The decile is then integer
    * arithmetic on the rank using
    * SQL NTILE's exact split (with n rows and k tiles, the first n mod k
    * tiles hold n div k + 1 rows, the rest n div k — larger buckets
    * FIRST, not remainder spread evenly: the naive `(rank-1)*k div n`
    * form diverges from NTILE at e.g. n=12, k=10), so the result is
    * bit-identical to DuckDB's `ntile(10)`. Ties break on doc_id, making
    * the order total and the ranks deterministic. */
  def t9QualityRank(spark: SparkSession, dir: String): DataFrame = {
    val scored = e6Scored(spark, dir).select(col("doc_id"), col("score_e6"))
    val (ranked, total) = graft.operators.GlobalRank.withGlobalRankN(
      scored, Seq(col("score_e6").desc, col("doc_id")), "rank")
    val q = total / 10
    val r = total % 10
    val bigCut = r * (q + 1) // last rank inside the (q+1)-sized leading tiles
    ranked
      .withColumn("decile", expr(
        s"CASE WHEN rank <= $bigCut THEN (rank + $q) div ${q + 1} " +
          s"ELSE $r + (rank - $bigCut + ${math.max(q, 1L) - 1}) div ${math.max(q, 1L)} END"))
      .select(col("doc_id"),
        (col("score_e6").cast("double") / 1000000.0).as("quality_score"),
        col("rank"), col("decile"))
      .orderBy("doc_id")
  }

  /** E3: token counting — whitespace tokens, regex segments (BPE-ish
    * pre-tokenizer), and the chars/4 BPE estimate. */
  def t3Tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(words(col("text"))).cast("long"))
      .withColumn("seg_tokens", regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
      .withColumn("bpe_est", ceil(length(col("text")) / 4.0).cast("long"))
      .select("doc_id", "ws_tokens", "seg_tokens", "bpe_est")
      .orderBy("doc_id")

  /** E5: the keep/drop verdict — the training-data filter decision that
    * composes the pipeline's signals per document: exact-dup canonical
    * (keep one per content hash), quality score above threshold, token
    * count in band, allowed language. Every predicate is integer/boolean
    * (no FP on the decision path), so the verdict is bit-stable across
    * engines and shuffle orders; at 100 TB this is one narrow pass plus
    * the content-hash window shuffle. */
  def t5KeepFilter(spark: SparkSession, dir: String): DataFrame =
    keepSignals(spark, dir)
      .select("doc_id", "is_canonical", "quality_ok", "tokens_ok", "lang_ok", "keep")
      .orderBy("doc_id")

  /** The per-document keep/drop signal set behind t5, with the carry
    * columns (lang, source, n_words) the pipeline composition query (P1)
    * aggregates over. */
  private[graft] def keepSignals(spark: SparkSession, dir: String): DataFrame = {
    // split ONCE — see t1LangId (ws was inlined 3x here); dropped below
    val ws = col("ws")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
    Tables.documents(spark, dir)
      .withColumn("ws", words(col("text")))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("dr_e6", Exact.ratio6e(size(array_distinct(ws)), col("n_words")))
      .withColumn("sr_e6", Exact.ratio6e(hits(ws, Seq("the", "a")), col("n_words")))
      .withColumn("ls_e6", least(Exact.ratio6e(col("n_words"), lit(100)), lit(1000000L)))
      .withColumn("score_e6",
        expr("(2 * (4*dr_e6 + 3*ls_e6 + 3*(1000000 - sr_e6)) + 10) div 20"))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .withColumn("quality_ok", col("score_e6") >= 500000L)
      .withColumn("tokens_ok", col("n_words").between(25, 80))
      .withColumn("lang_ok", col("lang").isin("en", "de", "fr"))
      .withColumn("keep",
        col("is_canonical") && col("quality_ok") && col("tokens_ok") && col("lang_ok"))
      .drop("ws")
  }

  /** E4: rolling polynomial hash fingerprint — in-order fold
    * h = (h*31 + H(w)) mod 1e9+7 over the token stream. */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    Tables.documents(spark, dir)
      .withColumn("fingerprint",
        aggregate(words(col("text")), lit(0L),
          (acc, w) => (acc * 31L + DetHash.h56(concat(lit("fp:"), w)) % P) % P))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** E6: corpus vocabulary — term + document frequency for the top-100
    * tokens. The canonical word-count shape: explode is a codegen'd
    * generator (no HOF lambda), the token groupBy partial-aggregates
    * map-side so the exchange carries one row per distinct token per
    * partition (vocabulary-sized, NOT corpus-sized), and the top-k is a
    * TakeOrderedAndProject — no global sort. df uses the two-phase
    * count-distinct expand; ordering ties break on the token string, so
    * the cut at rank 100 is bit-stable. */
  def t6Vocab(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(k)

  /** E7: repetition scoring (the Gopher-style repetition filters): per
    * document, the fraction of word-bigram occurrences held by the single
    * most frequent bigram and the fraction inside any repeated (count>1)
    * bigram — boilerplate and template spam light up both. Bigrams come
    * from two O(n) array slices zipped and exploded (codegen generators, no
    * interpreted HOF lambda, no window sort), hashed to 8-byte keys before
    * the exchange; the two-level groupBy ((doc,gram) then doc) partial-
    * aggregates map-side, so the shuffle carries one row per distinct
    * bigram per partition. Fractions are round-half-up e6 integers
    * (SURVEY §5.3b) and the verdict is an integer compare — bit-stable in
    * any engine at any shuffle order. */
  def t7Repetition(spark: SparkSession, dir: String): DataFrame = {
    // split ONCE below the generator (r17 optimization round, guide §4):
    // building the zip directly over words(col("text")) inlined the split
    // four times into the Generate (2 slices × (slice + size) — the
    // regex-split of every document evaluated 4x per row). Projecting the
    // token array first pins a single evaluation: CollapseProject keeps
    // the barrier because `ws` is non-cheap and referenced four times.
    val ws = col("ws")
    val pairs = arrays_zip(
      slice(ws, lit(1), size(ws) - 1).as("w1"),
      slice(ws, lit(2), size(ws) - 1).as("w2"))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"),
        DetHash.h60(concat_ws(" ", col("p.w1"), col("p.w2"))).as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("rep_c"))
      .withColumn("top_e6", Exact.ratio6e(col("top_c"), col("n_bigrams")))
      .withColumn("rep_e6", Exact.ratio6e(col("rep_c"), col("n_bigrams")))
      .select(col("doc_id"), col("n_bigrams"),
        (col("top_e6").cast("double") / 1000000.0).as("top_bigram_frac"),
        (col("rep_e6").cast("double") / 1000000.0).as("rep_bigram_frac"),
        (col("rep_e6") >= 300000L).as("is_repetitive"))
      .orderBy("doc_id")
  }

  /** Per-doc bigram occurrence rows (doc_id, g, w1g) — g = h60("w1 w2"),
    * w1g = h60(w1); one row per POSITION (not distinct). */
  private def bigramRows(spark: SparkSession, dir: String): DataFrame = {
    // split ONCE below the generator — see t7Repetition (same 4x-inline
    // fix; this is t8's scoring-side parse, the LM build's too)
    val ws = col("ws")
    val pairs = arrays_zip(
      slice(ws, lit(1), size(ws) - 1).as("w1"),
      slice(ws, lit(2), size(ws) - 1).as("w2"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(pairs).as("p"))
      // h60nn: g is t8's equi-join key — the non-nullable type folds away
      // the inferred IsNotNull filter that re-ran the md5 chain per row
      .select(col("doc_id"),
        DetHash.h60nn(concat_ws(" ", col("p.w1"), col("p.w2"))).as("g"),
        DetHash.h60(col("p.w1")).as("w1g"))
  }

  /** The corpus bigram LM artifact: (g, c12, c1) — bigram count and its first-word context count, the
    * denominator pre-joined so scoring is a single equality join on the
    * 8-byte gram hash. The LM is a corpus-version artifact exactly like
    * the shingle and postings indexes. */
  private def lmTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "lm2", dir, Seq("documents.parquet")) { t =>
      val rows = bigramRows(spark, dir)
      val big = rows.groupBy("g").agg(count(lit(1)).as("c12"),
        max(col("w1g")).as("w1g"))
      val uni = rows.groupBy("w1g").agg(count(lit(1)).as("c1"))
      Warehouse.writeBucketed(big.join(uni, "w1g").select("g", "c12", "c1"), t, "g")
    }

  /** E8 (t8): bigram-LM quality scoring — the CCNet-style model-based
    * filter: score each document by its average bigram log-probability
    * under a count LM trained on the corpus itself (self-trained, so
    * every bigram has c12 >= 1 — no smoothing needed). Per-occurrence
    * log P(w2|w1) = ln(c12/c1) rounds to an e6 long; the per-doc total
    * is an EXACT integer sum and the keep verdict is an integer
    * cross-multiply (mean lp >= -3.0), so the result is bit-stable at
    * any shuffle order. Gibberish/rare-sequence docs score low; repeated
    * boilerplate scores suspiciously high — both ends are filter signals.
    * Scale shape: the LM is one materialized groupBy artifact; scoring is
    * a narrow generator + one equality join on the 8-byte gram hash +
    * one per-doc partial aggregate. */
  def t8LmScore(spark: SparkSession, dir: String): DataFrame = {
    val lm = lmTable(spark, dir)
    val lpE6 = round(lit(1e6) *
      log(col("c12").cast("double") / col("c1"))).cast("long")
    bigramRows(spark, dir)
      .join(lm, "g")
      .withColumn("lp_e6", lpE6)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("sum_lp_e6"))
      .withColumn("lm_keep", col("sum_lp_e6") >= lit(-3000000L) * col("n_bigrams"))
      .select("doc_id", "n_bigrams", "sum_lp_e6", "lm_keep")
      .orderBy("doc_id")
  }

  /** PII scrub patterns (E10) — the Java-regex / RE2 COMMON SUBSET only
    * (char classes, bounded repetition, alternation-free): no lookaround,
    * no backrefs, so Spark's codegen'd `regexp_replace` and DuckDB's RE2
    * compile the same automaton and leftmost-first semantics agree. */
  private[text] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[text] val PhoneRe = "\\+?[0-9][0-9\\-]{6,}[0-9]"
  private[text] val IpRe    = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** E10 (t10, r13): PII scrubbing — the redaction pass every
    * training-data pipeline runs before release (emails / phone numbers /
    * IPv4 literals → typed placeholder tokens), as a single narrow
    * projection: count occurrences, then three chained `regexp_replace`
    * calls (email → phone → IP; the classes are disjoint by construction
    * — `<EMAIL>`/`<PHONE>` tokens carry no digit runs for later patterns
    * to re-match). Zero shuffle; scales like t1-t8.
    *
    * The synthetic corpus carries no PII, so the operator embeds a
    * DETERMINISTIC fixture per document (doc_id-derived email / E.164-ish
    * phone / dotted-quad, each present for only a doc_id-dependent subset
    * so counts genuinely vary 0-2) with the identical concat in the
    * oracle — the graded artifact is the scrubbed text itself, so every
    * replacement position hashes cross-engine. */
  def t10PiiScrub(spark: SparkSession, dir: String): DataFrame =
    piiCounted(spark, dir)
      .select("doc_id", "n_emails", "n_phones", "n_ips", "clean")
      .orderBy("doc_id")

  /** t10's PII fixture + per-class counts + scrubbed text as a reusable
    * frame (r14): the p8 curation audit composes the total redaction
    * count per document, so the construction lives once — the
    * [[ScoredCteSql]] one-Spark-expression/one-SQL-fragment rule, with
    * [[PiiCteBody]] as the SQL side. */
  private[graft] def piiCounted(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    val pii = concat(col("text"),
      when(id % 3 =!= 0, concat(lit(" contact user"), s(id), lit("@mail"),
        s(id % 7), lit(".com"))).otherwise(lit("")),
      when(id % 4 =!= 1, concat(lit(" tel +1-555-"),
        lpad(s(id % 10000), 4, "0"))).otherwise(lit("")),
      when(id % 5 =!= 2, concat(lit(" host 10."), s(id % 256), lit(".0."),
        s(id % 100))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" cc backup"), s(id), lit("@alt.org")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .withColumn("pii", pii)
      .withColumn("n_emails", size(regexp_extract_all(col("pii"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(col("pii"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("n_ips",    size(regexp_extract_all(col("pii"), lit(IpRe), lit(0))).cast("long"))
      .withColumn("clean", regexp_replace(regexp_replace(regexp_replace(
        col("pii"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t10_pii_scrub"  -> ((s, d) => t10PiiScrub(s, d)),
    "t8_lm_score"    -> ((s, d) => t8LmScore(s, d)),
    "t1_langid"      -> ((s, d) => t1LangId(s, d)),
    "t2_quality"     -> ((s, d) => t2Quality(s, d)),
    "t3_tokens"      -> ((s, d) => t3Tokens(s, d)),
    "t4_fingerprint" -> ((s, d) => t4Fingerprint(s, d)),
    "t5_keep_filter" -> ((s, d) => t5KeepFilter(s, d)),
    "t6_vocab"       -> ((s, d) => t6Vocab(s, d)),
    "t7_repetition"  -> ((s, d) => t7Repetition(s, d)),
    "t9_quality_rank" -> ((s, d) => t9QualityRank(s, d)),
  )

  private def hitsSql(stops: Seq[String]): String =
    s"len(list_filter(ws, w -> w IN (${stops.map(s => s"'$s'").mkString(", ")})))"

  /** The ONE SQL mirror of [[e6Scored]] (CTE `sc`: doc_id, n_words,
    * dr/sr/ls_e6, score_e6), shared by the t2, t9, and p7 oracles — a
    * formula change edits exactly one Spark expression and one SQL
    * fragment, so the oracle gate can never compare a new Spark formula
    * against a stale SQL copy. */
  private[graft] val ScoredCteSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), c AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    ((2000000*(len(list_distinct(ws))) + (len(ws))) // (2*(len(ws)))) AS dr_e6,
       |    ((2000000*(${hitsSql(Seq("the", "a"))}) + (len(ws))) // (2*(len(ws)))) AS sr_e6,
       |    least(((2000000*(len(ws)) + (100)) // (2*(100))), 1000000) AS ls_e6
       |  FROM t
       |), sc AS (
       |  SELECT *, (2 * (4*dr_e6 + 3*ls_e6 + 3*(1000000 - sr_e6)) + 10) // 20 AS score_e6 FROM c
       |)""".stripMargin

  /** The SQL mirror of [[keepSignals]] as a WITH-less CTE body (kt/kc/
    * ksig — names chosen to never collide with the dedup CTE chains),
    * shared by the t5 oracle and the composed curation audit (P8): one
    * Spark expression <-> one SQL fragment, the [[ScoredCteSql]] rule. */
  private[graft] val KeepSigCteBody: String =
    s"""kt AS (
       |  SELECT doc_id, lang, source, md5(text) AS content_hash,
       |    string_split(text, ' ') AS ws
       |  FROM documents
       |), kc AS (
       |  SELECT doc_id, lang, source, content_hash, CAST(len(ws) AS BIGINT) AS n_words,
       |    ((2000000*(len(list_distinct(ws))) + (len(ws))) // (2*(len(ws)))) AS dr_e6,
       |    ((2000000*(${hitsSql(Seq("the", "a"))}) + (len(ws))) // (2*(len(ws)))) AS sr_e6,
       |    least(((2000000*(len(ws)) + (100)) // (2*(100))), 1000000) AS ls_e6
       |  FROM kt
       |), ksig AS (
       |  SELECT *, (2 * (4*dr_e6 + 3*ls_e6 + 3*(1000000 - sr_e6)) + 10) // 20 AS score_e6,
       |    doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical
       |  FROM kc
       |)""".stripMargin

  /** The SQL mirror of [[piiCounted]] as a WITH-less CTE body (piisrc/
    * piicnt — names chosen to never collide with the dedup or keep-signal
    * CTE chains), shared by the t10 oracle and the composed curation
    * audit (P8): one Spark expression <-> one SQL fragment, the
    * [[ScoredCteSql]] rule. */
  private[graft] val PiiCteBody: String =
    s"""piisrc AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |         || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
       |    || CASE WHEN doc_id % 4 <> 1 THEN ' tel +1-555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    || CASE WHEN doc_id % 5 <> 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |         || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' cc backup' || CAST(doc_id AS VARCHAR)
       |         || '@alt.org' ELSE '' END AS pii
       |  FROM documents
       |), piicnt AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(pii, '$EmailRe')) AS n_emails,
       |    len(regexp_extract_all(pii, '$PhoneRe')) AS n_phones,
       |    len(regexp_extract_all(pii, '$IpRe')) AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(
       |      pii, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
       |      '$IpRe', '<IP>', 'g') AS clean
       |  FROM piisrc
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "t10_pii_scrub" ->
      (s"WITH $PiiCteBody" +
        """
          |SELECT doc_id, n_emails, n_phones, n_ips, clean
          |FROM piicnt ORDER BY doc_id""".stripMargin),

    "t1_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
         |), h AS (
         |  SELECT doc_id, lang, len(ws) AS n_words,
         |    ${hitsSql(StopEn)} AS en_hits, ${hitsSql(StopDe)} AS de_hits,
         |    ${hitsSql(StopEs)} AS es_hits, ${hitsSql(StopFr)} AS fr_hits
         |  FROM t
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN en_hits >= greatest(de_hits, es_hits, fr_hits) AND en_hits > 0 THEN 'en'
         |       WHEN de_hits >= greatest(es_hits, fr_hits) AND de_hits > 0 THEN 'de'
         |       WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |       WHEN fr_hits > 0 THEN 'fr'
         |       ELSE 'und' END AS pred_lang,
         |  (CASE WHEN en_hits >= greatest(de_hits, es_hits, fr_hits) AND en_hits > 0 THEN 'en'
         |       WHEN de_hits >= greatest(es_hits, fr_hits) AND de_hits > 0 THEN 'de'
         |       WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |       WHEN fr_hits > 0 THEN 'fr'
         |       ELSE 'und' END) = lang AS is_correct,
         |  ((2000000*(en_hits) + (n_words)) // (2*(n_words))) / 1000000.0 AS stop_ratio
         |FROM h ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      (ScoredCteSql + s"""
         |SELECT doc_id, n_words,
         |  dr_e6 / 1000000.0 AS distinct_ratio,
         |  sr_e6 / 1000000.0 AS stop_ratio,
         |  ls_e6 / 1000000.0 AS len_score,
         |  score_e6 / 1000000.0 AS quality_score,
         |  score_e6 < 500000 AS is_low_quality
         |FROM sc ORDER BY doc_id""".stripMargin),

    "t5_keep_filter" ->
      (s"WITH $KeepSigCteBody" +
       """
         |SELECT doc_id, is_canonical,
         |  score_e6 >= 500000 AS quality_ok,
         |  n_words BETWEEN 25 AND 80 AS tokens_ok,
         |  lang IN ('en', 'de', 'fr') AS lang_ok,
         |  is_canonical AND score_e6 >= 500000 AND n_words BETWEEN 25 AND 80
         |    AND lang IN ('en', 'de', 'fr') AS keep
         |FROM ksig ORDER BY doc_id""".stripMargin),

    "t9_quality_rank" ->
      (ScoredCteSql + s"""
         |SELECT doc_id, score_e6 / 1000000.0 AS quality_score,
         |  CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank,
         |  CAST(ntile(10) OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS decile
         |FROM sc ORDER BY doc_id""".stripMargin),

    "t3_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS seg_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_transform(string_split(text, ' '),
         |      w -> ${DetHash.h56Sql("'fp:' || w")} % 1000000007),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t6_vocab" ->
      """SELECT w AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    "t8_lm_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(w)),
         |      i -> ${DetHash.h60Sql("w[i] || ' ' || w[i+1]")})) AS g,
         |    unnest(list_transform(range(1, len(w)),
         |      i -> ${DetHash.h60Sql("w[i]")})) AS w1g
         |  FROM t
         |), big AS (
         |  SELECT g, count(*) AS c12, max(w1g) AS w1g FROM bg GROUP BY g
         |), uni AS (
         |  SELECT w1g, count(*) AS c1 FROM bg GROUP BY w1g
         |), lm AS (
         |  SELECT g, c12, c1 FROM big JOIN uni ON uni.w1g = big.w1g
         |), scored AS (
         |  SELECT bg.doc_id,
         |    CAST(round(1e6 * ln(CAST(c12 AS DOUBLE) / c1)) AS BIGINT) AS lp_e6
         |  FROM bg JOIN lm ON lm.g = bg.g
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
         |  CAST(sum(lp_e6) AS BIGINT) >= -3000000 * count(*) AS lm_keep
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t7_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |    i -> ${DetHash.h60Sql("w[i] || ' ' || w[i+1]")})) AS g
         |  FROM t
         |), cnt AS (
         |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
         |), agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |    CAST(max(c) AS BIGINT) AS top_c,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rep_c
         |  FROM cnt GROUP BY 1
         |)
         |SELECT doc_id, n_bigrams,
         |  ((2000000*(top_c) + (n_bigrams)) // (2*(n_bigrams))) / 1000000.0 AS top_bigram_frac,
         |  ((2000000*(rep_c) + (n_bigrams)) // (2*(n_bigrams))) / 1000000.0 AS rep_bigram_frac,
         |  ((2000000*(rep_c) + (n_bigrams)) // (2*(n_bigrams))) >= 300000 AS is_repetitive
         |FROM agg ORDER BY doc_id""".stripMargin,
  )
}
