package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ann.Stages
import graft.functions.{DetHash, Exact, Vec}
import graft.sources.{Artifact, Warehouse}

/** Deduplication suite (SURVEY.md §2.C) — the LLM-training-data pipeline
  * operators, each expressed as blocked (never all-pairs) Spark plans.
  *
  * Scale design (§6): every pairwise operator first maps each document/vector
  * to a small set of blocking keys (LSH band hashes, SimHash chunks,
  * hyperplane sign bands, metadata+length buckets), then self-joins ONLY on
  * key equality — the shuffle is keyed by block, candidate sets stay bounded
  * per block, and exact verification (Jaccard / hamming / cosine) runs only
  * on candidates. There is no crossJoin anywhere; at 100 TB each join is a
  * standard hash-shuffle with AQE skew handling, and signature computation is
  * a narrow codegen'd map (higher-order functions over md5 — no UDFs).
  */
object Dedup {

  /** The source every dedup artifact derives from. */
  private val Docs = Seq("documents.parquet")

  /** The 3-gram shingle index, an artifact written as a
    * parquet table bucketed+sorted by doc_id, then read by every consumer —
    * d2/d6/d7/d8 between them walk the index ~7 times per run (signature
    * build + both sides of the verification join + the df cap), and at
    * warehouse scale recomputing a corpus-wide parse per branch is the
    * dominant repeated cost. The bucketed layout also makes the
    * per-doc signature groupBy exchange-free (bucket partitioning satisfies
    * the aggregation's distribution requirement). In-memory persist() was
    * measured SLOWER than recompute locally (materialization cost + blocked
    * codegen fusion, see §6 notes); a written bucketed table is the shape a
    * real cluster uses, and the write amortizes across every consumer. */
  private def shingleIndex3(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "sh3", dir, Docs) { t =>
      Warehouse.writeBucketed(
        DupStages.shingles(Tables.documents(spark, dir), 3), t, "doc_id")
    }

  /** C1: exact dedup — md5 hash groups with canonical (min) doc id. */
  def d1ExactDup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
      .withColumn("is_dup_group", col("n_docs") > 1)
      .orderBy("content_hash")

  /** C2: MinHash + LSH banding. 16 permutations over word 3-gram shingles,
    * 4 bands x 4 rows; candidates = band-hash collisions; Jaccard >= 0.5
    * verification on candidates only, computed by an inverted-index
    * intersection count (|I| / (|A|+|B|-|I|)) over the 60-bit shingle
    * hashes (exact up to ~2^-60 collision odds) — no all-pairs array ops
    * anywhere.
    *
    * Plan shape at scale: explode shingles (narrow) -> one md5 each ->
    * groupBy(doc) with 16 min() partial aggs (one shuffle) -> band explode
    * (x4) -> equality self-join on (band, band_hash) -> count-join verify.
    * The signature table is an artifact: like the shingle index it derives
    * deterministically from the corpus version and feeds d2, d7, d9 and
    * d10 (signatures, band rows, and the per-doc shingle counts all read
    * it), bucketed by doc_id so the count-attach joins stay exchange-free. */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "mhsig", dir, Docs) { t =>
      Warehouse.writeBucketed(DupStages.signature(shingleIndex3(spark, dir)), t, "doc_id")
    }

  def d2MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    d2VerifiedPairs(spark, dir, candSampleMod = None)

  /** C1c (d2s, r14 — verdict r13 #5): d2's exact-Jaccard verification over
    * a deterministic 1-in-[[D2sMod]] CANDIDATE sample — the d7s/a22s rule
    * (the graded artifact changes to the sampled verdict; the sample is
    * the same doc_id-mod filter in both engines). The LSH index itself —
    * signatures, banding, candidate generation — still builds over the
    * FULL corpus; only the verify join's left (smaller-doc_id) side is
    * sampled, dividing the candidate x shingle-index pair stream by the
    * sample rate. That stream is exactly the stage whose shuffle spill
    * exceeded the box's free disk at the 5M-doc sf100d decade
    * (CORRECTNESS_SF100D exclusion: >65 GB vs ~67 GB free — solo-measured,
    * the plan itself is scale-correct and hash-green at sf10), so the
    * sampled twin puts a dedup-chain VERDICT at the third decade instead
    * of an infeasibility note. */
  def d2sMinhashLshSampled(spark: SparkSession, dir: String,
                           smod: Int = D2sMod): DataFrame =
    d2VerifiedPairs(spark, dir, candSampleMod = Some(smod))

  val D2sMod = 13

  private def d2VerifiedPairs(spark: SparkSession, dir: String,
                              candSampleMod: Option[Int]): DataFrame =
    d2VerifiedPairsSlice(spark, dir, candSampleMod.map((_, 0)))
      .orderBy("doc_a", "doc_b")

  /** The d2 verification core over ONE candidate residue class
    * (doc_a % mod == residue) — d2s is the (mod, 0) slice; the residue
    * classes for r = 0 until mod partition the candidate set exactly, so
    * the UNION of all slices is the full verified-pair set. Unsorted: the
    * registered queries add their global ORDER BY on top, the multipass
    * staging writer deliberately does not (a per-pass sort buys nothing
    * the downstream clustering or the staged parquet union would keep). */
  private def d2VerifiedPairsSlice(spark: SparkSession, dir: String,
                                   candSlice: Option[(Int, Int)]): DataFrame = {
    // The shingle index feeds signature build, per-doc counts, and both
    // sides of the verification join — read from the once-written bucketed
    // warehouse table (shingleIndex3) rather than re-parsing the corpus
    // per branch.
    val ex = shingleIndex3(spark, dir)
    val sig = minhashSig(spark, dir)
    val cand = candSlice.foldLeft(DupStages.candidates(sig)) { case (c, (m, r)) =>
      c.filter(col("doc_a") % m === r)
    }
    DupStages.sized(DupStages.probe(cand, ex, "doc_a", "doc_b"), sig, "doc_a", "doc_b")
      .withColumn("jaccard", DupStages.jaccard(Exact.ratio6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** C2-FULL at bounded disk (r17, verdict r16 #8): the complete d2
    * verified-pair set computed in `passes` sequential residue passes,
    * each staged to its own parquet directory. The full verify join's
    * one-job shuffle spill is what exceeded the box at the 5M-doc decade
    * (>65 GB vs ~67 GB free — CORRECTNESS_SF100D's spark_disk_bound
    * class); a residue pass moves 1/passes of the candidate × shingle
    * pair stream, so peak spill is bounded by the pass, not the corpus.
    * On a real cluster the SAME shape is how a 100 TB dedup verify runs
    * under a fixed scratch-disk quota: partition the candidate keyspace,
    * verify per partition, land each partition's verdict in the lake,
    * union downstream ([[Warehouse.stagedPasses]], resume-safe; the
    * caller owns `staging`). */
  private[graft] def d2MultipassPairs(spark: SparkSession, dir: String,
                                      passes: Int, staging: String): DataFrame =
    Warehouse.stagedPasses(spark, staging, passes, "d2") { r =>
      d2VerifiedPairsSlice(spark, dir, Some((passes, r)))
    }

  /** The FULL cluster assignment ([[DupStages.clusters]]) of the
    * multipass pair set — [[clusterTable]]'s bounded-disk twin, and the
    * drop-set source for every FULL-chain deliverable (d6/d8/p1/p5/p8f).
    * Same staging-freshness contract as [[d2MultipassPairs]]. */
  private[graft] def clusterTableMultipass(spark: SparkSession, dir: String,
                                           passes: Int, staging: String): DataFrame =
    Artifact.table(spark, "ccf", dir, Docs) { t =>
      DupStages.clusters(d2MultipassPairs(spark, dir, passes, staging), t)
    }

  /** C6-FULL: d6's cluster report over the MULTIPASS full pair set —
    * byte-equal output to [[d6DupClusters]] (spec-pinned at sf0.01 via
    * pair-set equality), at bounded per-pass disk instead of one
    * corpus-sized verify job. */
  private[graft] def d6DupClustersFull(spark: SparkSession, dir: String,
                                       passes: Int, staging: String): DataFrame =
    DupStages.clusterReport(clusterTableMultipass(spark, dir, passes, staging))

  /** C8-FULL: d8's canonical corpus with the near-dup drop set from the
    * FULL multipass clustering — the registered d8 exactly, at bounded
    * per-pass disk (spec-pinned equal at sf0.01). */
  private[graft] def d8CanonicalCorpusFull(spark: SparkSession, dir: String,
                                           passes: Int, staging: String): DataFrame =
    canonicalCorpus(spark, dir, clusterTableMultipass(spark, dir, passes, staging))

  /** C3: SimHash near-dup. 60-bit signature (md5-derived word hashes,
    * count-weighted sign sums per bit); blocking by the pigeonhole principle —
    * hamming <= [[D3Hamming]] differing bits spread over `chunkCount` equal
    * chunks leave at least one chunk untouched whenever
    * chunkCount > [[D3Hamming]] — so the join is an equality join on
    * (chunk, value), then exact hamming verification.
    *
    * `chunkCount` is the size-adaptivity knob: candidate-pair pressure per
    * bucket is ~n^2/2^(60/chunkCount), so the WIDEST legal chunking
    * (chunkCount = [[D3Hamming]]+1 = 4, 15-bit chunks) is optimal at any
    * corpus size; more chunks stay pigeonhole-complete (spec-asserted for
    * 4 and 6) but only add candidates. Past the point where n^2/2^15
    * pressure bites (~100 TB corpora), the signature itself widens — two
    * independent md5-derived 60-bit halves give a 120-bit signature and
    * 4 x 30-bit chunks (occupancy n/2^30) with the identical plan shape;
    * the 60-bit form is what the DuckDB oracle replays. */
  val D3Hamming = 3

  /** The SimHash signature table artifact of `halves` ([[DupStages.simhash]])
    * under `kind` — one row per doc, another stored signature-build output. */
  private def simhashSig(spark: SparkSession, dir: String, kind: String,
                         halves: Seq[DupStages.SimhashHalf]): DataFrame =
    Artifact.table(spark, kind, dir, Docs) { t =>
      Warehouse.writeBucketed(
        DupStages.simhash(Tables.documents(spark, dir), halves), t, "doc_id")
    }

  /** d3's chunk value: chunk c of the 60-bit signature, `chunkCount` equal
    * chunks (Spark and DuckDB parse the same text). */
  private def chunkValue(chunkCount: Int): String =
    s"(sig >> (${60 / chunkCount} * c)) & ${(1L << (60 / chunkCount)) - 1}"

  /** d3w's chunk value: 4 x 30-bit chunks, two from each 60-bit half. */
  private val WideChunkValue = {
    val mask = (1L << 30) - 1
    s"CASE WHEN c < 2 THEN (sig0 >> (30 * c)) & $mask" +
      s" ELSE (sig1 >> (30 * (c - 2))) & $mask END"
  }

  def d3Simhash(spark: SparkSession, dir: String): DataFrame =
    d3SimhashChunked(spark, dir, chunkCount = 4)

  /** C3b (d3w, r14): the WIDE SimHash the C3 scaladoc promised for the
    * regime where n^2/2^15 bucket pressure bites (~100 TB corpora) — a
    * 120-bit signature as two independent 60-bit halves, blocked by
    * 4 x 30-bit chunks (bucket occupancy n/2^30, a 32,768x pressure drop
    * vs d3's 15-bit chunks) with the IDENTICAL plan shape: equality join
    * on (chunk, value), exact hamming verification. Pigeonhole holds
    * unchanged (hamming <= 3 over any 4 chunks leaves one untouched).
    * Semantics: hamming <= 3 over 120 bits is a STRICTER near-dup bar
    * than over 60 (the wide form trades borderline recall for bucket
    * pressure — spec pins d3w pairs ⊆ d3 pairs, exact dups at hamming 0);
    * a deployment matching d3's cosine bar instead would raise the
    * threshold and the chunk count together (7 x ~17-bit chunks). */
  def d3wSimhashWide(spark: SparkSession, dir: String): DataFrame =
    DupStages.hammingPairs(simhashSig(spark, dir, "shsigw", DupStages.Simhash120),
        DupStages.Simhash120, 4, WideChunkValue, lit(true))
      .orderBy("doc_a", "doc_b")

  private[graft] def d3SimhashChunked(spark: SparkSession, dir: String,
                                      chunkCount: Int): DataFrame =
    d3VerifiedPairs(spark, dir, chunkCount, lit(true)).orderBy("doc_a", "doc_b")

  /** d3's blocked-candidate + hamming-verify core over an arbitrary chunk
    * predicate — `cvPred` restricts the chunk rows BEFORE the equality
    * self-join. Because the join requires x.cv == y.cv, a residue class on
    * cv partitions the join's matches exactly, so
    * union over cvPred = (cv % P == r) for r < P  ==  cvPred = true —
    * the d2MultipassPairs rule applied to SimHash blocking (r17). A pair
    * matching at chunks in DIFFERENT residue classes appears in each; the
    * (doc_a, doc_b) -> hamming function is deterministic, so a final
    * distinct restores the registered row set. */
  private def d3VerifiedPairs(spark: SparkSession, dir: String,
                              chunkCount: Int, cvPred: Column): DataFrame = {
    require(60 % chunkCount == 0 && chunkCount > D3Hamming,
      s"chunkCount must divide 60 and exceed the hamming bound $D3Hamming " +
        s"(pigeonhole completeness); got $chunkCount")
    DupStages.hammingPairs(simhashSig(spark, dir, "shsig", DupStages.Simhash60),
      DupStages.Simhash60, chunkCount, chunkValue(chunkCount), cvPred)
  }

  /** C3-FULL (r17): d3 in `passes` bounded cv-residue passes — the shape
    * that converts the 5M-doc one-job candidate DISTINCT (~1.5e9 pair rows
    * through one exchange) into 1/passes-sized staged jobs. Byte-equal to
    * [[d3Simhash]] (spec-pinned); same staging/resume contract as
    * [[d2MultipassPairs]]. The final cross-pass distinct moves only the
    * VERIFIED pairs (hamming-filtered, ~15x fewer than candidates). */
  private[graft] def d3SimhashFull(spark: SparkSession, dir: String,
                                   passes: Int, staging: String): DataFrame =
    Warehouse.stagedPasses(spark, staging, passes, "d3") { r =>
      d3VerifiedPairs(spark, dir, chunkCount = 4, col("cv") % passes === r)
    }.distinct().orderBy("doc_a", "doc_b")

  /** C4: word 4-gram Jaccard within (lang, length-bucket) blocks — the
    * metadata-blocked pairwise path (cross-block dups are C2's job).
    * Pairs come from an inverted shingle index joined within the block, so
    * only documents sharing at least one shingle are ever paired — the
    * shuffle is keyed by (shingle, block), never an all-pairs block product. */
  def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // the 4-gram index feeds both self-join sides and the per-doc counts —
    // an artifact like the 3-gram index (the
    // explode+window chain otherwise executes 4x per query, per run)
    val ex = Artifact.table(spark, "sh4", dir, Docs) { t =>
      Warehouse.writeBucketed(
        DupStages.shingles(
          Tables.documents(spark, dir)
            .withColumn("len_bucket", (col("n_chars") / 200).cast("long")),
          4, Seq("lang", "len_bucket")), t, "doc_id")
    }
    val nsh = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    DupStages.sized(DupStages.selfJoin(ex, ex, Seq("lang", "len_bucket")), nsh, "doc_a", "doc_b")
      .withColumn("jaccard", DupStages.jaccard(Exact.ratio6))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Deterministic random-hyperplane coordinates (md5-derived; identical
    * formula evaluates in the DuckDB oracle): n planes x 64 dims in
    * [-1, 1.0005] steps of 1e-3. Prefix-stable: hyperplanes(k) is the
    * first k rows of hyperplanes(n) for k <= n, so widening the dial
    * never re-randomizes the planes an oracle already pinned. */
  private[graft] def hyperplanes(n: Int): Seq[Seq[Double]] =
    (0 until n).map { j =>
      (0 until 64).map { d =>
        ((DetHash.h60Local(s"hp${j}d$d") % 2001L) - 1000L) / 1000.0
      }
    }

  /** The oracle-pinned default tensor: 16 planes (4 bands x 4 bits). */
  private[graft] val Hyperplanes: Seq[Seq[Double]] = hyperplanes(16)

  /** The DuckDB twin of the default 4x4 banding over the corpus CTE `en`:
    * CTEs `hp` ([[Hyperplanes]]), `bits` (one sign bit per (vec, plane))
    * and `bands` (vec_id, band, bv) — shared by the d5 and r5b oracles. */
  private[graft] val BandsSql: String =
    s"""hp AS (
       |  SELECT j, list_transform(range(0, 64), d ->
       |    (CAST('0x' || substr(md5('hp' || CAST(j AS VARCHAR) || 'd' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)/1000.0) AS r
       |  FROM range(0, 16) t(j)
       |), bits AS (
       |  SELECT en.vec_id, hp.j,
       |    CASE WHEN ${Stages.Sql.dot("en.v", "hp.r")} > 0 THEN 1 ELSE 0 END AS bit
       |  FROM en, hp
       |), bands AS (
       |  SELECT vec_id, j // 4 AS band, CAST(sum(bit << (j % 4)) AS BIGINT) AS bv
       |  FROM bits GROUP BY 1, 2
       |)""".stripMargin

  /** C5: embedding near-dup via random-hyperplane LSH: `bands` bands of
    * `bitsPerBand` sign bits each; candidates collide on a full band;
    * cosine >= 0.4 verify.
    *
    * `bitsPerBand` is the SCALE DIAL (r9 verdict item 3): candidate pairs
    * per band bucket ~ N^2 / 2^bits, so a fixed bit-width is quadratic in
    * corpus size — the dial must grow ~log2(N) to hold bucket occupancy
    * (and therefore per-bucket pair work) constant. Each extra bit halves
    * a band's collision probability p^bits (p = 1 - theta/pi), so recall
    * at a fixed cosine threshold is traded against cost; `bands` buys
    * recall back (1-(1-p^bits)^bands) at one more corpus pass per band.
    * Measured curve (`graft.Dial d5`, PLANS.md §d5-dial): cost and recall at
    * 2/3/4 bits x 4 bands at sf0.1 and sf1. The 4x4 default is pinned by
    * the DuckDB oracle at driver scales. */
  def d5EmbeddingNeardup(spark: SparkSession, dir: String,
                         bitsPerBand: Int = 4, bands: Int = 4,
                         simThreshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", Vec.norm2Native(col("v")))
    // Each band value is computed in ONE expression (transform over the
    // literal 4x4x64 hyperplane tensor + posexplode), so every hyperplane
    // dot is folded exactly once per row — expressing the bits as a separate
    // projected column lets CollapseProject inline the whole fold into every
    // downstream use. The in-order fold matches the oracle's list_reduce.
    // bands x bitsPerBand planes x 64 dims
    val bandTensor = hyperplanes(bands * bitsPerBand).grouped(bitsPerBand).toSeq
    val banded = e.select(col("vec_id"), col("v"), col("nrm"),
        posexplode(transform(typedlit(bandTensor), band =>
          (0 until bitsPerBand).map { o =>
            when(Vec.dotNative(col("v"), element_at(band, o + 1)) > 0.0,
              lit(1L << o)).otherwise(0L)
          }.reduce(_ + _))))
      .toDF("vec_id", "v", "nrm", "band", "bv")
    // Dedup candidates on the id pair ONLY (ints), then re-attach vectors:
    // shuffling the float arrays through the distinct would move ~100x the
    // bytes. The re-attach joins are UN-hinted (r10, same class as
    // m7/r13/r5: `e` is the corpus — forcing its broadcast is an OOM at
    // scale): AQE broadcasts while it fits; at warehouse scale both joins
    // are bucket joins on vec_id against the bucketed corpus.
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("similarity", Stages.cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("similarity") >= simThreshold)
      .select("vec_a", "vec_b", "similarity")
      .orderBy("vec_a", "vec_b")
  }

  /** C5 AUTO MODE (r11 — the chooser IS the path): the pipeline entry
    * point computes (bitsPerBand, bands) from the LIVE corpus count via
    * [[d5OperatingPoint]] instead of trusting a caller-supplied literal,
    * so the closed form that throws on infeasible operating points is
    * what a pipeline actually hits — a corpus one decade larger silently
    * gets ~3.3 more bits, never the sf10 8x4 disk-death. The count is
    * one metadata-cheap pass, paid once per invocation (the build-once
    * `*Table` pattern would cache it per corpus version at 100 TB).
    * Oracle scales stay pinned: the registered `d5_embedding_neardup`
    * query still calls the literal 4x4 default — this entry point is
    * additive (DedupAutoSpec proves both the equivalence to the explicit
    * dials and the registered default's independence from it). */
  def d5EmbeddingNeardupAuto(spark: SparkSession, dir: String,
                             simThreshold: Double = 0.4,
                             recallFloor: Double = 0.5,
                             targetBucket: Long = 1024L): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    val (bits, bands) = d5OperatingPoint(n, simThreshold, recallFloor, targetBucket)
    d5EmbeddingNeardup(spark, dir, bits, bands, simThreshold)
  }


  /** The d5 dial's closed form (PLANS.md §d5-dial — validated against
    * nine measured settings over two data decades): picks the cheapest
    * (bitsPerBand, bands) meeting a recall floor at a cosine threshold.
    * Goemans–Williamson: one random hyperplane separates a pair at angle
    * theta with probability theta/pi, so a pair collides in one sign bit
    * with p = 1 - theta/pi, in an r-bit band with p^r, and in at least
    * one of b bands with 1 - (1-p^r)^b.
    *
    * r is the COST dial: 2^r buckets per band pins expected occupancy at
    * ~targetBucket, so per-band candidate work is ~N x occupancy (linear
    * in N at fixed occupancy), never N^2. b is the RECALL dial at one
    * extra corpus pass each. If the floor needs more than maxBands
    * passes the operating point is infeasible — p^r collapses at loose
    * thresholds — and this THROWS so callers route to verify-after-block
    * (r5b) or an ANN index instead of silently running a quadratic. */
  def d5OperatingPoint(corpusCount: Long, simThreshold: Double,
                       recallFloor: Double, targetBucket: Long = 1024L,
                       maxBands: Int = 64): (Int, Int) = {
    require(corpusCount > 0, s"corpusCount $corpusCount")
    require(simThreshold > -1.0 && simThreshold < 1.0, s"simThreshold $simThreshold")
    require(recallFloor > 0.0 && recallFloor < 1.0, s"recallFloor $recallFloor")
    require(targetBucket > 0, s"targetBucket $targetBucket")
    val p = 1.0 - math.acos(simThreshold) / math.Pi
    val r = math.max(1, math.ceil(
      math.log(corpusCount.toDouble / targetBucket) / math.log(2.0)).toInt)
    val pr = math.pow(p, r)
    // 1 - (1-p^r)^b >= floor  <=>  b >= log(1-floor) / log(1-p^r)
    val b = math.max(1, math.ceil(math.log1p(-recallFloor) / math.log1p(-pr)).toInt)
    if (b > maxBands) throw new IllegalArgumentException(
      f"d5 dial infeasible: N=$corpusCount%d at cosine>=$simThreshold%.2f needs " +
        f"r=$r%d bits/band to hold buckets <=$targetBucket%d, but recall>=" +
        f"$recallFloor%.2f then takes b=$b%d > maxBands=$maxBands%d bands " +
        "(p^r collapses at loose thresholds); block-and-verify with a bounded " +
        "k per probe (r5b) or an a-family ANN index instead")
    (r, b)
  }

  /** Closed-form recall of a (bitsPerBand, bands) setting at a cosine
    * threshold — the curve `graft.Dial d5` measures empirically. */
  def d5ClosedFormRecall(bitsPerBand: Int, bands: Int, simThreshold: Double): Double = {
    val p = 1.0 - math.acos(simThreshold) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bitsPerBand), bands)
  }

  /** C6: dedup clusters — connected components over the verified MinHash
    * near-dup pairs, assigning every involved document a canonical
    * cluster id (the smallest member id) and cluster size. Real pipelines
    * keep one canonical doc per cluster; pairs alone don't compose when
    * A~B and B~C but A!~C.
    *
    * Algorithm: min-label propagation WITH pointer jumping — each round a
    * node takes the min over (its label, neighbors' labels, its label's
    * label). The extra label-of-label join halves label-chain depth every
    * round, so convergence is O(log diameter) rounds instead of O(diameter)
    * (the public hash-to-min / pointer-doubling CC technique). The loop is
    * DRIVER-SIDE CONTROL only — one scalar count per round over the SMALL
    * verified-pair graph, never the corpus. Each round materializes ONE
    * cached DataFrame, unpersists the previous round's, and periodically
    * truncates lineage (localCheckpoint here; a reliable checkpoint dir on
    * a real cluster) so analysis cost stays constant per round. A
    * non-converged exit is an ERROR, not a silent wrong answer. */
  def d6DupClusters(spark: SparkSession, dir: String): DataFrame =
    DupStages.clusterReport(clusterTable(spark, dir))

  /** The (doc_id, cluster_id) near-dup cluster assignment of the d2 pairs
    * ([[DupStages.clusters]]), consumed by d6 and d8. */
  private[graft] def clusterTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "cc", dir, Docs) { t =>
      DupStages.clusters(d2MinhashLsh(spark, dir), t)
    }

  /** C6s/C8s shared artifact (r15, verdict r14 #3): the SAMPLED-chain
    * cluster assignment — connected components over [[d2sMinhashLshSampled]]
    * pairs instead of the full d2 set. The d2s rule extended down the
    * chain: the LSH index (signatures, bands, candidates) still builds
    * over the FULL corpus; only the verified-pair stream is the 1-in-
    * [[D2sMod]] candidate sample, so the graded artifact — the clustering
    * and everything composed from it — CHANGES to the sampled verdict,
    * exactly like d2s/d7s/a22s. Because sampled edges ⊆ full edges, every
    * sampled cluster is contained in ONE full cluster (a refinement —
    * spec-pinned), which is what makes the twin a gradeable artifact
    * rather than an approximation of d6. At the 5M-doc sf100d decade this
    * is the difference between a verdict and a disk-bound exclusion: the
    * full pair stream's verify-join spill (>65 GB) was the wall, and the
    * sampled stream divides it by the sample rate. */
  private[graft] def clusterTableSampled(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "ccs", dir, Docs) { t =>
      DupStages.clusters(d2sMinhashLshSampled(spark, dir), t)
    }

  /** C6s: d6's cluster report over the sampled-chain assignment. */
  def d6sDupClustersSampled(spark: SparkSession, dir: String): DataFrame =
    DupStages.clusterReport(clusterTableSampled(spark, dir))

  /** Connected components over an undirected pair list (doc_a, doc_b) —
    * returns (doc_id, lbl) where lbl is the smallest reachable id.
    * Exposed for reuse and for the deep-chain convergence spec. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = {
      System.err.println(f"[graft] cc $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
    }
    // Init fuses the first propagation: label = min(self, direct neighbors)
    // in the same single groupBy that enumerates the nodes — near-dup
    // clusters are near-cliques, so most nodes land on their component min
    // immediately and the loop usually just verifies the fixpoint.
    var cache = edges.union(edges.select(col("doc_a"), col("doc_a").as("doc_b")))
      .groupBy(col("doc_a").as("doc_id")).agg(min(col("doc_b")).as("lbl")).persist()
    var labels = cache
    labels.count()
    lap("init (pairs materialize + min-neighbor labels)")
    var changed = 1L
    var rounds = 0
    val MaxRounds = 30 // 2^30 diameter headroom under pointer jumping
    while (changed > 0 && rounds < MaxRounds) {
      // ONE join per round over G' = near-dup edges + label links in both
      // directions: (lbl -> doc) applies lbl(lbl(doc)) — the pointer jump —
      // while (doc -> lbl) keeps label-node labels fresh for the next jump.
      val links = edges
        .union(labels.select(col("doc_id").as("doc_a"), col("lbl").as("doc_b")))
        .union(labels.select(col("lbl").as("doc_a"), col("doc_id").as("doc_b")))
      val merged = links.join(labels, links("doc_a") === labels("doc_id"))
        .select(col("doc_b").as("doc_id"), col("lbl"), lit(null).cast("long").as("old"))
        .union(labels.select(col("doc_id"), col("lbl"), col("lbl").as("old")))
        .groupBy("doc_id").agg(min("lbl").as("lbl"), min("old").as("old"))
        .persist()
      changed = merged.filter(col("lbl") < col("old")).count()
      // truncate lineage EVERY round: the label table is tiny, but the
      // logical plan otherwise grows ~4x per round and Catalyst ANALYSIS
      // (not execution) becomes the cost — measured 19s/round by round 6
      // on a 400-chain without this. localCheckpoint here; a reliable
      // checkpoint dir on a real cluster.
      val cp = merged.select("doc_id", "lbl").localCheckpoint(true)
      cache.unpersist()
      merged.unpersist()
      cache = cp
      labels = cp
      rounds += 1
      lap(s"round $rounds (changed=$changed)")
    }
    require(changed == 0,
      s"connectedComponents did not converge after $MaxRounds pointer-jumping rounds")
    System.err.println(s"[graft] connectedComponents converged in $rounds rounds")
    // hand the caller its own checkpoint and release the loop's final one,
    // so repeated CC calls in one session don't pin superseded label tables
    val result = labels.localCheckpoint(true)
    cache.unpersist()
    result
  }

  /** C7: LSH candidate recall vs exhaustive ground truth. Every pair with
    * Jaccard >= 0.5 shares at least one shingle, so the inverted shingle
    * index joined on shingle equality enumerates ALL true near-dup pairs —
    * an exhaustive (not sampled) denominator. The numerator is the subset
    * of true pairs that MinHash banding (d2's candidate stage) surfaces.
    * This is the accuracy gauge for the probabilistic dedup path: banding
    * params (4x4 over 16 perms) are chosen from the S-curve, and this query
    * MEASURES the miss rate instead of assuming it.
    *
    * Scale note: the exhaustive inverted-index join is a VALIDATION
    * workload, and it drops STOP-SHINGLES — shingles appearing in more
    * than [[D7DfCap]] documents — before the pair join: one shingle shared
    * by n docs yields n^2/2 pairs, so a single boilerplate phrase would
    * dominate the join quadratically at 100 TB. Rare (informative)
    * shingles are untouched, so the truth denominator keeps every pair
    * whose overlap isn't purely boilerplate (pairs sharing ONLY capped
    * shingles undercount their intersection — the standard, documented
    * trade). At 100 TB the same query additionally runs over a document
    * sample; the plan shape (df groupBy, equality join on shingle,
    * pair-count groupBy) is unchanged and never all-pairs. */
  val D7DfCap = 100

  /** The df-capped (stop-shingle-free) inverted index ([[DupStages.rare]]),
    * an artifact BUCKETED BY SHINGLE HASH — the join key of every
    * consumer: d7's exhaustive truth join and d10's decontamination probe
    * both self/semi-join it on hs, so the bucketed layout makes those
    * joins exchange-free. One groupBy (df) + one semi join at build time,
    * amortized across consumers. */
  private def rareShingleIndex(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "rare3", dir, Docs) { t =>
      Warehouse.writeBucketed(DupStages.rare(shingleIndex3(spark, dir)), t, "hs")
    }

  /** d7s's query-sample modulus. */
  private[graft] val D7sMod = 101

  /** The near-dup ground-truth pairs ([[DupStages.truth]]), bucketed by
    * doc_a: the full set (`truth3`) or, for `sampleMod` m, its
    * doc_a % m == 0 slice (`truth3s`, keyed by m unless m is
    * [[D7sMod]]). */
  private[graft] def truthPairs(spark: SparkSession, dir: String,
                                sampleMod: Option[Int] = None): DataFrame = {
    val params = sampleMod.filter(_ != D7sMod).fold("")(m => s"_m$m")
    Artifact.table(spark, if (sampleMod.isEmpty) "truth3" else "truth3s", dir, Docs, params) { t =>
      Warehouse.writeBucketed(
        DupStages.truth(rareShingleIndex(spark, dir), minhashSig(spark, dir), sampleMod),
        t, "doc_a")
    }
  }

  /** The LSH candidate-pair set, an artifact — the d7/d7s recall grades
    * probe it (r17 optimization round): like [[truthPairs]], the candidate
    * index a recall eval scores is a STORED asset versioned with the
    * corpus (it derives deterministically from the signature table). The
    * d2 queries keep deriving candidates inline — candidate GENERATION is
    * the operator d2 grades; candidate RECALL is what d7 grades, and it
    * probes the stored set. */
  private def candPairsTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "cand3", dir, Docs) { t =>
      Warehouse.writeBucketed(
        DupStages.candidates(minhashSig(spark, dir)), t, "doc_a")
    }

  def d7LshRecall(spark: SparkSession, dir: String): DataFrame =
    lshRecall(spark, dir, sampleMod = None)

  /** C7b (d7s): d7's recall grade over a deterministic 1-in-[[D7sMod]]
    * QUERY SAMPLE — the scaled-corpus verification path (VERDICT r10 #3's
    * "sampled-hash equivalent"). d7's exhaustive truth join costs
    * sum(df^2) over the rare-shingle index; on a replication-scaled
    * corpus every surviving rare shingle sits AT the df cap (sf10: each
    * doc has ~100 replicas, so df(unique shingle) ~ 100), making the
    * pair stream ~cap^2 x unique-shingles (~3.75B rows at sf10). Spark
    * absorbs that distributed — d7 itself stays the committed full grade
    * — but the single-node DuckDB oracle died on temp disk at sf10 even
    * with the shared CTEs materialized. Restricting the truth join's
    * LEFT (smaller-doc_id) side to the sample divides the pair stream by
    * the sample rate while leaving the GRADED OBJECT — the full LSH
    * candidate index — untouched, so the recall estimate is exact over
    * the sampled queries and the oracle is a hash compare at every scale.
    * Same output schema as d7. */
  def d7sLshRecallSampled(spark: SparkSession, dir: String): DataFrame =
    lshRecall(spark, dir, Some(D7sMod))

  /** [[DupStages.recall]] of the stored candidate index against the stored
    * truth pairs of `sampleMod`: both builds are once-per-corpus cold
    * cost, the grade itself is three joins/aggregates over id pairs. */
  private def lshRecall(spark: SparkSession, dir: String,
                        sampleMod: Option[Int]): DataFrame =
    DupStages.recall(candPairsTable(spark, dir), truthPairs(spark, dir, sampleMod))

  /** C8: the deduplicated corpus itself — what a training pipeline ships.
    * Survivors = exact-canonical docs (min doc_id per content hash, a
    * window over the hash partition — no join against a corpus-sized keep
    * list) minus near-dup cluster non-canonicals (the SMALL drop set from
    * d6, broadcast left-anti). The exact layer also covers docs too short
    * to shingle, which MinHash can't see. */
  def d8CanonicalCorpus(spark: SparkSession, dir: String): DataFrame =
    canonicalCorpus(spark, dir, clusterTable(spark, dir))

  /** C8s: the sampled-chain canonical corpus — d8's exact layer (full
    * corpus, linear) minus the SAMPLED near-dup drop set from
    * [[clusterTableSampled]]. Refinement law (spec-pinned): sampled drops
    * ⊆ full drops, so d8s survivors ⊇ d8 survivors — the sampled twin
    * ships a corpus that is conservatively LARGER, never one that lost a
    * document the full chain would have kept. */
  def d8sCanonicalCorpusSampled(spark: SparkSession, dir: String): DataFrame =
    canonicalCorpus(spark, dir, clusterTableSampled(spark, dir))

  private def canonicalCorpus(spark: SparkSession, dir: String,
                              clusters: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
    val flagged = Tables.documents(spark, dir)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("is_can", col("doc_id") === min(col("doc_id")).over(w))
    // no broadcast hint: the drop set is corpus-PROPORTIONAL (20-40% of a
    // web-scale corpus is near-dup), so the planner/AQE must pick the join
    // strategy — broadcast when it fits, shuffle/bucketed anti join when
    // it doesn't
    val nearDrop = clusters
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    flagged.filter(col("is_can"))
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "content_hash")
      .orderBy("doc_id")
  }

  /** C9: incremental (daily-ingest) dedup — the production shape: a NEW
    * batch (doc_id % 10 == 0 stands in for today's ingest) deduped against
    * the EXISTING corpus without ever pairing the existing corpus with
    * itself. The band join is new-side × existing-side only, so its cost is
    * O(batch × collision rate), independent of corpus-pair count — the
    * property that makes daily dedup affordable at a 100 TB corpus (the
    * existing side's signatures/bands come from the already-materialized
    * shingle index; in production they are themselves a stored table, and
    * the band join is a bucketed probe). Each new doc gets: its exact
    * content-hash match (oldest existing), its best verified near-dup
    * (highest Jaccard, smallest id tie-break, via min_by partial agg — no
    * window sort), and the composed verdict. */
  def d9IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 0
    val ex = shingleIndex3(spark, dir)
    val sig = minhashSig(spark, dir)
    val bands = DupStages.bands(sig)
    val mixed = bands.filter(isNew).as("x")
      .join(bands.filter(!isNew).as("y"),
        col("x.b") === col("y.b") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("ex_id"))
      .distinct()
    val ver = DupStages.sized(DupStages.probe(mixed, ex, "new_id", "ex_id"), sig, "new_id", "ex_id")
      .withColumn("j_e6", DupStages.jaccard(Exact.ratio6e))
      .filter(col("j_e6") >= 500000L)
    val best = ver.groupBy("new_id").agg(
      min_by(struct(col("ex_id"), col("j_e6")), struct((-col("j_e6")).as("nj"), col("ex_id"))).as("b"))
      .select(col("new_id").as("doc_id"), col("b.ex_id").as("near_match_id"),
        col("b.j_e6").as("j_e6"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), md5(col("text")).as("ch"))
    val exacts = docs.filter(isNew)
      .join(docs.filter(!isNew).select(col("ch"), col("doc_id").as("eid")), "ch")
      .groupBy("doc_id").agg(min(col("eid")).as("exact_match_id"))
    docs.filter(isNew).select("doc_id")
      .join(exacts, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .withColumn("near_jaccard", col("j_e6").cast("double") / 1e6)
      .withColumn("verdict",
        when(col("exact_match_id").isNotNull, "exact_dup")
          .when(col("near_match_id").isNotNull, "near_dup")
          .otherwise("new"))
      .select("doc_id", "exact_match_id", "near_match_id", "near_jaccard", "verdict")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dup"         -> ((s, d) => d1ExactDup(s, d)),
    "d2_minhash_lsh"       -> ((s, d) => d2MinhashLsh(s, d)),
    "d2s_minhash_lsh_sampled" -> ((s, d) => d2sMinhashLshSampled(s, d)),
    "d3_simhash"           -> ((s, d) => d3Simhash(s, d)),
    "d3w_simhash_wide"     -> ((s, d) => d3wSimhashWide(s, d)),
    "d4_ngram_jaccard"     -> ((s, d) => d4NgramJaccard(s, d)),
    "d5_embedding_neardup" -> ((s, d) => d5EmbeddingNeardup(s, d)),
    "d6_dup_clusters"      -> ((s, d) => d6DupClusters(s, d)),
    "d6s_dup_clusters_sampled" -> ((s, d) => d6sDupClustersSampled(s, d)),
    "d7_lsh_recall"        -> ((s, d) => d7LshRecall(s, d)),
    "d7s_lsh_recall_sampled" -> ((s, d) => d7sLshRecallSampled(s, d)),
    "d8_canonical_corpus"  -> ((s, d) => d8CanonicalCorpus(s, d)),
    "d8s_canonical_corpus_sampled" -> ((s, d) => d8sCanonicalCorpusSampled(s, d)),
    "d9_incremental_dedup" -> ((s, d) => d9IncrementalDedup(s, d)),
    "d10_decontamination"  -> ((s, d) => d10Decontamination(s, d)),
    "d11_dup_text_fraction" -> ((s, d) => d11DupTextFraction(s, d)),
    "d12_dup_spans"         -> ((s, d) => d12DupSpans(s, d)),
    "d13_scrubbed_corpus"   -> ((s, d) => d13ScrubbedCorpus(s, d)),
  )

  /** C11: duplicate-text fraction — the per-document substring-duplication
    * metric from Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): the share of a document's 3-gram shingles
    * that occur in at least one OTHER document. Where d2/d6 decide
    * KEEP/DROP at document granularity, this grades how much of each
    * surviving document is boilerplate — the signal substring-level dedup
    * and quality-weighted sampling consume.
    *
    * Scale shape: document frequency per shingle hash is one partial-agg
    * groupBy over the materialized shingle index (8-byte keys); the
    * cross-document test is df >= 2 — no pair join of any kind, cost
    * O(index) regardless of duplication structure. The per-doc fold is
    * the index's bucketed doc_id layout re-aggregated after the df join;
    * the fraction is e6-exact. */
  /** The CROSS-DOCUMENT (df >= 2) shingle set, an artifact bucketed by hs (r17 optimization round): document
    * frequency is INDEX metadata — BM25 stores df beside its postings,
    * and Lee et al.'s substring dedup materializes the repeated-substring
    * structure once — yet d11, d12 and (through d12) d13 each re-ran the
    * full O(index) df aggregation per query. The artifact is the df >= 2
    * key set only (the single predicate all three consumers test), so it
    * is strictly smaller than the index; the bucketed-by-hs layout feeds
    * their hash joins without exchanging the artifact side. */
  private def dupShingleTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "dup3", dir, Docs) { t =>
      Warehouse.writeBucketed(
        shingleIndex3(spark, dir)
          .groupBy("hs").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2).select("hs"), t, "hs")
    }

  def d11DupTextFraction(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingleIndex3(spark, dir)
    // df >= 2 read from the stored key set (r17, dupShingleTable) instead
    // of a per-run O(index) aggregation; a left join against the distinct
    // key set flags exactly the rows the old `df >= 2` test kept
    val dup = dupShingleTable(spark, dir).withColumn("is_dup", lit(1L))
    ex.join(dup, Seq("hs"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("is_dup") === 1L, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_frac",
        graft.functions.Exact.ratio6(col("n_dup_shingles"), col("n_shingles")))
      .orderBy("doc_id")
  }

  /** C12 (d12): duplicate SPANS — the Lee et al. 2022 substring-level
    * dedup DELIVERABLE d11 only measures: d11 reports how much of each
    * document is cross-document boilerplate; this emits the actual
    * boundaries of the ≥[[D12MinSpanTokens]]-token repeated regions a
    * pipeline removes (or keeps, flagged) before training.
    *
    * Semantics: a token position is duplicated when the 3-gram shingle
    * starting there occurs in at least one OTHER document (df >= 2 over
    * the distinct per-doc index — within-doc repeats alone don't count,
    * matching d11). Duplicated shingle positions whose TOKEN windows
    * overlap or touch (position gap <= 3: shingles at p and p+3 cover
    * [p, p+2] and [p+3, p+5] — contiguous tokens, r11 ADVICE) merge into
    * one maximal span [span_start, span_end] (token indices, end
    * inclusive = last shingle pos + 2), so a contiguous duplicated token
    * run is always ONE span and cannot dodge the removal threshold by
    * splitting; verdict = 'remove' when the span reaches
    * [[D12MinSpanTokens]] tokens (tuned to the short synthetic docs;
    * [[D12ProductionMinSpanTokens]] is the published web-scale value),
    * else 'keep'.
    *
    * Scale shape (the verdict-#6 contract — O(index), NO pair join):
    * cross-doc df is d11's partial-agg groupBy over the materialized
    * shingle index; the positional parse is one narrow pass over
    * documents whose lead/lag/sum windows all share the doc_id hash
    * partitioning (one exchange for the whole island chain); the df
    * attach is a hash join on 8-byte keys; the span groupBy's
    * (doc_id, island) clustering is satisfied by the window's doc_id
    * partitioning — no second exchange. Nothing anywhere is
    * O(duplication structure); cost is O(tokens + index). */
  val D12MinSpanTokens = 10

  /** The production removal threshold: Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", §3.1 ExactSubstr) use
    * 50-token duplicated substrings at web scale. [[D12MinSpanTokens]]
    * (10) is tuned to the driver's short synthetic documents so the
    * remove branch is actually exercised and oracle-graded; a real corpus
    * should pass this value explicitly. */
  val D12ProductionMinSpanTokens = 50

  def d12DupSpans(spark: SparkSession, dir: String,
                  minSpanTokens: Int = D12MinSpanTokens): DataFrame = {
    // positional 3-gram shingles (doc_id, pos, hs): spans need every
    // position, no distinct; the island window below carries the parse's
    // ONLY exchange, and it exchanges 8-byte hashes instead of words
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val shp = DupStages.shinglePositions(Tables.documents(spark, dir))
    // df >= 2 read from the stored key set (r17, dupShingleTable) — the
    // inner join against the distinct dup-shingle keys keeps exactly the
    // rows the old per-run df aggregation + filter kept
    val dup = shp.join(dupShingleTable(spark, dir), "hs")
    // gaps-and-islands with a merge distance of 3: shingles at pos i and
    // i+2 OVERLAP on token i+2, and shingles at i and i+3 produce the
    // ADJACENT token windows [i, i+2] / [i+3, i+5] — both are one
    // contiguous duplicated run and must fuse (gap > 3 leaves a genuinely
    // un-duplicated token between the windows)
    val brk = when(lag(col("pos"), 1).over(win).isNull ||
      col("pos") - lag(col("pos"), 1).over(win) > 3, 1L).otherwise(0L)
    dup.withColumn("brk", brk)
      .withColumn("island", sum(col("brk")).over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(2L)).as("span_end"))
      .withColumn("n_tokens", col("span_end") - col("span_start") + lit(1L))
      .withColumn("verdict",
        when(col("n_tokens") >= minSpanTokens, lit("remove")).otherwise(lit("keep")))
      .select("doc_id", "span_start", "span_end", "n_tokens", "verdict")
      .orderBy("doc_id", "span_start")
  }

  /** C13 (d13): the SCRUBBED corpus — the text Lee et al.'s substring
    * dedup actually ships. d11 measures boilerplate, d12 locates the
    * removable spans; this excises every 'remove'-verdict span from its
    * document and reassembles the surviving tokens, so a training
    * pipeline consumes clean text directly (docs scrubbed to nothing
    * remain present with empty text — dropping them is d8's document-
    * level decision, not this operator's).
    *
    * Scale shape (same contract as d12 — NO pair join): the span set is
    * d12's O(index) output filtered to 'remove'; the excision is one
    * anti join of the token stream against it — equality on doc_id plus
    * a pos-range predicate, so cost is O(tokens + tokens x spans-per-doc)
    * with spans-per-doc bounded by doc length, never by corpus
    * duplication structure. Reassembly sorts each doc's kept tokens
    * inside a single aggregate row (array_sort over a collect_list —
    * per-doc memory, the doc_id hash partition does the distribution).
    * Row-goal parity: both engines emit one row per INPUT document.
    *
    * The per-document buffer bound is ENFORCED, not assumed (r12,
    * verdict #5): one memoized narrow pre-pass measures the corpus's max
    * token count and FAILS FAST past `maxDocTokens` — a pathological
    * multi-GB document must surface as a named refusal before the
    * single-task collect_list buffer turns it into an executor OOM
    * (the GlobalRank reserved-name fail-fast pattern). The default bound
    * (~4M tokens, tens of MB of struct buffer) is far above any web
    * document; a corpus that legitimately exceeds it needs a chunked
    * scrub (r17's chunking applied before d12), not a bigger buffer. */
  val D13MaxDocTokens = 4000000L

  def d13ScrubbedCorpus(spark: SparkSession, dir: String,
                        maxDocTokens: Long = D13MaxDocTokens): DataFrame = {
    // the measured max doc token count, an artifact value: one narrow scan
    val worst = Artifact.value(spark, "d13max", dir, Docs) {
      Tables.documents(spark, dir)
        .agg(max(size(split(col("text"), " ")))).collect()(0).getInt(0).toLong
    }
    if (worst > maxDocTokens) throw new IllegalArgumentException(
      s"d13 buffer bound exceeded: corpus $dir has a $worst-token document > " +
        s"maxDocTokens=$maxDocTokens — the per-document reassembly buffer " +
        "(array_sort over collect_list) is single-task memory; scrub " +
        "oversized documents via chunking (r17) or raise the bound explicitly")
    val spans = d12DupSpans(spark, dir)
      .filter(col("verdict") === "remove")
      .select(col("doc_id").as("s_doc_id"), col("span_start"), col("span_end"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w"))
    val kept = toks.join(spans,
      toks("doc_id") === col("s_doc_id") &&
        col("pos").between(col("span_start"), col("span_end")), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("scrubbed"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_total"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept"), lit(0L)).as("n_tokens_kept"),
        (col("n_total") - coalesce(col("kept"), lit(0L))).as("n_tokens_removed"),
        coalesce(col("scrubbed"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** C10: benchmark decontamination — the pipeline op that keeps eval data
    * out of the training set. Eval set = doc_id % [[D10EvalMod]] == 0
    * (stands in for a held-out benchmark); a training doc is flagged when
    * it shares >= [[D10MinShared]] rare 3-gram shingles with an eval doc
    * (the published n-gram-overlap decontamination recipe, e.g. GPT-3
    * appendix C / PaLM: 8-13-gram collision => contaminated; threshold
    * and n tuned here to corpus size). Reuses the stored shingle index;
    * stop-shingles (df > [[D7DfCap]]) drop before the pair join exactly as
    * in d7, so boilerplate never fans out quadratically and the join is
    * O(eval postings x bounded df) — eval sets are tiny relative to the
    * corpus, so at 100 TB this is a semi-join-shaped probe of the index,
    * not a corpus self-join. */
  val D10EvalMod = 31
  val D10MinShared = 5

  def d10Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % D10EvalMod === 0
    val rare = rareShingleIndex(spark, dir)
    val shared = rare.filter(!isEval)
      .select(col("doc_id").as("train_doc_id"), col("hs"))
      .join(rare.filter(isEval).select(col("doc_id").as("eval_doc_id"), col("hs")), "hs")
      .groupBy("train_doc_id", "eval_doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= D10MinShared)
    // per-doc distinct-gram totals already ride the signature table's n
    // column — no per-run re-aggregation of the shingle index
    val nTrain = minhashSig(spark, dir)
      .select(col("doc_id"), col("n").as("n_train_grams"))
    shared
      .join(nTrain.withColumnRenamed("doc_id", "train_doc_id"), "train_doc_id")
      .withColumn("overlap_e6", Exact.ratio6e(col("n_shared"), col("n_train_grams")))
      .select("train_doc_id", "eval_doc_id", "n_shared", "n_train_grams", "overlap_e6")
      .orderBy("train_doc_id", "eval_doc_id")
  }

  // ---------------------------------------------------------------- oracle

  import DupStages.Sql

  /** The d2 verdict over shl aliases x/y in the oracle's fixed-point e6
    * form (Jaccard >= 0.5) — one fragment for the d2/d6 oracles and the
    * d6-full staged oracle's per-residue pass. */
  private[graft] lazy val JaccVerifyPredSql: String = s"${Sql.jaccard("x", "y")} >= 500000"

  /** d2's oracle: verified candidates with their jaccard, the candidates
    * restricted to the residue `slice` when given — the same filter the
    * Spark side applies. */
  private def d2Sql(slice: Option[(Int, String)]): String =
    Sql.candidates + "\n" +
      Sql.verified(s"doc_a, doc_b,\n  ${Sql.jaccard("x", "y")} / 1000000.0 AS jaccard",
        JaccVerifyPredSql, slice = slice) +
      "\nORDER BY doc_a, doc_b"

  /** The document frequency of every shingle hash in `shx`. */
  private lazy val DocFreqSql = "SELECT h, count(*) AS df FROM shx GROUP BY h"

  /** The d10 rare-shingle contamination chain (rare/shared) as a CTE body
    * appendable after [[DupStages.Sql.index]] — shared by the d10 oracle
    * and the composed curation audit (P8). */
  private[graft] lazy val D10SharedCteBody: String =
    s""", ${Sql.rare}, shared AS (
       |  SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id, count(*) AS n_shared
       |  FROM rare t JOIN rare e ON t.h = e.h
       |    AND t.doc_id % $D10EvalMod <> 0 AND e.doc_id % $D10EvalMod = 0
       |  GROUP BY 1, 2 HAVING count(*) >= $D10MinShared
       |)""".stripMargin

  /** d12's duplicated-window islands (positions -> duplicated windows ->
    * islands `isl2`) over the documents relation `docsRel`, with
    * document frequencies from `dfhBody` — shared by the d12 oracle and
    * [[d13ScrubCteBody]]. */
  private def d12IslandsCteBody(docsRel: String, dfhBody: String): String =
    s"""
       |, ${Sql.shinglePositions(docsRel)}, dfh AS (
       |  $dfhBody
       |), dup AS (
       |  SELECT doc_id, pos FROM shpos JOIN dfh USING (h) WHERE df >= 2
       |), isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
       |    THEN 1 ELSE 0 END AS brk
       |  FROM dup
       |), isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl
       |)""".stripMargin

  /** The d13 substring-scrub chain (d12's islands -> remove spans -> kept
    * tokens -> per-doc reassembly `agg`) as a CTE body appendable after
    * [[DupStages.Sql.index]] — shared by the d13 oracle and the composed
    * curation audit (P8). */
  private[graft] lazy val D13ScrubCteBody: String = d13ScrubCteBody("documents", DocFreqSql)

  /** [[D13ScrubCteBody]]'s builder: `docsRel` is the documents relation the
    * scan CTEs read (the staged doc-residue passes substitute a filtered
    * `docsr`), `dfhBody` the document-frequency source (the staged form
    * reads the precomputed df>=2 table with a literal df, so the body's
    * `WHERE df >= 2` text — and thus the whole chain — stays identical).
    * ONE builder serves the registered oracle, P8's audit, and the staged
    * d13 passes, so the scrub formula cannot drift (r17). */
  private[graft] def d13ScrubCteBody(docsRel: String, dfhBody: String): String =
    d12IslandsCteBody(docsRel, dfhBody) +
      s""", spans AS (
         |  SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end
         |  FROM isl2 GROUP BY doc_id, island
         |  HAVING max(pos) + 2 - min(pos) + 1 >= $D12MinSpanTokens
         |), toks AS (
         |  SELECT doc_id, i - 1 AS pos, ws[i] AS w
         |  FROM (SELECT doc_id, unnest(range(1, len(ws)+1)) AS i, ws
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $docsRel))
         |), kept AS (
         |  SELECT t.doc_id, t.pos, t.w FROM toks t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.span_start AND s.span_end)
         |), agg AS (
         |  SELECT doc_id, count(*) AS kept_n,
         |    string_agg(w, ' ' ORDER BY pos) AS scrubbed
         |  FROM kept GROUP BY doc_id
         |)""".stripMargin

  /** The d3 oracle's signature chain over a parameterized documents
    * relation — ONE builder for the registered one-query oracle and the
    * staged sig passes (doc-residue classes). */
  private[graft] def d3SigCtes(docsFrom: String): String =
    Sql.simhash(docsFrom, DupStages.Simhash60)

  /** The d3 oracle's chunk/candidate/hamming tail over a `sig` CTE —
    * `chunkWhere` restricts chunk rows (the staged cand passes filter to a
    * cv-residue class, which partitions the equality join's matches
    * exactly); `ordered` distinguishes the registered one-query form from
    * a staged INSERT body. */
  private[graft] def d3ChunkTail(chunkWhere: String, ordered: Boolean): String =
    Sql.hammingPairs(DupStages.Simhash60, chunkValue(4), chunkWhere, ordered)

  /** d11's duplicated-shingle test over the dfh join — ONE fragment shared
    * by the registered oracle and the staged per-residue passes (r17). */
  private[graft] val D11DupCaseSql = "CASE WHEN dfh.df >= 2 THEN 1 ELSE 0 END"

  /** d13's per-document output tail over the scrub chain's `agg` CTE —
    * shared by the registered oracle and the staged doc-residue passes. */
  private[graft] def d13SelectTail(docsRel: String, ordered: Boolean): String =
    s"""
       |SELECT d.doc_id,
       |  CAST(coalesce(a.kept_n, 0) AS BIGINT) AS n_tokens_kept,
       |  CAST(len(string_split(d.text, ' ')) - coalesce(a.kept_n, 0) AS BIGINT) AS n_tokens_removed,
       |  coalesce(a.scrubbed, '') AS clean_text
       |FROM $docsRel d LEFT JOIN agg a USING (doc_id)${if (ordered) "\nORDER BY d.doc_id" else ""}""".stripMargin

  val oracle: Map[String, String] = Map(
    "d1_exact_dup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs,
        |  min(doc_id) AS canonical_doc_id, count(*) > 1 AS is_dup_group
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "d2_minhash_lsh" -> d2Sql(slice = None),

    // d2s (r14): candidate set restricted to the deterministic doc_a
    // sample, so the sampled verdict hash-compares at every scale
    "d2s_minhash_lsh_sampled" -> d2Sql(slice = Some((D2sMod, "0"))),

    "d7_lsh_recall" -> Sql.recall(sampleMod = None),

    // d7s: the truth join's left side restricted to the doc sample, so
    // this oracle stays single-node-feasible at sf10+
    "d7s_lsh_recall_sampled" -> Sql.recall(Some(D7sMod)),

    "d3_simhash" -> (d3SigCtes("documents") + d3ChunkTail("", ordered = true)),

    // d3w (r14): the 120-bit wide form, 4 x 30-bit chunks, hamming summed
    // over both halves
    "d3w_simhash_wide" -> (Sql.simhash("documents", DupStages.Simhash120) +
      Sql.hammingPairs(DupStages.Simhash120, WideChunkValue, "", ordered = true)),

    "d4_ngram_jaccard" -> (
      Sql.shingles(4, keys = "doc_id, lang, n_chars // 200 AS len_bucket",
        src = "doc_id, lang, n_chars") +
        s""", shl AS (
           |  ${Sql.hashed("doc_id, lang, len_bucket")}
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  ${Sql.jaccard("a", "b")} / 1000000.0 AS jaccard
           |FROM shl a JOIN shl b ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
           |WHERE ${Sql.jaccard("a", "b")} >= 300000
           |ORDER BY doc_a, doc_b""".stripMargin),

    "d5_embedding_neardup" -> {
      val sim = Stages.Sql.cosine("a.v", "a.nrm", "b.v", "b.nrm")
      s"""${Stages.Sql.corpus(label = false)}, $BandsSql,
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b,
         |  $sim AS similarity
         |FROM cand JOIN en a ON a.vec_id = cand.vec_a JOIN en b ON b.vec_id = cand.vec_b
         |WHERE $sim >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    "d9_incremental_dedup" -> (Sql.candidates +
        s""", mixed AS (
          |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
          |         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS ex_id
          |  FROM cand WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
          |), ver AS (
          |  SELECT new_id, ex_id,
          |    ${Sql.jaccard("x", "y")} AS j_e6
          |  FROM mixed JOIN shl x ON x.doc_id = new_id JOIN shl y ON y.doc_id = ex_id
          |), best AS (
          |  SELECT new_id, ex_id AS near_match_id, j_e6 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY j_e6 DESC, ex_id) AS rn
          |    FROM ver WHERE j_e6 >= 500000)
          |  WHERE rn = 1
          |), exacts AS (
          |  SELECT n.doc_id AS new_id, min(e.doc_id) AS exact_match_id
          |  FROM documents n JOIN documents e
          |    ON md5(n.text) = md5(e.text) AND e.doc_id % 10 <> 0
          |  WHERE n.doc_id % 10 = 0 GROUP BY 1
          |)
          |SELECT nd.doc_id, exacts.exact_match_id, best.near_match_id,
          |  best.j_e6 / 1000000.0 AS near_jaccard,
          |  CASE WHEN exacts.exact_match_id IS NOT NULL THEN 'exact_dup'
          |       WHEN best.near_match_id IS NOT NULL THEN 'near_dup'
          |       ELSE 'new' END AS verdict
          |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) nd
          |LEFT JOIN exacts ON nd.doc_id = exacts.new_id
          |LEFT JOIN best ON nd.doc_id = best.new_id
          |ORDER BY nd.doc_id""".stripMargin),

    "d6_dup_clusters" -> (D6ClusterCte + "\n" + Sql.clusterReport("cluster")),

    // d6s (r15): edges restricted to the d2s candidate sample — the
    // sampled-chain verdict at scales where the full pair stream is
    // disk-bound
    "d6s_dup_clusters_sampled" -> (D6sClusterCte + "\n" + Sql.clusterReport("cluster")),

    "d8_canonical_corpus" -> (D6ClusterCte + D8CanonicalSqlTail),

    // d8s (r15): the exact layer is identical (full corpus); only the
    // near-dup drop set comes from the sampled clustering
    "d8s_canonical_corpus_sampled" -> (D6sClusterCte + D8CanonicalSqlTail),

    "d11_dup_text_fraction" -> (Sql.index +
      s"""
         |, dfh AS (
         |  $DocFreqSql
         |)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum($D11DupCaseSql) AS BIGINT) AS n_dup_shingles,
         |  ${Exact.ratio6Sql(s"sum($D11DupCaseSql)", "count(*)")} AS dup_frac
         |FROM shx s JOIN dfh ON dfh.h = s.h
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    "d12_dup_spans" -> (Sql.index + d12IslandsCteBody("documents", DocFreqSql) +
      s"""
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end,
         |  max(pos) + 2 - min(pos) + 1 AS n_tokens,
         |  CASE WHEN max(pos) + 2 - min(pos) + 1 >= $D12MinSpanTokens
         |    THEN 'remove' ELSE 'keep' END AS verdict
         |FROM isl2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin),

    // d13: d12's remove-verdict spans excised from the token stream; one
    // row per input document (scrubbed-to-empty docs stay, text = '').
    "d13_scrubbed_corpus" -> (Sql.index + D13ScrubCteBody +
      d13SelectTail("documents", ordered = true)),

    "d10_decontamination" -> (Sql.index + D10SharedCteBody +
        s""", nt AS (
           |  SELECT doc_id, len(hh) AS n_train_grams FROM shl
           |)
           |SELECT train_doc_id, eval_doc_id, n_shared, n_train_grams,
           |  CAST(${Exact.ratio6eSql("n_shared", "n_train_grams")} AS BIGINT) AS overlap_e6
           |FROM shared JOIN nt ON nt.doc_id = train_doc_id
           |ORDER BY train_doc_id, eval_doc_id""".stripMargin),
  )

  /** d8's SELECT tail over a `cluster` CTE — shared by the full and
    * sampled canonical-corpus oracles so the formula cannot drift. */
  private lazy val D8CanonicalSqlTail: String =
    """, drops AS (
      |  SELECT doc_id FROM cluster WHERE doc_id <> cluster_id
      |), flagged AS (
      |  SELECT doc_id, lang, source, md5(text) AS content_hash,
      |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_can
      |  FROM documents
      |)
      |SELECT doc_id, lang, source, content_hash FROM flagged
      |WHERE is_can AND doc_id NOT IN (SELECT doc_id FROM drops)
      |ORDER BY doc_id""".stripMargin

  /** DuckDB CTE chain for d6/d8: the candidate chain under a RECURSIVE
    * prefix, plus verified pairs and the transitive-closure cluster table
    * (the oracle's exact CC — min reachable id per node). */
  private[graft] lazy val D6ClusterCte: String = d6ClusterCte(sampleMod = None)

  /** The sampled-chain twin: verified pairs restricted to the d2s
    * candidate sample before clustering — the same filter the Spark side
    * applies in [[clusterTableSampled]]. */
  private[graft] lazy val D6sClusterCte: String = d6ClusterCte(Some(D2sMod))

  private def d6ClusterCte(sampleMod: Option[Int]): String =
    Sql.candidates.replace("WITH sh", "WITH RECURSIVE sh") +
      s""", verified AS (
        |  ${Sql.verified("doc_a, doc_b", JaccVerifyPredSql, slice = sampleMod.map((_, "0")))}
        |), nodes AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_a AS doc_id FROM verified UNION ALL SELECT doc_b FROM verified)
        |), edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM verified
        |  UNION ALL SELECT doc_b, doc_a FROM verified
        |), reach AS (
        |  SELECT doc_id AS n, doc_id AS m FROM nodes
        |  UNION
        |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
        |), cluster AS (
        |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
        |)""".stripMargin

  /** The staged oracle's cluster assignment as (doc_id, cluster_id). */
  private lazy val StagedClusters = "SELECT doc_id, lbl AS cluster_id FROM t_lbl"

  /** WITH-prefix that gives the registered oracle TAILS their expected
    * CTE names (`cluster`, `shx`) from the STAGED tables (t_lbl, t_shl) —
    * the full-chain deliverables' staged oracles are then literally
    * `StagedClusterCte + <the registered tail>`, so the tail formulas
    * cannot drift between the one-query and staged forms. An unreferenced
    * CTE is pruned by DuckDB, so chains that don't read shx pay nothing. */
  private[graft] lazy val StagedClusterCte: String =
    s"""WITH shx AS (
       |  ${Sql.postings("t_shl")}
       |), cluster AS (
       |  $StagedClusters
       |)""".stripMargin

  /** The Dedup-owned full-chain staged oracles (Pipeline contributes its
    * own via Pipeline.stagedChainOracles; DedupFull merges both). */
  private[graft] lazy val stagedChainOracles: Map[String, String] = Map(
    "d8_canonical_corpus_full" -> (StagedClusterCte + D8CanonicalSqlTail))

  /** A staged multi-pass verification OUTSIDE the cluster chain (r17: the
    * r6 full-Q assembly and the d3/d11/d13 feasibility-flip conversions) —
    * same resume contract as the pair passes: `passSql` carries a literal
    * `{R}` the runner substitutes per residue, `doneTable` records
    * completed residues. `requires` names extras whose passes must ALL be
    * complete first (staged-table dependencies — the runner skips, never
    * poisons, a dependent whose prerequisite is still partial). */
  private[graft] case class StagedExtra(name: String, passes: Int,
                                        setup: Seq[String], passSql: String,
                                        doneTable: String, finalSelect: String,
                                        requires: Seq[String] = Nil)

  /** The staged oracle's t_shl CTAS — the registered shl construction
    * materialized once per database; shared by the d6-full setup and the
    * d11/d13 flip extras so every staged consumer reads the SAME persisted
    * shingle lists. */
  private[graft] lazy val TShlSetupSql: String =
    "CREATE TABLE IF NOT EXISTS t_shl AS " + Sql.shingles(3) +
      s""", shl AS (
         |  ${Sql.hashed()}
         |)
         |SELECT doc_id, hh FROM shl""".stripMargin

  /** The r17 feasibility-flip extras: d3/d11/d13's DuckDB sides exhausted
    * >90 GB memory + ~60 GB spill as ONE statement at 5M docs while Spark
    * completed each in minutes. The same residue decomposition that
    * converted the spark_disk_bound chain converts the ORACLE side:
    *  - d3: sig passes partition documents (doc-residue), cand passes
    *    partition the chunk equality join (cv-residue; union of residues
    *    == the registered join since matches share cv); the final distinct
    *    folds cross-residue re-detections of the same pair.
    *  - d11: h-residue classes partition shx exactly; per-pass df and
    *    per-doc partial counts accumulate, the final select re-aggregates
    *    (count/sum distribute over the partition).
    *  - d13: the global df>=2 set is ONE bounded CTAS off t_shl (its
    *    distinct-h state is corpus-vocabulary-sized, not occurrence-
    *    sized); doc-residue passes then scrub their documents against it.
    * Every fragment is the registered oracle's own builder ([[d3SigCtes]],
    * [[d3ChunkTail]], [[D11DupCaseSql]], [[d13ScrubCteBody]],
    * [[d13SelectTail]]) so no formula forks. */
  private[graft] def flipExtras(passes: Int): Seq[StagedExtra] = Seq(
    StagedExtra(
      name = "d3_sig_stage",
      passes = passes,
      setup = Seq(
        "CREATE TABLE IF NOT EXISTS t_d3sig (doc_id BIGINT, sig BIGINT)",
        "CREATE TABLE IF NOT EXISTS t_d3sig_done (r INTEGER)"),
      passSql = "INSERT INTO t_d3sig SELECT * FROM (" +
        d3SigCtes(s"documents WHERE doc_id % $passes = {R}") +
        "\nSELECT doc_id, sig FROM sig)",
      doneTable = "t_d3sig_done",
      finalSelect = "SELECT 1"),
    StagedExtra(
      name = "d3_simhash_full",
      passes = passes,
      setup = Seq(
        "CREATE TABLE IF NOT EXISTS t_d3 (doc_a BIGINT, doc_b BIGINT, hamming INTEGER)",
        "CREATE TABLE IF NOT EXISTS t_d3_done (r INTEGER)"),
      passSql = "INSERT INTO t_d3 SELECT * FROM (" +
        "WITH sig AS (SELECT doc_id, sig FROM t_d3sig)" +
        d3ChunkTail(s" WHERE (${chunkValue(4)}) % $passes = {R}", ordered = false) + ")",
      doneTable = "t_d3_done",
      finalSelect =
        "SELECT DISTINCT doc_a, doc_b, hamming FROM t_d3 ORDER BY doc_a, doc_b",
      requires = Seq("d3_sig_stage")),
    StagedExtra(
      name = "d11_dup_text_fraction_full",
      passes = passes,
      setup = Seq(
        TShlSetupSql,
        "CREATE TABLE IF NOT EXISTS t_d11p (doc_id BIGINT, n_sh BIGINT, n_dup BIGINT)",
        "CREATE TABLE IF NOT EXISTS t_d11_done (r INTEGER)"),
      passSql = "INSERT INTO t_d11p SELECT * FROM (" +
        s"""WITH shx AS (
           |  ${Sql.postings("t_shl")}
           |), shxr AS (
           |  SELECT doc_id, h FROM shx WHERE h % $passes = {R}
           |), dfh AS (
           |  SELECT h, count(*) AS df FROM shxr GROUP BY h
           |)
           |SELECT s.doc_id, count(*) AS n_sh,
           |  CAST(sum($D11DupCaseSql) AS BIGINT) AS n_dup
           |FROM shxr s JOIN dfh ON dfh.h = s.h
           |GROUP BY s.doc_id)""".stripMargin,
      doneTable = "t_d11_done",
      finalSelect =
        s"""SELECT doc_id, CAST(sum(n_sh) AS BIGINT) AS n_shingles,
           |  CAST(sum(n_dup) AS BIGINT) AS n_dup_shingles,
           |  ${Exact.ratio6Sql("sum(n_dup)", "sum(n_sh)")} AS dup_frac
           |FROM t_d11p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    StagedExtra(
      name = "d13_scrubbed_corpus_full",
      passes = passes,
      setup = Seq(
        TShlSetupSql,
        "CREATE TABLE IF NOT EXISTS t_dfh2 AS " +
          s"SELECT h, count(*) AS df FROM (${Sql.postings("t_shl")}) " +
          "GROUP BY h HAVING count(*) >= 2",
        "CREATE TABLE IF NOT EXISTS t_d13 (doc_id BIGINT, n_tokens_kept BIGINT, " +
          "n_tokens_removed BIGINT, clean_text VARCHAR)",
        "CREATE TABLE IF NOT EXISTS t_d13_done (r INTEGER)"),
      passSql = "INSERT INTO t_d13 SELECT * FROM (" +
        s"""WITH docsr AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % $passes = {R}
           |)""".stripMargin +
        d13ScrubCteBody("docsr", "SELECT h, df FROM t_dfh2") +
        d13SelectTail("docsr", ordered = false) + ")",
      doneTable = "t_d13_done",
      finalSelect = "SELECT doc_id, n_tokens_kept, n_tokens_removed, " +
        "clean_text FROM t_d13 ORDER BY doc_id"))

  /** The d6-FULL STAGED oracle (r17, verdict r16 #8) as one JSON document:
    * the same shingle-list -> candidate -> verify -> cluster chain as the
    * registered d6 oracle, but emitted as ordered CREATE/INSERT statements
    * so a 5M-doc DuckDB run can materialize the index tables once, verify
    * the candidate stream in `passes` bounded residue passes (resume-safe
    * via t_done), and cluster by python-driven min-label iteration instead
    * of the one-shot recursive CTE, whose reach x edges join is quadratic
    * in cluster size per iteration. Built from the SAME stages as the
    * registered oracles ([[DupStages.Sql]], [[JaccVerifyPredSql]]) so the
    * formulas cannot drift; consumed by tools/d6_full_check.py. */
  private[graft] def d6FullOracleJson(passes: Int,
                                      chain: Map[String, String] = Map.empty,
                                      extras: Seq[StagedExtra] = Nil): String = {
    val setup = Seq(
      TShlSetupSql,
      Sql.candidateTable,
      "CREATE TABLE IF NOT EXISTS t_pairs (doc_a BIGINT, doc_b BIGINT)",
      "CREATE TABLE IF NOT EXISTS t_done (r INTEGER)")
    val passSql = "INSERT INTO t_pairs\n" +
      Sql.verified("doc_a, doc_b", JaccVerifyPredSql, cand = "t_cand", shl = "t_shl",
        slice = Some((passes, "{R}")))
    val clusterInit =
      """CREATE TABLE t_lbl AS
        |SELECT doc_id, min(m) AS lbl FROM (
        |  SELECT doc_a AS doc_id, doc_b AS m FROM t_pairs
        |  UNION ALL SELECT doc_b, doc_a FROM t_pairs
        |  UNION ALL SELECT doc_a, doc_a FROM t_pairs
        |  UNION ALL SELECT doc_b, doc_b FROM t_pairs
        |) GROUP BY doc_id""".stripMargin
    // min over (own label, every neighbor's label, label-of-label): the
    // hash-to-min + pointer-jump step — per iteration ONE pass over the
    // edge list joined to the label table, never reach x edges
    val clusterStep =
      """CREATE TABLE t_lbl_next AS
        |SELECT doc_id, min(lbl) AS lbl FROM (
        |  SELECT e.a AS doc_id, l.lbl FROM (
        |    SELECT doc_a AS a, doc_b AS b FROM t_pairs
        |    UNION ALL SELECT doc_b, doc_a FROM t_pairs
        |  ) e JOIN t_lbl l ON l.doc_id = e.b
        |  UNION ALL SELECT doc_id, lbl FROM t_lbl
        |  UNION ALL SELECT l.doc_id, l2.lbl FROM t_lbl l JOIN t_lbl l2 ON l2.doc_id = l.lbl
        |) GROUP BY doc_id""".stripMargin
    val clusterChanged =
      "SELECT count(*) FROM t_lbl_next n JOIN t_lbl o USING (doc_id) WHERE n.lbl <> o.lbl"
    val finalSelect = Sql.clusterReport(s"($StagedClusters)")
    import graft.Harness.{jsonString => q}
    val chainJson = chain.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val extrasJson = extras.map { e =>
      s"""{"name": ${q(e.name)}, "passes": ${e.passes}, """ +
        s""""setup": [${e.setup.map(q).mkString(", ")}], """ +
        s""""pass_sql": ${q(e.passSql)}, "done_table": ${q(e.doneTable)}, """ +
        s""""requires": [${e.requires.map(q).mkString(", ")}], """ +
        s""""final_select": ${q(e.finalSelect)}}"""
    }.mkString("[", ", ", "]")
    s"""{"passes": $passes,
       | "setup": [${setup.map(q).mkString(", ")}],
       | "pass_sql": ${q(passSql)},
       | "cluster_init": ${q(clusterInit)},
       | "cluster_step": ${q(clusterStep)},
       | "cluster_changed": ${q(clusterChanged)},
       | "final_select": ${q(finalSelect)},
       | "chain": $chainJson,
       | "extras": $extrasJson}""".stripMargin
  }
}
