package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rag.Search
import graft.sources.Artifact

/** ANN FAMILY ROUTER (r13) — the sequel to the r12 operating-point
  * chooser, closing its own "honest economics note" (PLANS
  * §clustered-corpus): a7_auto at sf10 honors its floor (recall 1.000 at
  * R=7518) but costs 66.8 s where brute force is 40.1 s and a2_auto is
  * 8.9 s — the point was FEASIBLE, just uneconomical, and the chooser had
  * no way to say so. [[Ann.annOperatingPoint]] picks dials WITHIN a family;
  * [[Router.route]] picks the FAMILY, by an ordinal cost model over the
  * same three live statistics (corpus count, max-list occupancy, centroid
  * splinter), in one of two explicitly-declared cost regimes:
  *
  *  - '''compute-bound''' (this box, local[32], the regime every number
  *    in PLANS was measured in): cost is exact-dot-equivalents per query.
  *    The ADC lookup is NOT cheaper than a whole-stage-codegen'd 64-dim
  *    dot here — the measured anchor pins alpha = cost(ADC)/cost(dot):
  *    66.8 = 40.1·(alpha·N + R)/N at N=200k, R=7518 gives alpha ≈ 1.63.
  *    Consequence (provable, not tuned): flat-PQ-rerank costs
  *    1.63·N + R > N = brute ALWAYS, so the compute regime routes only
  *    {brute, ivf_flat} — which is exactly what the sf10 run measured.
  *  - '''io-bound''' (the 100 TB cluster regime the library is designed
  *    for): cost is bytes scanned per query. A float32 vector row is
  *    4·dim = 256 bytes; a PQ code row is 8 bytes. Here flat-PQ's scan
  *    reads 32x less than brute, and ivf_flat wins only while
  *    nprobe·occupancy stays under ~N/32 — the regime where the index
  *    families earn their complexity.
  *
  * The model is ORDINAL, validated against the three measured sf10
  * anchors: at (N=200k, occ=2371, splinter=7) it prices ivf_flat at
  * ~17k dot-units, brute at 200k, pq_rerank at ~333k — the measured
  * order (ivf 8.9 s < brute 40.1 s < pq 66.8 s), not the wall-clock
  * ratios (fixed per-query overheads compress the ivf gap). Routing
  * needs order only; RouterSpec pins this anchor.
  *
  * Family set = the four paths whose dials the chooser fully controls:
  * a1 brute (exact), a2 ivf_flat (nlists, nprobe), a22 ivf_pq_r
  * (nlists, nprobe, rerankDepth — the composed FAISS `IVFx,PQy`+refine
  * shape, added r13 BECAUSE the router's io regime priced it as the
  * winner and it didn't exist), a7 pq_rerank (rerankDepth). In the
  * compute regime ivf_pq_r is dominated by ivf_flat whenever both are
  * feasible (alpha > 1 and depth > 0), so the compute-reachable set
  * stays {brute, ivf_flat}; in the io regime ivf_pq_r wins once
  * nprobe·occupancy·(vecBytes - codeBytes) exceeds the rerank payload —
  * tight crowds at scale, exactly where the index earns its keep.
  *
  * Reference anchor: the reference exposes one retrieval path
  * (rag/retrieval.py:100 — ChromaDB's default index) and never chooses;
  * the router is part of the added LLM-pipeline surface, not a port.
  */
object Router {

  sealed trait Regime { def name: String }
  case object ComputeBound extends Regime { val name = "compute" }
  case object IoBound extends Regime { val name = "io" }

  /** The io regime's STORAGE precondition (r13, measured in
    * IOBYTES_r13.json): pricing the refine stage at R·VecBytes assumes
    * the store can retrieve R raw vectors by id ([[RowStore]] — a
    * key-value store, or parquet with row-level secondary indexes). On a
    * plain partitioned-parquet layout ([[PartitionStore]] — this repo's
    * warehouse, measured by `graft.Dial io_bytes`) the floor for "fetch
    * the shortlist's raw vectors" is re-reading the PROBED PARTITIONS of
    * the list table (a22's pruned rerank: 1.69 MB at 8x3 vs the 12.8 KB
    * R·VecBytes ideal at sf1-clustered), and a flat-PQ shortlist spans
    * arbitrary lists, so its retrieval floor is the whole corpus. Under
    * PartitionStore, ivf_pq_r's io cost = ivf_flat's + the code read —
    * ivf_flat provably dominates (RouterSpec pins the reachable set),
    * which is exactly what the dial measures. The registered a21_route
    * pins RowStore (the 100 TB design point the family exists for). */
  sealed trait Retrieval { def name: String }
  case object RowStore extends Retrieval { val name = "row_store" }
  case object PartitionStore extends Retrieval { val name = "partition_store" }

  /** Measured on THIS box (PLANS §clustered-corpus, sf10, N=200k):
    * 66.8 s = 40.1 s · (alpha·N + R)/N at R=7518 → alpha = 1.63. The ADC
    * gather beats a codegen'd dot only on bytes, never on cycles here.
    * Re-measure path (r14): `graft.Dial io_bytes` emits
    * `adc_alpha_measured` — the floor-subtracted ADC/brute scan ratio on
    * whatever box runs it — and [[route]] takes `alpha` as a parameter,
    * so a deployment overrides this box's anchor without a code change
    * (the registered a21 queries keep the default; a compute-regime
    * alpha > 1 keeps the reachable-set proof and the gated oracle).
    *
    * INVARIANCE BAND, not load-bearing precision (r17, verdict r16): the
    * per-round `graft.Dial io_bytes` re-measurement drifts with the host window
    * (1.63 at r13, 1.86 at r16) and the routing decision is invariant
    * across the whole band — the compute regime needs only alpha > 1
    * (ADC then never beats brute: cost_pq = alpha·N + R > N, and
    * cost_ivfpqr > cost_ivf term-by-term — the reachable set stays
    * {brute, ivf_flat} for EVERY alpha > 1, RouterSpec runs its grid at
    * both measured points), and the io regime prices bytes, in which
    * alpha does not appear. The pinned value is a documentation anchor;
    * do not read 1.63 vs 1.86 as a decision input. */
  val AdcAlpha = 1.63

  /** The r16 `graft.Dial io_bytes` re-measurement of the same ratio (IOBYTES_r16
    * .json `adc_alpha_measured`) — the other end of the measured band;
    * RouterSpec pins decision-invariance at both points. */
  val AdcAlphaR16 = 1.86

  /** float32 payload bytes per vector row — 4·dim, derived LIVE from the
    * corpus schema by the entry points (r14, verdict #2: the r13 literal
    * 256.0 hardcoded dim=64; a dim=768 caller got io costs silently wrong
    * by 12x — and the ivf_flat↔ivf_pq_r crossover moves with dim). */
  def vecBytesOf(dim: Int): Double = { require(dim > 0, s"dim $dim"); 4.0 * dim }

  /** bytes per PQ code row — one byte per subquantizer. [[Pq.M]] is the
    * single constant the code-table SCHEMA (code0..code{M-1}) is generated
    * from ([[Pq]] encode), so deriving from it IS deriving from the
    * schema; PqSpec pins codeColumns(table) == Pq.M so the two can't
    * drift. */
  def codeBytesOf(pqM: Int): Double = { require(pqM > 0, s"pqM $pqM"); pqM.toDouble }

  /** Per-family per-query costs plus the dials that price them.
    * Infeasible families carry cost -1.0 and dial -1 (never NULL — the
    * driver's hash compare stringifies values). */
  case class RouteDecision(regime: String, family: String, nlists: Int,
                           nprobe: Int, rerankDepth: Int, n: Long,
                           occupancy: Long, splinter: Int,
                           costBrute: Double, costIvf: Double,
                           costIvfPqR: Double, costPq: Double)

  /** The routing decision as a pure closed form over live statistics —
    * unit-testable without a SparkSession, and transcribed operation-for-
    * operation into the [[oracle]] SQL so the decision itself is
    * hash-graded cross-engine.
    *
    * Feasibility reuses the chooser's refusal laws ([[Ann.annOperatingPoint]]):
    * ivf_flat needs its splinter-covering nprobe within the scan budget;
    * pq_rerank needs the recall-law depth under maxRerank and the corpus.
    * brute is always feasible (exact). Winner = minimal cost among
    * feasible families; ties break toward the EXACTER family (brute <
    * ivf_flat < pq_rerank priority), so a degenerate index never displaces
    * an equal-cost exact scan. */
  def route(n: Long, occupancy: Long, splinter: Int, recallFloor: Double,
            regime: Regime, clusteredRegime: Boolean = true,
            maxScanFraction: Double = 0.25,
            maxRerank: Int = 65536,
            retrieval: Retrieval = RowStore,
            dim: Int = 64, pqM: Int = Pq.M,
            alpha: Double = AdcAlpha): RouteDecision = {
    require(alpha > 0.0, s"alpha $alpha")
    val VecBytes = vecBytesOf(dim)
    val CodeBytes = codeBytesOf(pqM)
    require(n > 0, s"n $n")
    require(occupancy > 0, s"occupancy $occupancy")
    require(recallFloor > 0.0 && recallFloor < 1.0, s"recallFloor $recallFloor")
    require(splinter >= 1, s"splinter $splinter")
    val nlists = Ann.nlistsFor(n)
    // ivf_flat: nprobe by the splinter law (clustered) or the
    // scanned-fraction law (structure-less), within the scan budget
    val nprobeNeed =
      if (clusteredRegime) math.max(3, splinter)
      else math.max(3, math.ceil(recallFloor * nlists).toInt)
    val ivfFeasible = nprobeNeed <= maxScanFraction * nlists
    // pq_rerank: depth by the inverted recall curve, 2x occupancy safety
    val depth = math.max(50L, math.ceil(
      Ann.rerankRatioFor(recallFloor) * occupancy * 2.0).toLong)
    val pqFeasible = depth <= maxRerank && depth < n
    // ivf_pq_r (a22, the composed FAISS `IVFx,PQy`+refine shape) needs
    // BOTH prunings feasible: the splinter-covering probe set AND a
    // recall-law rerank depth
    val ivfPqRFeasible = ivfFeasible && pqFeasible
    val (costBrute, costIvf, costIvfPqR, costPq) = regime match {
      case ComputeBound => (
        n.toDouble,
        nlists.toDouble + nprobeNeed.toDouble * occupancy.toDouble,
        nlists.toDouble + alpha * (nprobeNeed.toDouble * occupancy.toDouble) + depth.toDouble,
        alpha * n.toDouble + depth.toDouble)
      case IoBound =>
        // refine-retrieval bytes per the storage precondition (measured,
        // IOBYTES_r13.json): RowStore fetches exactly the R shortlist
        // vectors; PartitionStore's floor is re-reading the probed
        // partitions (a22's pruned rerank) — and a FLAT shortlist spans
        // arbitrary lists, so its partition-granular floor is the corpus
        val ivfPqRFetch = retrieval match {
          case RowStore => depth.toDouble * VecBytes
          case PartitionStore => nprobeNeed.toDouble * occupancy.toDouble * VecBytes
        }
        val pqFetch = retrieval match {
          case RowStore => depth.toDouble * VecBytes
          case PartitionStore => n.toDouble * VecBytes
        }
        (
          n.toDouble * VecBytes,
          (nlists.toDouble + nprobeNeed.toDouble * occupancy.toDouble) * VecBytes,
          nlists.toDouble * VecBytes + nprobeNeed.toDouble * occupancy.toDouble * CodeBytes + ivfPqRFetch,
          n.toDouble * CodeBytes + pqFetch)
    }
    // candidates in exactness-priority order; min by (cost, priority)
    val candidates =
      Seq(("brute", costBrute, 0), ("ivf_flat", costIvf, 1),
        ("ivf_pq_r", costIvfPqR, 2), ("pq_rerank", costPq, 3))
        .filter { case (f, _, _) =>
          f == "brute" || (f == "ivf_flat" && ivfFeasible) ||
            (f == "ivf_pq_r" && ivfPqRFeasible) ||
            (f == "pq_rerank" && pqFeasible) }
    val family = candidates.minBy { case (_, c, p) => (c, p) }._1
    RouteDecision(regime.name, family, nlists,
      if (ivfFeasible) nprobeNeed else -1,
      if (pqFeasible) depth.toInt else -1,
      n, occupancy, splinter, costBrute,
      if (ivfFeasible) costIvf else -1.0,
      if (ivfPqRFeasible) costIvfPqR else -1.0,
      if (pqFeasible) costPq else -1.0)
  }

  /** Live statistics for [[route]]: corpus count, max-list occupancy of
    * the build-once IVF artifact at the sqrt-law nlists, and the centroid
    * splinter — the same three numbers the auto entry points already
    * gather (all O(corpus) narrow passes or broadcast-sized scans). */
  private def stats(spark: SparkSession, dir: String): (Long, Long, Int, Int) = {
    // (n, dim): corpus metadata a production index stores with the build
    val (n, dim) = Artifact.value(spark, "corpusmeta", dir, Ann.Emb) {
      // one narrow pass yields both the count and the embedding DIMENSION
      // (max(size) == any row's size — fixed-width corpus; max keeps the
      // aggregate deterministic and matches the oracle's max(len(v)))
      val head = Search.corpus(spark, dir)
        .agg(count(lit(1)), max(size(col("v")))).head()
      val n0 = head.getLong(0)
      // empty corpus: max(size) is NULL — fail with the family's
      // diagnostic instead of an NPE (the pre-r14 count()-only path got
      // this free from nlistsFor's require)
      require(n0 > 0, s"router stats: empty corpus at $dir")
      (n0, head.getInt(1))
    }
    val nlists = Ann.nlistsFor(n)
    (n, Ann.occupancyEstimate(spark, dir, nlists),
      Ann.splinterEstimate(spark, dir, nlists), dim)
  }

  /** D21 (a21_route): the routing decision ITSELF as a graded query — one
    * row per regime, every input statistic and per-family cost exposed, so
    * the cross-engine hash gate covers the decision function, not just the
    * dispatched result. Driver-side assembly is O(1): the three inputs are
    * tiny distributed aggregates ([[stats]]). */
  def a21Route(spark: SparkSession, dir: String,
               recallFloor: Double = 0.9): DataFrame =
    routeFrame(spark, stats(spark, dir), recallFloor)

  /** [[stats]] over (batch ∪ streamed): count and dimension from the
    * combined vector set; occupancy from the combined assignment at the
    * combined-count sqrt-law nlists AGAINST THE VERSIONED BATCH CENTROIDS
    * (the a20/H12 rule — a batch rebuild of the same data assigns
    * identically, so the routed decision equals the rebuild's,
    * RouterSpec/StreamIvfSpec); splinter from those same centroids.
    *
    * The rebuild law's THREE preconditions are all enforced here by
    * refusal (ADVICE r16 — the first was checked, the other two held only
    * by test construction):
    *  1. equal dims — a streamed batch at another embedding dimension
    *     would mis-price every route (the RouterDimSpec rule);
    *  2. no vec_id collisions between batch and appends (or within the
    *     appends) — a plain unionByName would double-count n, inflate
    *     occupancy, and let the dispatched serve emit duplicate hit rows;
    *  3. every appended vec_id >= the combined-count sqrt-law nlists — an
    *     appended id below it would BE a centroid in an equivalent batch
    *     rebuild (centroids are `vec_id < nlists` of the full corpus) but
    *     is not in the versioned batch centroid set, so the routed
    *     decision would silently diverge from the rebuild's.
    * Returns the stats plus the combined and streamed corpus frames so
    * callers dispatch over the SAME frames the stats priced (and don't
    * rebuild the manifest-read union per serve — ADVICE r16). */
  private[graft] def statsWithStream(spark: SparkSession, dir: String,
      indexDir: String): StreamStats = {
    val batch = Search.corpus(spark, dir)
    val streamed = graft.streaming.Streams.readIvfIndex(spark, indexDir)
      .select("vec_id", "label", "v", "nrm")
    val combined = batch.select("vec_id", "label", "v", "nrm")
      .unionByName(streamed)
    val head = combined.agg(count(lit(1)), max(size(col("v"))),
      min(size(col("v"))), countDistinct(col("vec_id"))).head()
    val n = head.getLong(0)
    require(n > 0, s"router stats: empty corpus at $dir + $indexDir")
    val dim = head.getInt(1)
    require(head.getInt(2) == dim,
      s"router stats: mixed embedding dims in $dir + $indexDir " +
        s"(${head.getInt(2)} vs $dim) — route refuses rather than mis-price")
    require(head.getLong(3) == n,
      s"router stats: duplicate vec_ids across $dir + $indexDir " +
        s"(${n - head.getLong(3)} collisions) — a unionByName serve would " +
        "double-count; dedup the appends (or compact and rebuild) first")
    val nlists = Ann.nlistsFor(n)
    val sHead = streamed.agg(count(lit(1)), min(col("vec_id"))).head()
    require(sHead.getLong(0) == 0L || sHead.getLong(1) >= nlists,
      s"router stats: appended vec_id ${sHead.getLong(1)} < nlists=$nlists " +
        "— it would be a centroid in an equivalent batch rebuild but is " +
        "not in the versioned batch centroid set; route refuses rather " +
        "than silently diverge from the rebuild law")
    val occ = Ann.listAssignment(combined, Some(batch), nlists)
      .groupBy("list_id").agg(count(lit(1)).as("sz"))
      .agg(max(col("sz"))).head().getLong(0)
    StreamStats(n, occ, Ann.splinterOf(batch, nlists), dim, combined, streamed)
  }

  /** [[statsWithStream]]'s result: the three routing statistics, the live
    * dimension, and the two frames the stats were priced over. */
  private[graft] case class StreamStats(n: Long, occupancy: Long,
      splinter: Int, dim: Int, combined: DataFrame, streamed: DataFrame)

  /** D21, streamed (r16, verdict r15 #4): the routing decision over
    * (batch ∪ streamed) — H12/H14 keep the INDEX artifacts current under
    * appends, and this keeps the DISPATCH current: the router's live
    * statistics now read the manifest-committed streamed index instead of
    * silently pricing yesterday's batch corpus. Same decision frame as
    * [[a21Route]]. */
  def a21RouteStreamed(spark: SparkSession, dir: String, indexDir: String,
                       recallFloor: Double = 0.9): DataFrame = {
    val st = statsWithStream(spark, dir, indexDir)
    routeFrame(spark, (st.n, st.occupancy, st.splinter, st.dim), recallFloor)
  }

  private def routeFrame(spark: SparkSession,
                         st: (Long, Long, Int, Int),
                         recallFloor: Double): DataFrame = {
    val (n, occ, spl, dim) = st
    val rows = Seq(ComputeBound, IoBound).map { reg =>
      route(n, occ, spl, recallFloor, reg, dim = dim)
    }
    import spark.implicits._
    rows.toDF()
      .select(col("regime"), col("family"), col("nlists"), col("nprobe"),
        col("rerankDepth").as("rerank_depth"), col("n"),
        col("occupancy"), col("splinter"),
        round(col("costBrute"), 4).as("cost_brute"),
        round(col("costIvf"), 4).as("cost_ivf"),
        round(col("costIvfPqR"), 4).as("cost_ivfpqr"),
        round(col("costPq"), 4).as("cost_pq"))
      .orderBy("regime")
  }

  /** D21 (a21_routed_topk): dispatch — route in the given regime, then run
    * the chosen family at the chosen dials over the standard qmod=101
    * serving batch. Default regime is [[IoBound]]: a library caller is on
    * the cluster the library is designed for; the registered query pins
    * [[ComputeBound]] (the regime of the box the oracle grades on).
    * In the compute regime the reachable set is {brute, ivf_flat} by the
    * alpha > 1 proof in the object scaladoc — the oracle's gated UNION
    * covers exactly that set, and a pq_rerank dispatch under compute would
    * hash-FAIL rather than silently pass. */
  def aRouteTopk(spark: SparkSession, dir: String,
                 recallFloor: Double = 0.9,
                 regime: Regime = IoBound,
                 clusteredRegime: Boolean = true,
                 retrieval: Retrieval = RowStore): DataFrame = {
    val (n, occ, spl, dim) = stats(spark, dir)
    Ann.fixedQGuard(n / 101 + 1, "aRouteTopk")
    val d = route(n, occ, spl, recallFloor, regime, clusteredRegime,
      retrieval = retrieval, dim = dim)
    d.family match {
      case "brute" =>
        Search.knn(spark, dir, col("vec_id") % 101 === 0, k = 10,
          threshold = -1.0, clampZero = false, sameLabel = false)
      case "ivf_flat" =>
        // the io regime prices reads, so its dispatch uses the measured
        // serving read (static IN-pruned probed partitions,
        // IOBYTES_r13.json); the compute regime keeps the oracle-pinned
        // a2 plan the registered query grades
        if (regime == IoBound)
          Ann.a2KnnIvfPruned(spark, dir, nlists = d.nlists, nprobe = d.nprobe)
        else Ann.a2KnnIvf(spark, dir, nlists = d.nlists, nprobe = d.nprobe)
      case "ivf_pq_r" =>
        Pq.a22IvfPqRerank(spark, dir, nlists = d.nlists, nprobe = d.nprobe,
          rerankDepth = d.rerankDepth)
      case "pq_rerank" =>
        Pq.a7PqRerank(spark, dir, rerankDepth = d.rerankDepth)
    }
  }

  /** [[aRouteTopk]], streamed (r16): route over (batch ∪ streamed) stats,
    * then SERVE over the combined vector set — queries are the standard
    * qmod=101 batch drawn from the combined ids, so an appended vector is
    * both searchable and a query. brute and ivf_flat dispatch on the fly
    * against the versioned batch centroids ([[Search.knnOver]] /
    * [[Ann.ivfTopKOver]] — row-identical to an equivalent batch rebuild's
    * plan at the same dials, spec-pinned); the PQ families REFUSE by name:
    * their codebook/code artifacts are versioned with the batch corpus, so
    * the correct move after enough appends to route there is a compaction
    * + batch re-encode ([[graft.streaming.Streams.compactIvfIndex]] +
    * [[Pq]] build), not a silent serve against codes the appended rows
    * aren't in. */
  def aRouteTopkStreamed(spark: SparkSession, dir: String, indexDir: String,
                         recallFloor: Double = 0.9,
                         regime: Regime = IoBound,
                         clusteredRegime: Boolean = true,
                         retrieval: Retrieval = RowStore): DataFrame = {
    // ONE manifest read + union, priced and served (ADVICE r16: the
    // dispatch previously rebuilt the combined corpus statsWithStream had
    // just assembled)
    val st = statsWithStream(spark, dir, indexDir)
    val combined = st.combined
    Ann.fixedQGuard(st.n / 101 + 1, "aRouteTopkStreamed")
    val d = route(st.n, st.occupancy, st.splinter, recallFloor, regime,
      clusteredRegime, retrieval = retrieval, dim = st.dim)
    d.family match {
      case "brute" =>
        Search.knnOver(combined, col("vec_id") % 101 === 0, k = 10,
          threshold = -1.0, clampZero = false, sameLabel = false)
      case "ivf_flat" =>
        Ann.ivfTopKOver(combined, Search.corpus(spark, dir),
          nlists = d.nlists, nprobe = d.nprobe)
      case other =>
        throw new UnsupportedOperationException(
          s"aRouteTopkStreamed: route chose '$other', whose codebook/code " +
            "artifacts are versioned with the batch corpus — serve via " +
            "aRouteTopkMaintained (compacts and re-encodes the appends " +
            "against the versioned codebook), or compact and rebuild the " +
            "batch index and serve via aRouteTopk")
    }
  }

  /** D28 (r17, verdict r16 #6): [[aRouteTopkStreamed]] with the PQ-family
    * maintenance loop composed in — compact the streamed ingest
    * directories ([[graft.streaming.Streams.compactIvfIndex]], the H13
    * fold), re-encode the appends against the VERSIONED batch codebook
    * and centroids ([[Pq.encodeBatchAgainst]], H14's per-batch body), and
    * dispatch whatever family the route picks — including the PQ families
    * [[aRouteTopkStreamed]] refuses. Serving rows row-match an equivalent
    * batch rebuild's at the same dials (the H12/a20 rule one level up,
    * StreamIvfSpec): the rebuild-law preconditions are enforced by
    * refusal in [[statsWithStream]] (equal dims, no id collisions,
    * appended ids >= nlists) and [[Pq]]'s streamed serves (appended ids
    * >= K, the codebook draw floor). Maintenance cost is O(appends)
    * re-encode + the fold's O(moved rows) — never a corpus re-encode. */
  def aRouteTopkMaintained(spark: SparkSession, dir: String, indexDir: String,
                           recallFloor: Double = 0.9,
                           regime: Regime = IoBound,
                           clusteredRegime: Boolean = true,
                           retrieval: Retrieval = RowStore): DataFrame = {
    graft.streaming.Streams.compactIvfIndex(spark, indexDir)
    val st = statsWithStream(spark, dir, indexDir)
    Ann.fixedQGuard(st.n / 101 + 1, "aRouteTopkMaintained")
    val d = route(st.n, st.occupancy, st.splinter, recallFloor, regime,
      clusteredRegime, retrieval = retrieval, dim = st.dim)
    d.family match {
      case "brute" =>
        Search.knnOver(st.combined, col("vec_id") % 101 === 0, k = 10,
          threshold = -1.0, clampZero = false, sameLabel = false)
      case "ivf_flat" =>
        Ann.ivfTopKOver(st.combined, Search.corpus(spark, dir),
          nlists = d.nlists, nprobe = d.nprobe)
      case "ivf_pq_r" =>
        Pq.ivfPqRerankStreamed(spark, dir, st.streamed, nlists = d.nlists,
          nprobe = d.nprobe, rerankDepth = d.rerankDepth)
      case "pq_rerank" =>
        Pq.pqRerankStreamed(spark, dir, st.streamed,
          rerankDepth = d.rerankDepth)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a21_route" -> ((s, d) => a21Route(s, d)),
    "a21_routed_topk" -> ((s, d) => aRouteTopk(s, d, regime = ComputeBound)),
    // r14 (verdict r13 #3): the io-regime dispatch — aRouteTopk's DEFAULT
    // path, the one a cluster caller takes — as a graded query, pinning
    // the PartitionStore retrieval this repo's warehouse actually is.
    // Under PartitionStore the reachable set is provably {brute,
    // ivf_flat} (ivf_pq_r = ivf_flat + the code read; pq_rerank = brute +
    // the code read — RouterSpec pins it), so the oracle is the same
    // gated UNION with the io winner's gate.
    "a21_routed_topk_io" -> ((s, d) =>
      aRouteTopk(s, d, regime = IoBound, retrieval = PartitionStore)),
  )

  import Stages.Sql.{centroids, corpus, cosine, probes, ranked}

  /** Shared stats CTEs: dynamic-dial assignment at the sqrt-law nlists —
    * the [[Ann]] IvfCte shape with the literal 8 freed to a scalar.
    * Parameterized by the io regime's refine-fetch pricing ([[Retrieval]],
    * mirroring [[route]]'s match): RowStore fetches the R shortlist rows;
    * PartitionStore re-reads the probed partitions (ivf_pq_r) or the
    * whole corpus (flat pq shortlist). The corpus, the assignment scan and
    * the decision chain are each read more than once, so they are
    * materialized. */
  private def statsCte(retrieval: Retrieval): String = {
    val (ivfPqRFetch, pqFetch) = retrieval match {
      case RowStore => (
        "CAST(depth AS DOUBLE) * (4.0 * dim)",
        "CAST(depth AS DOUBLE) * (4.0 * dim)")
      case PartitionStore => (
        "CAST(nprobe_need AS DOUBLE) * CAST(occupancy AS DOUBLE) * (4.0 * dim)",
        "CAST(n AS DOUBLE) * (4.0 * dim)")
    }
    Pq.materializeShared(s"""${corpus(label = true)},
       |nl AS (SELECT CAST(greatest(8, least(65536, ceil(sqrt(CAST(count(*) AS DOUBLE))))) AS BIGINT) AS nlists,
       |              count(*) AS n,
       |              CAST(max(len(v)) AS INTEGER) AS dim FROM en),
       |${centroids("(SELECT nlists FROM nl)", label = true, vectors = true)}, occ AS (
       |  SELECT max(sz) AS occupancy FROM (
       |    SELECT count(*) AS sz FROM asg GROUP BY list_id)
       |), spl AS (
       |  -- centroid splinter: worst centroid's near-duplicate count at
       |  -- tau=0.5, stride-sampled past 4096 source centroids
       |  SELECT CAST(max(nn) AS INTEGER) AS splinter FROM (
       |    SELECT s.cent_id, count(*) AS nn
       |    FROM cent s JOIN cent c ON ${cosine("s.cv", "s.cnrm", "c.cv", "c.cnrm")} >= 0.5
       |    WHERE s.cent_id % greatest(1, (SELECT nlists FROM nl) // 4096) = 0
       |    GROUP BY s.cent_id)
       |), dials AS (
       |  -- the [[route]] closed form, operation-for-operation: nprobe by
       |  -- the splinter law, R by the inverted recall curve at floor 0.9
       |  -- (segment (0.803,0.64)-(1.0,2.56)), 2x occupancy safety
       |  SELECT nl.n, nl.nlists, nl.dim, occ.occupancy, spl.splinter,
       |    greatest(3, spl.splinter) AS nprobe_need,
       |    (greatest(3, spl.splinter) <= 0.25 * nl.nlists) AS ivf_feasible,
       |    CAST(greatest(50, ceil(
       |      (0.64 + (2.56 - 0.64) * (0.9 - 0.803) / (1.0 - 0.803))
       |        * occ.occupancy * 2.0)) AS BIGINT) AS depth
       |  FROM nl, occ, spl
       |), dials2 AS (
       |  SELECT *, (depth <= 65536 AND depth < n) AS pq_feasible FROM dials
       |), costs AS (
       |  -- byte prices are LIVE (r14): vec_bytes = 4.0*dim from the corpus
       |  -- schema (nl CTE), code_bytes = M interpolated from the SAME Scala
       |  -- constant the code-table schema is generated from (Pq.M), alpha
       |  -- from Router.AdcAlpha — no engine-local literal can drift
       |  SELECT f.regime, f.family, f.prio, CASE
       |    WHEN f.regime = 'compute' AND f.family = 'brute' THEN CAST(n AS DOUBLE)
       |    WHEN f.regime = 'compute' AND f.family = 'ivf_flat'
       |      THEN CAST(nlists AS DOUBLE) + CAST(nprobe_need AS DOUBLE) * CAST(occupancy AS DOUBLE)
       |    WHEN f.regime = 'compute' AND f.family = 'ivf_pq_r'
       |      THEN CAST(nlists AS DOUBLE) + $AdcAlpha * (CAST(nprobe_need AS DOUBLE) * CAST(occupancy AS DOUBLE)) + CAST(depth AS DOUBLE)
       |    WHEN f.regime = 'compute' THEN $AdcAlpha * CAST(n AS DOUBLE) + CAST(depth AS DOUBLE)
       |    WHEN f.family = 'brute' THEN CAST(n AS DOUBLE) * (4.0 * dim)
       |    WHEN f.family = 'ivf_flat'
       |      THEN (CAST(nlists AS DOUBLE) + CAST(nprobe_need AS DOUBLE) * CAST(occupancy AS DOUBLE)) * (4.0 * dim)
       |    WHEN f.family = 'ivf_pq_r'
       |      THEN CAST(nlists AS DOUBLE) * (4.0 * dim) + CAST(nprobe_need AS DOUBLE) * CAST(occupancy AS DOUBLE) * ${Pq.M}.0 + $ivfPqRFetch
       |    ELSE CAST(n AS DOUBLE) * ${Pq.M}.0 + $pqFetch END AS cost
       |  FROM dials2, (VALUES
       |    ('compute', 'brute', 0), ('compute', 'ivf_flat', 1),
       |    ('compute', 'ivf_pq_r', 2), ('compute', 'pq_rerank', 3),
       |    ('io', 'brute', 0), ('io', 'ivf_flat', 1),
       |    ('io', 'ivf_pq_r', 2), ('io', 'pq_rerank', 3)
       |  ) f(regime, family, prio)
       |  WHERE f.family = 'brute'
       |     OR (f.family = 'ivf_flat' AND dials2.ivf_feasible)
       |     OR (f.family = 'ivf_pq_r' AND dials2.ivf_feasible AND dials2.pq_feasible)
       |     OR (f.family = 'pq_rerank' AND dials2.pq_feasible)
       |), winner AS (
       |  SELECT regime, family FROM (
       |    SELECT *, row_number() OVER (PARTITION BY regime ORDER BY cost, prio) AS rn
       |    FROM costs) WHERE rn = 1
       |)""".stripMargin, Seq("en", "asg0", "dials2", "costs", "winner"))
  }

  /** The qmod=101 serving batch against the winner's family, as a gated
    * UNION over the regime's reachable set — shared by the compute- and
    * io-regime dispatch oracles (identical candidate SQL; only the winner
    * gate's regime differs, and the io dispatch's pruned scan is
    * row-identical to the full one by the static-IN contract). */
  private def dispatchSql(regime: String): String = {
    val probesCte = probes("probes", 101, "(SELECT nprobe_need FROM dials2)",
      label = false, vectors = true)
    s"""
       |, $probesCte, ivf_scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${cosine("p.qv", "p.qnrm", "a.v", "a.nrm")} AS similarity
       |  FROM probes p JOIN asg a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
       |), ${ranked("ivf_ranked", "ivf_scored")}, brute_scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    ${cosine("q.v", "q.nrm", "c.v", "c.nrm")} AS similarity
       |  FROM en q JOIN en c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 101 = 0
       |), ${ranked("brute_ranked", "brute_scored")}
       |SELECT query_id, vec_id, similarity, rnk FROM ivf_ranked
       |WHERE rnk <= 10 AND (SELECT family FROM winner WHERE regime = '$regime') = 'ivf_flat'
       |UNION ALL
       |SELECT query_id, vec_id, similarity, rnk FROM brute_ranked
       |WHERE rnk <= 10 AND (SELECT family FROM winner WHERE regime = '$regime') = 'brute'
       |ORDER BY query_id, rnk""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "a21_route" -> (statsCte(RowStore) +
      """
        |SELECT w.regime, w.family,
        |  CAST(d.nlists AS INTEGER) AS nlists,
        |  CAST(CASE WHEN d.ivf_feasible THEN d.nprobe_need ELSE -1 END AS INTEGER) AS nprobe,
        |  CAST(CASE WHEN d.pq_feasible THEN d.depth ELSE -1 END AS INTEGER) AS rerank_depth,
        |  d.n, CAST(d.occupancy AS BIGINT) AS occupancy, d.splinter,
        |  round(max(CASE WHEN c.family = 'brute' THEN c.cost END), 4) AS cost_brute,
        |  round(coalesce(max(CASE WHEN c.family = 'ivf_flat' THEN c.cost END), -1.0), 4) AS cost_ivf,
        |  round(coalesce(max(CASE WHEN c.family = 'ivf_pq_r' THEN c.cost END), -1.0), 4) AS cost_ivfpqr,
        |  round(coalesce(max(CASE WHEN c.family = 'pq_rerank' THEN c.cost END), -1.0), 4) AS cost_pq
        |FROM winner w
        |JOIN costs c ON c.regime = w.regime
        |CROSS JOIN dials2 d
        |GROUP BY w.regime, w.family, d.nlists, d.ivf_feasible, d.nprobe_need,
        |  d.pq_feasible, d.depth, d.n, d.occupancy, d.splinter
        |ORDER BY w.regime""".stripMargin),

    "a21_routed_topk" -> (statsCte(RowStore) + dispatchSql("compute")),

    // io-regime dispatch (r14): PartitionStore pricing in the costs CTE;
    // reachable set {brute, ivf_flat} (see queries note), same gated UNION
    "a21_routed_topk_io" -> (statsCte(PartitionStore) + dispatchSql("io")),
  )
}
