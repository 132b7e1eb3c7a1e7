package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rag.Search
import graft.sources.{Artifact, Warehouse}

/** IVF approximate-nearest-neighbor search (SURVEY.md §2.D2) — the scale
  * path beyond brute force (D1 in [[graft.rag.Search]]).
  *
  * Index build: 8 deterministic coarse centroids (the vectors with
  * vec_id < 8); every vector is assigned to its nearest centroid (rounded
  * cosine, centroid-id tie-break) — the inverted lists. Query: probe the
  * nprobe=3 nearest centroids, scan only those lists, exact top-10 within.
  *
  * Scale design (§6): centroids are tiny and broadcast — assignment is a
  * narrow map over the corpus (no shuffle of the 100 TB side). The index
  * IS persisted partitioned BY list_id (r10, [[ivfListTable]] — the a13
  * ivfPqTable contract on the raw-vector path), so a probe is a
  * partition-pruned read of nprobe/nlists of the data, paid once per
  * corpus ("build once, probe forever"; Bench reports the build under
  * `cold`). `nlists` is a real dial (grow ~ sqrt(N); `graft.Dial ivf`
  * measures the recall/cost curve); real deployments train centroids with
  * k-means|| ([[KmeansIvf]] models that); deterministic centroid choice
  * keeps the oracle replayable.
  *
  * ==The fixed-Q broadcast contract (r11, the Search.scala query-side
  * contract stated where the a-family hints are)==
  * Every `broadcast(...)` of a probe/LUT/shortlist side in the a-family
  * (here, [[Pq]], [[IvfPqR]], [[KmeansIvf]], [[GraphProbe]], [[Sq]])
  * assumes the PRODUCTION shape: the query set is a fixed, small batch
  * (top-k serving, dial measurement — O(queries × nprobe) or
  * O(queries × subspaces) rows, KBs–MBs), while the corpus side is the
  * 100 TB partition-pruned scan. Under the synthetic testdata the query
  * set is `vec_id % 101` — corpus-PROPORTIONAL — so these hints are NOT
  * justified by the test corpus; they are justified by the serving
  * contract, and a caller with a corpus-sized query set (all-pairs
  * offline join) must drop to the un-hinted d-family path (d5/r5b
  * blocking) instead. Fixed-Q is ~1/101 of the corpus in testdata, well
  * under any autoBroadcastJoinThreshold at driver scales, so the hint and
  * AQE agree there; the hint exists to pin the plan at real scale where
  * stats on a derived probe set are unavailable at planning time.
  */
object Ann {

  /** The source every ANN artifact derives from. */
  private[ann] val Emb = Seq("embeddings.parquet")

  def a2KnnIvf(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(spark, dir, sameLabel = false)

  /** The IVF SCALE DIAL (r10, the d5-dial lesson applied to the a-family):
    * `nlists` is the coarse blocking constant, and holding it fixed makes
    * IVF a constant-factor toy — probes scan nprobe/nlists of the corpus,
    * so at nlists=8/nprobe=3 the "index" still reads 37.5% of every list
    * payload and brute force catches it. Real deployments grow nlists ~
    * sqrt(N) (FAISS guidance), which keeps per-list occupancy ~sqrt(N) and
    * probe cost ~nprobe*sqrt(N) per query. Centroids are vec_id < nlists,
    * so widening the dial never re-randomizes the prefix an oracle already
    * pinned (same contract as d5's hyperplanes). Recall/cost across the
    * dial is MEASURED (`graft.Dial ivf`, PLANS.md §ivf-dial), never assumed;
    * the 8/3 default stays byte-identical to the committed oracle plan. */
  def a2KnnIvf(spark: SparkSession, dir: String, nlists: Int,
               nprobe: Int, qmod: Int = 101): DataFrame =
    ivfTopK(spark, dir, sameLabel = false, nlists = nlists, nprobe = nprobe,
      qmod = qmod)

  /** D10 (a10): metadata-FILTERED IVF search — the scale path behind
    * r4_search_filtered's brute-force shape: the label equality predicate
    * rides the probe join into the inverted-list scan, so at warehouse
    * scale it applies inside the partition-pruned list read (predicate +
    * partition pruning compose; the filter never materializes an unfiltered
    * candidate set). Top-k then ranks only same-label rows — fewer
    * candidates per probe, same two-stage plan. */
  def a10IvfFiltered(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(spark, dir, sameLabel = true)

  /** Corpus-side list assignment — ROW-LOCAL: the nlists centroids are
    * collected (sorted, so the one-row aggregate is deterministic) into a
    * single broadcast array row, and the argmax (rounded cosine desc,
    * cent_id tie-break) is `array_min` over `transform`-built (-cs,
    * cent_id) structs — a narrow map with NO exchange over the 100 TB
    * side, and O(nlists) work per row in ONE loop expression whatever the
    * dial (the previous 8-way pivot + `least()` baked nlists into the
    * expression TREE, which both capped the dial ~8 for codegen size and
    * let constraint-inferred filters re-evaluate the whole 8-dot argmax
    * 3x per row at the probe join). (Negating the rounded cosine flips
    * the order; Spark's double compare treats -0.0 and 0.0 as equal,
    * exactly like a `.desc` sort and the oracle.)
    * Returns (vec_id, list_id, label, v, nrm). Shared with the IVFPQ
    * composed index ([[Pq.a13IvfPqTopK]]).
    *
    * `centSource` (default: `e` itself) is the frame the centroids derive
    * from — an incremental append ([[a20IncrementalIvf]]) assigns a NEW
    * batch against the ORIGINAL index's centroid artifact, so the rows
    * being assigned and the centroid source must be separable. */
  private[graft] def listAssignment(e: DataFrame,
                                    centSource: Option[DataFrame] = None,
                                    nlists: Int = 8): DataFrame =
    e.crossJoin(broadcast(Stages.centroidRow(centSource.getOrElse(e), nlists)))
      .select(col("vec_id"),
        array_min(Stages.centroidScores).getField("cent_id").as("list_id"),
        col("label"), col("v"), col("nrm"))

  /** The DISTINCT inverted lists a query batch probes ([[probedListIds]])
    * as a driver-side artifact value (r18), for a static `IN` partition
    * filter (the a13z memoized-IN-set precedent). The set is deterministic
    * per (corpus, nlists, nprobe, qmod) and lands in the plan as literal
    * `IN` values; memoizing it removed the last per-serve driver-side JOB
    * the a22/a2-pruned chains paid (a rollup + collect over the probe
    * subtree, every run). Fingerprint-neutral by construction — the memo
    * feeds the SAME sorted literals into the SAME plan. */
  private[ann] def probedListIdsCached(spark: SparkSession, dir: String,
      nprobe: Int, nlists: Int, qmod: Int): Seq[Long] =
    Artifact.value(spark, "probed", dir, Emb, s"${nlists}x${nprobe}q$qmod") {
      probedListIds(Search.corpus(spark, dir), nprobe, nlists, qmod)
    }

  /** The probed lists, collected to the driver. O(queries × nprobe) rows
    * bounded by the fixed-Q contract; the result is ≤ nlists ids. The
    * contract is ENFORCED here (r14, ADVICE r13): the same aggregate that
    * yields the distinct ids also counts the queries, so the collect stays
    * ≤ nlists + 1 rows and a caller violating fixed-Q gets the family's
    * documented throw, never an unbounded driver collect. */
  private[ann] def probedListIds(e: DataFrame, nprobe: Int, nlists: Int,
                                 qmod: Int): Seq[Long] = {
    // guard on the QUERY count, the same unit every other entry point
    // guards — and MEASURE it rather than inferring it (r15, ADVICE r14:
    // probe_rows / min(nprobe, nlists) under-counted whenever a query
    // emitted fewer than rows-per-query probes, e.g. a corpus smaller
    // than nlists). The rollup's grand-total row (list_id NULL) carries
    // countDistinct(query_id) = Q exactly, in the same single aggregate;
    // the collect stays ≤ nlists + 1 rows.
    // grouping() == 1 marks the grand-total row STRUCTURALLY (r16,
    // ADVICE r15: isNullAt(0) would conflate it with a genuine NULL
    // list_id group if assignment ever produced one)
    val perList = listProbes(e, nprobe, nlists, qmod)
      .rollup(col("list_id"))
      .agg(countDistinct(col("query_id")).as("nq"),
        grouping(col("list_id")).cast("int").as("is_total"))
      .collect()
    val q = perList.collectFirst { case r if r.getAs[Int]("is_total") == 1 =>
      r.getLong(1)
    }.getOrElse(0L)
    fixedQGuard(q, "probedListIds")
    // SORTED (r14, the a13z precedent): the ids land in static `IN`
    // partition filters, so their order is part of the plan FINGERPRINT —
    // a distributed collect's order varies across sessions on identical
    // code (observed: a21_routed_topk_io fluttered between same-code
    // sessions), a sorted set never does
    perList.collect {
      case r if r.getAs[Int]("is_total") == 0 => r.getLong(0)
    }.sorted.toSeq
  }

  /** The IVF-flat index table: raw vectors + list assignment, written
    * PARTITIONED BY list_id, one artifact per dial — the FAISS
    * `IVFx,Flat` layout as physical parquet, and the a13 ivfPqTable
    * contract applied to the raw-vector path: a2/a10 probes are
    * partition-pruned reads of nprobe/nlists of the data, not a per-run
    * re-derivation of the assignment (which also re-evaluated the argmax
    * 3x per row through constraint-inferred join filters). The a22
    * pruned rerank ([[Pq.a22IvfPqRerank]]) retrieves its raw vectors from
    * the probed partitions of this table instead of re-scanning the flat
    * corpus file. */
  private[ann] def ivfListTable(spark: SparkSession, dir: String,
                                nlists: Int): DataFrame =
    Artifact.table(spark, "ivf", dir, Emb, s"$nlists") { t =>
      Warehouse.writePartitionedTable(
        listAssignment(Search.corpus(spark, dir), nlists = nlists), t, "list_id")
    }

  /** The probe set: each query's top-NPROBE centroids by rounded cosine.
    * Returns (query_id, list_id, qlabel, qv, qnrm).
    *
    * Top-nprobe is computed ROW-LOCALLY (r17 optimization round, guide
    * §2.4): the centroid set rides one broadcast row (the
    * [[listAssignment]] argmin pattern generalized to top-n via
    * slice(sort_array)), and each query row ranks its own nlists-struct
    * array — so the former Exchange(hashpartitioning(query)) + Sorts +
    * row_number Window that every IVF serving plan paid PER PROBE SUBTREE
    * (a16's plan inlined that subtree three times) is gone from all of
    * them. Ordering is identical by construction: struct (ncs =
    * −rounded-cosine, cent_id) ascending == (cosine desc, cent_id asc),
    * exactly the window ordering this replaced, so the probed set — and
    * every downstream oracle row — is unchanged (AnnSpec/oracle hashes
    * pin it). At scale this removes an O(Q·nprobe) query-side shuffle per
    * serve and costs an O(nlists) single-row aggregate the assignment
    * path already pays. */
  private[ann] def listProbes(e: DataFrame, nprobe: Int = 3,
                              nlists: Int = 8, qmod: Int = 101,
                              centSource: Option[DataFrame] = None): DataFrame = {
    // centSource (r16, default e): the streamed-append composition probes
    // a combined (batch ∪ streamed) query set against the VERSIONED batch
    // centroid artifact — the a20/H12 rule on the query side
    e.filter(col("vec_id") % qmod === 0)
      .crossJoin(broadcast(Stages.centroidRow(centSource.getOrElse(e), nlists)))
      .select(col("vec_id").as("query_id"),
        explode(slice(sort_array(Stages.centroidScores), 1, nprobe)).as("probe"),
        col("label").as("qlabel"), col("v").as("qv"), col("nrm").as("qnrm"))
      .select(col("query_id"), col("probe.cent_id").as("list_id"),
        col("qlabel"), col("qv"), col("qnrm"))
  }

  /** a2's SERVING read shape (r13, measured in IOBYTES_r13.json): the
    * probed inverted lists selected by a static `IN` partition filter
    * (probed ids collected driver-side — ≤ nprobe·Q rows by the fixed-Q
    * contract, the a13z memoized-IN-set shape) instead of relying on
    * dynamic partition pruning, which the stats-less broadcast probe join
    * does NOT trigger on this plan — measured: the un-pruned a2 selects
    * every list partition (full index bytes), the static filter selects
    * exactly nprobe/nlists of them. Results are identical (the join
    * condition already restricts candidates to probed lists); only the
    * scan's selected-partition set changes, so the registered a2 keeps
    * its oracle-pinned plan and this entry is additive. */
  def a2KnnIvfPruned(spark: SparkSession, dir: String, nlists: Int = 8,
                     nprobe: Int = 3, qmod: Int = 101): DataFrame =
    ivfTopK(spark, dir, sameLabel = false, nlists = nlists, nprobe = nprobe,
      qmod = qmod, staticPruned = true)

  private def ivfTopK(spark: SparkSession, dir: String, sameLabel: Boolean,
                      nlists: Int = 8, nprobe: Int = 3,
                      qmod: Int = 101,
                      staticPruned: Boolean = false): DataFrame = {
    val asg = ivfListTable(spark, dir, nlists)
    listTopK(
      if (staticPruned) asg.filter(col("list_id").isin(
        probedListIdsCached(spark, dir, nprobe, nlists, qmod): _*))
      else asg,
      listProbes(Search.corpus(spark, dir), nprobe, nlists, qmod), 10, sameLabel)
  }

  /** Exact cosine top-`k` of each query's probed lists: list rows `asg`
    * (vec_id, list_id, label, v, nrm) joined to `probes` (query_id,
    * list_id, qlabel, qv, qnrm) — restricted to the query's label when
    * `sameLabel`. The IVF-flat list scan of a2/a10, a4, a19 and the
    * streamed serve. */
  private[ann] def listTopK(asg: DataFrame, probes: DataFrame, k: Int,
                            sameLabel: Boolean = false): DataFrame = {
    val joinCond = asg("list_id") === probes("list_id") &&
      col("vec_id") =!= col("query_id") &&
      (if (sameLabel) col("label") === col("qlabel") else lit(true))
    // fixed-Q contract (Ann scaladoc): probes is O(queries × nprobe),
    // small by the serving contract, not by the testdata's vec_id % 101.
    Stages.rankTopK(asg.join(broadcast(probes), joinCond),
      Stages.cosine(col("qv"), col("qnrm"), col("v"), col("nrm")), k)
  }

  /** [[ivfTopK]] over an EXPLICIT corpus (vec_id, label, v, nrm) with the
    * versioned centroid source — the streamed-append serving path
    * ([[Router.aRouteTopkStreamed]]): assignment and probes are computed
    * on the fly against `centSource`'s centroids (the a20/H12 rule), so
    * the result row-matches an equivalent batch rebuild's ivfTopK at the
    * same dials. Trades the build-once warehouse artifact for one
    * O(corpus · nlists) narrow assignment pass (no shuffle of the corpus
    * side); a long-lived deployment compacts the streamed appends
    * ([[graft.streaming.Streams.compactIvfIndex]]) and returns to the
    * partition-pruned artifact read. */
  private[graft] def ivfTopKOver(corpus: DataFrame, centSource: DataFrame,
                                 nlists: Int, nprobe: Int,
                                 qmod: Int = 101): DataFrame =
    listTopK(listAssignment(corpus, Some(centSource), nlists),
      listProbes(corpus, nprobe, nlists, qmod, Some(centSource)), 10)

  // ------------------------------------------------------------ auto mode

  /** An ANN operating point: the three dials the a-family's measured laws
    * govern — coarse list count, probe width, and exact-rerank depth. */
  case class AnnPoint(nlists: Int, nprobe: Int, rerankDepth: Int)

  /** The fixed-Q contract's sanity bound (scaladoc above): every a-family
    * probe-side `broadcast()` assumes a serving-shaped query batch. A
    * probe set past this many rows is a misuse of the serving path (an
    * offline all-pairs job wearing a serving hat) and must THROW, not OOM
    * the driver at 100x — the d-family blocked paths (d5/r5b) are the
    * corpus-proportional alternative. */
  val MaxFixedQRows = 1000000L

  private[graft] def fixedQGuard(probeRows: Long, entry: String): Unit =
    if (probeRows > MaxFixedQRows) throw new IllegalArgumentException(
      s"fixed-Q contract violation in $entry: probe set has $probeRows rows > " +
        s"$MaxFixedQRows — the a-family broadcasts the query side by the " +
        "serving contract (Ann scaladoc); a corpus-proportional query set " +
        "must use the un-hinted blocked paths (d5_embedding_neardup / " +
        "r5b_find_similar_blocked) instead")

  /** The nlists LAW (FAISS guidance, measured in PLANS §clustered-corpus):
    * grow nlists ~ sqrt(N) so per-list occupancy stays ~sqrt(N) and probe
    * cost ~nprobe*sqrt(N). Measured: on the 64-Gaussian corpus at sf10,
    * nlists 8→64 cut the probe 13.8 s → 1.6 s at equal-or-BETTER recall
    * (1.000 at 1.6% scanned), and recall held 1.000 as nlists passed the
    * true cluster count (128x3, sf1/sf10) — growing past alignment is
    * safe. Capped at 65536: the centroid broadcast is O(nlists·dim). */
  def nlistsFor(corpusCount: Long): Int = {
    require(corpusCount > 0, s"corpusCount $corpusCount")
    math.max(8, math.min(65536L, math.ceil(math.sqrt(corpusCount.toDouble)).toLong)).toInt
  }

  /** Occupancy statistic for the rerank law: the MAX inverted-list size of
    * the built IVF index at `nlists` — one partial-agg pass over the
    * build-once list table (the partitioned parquet artifact is the
    * cheapest clusteredness statistic the corpus already owns). Max, not
    * mean: the rerank shortlist must cover the WORST query's cluster
    * crowd, and deterministic (vec_id < nlists) centroids shatter a true
    * cluster across ~nlists/clusters lists, so max-list-size UNDER-states
    * true cluster occupancy — [[annOperatingPoint]] folds in a 2x safety
    * factor for exactly that bias. An artifact value (r17): occupancy
    * and splinter are properties of the BUILD artifact (FAISS stores
    * per-list sizes with the inverted lists), and recomputing them fired
    * most of a21_route's 26 Spark jobs per warm run. */
  def occupancyEstimate(spark: SparkSession, dir: String, nlists: Int): Long =
    Artifact.value(spark, "occ", dir, Emb, s"$nlists") {
      ivfListTable(spark, dir, nlists)
        .groupBy("list_id").agg(count(lit(1)).as("sz"))
        .agg(max(col("sz"))).collect()(0).getLong(0)
    }

  /** Splinter statistic for the nprobe law (r12, the third-decade lesson):
    * deterministic centroids (vec_id < nlists) are corpus ROWS, so once
    * nlists exceeds the data's natural cluster count, one tight cluster
    * contributes several near-duplicate centroids and its members scatter
    * across that many inverted lists — measured: a2's auto point at
    * clustered sf10 (nlists=448 over 64 true clusters, ~7 lists per crowd)
    * delivered recall 0.763 UNDER its 0.9 floor at the fixed nprobe=3 that
    * had held at the two smaller decades (1 and ~2-3 lists per crowd).
    * The statistic is the worst centroid's near-duplicate count (rounded
    * cosine >= tau, self included) = the number of lists one cluster crowd
    * can splinter across; [[annOperatingPoint]] probes that many. Cost:
    * one O(src x nlists) pass over the broadcast-sized centroid set only
    * (never the corpus); past 4096 centroids the source side is
    * stride-sampled — splinter is ~uniform per cluster (every cluster big
    * enough to matter contributes many centroids), so a deterministic
    * sample estimates the max well. tau = 0.5 sits in the measured gap
    * between intra-cluster cosine (~0.89 at the clustered generator's
    * sigma = 0.35) and the near-orthogonal inter-cluster band (~±0.125);
    * structure-less corpora have no centroid pair past tau and return 1,
    * leaving nprobe at the measured small constant. */
  def splinterEstimate(spark: SparkSession, dir: String, nlists: Int,
                       tau: Double = 0.5): Int =
    Artifact.value(spark, "spl", dir, Emb, s"${nlists}t$tau") {
      splinterOf(Search.corpus(spark, dir), nlists, tau)
    }

  /** [[splinterEstimate]] over an explicit centroid-source frame — the
    * streamed-append composition derives centroids from the VERSIONED
    * batch artifact (the a20/H12 rule), never the appended rows. */
  private[graft] def splinterOf(centSource: DataFrame, nlists: Int,
                                tau: Double = 0.5): Int = {
    val cent = Stages.centroids(centSource, nlists)
    val srcStride = math.max(1L, nlists.toLong / 4096L)
    val src = cent.filter(col("cent_id") % srcStride === 0)
      .select(col("cent_id").as("src"), col("cv").as("sv"), col("cnrm").as("snrm"))
    src.join(broadcast(cent), lit(true))
      .filter(Stages.cosine(col("sv"), col("snrm"), col("cv"), col("cnrm")) >= tau)
      .groupBy("src").agg(count(lit(1)).as("nn"))
      .agg(max(col("nn"))).collect()(0).getLong(0).toInt
  }

  /** The rerank-depth LAW, as MEASURED (PLANS §clustered-corpus, sf1 occ
    * ~313 and sf10 occ ~3125 on the 64-Gaussian corpus): mean recall@10 of
    * a7's ADC-shortlist + exact-rerank as a function of R/occupancy.
    * Within a tight cluster the 8-byte codes cannot order near-identical
    * vectors, so the shortlist must COVER the query's cluster crowd before
    * exact rerank can recover the true top-10. Monotone in R/occ; both
    * decades interleave on one curve, so the chooser interpolates it
    * rather than trusting a closed form the data didn't validate. */
  private val RerankRecallCurve: Seq[(Double, Double)] = Seq(
    0.016 -> 0.052, 0.064 -> 0.167, 0.16 -> 0.274,
    0.256 -> 0.474, 0.64 -> 0.803, 2.56 -> 1.0)

  /** R/occupancy ratio needed for `recallFloor`, by inverse interpolation
    * of [[RerankRecallCurve]] (clamped to the measured range: floors below
    * the lowest measured recall still pay the lowest measured ratio). */
  private[graft] def rerankRatioFor(recallFloor: Double): Double = {
    val c = RerankRecallCurve
    if (recallFloor <= c.head._2) c.head._1
    else c.sliding(2).collectFirst {
      case Seq((r0, f0), (r1, f1)) if recallFloor <= f1 =>
        r0 + (r1 - r0) * (recallFloor - f0) / (f1 - f0)
    }.getOrElse(c.last._1)
  }

  /** The a-family's d5-style operating-point chooser (r12, the direct
    * sequel to d5OperatingPoint): (nlists, nprobe, rerankDepth) from live
    * corpus statistics, encoding the two laws PLANS §clustered-corpus
    * measured instead of literals tuned at another scale.
    *
    *  - nlists: [[nlistsFor]] — sqrt growth toward cluster alignment.
    *  - nprobe: regime-split, honestly. `clusteredRegime=true` (the data
    *    IVF exists for) probes max(3, [[splinterEstimate]]) lists — recall
    *    DECOUPLES from the scanned fraction once nlists reaches alignment
    *    (1.000 at 1.6% scanned), but once nlists GROWS PAST the natural
    *    cluster count the deterministic centroids duplicate and one crowd
    *    splinters across ~splinter lists, each of which must be probed
    *    (the third-decade miss: 0.763 under a 0.9 floor at 448 lists /
    *    64 clusters / nprobe 3). On structure-less
    *    data (`clusteredRegime=false`) no index beats the scanned
    *    fraction (§ivf-dial: recall ≈ nprobe/nlists), so the floor fixes
    *    nprobe = ceil(floor·nlists); past `maxScanFraction` that is a
    *    scan wearing an index hat and the chooser THROWS — route to a1
    *    brute force, which is exact at the same cost.
    *  - rerankDepth: [[rerankRatioFor]] · occupancy · 2 (the safety
    *    factor for max-list-size understating true cluster occupancy
    *    under splintered deterministic centroids), floored at the
    *    oracle-pinned 50. A depth past `maxRerank` or the corpus count
    *    means the 8-byte codes cannot shortlist this corpus at this
    *    floor — THROW, route to a2 (raw-vector IVF) or a1.
    */
  def annOperatingPoint(corpusCount: Long, occupancyEstimate: Long,
                        recallFloor: Double, clusteredRegime: Boolean = true,
                        maxScanFraction: Double = 0.25,
                        maxRerank: Int = 65536,
                        splinter: Int = 1): AnnPoint = {
    require(corpusCount > 0, s"corpusCount $corpusCount")
    require(occupancyEstimate > 0, s"occupancyEstimate $occupancyEstimate")
    require(recallFloor > 0.0 && recallFloor < 1.0, s"recallFloor $recallFloor")
    require(splinter >= 1, s"splinter $splinter")
    val nlists = nlistsFor(corpusCount)
    val nprobe =
      if (clusteredRegime) {
        // probe every list the query's cluster crowd can splinter across
        // ([[splinterEstimate]]); splinter 1 keeps the measured constant 3
        val need = math.max(3, splinter)
        if (need > maxScanFraction * nlists) throw new IllegalArgumentException(
          f"ANN dial infeasible: clustered data splinters one crowd across " +
            f"$splinter%d of $nlists%d lists — covering it (nprobe=$need%d) " +
            f"exceeds maxScanFraction=$maxScanFraction%.2f, so the corpus is " +
            "effectively one giant crowd at this nlists; use " +
            "a1_knn_bruteforce or rebuild with a learned coarse quantizer " +
            "(a4) whose centroids do not duplicate")
        need
      } else {
        val need = math.max(3, math.ceil(recallFloor * nlists).toInt)
        if (need > maxScanFraction * nlists) throw new IllegalArgumentException(
          f"ANN dial infeasible: recall>=$recallFloor%.2f on structure-less " +
            f"data needs nprobe=$need%d of $nlists%d lists (recall ~ scanned " +
            f"fraction, PLANS §ivf-dial) — past maxScanFraction=" +
            f"$maxScanFraction%.2f that is a scan wearing an index hat; use " +
            "a1_knn_bruteforce (exact at the same cost) or accept a lower floor")
        need
      }
    val depth = math.max(50L, math.ceil(
      rerankRatioFor(recallFloor) * occupancyEstimate * 2.0).toLong)
    if (depth > maxRerank || depth >= corpusCount) throw new IllegalArgumentException(
      f"ANN dial infeasible: recall>=$recallFloor%.2f at occupancy " +
        f"~$occupancyEstimate%d needs rerankDepth=$depth%d (> maxRerank=" +
        f"$maxRerank%d or >= corpus $corpusCount%d) — the 8-byte PQ codes " +
        "cannot shortlist this corpus at this floor; use a2_knn_ivf (raw " +
        "vectors, partition-pruned) or a1_knn_bruteforce")
    AnnPoint(nlists, nprobe, depth.toInt)
  }

  /** D2 AUTO MODE (r12 — the chooser IS the path, mirroring
    * d5EmbeddingNeardupAuto): nlists/nprobe come from [[annOperatingPoint]]
    * on the live corpus count, so a pipeline caller gets the sqrt-law
    * quantizer and the chooser's infeasibility throw instead of the
    * oracle-pinned 8x3 literal whose failure the repo itself measured
    * (37.5% scanned at 13.8 s where the aligned index takes 1.6 s, PLANS
    * §clustered-corpus). The registered `a2_knn_ivf` query keeps the
    * pinned literal — this entry point is additive (AnnAutoSpec). The
    * corpus count doubles as the fixed-Q guard's probe-count witness
    * (queries = N/101 under testdata), so the guard is free here. */
  def a2KnnIvfAuto(spark: SparkSession, dir: String,
                   recallFloor: Double = 0.9,
                   clusteredRegime: Boolean = true): DataFrame = {
    val n = Search.corpus(spark, dir).count()
    fixedQGuard(n / 101 + 1, "a2KnnIvfAuto")
    val occ = occupancyEstimate(spark, dir, nlistsFor(n))
    val spl = splinterEstimate(spark, dir, nlistsFor(n))
    val p = annOperatingPoint(n, occ, recallFloor, clusteredRegime, splinter = spl)
    ivfTopK(spark, dir, sameLabel = false, nlists = p.nlists, nprobe = p.nprobe)
  }

  /** D3: IVF quality — recall@10 of the IVF search against the brute-force
    * ground truth for the same query set. Both sides are deterministic
    * (rounded similarity, id tie-break), so recall itself is oracle-checked:
    * the accuracy/speed trade of the index is a first-class, graded number
    * rather than a claim. */
  def a3IvfRecall(spark: SparkSession, dir: String): DataFrame =
    Pq.recallVsBruteForce(spark, dir, a2KnnIvf(spark, dir))

  /** Split rule for the incremental-index scenario: every 13th vector is
    * "today's ingest"; the rest are the already-indexed corpus. */
  private[graft] val A20NewBatch = col("vec_id") % 13 === 0

  /** D20 (a20): incremental IVF index maintenance — the d9 analog for the
    * ANN family: a new vector batch is assigned against the ORIGINAL
    * index's centroid artifact (no retrain, no touch of existing lists)
    * and appended to the per-list partitions. Assignment is row-local
    * (broadcast centroids), so the refresh costs O(batch) — never
    * O(corpus) — and, because each row's list depends only on (row,
    * centroids), the appended index is IDENTICAL to a full rebuild
    * (IncrementalIvfSpec proves table equality; the oracle checks the
    * per-list growth report). At 100 TB: the append is a partition-wise
    * parquet write into the existing list_id layout; centroid retrain is
    * a separate, versioned re-INDEX decision, exactly as in FAISS/Milvus
    * deployments. */
  def a20IncrementalIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Search.corpus(spark, dir)
    // existing index: the pre-ingest corpus assigned at original build
    // time (centroids = the versioned artifact, derived from the full
    // centroid id rule either way — vec_id < 8)
    val existing = listAssignment(e.filter(!A20NewBatch), Some(e))
    // the incremental step: ONLY the new batch flows through assignment
    val appended = listAssignment(e.filter(A20NewBatch), Some(e))
    existing.groupBy("list_id").agg(count(lit(1)).as("n_existing"))
      .join(appended.groupBy("list_id").agg(count(lit(1)).as("n_new")),
        Seq("list_id"), "full_outer")
      .select(col("list_id"),
        coalesce(col("n_existing"), lit(0L)).as("n_existing"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", col("n_existing") + col("n_new"))
      .orderBy("list_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a2_knn_ivf" -> ((s, d) => a2KnnIvf(s, d)),
    "a3_ivf_recall" -> ((s, d) => a3IvfRecall(s, d)),
    "a10_ivf_filtered" -> ((s, d) => a10IvfFiltered(s, d)),
    "a20_incremental_ivf" -> ((s, d) => a20IncrementalIvf(s, d)),
  )

  import Stages.Sql.{centroids, corpus, cosine, keepTopK, probes, ranked, recallAt}

  /** Shared CTE chain producing the IVF ranked results (a2 + a3 unfiltered;
    * a10 with the label predicate inside the probe join). */
  private def ivfCte(sameLabel: Boolean): String = {
    val labelCond = if (sameLabel) " AND a.label = p.qlabel" else ""
    s"""${corpus(label = true)},
         |${centroids("8", label = true, vectors = true)},
         |${probes("probes", 101, "3", label = true, vectors = true)}, scored AS (
         |  SELECT p.query_id, a.vec_id,
         |    ${cosine("p.qv", "p.qnrm", "a.v", "a.nrm")} AS similarity
         |  FROM probes p JOIN asg a ON a.list_id = p.list_id AND a.vec_id <> p.query_id$labelCond
         |), ${ranked("ranked", "scored")}""".stripMargin
  }
  private val IvfCte: String = ivfCte(sameLabel = false)

  val oracle: Map[String, String] = Map(
    "a2_knn_ivf" -> (IvfCte + keepTopK()),

    "a10_ivf_filtered" -> (ivfCte(sameLabel = true) + keepTopK()),

    "a20_incremental_ivf" -> (IvfCte +
      """
         |SELECT list_id,
         |  CAST(sum(CASE WHEN vec_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
         |  CAST(sum(CASE WHEN vec_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(count(*) AS BIGINT) AS n_total
         |FROM asg GROUP BY list_id ORDER BY list_id""".stripMargin),

    "a3_ivf_recall" -> (IvfCte + recallAt("ivf")),
  )
}
