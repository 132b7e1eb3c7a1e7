package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.rag.Search
import graft.sources.{Artifact, Warehouse}

/** Product quantization ANN (SURVEY.md §2.D5) — the memory-compression
  * scale path: a 100 TB float embedding store collapses to 8 bytes per
  * vector (8 subvectors x 1-byte codes), so the searchable index fits in a
  * fraction of the footprint and scoring never touches the raw vectors.
  * Public technique: Jégou et al., "Product Quantization for Nearest
  * Neighbor Search" (TPAMI 2011).
  *
  * Index build (one-time, narrow): the 64-dim space splits into M=8
  * subspaces of 8 dims; each subspace gets K=16 data-drawn centroids (the
  * subvectors of the rows with vec_id < K — deterministic, so the DuckDB
  * oracle replays the exact same codebook). Every vector stores, per
  * subspace, the id of its nearest centroid (rounded L2 distance,
  * centroid-id tie-break) plus the reconstruction norm.
  *
  * Query (ADC — asymmetric distance computation): each query precomputes a
  * 8x16 lookup table of subvector dot products against the codebook
  * (tiny, broadcast); scoring a corpus vector is 8 array lookups + 7
  * additions on the CODES — no 64-dim math per pair, no shuffle of the
  * corpus. Every sum is written left-to-right in both engines so the
  * rounded similarity is bit-identical cross-engine.
  */
object Pq {

  val M = 8   // subvectors
  val D = 8   // dims per subvector AT THE PINNED dim-64 CORPUS (below)
  val K = 16  // centroids per subvector

  /** Dims per subvector for THIS corpus: dim/M, read LIVE from one corpus
    * row as an artifact value — r15, verdict r14 #3 ("no
    * end-to-end dim ≠ 64 run"): [[D]] = 8 silently assumed dim = 64, so a
    * dim-128 corpus would have been ENCODED ON ITS FIRST 64 DIMS ONLY —
    * codes, LUTs and ADC scores all blind to half the vector, with no
    * error anywhere. The serving entry points (a5/a7/a13/a22 — the
    * router's dispatch surface) derive this; at the pinned dim-64 corpora
    * it equals [[D]] and every registered plan is byte-identical. A dim
    * not divisible by [[M]] refuses loudly (a real deployment re-picks M
    * with the codebook; mis-slicing is never an answer). */
  private[graft] def subDimOf(spark: SparkSession, dir: String): Int =
    Artifact.value(spark, "subdim", dir, Ann.Emb) {
      val dim = Search.corpus(spark, dir).select(col("v")).head().getSeq[Any](0).length
      require(dim >= M && dim % M == 0,
        s"PQ subspace split needs dim divisible by M=$M, corpus at $dir has dim=$dim")
      dim / M
    }

  /** Codebook: (m, k, c, cn2) from the corpus rows with vec_id < K. */
  private def codebook(e: DataFrame, d: Int = D): DataFrame =
    Stages.codebook(e.filter(col("vec_id") < K).select(col("vec_id").as("k"), col("v")),
      col("k"), col("v"), d)

  /** PQ codes, one row per vector: code0..code7 + per-subspace
    * chosen-centroid norms cn0..cn7 (summed left-to-right downstream). */
  private def encode(e: DataFrame, cb: DataFrame, d: Int = D): DataFrame =
    Stages.encode(e, cb, col("v"), d, Seq(col("vec_id")))

  /** A PQ code index per codebook flavor, an artifact written as a
    * bucketed parquet table — the production shape: a PQ
    * index IS a written 8-byte-per-vector code table, built in one pass
    * and probed by every query after; a5/a6/a7/a8 between them would
    * otherwise re-encode the corpus four+ times per run. `prefix` keys the
    * codebook flavor ("pqcodes" deterministic, "pqkcodes" k-means). */
  private def codesTable(spark: SparkSession, dir: String, e: DataFrame,
                         cb: DataFrame, prefix: String, d: Int = D): DataFrame =
    Artifact.table(spark, prefix, dir, Ann.Emb) { t =>
      Warehouse.writeBucketed(encode(e, cb, d), t, "vec_id")
    }

  /** D5: PQ top-10 for the query set (vec_id % 101 == 0, as the IVF path).
    * Similarity = approx_dot / (qnrm * recon_nrm), rounded; rank with id
    * tie-break. */
  def a5PqTopK(spark: SparkSession, dir: String, k: Int = 10,
               qmod: Int = 101): DataFrame = {
    val e = Search.corpus(spark, dir) // vec_id, label, v, nrm
    val d = subDimOf(spark, dir)      // == D at the pinned dim-64 corpora
    val cb = codebook(e, d)
    adcTopK(e, cb, k, codesTable(spark, dir, e, cb, "pqcodes", d), qmod, d)
  }

  /** Per-query ADC lookup tables (query_id, qnrm, l0..l7) against ANY
    * (m, k, c, cn2) codebook ([[Stages.lut]]). */
  private def queryLut(e: DataFrame, cb: DataFrame, qmod: Int = 101,
                       d: Int = D): DataFrame =
    Stages.lut(e.filter(col("vec_id") % qmod === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm")),
      cb, col("qv"), d, col("query_id"), col("qnrm"))

  /** ADC similarity of a scored (codes x lut) row: the reconstruction
    * norm is the left-to-right sum of the chosen centroids' cn<m>. */
  private def adcSim: Column =
    Stages.adcScore((0 until M).map(m => col(s"cn$m")).reduce(_ + _))

  /** ADC search against ANY (m, k, c, cn2) codebook — shared by the
    * deterministic (a5, pre-encoded `codesOpt` index) and k-means-trained
    * (a9, inline encode) paths. */
  private def adcTopK(e: DataFrame, cb: DataFrame, k: Int,
                      codesOpt: DataFrame = null, qmod: Int = 101,
                      d: Int = D): DataFrame = {
    val codes = Option(codesOpt).getOrElse(encode(e, cb, d))
    // fixed-Q contract (Ann scaladoc): the per-query LUT is O(queries),
    // small by the serving contract, not by the testdata's vec_id % 101.
    Stages.rankTopK(codes.join(broadcast(queryLut(e, cb, qmod, d)),
      col("vec_id") =!= col("query_id")), adcSim, k)
  }

  /** D7: PQ with exact re-rank — the production shape: the 8-byte codes
    * produce an ADC shortlist of R=50 candidates per query (cheap, never
    * touches raw vectors), then ONLY the shortlist joins back to the raw
    * vectors for exact cosine top-10. At 100 TB the exact math runs on
    * 50 rows per query instead of the corpus; recall is restored while the
    * scan stays code-only. */
  // rerankDepth is the PQ family's SCALE DIAL on clustered data (r11,
  // PLANS §clustered-corpus): within a tight cluster the 8-byte codes
  // cannot order near-identical vectors, so the ADC shortlist must be
  // deep enough to COVER the query's cluster occupancy (~N/k members)
  // before exact rerank can recover the true top-10 — R=50 is the
  // oracle-pinned default (fits the uniform corpus and sf0.1 clusters);
  // a clustered corpus at sf1 (~310/cluster) needs R in the hundreds.
  // The nprobe analogy is exact: both dials trade a bounded candidate
  // scan for recall, and both grow with occupancy, not corpus size.
  def a7PqRerank(spark: SparkSession, dir: String,
                 rerankDepth: Int = 50, qmod: Int = 101): DataFrame =
    exactRerank(spark, dir,
      a5PqTopK(spark, dir, k = rerankDepth, qmod = qmod)
        .select(col("query_id"), col("vec_id")), qmod)

  /** Exact cosine re-rank of ANY (query_id, vec_id) shortlist against the
    * raw vectors — the "refine" stage shared by a7 (flat-ADC shortlist)
    * and a22 (probe-pruned IVFPQ shortlist). Identical DataFrame ops to
    * the pre-r13 inline a7 body, so the a7 plan fingerprint is unchanged. */
  private def exactRerank(spark: SparkSession, dir: String,
                          shortlist: DataFrame, qmod: Int,
                          vecSource: Option[DataFrame] = None,
                          corpusOver: Option[DataFrame] = None): DataFrame = {
    // corpusOver (r17): an explicit (vec_id, label, v, nrm) corpus for the
    // streamed serves — queries and candidates both draw from
    // (batch ∪ appends) instead of the batch dir; defaults keep every
    // registered plan byte-identical
    val e = corpusOver.getOrElse(Search.corpus(spark, dir))
    val probes = e.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // broadcast the (queries x R)-row shortlist into the corpus scan —
    // without the hint the stats-less window output plans a sort-merge
    // join that shuffles the raw-vector corpus. Fixed-Q contract (Ann
    // scaladoc): both sides are O(queries), small by the serving shape.
    // `vecSource` (r13): an alternative raw-vector source for the
    // candidate read — a22 passes the probed partitions of the IVF list
    // table so the refine retrieval reads nprobe/nlists of the vector
    // bytes instead of the whole corpus file (measured: IOBYTES_r13).
    val cand = vecSource.getOrElse(e).select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(probes), "query_id")
    Stages.rankTopK(cand, Stages.cosine(col("qv"), col("qnrm"), col("v"), col("nrm")), 10)
  }

  /** D24 (a22, r13): IVFPQ + exact re-rank — the full production index
    * (FAISS `IVFx,PQy` + refine; Jégou et al. 2011 §V): coarse pruning
    * to nprobe lists, ADC scoring of the probed 8-byte codes, top-R
    * shortlist, exact cosine only on the R raw vectors. The piece the
    * family was missing: a13's pure-ADC ranking collapses inside tight
    * clusters (measured 0.012 recall at sf10-clustered occupancy — codes
    * cannot order near-identical vectors) and a7's flat ADC scan reads
    * every code; a22 composes BOTH prunings with the recall-restoring
    * rerank, so at 100 TB a query reads nprobe/nlists of the 8-byte code
    * table plus R raw vectors — the io-optimal shape the family router
    * prices as `ivf_pq_r` ([[Router]]). All three dials
    * (nlists, nprobe, rerankDepth) are [[Ann.annOperatingPoint]]'s;
    * registered defaults stay oracle-pinned at 8/3/50.
    *
    * Refine retrieval (r13, measured in IOBYTES_r13.json): every
    * shortlist row lives in a PROBED list, so the raw vectors the rerank
    * touches are retrieved from the probed partitions of the IVF list
    * table (static `IN` partition filter over the ≤ nprobe·Q distinct
    * probed list ids — the a13z memoized-IN-set shape) instead of
    * re-scanning the flat corpus file. On a parquet layout that makes the
    * measured per-query read nprobe/nlists of (codes + vectors); the
    * router's R·VecBytes io pricing additionally assumes a row-level
    * retrieval store (see [[Router]] storage note). Results are
    * byte-identical either way — the shortlist join selects the same
    * rows — so the oracle is unchanged; only the scan source moved. */
  def a22IvfPqRerank(spark: SparkSession, dir: String, qmod: Int = 101,
                     nlists: Int = 8, nprobe: Int = 3,
                     rerankDepth: Int = 50,
                     prunedRerank: Boolean = true): DataFrame = {
    // the probed-list id set is ONE driver-side collect (r14, ADVICE r13):
    // both pruned scans — the code table inside a13 and the refine's
    // vector retrieval — share it, instead of each re-running the
    // query-scan + window job that computes it
    // memoized per (corpus, signature, dials) as of r18 — the collect was
    // the last per-serve driver job in this chain (Ann.probedListIdsCached)
    val probed = if (prunedRerank)
      Some(Ann.probedListIdsCached(spark, dir, nprobe, nlists, qmod))
    else None // pre-r13 shape: refine re-scans the flat corpus file
    val vecSource = probed.map(ids =>
      Ann.ivfListTable(spark, dir, nlists).filter(col("list_id").isin(ids: _*)))
    exactRerank(spark, dir,
      a13IvfPqTopK(spark, dir, k = rerankDepth, qmod = qmod,
        nlists = nlists, nprobe = nprobe,
        prunedListIds = probed)
        .select(col("query_id"), col("vec_id")), qmod,
      vecSource = vecSource)
  }

  /** The rebuild-law id floor the PQ streamed serves add on top of
    * [[Router.statsWithStream]]'s guards (equal dims, no collisions,
    * appended ids >= nlists): the deterministic codebook draws from
    * vec_id < K, so an appended id below max(nlists, K) would make an
    * equivalent batch rebuild draw DIFFERENT centroids or codebook than
    * the versioned batch artifacts — the serve could not equal the
    * rebuild and must refuse by name rather than silently diverge. */
  private def streamedIdGuard(streamedRaw: DataFrame, nlists: Int,
                              entry: String): Unit = {
    val h = streamedRaw.agg(count(lit(1)), min(col("vec_id"))).head()
    val floor = math.max(nlists, K).toLong
    require(h.getLong(0) == 0L || h.getLong(1) >= floor,
      s"$entry: appended vec_id ${h.getLong(1)} < max(nlists=$nlists, K=$K) " +
        "— an equivalent batch rebuild would draw different centroids/" +
        "codebook than the versioned artifacts; compact the appends into " +
        "the corpus and rebuild instead")
  }

  /** D28 (r17, verdict r16 #6): [[a22IvfPqRerank]] over (batch ∪ streamed
    * appends) — the PQ-family streamed serve the router previously
    * REFUSED. The appends are re-encoded against the VERSIONED batch
    * artifacts (codebook = batch ids < K, coarse centroids = batch ids <
    * nlists — [[encodeBatchAgainst]], H14's per-batch body), so the
    * combined code set is byte-identical to what a full batch rebuild of
    * the same data would encode, and the served rows row-match
    * `a22IvfPqRerank` on a rebuilt corpus at the same dials
    * (StreamIvfSpec). O(appends) re-encode per maintenance cycle, never a
    * corpus re-encode; queries are the standard qmod batch drawn from the
    * combined ids, so appended vectors are both searchable and queries. */
  private[graft] def ivfPqRerankStreamed(spark: SparkSession, dir: String,
      streamedRaw: DataFrame, nlists: Int = 8, nprobe: Int = 3,
      rerankDepth: Int = 50, qmod: Int = 101): DataFrame = {
    streamedIdGuard(streamedRaw, nlists, "ivfPqRerankStreamed")
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir)
    val cb = codebook(e, d)
    val combined = e.select("vec_id", "label", "v", "nrm")
      .unionByName(streamedRaw.select("vec_id", "label", "v", "nrm"))
    // batch codes from the build-once artifact; append codes re-encoded
    // against the same versioned codebook/centroids. The artifact's
    // list_id reads back as a DISCOVERED partition column (int), the
    // fresh encode's as the centroid id (long) — align on the artifact's
    // type so the union is exact.
    val batchCodes = ivfPqTable(spark, dir, e, cb, nlists, d)
    val listType = batchCodes.schema("list_id").dataType
    val codes = batchCodes.unionByName(
      encodeBatchAgainst(e, streamedRaw, nlists)
        .withColumn("list_id", col("list_id").cast(listType)))
    // a13's probe join, with probes/LUTs drawn from the combined query
    // set against the versioned centroids/codebook
    val shortlist = probedAdcTopK(codes,
      Ann.listProbes(combined, nprobe = nprobe, nlists = nlists, qmod = qmod,
        centSource = Some(e)),
      queryLut(combined, cb, qmod, d), rerankDepth)
    exactRerank(spark, dir, shortlist.select(col("query_id"), col("vec_id")), qmod,
      corpusOver = Some(combined))
  }

  /** D28's flat-ADC sibling: [[a7PqRerank]] over (batch ∪ streamed) —
    * batch codes from the build-once code table, append codes encoded
    * inline against the versioned codebook; row-matches a7 on a rebuilt
    * corpus at the same depth (StreamIvfSpec, same rebuild-law
    * preconditions as [[ivfPqRerankStreamed]]). */
  private[graft] def pqRerankStreamed(spark: SparkSession, dir: String,
      streamedRaw: DataFrame, rerankDepth: Int = 50,
      qmod: Int = 101): DataFrame = {
    streamedIdGuard(streamedRaw, 0, "pqRerankStreamed")
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir)
    val cb = codebook(e, d)
    val combined = e.select("vec_id", "label", "v", "nrm")
      .unionByName(streamedRaw.select("vec_id", "label", "v", "nrm"))
    val codes = codesTable(spark, dir, e, cb, "pqcodes", d)
      .unionByName(encode(streamedRaw, cb, d))
    exactRerank(spark, dir,
      adcTopK(combined, cb, rerankDepth, codes, qmod, d)
        .select(col("query_id"), col("vec_id")),
      qmod, corpusOver = Some(combined))
  }

  /** D7 AUTO MODE (r12, the d5EmbeddingNeardupAuto pattern for the PQ
    * stack): rerankDepth comes from [[Ann.annOperatingPoint]] on live
    * corpus statistics — corpus count plus the max-list occupancy of the
    * build-once IVF artifact at the sqrt-law nlists (the cheapest
    * clusteredness statistic the corpus already owns) — so a pipeline
    * caller inherits the measured R ~ occupancy law and the chooser's
    * infeasibility throw, never the oracle-pinned R=50 literal whose
    * collapse the repo itself measured (recall 0.052 at 3,125/cluster,
    * PLANS §clustered-corpus). The registered `a7_pq_rerank` query keeps
    * the pinned literal — this entry point is additive (AnnAutoSpec).
    * The corpus count doubles as the fixed-Q guard's witness. */
  def a7PqRerankAuto(spark: SparkSession, dir: String,
                     recallFloor: Double = 0.9): DataFrame = {
    val n = Search.corpus(spark, dir).count()
    Ann.fixedQGuard(n / 101 + 1, "a7PqRerankAuto")
    val occ = Ann.occupancyEstimate(spark, dir, Ann.nlistsFor(n))
    val p = Ann.annOperatingPoint(n, occ, recallFloor)
    a7PqRerank(spark, dir, rerankDepth = p.rerankDepth)
  }

  /** recall@10 of an approximate result set vs exact brute force over the
    * same query set — shared by a6 (pure ADC) and a8 (re-ranked). */
  private[graft] def recallVsBruteForce(spark: SparkSession, dir: String,
                                 approx: DataFrame, qmod: Int = 101): DataFrame = {
    // truth read from the stored shortlist artifact (r17, guide §2.4) —
    // identical rows to the previous inline Search.knn(k=10) derivation
    // (Search.bruteTruth10 scaladoc proves the containment), two corpus
    // scans + a window per recall run replaced by a bucketed-table read
    val bf = Search.bruteTruth10(spark, dir, qmod)
    val common = bf.join(approx.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    bf.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(common, Seq("query_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("recall", round(col("n_common").cast("double") / col("n_true"), 6))
      .select("query_id", "n_true", "n_common", "recall")
      .orderBy("query_id")
  }

  /** D6: PQ quality — recall@10 against exact brute force (a3's shape):
    * the compression/accuracy trade is a measured, oracle-checked number. */
  def a6PqRecall(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame =
    recallVsBruteForce(spark, dir, a5PqTopK(spark, dir, qmod = qmod), qmod)

  /** Trained codebook: one seeded MLlib k-means per subspace over the
    * corpus subvectors — the production codebook build (a4's MLlib path
    * applied per-subspace). Centers land in the same (m, k, c, cn2) shape
    * as the deterministic codebook, so the whole ADC pipeline is reused
    * unchanged. Not oracle-gated (k-means isn't SQL-reproducible) —
    * spec-tested instead. */
  private def trainedCodebook(spark: SparkSession, e: DataFrame,
                              d: Int = D): DataFrame = {
    import spark.implicits._
    import scala.collection.parallel.CollectionConverters._
    // codebooks train on a deterministic ~25% sample — standard PQ practice
    // (a few hundred vectors per centroid suffice) and 4x less fit time.
    // The sample is cached once: the 8 fits each make maxIter+1 passes, so
    // without the cache the corpus parquet is re-read ~32 times.
    // The 8 per-subspace fits are INDEPENDENT small jobs whose cost at this
    // scale is dominated by job-scheduling latency, so they submit
    // concurrently (Spark's scheduler interleaves them across idle cores);
    // each fit keeps its own deterministic seed, so the trained centers —
    // and therefore the codebook rows, keyed (m, k) — are identical to the
    // sequential build at any submission order.
    val sample = e.filter(col("vec_id") % 4 === 0).select(col("v")).cache()
    sample.count()
    val rows = (0 until M).par.flatMap { m =>
      val sub = sample.select(
        org.apache.spark.ml.functions.array_to_vector(Stages.subvec(col("v"), m, d)).as("features"))
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(K).setSeed(42L + m).setMaxIter(3).setInitMode("random")
        .setFeaturesCol("features")
        .fit(sub)
      model.clusterCenters.zipWithIndex.map { case (c, kk) =>
        (m, kk, c.toArray.map(_.toFloat))
      }
    }.seq.sortBy(r => (r._1, r._2))
    sample.unpersist()
    rows.toDF("m", "k", "c").withColumn("cn2", Vec.dotNative(col("c"), col("c")))
  }

  /** The k-means codebook artifact: codebook training is index-BUILD
    * cost (in production the codebook is a written artifact versioned
    * with the corpus), so repeated a9 queries
    * must not re-fit 8 k-means models any more than repeated a5 queries
    * re-encode the corpus. */
  private def trainedCodebookTable(spark: SparkSession, dir: String,
                                   e: DataFrame): DataFrame =
    Artifact.table(spark, "pqkcb", dir, Ann.Emb) { t =>
      Warehouse.writeTable(trainedCodebook(spark, e, subDimOf(spark, dir)), t)
    }

  /** D9: PQ with k-means-trained codebooks (rows-only + spec): better
    * quantization than data-drawn centroids, same 8-byte index and ADC
    * scan — codebook and code table both read from the one-time build. */
  def a9PqKmeansTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir)
    val cb = trainedCodebookTable(spark, dir, e)
    adcTopK(e, cb, 10, codesTable(spark, dir, e, cb, "pqkcodes", d), d = d)
  }

  /** D8: recall@10 of the re-ranked PQ pipeline — shows the shortlist +
    * exact-rescore stage restoring the accuracy pure ADC gives up. */
  def a8PqRerankRecall(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame =
    recallVsBruteForce(spark, dir, a7PqRerank(spark, dir, qmod = qmod), qmod)

  /** Deterministic 64x64 orthogonal rotation for OPQ: md5-derived entries
    * QR-orthogonalized DRIVER-SIDE (breeze — a 64x64 factorization is
    * microseconds; plan-time constant like the d5 hyperplanes). Orthogonal
    * rotations preserve dots and norms exactly, so recall against the
    * unrotated brute-force ground truth is a valid comparison. */
  private[graft] lazy val OpqRotation: Seq[Seq[Double]] = {
    val n = 64
    val g = breeze.linalg.DenseMatrix.tabulate[Double](n, n) { (i, j) =>
      ((graft.functions.DetHash.h60Local(s"opq$i,$j") % 2000001L) - 1000000L) / 1000000.0
    }
    val q = breeze.linalg.qr(g).q
    Seq.tabulate(n)(i => Seq.tabulate(n)(j => q(i, j)))
  }

  /** v' = R v — one rotated coordinate per literal rotation row. An
    * interpreted-HOF map is fine for this corpus; a production 100 TB
    * index build would run the same R as a batched native GEMM inside
    * mapPartitions (rotation is one-time build cost, never query cost). */
  private def rotate(v: Column, m: Seq[Seq[Double]] = OpqRotation): Column =
    transform(typedlit(m), row => Vec.dotNative(v, row))

  /** D11 (a11): OPQ-style rotated PQ, recall-graded — the standard fix
    * when PQ's fixed 8-dim subspace splits straddle correlated dims: an
    * orthogonal rotation decorrelates/balances variance across subspaces
    * before quantization (public technique: Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — here the data-free random-rotation
    * variant; the learned R drops in without changing the plan). The
    * entire PQ pipeline (codebook, encode, ADC) runs unchanged on rotated
    * vectors; recall is measured against the UNROTATED exact ground truth
    * (legal: orthogonal R preserves cosine). Rows-only + spec (QR is not
    * SQL-reproducible): like a6, the compression/accuracy trade is an
    * emitted, graded number — on isotropic synthetic embeddings the gain
    * over a6 is expected ~0 (nothing to decorrelate), which the number
    * honestly shows; on real correlated embeddings this is the standard
    * recall lever. */
  def a11OpqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Search.corpus(spark, dir)
    // the rotation is a 64x64 ARTIFACT (like a learned R, versioned with
    // the corpus): a different-dim corpus must re-derive a matching R,
    // never be silently rotated/encoded through a mismatched one
    require(subDimOf(spark, dir) == D,
      s"a11's OPQ rotation is built for dim ${M * D}; re-derive R for this corpus")
    val er = e.select(col("vec_id"), col("label"), rotate(col("v")).as("v"), col("nrm"))
    // rotated-code index stored like every other code table (r17
    // optimization round, guide §1.2 step 1): the OPQ index IS
    // rotate-then-encode — a5's stored-artifact rule applies verbatim,
    // yet this recall query re-encoded the full rotated corpus inline on
    // every run (the only remaining per-run O(corpus·M·K) encode). Codes
    // are byte-identical to the inline encode (same er, same codebook),
    // so the graded rows are unchanged; the encode moves to cold.
    val cb = codebook(er)
    recallVsBruteForce(spark, dir,
      adcTopK(er, cb, 10, codesTable(spark, dir, er, cb, "pqrcodes")))
  }

  /** D15 (a15): LEARNED OPQ rotation — the data-trained counterpart of
    * a11's random rotation (the parametric solution of Ge et al. 2013):
    * PCA decorrelates the coordinates, then EIGENVALUE ALLOCATION
    * distributes the decorrelated dims across the M subspaces so their
    * variance products balance — raw PCA alone would sort all variance
    * into subvector 0, overloading one 16-centroid subquantizer while
    * the rest encode noise (the degenerate case the paper corrects).
    * Both steps only permute/rotate orthonormal rows, so R stays
    * orthogonal and recall against the UNROTATED brute-force truth
    * remains valid. Rows-only + spec (eigendecomposition is not
    * SQL-reproducible; the spec asserts orthogonality of R and a
    * non-vacuous mean-recall floor). */
  def a15OpqPcaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Search.corpus(spark, dir)
    require(subDimOf(spark, dir) == D,
      s"a15's PCA rotation trains at dim ${M * D}; re-derive for this corpus")
    val er = e.select(col("vec_id"), col("label"),
      rotate(col("v"), pcaRotation(spark, dir)).as("v"), col("nrm"))
    // stored rotated-code index — same rule and rationale as a11 (the
    // rotation R is session-memoized and deterministic per corpus, so the
    // code table is a pure corpus-version artifact)
    val cb = codebook(er)
    recallVsBruteForce(spark, dir,
      adcTopK(er, cb, 10, codesTable(spark, dir, er, cb, "pqpcodes")))
  }

  /** The learned rotation, an artifact value like every other build
    * artifact here (training is one distributed covariance
    * pass + a driver-side 64x64 eigendecomposition — index-build cost,
    * which must not be re-paid inside each timed query run).
    *
    * Rows are ordered by the balanced allocation: subspace m's D slots
    * hold the eigencomponents greedily assigned to bucket m (descending
    * eigenvalue, always into the non-full bucket with the smallest
    * log-variance product, lowest bucket id on ties — deterministic). */
  private[graft] def pcaRotation(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    Artifact.value(spark, "pca", dir, Ann.Emb) {
      val e = Search.corpus(spark, dir)
      val (pc, varExp) = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
        e.select(col("v")).rdd.map { r =>
          org.apache.spark.mllib.linalg.Vectors.dense(
            r.getSeq[Float](0).map(_.toDouble).toArray)
        }).computePrincipalComponentsAndExplainedVariance(64)
      // components arrive sorted by explained variance descending
      val bucketOf = Array.fill(M)(List.empty[Int])
      val logProd = Array.fill(M)(0.0)
      (0 until 64).foreach { j =>
        val m = (0 until M).filter(bucketOf(_).length < D)
          .minBy(b => (logProd(b), b))
        bucketOf(m) = bucketOf(m) :+ j
        logProd(m) += math.log(math.max(varExp(j), 1e-12))
      }
      val order = bucketOf.toSeq.flatten // output dim -> component index
      Seq.tabulate(64)(o => Seq.tabulate(64)(i => pc(i, order(o))))
    }

  /** The IVFPQ index table: PQ codes + coarse IVF list assignment,
    * an artifact written PARTITIONED BY list_id — the
    * FAISS `IVFx,PQy` layout as physical parquet: the inverted lists ARE
    * partitions, the in-list payload is 8 bytes of codes per vector, and
    * a probe reads nprobe/nlists of the data via partition pruning. */
  private def ivfPqTable(spark: SparkSession, dir: String, e: DataFrame,
                         cb: DataFrame, nlists: Int = 8, d: Int = D): DataFrame =
    Artifact.table(spark, "ivfpq", dir, Ann.Emb, if (nlists == 8) "" else s"$nlists") { t =>
      Warehouse.writePartitionedTable(
        encode(e, cb, d).join(
          Ann.listAssignment(e, nlists = nlists).select("vec_id", "list_id"), "vec_id"),
        t, "list_id")
    }

  /** IVFPQ rows for a NEW vector batch against the ORIGINAL corpus's
    * codebook and centroids (r13, H14 — the a20/H12 "assign against the
    * versioned artifact" rule applied to the code table): codebook and
    * coarse centroids derive from `corpusSource`, never the batch, so a
    * streamed append writes exactly the rows a full batch rebuild would
    * (StreamIvfSpec proves equality). Row-local per batch row —
    * O(batch · (M·K + nlists)) work, no shuffle of the existing index.
    * Returns the [[ivfPqTable]] schema: vec_id, code0..cn7, list_id. */
  private[graft] def encodeBatchAgainst(corpusSource: DataFrame,
                                        batch: DataFrame,
                                        nlists: Int = 8): DataFrame = {
    // subspace width from the VERSIONED CORPUS ARTIFACT, like the
    // codebook and centroids (review r15 #2: a dim-128 streamed append
    // encoding at the D=8 literal would write mixed-width codes into an
    // index built at the live width — silently, per batch). One tiny
    // first-row job per batch, consistent with the a20 re-derive rule.
    val dim = corpusSource.select(col("v")).head().getSeq[Any](0).length
    require(dim >= M && dim % M == 0,
      s"PQ subspace split needs dim divisible by M=$M, corpus has dim=$dim")
    val d = dim / M
    encode(batch, codebook(corpusSource, d), d).join(
      graft.ann.Ann.listAssignment(batch, Some(corpusSource), nlists)
        .select("vec_id", "list_id"),
      "vec_id")
  }

  /** Alternative physical layout for the IVFPQ index: ONE flat directory
    * Z-ordered on (list_id, label) instead of a directory per inverted
    * list ([[ivfPqTable]]). Directory-per-list prunes perfectly on the
    * probe's list set but (a) scans every row of a probed list when the
    * query also carries a label predicate (a10's filtered search — the
    * label dimension is unclustered inside a list), and (b) degenerates
    * to a tiny file per list once nlists reaches the 10k+ a 100 TB corpus
    * needs (the small-files problem [[graft.sources.Warehouse.compactPartitioned]]
    * exists to repair). The Z-ordered layout keeps the file count fixed
    * and gives every file a bounded min/max box in BOTH dimensions, so
    * parquet footer stats prune a filtered probe on the list predicate
    * AND the label predicate — SourcesSpec counts the candidate files per
    * predicate against per-file stats to prove both dimensions prune. */
  def writeZOrderedCodes(spark: SparkSession, dir: String, path: String,
                         files: Int = 8): Unit = {
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir)
    val cb = codebook(e, d)
    Warehouse.writeZOrderedN(
      encode(e, cb, d).join(
        Ann.listAssignment(e).select("vec_id", "list_id", "label"), "vec_id"),
      path, Seq("list_id", "label"), files = files)
  }

  /** D13 (a13): composed IVF+PQ — the canonical billion-scale ANN index
    * (Jégou et al. 2011, the FAISS IVFPQ default): coarse quantizer
    * prunes to nprobe inverted lists, PQ codes score candidates via ADC.
    * At 100 TB a query touches nprobe/nlists of an 8-byte-per-vector
    * table — both prunings compose (partition pruning x code compression)
    * and no raw vector is ever read at query time. */
  // nlists/nprobe freed r13 (the router's io-regime winner needs real
  // dials): default 8/3 keeps the oracle-pinned table name and plan.
  // `prunedListIds` (r13 as a boolean, r14 as the ids themselves per
  // ADVICE — the caller collects once and shares): DPP fires on this
  // probe join at the 8-list default but NOT at chooser-scale nlists
  // (measured: the 142-list code scan selected all 142 files) — a22
  // passes its collected probed-lists set to apply the same static IN
  // partition filter as the vector side (identical rows: the join
  // already restricts to probed lists); default None keeps the
  // registered a13 plan oracle-pinned.
  def a13IvfPqTopK(spark: SparkSession, dir: String, k: Int = 10,
                   qmod: Int = 101, nlists: Int = 8, nprobe: Int = 3,
                   prunedListIds: Option[Seq[Long]] = None): DataFrame = {
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir) // == D at the pinned dim-64 corpora
    val cb = codebook(e, d)
    val codes0 = ivfPqTable(spark, dir, e, cb, nlists, d)
    val codes = prunedListIds match {
      case Some(ids) => codes0.filter(col("list_id").isin(ids: _*))
      case None => codes0
    }
    probedAdcTopK(codes,
      Ann.listProbes(e, nprobe = nprobe, nlists = nlists, qmod = qmod),
      queryLut(e, cb, qmod, d), k)
  }

  /** ADC top-`k` within each query's probed lists — the IVFPQ serve of
    * a13, a13z and the streamed a22: `probes` (query_id, list_id) ⋈ `lut`
    * ⋈ `codes` (vec_id, code<m>, cn<m>, list_id). */
  private def probedAdcTopK(codes: DataFrame, probes: DataFrame,
                            lut: DataFrame, k: Int): DataFrame = {
    // broadcast(lut): both sides are O(queries) (fixed-Q contract), but
    // the stats-less aggregate outputs made the planner pick a
    // SortMergeJoin — 2 Exchanges + 2 Sorts inside EVERY IVFPQ probe
    // subtree (r18, guide §3.1; measured in plans/r18/a13_*_before.txt).
    // The hint collapses it to a BroadcastHashJoin of two tiny frames.
    val probe = probes.select(col("query_id"), col("list_id"))
      .join(broadcast(lut), "query_id")
    // fixed-Q contract (Ann scaladoc): probe is O(queries × nprobe).
    Stages.rankTopK(codes.join(broadcast(probe),
        codes("list_id") === probe("list_id") && col("vec_id") =!= col("query_id")),
      adcSim, k)
  }

  /** The z-ordered flat code table — [[writeZOrderedCodes]]' layout as
    * the probe-time artifact, read by path: its directory is the
    * artifact table's location, registered as an external table so the
    * registry can key, reuse and retire it like every other artifact. */
  private def zCodesDir(spark: SparkSession, dir: String): String = {
    val Seq(t) = Artifact.build(spark, Seq("ivfpqz"), dir, Ann.Emb) { case Seq(name) =>
      val loc = Warehouse.tableLocation(spark, name)
      // File count is a SCALE DIAL, not a constant (r10): a fixed
      // files=8 caps the probe scan at 8 tasks — measured at sf10 as
      // a13z 64 s vs a13's 15 s purely because the dir-per-list table
      // reads one file per writer task while the z layout read 8. Size
      // the z file count with the corpus (≈1 file per MB of source
      // vectors, floor 8) so the scan stays cores-wide AND the per-file
      // z-boxes stay small enough for footer stats to prune. The
      // sf0.1/sf0.01 driver corpora stay at exactly 8 files — the
      // committed layout the oracle and ZLayoutSpec pin — and the file
      // count never appears in the logical plan, so fingerprints are
      // unaffected at every scale.
      val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
      val srcBytes = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(src).getLength
      writeZOrderedCodes(spark, dir, loc.toString,
        files = math.max(8, (srcBytes >> 20).toInt))
      spark.catalog.createTable(name, loc.toString, "parquet"): Unit
    }
    Warehouse.tableLocation(spark, t).toString
  }

  /** a13z: the SAME IVFPQ probe semantics as [[a13IvfPqTopK]] but reading
    * the Z-ORDERED FLAT layout ([[writeZOrderedCodes]]) instead of the
    * directory-per-list table — the layout that survives nlists in the
    * 10k+ range, where dir-per-list degenerates into the small-files
    * problem. Pruning moves from Hive-style partition pruning to parquet
    * footer stats: the probed list set (nqueries x nprobe DISTINCT ids —
    * driver-side by construction, same contract as a19's probe selection)
    * is inlined as a literal IN, so the scan's PushedFilters carries
    * `In(list_id, ...)` and every file/row-group whose (z-bounded) min/max
    * box misses the probe set is skipped before a row is read. Results are
    * bit-identical to a13 — same codes, same LUTs, same tie-breaks —
    * which the a13 oracle (shared) and ZLayoutSpec both pin. */
  def a13zIvfPqTopK(spark: SparkSession, dir: String, k: Int = 10,
                    qmod: Int = 101): DataFrame = {
    val e = Search.corpus(spark, dir)
    val d = subDimOf(spark, dir) // == D at the pinned dim-64 corpora
    val cb = codebook(e, d)
    val codes = spark.read.parquet(zCodesDir(spark, dir))
    val probes = Ann.listProbes(e, qmod = qmod)
    val lut = queryLut(e, cb, qmod, d)
    // The probed-list id set is deterministic per corpus, so the driver-
    // side selection job (a probe-side scan) is an artifact value — the
    // per-query cost is the pruned scan + join
    // only, same accounting as every other build-once artifact. Sorted:
    // collect() returns shuffle order, and an unordered literal IN-list
    // would make the plan text (and its fingerprint) flutter.
    val probed = Artifact.value(spark, "zprobed", dir, Ann.Emb, s"q$qmod") {
      probes.select(col("query_id"), col("list_id")).join(broadcast(lut), "query_id")
        .select("list_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    }
    probedAdcTopK(codes.filter(col("list_id").isin(probed.toIndexedSeq: _*)),
      probes, lut, k)
  }

  /** D14 (a14): IVFPQ recall@10 vs exact brute force — the compounded
    * loss of both approximations (list pruning x code quantization),
    * measured instead of assumed. */
  def a14IvfPqRecall(spark: SparkSession, dir: String, qmod: Int = 101): DataFrame =
    recallVsBruteForce(spark, dir, a13IvfPqTopK(spark, dir, qmod = qmod), qmod)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a13_ivfpq_topk" -> ((s, d) => a13IvfPqTopK(s, d)),
    "a13z_ivfpq_topk" -> ((s, d) => a13zIvfPqTopK(s, d)),
    "a14_ivfpq_recall" -> ((s, d) => a14IvfPqRecall(s, d)),
    "a5_pq_topk" -> ((s, d) => a5PqTopK(s, d)),
    "a6_pq_recall" -> ((s, d) => a6PqRecall(s, d)),
    "a7_pq_rerank" -> ((s, d) => a7PqRerank(s, d)),
    "a8_pq_rerank_recall" -> ((s, d) => a8PqRerankRecall(s, d)),
    "a9_pq_kmeans" -> ((s, d) => a9PqKmeansTopK(s, d)),
    "a11_opq_recall" -> ((s, d) => a11OpqRecall(s, d)),
    "a15_opq_pca_recall" -> ((s, d) => a15OpqPcaRecall(s, d)),
    // r12, the d7s pattern (verdict #3): deterministic 1-in-13 QUERY
    // sample (qmod = 13 x 101) on BOTH engines. The graded artifacts —
    // code tables, IVF lists, LUT construction — stay full-corpus; only
    // the query fan-out divides by 13, which converts the sf10
    // DuckDB-infeasible ADC oracles into verdicts while the full variants
    // keep their driver-scale grades.
    "a5s_pq_topk" -> ((s, d) => a5PqTopK(s, d, qmod = 1313)),
    "a6s_pq_recall" -> ((s, d) => a6PqRecall(s, d, qmod = 1313)),
    "a7s_pq_rerank" -> ((s, d) => a7PqRerank(s, d, qmod = 1313)),
    "a8s_pq_rerank_recall" -> ((s, d) => a8PqRerankRecall(s, d, qmod = 1313)),
    "a13s_ivfpq_topk" -> ((s, d) => a13IvfPqTopK(s, d, qmod = 1313)),
    "a13zs_ivfpq_topk" -> ((s, d) => a13zIvfPqTopK(s, d, qmod = 1313)),
    "a14s_ivfpq_recall" -> ((s, d) => a14IvfPqRecall(s, d, qmod = 1313)),
    "a22_ivfpq_rerank" -> ((s, d) => a22IvfPqRerank(s, d)),
    "a22s_ivfpq_rerank" -> ((s, d) => a22IvfPqRerank(s, d, qmod = 1313)),
  )

  // ---------------------------------------------------------------- oracle

  import Stages.Sql.{adcSum, centroids, corpus, cosine, cosineOf, dot, keepTopK, lutJoins,
    probes, ranked, recallAt, subvec}

  /** CTE chain to the ranked ADC results (mirrors codebook + encode + LUT
    * scoring; every multi-term sum written left-to-right like the Spark
    * side so the rounded similarity is bit-identical). `extraCtes` injects
    * additional CTEs (IVF assignment for a13) and `scoredFromWhere`
    * replaces the candidate-generation FROM/WHERE of the scoring stage. */
  private def pqCteWith(extraCtes: String, scoredFromWhere: String,
                        qmod: Int = 101): String = {
    val rn2 = (0 until M).map(m => s"s.cnp$m").mkString(" + ")
    s"""${corpus(label = false)},
       |${Stages.Sql.codebook("cbn", "e.vec_id", "e.v", "en e", s"e.vec_id < $K", D)},
       |${Stages.Sql.encode("cbn", "en", "e", "v", D)}, probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id % $qmod = 0
       |), lut AS (
       |  SELECT p.query_id, c.m, c.k, ${dot(subvec("p.qv", "c.m", D), "c.c")} AS qd
       |  FROM probes p, cbn c
       |)$extraCtes, scored AS (
       |  SELECT p.query_id, s.vec_id,
       |    ${cosineOf(adcSum, "p.qnrm", s"sqrt($rn2)")} AS similarity
       |  $scoredFromWhere
       |), ${ranked("ranked", "scored")}""".stripMargin
  }

  private def pqCte(qmod: Int): String = pqCteWith("",
    s"""FROM cp s CROSS JOIN probes p
       |  ${lutJoins("p")}
       |  WHERE s.vec_id <> p.query_id""".stripMargin, qmod)

  private lazy val PqCte: String = pqCte(101)

  /** DuckDB 1.0 INLINES every CTE reference (the r11 d7 lesson): at sf10
    * the sampled oracles re-run multi-referenced chains N times without
    * this. Results are byte-identical with or without (verified for d7 at
    * every scale); applied only to the SAMPLED variants so the registered
    * oracle texts stay byte-stable. */
  private[ann] def materializeShared(sql: String, names: Seq[String]): String =
    names.foldLeft(sql)((acc, n) => acc.replace(s"$n AS (", s"$n AS MATERIALIZED ("))

  private val PqSharedCtes =
    Seq("en", "cbn", "cp", "probes", "lut", "asg0", "asg", "plist", "bf")

  /** a13's oracle: PQ CTEs + the IVF coarse assignment/probe CTEs (same
    * formulation as Ann's oracle, label-free), scoring restricted to
    * (query, list) probe pairs. */
  private def ivfPqCte(qmod: Int): String = pqCteWith(
    s""", ${centroids("8", label = false, vectors = false)},
       |${probes("plist", qmod, "3", label = false, vectors = false)}""".stripMargin,
    s"""FROM plist pl
       |  JOIN probes p ON p.query_id = pl.query_id
       |  JOIN asg a ON a.list_id = pl.list_id
       |  JOIN cp s ON s.vec_id = a.vec_id
       |  ${lutJoins("p")}
       |  WHERE s.vec_id <> p.query_id""".stripMargin, qmod)

  private lazy val IvfPqCte: String = ivfPqCte(101)

  /** ADC shortlist (R=50) -> exact cosine re-rank (appended after PqCte). */
  private lazy val RerankCte: String =
    s"""
       |, shortlist AS (
       |  SELECT query_id, vec_id FROM ranked WHERE rnk <= 50
       |), rr AS (
       |  SELECT s.query_id, s.vec_id,
       |    ${cosine("p.qv", "p.qnrm", "e2.v", "e2.nrm")} AS similarity
       |  FROM shortlist s
       |  JOIN en e2 ON e2.vec_id = s.vec_id
       |  JOIN probes p ON p.query_id = s.query_id
       |), ${ranked("rranked", "rr")}""".stripMargin

  val oracle: Map[String, String] = Map(
    "a5_pq_topk" -> (PqCte + keepTopK()),

    "a7_pq_rerank" -> (PqCte + RerankCte + keepTopK("rranked")),

    "a8_pq_rerank_recall" -> (PqCte + RerankCte + recallAt("rr10", "rranked")),

    "a13_ivfpq_topk" -> (IvfPqCte + keepTopK()),

    // a13z reads a different physical layout of the SAME index — identical
    // logical semantics, so the oracle is a13's verbatim
    "a13z_ivfpq_topk" -> (IvfPqCte + keepTopK()),

    "a14_ivfpq_recall" -> (IvfPqCte + recallAt("ivfpq")),

    "a6_pq_recall" -> (PqCte + recallAt("pq")),

    // ---- sampled variants (qmod 1313): same builders, shared CTEs
    // materialized for DuckDB feasibility one decade up (see
    // materializeShared) — results are qmod-restricted, never re-derived
    "a5s_pq_topk" -> materializeShared(pqCte(1313) + keepTopK(), PqSharedCtes),

    "a7s_pq_rerank" -> materializeShared(
      pqCte(1313) + RerankCte + keepTopK("rranked"), PqSharedCtes),

    "a8s_pq_rerank_recall" -> materializeShared(
      pqCte(1313) + RerankCte + recallAt("rr10", "rranked", qmod = 1313), PqSharedCtes),

    "a6s_pq_recall" -> materializeShared(pqCte(1313) + recallAt("pq", qmod = 1313), PqSharedCtes),

    "a13s_ivfpq_topk" -> materializeShared(ivfPqCte(1313) + keepTopK(), PqSharedCtes),

    // a13zs reads the z-ordered physical layout of the SAME index —
    // identical logical semantics, so the oracle is a13s's verbatim
    "a13zs_ivfpq_topk" -> materializeShared(ivfPqCte(1313) + keepTopK(), PqSharedCtes),

    "a14s_ivfpq_recall" -> materializeShared(
      ivfPqCte(1313) + recallAt("ivfpq", qmod = 1313), PqSharedCtes),

    // a22: the IVFPQ chain's ADC ranking re-ranked exactly — RerankCte's
    // shortlist reads `ranked`, which here is the probe-pruned variant
    "a22_ivfpq_rerank" -> (IvfPqCte + RerankCte + keepTopK("rranked")),

    "a22s_ivfpq_rerank" -> materializeShared(
      ivfPqCte(1313) + RerankCte + keepTopK("rranked"), PqSharedCtes),
  )
}
