package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.{coldThenMedian, fmt, timed}
import graft.ann.{Ann, GraphProbe, IvfPqR, KmeansIvf, Pq, Router, Stages}
import graft.dedup.Dedup
import graft.functions.Vec
import graft.rag.Search

/** Run-and-record sweeps over the ANN and dedup dials:
  * `runMain graft.Dial <mode> [args]`. Every member runs once cold (its
  * index or codebook build, codegen), then timed, so `*_sec` is probe cost
  * and a cold time is the build. Each mode prints JSON lines tagged with
  * its `harness` name; PLANS.md carries the measured curves.
  *
  *   - `ivf [sfDir] [settings]`: `a2_knn_ivf` at each `nlistsxnprobe`
  *     (default `8x3,32x3,128x3`), recall@10 vs the brute-force top-10.
  *   - `d5 [sfDir] [settings] [sampleMod]`: d5 at each `bits` (4 bands),
  *     `bitsxbands` or `auto[@floor]` (the chooser at the 0.4 threshold,
  *     floor 0.5 by default; default `2,3,4`), pair recall vs the brute
  *     cosine >= 0.4 truth, restricted to pairs touching every
  *     `sampleMod`-th vector when the N^2 truth is out of reach (an
  *     unbiased estimate of recall over all pairs).
  *   - `r5b [sfDir] [settings]`: cost of r5b at each `bitsxbands`
  *     (default `4x4`); its recall vs r5 is FindSimilarBlockedSpec's.
  *   - `clustered [sfDir] [outJson]`: every index family at the 8x3 probe
  *     budget, the chooser's operating point and both router regimes on a
  *     `tools/clustered_embeddings.py` corpus (default
  *     `./testdata_clustered/sf0.1`), mean recall@10 vs brute force.
  *   - `io_bytes [sfDir] [outJson]`: post-pruning parquet bytes each family
  *     selects for ONE query ([[ScanBytes]]; pruning composes over the
  *     union of probed lists, so only batch size ~1 shows per-query io),
  *     by account, and the ADC cost coefficient `adc_alpha_measured` that
  *     RouterSpec reads from IOBYTES_r*.json (default
  *     `./testdata_clustered/sf1`).
  *   - `skew`: a2/a13/a13z on the corpus at `SPARK_GRAFT_SF_DIR` and on a
  *     Zipf-skewed variant of it, with per-task p50/max durations — the
  *     straggler a wall-clock median hides.
  *
  * `sfDir` defaults to [[Harness.DefaultSfDir]]; with `outJson` the lines
  * are also written to that file.
  */
object Dial {

  def main(args: Array[String]): Unit = {
    val modes = Map[String, (SparkSession, Seq[String]) => Unit](
      "ivf" -> ivf, "d5" -> d5, "r5b" -> r5b, "clustered" -> clustered,
      "io_bytes" -> ioBytes, "skew" -> skew)
    val mode = args.headOption.flatMap(modes.get).getOrElse {
      System.err.println(s"usage: graft.Dial <${modes.keys.toSeq.sorted.mkString("|")}> [args]")
      sys.exit(2)
    }
    val spark = Harness.session()
    try mode(spark, args.toSeq.drop(1)) finally spark.stop()
  }

  /** `AxB` tokens of a comma list as (A, B); a bare `A` is (A, `b`). */
  private def grid(csv: String, b: Int = -1): Seq[(Int, Int)] =
    csv.split(',').map(_.trim).map(_.split('x') match {
      case Array(x, y) => (x.toInt, y.toInt)
      case Array(x) if b > 0 => (x.toInt, b)
    }).toSeq

  /** The last `n` path components of `dir`. */
  private def sfName(dir: String, n: Int = 1): String =
    dir.split('/').takeRight(n).mkString("/")

  private def brute(spark: SparkSession, sfDir: String, q: Column): DataFrame =
    Search.knn(spark, sfDir, q, k = 10, threshold = -1.0, clampZero = false, sameLabel = false)

  private def ivf(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.DefaultSfDir)
    val settings = grid(args.lift(1).getOrElse("8x3,32x3,128x3"))
    // the query set is every vec_id % 101 (the a2/a3 convention);
    // localCheckpoint(true) is eager, so the brute join is inside the timer
    val ((truth, nTruth), bruteSec) = timed {
      val t = brute(spark, sfDir, col("vec_id") % 101 === 0)
        .select(col("query_id"), col("vec_id")).localCheckpoint(true)
      (t, t.count())
    }
    println(s"""{"harness":"ivf_dial","sf":"${sfName(sfDir)}","truth_rows":$nTruth,"brute_sec":${fmt(bruteSec)}}""")
    settings.foreach { case (l, p) =>
      val query = () => Ann.a2KnnIvf(spark, sfDir, nlists = l, nprobe = p)
      val (coldSec, nOut, sec) = coldThenMedian(1)(query().count())
      val caught = query().join(truth, Seq("query_id", "vec_id")).count()
      val recall = if (nTruth == 0) -1.0 else caught.toDouble / nTruth
      println(s"""{"harness":"ivf_dial","nlists":$l,"nprobe":$p,"rows_out":$nOut,"recall":${fmt(recall)},"cold_sec":${fmt(coldSec)},"sec":${fmt(sec)}}""")
    }
  }

  private def d5(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.DefaultSfDir)
    val sampleMod = args.lift(2).map(_.toInt).getOrElse(1)
    val ((truth, nTruth), bruteSec) = timed {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", Vec.norm2Native(col("v")))
      val a = e.filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("oid"), col("v").as("vb"), col("nrm").as("nb"))
      val t = a.join(b, col("qid") =!= col("oid"))
        .withColumn("similarity", Stages.cosine(col("va"), col("na"), col("vb"), col("nb")))
        .filter(col("similarity") >= 0.4)
        .select(least(col("qid"), col("oid")).as("vec_a"),
          greatest(col("qid"), col("oid")).as("vec_b"))
        .distinct()
        .localCheckpoint(true)
      (t, t.count())
    }
    println(s"""{"harness":"d5_dial","sf":"${sfName(sfDir)}","sample_mod":$sampleMod,"truth_pairs":$nTruth,"brute_sec":${fmt(bruteSec)}}""")
    args.lift(1).getOrElse("2,3,4").split(',').map(_.trim).foreach { tok =>
      // `auto` runs THROUGH d5EmbeddingNeardupAuto (count + chooser + run,
      // what a pipeline caller hits); its pick is re-derived only to report
      val (mode, floor, (r, nb), query) =
        if (tok.startsWith("auto")) {
          val f = tok.split('@').lift(1).map(_.toDouble).getOrElse(0.5)
          val nCorpus = Tables.embeddings(spark, sfDir).count()
          ("auto", f, Dedup.d5OperatingPoint(nCorpus, 0.4, f),
            () => Dedup.d5EmbeddingNeardupAuto(spark, sfDir, simThreshold = 0.4, recallFloor = f))
        } else {
          val (b, n) = grid(tok, b = 4).head
          ("explicit", -1.0, (b, n),
            () => Dedup.d5EmbeddingNeardup(spark, sfDir, bitsPerBand = b, bands = n))
        }
      val (_, nOut, sec) = coldThenMedian(1)(query().count())
      val caught = query().join(truth, Seq("vec_a", "vec_b")).count()
      val recall = if (nTruth == 0) -1.0 else caught.toDouble / nTruth
      val predicted = Dedup.d5ClosedFormRecall(r, nb, 0.4)
      println(s"""{"harness":"d5_dial","mode":"$mode","recall_floor":${fmt(floor)},"bits_per_band":$r,"bands":$nb,"total_bits":${nb * r},"pairs_out":$nOut,"recall":${fmt(recall)},"predicted_recall":${fmt(predicted)},"sec":${fmt(sec)}}""")
    }
  }

  private def r5b(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.DefaultSfDir)
    grid(args.lift(1).getOrElse("4x4")).foreach { case (b, n) =>
      val (_, rows, sec) = coldThenMedian(1)(
        Search.r5bFindSimilarBlocked(spark, sfDir, bitsPerBand = b, bands = n).count())
      println(s"""{"harness":"r5b_dial","bits_per_band":$b,"bands":$n,"rows_out":$rows,"sec":${fmt(sec)}}""")
    }
  }

  private def clustered(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("./testdata_clustered/sf0.1")
    val out = new Harness.Lines(args.lift(1))
    val (nTruth, bruteSec) = timed(brute(spark, sfDir, col("vec_id") % 101 === 0).count())
    out.emit(s"""{"harness":"clustered_dial","sf":"${sfName(sfDir, 2)}","truth_rows":$nTruth,"brute_sec":${fmt(bruteSec)},"scanned_fraction":0.375}""")
    // what the chooser and the router pick on this corpus, beside what
    // every family they choose between delivers
    val nCorpus = Search.corpus(spark, sfDir).count()
    val occ = Ann.occupancyEstimate(spark, sfDir, Ann.nlistsFor(nCorpus))
    val spl = Ann.splinterEstimate(spark, sfDir, Ann.nlistsFor(nCorpus))
    val point = Ann.annOperatingPoint(nCorpus, occ, 0.9, splinter = spl)
    out.emit(s"""{"harness":"clustered_dial","auto_point":{"n":$nCorpus,"occupancy":$occ,"splinter":$spl,"recall_floor":0.9,"nlists":${point.nlists},"nprobe":${point.nprobe},"rerank_depth":${point.rerankDepth}}}""")
    Seq(Router.ComputeBound, Router.IoBound).foreach { reg =>
      val r = Router.route(nCorpus, occ, spl, 0.9, reg)
      out.emit(s"""{"harness":"clustered_dial","route":{"regime":"${r.regime}","family":"${r.family}","nlists":${r.nlists},"nprobe":${r.nprobe},"rerank_depth":${r.rerankDepth},"cost_brute":${fmt(r.costBrute)},"cost_ivf":${fmt(r.costIvf)},"cost_ivfpqr":${fmt(r.costIvfPqR)},"cost_pq":${fmt(r.costPq)}}}""")
    }
    val members: Seq[(String, () => DataFrame)] = Seq(
      "a2_ivf_det_8x3" -> (() => Ann.a2KnnIvf(spark, sfDir)),
      "a4_ivf_kmeans_8x3" -> (() => KmeansIvf.a4KnnIvfKmeans(spark, sfDir)),
      "a13_ivfpq_8x3" -> (() => Pq.a13IvfPqTopK(spark, sfDir)),
      "a16_ivfpqr_8x3" -> (() => IvfPqR.a16IvfPqResidualTopK(spark, sfDir)),
      "a18_ivfpqr_kmeans_8x3" -> (() => IvfPqR.a18IvfPqrKmeansTopK(spark, sfDir)),
      "a19_graph_8x3" -> (() => GraphProbe.a19GraphTopK(spark, sfDir)),
      "a5_pq_flat" -> (() => Pq.a5PqTopK(spark, sfDir)),
      "a7_pq_rerank" -> (() => Pq.a7PqRerank(spark, sfDir)),
      // the rerank depth must cover cluster occupancy (~N/64) before exact
      // rerank recovers what the 8-byte codes blur
      "a7_pq_rerank_r200" -> (() => Pq.a7PqRerank(spark, sfDir, rerankDepth = 200)),
      "a7_pq_rerank_r800" -> (() => Pq.a7PqRerank(spark, sfDir, rerankDepth = 800)),
      "a22_ivfpq_rerank_8x3" -> (() => Pq.a22IvfPqRerank(spark, sfDir)),
      "a22_auto_f0.9" -> (() => Pq.a22IvfPqRerank(spark, sfDir,
        nlists = point.nlists, nprobe = point.nprobe, rerankDepth = point.rerankDepth)),
      "a2_auto_f0.9" -> (() => Ann.a2KnnIvfAuto(spark, sfDir, recallFloor = 0.9)),
      "a7_auto_f0.9" -> (() => Pq.a7PqRerankAuto(spark, sfDir, recallFloor = 0.9)),
      // the routed dispatch in both regimes: the io pick may measure slower
      // on one box — that mismatch is the regime split's point
      "a_route_compute_f0.9" -> (() => Router.aRouteTopk(
        spark, sfDir, recallFloor = 0.9, regime = Router.ComputeBound)),
      "a_route_io_f0.9" -> (() => Router.aRouteTopk(
        spark, sfDir, recallFloor = 0.9, regime = Router.IoBound)),
    )
    members.foreach { case (name, mk) =>
      val (coldSec, nOut, sec) = coldThenMedian(1)(mk().count())
      val rec = Pq.recallVsBruteForce(spark, sfDir, mk())
        .agg(avg(col("recall")).as("r")).collect()(0).getDouble(0)
      out.emit(s"""{"harness":"clustered_dial","member":"$name","rows_out":$nOut,"mean_recall":${fmt(rec)},"cold_sec":${fmt(coldSec)},"sec":${fmt(sec)}}""")
    }
    out.write()
  }

  private def ioBytes(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("./testdata_clustered/sf1")
    val out = new Harness.Lines(args.lift(1))
    val e = Search.corpus(spark, sfDir)
    val n = e.count()
    val qmod = n.toInt // single query: only vec_id = 0 satisfies % n == 0
    val nl = Ann.nlistsFor(n)
    val occ = Ann.occupancyEstimate(spark, sfDir, nl)
    val spl = Ann.splinterEstimate(spark, sfDir, nl)
    val p = Ann.annOperatingPoint(n, occ, 0.9, splinter = spl)
    out.emit(s"""{"harness":"io_bytes","sf":"${sfName(sfDir, 2)}","n":$n,"auto_point":{"nlists":${p.nlists},"nprobe":${p.nprobe},"rerank_depth":${p.rerankDepth},"occupancy":$occ,"splinter":$spl}}""")
    // query_extract is the floor every family pays to load the query
    // vector from the flat corpus (the modulo predicate is not prunable)
    val members: Seq[(String, () => DataFrame)] = Seq(
      "query_extract" -> (() => e.filter(col("vec_id") % qmod === 0)),
      "a1_brute" -> (() => brute(spark, sfDir, col("vec_id") % qmod === 0)),
      "a2_ivf_8x3" -> (() => Ann.a2KnnIvf(spark, sfDir, 8, 3, qmod = qmod)),
      "a2_ivf_pruned_8x3" -> (() => Ann.a2KnnIvfPruned(spark, sfDir, 8, 3, qmod = qmod)),
      "a2_ivf_pruned_auto" -> (() =>
        Ann.a2KnnIvfPruned(spark, sfDir, p.nlists, p.nprobe, qmod = qmod)),
      "a5_pq_flat_adc" -> (() => Pq.a5PqTopK(spark, sfDir, qmod = qmod)),
      "a13_ivfpq_8x3" -> (() => Pq.a13IvfPqTopK(spark, sfDir, qmod = qmod)),
      "a22_flat_rerank_8x3" -> (() =>
        Pq.a22IvfPqRerank(spark, sfDir, qmod = qmod, prunedRerank = false)),
      "a22_pruned_rerank_8x3" -> (() => Pq.a22IvfPqRerank(spark, sfDir, qmod = qmod)),
      "a22_pruned_rerank_auto" -> (() => Pq.a22IvfPqRerank(spark, sfDir, qmod = qmod,
        nlists = p.nlists, nprobe = p.nprobe, rerankDepth = p.rerankDepth)),
    )
    // Accounts: the file-granular `filesSize` charges a whole file even
    // when row-group pruning reads a sliver, so scans of the monolithic
    // corpus file go to `corpus_bytes`, never the index's; `vec` is the
    // raw-vector list tables (graft_ivf*), `code` the PQ code tables. A
    // multi-root scan whose roots straddle accounts is `mixed`.
    def classifyOne(root: String): String =
      if (root.contains("graft_ivfpq") || root.contains("pqcodes") ||
          root.contains("graft_pq")) "code"
      else if (root.contains("graft_ivf")) "vec"
      else if (root.contains("embeddings.parquet")) "corpus"
      else "other"
    def classify(r: ScanBytes.ScanRead): String = {
      val classes = (if (r.roots.nonEmpty) r.roots else Seq(r.root)).map(classifyOne).distinct
      if (classes.size == 1) classes.head else "mixed"
    }
    val medianSec = scala.collection.mutable.Map.empty[String, Double]
    var mixedTotal = 0L
    members.foreach { case (name, mk) =>
      // median of 5: alpha below is a wall-time RATIO; bytes are
      // deterministic, times are not
      val (_, (rows, reads), sec) = coldThenMedian(5)(ScanBytes.selectedScanReads(mk()))
      medianSec(name) = sec
      val by = reads.groupBy(classify)
        .view.mapValues(rs => (rs.map(_.files).sum, rs.map(_.bytes).sum)).toMap
      def b(k: String): Long = by.get(k).map(_._2).getOrElse(0L)
      def fl(k: String): Long = by.get(k).map(_._1).getOrElse(0L)
      mixedTotal += b("mixed")
      out.emit(s"""{"harness":"io_bytes","member":"$name","rows_out":$rows,"index_vec_bytes":${b("vec")},"index_code_bytes":${b("code")},"corpus_bytes":${b("corpus")},"other_bytes":${b("other")},"mixed_bytes":${b("mixed")},"mixed_files":${fl("mixed")},"index_files":${fl("vec") + fl("code")},"sec":${fmt(sec)}}""")
    }
    // mixed scans are excluded from index_* by design: a gap means the
    // headline index bytes under-count
    out.emit(s"""{"harness":"io_bytes","mixed_bytes_total":$mixedTotal,"attribution_gap":${mixedTotal > 0}}""")
    if (mixedTotal > 0)
      System.err.println(s"[io_bytes] ATTRIBUTION GAP: $mixedTotal bytes in " +
        "mixed-class scans are excluded from index_* — re-attribute before " +
        "trusting the headline index byte counts")
    // Router.AdcAlpha re-measured on this box: a1_brute and a5_pq_flat_adc
    // both scan all N per query (exact dot vs ADC gather), so past the
    // shared query-extract floor their wall-time ratio is alpha. Both must
    // clear the floor by 1.2x, or the subtraction is noise.
    for {
      floor <- medianSec.get("query_extract")
      brute <- medianSec.get("a1_brute")
      adc <- medianSec.get("a5_pq_flat_adc")
      if brute > 1.2 * floor && adc > 1.2 * floor
    } out.emit(s"""{"harness":"io_bytes","adc_alpha_measured":${fmt((adc - floor) / (brute - floor), 2)},"router_adc_alpha":${Router.AdcAlpha},"floor_sec":${fmt(floor)},"brute_sec":${fmt(brute)},"adc_sec":${fmt(adc)},"derivation":"(adc_scan - extract_floor) / (brute_scan - extract_floor), median of 5, both scans > 1.2x floor","note":"small-corpus ratio is noisier than the sf10 anchor; re-derive at deployment scale before overriding route(alpha)"}""")
    out.write()
  }

  /** Zipf(s=2) over the 8 lists as cumulative thresholds in [0,1):
    * p(0)=0.65, p(1)=0.16, tail lists ~1-2%. */
  private val zipfCum: Seq[Double] = {
    val w = (1 to 8).map(i => 1.0 / (i * i))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  /** Deterministic skewed variant of `src/embeddings.parquet` at
    * `dst/embeddings.parquet`: centroid rows (vec_id < 8) unchanged, every
    * other vector 0.85*ĉ(target) + 0.15*v̂ with target ~ Zipf(2) keyed on
    * xxhash64(vec_id), so nearest-centroid assignment follows the draw
    * while vectors stay full-rank (PQ codebooks stay non-degenerate). */
  private def writeSkewedCorpus(spark: SparkSession, src: String, dst: String): Unit = {
    val e = Tables.embeddings(spark, src)
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("target"), col("embedding").as("cv"))
      .withColumn("cnrm", Vec.norm2Native(col("cv")))
    val u = pmod(xxhash64(col("vec_id")), lit(1000000L)).cast("double") / 1000000.0
    val target = zipfCum.init.zipWithIndex.foldRight(lit(7L)) {
      case ((cum, i), alt) => when(u < cum, lit(i.toLong)).otherwise(alt)
    }
    val skewed = e.filter(col("vec_id") >= 8)
      .withColumn("target", target)
      .withColumn("vnrm", Vec.norm2Native(col("embedding")))
      .join(broadcast(cent), "target")
      .withColumn("embedding", zip_with(col("cv"), col("embedding"),
        (c, v) => (c * 0.85 / col("cnrm") + v * 0.15 / col("vnrm")).cast("float")))
      .select("vec_id", "embedding", "label")
    e.filter(col("vec_id") < 8).select("vec_id", "embedding", "label")
      .unionByName(skewed)
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  private def skew(spark: SparkSession, args: Seq[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Harness.DefaultSfDir)
    val skewDir = new java.io.File("target/skew_corpus").getAbsolutePath
    writeSkewedCorpus(spark, srcDir, skewDir)
    // the measured list-size distribution: the Zipf claim as a number
    val sizes = Ann.listAssignment(Search.corpus(spark, skewDir))
      .groupBy("list_id").count().orderBy(desc("count"))
      .collect().map(r => r.getLong(1))
    val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        taskMs.synchronized { taskMs += te.taskInfo.duration }
    })
    val paths: Seq[(String, String => DataFrame)] = Seq(
      "a2_ivf" -> (d => Ann.a2KnnIvf(spark, d)),
      "a13_ivfpq" -> (d => Pq.a13IvfPqTopK(spark, d)),
      "a13z_ivfpq" -> (d => Pq.a13zIvfPqTopK(spark, d)))
    val n = 3
    def measure(dir: String): String = paths.map { case (name, fn) =>
      val (_, _, med) = coldThenMedian(n, taskMs.synchronized(taskMs.clear()))(fn(dir).count())
      val ts = taskMs.synchronized(taskMs.toVector).sorted
      val p50 = if (ts.isEmpty) 0L else ts(ts.size / 2)
      val mx = if (ts.isEmpty) 0L else ts.last
      s""""$name":{"median_sec":${fmt(med)},"task_p50_ms":$p50,"task_max_ms":$mx,"tasks":${ts.size / n}}"""
    }.mkString("{", ",", "}")
    val uniform = measure(srcDir)
    val zipf = measure(skewDir)
    val dist = sizes.map(s => fmt(s / sizes.sum.toDouble)).mkString("[", ",", "]")
    println(s"""{"metric":"ann_skew","n":$n,"list_fractions":$dist,"uniform":$uniform,"zipf":$zipf}""")
  }
}
