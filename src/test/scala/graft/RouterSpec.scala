package graft

import org.apache.spark.sql.functions._

import graft.ann.{Ann, Router}
import graft.ann.Router.{ComputeBound, IoBound}

/** The ANN family router (r13 — the sequel to the r12 chooser, closing
  * its own economics note: a7_auto at sf10 was feasible but uneconomical,
  * 66.8 s vs brute 40.1 s vs a2_auto 8.9 s, and nothing encoded that).
  * These specs prove (a) the ordinal cost model reproduces the measured
  * sf10 ordering, (b) the compute regime can never route flat-PQ (the
  * alpha > 1 proof), (c) the io regime routes by bytes and flips where
  * the model says it must, (d) feasibility reuses the chooser's refusal
  * laws with -1 sentinels, and (e) dispatch is exactly the routed family
  * at the routed dials. */
class RouterSpec extends SparkSpec {

  test("compute regime reproduces the measured sf10 ordering (ivf < brute < pq)") {
    // PLANS §clustered-corpus: N=200k, occ~2371, splinter 7 measured
    // ivf_flat 8.9 s < brute 40.1 s < pq_rerank 66.8 s
    val d = Router.route(200000L, 2371L, 7, 0.9, ComputeBound)
    assert(d.family === "ivf_flat")
    assert(d.nlists === 448 && d.nprobe === 7)
    assert(d.costIvf < d.costBrute && d.costBrute < d.costPq,
      s"model must reproduce the measured order: $d")
    // and the priced dials are the chooser's dials at the same stats
    val p = Ann.annOperatingPoint(200000L, 2371L, 0.9, splinter = 7)
    assert(d.nlists === p.nlists && d.nprobe === p.nprobe &&
      d.rerankDepth === p.rerankDepth)
    // the SAME stats under the io regime route the composed a22 shape:
    // the probed 8-byte code scan + R raw rows reads less than the
    // probed raw-vector scan once the crowd is this tight
    val dio = Router.route(200000L, 2371L, 7, 0.9, IoBound)
    assert(dio.family === "ivf_pq_r", s"io must pick the composed index: $dio")
    assert(dio.costIvfPqR < dio.costIvf && dio.costIvf < dio.costBrute)
  }

  test("compute regime never routes pq_rerank or ivf_pq_r (alpha > 1, R >= 50)") {
    // cost_pq = alpha*N + R > N = cost_brute, and cost_ivfpqr >
    // cost_ivf_flat whenever both are feasible — provable for EVERY
    // alpha > 1, and the routed_topk oracle's gated two-branch UNION
    // depends on it. The grid runs at BOTH measured ends of the band
    // (r13's 1.63 anchor and r16's 1.86 recalibration — verdict r16 #5):
    // the pinned AdcAlpha is a documentation anchor, never a decision
    // input, and this pins that the round-to-round drift is
    // decision-invariant.
    val grid = for {
      alpha <- Seq(Router.AdcAlpha, Router.AdcAlphaR16)
      n <- Seq(100L, 1000L, 200000L, 10000000L)
      occ <- Seq(10L, 300L, 3125L)
      spl <- Seq(1, 3, 7)
      if occ < n
    } yield Router.route(n, occ, spl, 0.9, ComputeBound, alpha = alpha)
    assert(grid.nonEmpty)
    grid.foreach { d =>
      assert(d.family === "brute" || d.family === "ivf_flat",
        s"compute-reachable set violated: $d")
      if (d.costPq > 0) assert(d.costPq > d.costBrute)
      if (d.costIvfPqR > 0 && d.costIvf > 0) assert(d.costIvfPqR > d.costIvf)
    }
    // the io regime prices bytes — alpha does not appear in any io cost,
    // so the two measured ends produce the IDENTICAL decision frame
    val ioGrid = for {
      n <- Seq(1000L, 200000L, 10000000L); occ <- Seq(10L, 3125L); if occ < n
    } yield (Router.route(n, occ, 7, 0.9, IoBound, alpha = Router.AdcAlpha),
      Router.route(n, occ, 7, 0.9, IoBound, alpha = Router.AdcAlphaR16))
    ioGrid.foreach { case (a, b) => assert(a === b, s"io regime read alpha: $a vs $b") }
  }

  test("io regime routes by bytes: pq wins where ivf is splinter-infeasible") {
    // one giant crowd splinters past the scan budget -> ivf refuses; the
    // 8-byte-code scan (+ rerank) still reads ~27x less than brute
    val d = Router.route(10000000L, 20000L, 2000, 0.9, IoBound)
    assert(d.family === "pq_rerank")
    assert(d.nprobe === -1 && d.costIvf === -1.0, "ivf must carry sentinels")
    assert(d.costPq < d.costBrute)
    // the same stats under compute-bound fall back to exact brute (the
    // ADC scan costs 1.63x the dot scan it is supposed to replace)
    assert(Router.route(10000000L, 20000L, 2000, 0.9, ComputeBound).family === "brute")
  }

  test("io regime prefers ivf_flat while the pruned scan beats the code scan") {
    // uniform corpus: occupancy ~ sqrt(N), splinter 1 -> nprobe 3; the
    // pruned raw read is tiny vs N*8 bytes of codes
    val d = Router.route(1000000L, 1200L, 1, 0.9, IoBound)
    assert(d.family === "ivf_flat")
    assert(d.costIvf < d.costPq && d.costIvf < d.costBrute)
  }

  test("feasibility refusals carry -1 sentinels, brute always survives") {
    // depth > maxRerank: occupancy so high the recall law needs an
    // infeasible shortlist
    val d = Router.route(10000000L, 100000L, 1, 0.9, IoBound)
    assert(d.rerankDepth === -1 && d.costPq === -1.0)
    // structure-less regime at a high floor: nprobe = ceil(0.9*nlists)
    // blows the scan budget -> ivf sentinel, brute wins
    val d2 = Router.route(200000L, 450L, 1, 0.9, IoBound, clusteredRegime = false)
    assert(d2.nprobe === -1 && d2.costIvf === -1.0)
    assert(d2.family === "brute" || d2.family === "pq_rerank")
    intercept[IllegalArgumentException](Router.route(0L, 1L, 1, 0.9, IoBound))
    intercept[IllegalArgumentException](Router.route(10L, 1L, 1, 1.5, IoBound))
  }

  test("a21_route grades both regimes with consistent dials") {
    val rows = Router.a21Route(spark, Sf).collect()
    assert(rows.length === 2)
    val byRegime = rows.map(r => r.getString(0) -> r).toMap
    assert(byRegime.keySet === Set("compute", "io"))
    // testdata sf0.001: 500 uniform vectors -> nlists 23, splinter 1,
    // nprobe 3; the compute winner must be ivf_flat (pruned scan < 500)
    val c = byRegime("compute")
    assert(c.getInt(2) === 23, "nlists = ceil(sqrt(500))")
    assert(c.getInt(7) === 1, "uniform corpus must not splinter")
    assert(c.getString(1) === "ivf_flat")
    // both regimes price the same dials, only costs differ
    assert(c.getInt(3) === byRegime("io").getInt(3))
    assert(c.getInt(4) === byRegime("io").getInt(4))
  }

  test("a22 at exhaustive rerank depth degenerates to exact ivf_flat") {
    // shortlist depth >= probed candidate count => every probed candidate
    // is exact-reranked, so a22 must equal a2's exact within-probed-lists
    // ranking row for row (same dials 8x3, same tie-breaks)
    val a22 = graft.ann.Pq.a22IvfPqRerank(spark, Sf, rerankDepth = 500).collect()
    val ivf = Ann.a2KnnIvf(spark, Sf).collect()
    assert(a22.length === ivf.length && a22.sameElements(ivf),
      "exhaustive-R a22 must BE the exact probed ranking")
  }

  test("partition-store io regime: ivf_flat dominates the composed index") {
    // IOBYTES_r13.json measured the parquet retrieval floor: fetching a
    // shortlist's raw vectors re-reads the probed PARTITIONS, so
    // ivf_pq_r's bytes = ivf_flat's + the code read, and a flat-PQ
    // shortlist's floor is the whole corpus. The reachable set under
    // (IoBound, PartitionStore) must therefore mirror the compute
    // regime's {brute, ivf_flat} — provable over the stat grid
    val grid = for {
      n <- Seq(100L, 1000L, 200000L, 10000000L)
      occ <- Seq(10L, 300L, 3125L, 20000L)
      spl <- Seq(1, 3, 7, 2000)
      if occ < n
    } yield Router.route(n, occ, spl, 0.9, IoBound,
      retrieval = Router.PartitionStore)
    assert(grid.nonEmpty)
    grid.foreach { d =>
      assert(d.family === "brute" || d.family === "ivf_flat",
        s"partition-store io-reachable set violated: $d")
      if (d.costIvfPqR > 0 && d.costIvf > 0)
        assert(d.costIvfPqR > d.costIvf,
          s"parquet floor: composed index must cost ivf + codes: $d")
      if (d.costPq > 0)
        assert(d.costPq > d.costBrute,
          s"flat shortlist's partition floor is the corpus + codes: $d")
    }
    // and RowStore (the default, the registered a21_route's pricing)
    // still routes the composed index on the tight-crowd anchor
    assert(Router.route(200000L, 2371L, 7, 0.9, IoBound,
      retrieval = Router.RowStore).family === "ivf_pq_r")
  }

  test("a22's pruned rerank retrieval returns the flat-scan rows exactly") {
    // r13 re-plan: the refine stage reads probed partitions of the IVF
    // list table instead of re-scanning the corpus file — the shortlist
    // join must select the very same rows either way
    val pruned = graft.ann.Pq.a22IvfPqRerank(spark, Sf).collect()
    val flat = graft.ann.Pq.a22IvfPqRerank(spark, Sf,
      prunedRerank = false).collect()
    assert(pruned.length === flat.length && pruned.sameElements(flat))
    assert(pruned.nonEmpty)
  }

  test("a2KnnIvfPruned: same rows, pruned selected index bytes (measured)") {
    // single query (qmod = corpus) so the probed set is 3 of 8 lists;
    // at the default 5-query batch the probed union can cover every list.
    // r17: the row-local listProbes rewrite made even the UN-hinted a2
    // plan partition-prune (the old Window probe output blocked dynamic
    // partition pruning; the projected explode passes it through — the
    // plan carries a SubqueryAdaptiveBroadcast dynamicpruning filter), so
    // the old strict pruned < full inequality is obsolete in the best
    // way: BOTH plans now read only the probed partitions. Pin that both
    // read fewer bytes than the whole index artifact.
    val full = Ann.a2KnnIvf(spark, Sf, 8, 3, qmod = 500)
    val pruned = Ann.a2KnnIvfPruned(spark, Sf, 8, 3, qmod = 500)
    assert(pruned.collect().sameElements(full.collect()))
    // file COUNTS, not filesSize (whose partitioned-scan semantics proved
    // metric-dependent): the artifact writes one file per inverted list
    // (SourcesSpec pins it), so selected files == selected lists.
    def ivfFiles(df: org.apache.spark.sql.DataFrame): Long =
      ScanBytes.selectedScanReads(df)._2
        .filter(r => r.root.contains("graft_ivf")).map(_.files).max
    val (ff, pf) = (ivfFiles(full), ivfFiles(pruned))
    assert(pf > 0, "pruned plan must still read the probed partitions")
    assert(pf === 3L,
      s"static IN pruning must select exactly the 3 probed lists of 8: $pf")
    assert(ff <= pf,
      s"the un-hinted plan must partition-prune too (r17 probe shape " +
        s"passes dynamic partition pruning through): full=$ff pruned=$pf")
  }

  test("byte model is live: io costs scale with the corpus dimension") {
    // r14 (verdict r13 #2): VecBytes was a dim=64 literal — a dim=768
    // caller got every io byte count silently wrong by 12x. The laws:
    assert(Router.vecBytesOf(64) === 256.0 && Router.vecBytesOf(768) === 3072.0)
    intercept[IllegalArgumentException](Router.vecBytesOf(0))
    intercept[IllegalArgumentException](Router.codeBytesOf(-1))
    // (1) pure scaling: every vector-payload io cost is 12x at 12x dim
    val d64 = Router.route(200000L, 2371L, 7, 0.9, IoBound, dim = 64)
    val d768 = Router.route(200000L, 2371L, 7, 0.9, IoBound, dim = 768)
    assert(d768.costBrute === 12.0 * d64.costBrute)
    assert(d768.costIvf === 12.0 * d64.costIvf)
    // the code-scan term does NOT scale with dim, so the composed index
    // only gets MORE attractive at higher dim — the anchor family holds
    assert(d64.family === "ivf_pq_r" && d768.family === "ivf_pq_r")
    assert(d768.costIvfPqR < 12.0 * d64.costIvfPqR)
    // (2) the ivf_flat <-> ivf_pq_r crossover MOVES with dim (the failure
    // the literal hid): same stats, winner flips purely on dimension.
    // occ=1000, spl=4 -> nprobe 4, depth 3171: the code+rerank read beats
    // the probed raw scan iff 4*dim*(P - depth) > P*M, i.e. dim > ~9.7
    assert(Router.route(1000000L, 1000L, 4, 0.9, IoBound, dim = 8)
      .family === "ivf_flat")
    assert(Router.route(1000000L, 1000L, 4, 0.9, IoBound, dim = 64)
      .family === "ivf_pq_r")
    // (3) compute-regime routing is dimension-free (cost = dot-units)
    assert(Router.route(200000L, 2371L, 7, 0.9, ComputeBound, dim = 768) ===
      Router.route(200000L, 2371L, 7, 0.9, ComputeBound, dim = 64))
    // (4) the partition-store reachable set is dimension-free too: the
    // dominance proofs cancel VecBytes, so they hold at any dim
    Seq(8, 64, 768, 4096).foreach { dim =>
      val d = Router.route(1000000L, 3125L, 7, 0.9, IoBound,
        retrieval = Router.PartitionStore, dim = dim)
      assert(d.family === "brute" || d.family === "ivf_flat", s"dim=$dim: $d")
    }
  }

  test("alpha is a live parameter: the box anchor is overridable, laws hold") {
    // r14: `graft.Dial io_bytes` emits adc_alpha_measured; route() consumes it here.
    // The compute reachable-set proof needs only alpha > 1 — any such box
    // still never routes a code-scanning family under compute
    Seq(1.01, 1.63, 5.0).foreach { a =>
      val d = Router.route(200000L, 2371L, 7, 0.9, ComputeBound, alpha = a)
      assert(d.family === "brute" || d.family === "ivf_flat", s"alpha=$a: $d")
      assert(d.costPq > d.costBrute && d.costIvfPqR > d.costIvf)
    }
    // a hypothetical box where the ADC gather IS cheaper than the dot
    // (alpha < 1) may route flat-PQ under compute — the parameter is live,
    // not decorative (registered queries pin the measured default)
    val cheapAdc = Router.route(10000000L, 20000L, 2000, 0.9, ComputeBound,
      alpha = 0.2)
    assert(cheapAdc.family === "pq_rerank", s"alpha=0.2 must flip: $cheapAdc")
    intercept[IllegalArgumentException](
      Router.route(100L, 10L, 1, 0.9, ComputeBound, alpha = 0.0))
  }

  test("the latest committed alpha measurement sits on the anchor's side of 1") {
    // r15 (verdict r14 #6): `graft.Dial io_bytes` re-measures alpha per round
    // (IOBYTES_r{N}.json, adc_alpha_measured). The compute reachable-set
    // proof needs only SIGN agreement with the anchor (alpha > 1); a box
    // where the ADC gather beats the codegen dot (alpha < 1) must fail
    // THIS test loudly instead of silently mispricing every compute
    // route. The band additionally catches a derivation gone wild (the
    // 1.2x-floor guard bounds conditioning, not magnitude).
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array())
      .filter(_.getName.matches("IOBYTES_r\\d+\\.json"))
      .sortBy(f => f.getName.stripPrefix("IOBYTES_r").stripSuffix(".json").toInt)
    assume(files.nonEmpty, "no IOBYTES_r*.json artifact in the repo root")
    val latest = files.last
    val src = scala.io.Source.fromFile(latest)
    val line = try src.getLines().find(_.contains("adc_alpha_measured"))
      finally src.close()
    assume(line.isDefined,
      s"${latest.getName} carries no adc_alpha_measured (floor-guard " +
        "suppressed emission — re-run `graft.Dial io_bytes` on a quiet box)")
    val alpha = """"adc_alpha_measured":\s*([0-9.]+)""".r
      .findFirstMatchIn(line.get).map(_.group(1).toDouble)
      .getOrElse(fail(s"unparseable alpha in ${latest.getName}"))
    assert((alpha > 1.0) === (Router.AdcAlpha > 1.0),
      f"measured alpha $alpha%.2f crossed 1.0 vs anchor ${Router.AdcAlpha} — " +
        "this box prices ADC cheaper than the dot; re-derive the anchor " +
        "and re-examine every compute-regime route before trusting a21")
    assert(alpha < Router.AdcAlpha * 2.5 && alpha > Router.AdcAlpha / 2.5,
      f"measured alpha $alpha%.2f is outside the anchor's 2.5x envelope")
  }

  test("io-regime dispatch (a21_routed_topk_io) is the io winner's plan") {
    // r14 (verdict r13 #3): the path a cluster caller takes by default —
    // IoBound + this repo's PartitionStore warehouse — as a graded query.
    // The reachable set is {brute, ivf_flat} (test above); on the uniform
    // sf0.001 corpus the pruned ivf scan beats the full corpus read
    val d = Router.route(
      500L,
      Ann.occupancyEstimate(spark, Sf, Ann.nlistsFor(500L)),
      Ann.splinterEstimate(spark, Sf, Ann.nlistsFor(500L)),
      0.9, IoBound, retrieval = Router.PartitionStore)
    assert(d.family === "ivf_flat", s"sf0.001 io winner: $d")
    val routed = Router.aRouteTopk(spark, Sf, regime = IoBound,
      retrieval = Router.PartitionStore).collect()
    // io dispatch takes the statically-pruned serving read; rows must be
    // identical to the un-pruned exact probed ranking at the same dials
    val direct = Ann.a2KnnIvf(spark, Sf, nlists = d.nlists, nprobe = d.nprobe).collect()
    assert(routed.length === direct.length && routed.sameElements(direct))
    assert(routed.nonEmpty)
  }

  test("dispatch is exactly the routed family at the routed dials") {
    val routed = Router.aRouteTopk(spark, Sf, regime = ComputeBound).collect()
    val d = Router.route(
      500L,
      Ann.occupancyEstimate(spark, Sf, Ann.nlistsFor(500L)),
      Ann.splinterEstimate(spark, Sf, Ann.nlistsFor(500L)),
      0.9, ComputeBound)
    assert(d.family === "ivf_flat")
    val direct = Ann.a2KnnIvf(spark, Sf, nlists = d.nlists, nprobe = d.nprobe).collect()
    assert(routed.length === direct.length && routed.sameElements(direct),
      "aRouteTopk must BE the dispatched family's plan, not a re-derivation")
  }

  /** One corpus, split two ways: `fullDir` holds every vector (the
    * "equivalent batch rebuild"); `batchDir` holds all but the tail ids,
    * which arrive as a streamed append instead. Appended ids all exceed
    * nlists, so the versioned-centroid rule (vec_id < nlists) yields the
    * SAME centroids from either dir — the condition under which route
    * equality is exact. */
  private def splitCorpus(n: Int, appended: Int, batches: Int = 1,
                          centers: Int = 16,
                          sigma: Float = 0.35f): (String, String, String) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new java.util.Random(20260816L)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    val cents = Array.fill(centers)(unit(64))
    val rows = (0 until n).map { i =>
      val c = cents(i % centers)
      Row(i.toLong, c.map(x => x + sigma * rnd.nextGaussian().toFloat / 8f).toSeq,
        i % centers % 10)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    def write(rs: Seq[Row], tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_rs_$tag").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), schema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val fullDir = write(rows, "full")
    val batchDir = write(rows.take(n - appended), "batch")
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_rs_stream").toString + "/ivf"
    // `batches` splits the appended tail into that many ingest dirs so a
    // composed test can exercise the compaction fold, not just the union
    val per = math.max(1, appended / batches)
    (0 until batches).foreach { b =>
      val lo = (n - appended) + b * per
      val hi = if (b == batches - 1) n else lo + per
      val appendRows = graft.rag.Search.corpus(spark, fullDir)
        .filter(org.apache.spark.sql.functions.col("vec_id") >= lo.toLong &&
          org.apache.spark.sql.functions.col("vec_id") < hi.toLong)
        .select("vec_id", "label", "v")
      graft.streaming.Streams.appendIvfBatch(appendRows, indexDir,
        graft.rag.Search.corpus(spark, batchDir), s"b$b")
    }
    (fullDir, batchDir, indexDir)
  }

  test("streamed route == equivalent batch-rebuild route; dispatch " +
       "row-matches; a mixed-dim append refuses (r16, verdict r15 #4)") {
    val (fullDir, batchDir, indexDir) = splitCorpus(n = 1200, appended = 100)
    // the DECISION over (batch ∪ streamed) equals the rebuild's, both
    // regimes, every exposed statistic and cost
    val streamed = Router.a21RouteStreamed(spark, batchDir, indexDir)
      .collect().map(_.toSeq).toSeq
    val rebuild = Router.a21Route(spark, fullDir).collect().map(_.toSeq).toSeq
    assert(streamed === rebuild,
      s"streamed route diverged from batch rebuild:\n$streamed\nvs\n$rebuild")
    // the DISPATCH over (batch ∪ streamed) row-matches the rebuild's —
    // appended vectors are both searchable and queries
    val sTop = Router.aRouteTopkStreamed(spark, batchDir, indexDir,
      regime = ComputeBound).collect().map(_.toSeq).sortBy(_.toString)
    val rTop = Router.aRouteTopk(spark, fullDir, regime = ComputeBound)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(sTop.length === rTop.length && sTop === rTop,
      "streamed dispatch diverged from batch rebuild")
    // appended rows must actually participate: some query or hit id sits
    // in the appended range, or the composition proved nothing
    assert(sTop.exists(r => r.exists {
      case l: Long => l >= 1100L
      case _ => false
    }), "no appended id in the served results — vacuous composition")
    // a streamed batch at another dimension REFUSES (never mis-prices) —
    // the bad batch assigns against its OWN dim-32 centroids (a foreign
    // index's artifact), so the append itself succeeds and the refusal
    // must come from the router's stats, not an upstream length error
    val wrongDim = spark.range(5000, 5005)
      .select(col("id").as("vec_id"),
        array_repeat(lit(0.5f), 32).as("v"),
        lit(0).as("label"))
    val wrongCent = wrongDim.withColumn("nrm",
      graft.functions.Vec.norm2Native(col("v")))
    graft.streaming.Streams.appendIvfBatch(wrongDim, indexDir, wrongCent, "bad")
    val e = intercept[IllegalArgumentException] {
      Router.a21RouteStreamed(spark, batchDir, indexDir).collect()
    }
    assert(e.getMessage.contains("mixed embedding dims"), e.getMessage)
  }

  test("rebuild-law guards refuse by name: id collision, sub-nlists append " +
       "(ADVICE r16)") {
    // collision: append a row whose vec_id already exists in the batch —
    // a plain unionByName would double-count n and could emit duplicate
    // hit rows; the route must refuse, not mis-price
    val (_, batchDir, indexDir) = splitCorpus(n = 1200, appended = 100)
    val dup = graft.rag.Search.corpus(spark, batchDir)
      .filter(col("vec_id") === 500L).select("vec_id", "label", "v")
    graft.streaming.Streams.appendIvfBatch(dup, indexDir,
      graft.rag.Search.corpus(spark, batchDir), "dup")
    val e1 = intercept[IllegalArgumentException] {
      Router.a21RouteStreamed(spark, batchDir, indexDir).collect()
    }
    assert(e1.getMessage.contains("duplicate vec_ids"), e1.getMessage)
    // sub-nlists append: an id below the combined sqrt-law nlists would BE
    // a centroid in an equivalent batch rebuild but is absent from the
    // versioned batch centroid set — the decision would silently diverge.
    // Fixture: the batch lacks id 20, which then arrives as an append
    // (no collision, equal dims — only the centroid guard can fire).
    val (_, batchDir2, _) = splitCorpus(n = 1000, appended = 1)
    val holeDir = java.nio.file.Files
      .createTempDirectory("graft_rs_hole").toString
    spark.read.parquet(s"$batchDir2/embeddings.parquet")
      .filter(col("vec_id") =!= 20L)
      .write.mode("overwrite").parquet(s"$holeDir/embeddings.parquet")
    val indexDir2 = java.nio.file.Files
      .createTempDirectory("graft_rs_stream_low").toString + "/ivf"
    val low = graft.rag.Search.corpus(spark, batchDir2)
      .filter(col("vec_id") === 20L).select("vec_id", "label", "v")
    graft.streaming.Streams.appendIvfBatch(low, indexDir2,
      graft.rag.Search.corpus(spark, holeDir), "low")
    val e2 = intercept[IllegalArgumentException] {
      Router.a21RouteStreamed(spark, holeDir, indexDir2).collect()
    }
    assert(e2.getMessage.contains("< nlists"), e2.getMessage)
  }

  test("PQ streamed serves row-match a batch rebuild at the same dials " +
       "(D28, verdict r16 #6)") {
    val (fullDir, batchDir, indexDir) = splitCorpus(n = 1200, appended = 100)
    val streamed = graft.streaming.Streams.readIvfIndex(spark, indexDir)
      .select("vec_id", "label", "v", "nrm")
    // composed IVFPQ+rerank: appends re-encoded against the VERSIONED
    // batch codebook/centroids == the rebuild's own codes (appended ids
    // 1100+ clear both draw floors: nlists=35, K=16)
    val sPqR = graft.ann.Pq.ivfPqRerankStreamed(spark, batchDir, streamed,
      nlists = 8, nprobe = 3, rerankDepth = 50).collect().map(_.toSeq)
    val rPqR = graft.ann.Pq.a22IvfPqRerank(spark, fullDir,
      nlists = 8, nprobe = 3, rerankDepth = 50).collect().map(_.toSeq)
    assert(sPqR.length === rPqR.length && sPqR === rPqR,
      "streamed ivf_pq_r serve diverged from the batch rebuild")
    // flat-ADC+rerank sibling
    val sPq = graft.ann.Pq.pqRerankStreamed(spark, batchDir, streamed,
      rerankDepth = 50).collect().map(_.toSeq)
    val rPq = graft.ann.Pq.a7PqRerank(spark, fullDir, rerankDepth = 50)
      .collect().map(_.toSeq)
    assert(sPq.length === rPq.length && sPq === rPq,
      "streamed pq_rerank serve diverged from the batch rebuild")
    // appended ids actually participate (non-vacuous)
    assert(sPqR.exists(r => r.exists {
      case l: Long => l >= 1100L
      case _ => false
    }), "no appended id in the served ivf_pq_r results")
    // the codebook-draw floor refuses by name: a synthetic append with an
    // id below K could not equal any rebuild (its vector would be IN the
    // rebuild's codebook)
    val lowId = streamed.withColumn("vec_id", lit(5L))
    val e = intercept[IllegalArgumentException](
      graft.ann.Pq.pqRerankStreamed(spark, batchDir, lowId))
    assert(e.getMessage.contains("K=16"), e.getMessage)
  }

  test("maintained dispatch compacts, re-encodes, and serves a PQ-family " +
       "route == batch rebuild (D28)") {
    // tight 4-crowd corpus: occupancy ~n/4 with splinter-wide probes makes
    // the io/RowStore regime price a code-scanning family under brute —
    // the route aRouteTopkStreamed refuses and this entry must serve.
    // Three ingest dirs so the composed maintenance actually folds.
    val (fullDir, batchDir, indexDir) =
      splitCorpus(n = 2000, appended = 200, batches = 3, centers = 4,
        sigma = 0.1f)
    val io = Router.a21RouteStreamed(spark, batchDir, indexDir)
      .filter(col("regime") === "io").head()
    val want = Router.route(io.getAs[Long]("n"), io.getAs[Long]("occupancy"),
      io.getAs[Int]("splinter"), 0.9, IoBound)
    assert(want.family === "ivf_pq_r" || want.family === "pq_rerank",
      s"fixture must route a PQ family or the test is vacuous: $want")
    val served = Router.aRouteTopkMaintained(spark, batchDir, indexDir)
      .collect().map(_.toSeq)
    val direct = (want.family match {
      case "ivf_pq_r" => graft.ann.Pq.a22IvfPqRerank(spark, fullDir,
        nlists = want.nlists, nprobe = want.nprobe,
        rerankDepth = want.rerankDepth)
      case _ => graft.ann.Pq.a7PqRerank(spark, fullDir,
        rerankDepth = want.rerankDepth)
    }).collect().map(_.toSeq)
    assert(served.length === direct.length && served === direct,
      s"maintained ${want.family} serve diverged from the batch rebuild")
    // the maintenance fold really ran: the three ingest dirs are one now
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest="))
    assert(live.length === 1 && live.head.getPath.getName.contains("compact_"),
      live.map(_.getPath.getName).mkString(","))
  }
}
