package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Harness.DefaultSfDir)
    val cpus = Harness.cpus
    val shufflePartitions = Harness.shufflePartitions
    val spark = Harness.session()
    // Warm the session (parquet footers, codegen cache, shuffle machinery,
    // JIT) so per-query timings measure the plans, not first-query startup.
    Seq("lineitem", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("event_type").count().count()
    // ... and one cheap query per subsystem (memory build, text scan,
    // analytics agg) so the first measured query of each family isn't
    // charged the family's one-time codegen/JIT cost. Guarded: a broken
    // warm-up query must degrade to a cold start, not abort the bench
    // before any JSON is printed.
    Seq[() => Any](
      () => graft.memory.MemoryOps.m4Stats(spark, sfDir).count(),
      () => graft.text.TextOps.queries("t1_langid")(spark, sfDir).count(),
      () => graft.analytics.Queries.q6Revenue(spark, sfDir).count(),
    ).foreach(w => try w() catch {
      case e: Throwable =>
        System.err.println(s"[bench] warmup FAILED: ${String.valueOf(e.getMessage).take(200)}")
    })
    // Per-query median over n runs: this VM's run-to-run noise is ±50%, so
    // single-run timings flag phantom regressions.
    // A malformed env value degrades to the default instead of aborting.
    val n = sys.env.get("SPARK_GRAFT_BENCH_N").flatMap(_.toIntOption).getOrElse(3).max(1)
    // Fixed run order — the flagship q1_agg first (its number was drifting
    // with hash-map iteration order), then alphabetical, so round-over-round
    // comparisons see each query in the same session state every time.
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      val ordered = "q1_agg" +: all.filterNot(_ == "q1_agg")
      // SPARK_GRAFT_BENCH_ONLY: comma list of names / prefix globs ("m*,e*")
      // for family-sampled scale studies (sf10+), where running the full
      // registry would mean running the owned quadratics (r5, r8, d4) at a
      // scale they are documented not to survive. Subset runs should
      // redirect SPARK_GRAFT_BENCH_OUT — a partial "queries" map is not a
      // baseline. Matching reuses the FP_ALLOW glob rules; an empty match
      // degrades to the full set (a typo must not produce an empty bench).
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.trim).filter(_.nonEmpty) match {
        case Some(spec) =>
          val kept = ordered.filter(n => fpViolations(Seq(n), spec).isEmpty)
          if (kept.isEmpty) ordered else kept
        case None => ordered
      }
    }
    // Each query runs once COLD first — that run pays any once-per-corpus
    // index build (IVF/PQ code tables, BM25 postings, signature tables,
    // bigram LM...) the query's lazy `*Table` helpers materialize — and
    // then n measured runs whose median is steady-state probe cost only.
    // Build cost is reported separately (`cold` map / cold_total), never
    // folded into the per-query medians: "build once, probe forever" is
    // the 100 TB contract, so the two numbers must not be conflated.
    // JVM-wide GC time per measured run: a query whose wall time balloons
    // while its gc share balloons with it (same plan fingerprint) is
    // heap/GC pressure, not a regression — the r7 driver-run d2/d7
    // mystery (8-18x medians, unchanged plans) would have been one field.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // Host-speed probe + wall-clock offsets (r15, the r14 drift lesson):
    // the driver's r14 run showed "every RAG query ~2x" that looked
    // family-structured — mapping ratios onto RUN ORDER showed it was a
    // CONTIGUOUS 16-query time window at the session's tail (r19..t2 in
    // ASCII order), i.e. a transient host event, with the family
    // correlation an artifact of alphabetical order putting r*/t* last.
    // Attributing that took a round. Two per-query fields make it one
    // look: `t_off` (seconds since bench start at the query's measured
    // block) exposes temporal contiguity; `probe_ms` times a FIXED
    // single-thread CPU spin (xorshift64*, constant iteration count — no
    // runtime calibration, which a slow window would poison) immediately
    // before the measured runs. Reading: contiguous t_off block with
    // elevated probes = host CPU interference (steal/frequency); a
    // contiguous block with FLAT probes = IO-side interference (page
    // cache, disk); scattered drift with elevated gc_ms = heap pressure;
    // none of the above + changed fingerprint = a real plan change.
    def probeMs(): Long = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < (1 << 25)) { // fixed work: ~20 ms on a quiet core
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1000000L
      if (x * 0x2545f4914f6cdd1dL == 42L) System.err.println("[bench] probe sink")
      dt
    }
    (1 to 5).foreach(_ => probeMs()) // JIT-warm the spin loop itself
    val work = new Work(spark.sparkContext)
    val benchT0 = System.nanoTime()
    case class QRes(name: String, dt: Double, cold: Double, flaky: Int,
                    fp: String, plan: String, gc: Long, tOff: Double,
                    probe: Long)
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def run(): (Double, Long) = {
        val g0 = gcMs()
        val t0 = System.nanoTime()
        // a failed query must be VISIBLE: stderr log + negative timing (a
        // silent catch once hid an analysis error as a fast "result")
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${String.valueOf(e.getMessage).take(300)}")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        (if (ok) dt else -dt, gcMs() - g0)
      }
      val (cold, _) = run()
      // probe AFTER the cold run, BEFORE the measured block: it times the
      // host during the window whose median the JSON reports
      val tOff = (System.nanoTime() - benchT0) / 1e9
      val probe = probeMs()
      // the first measured run's jobs/stages/tasks go to `work`
      val runs = (1 to n).map(i => if (i == 1) work.tagged(name)(run()) else run())
      val times = runs.map(_._1)
      // gc attributed to the MEDIAN-defining population: sum over the
      // successful measured runs (driver-side; executor == driver here)
      val gc = runs.collect { case (t, g) if t > 0 => g }.sum
      val good = times.filter(_ > 0).sorted
      val dt =
        if (good.isEmpty) times.head // all failed: keep the negative marker
        else good(good.size / 2)     // upper median of the successful runs
      // Plan fingerprint: md5 of the scrubbed RAW initial physical plan
      // (pre-AQE, so runtime re-planning — a broadcast conversion, a skew
      // split — does not perturb it). A timing regression with an
      // UNCHANGED fingerprint is environment noise; a changed fingerprint
      // is a plan change to diff. Free: the plan is derived, never
      // executed. RAW, not `.canonicalized` (r8 change): canonicalization
      // REORDERS commutative operands by expression hashCode, and that
      // order proved ENVIRONMENT-sensitive — the r7 driver's runs flipped
      // `qnrm * sqrt(...)` to `sqrt(...) * qnrm` (and the OR-of-AND
      // nests of q19) on 11 queries vs identical-code builder runs,
      // polluting plan_changes with phantom replans. The raw plan prints
      // operands in SOURCE order — deterministic from code by
      // construction. What canonicalization bought is re-created by the
      // scrub: exprIds (#\d+ → #n), lambda class names, object identity
      // hashes, RDD/plan ids, and the genuinely set-ordered lists
      // (verified: unscrubbed, 20 of 113 fingerprints differ between two
      // runs of IDENTICAL code — exactly the typed/closure plans).
      val (fp, planTxt) = try {
        val plan = Bench.scrubPlan(
          fn(spark, sfDir).queryExecution.executedPlan.toString)
        // SPARK_GRAFT_DUMP_PLANS=<dir>: keep the scrubbed text per query —
        // diffing two runs' dumps (a BENCH_ONLY subset for a few queries)
        // pinpoints any token that keeps a fingerprint from settling
        sys.env.get("SPARK_GRAFT_DUMP_PLANS").foreach { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name.txt"),
            plan.getBytes("UTF-8")): Unit
        }
        (java.security.MessageDigest.getInstance("MD5")
          .digest(plan.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString,
          plan)
      } catch { case _: Throwable => ("err", "") }
      // the cold run counts toward flaky too: a build-path failure that
      // warm retries paper over must not vanish from the JSON
      QRes(name, dt, cold, times.count(_ < 0) + (if (cold < 0) 1 else 0),
        fp, planTxt, gc, tOff, probe)
    }
    def fmt(v: Double): String = {
      val a = math.abs(v)
      Harness.fmt(v, if (a >= 100) 0 else if (a >= 10) 1 else 2)
    }
    val qs = results.map(r => "\"" + r.name + "\":" + fmt(r.dt))
      .mkString("{", ",", "}")
    // failed queries carry negative markers: exclude them from the headline
    // total (summing them in would make a failure look like a speedup); a
    // query that failed on ANY run also lands in "flaky" with its failure
    // count, so partial failures are visible in the JSON, not just stderr.
    val total = results.collect { case r if r.dt > 0 => r.dt }.sum
    val coldTotal = results.collect { case r if r.cold > 0 => r.cold }.sum
    // Cold (build-paying) times are reported only where they matter — first
    // run >2x the median (the index-building queries; listing all ~100
    // would double the line for pure noise) — plus any FAILED cold, which
    // keeps its negative marker so a broken build path stays visible.
    val colds = results.collect { case r if r.dt > 0 && (r.cold < 0 || r.cold > 2 * r.dt) =>
      "\"" + r.name + "\":" + fmt(r.cold)
    }
    val coldField = if (colds.isEmpty) "" else colds.mkString(",\"cold\":{", ",", "}")
    val flaky = results.collect { case r if r.flaky > 0 => "\"" + r.name + "\":" + r.flaky }
    val flakyField = if (flaky.isEmpty) "" else flaky.mkString(",\"flaky\":{", ",", "}")
    val plans = results.map(r => "\"" + r.name + "\":\"" + r.fp + "\"")
      .mkString(",\"plans\":{", ",", "}")
    // Plan-change attribution, automated: diff this run's fingerprints
    // against the PREVIOUS BENCH_FULL.json (about to be overwritten). A
    // query listed in "plan_changes" (old fingerprint as the value) had
    // its physical plan change since the last bench — any timing shift is
    // a plan diff to investigate; a shifted timing NOT listed here is
    // environment noise by construction. The m5-class triage (r6: three
    // queries regressed 4-7x, plans unchanged, a round of manual plan
    // digging to prove it) is now one JSON field.
    // The full-detail output path doubles as the fingerprint baseline, so
    // an off-sf run (the sf1 scale study) must redirect it: plans at a
    // different sf legitimately differ (stats-driven broadcast choices),
    // and letting an sf1 run overwrite the committed sf0.1 baseline would
    // feed the driver's next gate a wrong-scale comparison. The sf guard
    // below makes even a same-file cross-sf comparison a no-baseline case
    // rather than a wall of phantom violations.
    // A subset run (BENCH_ONLY) with the default output path would silently
    // overwrite the committed full baseline with a partial queries map,
    // degrading every future plan/ratio comparison — so the default is
    // derived to a .subset.json sidecar; only an explicit BENCH_OUT can
    // direct a subset at a real baseline file (ADVICE r10).
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (sys.env.get("SPARK_GRAFT_BENCH_ONLY").exists(_.trim.nonEmpty)) {
        System.err.println(
          "[bench] BENCH_ONLY subset without BENCH_OUT: writing BENCH_FULL.subset.json (baseline untouched)")
        "BENCH_FULL.subset.json"
      } else "BENCH_FULL.json"
    }
    val sfName = sfDir.split('/').last
    // Fingerprints are only comparable at EQUAL deployment dials: the
    // shuffle-partition count prints inside every numbered Exchange, so a
    // 4-cpu run diffed against a 32-cpu baseline reports every
    // exchange-bearing plan as "changed" (r15: exactly that produced 133
    // phantom violations — the driver benches at SPARK_GRAFT_CPUS=32, a
    // local run used the code default). A baseline at a different cpus/
    // shuffle dial (or one predating these fields) is a no-baseline case,
    // same rule as the sf guard above.
    // `.contains`, not `.exists(_ !=)`: a baseline PREDATING the dial
    // fields has unknown dials and must also be a no-baseline case — an
    // absent field passing the guard would reproduce the phantom wall
    // against every pre-r15 file (review r15 #1). A missing FILE also
    // yields None here, which readPrevPlans already treats as empty.
    val prevPlans =
      if (readPrevSf(outPath).exists(_ != sfName) ||
          !dialEq(readPrevField(outPath, "cpus"), cpus) ||
          !dialEq(readPrevField(outPath, "shuffle_partitions"), shufflePartitions))
        Map.empty[String, String]
      else readPrevPlans(outPath)
    val changed = results.collect { case r
      if prevPlans.get(r.name).exists(old => old != r.fp && r.fp != "err" && old != "err") =>
        "\"" + r.name + "\":\"" + prevPlans(r.name) + "\""
    }
    if (changed.nonEmpty)
      System.err.println(s"[bench] ${changed.size} plan fingerprint(s) changed since last run")
    // EVIDENCE ON DRIFT (verdict r16 #1): any fingerprint that differs
    // from the baseline auto-persists its scrubbed plan text (see
    // [[dumpDrifted]]) — unconditional, no env var — so a flutter seen
    // only in the DRIVER's end-of-round session leaves a diffable artifact
    // in the tree. Diff against the committed plans_baseline/<name>.txt
    // (written by the re-baseline run via SPARK_GRAFT_DUMP_PLANS) to read
    // the exact drifting token. Best-effort: an unwritable dir must not
    // fail the bench.
    if (prevPlans.nonEmpty) try {
      val drifted = results.collect { case r
        if prevPlans.get(r.name).exists(old => old != r.fp && r.fp != "err" && old != "err") &&
          r.plan.nonEmpty => r.name -> r.plan }
      val dir = dumpDrifted(outPath, results.map(_.name), drifted)
      if (drifted.nonEmpty)
        System.err.println(
          s"[bench] scrubbed plan text for ${drifted.size} drifted " +
            s"fingerprint(s) written to $dir — diff vs plans_baseline/")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fpdiff dump failed: ${e.getMessage}")
    }
    val changedField =
      if (changed.isEmpty) "" else changed.mkString(",\"plan_changes\":{", ",", "}")
    // GATE (r7 verdict #5): a changed fingerprint is only acceptable when
    // DECLARED — the committer lists the queries whose plans they expect to
    // change in SPARK_GRAFT_FP_ALLOW ("q8_rollup,m*" — names or prefix
    // globs; "*" allows everything, e.g. after a Spark upgrade). Undeclared
    // changes land in "fp_violations" and scream on stderr, so a replan
    // smuggled in by data drift or an unrelated refactor is one visible
    // field, not a timing mystery. Non-fatal by design: the driver needs
    // the JSON line even when the gate trips, and the round log consumes
    // the violation list.
    // Allowlist source: the env var for ad-hoc runs, else the committed
    // FP_ALLOW file (first non-comment line) — the driver doesn't set env
    // vars, so a round that intentionally re-plans a family declares it in
    // the repo where the round log (and the next committer) can read it.
    val changedNames = results.collect { case r
      if prevPlans.get(r.name).exists(old => old != r.fp && r.fp != "err" && old != "err") => r.name }
    val allowSpec = sys.env.get("SPARK_GRAFT_FP_ALLOW")
      .orElse(readAllowFile("FP_ALLOW")).getOrElse("")
    val violations = fpViolations(changedNames, allowSpec)
    if (violations.nonEmpty)
      System.err.println(s"[bench] FP GATE: ${violations.size} UNDECLARED plan change(s): " +
        violations.mkString(", ") + " — declare via SPARK_GRAFT_FP_ALLOW or investigate")
    val violField = if (violations.isEmpty) ""
      else violations.map("\"" + _ + "\"").mkString(",\"fp_violations\":[", ",", "]")
    // GC attribution: per-query entries only where the measured runs spent
    // >200 ms in GC (listing ~100 near-zero entries would double the line
    // for nothing), plus the session total. Reading: a blown-up median
    // with unchanged fingerprint AND a blown-up gc entry = heap pressure;
    // without one = scheduler/IO interference.
    val gcTotal = results.map(_.gc).sum
    val gcs = results.collect { case r if r.gc > 200 =>
      "\"" + r.name + "\":" + r.gc }
    val gcField = (if (gcs.isEmpty) "" else gcs.mkString(",\"gc_ms\":{", ",", "}")) +
      s""","gc_total_ms":$gcTotal"""
    // Drift-attribution fields (see probeMs above): full maps, file-only
    // cost — the driver's short line is unaffected. t_off at 0.1 s
    // granularity (window attribution needs minutes, not ms).
    val tOffField = results.map(r => "\"" + r.name + "\":" + Harness.fmt(r.tOff, 1))
      .mkString(",\"t_off\":{", ",", "}")
    val probeField = results.map(r => "\"" + r.name + "\":" + r.probe)
      .mkString(",\"probe_ms\":{", ",", "}")
    // Spark work of each query's first measured run: deterministic per
    // plan, so it ranks structural optimization targets where wall time
    // is noisy (a driver-side collect is one more job, a shuffle one
    // more stage)
    work.drain()
    val workField = results.map(r => "\"" + r.name + "\":" + work.of(r.name).mkString("[", ",", "]"))
      .mkString(",\"jobs_stages_tasks\":{", ",", "}")
    // External perf anchor (r8 verdict #5): ORACLE_TIMES.json carries
    // per-query DuckDB wall-times for the SAME oracle SQL over the SAME
    // parquet (produced by tools/oracle_times.py, committed). When its sf
    // matches this run, the full line gains the per-family Spark/DuckDB
    // ratio — a real single-node denominator at every scale, instead of
    // round-over-round only. Ratios compare DuckDB's whole-query time
    // against Spark's steady-state MEDIAN (build cost excluded — the
    // "build once, probe forever" contract), computed over the
    // intersection of query names. Absent/mismatched file = no field.
    val oracleField = oracleSummary("ORACLE_TIMES.json", sfName,
      results.collect { case r if r.dt > 0 => r.name -> r.dt }.toMap)
    // Scale anchor (r8 verdict #3): BENCH_SF1.json is the committed
    // full-detail line of a bench run over the 10x-replicated sf1 corpus
    // (tools/scale_testdata.py; run with SPARK_GRAFT_SF_DIR=testdata_sf1
    // SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json). When THIS run is the
    // canonical sf0.1, the line gains per-family sf1/sf0.1 scaling
    // factors — the measured answer to "which plans are data-bound
    // (scale ~10x), which sit on the per-job floor (scale ~1x), and
    // which grew superlinearly (a shape that would not survive 100x)".
    val sf1Field = sf1Summary("BENCH_SF1.json", sfName,
      results.collect { case r if r.dt > 0 => r.name -> r.dt }.toMap)
    // Two stdout lines. The first carries everything (per-query medians,
    // build-paying cold times, flaky counts) for humans and the repo log;
    // at ~100 queries it exceeds the 2000-char stdout tail the driver
    // parses, so a SHORT final line repeats the headline fields — the
    // driver's tail window always contains it whole, whatever the query
    // count grows to. The full detail is also written to BENCH_FULL.json
    // next to the build so the per-query numbers survive the truncation.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$coldField$flakyField$plans$changedField$violField$gcField$tOffField$probeField$workField$oracleField$sf1Field,"sf":"$sfName","cpus":"$cpus","shuffle_partitions":"$shufflePartitions","n":$n,"cold_total":${fmt(coldTotal)}}"""
    println(full)
    try {
      val p = java.nio.file.Paths.get(outPath)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query detail: ${p.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Driver per-query visibility (r18, verdict r17 #2): PERF_r16/r17
    // compared totals only — their per_query maps were empty because the
    // driver's comparator ingests complete machine-readable stdout lines,
    // and the only line carrying the queries map (the full line above) is
    // head-truncated out of the driver's 2000-char tail window. Emit the
    // per-query medians as their OWN metric line immediately before the
    // final total line (the judge's suggested shape), so a
    // line-oriented parser finds a complete `{"metric":"per_query",...}`
    // object in the stdout stream. The final short line stays LAST and
    // byte-compatible — whatever the driver parses last is unchanged.
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfName","cpus":"$cpus","shuffle_partitions":"$shufflePartitions","n":$n}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfName","n":$n,"nqueries":${results.size},"cold_total":${fmt(coldTotal)},"detail":"$outPath"}""")
    spark.stop()
  }

  /** The `,"oracle":{...}` JSON fragment comparing Spark medians (sec)
    * against DuckDB oracle wall-times (ms) from [[path]] — empty string
    * when the file is absent, unreadable, or measured at a different sf.
    * Families are the letter prefix of the query name (m/q/a/d/t/e/r/p/
    * mm...): per family, ratio = Spark total / DuckDB total over the name
    * intersection. Jackson (on the Spark classpath) parses; any failure
    * degrades to no field — the anchor is an aid, never an abort. */
  private[graft] def oracleSummary(path: String, sfName: String,
      sparkSec: Map[String, Double]): String = try {
    val f = new java.io.File(path)
    if (!f.exists()) return ""
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(f)
    if (root.path("sf").asText("") != sfName) return ""
    val it = root.path("oracle_ms").properties().iterator()
    val oracleMs = scala.collection.mutable.Map.empty[String, Double]
    while (it.hasNext) { val e = it.next(); oracleMs(e.getKey) = e.getValue.asDouble() }
    val common = sparkSec.keySet.intersect(oracleMs.keySet).toSeq.sorted
    if (common.isEmpty) return ""
    def fam(q: String): String = q.takeWhile(!_.isDigit)
    def r3(v: Double): String = Harness.fmt(v, 2)
    val famRatios = common.groupBy(fam).toSeq.sortBy(_._1).map { case (fm, qs) =>
      val s = qs.map(sparkSec(_) * 1000).sum
      val o = qs.map(oracleMs(_)).sum
      "\"" + fm + "\":" + r3(s / math.max(o, 0.001))
    }
    val sTot = common.map(sparkSec(_) * 1000).sum
    val oTot = common.map(oracleMs(_)).sum
    s""","oracle":{"nq":${common.size},"duckdb_total_ms":${r3(oTot)},"spark_total_ms":${r3(sTot)},"ratio_total":${r3(sTot / math.max(oTot, 0.001))},"families":${famRatios.mkString("{", ",", "}")}}"""
  } catch { case _: Throwable => "" }

  /** The `,"sf1":{...}` JSON fragment comparing this (sf0.1) run's
    * medians against the committed sf1 bench detail at [[path]] — empty
    * string when absent/unreadable, when this run is NOT at sf0.1 (the
    * ratio is only meaningful against the canonical scale), or when the
    * file's own sf is not the scaled corpus. Per family (letter prefix):
    * scale_x = sf1 total / sf0.1 total over the name intersection of
    * positive medians — ~10 means data-bound linear scaling, ~1 means the
    * per-job floor still dominates at 10x data, >>10 flags a shape that
    * would not survive 100x. Same degrade-to-no-field stance as
    * [[oracleSummary]]: the anchor is an aid, never an abort. */
  private[graft] def sf1Summary(path: String, sfName: String,
      sparkSec: Map[String, Double]): String = try {
    if (sfName != "sf0.1") return ""
    val f = new java.io.File(path)
    if (!f.exists()) return ""
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(f)
    // exact-suffix match, not contains: "testdata_sf10"/"sf100" corpora
    // would otherwise be silently ratio'd as if they were sf1 ("sf0.1"
    // cannot sneak in: its last three chars are "0.1")
    if (!root.path("sf").asText("").endsWith("sf1")) return ""
    val it = root.path("queries").properties().iterator()
    val sf1Sec = scala.collection.mutable.Map.empty[String, Double]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue.asDouble()
      if (v > 0) sf1Sec(e.getKey) = v // negative = failed at sf1; excluded
    }
    val common = sparkSec.keySet.intersect(sf1Sec.keySet).toSeq.sorted
    if (common.isEmpty) return ""
    def fam(q: String): String = q.takeWhile(!_.isDigit)
    def r2(v: Double): String = Harness.fmt(v, 2)
    val famScale = common.groupBy(fam).toSeq.sortBy(_._1).map { case (fm, qs) =>
      "\"" + fm + "\":" + r2(qs.map(sf1Sec(_)).sum / math.max(qs.map(sparkSec(_)).sum, 0.001))
    }
    val t01 = common.map(sparkSec(_)).sum
    val t1 = common.map(sf1Sec(_)).sum
    s""","sf1":{"nq":${common.size},"sf1_total_sec":${r2(t1)},"sf01_total_sec":${r2(t01)},"scale_x_total":${r2(t1 / math.max(t01, 0.001))},"cold_total_sec":${r2(root.path("cold_total").asDouble(-1))},"scale_x":${famScale.mkString("{", ",", "}")}}"""
  } catch { case _: Throwable => "" }

  /** Writes each `drifted` (query, scrubbed plan) to `fpdiff/<query>.txt`
    * beside the bench output `outPath`, after deleting the dumps of every
    * `measured` query — so the directory reflects the latest baseline
    * compare of each query this run measured, a subset run leaves the
    * other queries' dumps alone, and a run redirected elsewhere never
    * touches the committed `./fpdiff`. Returns the directory. */
  private[graft] def dumpDrifted(outPath: String, measured: Seq[String],
                                 drifted: Seq[(String, String)]): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(outPath).toAbsolutePath.getParent.resolve("fpdiff")
    measured.foreach(q => java.nio.file.Files.deleteIfExists(dir.resolve(s"$q.txt")))
    if (drifted.nonEmpty) java.nio.file.Files.createDirectories(dir)
    drifted.foreach { case (q, plan) =>
      java.nio.file.Files.write(dir.resolve(s"$q.txt"), plan.getBytes("UTF-8"))
    }
    dir
  }

  /** The fingerprint gate's decision: which changed-plan queries are NOT
    * covered by the allowlist. `allow` is comma-separated, each entry an
    * exact query name, a `prefix*` glob, or `*` (allow all); blank allows
    * nothing. Pure so BenchFpSpec can pin it exactly. */
  private[graft] def fpViolations(changed: Seq[String], allow: String): Seq[String] = {
    val pats = allow.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    changed.filterNot(c => pats.exists(p =>
      p == "*" || p == c || (p.endsWith("*") && c.startsWith(p.dropRight(1)))))
  }

  /** First non-comment, non-blank line of the FP_ALLOW declaration file
    * (comma-separated patterns, `#` comments); None when absent/unreadable
    * — same degrade-to-no-baseline stance as [[readPrevPlans]]. */
  private[graft] def readAllowFile(path: String): Option[String] = try {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.map(_.trim).find(l => l.nonEmpty && !l.startsWith("#"))
  } catch { case _: Throwable => None }

  /** The "plans" map of a previous bench's JSON — sliced out textually
    * (the file is our own single-line format: a flat object of
    * 12-hex-char fingerprints, no nesting) so no JSON library is needed.
    * Any unreadable/absent/malformed file degrades to "no baseline"
    * (empty map): attribution is an aid, never an abort. */
  private[graft] def readPrevPlans(path: String): Map[String, String] = try {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val start = txt.indexOf("\"plans\":{")
      if (start < 0) Map.empty
      else {
        val body = txt.substring(start + 9, txt.indexOf('}', start))
        raw""""([A-Za-z0-9_]+)":"([0-9a-f]{12}|err)"""".r
          .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
      }
    }
  } catch { case _: Throwable => Map.empty }

  /** The `"sf"` field of a previous bench's JSON (same textual-slice
    * stance as [[readPrevPlans]]); None when absent/unreadable. Guards the
    * fingerprint compare: a baseline measured at a different scale is NO
    * baseline — sf1 plans legitimately differ from sf0.1 plans (stats-
    * driven join strategy), and diffing across scales would bury real
    * violations under phantom ones. */
  private[graft] def readPrevSf(path: String): Option[String] =
    // delegate to the LAST-match reader (ADVICE r16): "sf" sits in the
    // JSON tail with the other dials, so the same anchoring that keeps a
    // free-text field from shadowing "cpus" protects "sf" too
    readPrevField(path, "sf")

  /** A string-valued top-level field from the previous bench JSON (the
    * cpus / shuffle_partitions dial guard) — None when the file or the
    * field is absent, so baselines predating the field diff nothing. */
  private[graft] def readPrevField(path: String, field: String): Option[String] = try {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    // LAST match (r16, ADVICE r15): the dial fields are emitted in the
    // JSON tail, after every free-text field — so a future note/derivation
    // string embedding `"cpus":"..."` can never shadow the real dial.
    else (raw""""$field":"([^"]*)"""").r
      .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .foldLeft(Option.empty[String])((_, m) => Some(m.group(1)))
  } catch { case _: Throwable => None }

  /** Dial equality for the no-baseline guard: numerically when both sides
    * parse as ints ("04" == "4" — a spelled-differently equal dial must
    * not drop the baseline, ADVICE r15), string equality otherwise. */
  private[graft] def dialEq(prev: Option[String], cur: String): Boolean =
    prev.exists(p => (p.toIntOption, cur.toIntOption) match {
      case (Some(a), Some(b)) => a == b
      case _ => p == cur
    })

  /** Normalize JVM-run-specific tokens out of a canonicalized plan string
    * so its hash is stable across processes: canonicalization handles
    * exprIds but closure-bearing operators still print lambda class
    * names, object identity hashes, and RDD/plan ids that differ every
    * run. */
  private[graft] def scrubPlan(s: String): String = {
    val tok = s
      .replaceAll("\\$?Lambda/0x[0-9a-fA-F]+", "<lambda>")
      .replaceAll("\\$?Lambda\\$\\d+/0x[0-9a-fA-F]+", "<lambda>")
      .replaceAll("@[0-9a-fA-F]{4,}", "@obj")
      .replaceAll("0x[0-9a-fA-F]{4,}", "0xN")
      .replaceAll("#\\d+", "#n")
      // Higher-order-function lambda variables print as `lambda x_197#805`
      // — the NAME suffix is a session-global counter (one per lambda
      // analysis), so it depends on how many HOF plans the session built
      // before this one (bench n, warm-up retries, query order). The
      // exprId scrub above catches the `#805`, not the `_197`: scrub the
      // name counter too, or every filter/transform/zip_with query
      // fingerprints differently across sessions with identical code
      // (observed: 17 queries flagged vs a baseline built by a same-code
      // session that had run a different number of analyses).
      .replaceAll("\\blambda ([A-Za-z_][A-Za-z0-9_]*?)_\\d+#n", "lambda $1_n#n")
      // Every artifact name ends in an 8-hex DATA-SIGNATURE suffix
      // (graft.sources.Artifact.signature: md5 of the source part files'
      // names+sizes+MTIMES): a cache key, not plan semantics. Test data
      // regenerated between runs gets new mtimes, so without this scrub
      // every artifact-reading fingerprint would drift against a baseline
      // refreshed on identical code (caught r13). The name is
      // graft_<kind><params>_<16-hex path hash>_<sig>; kind+params are
      // [a-z0-9]+ and the underscore-delimited path hash stops the class
      // from over-consuming.
      .replaceAll("\\b(graft_[a-z0-9]+_[0-9a-f]{16})_[0-9a-f]{8}\\b", "$1_sig")
      .replaceAll("\\[id=#?\\d+\\]", "[id=n]")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=n]")
      .replaceAll("RDD\\[\\d+\\]", "RDD[n]")
      // Scan-metadata lists (DataFilters etc.) truncate at a fixed CHAR
      // width (spark.sql.maxMetadataStringLength) — but the cut lands on
      // the RAW text, whose exprId digit counts vary per session, so the
      // scrubbed tail ends mid-token at shifting points. Drop the final
      // partial element of any "..."-truncated list: the fingerprint
      // loses one element's fidelity, the flutter goes away. The match is
      // anchored to where width truncation actually cuts: StringUtils
      // .abbreviate appends `...` and the ONE-LINE FileScan metadata
      // string continues with `, NextKey: ` (or the line/text ends, or a
      // `]` closes an untruncated-bracket case) — so the lookahead admits
      // `]`, end-of-line/text, and `, Capitalized: `. A literal `...`
      // inside e.g. a Contains() string predicate is followed by `)` and
      // can no longer eat its preceding comma-element. May not cross
      // lines.
      .replaceAll(
        ",[^,\\[\\]\\r\\n]*\\.\\.\\.(?=\\]|\\r?\\n|$|, [A-Z][A-Za-z]*: )",
        ", ...")
    // MergeScalarSubqueries numbers its fused groups (gid tags + the
    // Expand node's literal group ids) in optimizer-visit order, which
    // varies run to run — normalize the NUMBERS (they are internal tags,
    // not semantics) so the sorts below can line the elements up. Bare
    // digits are normalized ONLY inside Expand row-lists; `gid#n = K`
    // comparisons are targeted directly.
    val gidNorm = normalizeExpandTags(
      tok.replaceAll("gid#n = \\d+", "gid#n = g"))
    // Some delimited lists print in internal SET/MAP iteration order that
    // genuinely varies run to run on identical code (measured: DPP scans
    // swap [isnotnull, dynamicpruningexpression] in PartitionFilters;
    // MergeScalarSubqueries swaps the FILTER-tagged functions of the
    // fused aggregate AND its Expand projection rows; canonicalization's
    // multicommutativeop prints its AND/OR children in set order). Sort
    // those lists' top-level elements — iterated to fixpoint so nested
    // occurrences settle — output=[..] is NOT sorted (column order is
    // semantic).
    // The three scan-metadata *Filters lists additionally DROP their
    // isnotnull elements: constraint-inferred isnotnulls come and go with
    // session-state-dependent optimizer bookkeeping (the d9 flutter,
    // verdict r15 #1) — they are never the semantic filter, whose real
    // predicates sit beside them and in the Filter nodes above.
    val keys = Seq(("functions=", '[', ']', false),
      ("PartitionFilters: ", '[', ']', true),
      ("DataFilters: ", '[', ']', true), ("PushedFilters: ", '[', ']', true),
      ("multicommutativeop", '(', ')', false), ("Expand ", '[', ']', false))
    var prev = ""
    var cur = gidNorm
    var rounds = 0
    while (cur != prev && rounds < 5) {
      prev = cur
      cur = keys.foldLeft(cur) { case (acc, (k, o, c, drop)) =>
        sortDelimited(acc, k, o, c, drop) }
      rounds += 1
    }
    cur
  }

  /** Normalize bare integer literals inside `Expand [[...], [...]]` row
    * lists to `g`: the trailing literal of each Expand projection row is
    * the grouping id MergeScalarSubqueries / rollup assigned in optimizer
    * -visit order — an internal tag, renumbered nondeterministically on
    * identical code. Scoped to the Expand block so real literals
    * elsewhere in the plan are untouched. */
  private[graft] def normalizeExpandTags(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    var j = s.indexOf("Expand [", i)
    while (j >= 0) {
      val start = j + "Expand [".length
      var depth = 1
      var k = start
      while (k < s.length && depth > 0) {
        val c = s.charAt(k)
        if (c == '[') depth += 1 else if (c == ']') depth -= 1
        k += 1
      }
      if (depth > 0) {
        // Bracket never balanced (truncated/unexpected text): pass the
        // remainder through UNCHANGED rather than dropping the real final
        // character and appending a spurious `]`.
        sb.append(s.substring(i))
        i = s.length
        j = -1
      } else {
        sb.append(s.substring(i, start))
          .append(s.substring(start, k - 1)
            .replaceAll("(?<=[\\[, ])\\d+(?=[,\\]])", "g"))
          .append(']')
        i = k
        j = s.indexOf("Expand [", i)
      }
    }
    sb.append(s.substring(i))
    sb.toString
  }

  /** Sort the top-level comma-separated elements of every `key<open>...
    * <close>` occurrence, respecting nesting depth (elements contain
    * parenthesized commas: `first(a, true) FILTER (WHERE ...)`).
    *
    * LINE-BOUNDED (r16, the d9 flutter root cause): plan nodes print one
    * per line, so a delimited list never legitimately crosses a newline —
    * but scan-metadata values truncate at spark.sql
    * .maxMetadataStringLength WITHOUT their closing bracket, and the
    * previous unbounded scan then swallowed every following LINE until
    * brackets happened to re-balance, alphabetically scrambling whole
    * subtrees. The swallow extent shifted with session-global exprId
    * digit widths (the raw text is cut BEFORE the exprId scrub), so two
    * full-registry runs fingerprinted d9 differently. Now: a list that
    * does not close on its own line is TRUNCATION DAMAGE — its tail is
    * already partial — so the whole remainder-of-line normalizes to one
    * deterministic `<truncated>` token (determinism beats fidelity: the
    * Filter nodes above the scan carry the same predicates untruncated).
    * `dropIsNotNull` additionally strips constraint-inferred isnotnull
    * elements (see scrubPlan's keys table).
    *
    * DEFENSIVE-ONLY as of r17: [[Harness.session]] renders plans with
    * spark.sql.maxMetadataStringLength raised far past any real metadata
    * value, so width truncation — and with it this branch's known blind
    * spot (the collapse also erases the truncated line's following
    * `Key: [...]` fields, ADVICE r16) — cannot occur in any session whose
    * fingerprints the gate compares. The branch stays for foreign-session
    * plan text fed to scrubPlan directly. */
  private def sortDelimited(s: String, key: String, open: Char, close: Char,
                            dropIsNotNull: Boolean = false): String = {
    val sb = new StringBuilder
    var i = 0
    var j = s.indexOf(key + open, i)
    while (j >= 0) {
      val start = j + key.length + 1
      var depth = 1
      var k = start
      while (k < s.length && depth > 0 &&
             s.charAt(k) != '\n' && s.charAt(k) != '\r') {
        val c = s.charAt(k)
        if (c == '[' || c == '(') depth += 1
        else if (c == ']' || c == ')') depth -= 1
        k += 1
      }
      if (depth > 0) {
        // Unbalanced at end-of-line/text: truncated metadata. Replace the
        // remainder of the line with one stable token.
        sb.append(s.substring(i, start)).append("<truncated>").append(close)
        i = k
      } else {
        val inner = s.substring(start, k - 1)
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        var d = 0
        var last = 0
        var m = 0
        while (m < inner.length) {
          // NOT <>: comparison operators appear unpaired ((a > 5)), and
          // generic types (struct<a:bigint,b:int>) print commas without a
          // trailing space, so they can never be split points anyway
          val c = inner.charAt(m)
          if (c == '(' || c == '[') d += 1
          else if (c == ')' || c == ']') d -= 1
          else if (c == ',' && d == 0 && m + 1 < inner.length && inner.charAt(m + 1) == ' ') {
            parts += inner.substring(last, m)
            last = m + 2
          }
          m += 1
        }
        parts += inner.substring(last)
        val kept =
          if (dropIsNotNull) parts.filterNot(p =>
            p.startsWith("isnotnull(") || p.startsWith("IsNotNull("))
          else parts
        sb.append(s.substring(i, start)).append(kept.sorted.mkString(", ")).append(close)
        i = k
      }
      j = s.indexOf(key + open, i)
    }
    sb.append(s.substring(i))
    sb.toString
  }

  /** Jobs, stages and tasks per query, from one listener. A run wrapped
    * in [[tagged]] carries the query name on a job-local property, so the
    * listener charges every job the run starts, with its stages and
    * tasks, to that query — no pause between queries, one [[drain]] at
    * the end. */
  private[graft] final class Work(sc: SparkContext) extends SparkListener {
    private val Key = "graft.bench.query"
    private val Marker = "graft.bench.drain"
    private val counts = scala.collection.mutable.Map.empty[String, Array[Long]]
    private val stageQuery = scala.collection.mutable.Map.empty[Int, String]
    sc.addSparkListener(this)

    def tagged[T](query: String)(body: => T): T = {
      sc.setLocalProperty(Key, query)
      try body finally sc.setLocalProperty(Key, null)
    }

    /** (jobs, stages, tasks) charged to `query`. */
    def of(query: String): Seq[Long] =
      synchronized(counts.get(query).map(_.toSeq).getOrElse(Seq(0L, 0L, 0L)))

    /** Returns once every event posted before the call has been counted:
      * the bus delivers in order, so a marker job's completed stage comes
      * after them all. */
    def drain(): Unit = {
      tagged(Marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (of(Marker)(1) == 0 && System.nanoTime() < deadline) Thread.sleep(5)
    }

    private def add(query: String, i: Int): Unit =
      synchronized(counts.getOrElseUpdate(query, new Array[Long](3))(i) += 1)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(Key))).foreach { q =>
        synchronized(js.stageIds.foreach(stageQuery(_) = q))
        add(q, 0)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageQuery.get(e.stageInfo.stageId)).foreach(add(_, 1))

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      synchronized(stageQuery.get(te.stageId)).foreach(add(_, 2))
  }
}
