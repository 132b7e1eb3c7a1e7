package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, IsNotNull, Literal, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{BaseSubqueryExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

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
      // Plan fingerprint: md5 of [[renderPlan]]. A timing regression with
      // an UNCHANGED fingerprint is environment noise; a changed
      // fingerprint is a plan change to diff. Free: the plan is derived,
      // never executed.
      val (fp, planTxt) = try {
        val plan = Bench.renderPlan(fn(spark, sfDir).queryExecution.executedPlan)
        // SPARK_GRAFT_DUMP_PLANS=<dir>: keep the rendering per query —
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
    // shuffle-partition count is part of every hash/range exchange, so a
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
      if (readPrevField(outPath, "sf").exists(_ != sfName) ||
          !dialEq(readPrevField(outPath, "cpus"), cpus) ||
          !dialEq(readPrevField(outPath, "shuffle_partitions"), shufflePartitions))
        Map.empty[String, String]
      else readPrevPlans(outPath)
    // the queries whose fingerprint differs from the baseline's
    val moved = results.filter(r =>
      prevPlans.get(r.name).exists(old => old != r.fp && r.fp != "err" && old != "err"))
    if (moved.nonEmpty)
      System.err.println(s"[bench] ${moved.size} plan fingerprint(s) changed since last run")
    // EVIDENCE ON DRIFT (verdict r16 #1): any fingerprint that differs
    // from the baseline auto-persists its plan rendering (see
    // [[dumpDrifted]]) — unconditional, no env var — so a flutter seen
    // only in the DRIVER's end-of-round session leaves a diffable artifact
    // in the tree. Diff against the committed plans_baseline/<name>.txt
    // (written by the re-baseline run via SPARK_GRAFT_DUMP_PLANS) to read
    // the exact drifting node. Best-effort: an unwritable dir must not
    // fail the bench.
    if (prevPlans.nonEmpty) try {
      val drifted = moved.collect { case r if r.plan.nonEmpty => r.name -> r.plan }
      val dir = dumpDrifted(outPath, results.map(_.name), drifted)
      if (drifted.nonEmpty)
        System.err.println(
          s"[bench] plan rendering for ${drifted.size} drifted " +
            s"fingerprint(s) written to $dir — diff vs plans_baseline/")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fpdiff dump failed: ${e.getMessage}")
    }
    val changedField = if (moved.isEmpty) "" else moved
      .map(r => "\"" + r.name + "\":\"" + prevPlans(r.name) + "\"")
      .mkString(",\"plan_changes\":{", ",", "}")
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
    val allowSpec = sys.env.get("SPARK_GRAFT_FP_ALLOW")
      .orElse(readAllowFile("FP_ALLOW")).getOrElse("")
    val violations = fpViolations(moved.map(_.name), allowSpec)
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

  /** Writes each `drifted` (query, plan rendering) to `fpdiff/<query>.txt`
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

  /** A string-valued top-level field from the previous bench JSON (the
    * sf / cpus / shuffle_partitions guard: a baseline at another scale or
    * dial is no baseline) — None when the file or the field is absent, so
    * baselines predating the field diff nothing. */
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

  /** The plan-fingerprint rendering of `plan`: one line per node of the
    * pre-AQE physical plan (an adaptive plan's `initialPlan`, so runtime
    * re-planning does not show), indented by depth. Each line holds the
    * node class and its constructor arguments; subqueries, DPP broadcasts
    * and reused exchanges referenced from an argument render as `<k>`
    * there and follow the node's children as `<k>` subtrees. What varies
    * between sessions on identical code renders by structure only:
    * expression ids are renumbered by first appearance, lambda variables
    * keep only their (renumbered) id, closures and other opaque objects
    * print their class without the JVM's lambda suffix, a scan names its
    * catalog table without the artifact signature or its paths relative
    * to their source directory, and its partition, data and pushed
    * filters are sorted sets without the inferred `isnotnull`s.
    * Operands keep source order: `.canonicalized` would reorder them by
    * hashCode, which differed between JVMs. */
  private[graft] def renderPlan(plan: SparkPlan): String = {
    val r = new PlanRendering
    r.node(plan, 0, "")
    r.text
  }

  private final class PlanRendering {
    private val out = new StringBuilder
    private val ids = mutable.Map.empty[Long, Int]
    /** The plans the node being rendered references from its arguments. */
    private var inner = mutable.ArrayBuffer.empty[SparkPlan]

    def text: String = out.toString

    def node(p: SparkPlan, depth: Int, label: String): Unit = {
      val outer = inner
      inner = mutable.ArrayBuffer.empty
      val (args, children) = p match {
        case a: AdaptiveSparkPlanExec => (Nil, Seq(a.initialPlan))
        case s: FileSourceScanExec => (scan(s), Nil)
        case _ =>
          // a subquery's name is a label ending in the id of the
          // expression that references it
          val name = p match { case b: BaseSubqueryExec => Some(b.name); case _ => None }
          (p.productIterator.filterNot {
            case c: SparkPlan => p.children.exists(_ eq c)
            case a => name.contains(a)
          }.map(value).toSeq, p.children)
      }
      val referenced = inner
      inner = outer
      out ++= "  " * depth ++= label ++= p.getClass.getSimpleName ++=
        args.mkString("(", ", ", ")") += '\n'
      children.foreach(node(_, depth + 1, ""))
      referenced.zipWithIndex.foreach { case (q, k) => node(q, depth + 1, s"<${k + 1}> ") }
    }

    private def id(e: ExprId): String = "#" + ids.getOrElseUpdate(e.id, ids.size)

    def value(x: Any): String = x match {
      case null => "null"
      case p: SparkPlan => inner += p; s"<${inner.size}>"
      case l: LogicalPlan => l.getClass.getSimpleName + l.expressions.map(value).mkString("(", ", ", ")")
      // a name holding `#` is generated from an expression rendered
      // beside it (an aggregate's result) and prints its session's ids
      case a: AttributeReference =>
        (if (a.name.contains('#')) "" else a.name) + id(a.exprId) + ":" + a.dataType.catalogString
      case v: NamedLambdaVariable => "lambda" + id(v.exprId) + ":" + v.dataType.catalogString
      case a: Alias => s"Alias(${value(a.child)}, ${a.name}${id(a.exprId)})"
      // through Scala and back: `sql` spells out generic arrays, structs
      // and maps, where an unsafe array prints only a hash of its bytes
      case l: Literal => Literal.create(CatalystTypeConverters.convertToScala(l.value, l.dataType),
        l.dataType).sql + ":" + l.dataType.catalogString
      case e: ExprId => id(e)
      case t: DataType => t.catalogString
      case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
      case a: Array[_] => a.map(value).mkString("[", ", ", "]")
      case p: Product if p.productArity == 0 => p.productPrefix
      case p: Product => p.productPrefix + p.productIterator.map(value).mkString("(", ", ", ")")
      case v @ (_: String | _: java.lang.Number | _: java.lang.Boolean | _: java.lang.Character |
                _: UTF8String | _: Enumeration#Value) => v.toString
      case c: Class[_] => c.getName
      case o =>
        val n = o.getClass.getName
        if (n.contains("$$Lambda")) n.substring(0, n.indexOf("$$Lambda")) else n
    }

    /** A file scan's arguments: the relation as its catalog table or
      * its paths, then the filter sets, then the rest. */
    private def scan(s: FileSourceScanExec): Seq[String] = {
      val roots = s.relation.location.rootPaths
      val relation = s.tableIdentifier match {
        case Some(t) =>
          // partition directories below the table's own directory
          def below(p: Path): Option[String] =
            if (p == null) None
            else if (p.getName == t.table) Some("")
            else below(p.getParent).map(_ + "/" + p.getName)
          t.copy(table = unsigned(t.table)).unquotedString +
            roots.map(p => below(p).getOrElse(p.getName)).filter(_.nonEmpty).sorted
              .mkString("[", ", ", "]")
        case None => roots.map(p => unsigned(p.getName)).sorted.mkString("[", ", ", "]")
      }
      // protected to Scala callers, public in the bytecode
      val pushed = s.getClass.getMethod("pushedDownFilters").invoke(s)
        .asInstanceOf[Seq[sources.Filter]]
      def filters(fs: Seq[Expression]): String =
        fs.filterNot(_.isInstanceOf[IsNotNull])
          .sortBy(f => new PlanRendering().value(f)).map(value).mkString("{", ", ", "}")
      Seq(relation, s.relation.fileFormat.toString, value(s.output),
        s.requiredSchema.catalogString, filters(s.partitionFilters), filters(s.dataFilters),
        pushed.filterNot(_.isInstanceOf[sources.IsNotNull]).map(_.toString)
          .sorted.mkString("{", ", ", "}"),
        value(s.stream), value(s.optionalBucketSet), value(s.optionalNumCoalescedBuckets),
        s.disableBucketedScan.toString)
    }
  }

  /** An artifact name (`graft_<kind><params>_<path hash>_<signature>`,
    * [[graft.sources.Artifact]]) with its 8-hex data signature replaced by
    * `sig`: the signature keys the data version, so it changes when the
    * corpus is regenerated while the plan does not. Other names pass. */
  private def unsigned(name: String): String = {
    val parts = name.split('_')
    def hex(s: String, n: Int) = s.length == n && s.forall(Character.digit(_, 16) >= 0)
    if (name.startsWith("graft_") && parts.length >= 4 &&
        hex(parts.last, 8) && hex(parts(parts.length - 2), 16)) name.dropRight(8) + "sig"
    else name
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
