package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two pure helpers behind Bench's plan-change attribution:
  * `scrubPlan` (JVM-run-token normalization — the difference between a
  * fingerprint that settles across processes and one that flutters on 20
  * of 113 queries) and `readPrevPlans` (the textual slice of the previous
  * BENCH_FULL.json that turns a timing swing into "plan changed" vs
  * "environment noise" without manual plan digging). Both are plain
  * string functions, so the pins are exact, no Spark session needed.
  */
class BenchFpSpec extends AnyFunSuite {

  test("scrubPlan normalizes lambda / object-hash / id tokens") {
    val a = Bench.scrubPlan(
      "SerializeFromObject [input] graft.rag.Mmr$$Lambda$4521/0x00007f3a2c5e9040@1a2b3c4d, " +
        "Exchange hashpartitioning(doc_id#123, 4), [plan_id=57] RDD[12] [id=#88]")
    val b = Bench.scrubPlan(
      "SerializeFromObject [input] graft.rag.Mmr$$Lambda$977/0x00007fee81aa1840@deadbeef, " +
        "Exchange hashpartitioning(doc_id#456, 4), [plan_id=3] RDD[7] [id=#2]")
    assert(a == b)
    assert(!a.contains("0x0000"))
    assert(!a.contains("#123"))
  }

  test("scrubPlan drops the IVF list table's data-signature suffix") {
    // the sig is md5 over file names+sizes+MTIMES (Pq.srcSignature) — the
    // driver resets testdata mtimes every round, so two same-code rounds
    // print different suffixes for the same semantic plan (caught r13)
    val a = Bench.scrubPlan("FileScan parquet spark_catalog.default." +
      "graft_ivf8_ddbe1476c5607681_d072d57d[vec_id#nL]")
    val b = Bench.scrubPlan("FileScan parquet spark_catalog.default." +
      "graft_ivf8_ddbe1476c5607681_00c0ffee[vec_id#nL]")
    assert(a == b)
    assert(a.contains("graft_ivf8_ddbe1476c5607681_sig"))
    // the corpus-DIRECTORY hash before it is semantic (sf0.1 vs sf1
    // index tables must NOT collide) — only the trailing sig normalizes
    assert(Bench.scrubPlan("graft_ivf8_aaaaaaaaaaaaaaaa_d072d57d")
      === "graft_ivf8_aaaaaaaaaaaaaaaa_sig")
    // every dial-parameterized sig-keyed table family normalizes the
    // same way (r13: graft_ivfpq<N> joined graft_ivf<N>)
    assert(Bench.scrubPlan("graft_ivfpq448_aaaaaaaaaaaaaaaa_00c0ffee")
      === "graft_ivfpq448_aaaaaaaaaaaaaaaa_sig")
    // the default-dial table names carry NO sig and must pass untouched
    assert(Bench.scrubPlan("graft_ivfpq_aaaaaaaaaaaaaaaa")
      === "graft_ivfpq_aaaaaaaaaaaaaaaa")
  }

  test("scrubPlan sorts set-ordered delimited lists but not output columns") {
    val x = Bench.scrubPlan(
      "PartitionFilters: [isnotnull(d#n), dynamicpruningexpression(d#n IN subquery)], output=[b, a]")
    val y = Bench.scrubPlan(
      "PartitionFilters: [dynamicpruningexpression(d#n IN subquery), isnotnull(d#n)], output=[b, a]")
    assert(x == y)
    // output=[..] order is semantic (column order) and must survive
    assert(x.contains("output=[b, a]"))
  }

  test("scrubPlan respects nesting when splitting list elements") {
    // the FILTER clause contains a top-level-looking comma inside parens;
    // a naive split would tear `first(a, true)` apart
    val p = "functions=[sum(x#n), first(a#n, true) FILTER (WHERE (p#n = 1))]"
    val q = "functions=[first(a#n, true) FILTER (WHERE (p#n = 1)), sum(x#n)]"
    assert(Bench.scrubPlan(p) == Bench.scrubPlan(q))
    assert(Bench.scrubPlan(p).contains("first(a#n, true)"))
  }

  test("scrubPlan settles MergeScalarSubqueries' nondeterministic gid " +
       "numbering (FILTER tags + Expand rows)") {
    // the r8 dump-diff find: identical code, two runs, lang/source swap
    // gids 1<->2 and the Expand rows reorder with them
    val runA = Bench.scrubPlan(
      "HashAggregate(keys=[], functions=[partial_count(lang#7) FILTER (WHERE (gid#9 = 2)), " +
        "partial_count(source#8) FILTER (WHERE (gid#9 = 1))], output=[count#1L, count#2L]) " +
        "Expand [[null, null, 0, length(text#5)], [source#8, null, 1, null], " +
        "[null, lang#7, 2, null]], [source#8, lang#7, gid#9, len#6]")
    val runB = Bench.scrubPlan(
      "HashAggregate(keys=[], functions=[partial_count(lang#7) FILTER (WHERE (gid#9 = 1)), " +
        "partial_count(source#8) FILTER (WHERE (gid#9 = 2))], output=[count#1L, count#2L]) " +
        "Expand [[null, null, 0, length(text#5)], [null, lang#7, 1, null], " +
        "[source#8, null, 2, null]], [source#8, lang#7, gid#9, len#6]")
    assert(runA == runB)
    // the output attribute list after the rows is semantic — untouched
    assert(runA.contains("[source#n, lang#n, gid#n, len#n]"))
  }

  test("scrubPlan stabilizes width-truncated metadata list tails") {
    // exprId digit width shifts the raw 100-char cut point; after #n
    // scrubbing the two tails must collapse to the same text
    val a = Bench.scrubPlan("DataFilters: [(list_id#12 < 8), isnotnull(vec_id#...")
    val b = Bench.scrubPlan("DataFilters: [(list_id#1234 < 8), isnotnull(vec...")
    assert(a == b, s"$a vs $b")
    // untruncated lists keep every SEMANTIC element; constraint-inferred
    // isnotnulls drop (r16 — they come and go with session state, the d9
    // flutter), and other predicates survive
    val c = Bench.scrubPlan("DataFilters: [(a#1 < 8), isnotnull(b#2)]")
    assert(c.contains("(a#n < 8)"))
    assert(!c.contains("isnotnull"), c)
  }

  test("scrubPlan bounds list sorting at the line: an unclosed metadata " +
       "list must not swallow and scramble the following plan lines (d9)") {
    // the r15 d9 flutter root cause: a width-truncated DataFilters loses
    // its `]`, the old unbounded scan consumed every following LINE until
    // brackets re-balanced, and the sort alphabetized whole subtrees —
    // making the fingerprint depend on the session-global truncation point
    val plan =
      "+- FileScan parquet [a#1] DataFilters: [((cast(i#2 as decimal(38,0)) * 2000000...\n" +
      "   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false)\n" +
      "      +- Filter (x#3 > 5)]\n" // a stray `]` three lines down
    val t = Bench.scrubPlan(plan)
    assert(t.contains("DataFilters: [<truncated>]"), t)
    assert(t.contains("+- BroadcastExchange HashedRelationBroadcastMode"), t)
    assert(t.contains("+- Filter (x#n > 5)"), t)
    // and the scrub is invariant to WHERE the cut landed
    val plan2 = plan.replace("* 2000000...", "* 200...")
    assert(Bench.scrubPlan(plan2) == t)
  }

  test("scrubPlan leaves a mid-plan literal `...` alone (list-final anchor)") {
    // r8 advice: the tail scrub must only fire where width truncation
    // cuts (list-final / line-final), not on a `...` inside a string
    // predicate — previously the element before such a literal was eaten.
    val s = "Filter Contains(text#7, foo...bar) AND (x#8 > 2)"
    assert(Bench.scrubPlan(s).contains("Contains(text#n, foo...bar)"))
    val t = "PushedFilters: [GreaterThan(a,5), StringEndsWith(text,abc...)]"
    assert(Bench.scrubPlan(t).contains("GreaterThan(a,5)"),
      "element before a literal `...)` must survive")
    // genuine truncation (list-final `...`) still collapses
    assert(Bench.scrubPlan("DataFilters: [(a#1 < 8), isnotnu...")
      == Bench.scrubPlan("DataFilters: [(a#123 < 8), iso..."))
    // ... and so does the REAL FileScan shape: the abbreviated value is
    // followed by `, NextKey: ` on the same one-line metadata string
    assert(Bench.scrubPlan(
        "PushedFilters: [IsNotNull(a), In(b, [1,2..., ReadSchema: struct<a:int>")
      == Bench.scrubPlan(
        "PushedFilters: [IsNotNull(a), In(b, [1,23..., ReadSchema: struct<a:int>"))
  }

  test("normalizeExpandTags passes an unbalanced Expand block through unchanged") {
    val s = "Expand [[a#1, 0], [b#2, 1"
    assert(Bench.normalizeExpandTags(s) == s,
      "unbalanced bracket must not trim the final char or append `]`")
  }

  test("normalizeExpandTags touches only Expand-row integer literals") {
    val s = "Filter (x#1 = 100) Expand [[null, 0, -1], [a#2, 1, -1]], [a#2, gid#3] Limit 5"
    val t = Bench.normalizeExpandTags(s)
    assert(t.contains("(x#1 = 100)"), "literals outside Expand must survive")
    assert(t.contains("Limit 5"))
    assert(t.contains("[[null, g, -1], [a#2, g, -1]]"), s"got: $t")
  }

  test("readPrevPlans slices the plans map and ignores plan_changes") {
    val dir = java.nio.file.Files.createTempDirectory("benchfp")
    val f = dir.resolve("bench.json")
    java.nio.file.Files.write(f,
      ("""{"metric":"total","value":1.0,"queries":{"q1":0.1},""" +
        """"plans":{"q1_agg":"0123456789ab","m5_cleanup":"err"},""" +
        """"plan_changes":{"q1_agg":"ffffffffffff"},""" +
        """"jobs_stages_tasks":{"q1_agg":[2,3,9],"m5_cleanup":[1,1,4]},"sf":"sf0.1"}""").getBytes("UTF-8"))
    val m = Bench.readPrevPlans(f.toString)
    assert(m == Map("q1_agg" -> "0123456789ab", "m5_cleanup" -> "err"))
  }

  test("fp gate: undeclared plan changes are violations") {
    val changed = Seq("e1_asof_join", "q8_rollup", "m5_cleanup_expired")
    assert(Bench.fpViolations(changed, "") == changed) // blank allows nothing
    assert(Bench.fpViolations(changed, "q8_rollup") ==
      Seq("e1_asof_join", "m5_cleanup_expired"))
  }

  test("fp gate: exact names, prefix globs, and * all declare changes") {
    val changed = Seq("e1_asof_join", "e2_sessions", "q8_rollup")
    // the intentional-change exercise: committer declares the event family
    // (prefix glob) plus one exact query — gate passes
    assert(Bench.fpViolations(changed, "e*,q8_rollup").isEmpty)
    assert(Bench.fpViolations(changed, "*").isEmpty)
    // a glob that misses still reports the rest
    assert(Bench.fpViolations(changed, "e1_*") == Seq("e2_sessions", "q8_rollup"))
    // whitespace around entries is tolerated
    assert(Bench.fpViolations(changed, " e* , q8_rollup ").isEmpty)
  }

  test("fp gate: FP_ALLOW file supplies the pattern line, comments skipped") {
    val dir = java.nio.file.Files.createTempDirectory("fpallow")
    val f = dir.resolve("FP_ALLOW")
    java.nio.file.Files.write(f,
      "# comment\n\n# more\nm*,e*,q8_rollup\nignored_second_line\n".getBytes("UTF-8"))
    assert(Bench.readAllowFile(f.toString).contains("m*,e*,q8_rollup"))
    assert(Bench.readAllowFile(dir.resolve("absent").toString).isEmpty)
  }

  test("readPrevSf reads the baseline's scale; guards cross-sf compares") {
    val dir = java.nio.file.Files.createTempDirectory("benchsf")
    val f = dir.resolve("bench.json")
    java.nio.file.Files.write(f,
      """{"metric":"total","plans":{"q1_agg":"0123456789ab"},"sf":"sf0.1","n":3}"""
        .getBytes("UTF-8"))
    assert(Bench.readPrevSf(f.toString).contains("sf0.1"))
    assert(Bench.readPrevSf(dir.resolve("absent").toString).isEmpty)
    // the main-loop guard: a baseline at another sf yields NO baseline
    val crossSf = Bench.readPrevSf(f.toString).exists(_ != "testdata_sf1")
    assert(crossSf, "sf mismatch must be detected")
    // LAST-match anchoring (ADVICE r16): an earlier NESTED object whose
    // field happens to be named "sf" (the oracle/sf1 summary objects carry
    // nested quoted keys, unescaped) must not shadow the real tail dial —
    // readPrevSf rides the same last-match reader as cpus/shuffle_partitions
    val shadowed = dir.resolve("shadowed.json")
    java.nio.file.Files.write(shadowed,
      """{"oracle":{"sf":"sf9","nq":1},"plans":{},"sf":"sf0.1","n":3}"""
        .getBytes("UTF-8"))
    assert(Bench.readPrevSf(shadowed.toString).contains("sf0.1"))
  }

  test("scrubPlan normalizes the session-global lambda-variable counter") {
    // the name suffix (x_197) is a per-session analysis counter, distinct
    // from the exprId (#805) — both must scrub or HOF plans fingerprint
    // differently across sessions running identical code
    val s = "filter(split(text#12,  , -1), lambdafunction(lambda x_197#805 " +
      "IN (the,a,of), lambda x_197#805, false)) AS en_hits#9, " +
      "zip_with(a#3, b#4, lambdafunction((lambda left_42#11 * lambda right_43#12), " +
      "lambda left_42#11, lambda right_43#12, false))"
    val t = Bench.scrubPlan(s)
    assert(!t.contains("x_197"), t)
    assert(t.contains("lambda x_n#n IN (the,a,of)"), t)
    assert(t.contains("lambda left_n#n"), t)
    assert(t.contains("lambda right_n#n"), t)
    // two sessions, different counters -> identical scrub
    assert(Bench.scrubPlan(s.replace("197", "4121").replace("42#", "77#")
      .replace("43#", "78#").replace("_42", "_77").replace("_43", "_78")) == t)
  }

  test("sf1Summary folds the committed sf1 detail into per-family scale factors") {
    val dir = java.nio.file.Files.createTempDirectory("benchsf1")
    val f = dir.resolve("BENCH_SF1.json")
    // q-family scales 10x (data-bound), m-family 1x (job floor); m9 failed
    // at sf1 (negative marker) and must be excluded from the intersection
    java.nio.file.Files.write(f,
      ("""{"metric":"total","value":12.0,"unit":"sec","queries":""" +
        """{"q1_agg":2.0,"q3_join_agg":4.0,"m2_get":0.1,"m9_exists":-0.5},""" +
        """"sf":"testdata_sf1","n":3,"cold_total":30.5}""").getBytes("UTF-8"))
    val sparkSec = Map("q1_agg" -> 0.2, "q3_join_agg" -> 0.4,
      "m2_get" -> 0.1, "m9_exists" -> 0.2, "only_at_01" -> 1.0)
    val frag = Bench.sf1Summary(f.toString, "sf0.1", sparkSec)
    assert(frag.startsWith(""","sf1":{"""), frag)
    assert(frag.contains(""""nq":3"""), frag)
    assert(frag.contains(""""q":10.00"""), frag)
    assert(frag.contains(""""m":1.00"""), frag)
    assert(frag.contains(""""cold_total_sec":30.50"""), frag)
    // only meaningful against the canonical sf0.1 run
    assert(Bench.sf1Summary(f.toString, "testdata_sf1", sparkSec) == "")
    // absent file / wrong sf in the file degrade to no field
    assert(Bench.sf1Summary(dir.resolve("absent").toString, "sf0.1", sparkSec) == "")
    val wrongSf = dir.resolve("wrong.json")
    java.nio.file.Files.write(wrongSf,
      """{"queries":{"q1_agg":2.0},"sf":"sf0.01"}""".getBytes("UTF-8"))
    assert(Bench.sf1Summary(wrongSf.toString, "sf0.1", sparkSec) == "")
    // an sf10/sf100-named corpus must NOT pass as sf1 (exact-suffix match:
    // its scale_x factors would be silently computed against the wrong
    // decade while still labeled sf1/sf0.1)
    val sf10 = dir.resolve("sf10.json")
    java.nio.file.Files.write(sf10,
      """{"queries":{"q1_agg":20.0},"sf":"testdata_sf10"}""".getBytes("UTF-8"))
    assert(Bench.sf1Summary(sf10.toString, "sf0.1", sparkSec) == "")
  }

  test("readPrevField takes the LAST match; dialEq compares numerically") {
    val dir = java.nio.file.Files.createTempDirectory("benchdial")
    val f = dir.resolve("bench.json")
    // a free-text note embedding the key pattern must not shadow the
    // real tail dial (ADVICE r15)
    java.nio.file.Files.write(f,
      ("""{"note":"measured at \"cpus\":\"8\" once","queries":{},""" +
        """"sf":"sf0.1","cpus":"32","shuffle_partitions":"32"}""").getBytes("UTF-8"))
    assert(Bench.readPrevField(f.toString, "cpus").contains("32"))
    assert(Bench.readPrevField(f.toString, "shuffle_partitions").contains("32"))
    assert(Bench.readPrevField(f.toString, "absent_field").isEmpty)
    // numerically-equal dials spelled differently must NOT drop the baseline
    assert(Bench.dialEq(Some("04"), "4"))
    assert(Bench.dialEq(Some("32"), "32"))
    assert(!Bench.dialEq(Some("4"), "32"))
    assert(!Bench.dialEq(None, "32")) // unknown dial = no baseline
    assert(Bench.dialEq(Some("x"), "x")) // non-numeric falls back to string eq
  }

  test("readPrevPlans degrades to empty on absent or malformed files") {
    assert(Bench.readPrevPlans("/nonexistent/bench.json").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("benchfp2")
    val f = dir.resolve("garbage.json")
    java.nio.file.Files.write(f, "not json at all".getBytes("UTF-8"))
    assert(Bench.readPrevPlans(f.toString).isEmpty)
  }

  test("fpdiff dumps land beside the output; a run replaces only its measured queries' dumps") {
    import java.nio.file.{Files, Paths}
    def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    val out = Files.createTempDirectory("benchfpdiff")
    val dir = out.resolve("fpdiff")
    Files.createDirectories(dir)
    Seq("a", "b").foreach(q => Files.write(dir.resolve(s"$q.txt"), s"old $q".getBytes("UTF-8")))
    def local = Option(new java.io.File("fpdiff").listFiles()).toSeq.flatten
      .map(f => f.getName -> read(f.toPath)).sorted
    val before = local
    // a subset run measured a and c; only c drifted
    assert(Bench.dumpDrifted(out.resolve("BENCH_SUBSET.json").toString,
      Seq("a", "c"), Seq("c" -> "plan c")) === dir)
    assert(!Files.exists(dir.resolve("a.txt")), "a measured, undrifted query kept its stale dump")
    assert(read(dir.resolve("b.txt")) === "old b", "an unmeasured query's dump was touched")
    assert(read(dir.resolve("c.txt")) === "plan c")
    assert(local === before, "a run redirected elsewhere touched ./fpdiff")
    // the default, relative output path keeps the working-directory dumps
    assert(Bench.dumpDrifted("BENCH_FULL.json", Nil, Nil) === Paths.get("fpdiff").toAbsolutePath)
  }
}
