package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure helpers behind Bench's plan-change attribution:
  * `readPrevPlans` and `readPrevField` (the textual slices of the
  * previous BENCH_FULL.json that turn a timing swing into "plan changed"
  * vs "environment noise" without manual plan digging), the allowlist
  * gate, the drifted-plan dumps and the sf1 scale summary. All are plain
  * string or file functions, so the pins are exact, no Spark session
  * needed; the plan rendering itself is pinned by PlanFingerprintSpec.
  */
class BenchFpSpec extends AnyFunSuite with TempDirs {

  test("readPrevPlans slices the plans map and ignores plan_changes") {
    val dir = tempDir("benchfp")
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
    val dir = tempDir("fpallow")
    val f = dir.resolve("FP_ALLOW")
    java.nio.file.Files.write(f,
      "# comment\n\n# more\nm*,e*,q8_rollup\nignored_second_line\n".getBytes("UTF-8"))
    assert(Bench.readAllowFile(f.toString).contains("m*,e*,q8_rollup"))
    assert(Bench.readAllowFile(dir.resolve("absent").toString).isEmpty)
  }

  test("readPrevSf reads the baseline's scale; guards cross-sf compares") {
    val dir = tempDir("benchsf")
    val f = dir.resolve("bench.json")
    java.nio.file.Files.write(f,
      """{"metric":"total","plans":{"q1_agg":"0123456789ab"},"sf":"sf0.1","n":3}"""
        .getBytes("UTF-8"))
    assert(Bench.readPrevField(f.toString, "sf").contains("sf0.1"))
    assert(Bench.readPrevField(dir.resolve("absent").toString, "sf").isEmpty)
    // the main-loop guard: a baseline at another sf yields NO baseline
    val crossSf = Bench.readPrevField(f.toString, "sf").exists(_ != "testdata_sf1")
    assert(crossSf, "sf mismatch must be detected")
    // LAST-match anchoring (ADVICE r16): an earlier NESTED object whose
    // field happens to be named "sf" (the oracle/sf1 summary objects carry
    // nested quoted keys, unescaped) must not shadow the real tail dial
    val shadowed = dir.resolve("shadowed.json")
    java.nio.file.Files.write(shadowed,
      """{"oracle":{"sf":"sf9","nq":1},"plans":{},"sf":"sf0.1","n":3}"""
        .getBytes("UTF-8"))
    assert(Bench.readPrevField(shadowed.toString, "sf").contains("sf0.1"))
  }

  test("sf1Summary folds the committed sf1 detail into per-family scale factors") {
    val dir = tempDir("benchsf1")
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
    val dir = tempDir("benchdial")
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
    val dir = tempDir("benchfp2")
    val f = dir.resolve("garbage.json")
    java.nio.file.Files.write(f, "not json at all".getBytes("UTF-8"))
    assert(Bench.readPrevPlans(f.toString).isEmpty)
  }

  test("fpdiff dumps land beside the output; a run replaces only its measured queries' dumps") {
    import java.nio.file.{Files, Paths}
    def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    val out = tempDir("benchfpdiff")
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
