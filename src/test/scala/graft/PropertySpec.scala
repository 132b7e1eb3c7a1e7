package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{DetHash, Vec}

/** Property-style tests: scalacheck generators driven deterministically
  * (fixed seeds) so runs are reproducible in CI. */
class PropertySpec extends SparkSpec {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("h60Local is non-negative, bounded, and equals the column version") {
    import spark.implicits._
    val ws = samples(word, 40).distinct
    val local = ws.map(DetHash.h60Local)
    assert(local.forall(h => h >= 0L && h < (1L << 60)))
    val viaSpark = ws.toDF("s").select(DetHash.h60(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSpark == local)
  }

  test("native dot equals the plain Scala sum for arbitrary float vectors") {
    import spark.implicits._
    val vec = Gen.listOfN(16, Gen.chooseNum(-100.0f, 100.0f))
    val pairs = samples(Gen.zip(vec, vec), 25)
    val df = pairs.toDF("a", "b")
    val got = df.select(Vec.dotNative(col("a"), col("b"))).collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    }
    got.zip(want).foreach { case (g, w) => assert(g == w, s"dot mismatch: $g vs $w") }
  }

  test("ratio6e equals BigDecimal round-half-up in e6 integer space, incl. past 2^53") {
    import spark.implicits._
    import graft.functions.Exact
    // domain (see Exact scaladoc): e6-scaled result must fit BIGINT, so
    // keep num/den <= 2^30 while pushing num well past 2^53 (where the
    // old FP-division and BIGINT-multiply formulations silently broke)
    val pairGen = for {
      num <- Gen.chooseNum(0L, 1L << 60)
      den <- Gen.chooseNum(math.max(1L, num >> 30), 1L << 40)
    } yield (num, den)
    val pairs = samples(pairGen, 60) ++
      Seq((9007199254740993L, 4096L), ((1L << 60) - 1L, 1L << 20), (1L, 1000000000L))
    val got = pairs.toDF("num", "den")
      .select(Exact.ratio6e(col("num"), col("den"))).collect().map(_.getLong(0))
    val want = pairs.map { case (n, d) =>
      (BigDecimal(n) * 1000000 / BigDecimal(d))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    got.zip(want).zip(pairs).foreach { case ((g, w), p) =>
      assert(g == w, s"ratio6e mismatch for $p: $g vs $w")
    }
  }

  test("zorderKeyN interleave: monotone per dimension, bijective on the grid") {
    import spark.implicits._
    // 16x16 grid at 4 bits: the interleave must be a bijection (no two
    // cells share a key) and growing one dimension with the other fixed
    // must grow the key (monotonicity is what makes range-partitioning by
    // the key cluster BOTH dimensions)
    val grid = for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong)
    val keys = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.sources.Warehouse.zorderKeyN(Seq(col("a"), col("b")), bits = 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(keys.values.toSet.size == 256, "interleave must be a bijection on the grid")
    for (a <- 0L until 16L; b <- 0L until 15L)
      assert(keys((a, b)) < keys((a, b + 1)), s"not monotone in b at ($a,$b)")
    for (a <- 0L until 15L; b <- 0L until 16L)
      assert(keys((a, b)) < keys((a + 1, b)), s"not monotone in a at ($a,$b)")
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val lists = samples(Gen.listOfN(5, word), 20)
      .filter(ws => ws.distinct.length == ws.length)
    assert(lists.nonEmpty)
    val texts = lists.flatMap(ws => Seq(ws.mkString(" "), ws.reverse.mkString(" ")))
    val fps = texts.toDF("text")
      .select(aggregate(split(col("text"), " "), lit(0L),
        (acc, w) => (acc * 31L + DetHash.h56(concat(lit("fp:"), w)) % 1000000007L)
          % 1000000007L))
      .collect().map(_.getLong(0))
    fps.grouped(2).foreach { case Array(f, r) =>
      assert(f != r, "order change should change the fingerprint")
    }
  }
}
