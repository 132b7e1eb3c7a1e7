package graft

import org.apache.spark.sql.functions._

import graft.ann.Stages
import graft.functions.{DetHash, Vec}

class VecSpec extends SparkSpec {

  test("cosine: identical=1, orthogonal=0, zero-norm guarded") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(0.0, 0.0), Seq(1.0, 1.0), 0.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0),
    ).toDF("a", "b", "want")
    val sim = Stages.cosine(col("a"), Vec.norm2Native(col("a")), col("b"), Vec.norm2Native(col("b")))
    val bad = df.filter(abs(sim - col("want")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("dot is an in-order fold equal to the obvious sum") {
    import spark.implicits._
    val df = Seq((Seq(0.5, -1.5, 2.0), Seq(4.0, 2.0, 0.25))).toDF("a", "b")
    val got = df.select(Vec.dot(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(got - (0.5 * 4.0 + -1.5 * 2.0 + 2.0 * 0.25)) < 1e-12)
  }

  test("h60 column matches driver-side h60Local") {
    import spark.implicits._
    val vals = Seq("alpha", "beta", "x y z")
    val got = vals.toDF("s").select(DetHash.h60(col("s"))).collect().map(_.getLong(0))
    assert(got.toSeq == vals.map(DetHash.h60Local))
  }
}
