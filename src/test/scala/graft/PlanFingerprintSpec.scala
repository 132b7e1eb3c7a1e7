package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the rendering behind Bench's plan fingerprint
  * ([[Bench.renderPlan]]) on real plans: it must read the same for the
  * same plan whatever the session did before (expression ids, lambda
  * names, closure instances), whatever data version an artifact table is
  * keyed to and wherever the data lives — and it must read differently
  * for every real re-plan: join strategy, build side, exchange key or
  * count, filter and projected literals, limits and scanned tables.
  */
class PlanFingerprintSpec extends SparkSpec {

  private lazy val dirs = Seq("a", "b").map { d =>
    val dir = tempDir(s"planfp_$d").toString
    val df = spark.range(40).select(col("id").as("k"), (col("id") % 7).as("v"),
      (col("id") % 3).cast("int").as("p"), array(col("id"), col("id") + 1).as("arr"))
    Seq("t", "u").foreach(t => df.write.parquet(s"$dir/$t.parquet"))
    df.write.partitionBy("p").parquet(s"$dir/tp.parquet")
    dir
  }

  private def render(df: DataFrame): String = Bench.renderPlan(df.queryExecution.executedPlan)

  private def t(name: String = "t", dir: String = dirs.head) =
    spark.read.parquet(s"$dir/$name.parquet")

  private def join(): DataFrame =
    t().filter(col("v") < 5).join(t("u").groupBy("k").agg(sum("v").as("s")), "k")

  test("rendering ignores an expression-id offset") {
    val a = join()
    spark.range(3).selectExpr("id * 2 AS x").groupBy("x").count().queryExecution.executedPlan
    val b = join()
    assert(a.queryExecution.executedPlan.toString != b.queryExecution.executedPlan.toString)
    assert(render(a) === render(b))
  }

  test("rendering ignores the lambda-variable name counter") {
    def lambda() = t().select(transform(col("arr"), x => x + col("k")).as("y"))
    val (a, b) = (lambda(), lambda())
    assert(a.queryExecution.executedPlan.toString != b.queryExecution.executedPlan.toString)
    assert(render(a) === render(b))
  }

  test("rendering spells out array literals") {
    def hits(xs: Array[Int]) = render(t().select(array_contains(lit(xs), col("v")).as("hit")))
    assert(hits(Array(1, 2, 3)) === hits(Array(1, 2, 3)))
    assert(hits(Array(1, 2, 3)) != hits(Array(1, 2, 4)))
    assert(hits(Array(1, 2, 3)).contains("ARRAY(1L, 2L, 3L)"))
  }

  test("rendering ignores a closure's identity") {
    import spark.implicits._
    def shifted(by: Long) = (it: Iterator[Long]) => it.map(_ + by)
    val ds = t().select("k").as[Long]
    assert(render(ds.mapPartitions(shifted(1)).toDF()) === render(ds.mapPartitions(shifted(2)).toDF()))
  }

  /** Renderings of one filtered scan over catalog tables `names`, each
    * written under its own location `locations`. */
  private def tables(names: Seq[String], locations: Seq[String]): Seq[String] = {
    val src = t()
    try names.zip(locations).map { case (name, dir) =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      src.write.partitionBy("p").option("path", s"$dir/$name").saveAsTable(name)
      render(spark.table(name).filter(col("p") === 1 && col("v") > 2))
    } finally names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("rendering ignores an artifact's data signature") {
    val Seq(a, b) = tables(Seq("graft_fpt_0123456789abcdef_0000aaaa",
      "graft_fpt_0123456789abcdef_0000bbbb"), Seq(dirs.head, dirs.head))
    assert(a === b)
    assert(a.contains("graft_fpt_0123456789abcdef_sig"), a)
  }

  test("rendering ignores the warehouse directory") {
    val name = "graft_fpt_0123456789abcdef_0000cccc"
    val Seq(a, b) = tables(Seq(name, name), dirs.map(_ + "/wh"))
    assert(a === b)
    assert(!dirs.exists(a.contains), a)
  }

  test("rendering ignores the directory a path scan reads from") {
    val Seq(a, b) = dirs.map(d => render(t("tp", d).filter(col("p") === 1)))
    assert(a === b)
    assert(a.contains("tp.parquet") && !dirs.exists(a.contains), a)
  }

  test("rendering tells a broadcast hash join from a sort-merge join") {
    val (l, r) = (t(), t("u"))
    assert(render(l.join(broadcast(r), "k")) != render(l.join(r.hint("merge"), "k")))
  }

  test("rendering tells build sides apart") {
    val (l, r) = (t(), t("u"))
    assert(render(broadcast(l).join(r, "k")) != render(l.join(broadcast(r), "k")))
  }

  test("rendering tells exchange keys and partition counts apart") {
    val base = render(t().repartition(4, col("k")))
    assert(base != render(t().repartition(4, col("v"))))
    assert(base != render(t().repartition(5, col("k"))))
  }

  test("rendering tells pushed- and partition-filter literals apart") {
    assert(render(t().filter(col("v") < 5)) != render(t().filter(col("v") < 6)))
    assert(render(t("tp").filter(col("p") === 1)) != render(t("tp").filter(col("p") === 2)))
  }

  test("rendering tells projected literals and limits apart") {
    assert(render(t().select(col("k"), lit(1).as("c"))) != render(t().select(col("k"), lit(2).as("c"))))
    assert(render(t().limit(3)) != render(t().limit(4)))
  }

  test("rendering tells scanned tables apart") {
    assert(render(t()) != render(t("u")))
  }
}
