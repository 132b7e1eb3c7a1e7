package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.rag.Search

/** The IVF nlists/nprobe dial (r10): exactness at full probe, dial
  * coverage invariants, and the data-signature cache key on the
  * partitioned list table (the a13z staleness contract applied to the
  * raw-vector IVF index). */
class IvfDialSpec extends SparkSpec {

  test("probing every list is EXACT: nprobe == nlists reproduces brute force") {
    // IVF is a recall trade only through the lists it skips; with none
    // skipped the two-stage plan must equal the brute top-10 bit-for-bit
    // (same rounded similarity, same id tie-break).
    val brute = Search.knn(spark, Sf, col("vec_id") % 101 === 0, k = 10,
        threshold = -1.0, clampZero = false, sameLabel = false)
      .select("query_id", "vec_id", "rnk").collect().toSet
    val full = Ann.a2KnnIvf(spark, Sf, nlists = 8, nprobe = 8)
      .select("query_id", "vec_id", "rnk").collect().toSet
    assert(full == brute, "nprobe=nlists must be exhaustive search")
  }

  test("widening the dial keeps per-query invariants and changes only recall") {
    val dialed = Ann.a2KnnIvf(spark, Sf, nlists = 16, nprobe = 3).collect()
    assert(dialed.nonEmpty)
    dialed.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.length <= 10, s"query $q has ${rs.length} > 10 results")
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to rs.length),
        s"query $q rnk not dense 1..${rs.length}")
    }
    // centroid prefix stability: lists 0..7 of the 16-list index are the
    // SAME centroids as the 8-list default, so any result pair scored in
    // both indexes carries the identical similarity
    val base = Ann.a2KnnIvf(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("similarity")).toMap
    dialed.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      base.get(k).foreach(s => assert(s == r.getAs[Double]("similarity"),
        s"score drift at $k between dials"))
    }
  }

  test("the list table rebuilds when the corpus regenerates in-session") {
    val dir = tempDir("graft_ivfregen").toString
    val full = spark.read.parquet(s"$Sf/embeddings.parquet")
    full.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val before = Ann.a2KnnIvf(spark, dir).collect()
    assert(before.nonEmpty)
    val bound = full.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    full.filter(col("vec_id") <= bound)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val after = Ann.a2KnnIvf(spark, dir).collect()
    assert(after.nonEmpty)
    after.foreach { r =>
      assert(r.getAs[Long]("vec_id") <= bound,
        s"stale list table: vec_id ${r.getAs[Long]("vec_id")} > $bound after regen")
      assert(r.getAs[Long]("query_id") <= bound)
    }
    assert(!before.sameElements(after), "regeneration must change the result")
  }
}
