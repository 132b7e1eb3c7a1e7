package graft

import org.apache.spark.sql.functions.col

import graft.operators.GlobalRank

/** The exact-global-rank operator behind t9: correct total ordering and —
  * the reason it exists — NO single-partition window in the plan.
  */
class GlobalRankSpec extends SparkSpec {

  test("global ranks equal a driver-side sort, with no SinglePartition plan node") {
    import spark.implicits._
    // values chosen so range boundaries land mid-tie: ties must break on id
    val df = (1 to 997).map(i => (i.toLong, (i % 13).toLong)).toDF("id", "v")
    val (ranked, total) = GlobalRank.withGlobalRankN(
      df, Seq(col("v").desc, col("id")), "rank", partitions = 8)
    assert(total == 997L)
    val got = ranked.select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1 to 997).map(i => (i.toLong, (i % 13).toLong))
      .sortBy { case (id, v) => (-v, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    assert(got == expected, "distributed ranks must equal the driver-side sort")
    // the point of the operator: nothing in the plan funnels all rows
    // through one partition, and the rank comes from bit-decoding the
    // frozen id — no Window at all (a window by partition id would force
    // a second full-data exchange over the checkpoint's
    // UnknownPartitioning)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global rank must not collapse to a single partition:\n$plan")
    assert(!plan.contains("Window"),
      s"global rank must not re-window (extra exchange + sort):\n$plan")
  }

  test("running totals equal a driver-side prefix sum, still no SinglePartition") {
    import spark.implicits._
    val df = (1 to 499).map(i => (i.toLong, (i % 7).toLong, (i % 11 + 1).toLong))
      .toDF("id", "v", "w")
    val (ranked, total, grand) = GlobalRank.withRunningTotal(
      df, Seq(col("v"), col("id")), valueCol = "w",
      rankCol = "rank", cumCol = "cw", partitions = 8)
    assert(total == 499L)
    val rows = (1 to 499).map(i => (i.toLong, (i % 7).toLong, (i % 11 + 1).toLong))
      .sortBy { case (id, v, _) => (v, id) }
    assert(grand == rows.map(_._3).sum, "grand total must be the valueCol sum")
    val got = ranked.select("id", "rank", "cw").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    var cum = 0L
    val expected = rows.zipWithIndex.map { case ((id, _, w), i) =>
      cum += w; (id, i + 1L, cum)
    }
    assert(got.toSeq == expected, "distributed running totals must equal the driver fold")
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"running total must not collapse to a single partition:\n$plan")

    // cumCap prunes whole partitions before the window but never changes
    // surviving rows: capped output == uncapped output filtered
    val cap = expected(59)._3 // a cap landing mid-corpus
    val (capped, _, _) = GlobalRank.withRunningTotal(
      df, Seq(col("v"), col("id")), valueCol = "w",
      rankCol = "rank", cumCol = "cw", partitions = 8, cumCap = cap)
    val gotCapped = capped.filter(col("cw") <= cap).select("id", "rank", "cw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(gotCapped.toSeq == expected.filter(_._3 <= cap),
      "cap pruning must not change surviving rows")

    // nulls in valueCol fail fast instead of silently desyncing the sums
    val withNull = df.withColumn("w",
      org.apache.spark.sql.functions.when(col("id") === 7L, null).otherwise(col("w")))
    intercept[IllegalArgumentException] {
      GlobalRank.withRunningTotal(withNull, Seq(col("v"), col("id")), valueCol = "w")
    }
  }

  test("empty input ranks to an empty frame with total 0") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    val (ranked, total) = GlobalRank.withGlobalRankN(df, Seq(col("v"), col("id")))
    assert(total == 0L)
    assert(ranked.count() == 0L)
  }

  test("reliable=true ranks identically, persists to the checkpoint dir, " +
       "and fails fast without one") {
    import spark.implicits._
    val df = (1 to 499).map(i => (i.toLong, (i % 13).toLong)).toDF("id", "v")
    // no checkpoint dir set -> the named error, not Spark's internal one
    val hadDir = spark.sparkContext.getCheckpointDir
    assert(hadDir.isEmpty, "spec expects a fresh session without a checkpoint dir")
    val e = intercept[IllegalArgumentException] {
      GlobalRank.withGlobalRank(df, Seq(col("v"), col("id")), reliable = true)
    }
    assert(e.getMessage.contains("setCheckpointDir"))

    val ckpt = tempDir("graft_rank_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val (fast, nf) = GlobalRank.withGlobalRankN(
        df, Seq(col("v").desc, col("id")), "rank", partitions = 8)
      val (durable, nd) = GlobalRank.withGlobalRankN(
        df, Seq(col("v").desc, col("id")), "rank", partitions = 8, reliable = true)
      assert(nf == nd)
      val a = fast.select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = durable.select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, "reliable checkpoint must not change any rank")
      // the recovery property this buys: blocks live in the DFS checkpoint
      // dir (re-readable after executor loss), not in executor storage
      def rddFiles = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        try {
          val it = walk.iterator()
          var n = 0
          while (it.hasNext) { if (it.next().getFileName.toString.startsWith("part-")) n += 1 }
          n
        } finally walk.close()
      }
      assert(rddFiles > 0, s"reliable checkpoint wrote no RDD blocks under $ckpt")
      // still no single-partition collapse or re-window on the durable path
      val plan = durable.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition") && !plan.contains("Window"))
    } finally {
      // unset for any later spec sharing the session (field is nullable)
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
