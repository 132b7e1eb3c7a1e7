package graft

import org.apache.spark.sql.functions._

/** a13z (VERDICT r7 §next-round #6): the IVFPQ probe over the Z-ORDERED
  * FLAT code layout must be bit-identical to the dir-per-list probe (a13)
  * while pruning through parquet footer stats instead of Hive partition
  * dirs — the layout that holds up at nlists where dir-per-list
  * degenerates into tiny files.
  */
class ZLayoutSpec extends SparkSpec {

  test("a13z results are bit-identical to a13 (same index, new layout)") {
    val a = graft.ann.Pq.a13IvfPqTopK(spark, Sf).collect().toSeq
    val z = graft.ann.Pq.a13zIvfPqTopK(spark, Sf).collect().toSeq
    assert(z == a, s"a13z diverged: ${z.size} rows vs ${a.size}")
  }

  test("a13z pushes the probed-list IN predicate to the parquet scan") {
    val plan = graft.ann.Pq.a13zIvfPqTopK(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(list_id"),
      s"probe IN-list must reach the scan as a pushed filter:\n${plan.take(2000)}")
  }

  test("at large nlists the z-layout holds file count fixed while " +
       "dir-per-list degenerates; stat pruning still skips") {
    import spark.implicits._
    // synthetic 1024-list code table (the real corpus quantizer has 8
    // lists — the degeneration regime needs nlists in the 1k+ range)
    val nlists = 1024
    val rows = (0 until 32768).map(i => (i.toLong, (i % nlists).toLong, (i % 7).toLong))
    val df = rows.toDF("vec_id", "list_id", "label")
    val zDir = tempDir("graft_znl").toString + "/z"
    // 64 files: the z-file budget scales with DATA volume, not with
    // nlists — that decoupling is the whole point. Interleaving halves
    // per-dimension precision per doubling of files, so 64 files give
    // each file a ~1/8-of-domain list_id box (3 list bits) — vs 1024
    // dirs for the partitioned layout at the same nlists.
    graft.sources.Warehouse.writeZOrderedN(df, zDir, Seq("list_id", "label"), files = 64)
    val pDir = tempDir("graft_pnl").toString + "/p"
    df.write.partitionBy("list_id").parquet(pDir)
    def parquetFiles(d: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try {
        val it = walk.iterator(); var n = 0
        while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
        n
      } finally walk.close()
    }
    val zFiles = parquetFiles(zDir)
    val pFiles = parquetFiles(pDir)
    assert(zFiles <= 64, s"z-layout must keep its fixed file budget, got $zFiles")
    assert(pFiles >= nlists,
      s"dir-per-list at $nlists lists should write >= $nlists files, got $pFiles")
    // a 3-list probe (nprobe-shaped) overlaps only a fraction of the z
    // files by footer stats — the pruning that replaces partition dirs
    val probes = Seq(17L, 400L, 999L)
    val boxes = new java.io.File(zDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col("list_id")).cast("long"), max(col("list_id")).cast("long"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    val overlapping = boxes.count { case (lo, hi) => probes.exists(p => lo <= p && p <= hi) }
    // 3 probed eighths x label-bit replication ≈ 3/8 of files; range-
    // sampled boundaries can straddle boxes, so assert a loose <60%
    assert(overlapping < boxes.length * 0.6,
      s"3-list probe overlaps $overlapping/${boxes.length} z files — stats gave no pruning")
    // and correctness of the pruned read: IN-filtered scan returns exactly
    // the probe rows
    val got = spark.read.parquet(zDir).filter(col("list_id").isin(probes: _*)).count()
    val want = rows.count { case (_, l, _) => probes.contains(l) }
    assert(got == want.toLong)
  }

  test("z-layout file stats skip files outside the probed list set") {
    // force the artifact to exist, then locate it the way the probe does
    graft.ann.Pq.a13zIvfPqTopK(spark, Sf).count()
    val base = spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^file:", "")
    val dir = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_ivfpqz_"))
      .maxBy(_.lastModified).getPath
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1, s"need multiple files to demonstrate skipping ($dir)")
    // per-file min/max on list_id (what the parquet footer stores): a probe
    // of ONE list must overlap strictly fewer files than the total — the
    // z-order bounded each file's list_id box
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("list_id")).cast("long"), max(col("list_id")).cast("long"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val probeList = boxes.head._1 // a list id that exists
    val overlapping = boxes.count { case (lo, hi) => lo <= probeList && probeList <= hi }
    assert(overlapping < boxes.length,
      s"list_id=$probeList overlaps all ${boxes.length} files — no stat pruning possible")
  }

  test("a13z caches invalidate when the source data regenerates in-session") {
    // r9 verdict item 7: the z-code table and the memoized probed-list set
    // are keyed on a data SIGNATURE, not just the path — the driver
    // rewrites /root/testdata under the same path between rounds, and a
    // live session must rebuild, not serve stale codes/prunings.
    val dir = tempDir("graft_regen").toString
    val full = spark.read.parquet(s"$Sf/embeddings.parquet")
    full.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val before = graft.ann.Pq.a13zIvfPqTopK(spark, dir).collect()
    assert(before.nonEmpty)
    // regenerate UNDER THE SAME PATH: keep only the low half of vec_ids
    val bound = full.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    full.filter(col("vec_id") <= bound)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val after = graft.ann.Pq.a13zIvfPqTopK(spark, dir).collect()
    assert(after.nonEmpty)
    // stale z-codes would surface pre-regeneration vec_ids above the bound
    after.foreach { r =>
      assert(r.getAs[Long]("vec_id") <= bound,
        s"stale cache: vec_id ${r.getAs[Long]("vec_id")} > $bound after regen")
      assert(r.getAs[Long]("query_id") <= bound)
    }
    assert(!before.sameElements(after), "regeneration must change the result")
  }
}
