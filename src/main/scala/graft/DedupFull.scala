package graft

/** Solo runner for the d6-FULL bounded-disk verification (r17, verdict
  * r16 #8): computes the complete (un-sampled) d2 verified-pair set in
  * residue passes, clusters it, dumps the d6 report parquet, and writes
  * the matching STAGED DuckDB oracle (d6_full_oracle.json) for
  * tools/d6_full_check.py. This is the flow that converts the
  * spark_disk_bound d6 exclusion at the 5M-doc decade into a graded
  * verdict: one pass's verify-join spill is 1/passes of the corpus-sized
  * job that exceeded the box.
  *
  * Usage: runMain graft.DedupFull <sfDir> <outDir> [passes=13]
  * Env:   SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS ([[Harness]]).
  */
object DedupFull {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 13
    // reclaim finished passes' shuffle files promptly — the bounded-disk
    // contract depends on pass N's spill being gone before pass N+2
    val spark = Harness.session("spark.cleaner.periodicGC.interval" -> "2min")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val staging = s"$outDir/d2_pairs_staged"
    val d6 = graft.dedup.Dedup.d6DupClustersFull(spark, sfDir, passes, staging)
    d6.write.mode("overwrite").parquet(s"$outDir/d6_dup_clusters")
    // writes one deliverable to `outDir/name` and returns its row count
    def deliver(name: String)(df: => org.apache.spark.sql.DataFrame): Long = {
      val (n, sec) = Harness.timed {
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        spark.read.parquet(s"$outDir/$name").count()
      }
      System.err.println(s"[graft] $name: $n rows, ${Harness.fmt(sec, 1)} s")
      n
    }
    // the FULL-chain deliverables share the materialized multipass cluster
    // table, so each is one more composed query over already-built layers
    val chainQueries = Map[String, () => org.apache.spark.sql.DataFrame](
      "d8_canonical_corpus_full" -> (() =>
        graft.dedup.Dedup.d8CanonicalCorpusFull(spark, sfDir, passes, staging)),
      "p1_training_mix_full" -> (() =>
        graft.pipeline.Pipeline.p1TrainingMixFull(spark, sfDir, passes, staging)),
      "p5_split_leakage_full" -> (() =>
        graft.pipeline.Pipeline.p5SplitLeakageFull(spark, sfDir, passes, staging)),
      "p8f_curation_audit_full" -> (() =>
        graft.pipeline.Pipeline.p8fCurationAuditFull(spark, sfDir, passes, staging)))
    val chainRows = chainQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      s""""$name":${deliver(name)(fn())}"""
    }
    // r17 feasibility flips: d3's Spark side goes multipass (its one-job
    // candidate DISTINCT is itself the disk-bound shape at 5M docs);
    // d11/d13's Spark sides are the registered queries verbatim (both
    // complete on this box — it was their DuckDB sides that exhausted the
    // box, now staged via Dedup.flipExtras)
    val d3Rows = deliver("d3_simhash_full")(
      graft.dedup.Dedup.d3SimhashFull(spark, sfDir, passes, s"$outDir/d3_staged"))
    val flipRows = Seq(
      "d11_dup_text_fraction" -> "d11_dup_text_fraction_full",
      "d13_scrubbed_corpus" -> "d13_scrubbed_corpus_full").map { case (query, out) =>
      s""""$out":${deliver(out)(SparkEntry.queries(query)(spark, sfDir))}"""
    }
    // r6-FULL: the last spark_disk_bound shape, verified at full Q in its
    // own query-residue passes (Spark side always runs — that side IS the
    // conversion; the oracle side's brute truth is priced by the runner)
    val r6Rows = deliver("r6_context_assembly_full")(
      graft.rag.RagOps.r6ContextAssemblyFull(spark, sfDir, passes, s"$outDir/r6_staged"))
    val r6Extra = graft.dedup.Dedup.StagedExtra(
      name = "r6_context_assembly_full",
      passes = passes,
      setup = Seq(
        "CREATE TABLE IF NOT EXISTS t_r6 (query_id BIGINT, context VARCHAR, " +
          "context_length BIGINT, docs_used BIGINT)",
        "CREATE TABLE IF NOT EXISTS t_r6_done (r INTEGER)"),
      passSql = "INSERT INTO t_r6 SELECT * FROM (" +
        graft.rag.RagOps.r6OracleSqlWhere(
          s"vec_id % ${100 * passes} = 100 * {R}") + ")",
      doneTable = "t_r6_done",
      finalSelect = "SELECT query_id, context, context_length, docs_used " +
        "FROM t_r6 ORDER BY query_id")
    val pairs = spark.read
      .parquet((0 until passes).map(r => s"$staging/pass_$r"): _*).count()
    val rows = spark.read.parquet(s"$outDir/d6_dup_clusters").count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/d6_full_oracle.json"),
      graft.dedup.Dedup.d6FullOracleJson(passes,
        graft.dedup.Dedup.stagedChainOracles ++
          graft.pipeline.Pipeline.stagedChainOracles,
        graft.dedup.Dedup.flipExtras(passes) :+ r6Extra))
    println(s"""{"metric":"d6_full","sf":"${sfDir.split('/').last}","passes":$passes,""" +
      s""""pairs":$pairs,"rows":$rows,${chainRows.mkString(",")},""" +
      s""""d3_simhash_full":$d3Rows,${flipRows.mkString(",")},""" +
      s""""r6_context_assembly_full":$r6Rows,""" +
      s""""sec":${Harness.fmt((System.nanoTime() - t0) / 1e9, 1)}}""")
    spark.stop()
  }
}
