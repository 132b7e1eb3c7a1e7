package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_SKIP (names / prefix globs, FP_ALLOW rules): for
    // scaled-corpus verification runs, where a handful of owned-quadratic
    // shapes (d5's oracle-pinned 4x4 default, r5's per-doc brute force)
    // are documented not to survive the scale — the driver never sets it,
    // so the three driver scales always verify the FULL registry.
    val skip = sys.env.get("SPARK_GRAFT_VERIFY_SKIP").map(_.trim).getOrElse("")
    def skipped(name: String): Boolean =
      skip.nonEmpty && Bench.fpViolations(Seq(name), skip).isEmpty
    SparkEntry.queries.foreach { case (name, fn) =>
      if (skipped(name))
        System.err.println(s"[verify] $name SKIPPED by SPARK_GRAFT_VERIFY_SKIP")
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Skipped queries are dropped from oracle_sql.json too: otherwise
    // check.py reports each skipped name as FAIL ("spark output
    // unreadable") unless the caller mirrors the skip list in its exclude
    // arg — one knob must control both sides (ADVICE r10). The driver
    // never sets the skip env, so driver runs always emit the full map.
    OracleSqlDump.write(s"$outDir/oracle_sql.json", n => !skipped(n))
    spark.stop()
  }
}
