package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Measured scan bytes per query (r13) — grounds the router's io-bound
  * regime ([[graft.ann.Router]]): through r12 the io pricing was
  * arithmetic (VecBytes=256 vs CodeBytes=8, scans cut by nprobe/nlists);
  * this measures what a real plan actually selects for reading.
  *
  * Metric choice: `TaskMetrics.inputMetrics.bytesRead` is USELESS here —
  * on local files the vectorized parquet reader's data-page reads bypass
  * the Hadoop FileSystem statistics Spark samples, so a full 8 MB vector
  * scan and a vec_id-only footer read both report ~30 KB (measured while
  * building this, r13). The honest, deterministic measure is the
  * `filesSize` metric of every [[FileSourceScanExec]] in the EXECUTED
  * plan: the bytes of parquet files selected for scan AFTER partition
  * pruning — static `IN` partition filters at planning time, dynamic
  * partition pruning via the driver-metric update the scan sends when it
  * resolves its runtime partition set. That is exactly the unit the io
  * regime prices (bytes a storage layer must serve); column pruning is
  * NOT charged — every table here is dominated by the one column the
  * query needs (vectors / codes), so file bytes ≈ column bytes.
  *
  * The walk recurses through AQE ([[AdaptiveSparkPlanExec]] is a leaf to
  * `collect`) and plan subqueries (DPP's SubqueryBroadcast lives there).
  * Reused exchanges/subqueries reference — not contain — their original
  * subtree, so a reused scan is counted once.
  */
object ScanBytes {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      // Spark 4 materializes AQE stages as leaf wrappers (Result/Shuffle/
      // BroadcastQueryStageExec) whose subtree hangs off `plan`
      case q: QueryStageExec => scans(q.plan)
    }.flatten

  /** One parquet scan of the executed plan: root path(s) of the relation
    * it reads, files and file bytes SELECTED for it after partition
    * pruning. `roots` carries EVERY root of a multi-root relation (r14,
    * ADVICE r13 — a readIvfIndex-style multi-directory scan must not be
    * silently attributed to its first root); `root` stays the primary for
    * single-root relations, which is every scan this repo builds today. */
  case class ScanRead(root: String, files: Long, bytes: Long,
                      roots: Seq[String] = Nil)

  /** Execute `df` (collect — callers pass small query outputs) and return
    * (rows out, per-scan selected reads). Callers attribute each scan to
    * the table it reads via `root` (corpus file vs index tables): a
    * file-granular metric charges a whole file even when parquet
    * row-group pruning reads a sliver of it, so scans of the same
    * monolithic corpus file must be reported per table, not summed into
    * the index's account. */
  def selectedScanReads(df: DataFrame): (Long, Seq[ScanRead]) = {
    val rows = df.collect().length.toLong
    val reads = scans(df.queryExecution.executedPlan).map { f =>
      val roots = f.relation.location.rootPaths.map(_.toString)
      ScanRead(
        roots.headOption.getOrElse(""),
        f.metrics.get("numFiles").map(_.value).getOrElse(0L),
        f.metrics.get("filesSize").map(_.value).getOrElse(0L),
        roots)
    }
    (rows, reads)
  }
}
