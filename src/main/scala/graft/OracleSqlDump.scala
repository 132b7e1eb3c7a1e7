package graft
import java.nio.file.{Files, Paths}

/** Dump SparkEntry.oracleSql as JSON WITHOUT building a SparkSession —
  * the cheap input for tools/oracle_times.py, which times each oracle in
  * DuckDB to give the bench an external denominator (BASELINE.json
  * publishes no reference wall-times, so round-over-round was the only
  * comparison; the DuckDB ratio anchors every scale). */
object OracleSqlDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    val n = write(out)
    System.err.println(s"[oracle-dump] $n oracle queries -> $out")
  }

  /** Writes the oracles whose names pass `keep` to `path` as one JSON
    * object (name -> SQL) — the `oracle_sql.json` that tools/check.py
    * reads — and returns how many it wrote. */
  def write(path: String, keep: String => Boolean = _ => true): Int = {
    import Harness.jsonString
    val kept = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
    Files.writeString(Paths.get(path),
      kept.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
    kept.size
  }
}
