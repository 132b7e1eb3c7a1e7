package graft

import org.apache.spark.sql.SparkSession

/** The one measurement harness every entry point (Bench, Verify, DedupFull,
  * StreamBench, Dial) shares: the only session builder, the cold-run-then-
  * median timer, the locale-safe number format, the JSON string escaper and
  * the JSON-lines emitter.
  *
  * Session dials come from the environment:
  *   - `SPARK_GRAFT_CPUS` (default 4): `local[cpus]`.
  *   - `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default cpus): a deployment dial,
  *     not a constant. At sf100 a lineitem SMJ partition at 4 shuffle
  *     partitions is ~150M rows and every task lives in the external
  *     sorter's spill; at 256 the same join streams. Exchange partition
  *     counts print into plan fingerprints, so an unset variable keeps the
  *     committed baselines byte-identical.
  */
object Harness {

  /** The sf0.1 test corpus (TESTDATA.md) that Bench and the dials default to. */
  val DefaultSfDir = "/root/testdata/sf0.1"

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  val shufflePartitions: String = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    .flatMap(_.toIntOption).map(_.max(1).toString).getOrElse(cpus)

  /** A local session at the environment's dials plus `extra` config.
    *
    * Always set: UTC (NTZ parquet columns cast through the session zone,
    * so an unpinned session would plan and answer differently from the
    * oracle), `nanosAsLong` (the TIMESTAMP(NANOS) shape of `events.ts`
    * reads only as a raw long), no UI, and untruncated scan metadata.
    * Metadata values are width-truncated on the RAW text, before the
    * fingerprint's exprId scrub, so whether a list truncates depended on
    * the session's exprId digit widths; rendering untruncated (display
    * only, the executed plan is untouched) lets the scrub always see
    * complete lists. */
  def session(extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxMetadataStringLength", "100000")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body`'s result and wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` once cold (index builds, codegen, JIT), then `afterCold`,
    * then `n` measured times; returns (cold seconds, result and seconds of
    * the median measured run — the upper median for even `n`). */
  def coldThenMedian[T](n: Int, afterCold: => Unit = ())(body: => T): (Double, T, Double) = {
    val (_, cold) = timed(body)
    afterCold
    val runs = (1 to n).map(_ => timed(body))
    val (r, sec) = runs.sortBy(_._2)(Ordering.Double.TotalOrdering).apply(runs.size / 2)
    (cold, r, sec)
  }

  /** `v` with `digits` decimals in `Locale.ROOT`: the JVM default locale
    * may print a decimal comma, which is not JSON. */
  def fmt(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** `s` as a JSON string literal. Backslash, quote and every control
    * character below 0x20 are escaped: a tab or CR in an oracle's SQL
    * would otherwise make a strict `json.load` reject the file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Prints each JSON line as it is emitted; [[write]] puts them all in
    * `out`, when given, one per line. */
  final class Lines(out: Option[String]) {
    private val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { lines += line; println(line) }
    def write(): Unit = out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (lines.mkString("\n") + "\n").getBytes("UTF-8")): Unit
    }
  }
}
