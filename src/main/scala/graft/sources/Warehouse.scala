package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Warehouse layout helpers (SURVEY.md §6) — the materialization side of the
  * scale story. Correct physical layout is what turns the logical plans in
  * this library into shuffle-free pipelines at 100 TB:
  *
  *  - The memory table is written BUCKETED by memory_key: get/list/cleanup
  *    and any key-equality join against it become exchange-free (bucketed
  *    sort-merge join / local hash lookup).
  *  - The IVF index is written PARTITIONED by list_id: an nprobe search
  *    reads nprobe/nlists of the data via partition pruning — the physical
  *    realization of the inverted lists.
  *
  * Both are spec-verified: the bucketed self-join plans with no Exchange,
  * and the pruned read scans only the probed partitions.
  */
object Warehouse {

  /** Write bucketed+sorted by `keyCol` into the session warehouse.
    *
    * Clustered by the bucket key before the write (r17 optimization
    * round, guide §6 small files — the r13 one-file-per-partition rule
    * extended to bucketed writes): a producer whose partitioning is NOT
    * aligned with `keyCol` (e.g. a full-row DISTINCT upstream) otherwise
    * makes every write task emit a file into every bucket — the sf1
    * 3-gram/4-gram indexes measured 1,192 files for 32 buckets, and the
    * d4 self-join re-paid the per-file open cost on all three of its
    * scans per run. `repartition(buckets, keyCol)` — NOT the rebalance
    * hint the partitioned write uses — because bucket assignment is the
    * SAME pmod(murmur3) as HashPartitioning at the same count: task i
    * holds exactly bucket i's rows, one file per bucket. (AQE rebalance
    * may pick a different partition count, de-aligning tasks from
    * buckets and re-fanning the files.) The r14 skew argument for
    * REBALANCE doesn't apply here: bucket keys are high-cardinality
    * hashes/ids, not few partition values, so no task serializes a hot
    * value. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int = 32): Unit = {
    dropStale(df.sparkSession, table)
    df.repartition(buckets, org.apache.spark.sql.functions.col(keyCol))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)
  }

  /** Write a small unbucketed artifact table (codebooks, centroid sets). */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropStale(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Write a table partitioned by a low-cardinality column (e.g. IVF
    * list_id). A probe set broadcast-joined on the partition key triggers
    * dynamic partition pruning — only the probed lists are ever read,
    * which is the physical meaning of an inverted-list index. */
  def writePartitionedTable(df: DataFrame, table: String, partCol: String): Unit = {
    dropStale(df.sparkSession, table)
    // ONE file per partition value (r13, IOBYTES_r13.json finding #4):
    // without the clustering shuffle every write task emits a file into
    // every partition dir it holds rows for — the 448-list code table
    // measured 3,679 files and a "pruned" 7-list probe SELECTED 20.4 MB
    // of per-file overhead, 3.5x the entire flat code table. One
    // clustering shuffle at BUILD time (amortized, the same shape the
    // H13 compaction fold applies) yields the canonical file-per-
    // inverted-list layout.
    //
    // REBALANCE, not repartition(col) (r14, ADVICE r13): a plain hash
    // repartition routes every partition VALUE through exactly one
    // writer task, so the biggest inverted list of a skewed corpus
    // serializes through a single task (write bottleneck + executor
    // spill pressure — the read side was always fine via row-group
    // splits). The rebalance hint keeps the same clustering for
    // AQE-coalesced small lists (still one file each — SourcesSpec
    // pins it) while splitting a list past the advisory partition size
    // across writer tasks: a skewed list costs a few extra files, never
    // a single-task write.
    clusterByPartition(df, partCol)
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .partitionBy(partCol)
      .saveAsTable(table)
  }

  /** The ONE clustering shuffle every partitioned write shares (r14 —
    * the skew fix belongs to the mechanism, not a call site): REBALANCE
    * on the partition column clusters rows per value (one file per
    * unskewed partition — the IOBYTES small-file fix) while letting AQE
    * split a value past the advisory size across writer tasks, so the
    * biggest inverted list never serializes through a single task. Used
    * by [[writePartitionedTable]], [[compactPartitioned]], and the H13
    * streamed-index fold ([[graft.streaming.Streams]] compactIvfIndex). */
  private[graft] def clusterByPartition(df: DataFrame, partCol: String): DataFrame =
    df.hint("rebalance", org.apache.spark.sql.functions.col(partCol))

  /** The single source of truth for where a warehouse table's files live
    * (warehouse root + lowercased name). Every path-level operation —
    * stale-dir cleanup, the staged swap, the restart-fallback read — must
    * resolve through here; a second inline copy of the convention is how a
    * writer and its reader silently diverge. */
  private[graft] def tableLocation(spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val root = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    new org.apache.hadoop.fs.Path(root, table.toLowerCase)
  }

  /** Remove a stale managed-table location left by a previous session: the
    * in-memory catalog forgets tables on JVM exit but their parquet files
    * stay, and saveAsTable refuses to create a table over an existing
    * location it doesn't own (LOCATION_ALREADY_EXISTS). Deletion goes
    * through the Hadoop FileSystem API so it works on whatever filesystem
    * backs spark.sql.warehouse.dir (local, hdfs://, s3a://) — a
    * java.io.File delete is a silent no-op off the local disk. Also clears
    * the `__stage`/`__old` siblings a [[writeTableStaged]] swap may have
    * left, so tests and benches get a genuinely clean slate. */
  private[graft] def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(loc, stagePath(loc), oldPath(loc)).foreach { p =>
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
  }

  private def stagePath(loc: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(loc.toString + "__stage")
  private def oldPath(loc: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(loc.toString + "__old")
  private val ManifestFile = "_GRAFT_MANIFEST"

  /** Sidecar manifest: one `name\tlength` line per data file, sorted.
    * `_SUCCESS` proves the WRITER finished; the manifest lets a READER
    * prove the directory it sees still holds every byte the writer
    * produced — the check that catches a torn directory "rename" on
    * object stores (copy+delete, file by file), where a partial copy can
    * carry `_SUCCESS` without all its data files. Lexicographic luck is
    * on our side: `_GRAFT_MANIFEST` sorts before `_SUCCESS` and `part-*`,
    * so a listing-ordered copy transfers the manifest before the marker —
    * a torn copy that passes the `_SUCCESS` gate almost always carries
    * the manifest that convicts it. A dir with NO manifest (plain
    * [[writeTable]], partitioned layouts, pre-manifest state) keeps the
    * `_SUCCESS`-only contract. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path): Unit = {
    val entries = fs.listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => s"${s.getPath.getName}\t${s.getLen}").sorted
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, ManifestFile), true)
    try out.write((entries.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def manifestOk(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Boolean = {
    val mf = new org.apache.hadoop.fs.Path(p, ManifestFile)
    if (!fs.exists(mf)) true
    else try {
      val in = fs.open(mf)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      txt.split('\n').filter(_.nonEmpty).forall { line =>
        val i = line.lastIndexOf('\t')
        i > 0 && {
          val f = new org.apache.hadoop.fs.Path(p, line.substring(0, i))
          fs.exists(f) && fs.getFileStatus(f).getLen == line.substring(i + 1).toLong
        }
      }
    } catch {
      // a manifest that cannot be read or parsed (torn copy truncated the
      // sidecar itself) is evidence AGAINST the dir: convict, don't crash —
      // the reader then falls through to an intact __stage/__old sibling
      case _: java.io.IOException | _: NumberFormatException => false
    }
  }

  /** A write reached its commit point iff the committer's `_SUCCESS`
    * marker exists AND (when a [[writeManifest]] sidecar is present)
    * every manifested data file survives at its recorded length — the
    * single completeness convention shared by the swap repair and the
    * restart-fallback read. */
  private def isComplete(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) && manifestOk(fs, p)

  /** Crash-safe overwrite of a small state table (the H11 MV): the new
    * contents are fully written (with `_SUCCESS`) to a `__stage` sibling
    * BEFORE the live directory is touched, then swapped in with two FS
    * renames. At every instant at least one complete, `_SUCCESS`-marked
    * copy of either the old or the new state exists on disk, so a JVM
    * crash at any point leaves [[readTableOrFiles]] a consistent MV to
    * recover (either side of the swap is fine: the replay guard carried
    * IN the state makes re-merging the in-flight batch a no-op iff the
    * new copy won). A plain [[writeTable]] deletes-then-rewrites — a
    * crash mid-write loses the state entirely. The catalog entry is
    * re-registered as an external table over the live path so in-session
    * readers (`spark.table`) keep working; DROP on it never deletes data. */
  /** Repair a [[writeTableStaged]] swap a crash interrupted between the
    * two renames (live dir gone or partial, complete new state still in
    * `__stage`): promote stage to live. Called at every staged-write
    * entry BEFORE the stage dir is cleaned — without this, the next
    * write's stage cleanup would erase the only copy of the newest
    * state, and a second crash would roll the MV back to `__old` while
    * the stream's checkpoint has already committed the batch, losing its
    * deltas permanently. */
  private[graft] def repairStaged(spark: SparkSession, table: String): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stagePath(loc)
    if (!isComplete(fs, loc) && isComplete(fs, stage)) {
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      if (!fs.rename(stage, loc))
        throw new java.io.IOException(s"staged repair failed for $table (stage -> live)")
    }
  }

  /** ATOMICITY PRECONDITION: the "one complete copy at every instant"
    * invariant of this staged swap (and of [[repairStaged]] /
    * `compactPartitioned`) holds only on filesystems with atomic
    * directory rename — local disk and HDFS. Object stores expose rename
    * as a non-atomic copy+delete (s3a), so a crash mid-"rename" can leave
    * a torn directory that still carries `_SUCCESS` from its source; the
    * [[writeManifest]] sidecar makes [[isComplete]] DETECT such a copy
    * (missing/short data files fail the manifest check) and fall through
    * to an intact `__stage`/`__old` sibling, but detection is not
    * atomicity. On such stores use a real table
    * format whose commit is a single atomic pointer swap (Delta/Iceberg
    * metadata log — the public-design analog of this staged layout) or an
    * HDFS-semantics layer; this implementation intentionally stays on
    * plain parquet + rename because the test/bench environment is
    * rename-atomic. */
  def writeTableStaged(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stagePath(loc)
    val old = oldPath(loc)
    repairStaged(spark, table)
    if (fs.exists(stage)) fs.delete(stage, true): Unit
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    writeManifest(fs, stage)
    // legacy managed entry: DROP would delete loc's files — safe because a
    // complete new copy already sits in stage and the reader falls back
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (fs.exists(old)) fs.delete(old, true): Unit
    if (fs.exists(loc) && !fs.rename(loc, old))
      throw new java.io.IOException(s"staged swap failed for $table (live -> old)")
    if (!fs.rename(stage, loc)) {
      if (fs.exists(old)) fs.rename(old, loc): Unit
      throw new java.io.IOException(s"staged swap failed for $table (stage -> live, rolled back)")
    }
    if (fs.exists(old)) fs.delete(old, true): Unit
    spark.catalog.createTable(table, loc.toString, "parquet"): Unit
  }

  /** Write partitioned by a low-cardinality column (e.g. IVF list_id). */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** I6: small-file compaction of a partitioned parquet dataset — the
    * warehouse maintenance op every streaming/incremental ingest needs:
    * micro-batch appends leave each partition directory littered with
    * per-batch files, and at 100 TB the scan-planning + open() overhead of
    * millions of small files dominates query latency long before data
    * volume does.
    *
    * One clustering shuffle on the partition column ([[clusterByPartition]]
    * — REBALANCE, r14) emits one file per unskewed partition directory
    * while a skewed value splits across writer tasks instead of
    * serializing through one (row content and the partition layout — and
    * therefore partition pruning — are untouched; SourcesSpec asserts all
    * three). The rewritten tree is staged beside the original and swapped
    * in with two FS renames — the smallest non-transactional swap window;
    * a production deployment gets the atomic version of this from a table
    * format's (Delta/Iceberg) OPTIMIZE, which this models on plain
    * parquet. */
  def compactPartitioned(spark: SparkSession, path: String, partCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact")
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit
    clusterByPartition(spark.read.parquet(path), partCol)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (fs.exists(old)) fs.delete(old, true): Unit
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compaction swap failed for $path")
    if (!fs.rename(tmp, dst)) {
      // roll the original back into place rather than leaving no dataset
      // at `path` while an intact copy sits under __old
      fs.rename(old, dst): Unit
      throw new java.io.IOException(s"compaction swap failed for $path (rolled back)")
    }
    fs.delete(old, true): Unit
  }

  /** I7: Morton (Z-order) interleave of N non-negative integer columns —
    * the multi-dimensional clustering key behind Delta/Iceberg `ZORDER BY`:
    * sorting by the interleaved bits gives every data file a bounded
    * min/max box in EVERY dimension, so parquet file/row-group stats prune
    * scans filtered on ANY column (a single-column sort clusters one
    * dimension and leaves the others' per-file ranges at full width).
    * Bit i of dimension j lands at position i*N + j; N*bits must fit a
    * long's 63 value bits, so precision per dimension falls as dimensions
    * are added — the standard Z-order trade (Delta caps ZORDER columns
    * for the same reason). Pure bit arithmetic — codegen'd, no UDF. */
  def zorderKeyN(cols: Seq[org.apache.spark.sql.Column],
                 bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftrightunsigned}
    val n = cols.size
    require(n >= 1 && n * bits <= 63,
      s"zorderKeyN: $n dims x $bits bits exceeds a long's 63 value bits")
    (for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + j)
    ).reduce(_ bitwiseOR _)
  }

  def zorderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int = 16): org.apache.spark.sql.Column =
    zorderKeyN(Seq(a, b), bits)

  /** Write `df` clustered by the Z-order of `colsN`: normalize each
    * dimension to its own [min, max] range (the raw interleave degenerates
    * to a single-column sort when the columns' bit widths differ — a
    * 13-bit key's high bits dominate an 8-bit key entirely; Delta's
    * OPTIMIZE ZORDER range-bins for the same reason), interleave, then
    * range-partition + sort on the key so each output file covers a
    * compact box of the value space. The helper column never
    * reaches disk (projected away after the sort — projection preserves
    * intra-partition order). The min/max normalizers are one cheap agg —
    * write-time-only cost. Per-dimension precision is `min(bits,
    * 63/N)` — adding dimensions coarsens each dimension's binning.
    * SourcesSpec measures the effect: per-file ranges of EVERY column
    * shrink vs a single-column sort. */
  def writeZOrderedN(df: DataFrame, path: String, colsN: Seq[String],
                     files: Int = 8, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val b = math.min(bits, 63 / colsN.size)
    val aggs = colsN.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (colsN.indices.exists(j => r.isNullAt(2 * j))) {
      // empty input (or an all-NULL cluster column): nothing to cluster —
      // a plain write preserves the "any df writes" contract instead of
      // crashing on the NULL min/max row
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val top = (1L << b) - 1
    // Binning arithmetic, two regimes (range computed in BigInt — hi-lo
    // itself overflows a long when the column spans most of the type).
    // The SUBTRACTION is the precision-critical step: c.cast("double")
    // quantizes to ulp(|c|) BEFORE subtracting, which collapses a
    // high-magnitude narrow-range column (values near 2^62 spanning 2^13,
    // ulp=1024) to a handful of bins. The final division may always run
    // in double — its error is <= a few ulps of the quotient, far below
    // one of the 2^bits bins, and bin-boundary rounding is irrelevant to
    // a clustering key.
    //  - narrow range (fits (c-lo)*top in a long): subtract and scale in
    //    exact long arithmetic, divide in double.
    //  - wide range (> ~2^47, e.g. 60-bit hash ids, epoch-micros): all
    //    double — the long scale would overflow (ANSI: fails the write),
    //    and here ulp(|c|) is tiny relative to a bin (width > 2^31).
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else if (BigInt(hi) - BigInt(lo) <= Long.MaxValue / top)
        (((c.cast("long") - lit(lo)) * lit(top)).cast("double") /
          lit((hi - lo).toDouble)).cast("long")
      else ((c.cast("double") - lit(lo.toDouble)) * lit(top.toDouble) /
        lit(hi.toDouble - lo.toDouble)).cast("long")
    df.withColumn("_zkey", zorderKeyN(
        colsN.zipWithIndex.map { case (c, j) =>
          norm(col(c), r.getLong(2 * j), r.getLong(2 * j + 1))
        }, b))
      .repartitionByRange(files, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    files: Int = 8, bits: Int = 16): Unit =
    writeZOrderedN(df, path, Seq(colA, colB), files, bits)

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Read a managed table even across a JVM restart: the in-memory
    * catalog forgets tables on exit but their parquet files survive in
    * the warehouse dir, so state that must outlive the session (the H11
    * MV) falls back to reading the files directly. None = the table has
    * never been (completely) written.
    *
    * Only a `_SUCCESS`-marked directory is trusted — a dir the writer
    * died inside holds partial task files and must not be promoted to
    * authoritative state. If the live dir is missing or incomplete, the
    * [[writeTableStaged]] swap siblings are consulted: `__stage` first
    * (a complete NEW state whose crash window is after the live dir was
    * retired), then `__old` (the complete PREVIOUS state retired just
    * before the crash). Either choice is consistent: the merge's replay
    * guard travels inside the state itself, so the interrupted batch
    * either shows as merged (stage won) or re-merges cleanly (old won). */
  def readTableOrFiles(spark: SparkSession, table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(table)) Some(spark.table(table))
    else {
      val loc = tableLocation(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(loc, stagePath(loc), oldPath(loc)).find(isComplete(fs, _))
        .map(p => spark.read.parquet(p.toString))
    }
}
