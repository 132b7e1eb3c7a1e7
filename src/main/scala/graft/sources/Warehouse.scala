package graft.sources

import org.apache.hadoop.fs.Path
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
  *
  * State that must survive a crash — the streamed q1 MV and the streamed
  * IVF/PQ index — commits through one protocol, a versioned record naming
  * the live directories ([[live]], [[commitNext]], [[sweep]]).
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
    //
    // Rows are sorted within each file on (partition key, vec_id) when the
    // frame carries vec_id (every index list table does): the shuffle
    // delivers a list's rows in map-task order, so without the sort the
    // same index rebuilt twice could encode its files differently and
    // byte counts of the code tables drifted by a few bytes per rebuild.
    val order = (partCol +: df.columns.toSeq.filter(_ == "vec_id"))
      .map(org.apache.spark.sql.functions.col)
    clusterByPartition(df, partCol).sortWithinPartitions(order: _*)
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
    * stale-dir cleanup, the committed state of the H11 MV — must resolve
    * through here; a second inline copy of the convention is how a writer
    * and its reader silently diverge. */
  private[graft] def tableLocation(spark: SparkSession, table: String): Path =
    new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), table.toLowerCase)

  /** Remove a stale managed-table location left by a previous session: the
    * in-memory catalog forgets tables on JVM exit but their parquet files
    * stay, and saveAsTable refuses to create a table over an existing
    * location it doesn't own (LOCATION_ALREADY_EXISTS). Deletion goes
    * through the Hadoop FileSystem API so it works on whatever filesystem
    * backs spark.sql.warehouse.dir (local, hdfs://, s3a://) — a
    * java.io.File delete is a silent no-op off the local disk. */
  private[graft] def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = tableLocation(spark, table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true): Unit
  }

  /** The name prefix of a record; the version follows it ([[live]]). */
  private[graft] val RecordPrefix = "_folded.v"

  /** A location as one listing saw it: the usable record's `version`
    * (0: none), the `compact` id it names (0: none) and the ingest tags it
    * has `folded`; the live `dirs` a reader trusts; and the `last` record
    * version present, usable or not, which the next commit goes above. */
  private[graft] final case class Live(loc: Path, version: Int, compact: Int,
                                       folded: Set[String], dirs: Seq[Path], last: Int)

  private def ingestTag(p: Path): Option[String] =
    Some(p.getName).filter(_.startsWith("ingest=")).map(_.stripPrefix("ingest="))
  private def compactId(tag: String): Option[Int] =
    if (tag.startsWith("compact_")) tag.stripPrefix("compact_").toIntOption else None
  private def recordVersion(p: Path): Option[Int] =
    Some(p.getName).filter(_.startsWith(RecordPrefix)).flatMap(_.stripPrefix(RecordPrefix).toIntOption)

  private def parseRecord(text: String): Option[(Int, Set[String])] =
    text.split("\n", -1) match {
      case Array(line, "") => line.split("\t", -1) match {
        case Array(tag, folded) =>
          compactId(tag).map(_ -> folded.split(',').filter(_.nonEmpty).toSet)
        case _ => None
      }
      case _ => None
    }

  /** What readers trust at `loc`, under graft's one commit protocol for
    * state that must survive a crash (the H11 q1 MV, the H12-H14 streamed
    * IVF/PQ index). A location holds
    *
    *  - `ingest=<tag>`: an ingest directory (one streamed micro-batch),
    *    live once its writer's `_SUCCESS` marker exists, unless a record
    *    folds its tag;
    *  - `ingest=compact_<k>`: a state directory, live only while the
    *    usable record names it — every other one is dead;
    *  - `_folded.v<N>`: a record, the one line
    *    `compact_<k><TAB><folded tag>,<folded tag>,...` and a newline. The
    *    usable record is the newest one that parses and names a
    *    `_SUCCESS`-committed directory; a torn record, or one naming a
    *    torn directory, is passed over.
    *
    * A replace ([[commitNext]], then [[sweep]]) writes `compact_<k+1>` in
    * full, commits record N+1 naming it and folding every ingest tag it
    * absorbed, then deletes the directories and records that record made
    * dead. The commit is one small file renamed into place; no directory
    * is ever renamed or copied, so even an object store, whose rename is
    * a copy, makes the commit visible whole or not at all — the single
    * pointer a Delta or Iceberg log commits. A crash before the rename
    * leaves the previous record in force and an orphan directory the next
    * replace overwrites; a crash after it leaves the new record in force
    * and dead directories the next sweep deletes. Folded tags stay in
    * every later record, so an at-least-once stream that replays a folded
    * batch re-creates a directory no reader trusts. One writer per
    * location: callers serialize their replaces. */
  private[graft] def live(spark: SparkSession, loc: Path): Live = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = if (fs.exists(loc)) fs.listStatus(loc).toSeq else Nil
    def committed(dir: Path) = fs.exists(new Path(dir, "_SUCCESS"))
    val records = entries.map(_.getPath).flatMap(p => recordVersion(p).map(_ -> p)).sortBy(-_._1)
    val usable = records.iterator.flatMap { case (v, p) =>
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      parseRecord(text).filter(r => committed(new Path(loc, s"ingest=compact_${r._1}")))
        .map(v -> _)
    }.nextOption()
    val (version, (compact, folded)) = usable.getOrElse((0, (0, Set.empty[String])))
    val dirs = entries.filter(_.isDirectory).map(_.getPath).filter(p => ingestTag(p).exists(tag =>
      compactId(tag).fold(!folded(tag) && committed(p))(_ == compact))).sortBy(_.getName)
    Live(loc, version, compact, folded, dirs, records.headOption.fold(0)(_._1))
  }

  /** The live directories as one frame, read from the files alone (the
    * catalog is not asked, so it works after a restart); the partition
    * column `ingest` names each row's directory. None: nothing is live. */
  private[graft] def read(spark: SparkSession, live: Live): Option[DataFrame] =
    if (live.dirs.isEmpty) None
    else Some(spark.read.option("basePath", live.loc.toString)
      .parquet(live.dirs.map(_.toString): _*))

  /** The commit half of a replace: `write` fills the next state directory
    * (its path is the argument) from what it read of `live`; the next
    * record then names it and folds every ingest directory of `live`.
    * Returns the new state directory. */
  private[graft] def commitNext(spark: SparkSession, live: Live)(write: String => Unit): String = {
    val fs = live.loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = s"compact_${live.compact + 1}"
    val dir = new Path(live.loc, s"ingest=$tag")
    write(dir.toString)
    val folded = live.folded ++ live.dirs.flatMap(ingestTag).filter(compactId(_).isEmpty)
    val v = live.last + 1
    val tmp = new Path(live.loc, s".$RecordPrefix$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$tag\t${folded.toSeq.sorted.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(live.loc, s"$RecordPrefix$v")))
      throw new java.io.IOException(s"record commit failed for ${live.loc}")
    dir.toString
  }

  /** The cleanup half of a replace: delete what the usable record made
    * dead — every other state directory, every folded ingest directory,
    * every older record. A crash mid-sweep loses nothing: whatever
    * survives stays dead to readers and goes with the next sweep. No
    * usable record, no deletion. */
  private[graft] def sweep(spark: SparkSession, loc: Path): Unit = {
    val l = live(spark, loc)
    if (l.version > 0) {
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).map(_.getPath).foreach { p =>
        val dead = recordVersion(p).exists(_ < l.version) ||
          ingestTag(p).exists(tag => compactId(tag).fold(l.folded(tag))(_ != l.compact))
        if (dead) fs.delete(p, true): Unit
      }
    }
  }

  /** `slice(r)` for r < `passes`, each written to `staging`/pass_r, then
    * read back as one frame: the bounded-disk shape of a corpus-sized job
    * (partition the keyspace into residue classes, land each class in the
    * lake, union downstream), so peak spill is one pass's, never the
    * corpus's. Resume-safe: a pass whose `_SUCCESS` marker exists is not
    * recomputed, so the caller must hand a fresh `staging` for a
    * regenerated corpus. `label` names the job in the error and progress
    * lines. */
  def stagedPasses(spark: SparkSession, staging: String, passes: Int, label: String)(
      slice: Int => DataFrame): DataFrame = {
    require(passes >= 1, s"$label multipass needs passes >= 1, got $passes")
    val conf = spark.sparkContext.hadoopConfiguration
    (0 until passes).foreach { r =>
      val out = new org.apache.hadoop.fs.Path(s"$staging/pass_$r")
      val fs = out.getFileSystem(conf)
      if (!fs.exists(new org.apache.hadoop.fs.Path(out, "_SUCCESS"))) {
        val t0 = System.nanoTime()
        slice(r).write.mode("overwrite").parquet(out.toString)
        // nudge the ContextCleaner between passes: the previous pass's
        // shuffle files are unreachable once its write action returns, and
        // reclaiming them NOW is the bounded-disk contract (periodicGC
        // alone can lag a whole pass behind)
        System.gc()
        System.err.println(f"[graft] $label pass $r/$passes: " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s, free disk " +
          f"${new java.io.File("/").getUsableSpace / 1e9}%.1f GB")
      }
    }
    spark.read.parquet((0 until passes).map(r => s"$staging/pass_$r"): _*)
  }

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
    * parquet. It keeps the swap, not the record commit ([[live]]): callers
    * read `path` itself with `spark.read.parquet`, which would see every
    * directory under it, dead or live — no record can hide one. */
  def compactPartitioned(spark: SparkSession, path: String, partCol: String): Unit = {
    val tmp = new Path(path + "__compact")
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit
    clusterByPartition(spark.read.parquet(path), partCol)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    val prev = new Path(path + "__prev")
    if (fs.exists(prev)) fs.delete(prev, true): Unit
    if (!fs.rename(dst, prev))
      throw new java.io.IOException(s"compaction swap failed for $path")
    if (!fs.rename(tmp, dst)) {
      // roll the original back into place rather than leaving no dataset
      // at `path` while an intact copy sits under __prev
      fs.rename(prev, dst): Unit
      throw new java.io.IOException(s"compaction swap failed for $path (rolled back)")
    }
    fs.delete(prev, true): Unit
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
}
