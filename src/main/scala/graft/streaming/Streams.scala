package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ann.Stages
import graft.functions.Vec

/** Structured Streaming operators (SURVEY.md §2.H) — the streaming analog of
  * the reference's SSE event feed (/root/reference/mcp_synaptic/core/server.py
  * SSE endpoints + config/settings.py SSE settings — document/memory change
  * and expiration events).
  *
  * Both transforms take the input DataFrame/Dataset as a parameter so they
  * run identically over `readStream` sources in production and MemoryStream
  * in specs; they contain no source/sink specifics.
  *
  * Scale notes: the windowed rollup is a streaming state-store aggregation
  * keyed by (window, event_type) — watermarking bounds state; the TTL state
  * machine keys state by memory_key (same partitioning as the batch memory
  * table) and uses event-time timeouts, so state size is O(live keys) and
  * expiry emission needs no separate scan.
  */
object Streams {

  /** H1: watermarked tumbling-window counts per event_type — the streaming
    * form of q8_rollup. Works on a streaming or batch DataFrame with
    * (ts: timestamp, event_type: string, value: double). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 day",
                     watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** H5: streaming vector search — the Spark-native form of the reference's
    * online `rag_search` serving (rag/database/search.py): query vectors
    * arrive as a stream, the corpus is a STATIC broadcast side, and each
    * micro-batch emits every query's top-k.
    *
    * Window functions aren't allowed on streaming frames, so top-k is a
    * watermarked streaming AGGREGATION: collect the (similarity, id) pairs
    * per query and sort/slice inside the aggregate — per-query candidate
    * sets are bounded by the threshold filter before the shuffle.
    *
    * Join sides at scale: the MICRO-BATCH of queries is the broadcast side;
    * the static corpus is scanned in place and never moves (a 100 TB corpus
    * can neither broadcast nor re-shuffle per micro-batch — the earlier
    * `broadcast(corpus)` shape OOMs the driver at scale). Each micro-batch
    * is then one corpus scan with the handful of live queries replicated to
    * every task — the same side assignment as the batch brute-force path.
    *
    * @param queries streaming frame: (query_id long, ts timestamp,
    *                qv array&lt;float&gt;)
    * @param corpus  static frame: (vec_id, v, nrm) — Search.corpus shape
    */
  def streamingSearch(queries: DataFrame, corpus: DataFrame, k: Int,
                      threshold: Double, watermark: String = "10 minutes"): DataFrame = {
    val q = (if (queries.isStreaming) queries.withWatermark("ts", watermark) else queries)
      .withColumn("qnrm", Vec.norm2Native(col("qv")))
    val sim = Stages.cosine(col("qv"), col("qnrm"), col("v"), col("nrm"), clampZero = true)
    broadcast(q).join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("similarity", sim)
      .filter(col("similarity") >= threshold)
      .groupBy(col("query_id"), col("ts"))
      .agg(slice(array_sort(collect_list(
          struct((-col("similarity")).as("negsim"), col("vec_id")))), 1, k).as("raw"))
      .select(col("query_id"), col("ts"),
        transform(col("raw"), e => e.getField("vec_id")).as("topk_vec_ids"),
        transform(col("raw"), e => -e.getField("negsim")).as("topk_sims"))
  }

  /** H6: streaming sessionization — Structured Streaming's native
    * `session_window` (gap-merged state-store sessions per user), the
    * streaming form of the batch e2Sessions operator. State is one
    * in-flight session per active user, closed and emitted once the
    * watermark passes its gap — so state size is O(active users), not
    * O(events), at any stream volume. The spec proves the emitted sessions
    * match the batch lag+running-sum formulation on the same data
    * (session_window end = last_ts + gap, so the spec compares on
    * (user, start, n_events)). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
  }

  /** H7: stream-stream interval join — each purchase matched to the same
    * user's clicks in the preceding `horizonMinutes`. The canonical
    * attribution shape: both sides are unbounded streams, so the join
    * keeps a state store per side; the event-time interval bound in the
    * join condition plus the watermarks lets the store evict a click once
    * the watermark passes click_ts + horizon — state is O(events in one
    * horizon), not O(stream history), at any volume. Works identically on
    * batch frames (condition degenerates to a range join), which is what
    * the spec compares against. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       horizonMinutes: Int = 60,
                       watermark: String = "1 hour"): DataFrame = {
    val c0 = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("event_id").as("click_id"))
    val p0 = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"))
    val c = if (c0.isStreaming) c0.withWatermark("c_ts", watermark) else c0
    val p = if (p0.isStreaming) p0.withWatermark("p_ts", watermark) else p0
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** H8: streaming ingest dedup against the HISTORICAL corpus — the online
    * form of d9's exact layer: arriving documents are first deduped within
    * the stream and then anti-joined against the static corpus hash set,
    * so only genuinely-new content reaches the sink. The static side never
    * moves per micro-batch; at warehouse scale it is the bucketed
    * content-hash table of the corpus and the anti join is a bucketed
    * probe.
    *
    * State bound: `dropDuplicatesWithinWatermark` — a plain
    * `dropDuplicates("content_hash")` would keep one state row per
    * distinct hash FOREVER (the watermark only purges dedup state when
    * the event-time column is part of the key), an unbounded store on a
    * long-running ingest. The within-watermark variant evicts each hash
    * once the watermark passes it, trading "suppress re-ingests forever"
    * for "suppress re-ingests inside the horizon" — the corpus anti join
    * below is what durably suppresses OLD content, so the horizon only
    * needs to cover in-flight duplicates. */
  def streamingIngestDedup(incoming: DataFrame, corpusHashes: DataFrame,
                           watermark: String = "10 minutes"): DataFrame = {
    val hashed = incoming.withColumn("content_hash", md5(col("text")))
    val deduped =
      if (hashed.isStreaming)
        hashed.withWatermark("ts", watermark)
          .dropDuplicatesWithinWatermark("content_hash")
      else hashed.dropDuplicates("content_hash")
    deduped.join(corpusHashes, Seq("content_hash"), "left_anti")
  }

  /** H10: streaming chunk ingest — the online form of the r17->r18 ingest
    * path: arriving documents chunk STATELESSLY (generator + projections,
    * [[graft.rag.Chunking.chunkRows]] runs unchanged on the stream), then
    * boilerplate suppression dedups chunks by content hash within the
    * watermark — repeated chunks (headers, disclaimers, re-ingested docs)
    * inside the horizon never reach the index. State really is bounded:
    * `dropDuplicatesWithinWatermark` evicts a hash once the watermark
    * passes it (a plain key-only dropDuplicates would grow one state row
    * per distinct chunk forever); durable cross-horizon suppression
    * belongs to the downstream index merge, as in H8. The chunker itself
    * holds no state, so the stage scales with input rate, not corpus
    * size. */
  def streamingChunkIngest(incoming: DataFrame,
                           watermark: String = "10 minutes"): DataFrame = {
    val chunked = graft.rag.Chunking.chunkRows(incoming, carry = Seq("ts"))
    if (chunked.isStreaming)
      chunked.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("chunk_hash")
    else chunked.dropDuplicates("chunk_hash")
  }

  /** One streamed vector for H12 (public — Catalyst codegen requires it).
    * `label` is Int, matching the corpus table's parquet type exactly: a
    * widened encoder type here would write micro-batch directories whose
    * label column (string) disagrees with a batch-built base directory
    * (int32), and the first reader to materialize the column would fail
    * mid-scan (r12 — surfaced by the compaction spec's content compare). */
  case class IvfVec(vec_id: Long, label: Int, v: Seq[Float])

  /** H12: streaming IVF index maintenance (r11, verdict #7) — the last
    * batch/stream asymmetry closed: a20 appends a vector batch to the
    * list-partitioned IVF layout offline; this runs the SAME row-local
    * assignment per micro-batch, so the index keeps serving while new
    * vectors arrive. Assignment is against the FIXED centroid artifact
    * (no retrain — retrain is a versioned re-index decision, as in a20),
    * so each batch costs O(batch): a narrow map + one partitioned write,
    * never a touch of existing lists.
    *
    * Commit/replay contract: each micro-batch lands as its own
    * `ingest=<appId>_<batchId>` partition directory written with
    * mode=Overwrite — foreachBatch is at-least-once, and a re-delivered
    * batch OVERWRITES its own directory instead of double-appending
    * (same identity rule as H11's marks: appId from the checkpoint dir,
    * batchId from the stream). The per-directory `_SUCCESS` marker plays
    * the staged-swap role at batch granularity — a write that died
    * mid-batch leaves no marker, is never trusted by readers
    * (readTableOrFiles discipline), and is replaced wholesale on replay;
    * an H11-style whole-table swap would be O(corpus) per batch, which
    * contradicts the O(batch) append contract (a transactional table
    * format supplies the same guarantee with ACID appends at 100 TB).
    * Probes read every ingest dir's `list_id=N`: list_id stays a partition column
    * under every ingest dir, so partition pruning is unchanged —
    * StreamIvfSpec proves streamed appends == a20's batch rebuild on the
    * same data, replay idempotence, and the pruned read. */
  private[graft] def appendIvfBatch(batch: DataFrame, indexDir: String,
                                    centSource: DataFrame, batchTag: String,
                                    nlists: Int = 8): Unit = {
    val asg = graft.ann.Ann.listAssignment(
      batch.withColumn("nrm", Vec.norm2Native(col("v"))),
      Some(centSource), nlists)
    asg.select("vec_id", "label", "v", "nrm", "list_id")
      .write.mode("overwrite")
      .partitionBy("list_id")
      .parquet(s"$indexDir/ingest=$batchTag")
  }

  def streamingIvfAppend(vectors: DataFrame, indexDir: String,
                         centSource: DataFrame, checkpointDir: String,
                         nlists: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendIvfBatch(batch.toDF(), indexDir, centSource,
          s"${appId}_$batchId", nlists))
      .start()
  }

  /** H14 (r13): the H12 append applied to the PQ CODE table — the other
    * index artifact the batch path materializes ([[graft.ann.Pq]]
    * ivfPqTable, a13/a22's probe-side read). Encoding and coarse
    * assignment both derive from `corpusSource` (the versioned
    * codebook/centroid artifact — the a20 rule), so the streamed code
    * rows are byte-identical to a batch rebuild's; the ingest-directory
    * commit/replay/compaction contract is H12's verbatim (same writer
    * discipline, same [[readIvfIndex]]/[[compactIvfIndex]] — the
    * manifest machinery is schema-agnostic). O(batch·(M·K + nlists)) per
    * batch, row-local, no touch of existing code partitions. */
  private[graft] def appendIvfPqBatch(batch: DataFrame, indexDir: String,
                                      corpusSource: DataFrame, batchTag: String,
                                      nlists: Int = 8): Unit = {
    val withNrm = batch.withColumn("nrm", Vec.norm2Native(col("v")))
    graft.ann.Pq.encodeBatchAgainst(corpusSource, withNrm, nlists)
      .write.mode("overwrite")
      .partitionBy("list_id")
      .parquet(s"$indexDir/ingest=$batchTag")
  }

  def streamingIvfPqAppend(vectors: DataFrame, indexDir: String,
                           corpusSource: DataFrame, checkpointDir: String,
                           nlists: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendIvfPqBatch(batch.toDF(), indexDir, corpusSource,
          s"${appId}_$batchId", nlists))
      .start()
  }

  /** The fold manifest of the streamed index (r12): newline-delimited
    * `compactTag<TAB>foldedTag,foldedTag,...` records, one per completed
    * [[compactIvfIndex]] run. Versioned (`_folded.v1`, `_folded.v2`, ...)
    * rather than overwritten in place: readers take the highest version
    * that parses, so a writer crash can never leave a moment with NO
    * manifest (the delete-then-rename overwrite would), and the manifest
    * append IS the compaction's commit point — before it the new compact
    * directory is ignored and the originals serve; after it the compact
    * directory serves and every folded tag is dead forever, INCLUDING a
    * replayed micro-batch that re-creates its directory after the fold
    * (at-least-once streams replay tags, so deletion alone cannot retire
    * one). */
  private val FoldManifestPrefix = "_folded.v"

  private def foldManifest(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path):
      (Int, Map[String, Seq[String]]) = {
    val versions =
      if (!fs.exists(dir)) Array.empty[(Int, org.apache.hadoop.fs.Path)]
      else fs.listStatus(dir).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(FoldManifestPrefix))
          scala.util.Try(n.stripPrefix(FoldManifestPrefix).toInt).toOption
            .map(_ -> st.getPath)
        else None
      }
    versions.sortBy(-_._1).collectFirst { case (v, p) =>
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val entries = text.linesIterator.filter(_.nonEmpty).map { line =>
        val Array(tag, folded) = line.split('\t')
        tag -> folded.split(',').toSeq.filter(_.nonEmpty)
      }.toMap
      (v, entries)
    }.getOrElse((0, Map.empty[String, Seq[String]]))
  }

  /** The ingest directories a reader may trust: `_SUCCESS`-committed
    * (ADVICE r11: a foreachBatch writer that dies mid-batch leaves part
    * files with no marker — readTableOrFiles discipline, applied per
    * ingest dir), not folded into a committed compact directory, and —
    * for compact directories themselves — recorded in the manifest (a
    * compact write that died before its manifest commit is invisible). */
  private def committedIngestDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val (_, manifest) = foldManifest(fs, dir)
    val folded = manifest.values.flatten.toSet
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest="))
      .map(_.getPath)
      .filter { p =>
        val tag = p.getName.stripPrefix("ingest=")
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) &&
          !folded.contains(tag) &&
          (!tag.startsWith("compact_") || manifest.contains(tag))
      }
      .sortBy(_.getName)
  }

  /** The streamed index, read back with both partition columns discovered
    * (ingest for commit identity, list_id for probe pruning). Reads ONLY
    * the committed, un-folded ingest directories ([[committedIngestDirs]])
    * — a partial batch or a superseded (folded/replayed-after-fold)
    * directory never contributes rows. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = committedIngestDirs(fs, dir)
    if (dirs.isEmpty)
      throw new IllegalStateException(s"no committed ingest directories under $indexDir")
    spark.read.option("basePath", indexDir).parquet(dirs.map(_.toString): _*)
  }

  /** H12's missing half (r12, verdict #2): fold the accumulated
    * `ingest=*` micro-batch directories into ONE canonical
    * list_id-partitioned compact directory — I6's compactPartitioned
    * composed with the streamed layout. A long-running append stream
    * lands one directory per batch forever; without this it walks into
    * exactly the small-files wall compactPartitioned was built to repair.
    *
    * Cost is O(moved rows): one pruned read of the committed dirs, one
    * clustering shuffle on list_id (Warehouse.clusterByPartition — one
    * file per unskewed inverted list, a skewed list splits across writer
    * tasks, r14), one partitioned write. Commit protocol
    * (scaladoc at [[FoldManifestPrefix]]): data first under
    * `ingest=compact_<k>` (k deterministic — max committed compact id
    * + 1, so a crashed attempt is overwritten, never leaked), then the
    * manifest version append as the atomic commit point, then best-effort
    * deletion of folded directories (leftovers — including a replayed
    * batch directory re-created AFTER the fold — stay invisible via the
    * manifest and are swept by the next compaction). At every instant a
    * reader sees exactly one complete view: pre-commit the originals,
    * post-commit the compact dir. StreamIvfSpec proves compacted ==
    * pre-compact union (rows, probe results, pruning) and replay safety
    * across the fold. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    // sweep leftovers a previous fold already retired (crash between its
    // manifest commit and deletes, or a replay that re-created a dir)
    val (ver0, manifest0) = foldManifest(fs, dir)
    val folded0 = manifest0.values.flatten.toSet
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("ingest=") &&
          folded0.contains(n.stripPrefix("ingest=")))
        fs.delete(st.getPath, true): Unit
    }
    val dirs = committedIngestDirs(fs, dir)
    if (dirs.size <= 1) return // already canonical
    val tags = dirs.map(_.getName.stripPrefix("ingest="))
    val nextId = manifest0.keys
      .flatMap(t => scala.util.Try(t.stripPrefix("compact_").toInt).toOption)
      .foldLeft(0)(math.max) + 1
    val compactTag = s"compact_$nextId"
    // schema-agnostic (r13): the raw-vector layout carries
    // (vec_id, label, v, nrm), the H14 code layout (vec_id, code*, cn*) —
    // either way `ingest` is commit bookkeeping, not index content, and
    // list_id is the partition key both layouts share
    graft.sources.Warehouse.clusterByPartition(
        readIvfIndex(spark, indexDir).drop("ingest"), "list_id")
      .write.mode("overwrite")
      .partitionBy("list_id")
      .parquet(s"$indexDir/ingest=$compactTag")
    // the commit point: next manifest version carries the new fold record
    val lines = (manifest0 + (compactTag -> tags)).toSeq.sortBy(_._1)
      .map { case (t, f) => s"$t\t${f.mkString(",")}" }
    val next = new org.apache.hadoop.fs.Path(dir, s"$FoldManifestPrefix${ver0 + 1}")
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$FoldManifestPrefix${ver0 + 1}.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, next))
      throw new java.io.IOException(s"fold-manifest commit failed for $indexDir")
    // best-effort GC; anything that survives stays manifest-invisible
    tags.foreach(t => fs.delete(
      new org.apache.hadoop.fs.Path(dir, s"ingest=$t"), true): Unit)
  }

  /** One lineitem-shaped delta row (the H11 MV stream's input schema;
    * public — Catalyst codegen requires it). */
  case class LiDelta(l_returnflag: String, l_linestatus: String, l_quantity: Double,
                     l_extendedprice: Double, l_discount: Double, l_tax: Double,
                     l_shipdate: Timestamp)

  /** Fixed merged-state schema for the q1 MV: every merge round re-sums
    * decimals, and Spark widens sum() output precision per level — without
    * pinning the types the table schema would drift batch to batch and
    * unionByName would keep re-coercing. All states stay EXACT (decimal /
    * long), so merge order cannot change the result. */
  private def normQ1State(df: DataFrame): DataFrame =
    df.select(col("l_returnflag"), col("l_linestatus"),
      col("p_qty").cast("decimal(38,4)").as("p_qty"),
      col("p_base").cast("decimal(38,4)").as("p_base"),
      col("p_disc").cast("decimal(38,0)").as("p_disc"),
      col("p_charge").cast("decimal(38,0)").as("p_charge"),
      col("p_n").cast("long").as("p_n"))

  /** One micro-batch fold: aggregate the batch to q1 partial states and
    * merge them into the MV table (create on first batch). The merge
    * touches O(delta) input + O(groups) state — never the base fact table.
    * `localCheckpoint` materializes the merged state (MV-sized: group
    * cardinality, a handful of rows) before the overwrite so the write
    * doesn't read the very table it replaces; a production deployment
    * would use a transactional MERGE INTO (Delta/Iceberg) here, which
    * this models with plain parquet tables.
    *
    * REPLAY-SAFE: foreachBatch is at-least-once — after a failure the
    * restarted query re-delivers the last uncommitted batch, and a blind
    * merge would double-count its deltas. Every MV row carries `marks`, a
    * map of app_id -> max_batch_id holding ONE high-water mark PER query
    * incarnation (Delta's txnAppId/txnVersion, all apps at once): a batch
    * whose id is <= the stored mark for ITS OWN app is a replay and
    * skips, while a FRESH incarnation (new checkpoint dir, batch ids
    * restarting at 0) merges normally. Keeping the whole map — not just
    * the last writer's pair — means incarnation B's merges cannot erase
    * incarnation A's mark, so a late replay from a still-draining A is
    * caught too (StreamMvSpec proves same-app no-op, fresh-app merge,
    * and the cross-incarnation replay). The map rides inside the state
    * rows so mark + state commit in the same single write; the write
    * itself goes through [[graft.sources.Warehouse.writeTableStaged]]
    * (stage + rename swap), and the state is read back via
    * [[graft.sources.Warehouse.readTableOrFiles]], so the guard survives
    * a JVM crash or restart at ANY point — whichever complete copy the
    * reader recovers, marks and aggregates are mutually consistent. The
    * MV is read ONCE per batch (localCheckpoint), serving both the
    * mark probe and the merge union. */
  private[graft] def mergeQ1Mv(batch: DataFrame, mvTable: String,
                               batchId: Long, appId: String,
                               maxApps: Int = 64): Unit = synchronized {
    val spark = batch.sparkSession
    val existing = graft.sources.Warehouse.readTableOrFiles(spark, mvTable)
      .map(_.localCheckpoint(true))
    // marks value = (batch_id, seq): seq is a monotone merge counter used
    // ONLY for retention ordering (which app wrote least recently)
    val oldMarks: Map[String, (Long, Long)] = existing.flatMap { cur =>
      if (cur.columns.contains("marks")) {
        val structValued = cur.schema("marks").dataType match {
          case org.apache.spark.sql.types.MapType(_, _: org.apache.spark.sql.types.StructType, _) => true
          case _ => false
        }
        cur.select(col("marks")).limit(1).collect().headOption
          .filterNot(_.isNullAt(0))
          .map { r =>
            if (structValued)
              r.getMap[String, org.apache.spark.sql.Row](0)
                .view.mapValues(v => (v.getLong(0), v.getLong(1))).toMap
            else // map<string,long> generation: no seq recorded
              r.getMap[String, Long](0).view.mapValues(b => (b, 0L)).toMap
          }
      } else if (cur.columns.contains("app_id"))
        // MV written before the map schema: a single (app_id, max_batch_id)
        // pair stamped on every row — lift it into the map form
        cur.select(col("app_id"), col("max_batch_id")).limit(1).collect().headOption
          .filterNot(_.isNullAt(0))
          .map(r => Map(r.getString(0) -> (r.getLong(1), 0L)))
      else None
    }.getOrElse(Map.empty)
    if (oldMarks.get(appId).exists(_._1 >= batchId)) return
    val delta = normQ1State(graft.analytics.Queries.q1Partials(batch))
    val states = existing match {
      case Some(cur) =>
        normQ1State(normQ1State(cur).unionByName(delta)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("p_qty")).as("p_qty"), sum(col("p_base")).as("p_base"),
            sum(col("p_disc")).as("p_disc"), sum(col("p_charge")).as("p_charge"),
            sum(col("p_n")).as("p_n")))
      case None => delta
    }
    // Delta-style mark retention: the registry holds at most `maxApps`
    // incarnations, evicting the LEAST-recently-merged first (the current
    // writer holds the max seq, so it is never evicted). An incarnation
    // idle for `maxApps` other incarnations loses replay protection —
    // the same trade Delta makes with its transaction-identity retention
    // window; unbounded growth would drag every dead incarnation's mark
    // through every read/union/write forever.
    val nextSeq = (oldMarks.values.map(_._2) ++ Seq(0L)).max + 1
    val withNew = oldMarks + (appId -> (batchId, nextSeq))
    val newMarks =
      if (withNew.size <= maxApps) withNew
      else withNew.toSeq.sortBy { case (_, (_, seq)) => -seq }.take(maxApps).toMap
    val merged = states.withColumn("marks", typedLit(newMarks))
    val snap = merged.localCheckpoint(true)
    graft.sources.Warehouse.writeTableStaged(snap, mvTable)
  }

  /** The replay-guard app id for a checkpoint dir. The checkpoint dir IS
    * the query incarnation's identity — a restart of the same checkpoint
    * replays with the same appId (guard applies); a fresh checkpoint dir
    * is a new incarnation whose batch 0 must merge. Shared with the spec
    * so the guard contract lives in exactly one place. */
  private[graft] def appIdFor(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** H11: streaming incremental MV maintenance — the warehouse-standard
    * streaming upsert: lineitem-shaped deltas arrive as a stream and every
    * micro-batch folds into the stored q1 materialized view via
    * foreachBatch + [[mergeQ1Mv]] (q23's refresh loop made continuous).
    * The MV stays query-ready between batches
    * ([[graft.analytics.Queries.q1MergeFinalize]] over the table);
    * StreamMvSpec proves stream-merged == full batch recompute to the bit
    * on a MemoryStream feed — the exact-decimal partial states make the
    * equality exact, not approximate. */
  def maintainQ1Mv(deltas: DataFrame, mvTable: String,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    deltas.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeQ1Mv(batch.toDF(), mvTable, batchId, appId))
      .start()
  }

  case class MemEvent(memory_key: String, ts: Timestamp, event_id: Long, props: String)
  case class MemState(createdAt: Long, lastTs: Long, accessCount: Long, data: String)
  /** status: "active" on each update, "expired" when the TTL timeout fires. */
  case class MemUpdate(memory_key: String, status: String, access_count: Long,
                       last_ts: Timestamp, data: String)

  /** H2: TTL expiry state machine — the streaming analog of the reference's
    * sliding-expiration memory store (models/memory.py:touch + the expiry
    * event feed). Each key's state holds the latest record; every event
    * re-arms an event-time timeout at last_ts + ttl; when the watermark
    * passes it, an "expired" record is emitted and state is dropped. */
  def ttlStateMachine(events: Dataset[MemEvent], ttlSeconds: Long,
                      watermark: String = "10 minutes"): Dataset[MemUpdate] = {
    import events.sparkSession.implicits._
    def update(key: String, rows: Iterator[MemEvent],
               state: GroupState[MemState]): Iterator[MemUpdate] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(MemUpdate(key, "expired", s.accessCount, new Timestamp(s.lastTs), s.data))
      } else {
        // (ts, event_id) sort: events sharing a timestamp within one
        // micro-batch would otherwise retain arbitrary data — event_id
        // breaks the tie exactly like the batch path's max_by(props, event_id)
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val prev = state.getOption
        val created = prev.map(_.createdAt).getOrElse(sorted.head.ts.getTime)
        val last = sorted.last
        val next = MemState(created, last.ts.getTime,
          prev.map(_.accessCount).getOrElse(0L) + sorted.size, last.props)
        state.update(next)
        state.setTimeoutTimestamp(next.lastTs + ttlSeconds * 1000L)
        Iterator(MemUpdate(key, "active", next.accessCount, last.ts, last.props))
      }
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.memory_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
