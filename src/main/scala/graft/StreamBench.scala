package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** Streaming micro-benchmark (not part of the driver contract): pushes a
  * deterministic event load through the two stateful streaming operators
  * and reports rows/sec — the streaming analog of graft.Bench. Run with
  * `runMain graft.StreamBench [nEvents]`; prints ONE JSON line.
  *
  * What it measures (and what it can't): MemoryStream feeds micro-batches
  * through the real state-store machinery (window aggregation state, TTL
  * timeouts), so the number captures per-event state maintenance + planning
  * cost — the quantity that bounds a single partition's throughput at
  * scale. It does NOT measure source/sink IO (no kafka here) or
  * multi-node state shuffling; those scale out with partitions.
  */
object StreamBench {

  /** Recursive delete for the bench's throwaway checkpoint/index dirs
    * (r15 review: the walk stream must be CLOSED — it holds directory
    * handles — and every sweep's checkpoint needs the same pass-deletes
    * rule, not just the ivf one). Deletion failures are non-fatal: the
    * bench's numbers are already taken. */
  private def deleteRecursively(dir: String): Unit = try {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } finally walk.close()
    }
  } catch { case e: Throwable =>
    System.err.println(s"[sbench] cleanup of $dir failed: ${e.getMessage}")
  }
  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(200000)
    val spark = Harness.session()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // deterministic load: n events over ~n seconds, 1000 users, 4 types
    def ts(i: Int) = new Timestamp(1704067200000L + i * 1000L)
    val types = Array("click", "view", "purchase", "error")

    // H1: windowed counts — aggregation-state throughput
    val in1 = MemoryStream[(Timestamp, String, Double)]
    val q1 = Streams.windowedCounts(in1.toDF().toDF("ts", "event_type", "value"),
        windowLen = "10 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("sb_counts")
      .outputMode(OutputMode.Append).start()
    val t1 = System.nanoTime()
    (0 until n grouped 50000).foreach { batch =>
      in1.addData(batch.map(i => (ts(i), types(i % 4), (i % 100).toDouble)))
      q1.processAllAvailable()
    }
    val sec1 = (System.nanoTime() - t1) / 1e9
    q1.stop()

    // H2: TTL state machine — per-key state + timeout throughput
    val in2 = MemoryStream[Streams.MemEvent]
    val q2 = Streams.ttlStateMachine(in2.toDS(), ttlSeconds = 600,
        watermark = "1 minute")
      .writeStream.format("memory").queryName("sb_ttl")
      .outputMode(OutputMode.Append).start()
    val t2 = System.nanoTime()
    (0 until n grouped 50000).foreach { batch =>
      in2.addData(batch.map(i =>
        Streams.MemEvent(s"k${i % 1000}", ts(i), i.toLong, s"v$i")))
      q2.processAllAvailable()
    }
    val sec2 = (System.nanoTime() - t2) / 1e9
    q2.stop()

    // H11: incremental MV maintenance — per-batch merge cost. The load is
    // lineitem-shaped deltas; each micro-batch pays partials(batch) + a
    // group-cardinality table merge, so the measured rate is dominated by
    // the per-BATCH fixed cost (read MV + overwrite) at this batch size —
    // the quantity that sizes micro-batch triggers for an MV pipeline.
    val mvTable = "graft_sbench_mv"
    // dropStale (not bare DROP): the MV registers an external table over
    // its committed state directory, so DROP leaves the files and a bare
    // drop would let the next run's merge resurrect them
    graft.sources.Warehouse.dropStale(spark, mvTable)
    val in3 = MemoryStream[Streams.LiDelta]
    val flags = Array("N", "R", "A")
    val ckpt3 = s"/tmp/graft_sbench_ckpt_${System.nanoTime()}"
    val q3 = Streams.maintainQ1Mv(in3.toDF(), mvTable, ckpt3)
    val nMv = n / 10 // the merge path is heavier per row; keep runtime bounded
    // ship dates must land INSIDE q1Partials' l_shipdate <= 1998-09-02
    // window — the 2024-based ts() above would filter every delta out and
    // the "merge" would fold empty partials into an empty MV forever
    def shipTs(i: Int) = new Timestamp(820454400000L + (i % 80000000) * 1000L) // 1996+
    val t3 = System.nanoTime()
    (0 until nMv grouped 20000).foreach { batch =>
      in3.addData(batch.map(i => Streams.LiDelta(flags(i % 3), flags((i / 3) % 2),
        (i % 50).toDouble, (i % 1000).toDouble, (i % 10) / 100.0,
        (i % 8) / 100.0, shipTs(i))))
      q3.processAllAvailable()
    }
    val sec3 = (System.nanoTime() - t3) / 1e9
    q3.stop()
    // guard: the load must actually reach the MV (see the shipTs note)
    val mvGroups = spark.table(mvTable).count()
    require(mvGroups > 0, "StreamBench MV load was filtered out entirely")
    deleteRecursively(ckpt3)

    val r1 = (n / sec1).round
    val r2 = (n / sec2).round
    val r3 = (nMv / sec3).round

    // ---- cardinality sweep: is state really O(active keys)? ----
    // The headline H2 load advances event-time 1s per EVENT, so keys lapse
    // past the 600s TTL and the state plateaus near min(keys, 600) whatever
    // the key count — it measures steady-state churn, not state growth. The
    // sweep uses a slow clock (1s per full key ROUND) so every key stays
    // inside its TTL: active keys == K exactly, and the state store must
    // hold all of them. Claim under test, with numbers: throughput is flat
    // in K (per-event state maintenance is O(1) amortized) while state rows
    // == K and state bytes grow linearly — i.e. the operator's only scale
    // axis is executor memory for active state, which partitions out on a
    // real cluster.
    def ttlSweep(keys: Int, nEv: Int): (Long, Long, Double) = {
      val in = MemoryStream[Streams.MemEvent]
      val q = Streams.ttlStateMachine(in.toDS(), ttlSeconds = 600,
          watermark = "1 minute")
        .writeStream.format("memory").queryName(s"sb_ttl_$keys")
        .outputMode(OutputMode.Append).start()
      def slowTs(i: Int) = new Timestamp(1704067200000L + (i / keys) * 1000L)
      val t = System.nanoTime()
      (0 until nEv grouped 50000).foreach { batch =>
        in.addData(batch.map(i =>
          Streams.MemEvent(s"k${i % keys}", slowTs(i), i.toLong, s"v$i")))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      // state metrics from the LAST progress with state info: numRowsTotal
      // is the store's row count after the final batch (all keys live — no
      // expiry under the slow clock), memoryUsedBytes its provider-reported
      // footprint. recentProgress keeps the tail; scan back for a populated
      // entry in case the final event is a no-data tick.
      val so = q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption
      val stateRows = so.map(_.numRowsTotal).getOrElse(-1L)
      val stateMb = so.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)
      q.stop()
      ((nEv / sec).round, stateRows, stateMb)
    }

    // H11 at scaled GROUP cardinality: the q1-shaped MV has 6 natural
    // groups; the sweep feeds synthetic flag values so the MV holds G
    // groups and each micro-batch pays read-MV + merge + overwrite at that
    // width. Claim under test: per-batch cost is O(MV groups + batch), so
    // rows/s degrades only in proportion to the MV's own size — the number
    // that sizes micro-batch triggers once the MV is wide.
    def mvSweep(groups: Int, nEv: Int): (Long, Long) = {
      val table = s"graft_sbench_mv_$groups"
      graft.sources.Warehouse.dropStale(spark, table)
      val in = MemoryStream[Streams.LiDelta]
      val ckpt = s"/tmp/graft_sbench_ckpt_${groups}_${System.nanoTime()}"
      val q = Streams.maintainQ1Mv(in.toDF(), table, ckpt)
      val half = groups / 2
      val t = System.nanoTime()
      // 4 micro-batches (not the headline's 1): the claim is PER-BATCH
      // merge cost O(MV groups + batch), so the rate must average several
      // merges at the scaled MV width
      (0 until nEv grouped (nEv / 4)).foreach { batch =>
        in.addData(batch.map(i => Streams.LiDelta(s"f${i % half}", flags((i / half) % 2),
          (i % 50).toDouble, (i % 1000).toDouble, (i % 10) / 100.0,
          (i % 8) / 100.0, shipTs(i))))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      q.stop()
      val mvRows = spark.table(table).count()
      deleteRecursively(ckpt)
      ((nEv / sec).round, mvRows)
    }

    // H11 batch-SIZE sweep (r8 verdict #8): the headline mv_merge rate at
    // 20k-row batches is dominated by the per-batch FIXED cost (plan the
    // partials, read the stored MV, merge, overwrite) rather than per-row
    // work. Sweeping the micro-batch size at a fixed total load separates
    // the two: rows/s grows with batch size until the per-row cost takes
    // over, and the knee is the smallest trigger size that amortizes the
    // fixed cost — the number that sizes a Trigger.ProcessingTime /
    // maxOffsetsPerTrigger for an MV pipeline (latency below the knee is
    // bought at a steep throughput price; above it, almost free).
    def mvBatchSweep(batchSize: Int, nEv: Int): (Long, Double) = {
      val table = s"graft_sbench_mvb_$batchSize"
      graft.sources.Warehouse.dropStale(spark, table)
      val in = MemoryStream[Streams.LiDelta]
      val ckptB = s"/tmp/graft_sbench_ckpt_b${batchSize}_${System.nanoTime()}"
      val q = Streams.maintainQ1Mv(in.toDF(), table, ckptB)
      val t = System.nanoTime()
      (0 until nEv grouped batchSize).foreach { batch =>
        in.addData(batch.map(i => Streams.LiDelta(flags(i % 3), flags((i / 3) % 2),
          (i % 50).toDouble, (i % 1000).toDouble, (i % 10) / 100.0,
          (i % 8) / 100.0, shipTs(i))))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      q.stop()
      deleteRecursively(ckptB)
      val nBatches = (nEv + batchSize - 1) / batchSize
      ((nEv / sec).round, sec / nBatches)
    }

    // ---- H12/H14: streamed index-append throughput (r14, verdict #6) ----
    // The per-batch cost of the two foreachBatch index writers: H12
    // coarse-assigns the batch against the versioned centroid artifact and
    // writes one committed ingest dir; H14 additionally PQ-encodes against
    // the versioned codebook. Same methodology as mv_batch: sweep the
    // micro-batch size at a bounded load, report rows/s + ms/batch — the
    // numbers that size maxOffsetsPerTrigger for a production vector
    // ingest. Both writers re-derive the centroid/codebook artifact from
    // corpusSource every batch (the a20 versioned-artifact rule), so the
    // measured fixed cost includes that derivation — exactly what a
    // per-batch caller pays.
    def mkVec(i: Long): Streams.IvfVec = Streams.IvfVec(i, (i % 10).toInt,
      Seq.tabulate(64)(j => (((i * 31 + j * 17) % 97).toFloat / 97f) - 0.5f))
    val ivfCorpus = spark.createDataset((0L until 2000L).map(mkVec))
      .toDF().withColumn("nrm", graft.functions.Vec.norm2Native($"v"))
    def ivfBatchSweep(pq: Boolean, batchSize: Int, nEv: Int): (Long, Double) = {
      val tag = if (pq) "h14" else "h12"
      val indexDir = java.nio.file.Files
        .createTempDirectory(s"graft_sbench_${tag}_$batchSize").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_sbench_${tag}ckpt").toString
      val in = MemoryStream[Streams.IvfVec]
      val q =
        if (pq) Streams.streamingIvfPqAppend(in.toDF(), indexDir, ivfCorpus, ckpt)
        else Streams.streamingIvfAppend(in.toDF(), indexDir, ivfCorpus, ckpt)
      val t = System.nanoTime()
      (0 until nEv grouped batchSize).foreach { g =>
        in.addData(g.map(i => mkVec(1000000L + i)))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      q.stop()
      // guard: every fed row must be readable through the commit contract
      val got = Streams.readIvfIndex(spark, indexDir).count()
      require(got == nEv, s"$tag append lost rows: $got != $nEv")
      // the committed index data exists only for the guard above (r14
      // ADVICE: 12 temp dirs per run accumulated on the bench box) — a
      // guard FAILURE throws before this point, keeping the dirs for the
      // post-mortem; a pass deletes them
      Seq(indexDir, ckpt).foreach(deleteRecursively)
      val nBatches = (nEv + batchSize - 1) / batchSize
      ((nEv / sec).round, sec / nBatches * 1000)
    }

    val fmtD = (v: Double) => Harness.fmt(v, 1)
    // 100x headline key cardinality (r7 swept 10x): 100k live keys is the
    // regime where a per-key-state bug shows super-linear bytes or falling
    // throughput; linear bytes + flat rows/s at 100k is the evidence the
    // state axis partitions out on a real cluster.
    val ttlScale = Seq(1000, 10000, 100000).map { k =>
      val (rps, rows, mb) = ttlSweep(k, n)
      s"""{"keys":$k,"rows_per_sec":$rps,"state_rows":$rows,"state_mb":${fmtD(mb)}}"""
    }.mkString("[", ",", "]")
    val mvScale = Seq(1000, 10000).map { g =>
      val (rps, rows) = mvSweep(g, nMv)
      s"""{"groups":$g,"rows_per_sec":$rps,"mv_rows":$rows}"""
    }.mkString("[", ",", "]")
    // Sweep points reach past nMv deliberately: at 20k rows/batch the
    // per-batch fixed cost still dominates (~515 ms flat 1k->20k, ~1 us/row
    // marginal), so the knee sits in the 100k+ regime — measure it, don't
    // extrapolate. Per-point load: >=4 batches for a stable average, <=40
    // batches so the 1k point doesn't take minutes.
    val mvBatch = Seq(1000, 5000, 20000, 100000).map { b =>
      val nEvB = math.max(4 * b, math.min(40 * b, 200000))
      val (rps, secPerBatch) = mvBatchSweep(b, nEvB)
      s"""{"batch":$b,"rows_per_sec":$rps,"ms_per_batch":${fmtD(secPerBatch * 1000)}}"""
    }.mkString("[", ",", "]")

    // index-append sweep points mirror mv_batch's: >=4 batches per point
    // for a stable average, load capped so the 1k point stays seconds
    val ivfAppend = Seq(false, true).map { pq =>
      val pts = Seq(1000, 5000, 20000).map { b =>
        val nEvB = math.max(4 * b, math.min(20 * b, 40000))
        val (rps, msPerBatch) = ivfBatchSweep(pq, b, nEvB)
        s"""{"batch":$b,"rows_per_sec":$rps,"ms_per_batch":${fmtD(msPerBatch)}}"""
      }.mkString("[", ",", "]")
      (if (pq) "ivfpq_append" else "ivf_append") -> pts
    }.toMap

    println(s"""{"metric":"stream_rows_per_sec","n":$n,"windowed_counts":$r1,"ttl_state":$r2,"mv_merge":$r3,"scale":{"ttl":$ttlScale,"mv":$mvScale,"mv_batch":$mvBatch,"ivf_append":${ivfAppend("ivf_append")},"ivfpq_append":${ivfAppend("ivfpq_append")}}}""")
    spark.stop()
  }
}
