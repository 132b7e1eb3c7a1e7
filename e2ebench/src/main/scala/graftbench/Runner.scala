package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.memory.MemoryOps

/** Runs one benchmark workload against graft's public entry points and
  * writes the raw record (setup time, every op, spans and their counters)
  * as JSON. The metrics are computed from that record by run.py.
  *
  *   Runner <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed> <out.json>
  *
  * With trace 0 there is one timed phase and nothing is traced. With
  * trace 1 set-up is traced, then three phases run: untraced, traced
  * ([[TracedPhase]]), untraced. The traced phase gives the per-layer
  * numbers, and its throughput against the mean of the two untraced phases
  * around it gives the tracing overhead. */
object Runner {
  /** Op name -> the layer span it is attributed to. */
  val RagMix: Seq[(String, String)] = Seq(
    "r3_search_topk" -> "rag.search", "r4_search_filtered" -> "rag.search",
    "r14_bm25_topk" -> "rag.bm25", "r15_hybrid_rrf" -> "rag.hybrid",
    "r6s_context_assembly" -> "rag.context", "r18s_chunk_search" -> "rag.chunk_search",
    "r11_get_document" -> "rag.get_doc", "a21_routed_topk_io" -> "ann.routed")
  val MemoryReads: Seq[(String, String)] = Seq(
    "m2_get" -> "memory.get", "m3_list_filtered" -> "memory.list",
    "m3b_list_by_keys" -> "memory.keys", "m9_exists" -> "memory.exists",
    "m4_stats" -> "memory.stats", "m5_cleanup_expired" -> "memory.cleanup")
  val Curation: Seq[(String, String)] = Seq(
    "t5_keep_filter" -> "text.keep", "d6_dup_clusters" -> "dedup.cluster",
    "d10_decontamination" -> "dedup.decontam", "d13_scrubbed_corpus" -> "dedup.scrub",
    "p8_curation_audit" -> "pipeline.audit", "p1_training_mix" -> "pipeline.mix")

  val TracedPhase = 2
  val RagClients = 2
  /** The work of a timed phase is fixed per run and sized from --seconds,
    * so every run of a workload takes the same number of samples: one
    * client cycle through the RAG mix, one reader cycle through the memory
    * reads, one WAL append and one curated shard each stand for this many
    * seconds (their cost on a 4-core box). A run takes whole cycles, so
    * its timed phase is the nearest whole number of them. */
  val SecondsPerRagCycle = 7.8
  val SecondsPerReadCycle = 2.9
  val SecondsPerAppend = 5.0
  val SecondsPerShard = 40.0

  def count(seconds: Double, per: Double, min: Int): Int =
    math.max(min, (seconds / per).round.toInt)

  final case class Op(phase: Int, client: Int, op: String, start: Double, end: Double,
                      rows: Long, digest: String, lo: Int, hi: Int, target: String, error: String)

  private val ops = new ConcurrentLinkedQueue[Op]
  private val events = new ConcurrentLinkedQueue[java.util.Map[String, Any]]
  /** One representative result per (op, digest), written out for the
    * oracle check after the timed phases. */
  private val results = new java.util.concurrent.ConcurrentHashMap[(String, String), (StructType, Array[Row])]

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsArg, traceArg, seedArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    val warehouse = new File(work, "warehouse")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.ui.retainedExecutions", if (traced) "100000" else "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionS = (Trace.now - jvmStart) / 1000.0

    val w: Workload = workload match {
      case "rag_serve" => new RagServe(spark, s"$input/corpus", seconds)
      case "memory_lifecycle" => new MemoryLifecycle(spark, input, work, seconds)
      case "curation_batch" => new CurationBatch(spark, input, work, seconds)
      case other => sys.error(s"unknown workload $other")
    }
    // A traced run also traces set-up, so the artifact builds show in the
    // sources counters.
    if (traced) Trace.install(spark, warehouse)
    val setupMarks = w.setup() + ("session" -> sessionS)
    val setupS = (Trace.now - jvmStart) / 1000.0
    val heap = new HeapWatch
    heap.checkpoint()

    val phases = if (traced) 1 to 3 else Seq(1)
    val phaseTimes = phases.map { p =>
      Trace.on = traced && p == TracedPhase
      val t0 = Trace.now
      w.phase(p)
      val t1 = Trace.now
      heap.checkpoint()
      p -> (t0, t1)
    }
    if (traced) {
      Trace.on = false
      Thread.sleep(1500) // let the listener bus drain before reading counters
      Trace.collectSqlMetrics(spark)
    }
    writeResults(spark, new File(work, "results"))
    val mix = (RagMix ++ MemoryReads ++ Curation).map(_._1)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new File(work, "oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (op, _) => mix.contains(op) }.asJava)
    val (whBytes, _) = du(warehouse)
    val liveTables = spark.catalog.listTables().collect().length

    val record = obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "setup_s" -> setupS, "setup_marks" -> setupMarks,
      "phases" -> phaseTimes.map { case (p, (a, b)) => obj("phase" -> p, "start" -> a, "end" -> b) },
      "peak_heap_mb" -> heap.peakMb,
      "warehouse_bytes" -> whBytes, "live_tables" -> liveTables,
      "ops" -> ops.asScala.toSeq.map(o => obj("phase" -> o.phase, "client" -> o.client,
        "op" -> o.op, "start" -> o.start, "end" -> o.end, "rows" -> o.rows,
        "digest" -> o.digest, "lo" -> o.lo, "hi" -> o.hi, "target" -> o.target,
        "error" -> o.error)),
      "events" -> events.asScala.toSeq,
      "spans" -> Trace.spans.asScala.toSeq.map(s => obj("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "span_stats" -> Trace.stats.toSeq.map { case (id, s) => obj("span" -> id,
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "sched_delay_ms" -> s.schedDelayMs, "exec_run_ms" -> s.runMs, "exec_cpu_ms" -> s.cpuMs,
        "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
        "scan_rows" -> s.scanRows, "scan_bytes" -> s.scanBytes,
        "broadcast_bytes" -> s.broadcastBytes,
        "job_intervals" -> s.jobIntervals.toSeq.map { case (a, b) => Seq(a, b) }) },
      "tables" -> Trace.tables.asScala.toSeq.map(t => obj("name" -> t.name, "span" -> t.span,
        "bytes" -> t.bytes, "files" -> t.files)),
    )
    val tmp = new File(out + ".tmp")
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(tmp, record)
    Files.move(tmp.toPath, new File(out).toPath, StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }

  // ---- shared plumbing -------------------------------------------------

  /** A Scala value tree as plain Java collections for Jackson. */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    def conv(v: Any): Any = v match {
      case m: java.util.Map[_, _] => m
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> conv(x) }.asJava
      case s: Seq[_] => s.map(conv).asJava
      case o: Option[_] => o.map(conv).orNull
      case x => x
    }
    val m = new java.util.LinkedHashMap[String, Any]
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }

  def event(kv: (String, Any)*): Unit = events.add(obj(kv: _*))

  /** Bytes and regular files under a directory. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val files = Files.walk(dir.toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** Run one op: the request span around the layer span around `body`,
    * recorded with its row count and result digest. An exception is a
    * failed op, never a dropped one. */
  def runOp(phase: Int, client: Int, op: String, layer: String,
            gen: () => (Int, Int), target: String = null)(body: => Option[DataFrame]): Unit = {
    val start = Trace.now
    val (lo0, _) = gen()
    val rec =
      try {
        val (rows, digest, hi) = Trace.span(s"op.$op") {
          Trace.span(layer) {
            body match {
              case Some(df) =>
                val hi = gen()._2
                val rows = df.collect()
                val d = digestOf(rows)
                results.putIfAbsent((op, d), (df.schema, rows))
                (rows.length.toLong, d, hi)
              case None => (0L, "", gen()._2)
            }
          }
        }
        Op(phase, client, op, start, Trace.now, rows, digest, lo0, hi, target, null)
      } catch {
        case e: Throwable =>
          Op(phase, client, op, start, Trace.now, 0, "", lo0, gen()._2, target,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    ops.add(rec)
  }

  def digestOf(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** One small write job per distinct result, four at a time. */
  private def writeResults(spark: SparkSession, dir: File): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try results.asScala.toSeq.map { case ((op, d), (schema, rows)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(dir, s"$op/$d").getAbsolutePath)
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Peak old-generation heap in use right after a full collection, taken
    * at fixed checkpoints (end of setup, end of each timed phase). The
    * second collection runs after Spark's cleaner has released what the
    * first one freed (broadcasts, shuffle state). */
  final class HeapWatch {
    var peakMb = 0.0
    def checkpoint(): Unit = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      val used = old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      peakMb = math.max(peakMb, used / 1048576.0)
    }
  }

  /** A client runs `n` cycles through its op list, starting at op
    * `offset`, so every op type runs the same number of times. The order is
    * the same for every seed: only the data varies, and concurrent clients
    * meet the same op pairs in every run. */
  def cycles(mix: Seq[(String, String)], offset: Int, n: Int)(
      run: (String, String) => Unit)(afterCycle: Int => Unit = _ => ()): Unit = {
    val order = mix.drop(offset) ++ mix.take(offset)
    (1 to n).foreach { c =>
      order.foreach { case (op, layer) => run(op, layer) }
      afterCycle(c)
    }
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start()
    t
  }

  // ---- workloads -------------------------------------------------------

  trait Workload {
    /** The artifact builds the timed phase needs, then untimed warm-up
      * cycles so the timed phase does not start on a cold JIT; returns
      * named set-up marks. */
    def setup(): Map[String, Double]
    def phase(p: Int): Unit
  }

  val noGen: () => (Int, Int) = () => (0, 0)

  /** Closed-loop RAG serving over one pre-built index. */
  final class RagServe(spark: SparkSession, dir: String, seconds: Double) extends Workload {
    /** The first call of each op builds its artifacts, and is the only
      * warm-up: the JIT keeps warming for several cycles more, so a
      * separate warm-up would cost more run time than it steadies. */
    def setup(): Map[String, Double] =
      RagMix.map { case (op, layer) =>
        val t0 = Trace.now
        Trace.span(s"setup.$op") { Trace.span(layer) { SparkEntry.queries(op)(spark, dir).collect() } }
        s"build.$op" -> (Trace.now - t0) / 1000.0
      }.toMap

    def phase(p: Int): Unit = {
      val n = count(seconds, SecondsPerRagCycle, 1)
      (0 until RagClients).map { c =>
        thread(s"rag-client-$c") {
          cycles(RagMix, c * RagMix.size / RagClients, n) { (op, layer) =>
            runOp(p, c, op, layer, noGen)(Some(SparkEntry.queries(op)(spark, dir)))
          }()
        }
      }.foreach(_.join())
    }
  }

  /** WAL appends next to a closed-loop reader. Append i of a phase lands
    * once the reader has finished i/(appends+1) of its cycles, so every run
    * interleaves them the same way; each append changes the events source
    * signature, and the appender's next memory-table resolution rebuilds
    * the table while the reader waits on it. Set-up runs one such phase
    * untimed (one read cycle, one append) to warm the JIT. */
  final class MemoryLifecycle(spark: SparkSession, input: String, work: String,
                              seconds: Double) extends Workload {
    private val dir = s"$input/corpus"
    private val walDir = new File(dir, "events.parquet")
    private val batches = new File(input, "wal_batches").listFiles().sortBy(_.getName)
    private val stage = new File(work, "stage")
    private val appends = count(seconds, SecondsPerAppend, 1)
    private val readCycles = math.max(appends + 1, count(seconds, SecondsPerReadCycle, 2))
    /** Appends landed, and appends started (landed or landing): the WAL
      * generation a read can see lies between the two. */
    private val landed, landing = new AtomicInteger
    private val gen = () => (landed.get, landing.get)

    def setup(): Map[String, Double] = {
      val t0 = Trace.now
      Trace.span("setup.memory_table") { Trace.span("memory.table") {
        MemoryOps.memoryTable(spark, dir).count()
      } }
      val build = (Trace.now - t0) / 1000.0
      run(0, 1, 1)
      Map("build.memory_table" -> build)
    }

    def phase(p: Int): Unit = run(p, readCycles, appends)

    private def run(p: Int, readCycles: Int, appends: Int): Unit = {
      val progress = new AtomicInteger
      val appender = thread("wal-appender") {
        (0 until appends).foreach { i =>
          while (progress.get < (i + 1) * readCycles / (appends + 1)) Thread.sleep(2)
          val batch = batches(landing.get)
          val staged = new File(stage, batch.getName)
          stage.mkdirs()
          Files.copy(batch.toPath, staged.toPath, StandardCopyOption.REPLACE_EXISTING)
          landing.incrementAndGet()
          Files.move(staged.toPath, new File(walDir, batch.getName).toPath,
            StandardCopyOption.ATOMIC_MOVE)
          landed.incrementAndGet()
          val at = Trace.now
          val built = try {
            Trace.span("op.append") { Trace.span("memory.table") {
              MemoryOps.memoryTable(spark, dir)
            } }
            null
          } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
          event("kind" -> "append", "phase" -> p, "index" -> landed.get,
            "landed" -> at, "rebuilt" -> Trace.now, "error" -> built)
        }
      }
      val reader = thread("memory-reader") {
        cycles(MemoryReads, 0, readCycles) { (op, layer) =>
          if (p == 0) {
            MemoryOps.memoryTable(spark, dir)
            SparkEntry.queries(op)(spark, dir).collect(): Unit
          } else runOp(p, 0, op, layer, gen) {
            Trace.span("memory.table") { MemoryOps.memoryTable(spark, dir) }
            Some(SparkEntry.queries(op)(spark, dir))
          }
        }(progress.set)
      }
      appender.join()
      reader.join()
    }
  }

  /** Batch curation of fresh shards: every artifact is built cold. Each
    * stage writes its output, which is what a curation job produces. */
  final class CurationBatch(spark: SparkSession, input: String, work: String,
                            seconds: Double) extends Workload {
    private val shards = new File(input, "shards").listFiles().sortBy(_.getName)
    private val perPhase = count(seconds, SecondsPerShard, 1)

    def setup(): Map[String, Double] = Map.empty

    def phase(p: Int): Unit =
      shards.slice((p - 1) * perPhase, p * perPhase).foreach { shard =>
        Curation.foreach { case (op, layer) =>
          val outDir = new File(work, s"out/${shard.getName}/$op").getAbsolutePath
          runOp(p, 0, op, layer, noGen, s"${shard.getName}/$op") {
            SparkEntry.queries(op)(spark, shard.getAbsolutePath)
              .write.mode("overwrite").parquet(outDir)
            None
          }
        }
      }
  }
}
