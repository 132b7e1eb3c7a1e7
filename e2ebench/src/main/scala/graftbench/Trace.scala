package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}

/** Spans around the benchmark's calls into graft, and the Spark-side counts
  * attributed to them.
  *
  * A span is opened around each call into a layer. Its id rides on the
  * job-local property [[Trace.Key]], so every Spark job the call starts is
  * tagged with the innermost open span of the calling thread. A
  * SparkListener folds job, stage and task metrics into per-span counters;
  * after the run the SQL status store adds per-execution plan metrics (scan
  * rows and bytes, broadcast bytes) through the same job tags. A catalog
  * listener, which runs on the thread that creates the table, attributes
  * every warehouse table to the span that built it. All of it is kept in
  * memory and written once, when the run ends. */
object Trace {
  val Key = "graftbench.span"

  final class Span(val id: Long, val parent: Long, val req: Long, val name: String,
                   val start: Double, var end: Double = 0.0)

  /** Counters for one span: task metrics summed over its jobs' tasks. */
  final class Stats {
    var jobs, stages, tasks, failedTasks = 0L
    var schedDelayMs, runMs, cpuMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, spill = 0L
    var scanRows, scanBytes, broadcastBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  }

  final case class TableEvent(name: String, span: Long, bytes: Long, files: Long)

  @volatile var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]
  val tables = new ConcurrentLinkedQueue[TableEvent]
  val stats = mutable.HashMap.empty[Long, Stats]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Double)]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  val execSpan = mutable.HashMap.empty[Long, Long]

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the listener's job and task times. */
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def now: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  /** Run `body` inside a span named `name`; a no-op wrapper when tracing
    * is off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val s = new Span(id, outer.headOption.map(_.id).getOrElse(0L),
        outer.headOption.map(_.req).getOrElse(id), name, now)
      val prev = sc.getLocalProperty(Key)
      stack.set(s :: outer)
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        s.end = now
        spans.add(s)
        stack.set(outer)
        sc.setLocalProperty(Key, prev)
      }
    }

  private def current: Long = stack.get.headOption.map(_.id).getOrElse(0L)

  /** Register the listeners and start recording spans. */
  def install(spark: SparkSession, warehouse: java.io.File): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog
      .addListener(new ExternalCatalogEventListener {
        override def onEvent(e: ExternalCatalogEvent): Unit = e match {
          case CreateTableEvent(_, name) if on =>
            val (bytes, files) = Runner.du(new java.io.File(warehouse, name.toLowerCase))
            tables.add(TableEvent(name, current, bytes, files))
          case _ =>
        }
      })
    on = true
  }

  private def statsOf(span: Long): Stats = stats.getOrElseUpdate(span, new Stats)

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tag = Option(js.properties).flatMap(p => Option(p.getProperty(Key)))
      tag.map(_.toLong).foreach { span =>
        jobSpan(js.jobId) = (span, js.time.toDouble)
        js.stageIds.foreach(stageSpan(_) = span)
        Option(js.properties.getProperty("spark.sql.execution.id"))
          .foreach(e => execSpan(e.toLong) = span)
        statsOf(span).jobs += 1
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobSpan.remove(je.jobId).foreach { case (span, start) =>
        statsOf(span).jobIntervals += ((start, je.time.toDouble))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(statsOf(_).stages += 1)

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      stageSpan.get(te.stageId).foreach { span =>
        val s = statsOf(span)
        s.tasks += 1
        if (te.reason != Success) s.failedTasks += 1
        val m = te.taskMetrics
        val info = te.taskInfo
        if (m != null) {
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
          s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          s.runMs += m.executorRunTime
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Fold the SQL status store's plan metrics into the span counters: scan
    * output rows and bytes, and broadcast sizes, per execution. Call after
    * the listener bus has drained. */
  def collectSqlMetrics(spark: SparkSession): Unit = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    execSpan.foreach { case (exec, span) =>
      val values = try store.executionMetrics(exec) catch { case _: Throwable => Map.empty[Long, String] }
      val graph = try Some(store.planGraph(exec)) catch { case _: Throwable => None }
      graph.foreach(_.allNodes.foreach { node =>
        def metric(name: String): Long = node.metrics.filter(_.name == name)
          .flatMap(m => values.get(m.accumulatorId)).map(metricValue).sum
        val s = statsOf(span)
        if (node.name.startsWith("Scan ")) {
          s.scanRows += metric("number of output rows")
          s.scanBytes += metric("size of files read")
        }
        if (node.name.startsWith("BroadcastExchange")) s.broadcastBytes += metric("data size")
      })
    }
  }

  /** The total of a rendered SQL metric: a plain count ("1,234"), a size
    * ("12.5 MiB"), or the multi-task form whose first value line is the
    * total ("total (min, med, max ...)\n12.5 MiB (...)"). */
  def metricValue(text: String): Long = {
    val line = text.split("\n").map(_.trim).find(l => l.nonEmpty && l.head.isDigit).getOrElse("")
    val m = """^([\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?""".r.findFirstMatchIn(line)
    m.map { g =>
      val v = g.group(1).replace(",", "").toDouble
      val scale = Option(g.group(2)).map {
        case "B" => 1.0; case "KiB" => 1024.0; case "MiB" => 1048576.0
        case "GiB" => 1073741824.0; case _ => 1099511627776.0
      }.getOrElse(1.0)
      math.round(v * scale)
    }.getOrElse(0L)
  }
}
