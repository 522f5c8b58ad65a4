package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Epoch nanoseconds from the monotonic clock, comparable with the epoch
  * milliseconds Spark stamps on its listener events.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def now: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
}

final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val start: Long) {
  var end: Long = 0L
  def dur: Long = end - start
}

/** Spark work attributed to one span. Times in the units Spark reports. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, outputBytes, resultBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def +=(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; resultBytes += o.resultBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }

  def metrics: Seq[(String, Double)] = Seq(
    "spark.analysis_s" -> analysisMs / 1e3,
    "spark.optimization_s" -> optimizationMs / 1e3,
    "spark.planning_s" -> planningMs / 1e3,
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.scheduler_delay_s" -> schedDelayMs / 1e3,
    "spark.task_run_s" -> taskRunMs / 1e3,
    "spark.task_cpu_s" -> taskCpuNs / 1e9,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.shuffle_records" -> shuffleRecords.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.input_bytes" -> inputBytes.toDouble,
    "spark.output_bytes" -> outputBytes.toDouble,
    "spark.result_bytes" -> resultBytes.toDouble)
}

/** Listens to jobs, stages, tasks and SQL executions, and attributes each
  * to the innermost benchmark span that was open on the submitting thread:
  * every span adds the job tag `pbspan-<id>` while it is open. Planner
  * phase times come from the query of each finished SQL execution.
  */
final class SparkEvents extends SparkListener {
  final case class Job(start: Long, var end: Long, span: Int)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val execSpan = mutable.HashMap[Long, Int]()
  val bySpan = mutable.HashMap[Int, SparkWork]()

  private def work(span: Int) = bySpan.getOrElseUpdate(span, new SparkWork)

  private def spanOfTags(tags: Iterable[String]): Int =
    tags.collect { case t if t.startsWith(Tracer.TagPrefix) => t.stripPrefix(Tracer.TagPrefix).toInt }
      .foldLeft(0)(math.max)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val fromTags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(s => spanOfTags(s.split(",").toSeq)).getOrElse(0)
    val span =
      if (fromTags > 0) fromTags
      else props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSpan.get(id.toLong)).getOrElse(0)
    jobs(e.jobId) = Job(e.time * 1000000L, 0L, span)
    if (span > 0) {
      work(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(work(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work(span)
      val info = e.taskInfo
      w.tasks += 1
      w.taskRunMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.resultBytes += m.resultSize
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val span = spanOfTags(s.jobTags)
      if (span > 0) execSpan(s.executionId) = span
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      for (span <- execSpan.get(e.executionId); qe <- SparkInternals.queryExecution(e)) {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
        val w = work(span)
        w.analysisMs += ms("analysis")
        w.optimizationMs += ms("optimization")
        w.planningMs += ms("planning")
      }
    }
    case _ =>
  }
}

object Tracer {
  val TagPrefix = "pbspan-"
}

/** Spans around the benchmark's calls into each program layer. Spans stay
  * in memory; [[Tracer.report]] computes self times and Spark work per
  * layer, and the span file is written once at the end of the run.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.LinkedHashMap[String, Double]()
  private var stack: List[Span] = Nil
  private var session: Option[(SparkSession, SparkEvents)] = None
  val events = mutable.ArrayBuffer[SparkEvents]()

  def on: Boolean = session.isDefined

  /** Start recording: register a fresh listener on `spark`. */
  def start(spark: SparkSession): Unit = {
    val ev = new SparkEvents
    spark.sparkContext.addSparkListener(ev)
    events += ev
    session = Some((spark, ev))
  }

  /** Stop recording and detach the listener, after draining the bus. */
  def stop(): Unit = session.foreach { case (spark, ev) =>
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ev)
    session = None
  }

  def span[T](name: String)(body: => T): T = session match {
    case None => body
    case Some((spark, _)) =>
      val id = spans.size + 1
      val s = new Span(id, name, stack.headOption.map(_.id).getOrElse(0),
        stack.lastOption.map(_.id).getOrElse(id), Clock.now)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.addJobTag(Tracer.TagPrefix + id)
      try body
      finally {
        s.end = Clock.now
        sc.removeJobTag(Tracer.TagPrefix + id)
        stack = stack.tail
      }
  }

  def add(counter: String, v: Double): Unit =
    if (on) counters(counter) = counters.getOrElse(counter, 0.0) + v

  def set(counter: String, v: Double): Unit = if (on) counters(counter) = v

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }

  /** Per-layer metrics and the per-span rows of the span file. */
  def report(): (Seq[(String, Double)], Seq[Map[String, Any]]) = {
    val work = mutable.HashMap[Int, SparkWork]()
    val jobs = mutable.ArrayBuffer[(Long, Long)]()
    for (ev <- events) {
      ev.bySpan.foreach { case (id, w) => work.getOrElseUpdate(id, new SparkWork) += w }
      jobs ++= ev.jobs.values.filter(j => j.span > 0 && j.end > 0).map(j => (j.start, j.end))
    }
    val children = spans.groupBy(_.parent)
    def selfNs(s: Span): Long =
      s.dur - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)

    val layerSelf = mutable.LinkedHashMap[String, Double]()
    val layerJobs = mutable.LinkedHashMap[String, Double]()
    val total = new SparkWork
    val rows = spans.map { s =>
      val self = selfNs(s)
      val w = work.getOrElse(s.id, new SparkWork)
      total += w
      layerSelf(s.name) = layerSelf.getOrElse(s.name, 0.0) + self / 1e9
      layerJobs(s.name) = layerJobs.getOrElse(s.name, 0.0) + w.jobs
      val isOp = s.parent == 0 && s.name.startsWith("op:")
      val driver = if (isOp) s.dur - covered(jobs.toSeq, s.start, s.end) else 0L
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self / 1e9,
        "driver_s" -> (if (isOp) driver / 1e9 else null)) ++ w.metrics.toMap
    }.toSeq
    // An op root's self time is wall time that no layer span covers: work
    // the layer metrics do not account for.
    val ops = spans.filter(s => s.parent == 0 && s.name.startsWith("op:"))
    val unattributed = ops.map(selfNs).sum.toDouble / math.max(ops.map(_.dur).sum, 1L)
    val driverS = ops.map(o => o.dur - covered(jobs.toSeq, o.start, o.end)).sum / 1e9

    def s(name: String) = layerSelf.getOrElse(name, 0.0)
    def c(name: String) = counters.getOrElse(name, 0.0)
    val incoming = c("store.rows_inserted") + c("store.rows_rotated") + c("store.rows_unchanged")
    val metrics = Seq(
      "etl.load_s" -> s("etl.load"),
      "etl.load_jobs" -> layerJobs.getOrElse("etl.load", 0.0),
      "etl.prep_s" -> s("etl.prep"),
      "etl.delta_s" -> s("etl.delta"),
      "etl.rows_in" -> c("etl.rows_in"),
      "model.wrap_s" -> s("model.wrap"),
      "model.rows_hashed" -> c("model.rows_hashed"),
      "store.upsert_s" -> s("store.upsert"),
      "store.persist_s" -> s("store.persist"),
      "store.compact_s" -> s("store.compact"),
      "store.open_s" -> s("store.open"),
      "store.rows_inserted" -> c("store.rows_inserted"),
      "store.rows_rotated" -> c("store.rows_rotated"),
      "store.rows_unchanged" -> c("store.rows_unchanged"),
      "store.useful_ratio" ->
        (if (incoming > 0) (c("store.rows_inserted") + c("store.rows_rotated")) / incoming else 0.0),
      "store.bytes_written" -> c("store.bytes_written"),
      "store.files_written" -> c("store.files_written"),
      "store.files_live" -> c("store.files_live"),
      "store.bytes_live" -> c("store.bytes_live"),
      "mql.parse_s" -> s("mql.parse"),
      "mql.compile_s" -> s("mql.compile"),
      "mql.find_s" -> s("mql.find"),
      "mql.result_rows" -> c("mql.result_rows"),
      "temporal.on_date_s" -> s("temporal.on_date"),
      "temporal.history_s" -> s("temporal.history"),
      "temporal.last_version_s" -> s("temporal.last_version"),
      "temporal.last_chain_s" -> s("temporal.last_chain"),
      "temporal.change_feed_s" -> s("temporal.change_feed"),
      "temporal.dfind_s" -> s("temporal.dfind"),
      "temporal.rows_out" -> c("temporal.rows_out"),
      "functions.pagerank_s" -> s("functions.pagerank"),
      "functions.label_prop_s" -> s("functions.label_prop"),
    ) ++ total.metrics ++ Seq(
      "spark.driver_s" -> driverS,
      "bench.unattributed_ratio" -> unattributed)
    (metrics, rows)
  }
}
