package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One traced interval. `kind` is `op` (one measured operation of the
  * workload), `call` (a benchmark call into a layer) or `stage` (a Spark
  * stage attributed to a layer). Times are epoch milliseconds.
  */
final case class Span(id: Long, name: String, kind: String, start: Long,
    end: Long, parent: Long, runId: String)

/** One completed Spark stage, attributed to a layer. */
final case class StageRec(id: Long, layer: String, start: Long, end: Long, span: Long,
    metrics: Map[String, Double])

/** Spans, counts and Spark listener state of one traced run. Everything
  * stays in memory; [[Tracer.write]] dumps the spans when the run ends.
  *
  * The listeners are registered once per session by [[Tracer.install]].
  * Tracing is switched on and off by the workload (`on`), which records
  * the traced time windows; a stage or progress report counts when it
  * started inside one, however late the listener bus delivers it.
  */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  // layer -> metric -> value, for the benchmark's own call spans
  private val calls = mutable.Map.empty[String, mutable.Map[String, Double]]
  // sql execution id -> layer of the execution's write target ("" if none)
  private val execWrite = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val stageJob = mutable.Map.empty[Int, JobInfo]
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var terminated: Int = 0

  final class JobInfo(val id: Int, val start: Long, val layer: String,
      val span: Long, val exec: Long, val query: String,
      val batch: Long) {
    def streaming: Boolean = query != null
    var end: Long = -1L
  }

  private def nextId(): Long = ids.incrementAndGet()

  def on: Boolean = synchronized(windows.lastOption.exists(_._2 == Long.MaxValue))

  def on_=(b: Boolean): Unit = synchronized {
    val now = System.currentTimeMillis()
    if (b && !on) windows += ((now, Long.MaxValue))
    else if (!b && on) windows(windows.size - 1) = (windows.last._1, now)
  }

  def traced(t: Long): Boolean = synchronized(windows.exists(w => t >= w._1 && t <= w._2))

  /** Sum of `metric` over the traced stages of `layer`, or over its traced
    * call spans for `span_ms` and `calls`.
    */
  def get(layer: String, metric: String): Double = synchronized {
    calls.get(layer).flatMap(_.get(metric)).getOrElse(0.0) +
      stages.filter(s => s.layer == layer && traced(s.start))
        .map(_.metrics.getOrElse(metric, 0.0)).sum
  }

  /** Record one measured operation of the workload. */
  def op(name: String, start: Long, end: Long): Unit = synchronized {
    spans += Span(nextId(), name, "op", start, end, 0L, runId)
  }

  /** Operation and call spans, plus the traced stages as spans. */
  def allSpans: Seq[Span] = synchronized {
    spans.toList ++ stages.filter(s => traced(s.start)).map(s =>
      Span(s.id, s.layer, "stage", s.start, s.end, s.span, runId))
  }

  def finishedJobs: Seq[JobInfo] = synchronized(jobs.values.filter(_.end >= 0).toList)

  /** Wait (at most 10 s) until the listener has seen every job that
    * started in a traced window end, with its stages.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def pending = synchronized(jobs.values.exists(j => j.end < 0 && traced(j.start)))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Run `body` as a span named `layer`; Spark jobs it starts carry the
    * layer and span id as local properties, so their stages are
    * attributed to it and parented under it.
    */
  def span[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    val id = nextId()
    sc.setLocalProperty(Tracer.LayerKey, layer)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.LayerKey, prevLayer)
      sc.setLocalProperty(Tracer.SpanKey, prevSpan)
      if (on) synchronized {
        spans += Span(id, layer, "call", t0, t1, 0L, runId)
        val m = calls.getOrElseUpdate(layer, mutable.Map.empty)
        m("span_ms") = m.getOrElse("span_ms", 0.0) + (t1 - t0)
        m("calls") = m.getOrElse("calls", 0.0) + 1
      }
    }
  }

  /** Layer of a stage: the write target of its SQL execution first (the
    * program's merge delta, minor-compaction rewrite, DLQ or major
    * compaction), then the stage kind inside a streaming micro-batch
    * (state store vs source scan), then the benchmark's own call tag.
    */
  private def classify(job: JobInfo, st: StageInfo): String = {
    val rdds = st.rddInfos.map(_.name).toSet
    val write = Seq(job.exec, execRoot.getOrElse(job.exec, job.exec))
      .flatMap(execWrite.get).find(_.nonEmpty).getOrElse("")
    val scans = rdds.contains("FileScanRDD")
    if (write == "lake.merge" && job.streaming && scans) "job.refetch"
    else if (write.nonEmpty) write
    else if (job.streaming) {
      if (rdds.contains("StateStoreRDD")) "dedup.state"
      else if (scans) "dedup.map"
      else "job.refetch"
    } else Option(job.layer).filter(_.nonEmpty).getOrElse("other")
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
        execWrite(s.executionId) = Tracer.writeLayer(s.physicalPlanDescription)
      }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      def prop(k: String) = Option(p.getProperty(k))
      val batch = prop("spark.job.description")
        .flatMap(d => Tracer.BatchRe.findFirstMatchIn(d)).map(_.group(1).toLong)
        .getOrElse(-1L)
      val info = new JobInfo(e.jobId, e.time, prop(Tracer.LayerKey).orNull,
        prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("sql.streaming.queryId").orNull, batch)
      jobs(e.jobId) = info
      e.stageIds.foreach(s => stageJob(s) = info)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo
      val tm = st.taskMetrics
      Tracer.this.synchronized(stageJob.get(st.stageId).foreach { job =>
        val t0 = st.submissionTime.getOrElse(0L)
        val t1 = st.completionTime.getOrElse(t0)
        stages += StageRec(nextId(), classify(job, st), t0, t1, job.span, Map(
          "wall_ms" -> (t1 - t0).toDouble,
          "run_ms" -> tm.executorRunTime.toDouble,
          "cpu_ms" -> tm.executorCpuTime / 1e6,
          "gc_ms" -> tm.jvmGCTime.toDouble,
          "shuffle_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
          "bytes_read" -> tm.inputMetrics.bytesRead.toDouble,
          "rows_in" -> tm.inputMetrics.recordsRead.toDouble,
          "bytes_written" -> tm.outputMetrics.bytesWritten.toDouble))
      })
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated += 1
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
  }

  /** Wait until the listener bus has delivered `n` query terminations,
    * so every progress report of a finished query is in.
    */
  def awaitTerminated(n: Int, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Every micro-batch's progress report, with whether its trigger
    * started in a traced window.
    */
  def progressSnapshot: Seq[(org.apache.spark.sql.streaming.StreamingQueryProgress, Boolean)] =
    synchronized(progress.toList).map(p =>
      p -> traced(java.time.Instant.parse(p.timestamp).toEpochMilli))

  /** Register the listeners on `spark`, once per session: the streaming
    * progress listener always (it only keeps the engine's own progress
    * reports), the stage listener only for a traced run.
    */
  def install(spark: SparkSession, stages: Boolean): Unit = {
    spark.streams.addListener(queryListener)
    if (stages) spark.sparkContext.addSparkListener(listener)
  }

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path,
      allSpans.sortBy(_.start).map(Bench.json).mkString("", "\n", "\n"))
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"
  private val BatchRe = """batch = (\d+)""".r
  // the write node's target in a formatted physical plan
  private val WriteRe = """Arguments: (file:[^,\s]+)""".r

  /** Layer owning a SQL execution's write target, from its physical plan:
    * the lake merge writes `data/vN/delta`, minor compaction
    * `data/vN/rewrite`, major compaction `data/vN`, the DLQ its own path.
    */
  def writeLayer(plan: String): String =
    WriteRe.findFirstMatchIn(plan).map(_.group(1)) match {
      case Some(p) if p.endsWith("/delta") => "lake.merge"
      case Some(p) if p.endsWith("/rewrite") => "lake.minor_compact"
      case Some(p) if p.matches(".*/data/v\\d+") => "lake.compact"
      case Some(p) if p.contains("dlq") => "job.dlq"
      case _ => ""
    }

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
