package graft.job

import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Cumulative streaming counters — the analog of the reference's
  * Prometheus endpoint (`internal/worker.go:93-108`).
  */
class MetricsListener extends StreamingQueryListener {
  val totalBatches = new AtomicLong(0L)
  // rows the source consumed, before dedup (the replay's events)
  val totalRows = new AtomicLong(0L)
  val lastBatchId = new AtomicLong(-1L)

  private val terminated = new CountDownLatch(1)

  /** Prometheus text rendering ≙ the reference's promhttp route
    * (`internal/worker.go:106-108`).
    */
  def prometheusText: String =
    s"""# TYPE graft_micro_batches_total counter
       |graft_micro_batches_total ${totalBatches.get}
       |# TYPE graft_input_rows_total counter
       |graft_input_rows_total ${totalRows.get}
       |# TYPE graft_last_batch_id gauge
       |graft_last_batch_id ${lastBatchId.get}
       |""".stripMargin

  /** Block until a query's termination event has been delivered. The
    * listener bus is asynchronous, but it delivers a query's events in
    * order, so after this returns true every progress event of that
    * query is already counted.
    */
  def awaitTerminated(timeoutMs: Long): Boolean =
    terminated.await(timeoutMs, TimeUnit.MILLISECONDS)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.countDown()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || dur > 0) {
      totalBatches.incrementAndGet()
      totalRows.addAndGet(p.numInputRows)
      lastBatchId.set(p.batchId)
    }
  }
}
