package perfbench

import graft.lake.LakeTable
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.nio.file.Path

/** Per-layer metrics of a traced run, from the tracer's stage spans, the
  * benchmark's own spans around its calls, the engine's streaming
  * progress reports and the lake table's metadata.
  */
object Layers {

  /** Every per-layer metric, in report order. A layer a workload does not
    * exercise reports 0.
    */
  val Names: Seq[String] = Seq(
    "job.plan_ms", "job.offsets_ms", "job.wal_ms", "job.batches",
    "job.dlq.wall_ms",
    "dedup.map.wall_ms", "dedup.map.cpu_ms", "dedup.map.offcpu_ms",
    "dedup.map.gc_ms", "dedup.map.shuffle_bytes", "dedup.map.rows_in",
    "dedup.state.wall_ms", "dedup.state.cpu_ms", "dedup.state.offcpu_ms",
    "dedup.state.update_ms", "dedup.state.commit_ms", "dedup.state.rows",
    "dedup.state.mem_bytes", "dedup.winner_ratio",
    "job.refetch.wall_ms", "job.refetch.rows", "job.refetch.bytes_read",
    "lake.merge.wall_ms", "lake.merge.cpu_ms", "lake.merge.offcpu_ms",
    "lake.merge.shuffle_bytes", "lake.merge.bytes_written",
    "lake.merge.files_written",
    "lake.minor_compact.wall_ms", "lake.minor_compact.bytes_rewritten",
    "lake.files_per_bucket_max", "lake.files_per_bucket_mean",
    "lake.commit.wall_ms", "lake.manifest_chain_len", "lake.snapshots",
    "lake.resolve.wall_ms", "lake.resolve.shuffle_bytes", "lake.resolve.bytes_read",
    "lake.lookup.wall_ms", "lake.lookup.files_read", "lake.lookup.bytes_read",
    "lake.change_feed.wall_ms", "lake.time_travel.wall_ms",
    "lake.compact.wall_ms", "lake.compact.bytes_rewritten",
    "jvm.gc_ms", "trace.coverage", "trace.overhead")

  /** Layers whose time the benchmark measures around its own call (span
    * wall, driver planning included) rather than as Spark stage time.
    */
  private val CallLayers = Set("lake.resolve", "lake.lookup", "lake.change_feed",
    "lake.time_travel", "lake.compact")

  /** Table shape facts: files per bucket, manifest chain, snapshots. */
  def tableFacts(lake: LakeTable): Map[String, Double] =
    lake.currentSnapshot match {
      case None => Map.empty
      case Some(s) =>
        val per = lake.entriesOf(s).values.map(_.size.toDouble).toSeq
        Map(
          "lake.files_per_bucket_max" -> (if (per.isEmpty) 0.0 else per.max),
          "lake.files_per_bucket_mean" -> (if (per.isEmpty) 0.0 else per.sum / per.size),
          "lake.manifest_chain_len" -> s.manifests.size.toDouble,
          "lake.snapshots" -> (s.version + 1).toDouble)
    }

  /** Delta files the merges wrote into `table` at versions after `afterVersion`. */
  def deltaFilesAfter(table: Path, afterVersion: Long): Double =
    Bench.countFiles(table.resolve("data"), f =>
      f.getFileName.toString.endsWith(".parquet") &&
        f.toString.matches(".*/data/v(\\d+)/delta/.*") && {
          val v = f.toString.replaceAll(".*/data/v(\\d+)/delta/.*", "$1").toLong
          v > afterVersion
        }).toDouble

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Fill `run.layers`. `facts` carries what only the workload knows
    * (table shape, files read by lookups, delta files written);
    * `overhead` is traced vs untraced end-to-end, as measured.
    */
  def report(run: Run, tr: Tracer, facts: Map[String, Double],
      gcMs: Double, overhead: Double): Unit = {
    tr.settle()
    val prog = tr.progressSnapshot.collect { case (p, true) => p }
    def g(layer: String, m: String) = tr.get(layer, m)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Names.foreach(n => out(n) = 0.0)

    // micro-batch driver phases, from the engine's own progress reports
    out("job.plan_ms") = prog.map(dur(_, "queryPlanning")).sum
    out("job.offsets_ms") = prog.map(p => dur(p, "latestOffset") + dur(p, "getBatch")).sum
    out("job.wal_ms") = prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum
    out("job.batches") = prog.count(_.numInputRows > 0).toDouble
    out("job.dlq.wall_ms") = g("job.dlq", "wall_ms")

    for (l <- Seq("dedup.map", "dedup.state", "lake.merge")) {
      out(s"$l.wall_ms") = g(l, "wall_ms")
      out(s"$l.cpu_ms") = g(l, "cpu_ms")
      out(s"$l.offcpu_ms") = math.max(0.0, g(l, "run_ms") - g(l, "cpu_ms"))
    }
    out("dedup.map.gc_ms") = g("dedup.map", "gc_ms")
    out("dedup.map.shuffle_bytes") = g("dedup.map", "shuffle_bytes")
    out("dedup.map.rows_in") = g("dedup.map", "rows_in")
    val states = prog.flatMap(_.stateOperators.toSeq)
    out("dedup.state.update_ms") = states.map(_.allUpdatesTimeMs.toDouble).sum
    out("dedup.state.commit_ms") = states.map(_.commitTimeMs.toDouble).sum
    prog.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      out("dedup.state.rows") = s.numRowsTotal.toDouble
      out("dedup.state.mem_bytes") = s.memoryUsedBytes.toDouble
    }
    val inRows = prog.map(_.numInputRows.toDouble).sum
    if (inRows > 0)
      out("dedup.winner_ratio") = states.map(_.numRowsUpdated.toDouble).sum / inRows

    out("job.refetch.wall_ms") = g("job.refetch", "wall_ms")
    out("job.refetch.rows") = g("job.refetch", "rows_in")
    out("job.refetch.bytes_read") = g("job.refetch", "bytes_read")
    out("lake.merge.shuffle_bytes") = g("lake.merge", "shuffle_bytes")
    out("lake.merge.bytes_written") = g("lake.merge", "bytes_written")
    out("lake.minor_compact.wall_ms") = g("lake.minor_compact", "wall_ms")
    out("lake.minor_compact.bytes_rewritten") = g("lake.minor_compact", "bytes_written")

    // commit = driver time inside a merge not covered by any Spark job:
    // per streaming batch, its addBatch time minus its jobs; per
    // benchmark merge call, the call's span minus its jobs
    val jobs = tr.finishedJobs
    val byBatch = jobs.filter(_.streaming).groupBy(j => (j.query, j.batch))
    val streamCommit = prog.map { p =>
      val iv = byBatch.getOrElse((p.id.toString, p.batchId), Nil).map(j => (j.start, j.end))
      math.max(0.0, dur(p, "addBatch") - Tracer.unionMs(iv))
    }.sum
    val bySpan = jobs.groupBy(_.span)
    val callCommit = tr.allSpans.filter(s => s.kind == "call" && s.name == "lake.merge").map { s =>
      val iv = bySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end))
      math.max(0.0, (s.end - s.start) - Tracer.unionMs(iv).toDouble)
    }.sum
    out("lake.commit.wall_ms") = streamCommit + callCommit

    for (l <- CallLayers) out(s"$l.wall_ms") = g(l, "span_ms")
    out("lake.resolve.shuffle_bytes") = g("lake.resolve", "shuffle_bytes")
    out("lake.resolve.bytes_read") = g("lake.resolve", "bytes_read")
    out("lake.lookup.bytes_read") = g("lake.lookup", "bytes_read")
    out("lake.compact.bytes_rewritten") = g("lake.compact", "bytes_written")

    facts.foreach { case (k, v) => out(k) = v }

    // coverage: share of the traced operations' wall time covered by an
    // attributed stage or call span, plus the streaming driver phases
    // (planning, offsets, WAL, commit) that run outside any stage
    val spans = tr.allSpans
    val windows = spans.filter(_.kind == "op").map(s => (s.start, s.end))
    val windowMs = windows.map(w => (w._2 - w._1).toDouble).sum
    val attributed = spans.filter(s => s.kind != "op" && s.name != "other")
      .flatMap(s => windows.map(w => (math.max(s.start, w._1), math.min(s.end, w._2))))
    val driverMs = out("job.plan_ms") + out("job.offsets_ms") + out("job.wal_ms") +
      streamCommit
    if (windowMs > 0)
      out("trace.coverage") = math.min(1.0, (Tracer.unionMs(attributed) + driverMs) / windowMs)
    out("jvm.gc_ms") = gcMs
    out("trace.overhead") = overhead
    run.layers ++= out
    run.values("trace_windows_ms") = windowMs
    run.values("trace_unattributed_stage_ms") = g("other", "wall_ms")
  }
}
