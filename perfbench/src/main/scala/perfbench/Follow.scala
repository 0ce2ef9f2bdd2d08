package perfbench

import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `follow`: open loop at a fixed arrival rate. Pre-generated JSONL
  * segments (the Kafka+JSON shape, with a known share of malformed
  * lines) land in the watched directory on a fixed schedule that does
  * not slow when the engine slows, each by an mtime stamp and an atomic
  * rename, while `CdcJob.runFollowing` tails the directory
  * (`format=jsonl`, `codec=json`, DLQ on) with a short ProcessingTime
  * trigger. A segment's freshness runs from its due time to the end of
  * the micro-batch whose cumulative consumed rows cover it; that
  * progress report comes after the batch's lake commit.
  */
object Follow {
  val PeriodMs = 250L
  val TriggerMs = 200L
  val IdleMs = 1000L
  val WarmSegments = 8
  val MalformedEvery = 50

  def rowsPerSegment(a: Args): Long = if (a.small) 100L else 75L * a.nproc

  def apply(spark: SparkSession, run: Run, tr: Tracer, ready: () => Unit): Unit = {
    val a = run.a
    val timed = math.max(8, (a.seconds * 1000 / PeriodMs).toInt)
    val nSeg = WarmSegments + timed
    val cfg = ChangeLogGenerator.Config(
      nEvents = rowsPerSegment(a) * nSeg, nRepos = 200, pathsPerRepo = 50,
      zipfExponent = 2.0, numSegments = nSeg, seed = a.seed)
    val staging = a.work.resolve("staging")
    ChangeLogGenerator.writeJsonlSegments(spark, staging.toString, cfg, MalformedEvery)
    Bench.phase("segments generated")
    val segs = Bench.children(staging).filter(_.getFileName.toString.startsWith("seg="))
    def lines(seg: Path): Seq[String] =
      Bench.children(seg).filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala)
    val segLines = segs.map(lines)
    val segRows = segLines.map(_.size.toLong)
    // malformed lines are keyed by their text, so a redelivered bad line
    // reaches the DLQ once
    val expectedDlq = segLines.flatten.filter(_.startsWith("{\"oops\":")).distinct.size
    val wellFormed = ChangeLogGenerator.deliveryStream(spark, cfg).select("ev.*")
      .filter(pmod(col("lsn"), lit(MalformedEvery)) =!= lit(MalformedEvery - 1))

    val watched = a.work.resolve("log")
    Files.createDirectories(watched)
    val job = CdcJob(spark, CdcJobConfig(
      logDir = watched.toString, tablePath = a.work.resolve("table").toString,
      checkpointDir = a.work.resolve("ckpt").toString, checkpointId = "perfbench",
      dlqDir = Some(a.work.resolve("dlq").toString), format = "jsonl", codec = "json",
      maxFilesPerTrigger = 100000))
    val oracle = Bench.keyShas(job.oracleOf(wellFormed))
    Bench.phase("oracle computed")

    def land(seg: Path, due: Long): Unit = {
      Bench.children(seg).foreach(_.toFile.setLastModified(due))
      Files.move(seg, watched.resolve(seg.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }

    val ended = tr.terminated + 1
    val follower = new Thread(() => {
      run.attempt("runFollowing")(job.runFollowing(TriggerMs, Some(IdleMs)))
      ()
    }, "perfbench-follow")
    follower.start()
    val warmRows = segRows.take(WarmSegments).sum
    val t0 = Bench.millis()
    segs.take(WarmSegments).zipWithIndex.foreach { case (s, i) => land(s, t0 - 1000 + i) }
    def consumed = tr.progressSnapshot.map(_._1.numInputRows).sum
    while (consumed < warmRows && follower.isAlive && Bench.millis() - t0 < 120000) Thread.sleep(20)
    ready()
    Bench.phase("set up")

    // the schedule: segment k is due at base + k * period, whatever the engine does
    val traceFrom = if (a.trace) (segs.size - WarmSegments) / 2 else Int.MaxValue
    val base = Bench.millis() + 100
    val gc0 = Bench.gcMs()
    var gcAtTrace = gc0
    var versionAtTrace = -1L
    val dues = segs.drop(WarmSegments).indices.map(k => base + k * PeriodMs)
    segs.drop(WarmSegments).zip(dues).zipWithIndex.foreach { case ((s, due), k) =>
      val wait = due - Bench.millis()
      if (wait > 0) Thread.sleep(wait)
      if (k == traceFrom) {
        gcAtTrace = Bench.gcMs()
        versionAtTrace = job.lake.currentVersion.getOrElse(-1L)
        tr.on = true
      }
      land(s, due)
      run.sample("lateness_ms", (Bench.millis() - due).toDouble)
    }
    Bench.phase("schedule done")
    follower.join(180000)
    Bench.phase("follower stopped")
    tr.on = false
    tr.awaitTerminated(ended)
    val gcEnd = Bench.gcMs()
    run.values("gc_ms") = gcEnd - gc0

    // freshness from the engine's own progress reports
    val prog = tr.progressSnapshot.filter(_._1.numInputRows > 0)
    var cum = 0L
    val commits = prog.map { case (p, traced) =>
      cum += p.numInputRows
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue
      (cum, end, traced, p)
    }
    var rows = warmRows
    dues.zipWithIndex.foreach { case (due, k) =>
      rows += segRows(WarmSegments + k)
      commits.find(_._1 >= rows) match {
        case Some((_, end, _, _)) =>
          run.sample(if (k >= traceFrom) "freshness_ms_traced" else "freshness_ms",
            (end - due).toDouble)
        case None => run.check(s"segment $k consumed", ok = false, "no batch covers it")
      }
    }
    val timedBatches = commits.filter(_._2 >= base).map(_._4)
    val busyS = timedBatches.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1000
    if (busyS > 0) run.values("engine_eps") = timedBatches.map(_.numInputRows).sum / busyS
    run.values("offered_eps") = segRows.drop(WarmSegments).sum * 1000.0 / (timed * PeriodMs)
    run.values("segments_timed") = timed
    run.values("period_ms") = PeriodMs
    run.values("trigger_ms") = TriggerMs
    run.values("expected_dlq_rows") = expectedDlq

    run.attempt("follow final read") {
      val state = tr.span(spark, "check")(Bench.keyShas(job.lake.read()))
      run.check("follow final state", Bench.diff(state, oracle).isEmpty,
        Bench.diff(state, oracle).getOrElse(""))
      val dlq = spark.read.parquet(a.work.resolve("dlq").toString).count()
      run.check("follow DLQ rows", dlq == expectedDlq, s"$dlq DLQ rows, expected $expectedDlq")
      run.values("dlq_rows") = dlq
    }
    if (a.trace) {
      val tracedCommits = commits.filter(_._3)
      if (tracedCommits.nonEmpty) tr.op("op.follow", dues(traceFrom), tracedCommits.last._2)
      val facts = Layers.tableFacts(job.lake) ++ Map("lake.merge.files_written" ->
        Layers.deltaFilesAfter(a.work.resolve("table"), versionAtTrace))
      val overhead = Bench.median(run.samples.getOrElse("freshness_ms_traced", Nil).toSeq) /
        Bench.median(run.samples.getOrElse("freshness_ms", Nil).toSeq) - 1.0
      Layers.report(run, tr, facts, (gcEnd - gcAtTrace).toDouble, overhead)
    }
  }
}
