package perfbench

import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable

/** `replay`: closed, pull-based replay of a generated parquet change log
  * with `CdcJob.runToCompletion` (skinny carry, a few byte-bounded
  * micro-batches), ending with the converged final-state read. The log is
  * replayed again and again, each time into a fresh table and checkpoint,
  * until the JVM's measuring budget is spent.
  */
object Replay {
  /** Micro-batch byte bound, as a share of the log's bytes: two batches
    * (a segment file is the unit, so the bound sits between half the log
    * and half plus one segment).
    */
  val BatchShare = 0.6

  def logConfig(a: Args, seed: Long): ChangeLogGenerator.Config =
    ChangeLogGenerator.Config(
      nEvents = if (a.small) 20000L else 150000L * a.nproc,
      nRepos = 200, pathsPerRepo = 50, zipfExponent = 2.0,
      dupFraction = 0.02, reorderWindow = 64, deleteFraction = 0.08,
      driftAt1 = 0.5, driftAt2 = 0.85, numSegments = 8, seed = seed)

  final case class Log(dir: Path, batchBytes: Long, oracle: Bench.KeyShas)

  def generate(spark: SparkSession, cfg: ChangeLogGenerator.Config, dir: Path): Log = {
    ChangeLogGenerator.writeSegments(spark, dir.toString, cfg)
    Bench.phase("segments written")
    val oracle = Bench.keyShas(ChangeLogGenerator.oracleFinalState(spark, cfg).toDF())
    Log(dir, (Bench.dirBytes(dir) * BatchShare).toLong, oracle)
  }

  /** One replay into a fresh table: returns its wall ms, or None if it
    * threw. Checks the final state against the oracle outside the timed
    * window; a traced replay adds its table's shape to `facts`.
    */
  def once(spark: SparkSession, run: Run, tr: Tracer, log: Log, name: String,
      traced: Boolean, facts: mutable.Map[String, Double]): Option[Double] = {
    val dir = run.a.work.resolve(name)
    val table = dir.resolve("table")
    val job = CdcJob(spark, CdcJobConfig(
      logDir = log.dir.toString, tablePath = table.toString,
      checkpointId = "perfbench", checkpointDir = dir.resolve("ckpt").toString,
      maxBytesPerTrigger = Some(log.batchBytes)))
    val before = tr.progressSnapshot.size
    val ended = tr.terminated + 1
    tr.on = traced
    val t0 = Bench.millis()
    val res = run.attempt(s"replay $name") {
      job.runToCompletion()
      tr.span(spark, "lake.resolve")(Bench.keyShas(job.lake.read()))
    }
    val t1 = Bench.millis()
    tr.on = false
    if (traced) tr.op("op.replay", t0, t1)
    tr.awaitTerminated(ended)
    res.map { state =>
      run.check(s"replay $name final state", Bench.diff(state, log.oracle).isEmpty,
        Bench.diff(state, log.oracle).getOrElse(""))
      tr.progressSnapshot.drop(before).map(_._1).filter(_.numInputRows > 0)
        .foreach(p => run.sample("batch_ms", p.durationMs.get("triggerExecution").doubleValue))
      if (traced) {
        val written = facts.getOrElse("lake.merge.files_written", 0.0)
        facts ++= Layers.tableFacts(job.lake)
        facts("lake.merge.files_written") = written + Layers.deltaFilesAfter(table, -1L)
      }
      Bench.deleteTree(dir)
      (t1 - t0).toDouble
    }
  }

  /** Replay the log again and again until `seconds` are spent (at least
    * `min` times); `tag` names the samples.
    */
  private def measure(spark: SparkSession, run: Run, tr: Tracer, log: Log,
      events: Long, seconds: Double, min: Int, tag: String,
      facts: mutable.Map[String, Double]): Long = {
    val a = run.a
    var gcTraced = 0L
    val deadline = Bench.millis() + (seconds * 1000).toLong
    var i = 0
    while (i < min || Bench.millis() < deadline) {
      val traced = a.trace && tag == "" && i % 2 == 1
      val g0 = Bench.gcMs()
      once(spark, run, tr, log, s"r$tag$i", traced, facts).foreach { ms =>
        run.sample((if (traced) "replay_ms_traced" else "replay_ms") + tag, ms)
        if (!traced) run.sample("eps" + tag, events / (ms / 1000.0))
      }
      if (traced) gcTraced += Bench.gcMs() - g0
      i += 1
    }
    gcTraced
  }

  /** A session with the shipped session's effective settings and one
    * worker thread: what the CLI builds with `SPARK_GRAFT_CPUS=1`.
    */
  private def singleThreaded(spark: SparkSession): SparkSession = {
    val conf = spark.sparkContext.getConf.getAll.filterNot { case (k, _) =>
      Set("spark.master", "spark.app.id", "spark.app.startTime", "spark.driver.port",
        "spark.executor.id", "spark.driver.host")(k)
    }
    spark.stop()
    val b = SparkSession.builder().master("local[1]")
    conf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", "1").getOrCreate()
  }

  def apply(spark: SparkSession, run: Run, tr: Tracer, ready: () => Unit): Unit = {
    val a = run.a
    val log = generate(spark, logConfig(a, a.seed), a.work.resolve("log"))
    Bench.phase("log generated")
    // warm-up (JIT, codegen, file caches): one replay, checked like the
    // measured ones but not kept; its progress reports count the log's
    // events, duplicates included
    val before = tr.progressSnapshot.size
    val facts = mutable.Map.empty[String, Double]
    once(spark, run, tr, log, "warm", traced = false, facts)
    val events = tr.progressSnapshot.drop(before).map(_._1.numInputRows).sum
    run.samples.clear()
    ready()
    Bench.phase("set up")
    run.values("events") = events
    run.values("batch_bytes") = log.batchBytes
    run.values("keys_final") = log.oracle.size

    // half the budget at nproc threads, half at one thread; the same log
    val gc0 = Bench.gcMs()
    val gcTraced = measure(spark, run, tr, log, events, a.seconds / 2, 4, "", facts)
    run.values("gc_ms") = Bench.gcMs() - gc0
    if (a.trace) {
      val overhead = Bench.median(run.samples.getOrElse("replay_ms_traced", Nil).toSeq) /
        Bench.median(run.samples.getOrElse("replay_ms", Nil).toSeq) - 1.0
      Layers.report(run, tr, facts.toMap, gcTraced.toDouble, overhead)
    }
    Bench.phase(s"measured at ${a.nproc} threads")
    val one = singleThreaded(spark)
    tr.install(one, stages = false)
    measure(one, run, tr, log, events, a.seconds / 2, 1, "_1t", facts)
    Bench.phase("measured at 1 thread")
  }
}
