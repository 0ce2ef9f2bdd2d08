package perfbench

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import graft.lake.LakeTable
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sha2}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** `lake_rw`: closed loop, one client, straight on the `LakeTable` API.
  * Set-up builds a table through many `merge` commits until buckets sit at
  * the file budget. Each round then does one small `merge` of new LSNs, a
  * batch of Zipf-drawn `lookup`s (some keys absent or deleted), one full
  * `read()`, one `changeFeed` and one `readVersion`; one `compact()` ends
  * the run.
  */
object LakeRw {
  val Buckets = 16
  val PreMerges = 9
  val Lookups = 20
  val AbsentEvery = 10 // every 10th lookup asks for a key never written

  def preBatch(a: Args): Int = if (a.small) 500 else 500 * a.nproc
  def roundBatch(a: Args): Int = if (a.small) 100 else 200 * a.nproc

  private def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def apply(spark: SparkSession, run: Run, tr: Tracer, ready: () => Unit): Unit = {
    import spark.implicits._
    val a = run.a
    val maxEvents = PreMerges.toLong * preBatch(a) + 1000L * roundBatch(a)
    val cfg = ChangeLogGenerator.Config(nEvents = maxEvents, nRepos = 200,
      pathsPerRepo = 50, zipfExponent = 2.0, seed = a.seed)
    val tablePath = a.work.resolve("table")
    val lake = LakeTable(spark, tablePath.toString, ChangeEvent.keyCols, Buckets)
    lake.createIfAbsent(StructType(ChangeEvent.schema.fields.filter(f =>
      ChangeEvent.lakeCols.contains(f.name))))
    val oracleJob = CdcJob(spark, CdcJobConfig(logDir = "", tablePath = tablePath.toString,
      checkpointDir = ""))

    // the independent in-driver reducer the lookups and scans are checked
    // against: latest lsn per key, deletes drop the key
    val live = mutable.HashMap.empty[(String, String), (Long, String)]
    val applied = mutable.ArrayBuffer.empty[ChangeEvent]
    var next = 0L
    var batchId = 0L
    def batch(n: Int): Seq[ChangeEvent] = {
      val evs = (next until next + n).map(i => ChangeLogGenerator.eventAt(cfg, i))
      next += n
      evs
    }
    def reduce(evs: Seq[ChangeEvent]): Unit = {
      applied ++= evs
      evs.foreach { e =>
        val k = (e.repo, e.path)
        if (live.get(k).forall(_._1 < e.lsn))
          if (e.op == ChangeEvent.Delete) live.remove(k) else live(k) = (e.lsn, sha256(e.content))
      }
    }
    def merge(evs: Seq[ChangeEvent]): Unit = {
      lake.merge(spark.createDataset(evs).toDF(), "perfbench", batchId)
      batchId += 1
      reduce(evs)
    }
    (0 until PreMerges).foreach(_ => merge(batch(preBatch(a))))
    Bench.phase("table pre-built")

    val rng = new scala.util.Random(a.seed)
    var gc0 = Bench.gcMs()
    var gcTraced = 0L
    var versionAtTrace = Long.MaxValue
    var deadline = Long.MaxValue
    // round -1 is the warm-up (JIT, codegen, file caches): a few lookups
    // and a scan, checked but not kept
    var round = -1
    // a traced run traces rounds 1-4: with every bucket touched by each
    // merge, minor compaction comes every few merges, so four in a row
    // hold one; rounds 0 and 5 give the untraced baseline
    while (round < (if (a.trace) 6 else 2) || Bench.millis() < deadline) {
      if (round == 0) {
        run.samples.clear()
        ready()
        Bench.phase("set up")
        gc0 = Bench.gcMs()
        deadline = Bench.millis() + (a.seconds * 1000).toLong
      }
      val warm = round < 0
      val traced = a.trace && round >= 1 && round <= 4
      val sfx = if (traced) "_traced" else ""
      val g0 = Bench.gcMs()
      if (traced) versionAtTrace = math.min(versionAtTrace, lake.currentVersion.getOrElse(0L))
      tr.on = traced
      val r0 = Bench.millis()
      def timed[T](name: String, layer: String)(body: => T): Option[T] = {
        val t0 = System.nanoTime()
        val res = run.attempt(s"round $round $name")(tr.span(spark, layer)(body))
        if (res.isDefined) run.sample(name + sfx, (System.nanoTime() - t0) / 1e6)
        res
      }
      if (!warm) {
        val evs = batch(roundBatch(a))
        timed("merge_ms", "lake.merge")(
          lake.merge(spark.createDataset(evs).toDF(), "perfbench", batchId))
        batchId += 1
        reduce(evs)
      }
      (0 until (if (warm) 5 else Lookups)).foreach { j =>
        val key =
          if (j % AbsentEvery == AbsentEvery - 1) (s"org/absent-${rng.nextInt(1000)}", "src/none")
          else {
            val e = ChangeLogGenerator.eventAt(cfg, (rng.nextDouble() * next).toLong)
            (e.repo, e.path)
          }
        timed("lookup_ms", "lake.lookup")(
          lake.lookup(Seq(key._1, key._2)).select(sha2(col("content"), 256)).collect()
        ).foreach { rows =>
          val got = rows.map(_.getString(0)).toSeq
          val want = live.get(key).map(_._2).toSeq
          run.check(s"lookup $key", got == want, s"got $got, expected $want")
          if (traced) run.sample("lookup_files", filesInBucket(lake, key).toDouble)
        }
      }
      timed("scan_ms", "lake.resolve")(Bench.keyShas(lake.read())).foreach { state =>
        val want = live.map { case (k, (_, s)) => k -> s }.toMap
        run.check(s"round $round scan", Bench.diff(state, want).isEmpty,
          Bench.diff(state, want).getOrElse(""))
      }
      val v = lake.currentVersion.getOrElse(0L)
      if (!warm) {
        timed("change_feed_ms", "lake.change_feed")(noop(lake.changeFeed(v - 1, v)))
        timed("time_travel_ms", "lake.time_travel")(noop(lake.readVersion(v - 1)))
      }
      val r1 = Bench.millis()
      tr.on = false
      if (traced) {
        tr.op("op.round", r0, r1)
        gcTraced += Bench.gcMs() - g0
      }
      run.sample("round_ms" + sfx, (r1 - r0).toDouble)
      round += 1
    }
    run.values("gc_ms") = Bench.gcMs() - gc0
    run.values("rounds") = round
    run.values("round_batch") = roundBatch(a)
    val facts = Layers.tableFacts(lake)
    Bench.phase("measured")

    // one major compaction ends the run; space amplification is the
    // table's bytes before it over the bytes of the compacted live state
    val before = Bench.dirBytes(tablePath)
    tr.on = a.trace
    val c0 = Bench.millis()
    val compacted = run.attempt("compact")(tr.span(spark, "lake.compact")(lake.compact()))
    val c1 = Bench.millis()
    tr.on = false
    if (a.trace) tr.op("op.compact", c0, c1)
    compacted.foreach { s =>
      run.values("compact_ms") = (c1 - c0).toDouble
      run.values("space_amp") = before.toDouble /
        Bench.dirBytes(tablePath.resolve(s"data/v${s.version}"))
    }
    run.attempt("final read") {
      val state = tr.span(spark, "check")(Bench.keyShas(lake.read()))
      val want = Bench.keyShas(oracleJob.oracleOf(spark.createDataset(applied.toSeq).toDF()))
      run.check("lake_rw final state vs CdcJob.oracleOf", Bench.diff(state, want).isEmpty,
        Bench.diff(state, want).getOrElse(""))
    }
    if (a.trace) {
      val overhead = Bench.median(run.samples.getOrElse("round_ms_traced", Nil).toSeq) /
        Bench.median(run.samples.getOrElse("round_ms", Nil).toSeq) - 1.0
      Layers.report(run, tr, facts ++ Map(
        "lake.lookup.files_read" -> Bench.median(run.samples.getOrElse("lookup_files", Nil).toSeq),
        "lake.merge.files_written" -> Layers.deltaFilesAfter(tablePath, versionAtTrace)),
        gcTraced.toDouble, overhead)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Files the lookup of `key` resolves: those of the key's bucket, found
    * with the writer's own bucket expression (xxhash64 of the key, mod).
    */
  private def filesInBucket(lake: LakeTable, key: (String, String)): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(key._1), Literal(key._2))).eval(null).asInstanceOf[Long]
    val b = java.lang.Math.floorMod(h, lake.numBuckets.toLong).toString
    lake.currentSnapshot.map(s => lake.filesOf(s).getOrElse(b, Nil).size).getOrElse(0)
  }
}
