package graft.job

import graft.dedup.{LsnDedup, SkinnyEvent}
import graft.envelope.ChangeEvent
import graft.lake.{LakeTable, MergeStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Configuration of the flagship CDC replay job — the Spark-native analog
  * of a draethos pipeline spec (`pkg/streams/specs/stream.go:3-65`):
  * one source (the ordered change log), one target (the lake table), one
  * DLQ, and the batch-size knob.
  */
final case class CdcJobConfig(
    logDir: String,
    tablePath: String,
    checkpointDir: String,
    dlqDir: Option[String] = None,
    keyCols: Seq[String] = ChangeEvent.keyCols,
    numBuckets: Int = 32,
    maxFilesPerTrigger: Int = 2,
    // when set, micro-batches are bounded by BYTES of source files instead
    // of file count — the backpressure knob that stays correct when
    // segment sizes vary (a file-count bound ties batch size to segment
    // layout). Maps to the file source's `maxBytesPerTrigger`; overrides
    // maxFilesPerTrigger when both are set.
    maxBytesPerTrigger: Option[Long] = None,
    // changelog encoding: "parquet" (typed segments) or "jsonl" (raw text
    // lines decoded by `codec` — the draethos kafka shape; malformed
    // lines DLQ)
    format: String = "parquet",
    // text-changelog codec ≙ the reference dispatcher
    // (`internal/context/codec.go:15-27`, whose xml→yaml bug we don't
    // copy): json | xml (native expressions) | yaml (transcoded to JSON
    // per partition, then the JSON path)
    codec: String = "json",
    // per-key dedup-state TTL (ProcessingTimeTimeout): bounds state when
    // most of a 10^10-key space goes cold; expiry re-admits stale
    // duplicates as idempotent rows the lake's monotone merge absorbs
    // (see LsnDedup.apply scaladoc). None = keep state forever.
    dedupStateTtlMs: Option[Long] = None,
    // runId-agnostic identity of this pipeline for the exactly-once ledger
    checkpointId: String = "cdc",
    // when set, micro-batches upsert into a JDBC table (≙ the reference's
    // kafka→pgsql/mysql pipelines) instead of the lake; the applied-batch
    // ledger lives in the target database
    jdbcSink: Option[graft.sinks.JdbcUpsert.Config] = None)

/** The flagship job: tail the ordered change log with a Structured
  * Streaming file source, LSN-dedup per key via keyed state, and MERGE
  * each micro-batch into the LakeTable inside `foreachBatch` with an
  * idempotent commit.
  *
  * Pipeline ≙ draethos `source → codec → Attach → CanFlush → Flush →
  * commit offsets` (`internal/source/kafka.go:84-118`), with the same
  * "sink write before offset commit" order — but upgraded from
  * at-least-once to exactly-once by the ledgered snapshot commit
  * (SURVEY.md §2.6).
  */
class CdcJob(spark: SparkSession, cfg: CdcJobConfig) {

  lazy val lake: LakeTable = LakeTable(spark, cfg.tablePath, cfg.keyCols, cfg.numBuckets)

  /** Lake base schema = fixed envelope value columns (drift columns are
    * added by auto-ALTER as they appear).
    */
  private val baseSchema: StructType =
    StructType(ChangeEvent.schema.fields.filter(f =>
      ChangeEvent.lakeCols.contains(f.name)))

  /** Per-micro-batch merge stats, drained by callers for metrics. */
  val stats = new ConcurrentLinkedQueue[MergeStats]()
  def drainStats(): Seq[MergeStats] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MergeStats]
    var s = stats.poll()
    while (s != null) { out += s; s = stats.poll() }
    out.toSeq
  }

  /** Micro-batch bound on the file source: bytes when configured (the
    * knob that stays meaningful across segment layouts), else file count.
    */
  private def bounded(r: org.apache.spark.sql.streaming.DataStreamReader)
      : org.apache.spark.sql.streaming.DataStreamReader =
    cfg.maxBytesPerTrigger match {
      case Some(b) => r.option("maxBytesPerTrigger", b)
      case None => r.option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
    }

  /** Marker op for malformed-envelope rows riding the stream to the DLQ.
    * They are keyed by content hash, so redelivered bad lines dedup like
    * any other event (lsn pinned to 0).
    */
  private val DlqOp = "__dlq"

  /** Build (but do not await) the streaming query. */
  def start(trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // ProcessingTimeTimeout makes FlatMapGroupsWithStateExec report
    // "should run another batch" on EVERY batch (processing time always
    // advances), so an AvailableNow run would never terminate — it spins
    // empty micro-batches forever (measured: 1000+ versions/minute).
    // The TTL is a tailing-mode feature; replay-to-completion runs keep
    // full state (bounded by the run's key set anyway).
    require(cfg.dedupStateTtlMs.isEmpty || !trigger.isInstanceOf[
        org.apache.spark.sql.execution.streaming.AvailableNowTrigger.type],
      "dedupStateTtlMs requires a ProcessingTime trigger (runFollowing); " +
        "AvailableNow never terminates under ProcessingTimeTimeout")
    if (cfg.jdbcSink.isEmpty) lake.createIfAbsent(baseSchema)
    if (cfg.format == "parquet") startSkinny(trigger)
    else startFull(trigger)
  }

  /** Skinny pipeline (parquet changelogs): the dedup key-shuffle carries
    * only `(lsn, op, repo, path)` plus a `(file, row-index)` handle —
    * ~70 B/row instead of the full payload (content alone is ~400 B).
    * Winner payloads are re-materialized AFTER dedup by [[refetch]]. Under
    * CDC duplication (the 10^10-event log averages ~100 updates per key
    * per 10M-row batch) this cuts the pipeline's dominant shuffle ~10×;
    * the payload re-read is a page-cached scan the cluster already paid
    * for. "Shuffle what you deduplicate; fetch payloads late."
    */
  private def startSkinny(trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val skinny = bounded(spark.readStream.schema(ChangeEvent.schema))
      .parquet(s"${cfg.logDir}/seg=*")
      .select(col("lsn"),
        (col("op") === ChangeEvent.Delete).as("del"),
        col("repo"), col("path"),
        // segment-relative handle: shorter shuffle bytes + smaller combiner
        // allocations than the absolute URI; refetch derives the same
        // suffix from its own _metadata, so the join is format-agnostic
        substring_index(col("_metadata.file_path"), "/seg=", -1).as("file"),
        col("_metadata.row_index").as("idx"))
      .as[SkinnyEvent]
    LsnDedup(skinny, cfg.dedupStateTtlMs).writeStream
      .queryName(s"graft-cdc-${cfg.checkpointId}")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SkinnyEvent], batchId: Long) =>
        sinkBatch(batchId, () => batch.foreach(_ => ()))(() => refetch(batch))
      }
      .start()
  }

  /** Re-materialize full winner rows from the batch's parquet files: the
    * winner set (≤ one row per live key per batch — small) is collected
    * once via a cheap `localCheckpoint`, its distinct files (≤
    * maxFilesPerTrigger) drive a page-cached batch re-read, and a
    * broadcast LEFT SEMI join on `(file, row-index)` selects exactly the
    * winning rows — codegen'd, zero additional shuffle. Deletes and drift
    * `extra` maps ride along like any other row.
    */
  private def refetch(batch: org.apache.spark.sql.Dataset[SkinnyEvent]): DataFrame = {
    // one compute of the stateful upstream; the winners are tiny (≤ live
    // keys per batch), so this checkpoint is KBs–MBs, not the batch
    val w = graft.util.Materialize.barrier(batch.toDF())
    val files = w.select("file").distinct().collect().map(_.getString(0))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChangeEvent.schema)
    else
      spark.read.schema(ChangeEvent.schema)
        .parquet(files.toSeq.map(f => s"${cfg.logDir}/seg=$f"): _*)
        .select(col("*"),
          substring_index(col("_metadata.file_path"), "/seg=", -1).as("__file"),
          col("_metadata.row_index").as("__idx"))
        .join(broadcast(w.select(col("file").as("__file"), col("idx").as("__idx"))),
          Seq("__file", "__idx"), "leftsemi")
        .withColumn("extra", coalesce(col("extra"), map()))
  }

  /** Ledger-gated sink dispatch shared by both pipelines: skip the
    * SINK for crash-replayed batches (exactly-once for the DLQ and
    * stats, not just the table), otherwise materialize the batch and
    * apply it.
    *
    * @param consume full pass over the raw batch Dataset with NO sink
    *   effects. The applied-skip path must still run it: a ledger hit
    *   means the crash landed between the lake commit and the engine's
    *   batch commit, so on restart the STATE STORES are rolled back and
    *   this re-run is what re-commits the batch's dedup-state updates.
    *   Returning without touching the Dataset would silently lose those
    *   updates (stale events re-admitted later — only idempotent rows,
    *   but still) and trips Spark's state-store commit validation
    *   ("expected N commits but got 0" — caught by CrashResumeSpec's
    *   SIGKILL e2e).
    */
  private def sinkBatch(batchId: Long, consume: () => Unit)(
      materialize: () => DataFrame): Unit = {
    val applied = cfg.jdbcSink match {
      case Some(j) => graft.sinks.JdbcUpsert.isApplied(j.url, cfg.checkpointId, batchId)
      case None => lake.isApplied(cfg.checkpointId, batchId)
    }
    if (applied) {
      consume()
      stats.add(MergeStats(
        if (cfg.jdbcSink.isDefined) -1L else lake.currentVersion.getOrElse(-1L),
        batchId, skippedAsApplied = true, 0L, 0L, 0L, 0, Nil))
      ()
    } else {
      val good = materialize()
      // under a state TTL the engine runs a no-data batch per trigger
      // tick (ProcessingTimeTimeout always reports should-run-another-
      // batch); skip the sink entirely for those so ticks stay cheap and
      // the idle-exit's quiescence windows exist. Replay runs (no TTL)
      // never pay the extra isEmpty probe.
      if (cfg.dedupStateTtlMs.isDefined && good.isEmpty) {
        stats.add(MergeStats(
          if (cfg.jdbcSink.isDefined) -1L else lake.currentVersion.getOrElse(-1L),
          batchId, skippedAsApplied = false, 0L, 0L, 0L, 0, Nil))
        return
      }
      cfg.jdbcSink match {
        case Some(j) => stats.add(applyJdbc(good, j, batchId))
        case None =>
          // preReduced: LsnDedup emits at most one winner per key per
          // micro-batch, so the merge can skip its winner window (a
          // whole key-shuffle + sort per batch)
          stats.add(lake.merge(good, cfg.checkpointId, batchId,
            preReduced = true))
      }
      ()
    }
  }

  /** Full-payload pipeline for text changelogs: rows carry their payload
    * through the dedup shuffle, since a text line has no parquet row
    * index to refetch it by.
    */
  private def startFull(trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val events: org.apache.spark.sql.Dataset[ChangeEvent] = cfg.format match {
      case "jsonl" =>
        // raw text + codec ≙ the draethos kafka-source + codec path
        // (`internal/source/kafka.go:130`, `internal/codec/{json,xml,
        // yaml}.go`); a line that fails to decode becomes a DLQ-tagged
        // event instead of being logged-and-dropped like the reference
        // (`kafka.go:93-97`). json/xml decode through native expressions
        // (codegen'd); yaml — which has no SQL expression — transcodes to
        // JSON lines per partition and rides the same path, so malformed
        // yaml reaches the DLQ as the original line too.
        val raw0 = bounded(spark.readStream)
          .text(s"${cfg.logDir}/seg=*")
        val raw =
          if (cfg.codec == "yaml") CdcJob.yamlToJsonLines(spark, raw0) else raw0
        raw
          .withColumn("__p", CdcJob.decodeEnvelope(cfg.codec, col("value")))
          .select(
            when(valid, col("__p.lsn")).otherwise(lit(0L)).as("lsn"),
            when(valid, col("__p.op")).otherwise(lit(DlqOp)).as("op"),
            coalesce(col("__p.ts"), lit(new java.sql.Timestamp(0))).as("ts"),
            when(valid, col("__p.repo")).otherwise(lit("__dlq")).as("repo"),
            when(valid, col("__p.path")).otherwise(md5(col("value"))).as("path"),
            coalesce(col("__p.commit"), lit("")).as("commit"),
            coalesce(col("__p.lang"), lit("")).as("lang"),
            when(valid, coalesce(col("__p.content"), lit("")))
              .otherwise(col("value")).as("content"),
            coalesce(col("__p.extra"), map()).as("extra"))
          .as[ChangeEvent]
      case other =>
        throw new IllegalArgumentException(s"changelog format $other not implemented")
    }

    LsnDedup(events, cfg.dedupStateTtlMs).writeStream
      .queryName(s"graft-cdc-${cfg.checkpointId}")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ChangeEvent], batchId: Long) =>
        sinkBatch(batchId, () => batch.foreach(_ => ())) { () =>
          // materialize once so the DLQ split doesn't re-execute the
          // stateful upstream. Crash-replayed batches never reach here
          // (sinkBatch gates on the ledger), so the DLQ stays exactly-once
          // like the table.
          val df = graft.util.Materialize.barrier(batch.toDF())
          cfg.dlqDir.foreach { dir =>
            df.filter(col("op") === DlqOp)
              .select(col("content").as("raw"),
                current_timestamp().as("dlq_ts"))
              .write.mode("append").parquet(dir)
          }
          df.filter(col("op") =!= DlqOp)
        }
      }
      .start()
  }

  /** JDBC micro-batch apply ≙ a reference pgsql/mysql Flush: lift drift
    * fields out of `extra` into top-level columns (they become ALTERed
    * columns, `pgsql.go:162-238`), then key-idempotent upsert + delete.
    * The ledger row is recorded after the data commit — same
    * sink-before-offsets order as the reference, exactly-once at batch
    * granularity, residual overlap absorbed by key idempotence.
    */
  private def applyJdbc(batch: DataFrame, j: graft.sinks.JdbcUpsert.Config,
      batchId: Long): MergeStats = {
    val input = graft.util.Materialize.barrier(batch) // two passes (keys agg + write), one compute
    val driftKeys: Seq[String] =
      if (!input.columns.contains("extra")) Nil
      else input
        .select(explode(map_keys(coalesce(col("extra"), map()))).as("k"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
        // a drift key named like an envelope/key column (lsn, op, repo, …)
        // must not overwrite it — that would corrupt the winner reduction
        // and the JDBC key columns. Same guard as the lake side, where
        // base columns always win over the extra map.
        .filterNot(input.columns.contains)
    val lifted = driftKeys.foldLeft(input) { (d, k) =>
      d.withColumn(k, element_at(col("extra"), k))
    }.drop("extra")
    val n = input.count()
    val (up, del) = graft.sinks.JdbcUpsert.applyCdcBatch(lifted, j)
    graft.sinks.JdbcUpsert.recordApplied(j.url, cfg.checkpointId, batchId)
    MergeStats(-1L, batchId, skippedAsApplied = false, n, up, del, 0, driftKeys)
  }

  /** A parsed text-changelog line is a valid envelope iff the required
    * fields came through non-null (≙ dispatcher validation the reference
    * lacks).
    */
  private def valid =
    col("__p").isNotNull && col("__p.lsn").isNotNull &&
      col("__p.op").isNotNull && col("__p.repo").isNotNull &&
      col("__p.path").isNotNull

  /** Run to end-of-log (AvailableNow) and block until done. */
  def runToCompletion(): Seq[MergeStats] = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
    drainStats()
  }

  /** Tail the log forever with a ProcessingTime trigger ≙ the reference's
    * main poll loop (`internal/source/kafka.go:84-118`, which only exits
    * on signal/EOF-config). With `idleTimeoutMs` set, stop gracefully
    * after that long without new data — the testable analog of the
    * reference's `enable.partition.eof` drain, and a natural CLI knob for
    * catch-up-then-exit runs.
    */
  def runFollowing(intervalMs: Long,
      idleTimeoutMs: Option[Long] = None): Seq[MergeStats] = {
    val q = start(Trigger.ProcessingTime(intervalMs))
    // SIGINT/SIGTERM drain ≙ the reference's signal handler
    // (`internal/source/kafka.go:73-82`): stop the query gracefully — the
    // in-flight batch completes or replays from checkpoint on restart
    val hook = new Thread(() => if (q.isActive) q.stop())
    Runtime.getRuntime.addShutdownHook(hook)
    try idleTimeoutMs match {
      case None => q.awaitTermination()
      case Some(idle) =>
        var lastData = System.nanoTime()
        var lastSeenBatch = -1L
        def idleExceeded = (System.nanoTime() - lastData) / 1e6 >= idle
        // `lastProgress != null` gate: never stop before the engine has
        // reported at least one (possibly empty) batch — a cold first
        // batch can take longer than the idle window.
        //
        // The exit gate is "no UNPROCESSED data" (isDataAvailable), NOT
        // "trigger idle": under a state TTL the engine legitimately runs
        // a (possibly slow) no-data batch every tick, so the trigger is
        // almost always mid-flight and a trigger-idle gate would never
        // open (measured: the follow loop span no-data ticks forever).
        // Stopping during a NO-DATA batch is safe — it replays as a
        // no-op; the drain loop below keeps the catch-up guarantee for
        // data batches.
        var stopping = false
        while (q.isActive && !stopping) {
          val p = q.lastProgress
          if (p != null && p.batchId > lastSeenBatch && p.numInputRows > 0) {
            lastSeenBatch = p.batchId
            lastData = System.nanoTime()
          }
          if (idleExceeded && !q.status.isDataAvailable && p != null) {
            // drain any in-flight trigger (bounded) — if it was a DATA
            // batch, its completion shows up as fresh progress in the
            // grace re-check below and we keep running
            val drainDeadline = System.nanoTime() + 30L * 1000000000L
            while (q.status.isTriggerActive && System.nanoTime() < drainDeadline)
              Thread.sleep(50)
            // grace re-check: files that landed in the last instants may
            // not have been seen by a source poll yet — give the engine
            // two more trigger intervals and only stop if still nothing
            Thread.sleep(math.max(2 * intervalMs, 1000L))
            val p2 = q.lastProgress
            val sawData = p2 != null && p2.batchId > lastSeenBatch && p2.numInputRows > 0
            if (!sawData && !q.status.isDataAvailable) stopping = true
          } else Thread.sleep(50)
        }
        if (q.isActive) q.stop()
        q.awaitTermination()
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // JVM already exiting
    }
    drainStats()
  }

  /** The independent one-batch oracle applied to an arbitrary envelope
    * DataFrame: latest-lsn winner per key, deletes dropped — what the
    * reference's key-idempotent sink converges to.
    */
  def oracleOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // equal-lsn tie-break: delete wins — aligned with LakeTable's
    // within-batch winner window AND its cross-file resolve()
    val w = Window.partitionBy(cfg.keyCols.map(col): _*)
      .orderBy(col("lsn").desc, (col("op") === "delete").desc, col("op").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "delete")
      .drop("__rn")
  }
}

object CdcJob {
  def apply(spark: SparkSession, cfg: CdcJobConfig): CdcJob = new CdcJob(spark, cfg)

  /** Envelope decode column for a text changelog line, by codec —
    * json/xml are native, codegen'd expressions; yaml lines must be
    * transcoded first (`yamlToJsonLines`) and then parse as json.
    */
  def decodeEnvelope(codec: String, raw: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = codec match {
    case "xml" => graft.sources.Codecs.decode("xml", raw, ChangeEvent.schema)
    case _ => from_json(raw, ChangeEvent.schema)
  }

  /** YAML→JSON transcode, one line per record: snakeyaml parse + jackson
    * re-encode inside `mapPartitions` (the documented per-record
    * imperative case — YAML has no Catalyst expression). A line that
    * fails to parse as a YAML mapping passes through VERBATIM, so the
    * downstream `from_json` rejects it into the DLQ carrying the
    * original bytes. Works on batch and streaming inputs alike.
    */
  def yamlToJsonLines(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    raw.select(col("value").cast("string")).as[String].mapPartitions { it =>
      val yaml = new org.yaml.snakeyaml.Yaml()
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      it.map { line =>
        try yaml.load[Object](line) match {
          case m: java.util.Map[_, _] => json.writeValueAsString(m)
          case _ => line // scalar/sequence/empty: not an envelope mapping
        } catch { case scala.util.control.NonFatal(_) => line }
      }
    }.toDF("value")
  }
}
