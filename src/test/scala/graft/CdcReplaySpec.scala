package graft

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.functions._

/** End-to-end: deterministic seeded change log → streaming replay →
  * LakeTable final state must equal the independent oracle reducer
  * row-for-row with sha256(content) equality (SURVEY.md §7 minimum slice).
  */
class CdcReplaySpec extends SparkSpec {

  test("full replay converges to the oracle final state (sha256 equality)") {
    val cfg = ChangeLogGenerator.Config(nEvents = 20000L, nRepos = 50,
      pathsPerRepo = 20, numSegments = 10)
    val logDir = tmpDir("cdclog")
    val tableDir = tmpDir("cdclake")
    val ckptDir = tmpDir("cdcckpt")
    ChangeLogGenerator.writeSegments(spark, logDir, cfg)

    val job = CdcJob(spark, CdcJobConfig(
      logDir = logDir, tablePath = tableDir, checkpointDir = ckptDir,
      maxFilesPerTrigger = 2))
    val stats = job.runToCompletion()
    assert(stats.nonEmpty, "no micro-batches ran")
    assert(stats.forall(!_.skippedAsApplied))

    val finalState = job.lake.read()
    val oracle = ChangeLogGenerator.oracleFinalState(spark, cfg)
      .select("repo", "path", "commit", "lang", "content")

    val got = finalState.select(col("repo"), col("path"), col("commit"),
      col("lang"), sha2(col("content"), 256).as("sha"))
    val want = oracle.select(col("repo"), col("path"), col("commit"),
      col("lang"), sha2(col("content"), 256).as("sha"))

    val nGot = got.count(); val nWant = want.count()
    assert(nWant > 0, "oracle is empty")
    assert(nGot === nWant, s"row count mismatch got=$nGot want=$nWant")
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert(diff === 0L, s"$diff differing rows vs oracle")
  }

  test("byte-bounded micro-batches (maxBytesPerTrigger) converge to the oracle") {
    val cfg = ChangeLogGenerator.Config(nEvents = 10000L, nRepos = 40,
      pathsPerRepo = 20, numSegments = 8)
    val logDir = tmpDir("bytelog")
    ChangeLogGenerator.writeSegments(spark, logDir, cfg)
    val segBytes = new java.io.File(logDir).listFiles()
      .filter(_.getName.startsWith("seg="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(_.length()).sum
    val job = CdcJob(spark, CdcJobConfig(
      logDir = logDir, tablePath = tmpDir("bytelake"),
      checkpointDir = tmpDir("byteckpt"),
      // budget ≈ a third of the log: expect ≥ 3 micro-batches, each
      // bounded by bytes, not by the 8-file segment layout
      maxBytesPerTrigger = Some(math.max(1L, segBytes / 3)),
      checkpointId = "bytes"))
    val stats = job.runToCompletion()
    assert(stats.count(_.inputRows > 0) >= 3,
      s"expected >=3 byte-bounded batches, got ${stats.map(_.inputRows)}")
    val got = job.lake.read().select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha"))
    val want = ChangeLogGenerator.oracleFinalState(spark, cfg)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
  }

  test("schema drift auto-ALTERs the lake schema; old rows read NULL") {
    // many keys, few events per key: some keys' final write lands before
    // the drift point (NULL drift cols), others after (populated).
    val cfg = ChangeLogGenerator.Config(nEvents = 2000L, nRepos = 100,
      pathsPerRepo = 20, numSegments = 8, driftAt1 = 0.5, driftAt2 = 0.8)
    val logDir = tmpDir("driftlog")
    val tableDir = tmpDir("driftlake")
    val ckptDir = tmpDir("driftckpt")
    ChangeLogGenerator.writeSegments(spark, logDir, cfg)
    val job = CdcJob(spark, CdcJobConfig(
      logDir = logDir, tablePath = tableDir, checkpointDir = ckptDir,
      maxFilesPerTrigger = 4))
    job.runToCompletion()
    val sch = job.lake.schema.fieldNames.toSet
    assert(sch.contains("build_system"), s"drift column missing: $sch")
    assert(sch.contains("license"), s"drift column missing: $sch")
    val st = job.lake.read()
    // keys last touched before the drift point read NULL for drift columns
    assert(st.filter(col("build_system").isNull).count() > 0)
    assert(st.filter(col("build_system").isNotNull).count() > 0)
  }
}
