package graft

import graft.envelope.ChangeEvent
import org.apache.spark.sql.functions._

/** End-to-end CLI drive of the tailing mode, YAML-spec only: a forked
  * `graft.Main start` process follows a GROWING jsonl changelog
  * (`trigger: processingTime` ≙ the reference's forever poll loop,
  * `internal/source/kafka.go:36-125`), routes the malformed line to the
  * configured DLQ, and exits gracefully on `--idle-timeout-ms`. The test
  * appends a segment while the pipeline is live and asserts the late
  * events reached the lake.
  */
class CliFollowSpec extends SparkSpec {

  private def ev(lsn: Long, op: String, key: Int): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(1735689600000L + lsn * 1000L),
      s"org/repo-${key % 4}", s"src/f$key.scala", f"c$lsn%040d", "scala",
      if (op == "delete") "" else s"content-$lsn-k$key", Map.empty)

  private def writeSeg(logDir: String, seg: Int, events: Seq[ChangeEvent],
      extraLines: Seq[String] = Nil): Unit = {
    import spark.implicits._
    val json = events.toDS()
      .select(to_json(struct(col("*"))).as("value"))
      .collect().map(_.getString(0)).toSeq ++ extraLines
    val d = new java.io.File(f"$logDir/seg=$seg%05d")
    d.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(d, f"part-$seg%05d.txt").toPath,
      json.mkString("\n").getBytes("UTF-8"))
  }

  test("graft.Main --follow tails a growing jsonl log via the YAML spec") {
    val root = tmpDir("cli-follow")
    val logDir = s"$root/log"
    val batch1 = Seq(ev(1, "insert", 1), ev(2, "insert", 2), ev(3, "update", 1))
    writeSeg(logDir, 0, batch1, extraLines = Seq("{\"oops\": not json"))

    val yaml =
      s"""stream:
         |  name: cli-follow
         |  checkpointDir: $root/ckpt
         |  port: 0
         |  instance:
         |    source:
         |      type: changelog
         |      specs:
         |        path: $logDir
         |        format: jsonl
         |        codec: json
         |        trigger: processingTime=200ms
         |        maxFilesPerTrigger: 4
         |    target:
         |      type: lake
         |      specs: { path: $root/lake, keyColumns: [repo, path], numBuckets: 4 }
         |    dlq:
         |      type: files
         |      specs: { path: $root/dlq }
         |""".stripMargin
    val yamlPath = s"$root/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(yamlPath), yaml)

    // fork graft.Main with this JVM's module opens but a small heap
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .forEach(a => if (!a.startsWith("-Xmx") && !a.startsWith("-Xms")) cmd.add(a))
    cmd.add("-Xmx3g")
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.Main"); cmd.add("start"); cmd.add("-f"); cmd.add(yamlPath)
    cmd.add("--idle-timeout-ms"); cmd.add("8000")
    cmd.add("--verify-oracle")
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val outBuf = new StringBuilder
    val reader = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = br.readLine()
      while (l != null) { outBuf.synchronized(outBuf.append(l).append('\n')); l = br.readLine() }
    })
    reader.setDaemon(true); reader.start()

    // wait for the first commit (the lake's _current pointer), then grow
    // the log while the child is tailing
    val currentPtr = java.nio.file.Paths.get(s"$root/lake/_current")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!java.nio.file.Files.exists(currentPtr) && System.nanoTime() < deadline) {
      assert(p.isAlive, s"child died early:\n$outBuf")
      Thread.sleep(200)
    }
    assert(java.nio.file.Files.exists(currentPtr), s"no first commit:\n$outBuf")

    // ops endpoints are served for changelog pipelines too (≙ the
    // reference's worker.go:82-90 ops server for every source type):
    // scrape /metrics and the healthchecks mid-follow
    val portRe = """\[graft\] ops endpoints on :(\d+)""".r
    val opsPort = portRe.findFirstMatchIn(outBuf.synchronized(outBuf.toString))
      .map(_.group(1).toInt)
    assert(opsPort.isDefined, s"no ops endpoint line in output:\n$outBuf")
    val client = java.net.http.HttpClient.newHttpClient()
    def scrape(path: String) = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:${opsPort.get}$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(scrape("/healthcheck/liveness").statusCode() === 200)
    assert(scrape("/healthcheck/readiness").statusCode() === 200)
    val metrics = scrape("/metrics")
    assert(metrics.statusCode() === 200)
    assert(metrics.body().contains("graft_micro_batches_total"),
      s"unexpected metrics body:\n${metrics.body()}")

    val batch2 = Seq(ev(4, "update", 2), ev(5, "insert", 3), ev(6, "delete", 1))
    writeSeg(logDir, 1, batch2)

    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"child did not exit on idle timeout:\n$outBuf")
    val out = outBuf.toString
    assert(p.exitValue() === 0, s"child failed:\n$out")
    assert(out.contains("oracle check: CONVERGED"), s"not converged:\n$out")

    // the headline counts every line the source consumed (well-formed
    // and malformed, before dedup), not the post-dedup rows applied
    val consumedRe = """replay done: \d+ micro-batches, (\d+) events consumed""".r
    val consumed = consumedRe.findFirstMatchIn(out).map(_.group(1).toLong)
    assert(consumed === Some(spark.read.text(logDir).count()),
      s"consumed count is not the log's row count:\n$out")

    // late (post-start) events are in the lake: key1 deleted, key3 present
    val lake = graft.lake.LakeTable(spark, s"$root/lake")
    val rows = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.get("src/f2.scala").contains("content-4-k2"))
    assert(rows.get("src/f3.scala").contains("content-5-k3"))
    assert(!rows.contains("src/f1.scala"), "delete from the late segment lost")

    // the malformed line landed in the DLQ exactly once
    val dlq = spark.read.parquet(s"$root/dlq")
    assert(dlq.count() === 1L)
    assert(dlq.select("raw").head().getString(0).startsWith("{\"oops\":"))
  }
}
