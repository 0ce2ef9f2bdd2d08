package graft

import graft.envelope.ChangeEvent
import graft.lake.LakeTable
import org.apache.spark.sql.types.StructType

/** End-to-end drive of `graft changes` (the incremental-feed CLI) over a
  * multi-version table, plus the plan-shape property the CLI relies on:
  * the feed is STREAMED to stdout partition-by-partition
  * (`toLocalIterator`), never materialized driver-side as one
  * `collect()` — a wide version range on a big table must not be
  * bounded by driver memory.
  */
class CliChangesSpec extends SparkSpec {

  private val baseDdl =
    "repo STRING, path STRING, commit STRING, lang STRING, content STRING"

  private def ev(lsn: Long, op: String, key: Int): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(0), s"r${key % 3}",
      s"p$key", f"c$lsn%040d", "scala", s"content-$lsn-k$key", Map.empty)

  test("graft.Main changes streams the feed as JSON lines; the feed plan has no driver collect") {
    import spark.implicits._
    val dir = tmpDir("cli-changes")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    // three merge versions: v1 two inserts, v2 an update + insert, v3 a delete
    lake.merge(Seq(ev(1, "insert", 1), ev(2, "insert", 2)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(3, "update", 1), ev(4, "insert", 3)).toDS().toDF(), "t", 1L)
    lake.merge(Seq(ev(5, "delete", 2)).toDS().toDF(), "t", 2L)
    val expected = 5L // each version contributes exactly its winner set

    // plan-shape property: no CollectLimit / driver-side materialization
    // node anywhere in the feed plan the CLI iterates
    val feed = lake.changeFeed(0L, lake.currentVersion.get).toJSON
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("CollectLimit"), s"feed plan collects driver-side:\n$plan")
    // and toLocalIterator (the CLI's consumption shape) yields the same
    // rows the materialized frame holds
    val it = feed.toLocalIterator()
    var streamed = List.empty[String]
    while (it.hasNext) streamed ::= it.next()
    assert(streamed.size.toLong === expected)

    // the benchmark builds the CLI's session through this exact lookup
    assert(graft.Main.getClass.getDeclaredMethod("session", classOf[String])
      .getReturnType === classOf[org.apache.spark.sql.SparkSession])

    // e2e: fork the CLI and read its stdout
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .forEach(a => if (!a.startsWith("-Xmx") && !a.startsWith("-Xms")) cmd.add(a))
    cmd.add("-Xmx3g")
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.Main"); cmd.add("changes")
    cmd.add("--table"); cmd.add(dir); cmd.add("--from"); cmd.add("0")
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "CLI hung")
    assert(p.exitValue() === 0, s"CLI failed:\n$out")
    val lines = out.linesIterator.filter(_.startsWith("{")).toSeq
    assert(lines.size.toLong === expected, s"unexpected feed lines:\n$out")
    // provenance + content spot checks: the v3 tombstone and the v2 update
    val v3 = lines.filter(_.contains("\"__version\":3"))
    assert(v3.size === 1 && v3.head.contains("\"__deleted\":true") &&
      v3.head.contains("\"path\":\"p2\""), s"v3 tombstone wrong: $v3")
    assert(lines.exists(l => l.contains("\"__version\":2") &&
      l.contains("\"content\":\"content-3-k1\"")), s"v2 update missing:\n$out")
  }
}
