package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sha2}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Command line of one benchmark JVM. `run.py` starts one or more of
  * these per run and combines their result files.
  */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double, // measuring budget of this JVM
    trace: Boolean,
    work: Path, // scratch directory of this JVM, inside the checkout
    out: Path, // result JSON of this JVM
    small: Boolean,
    nproc: Int) // worker threads of the session; sizes the inputs

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      m.get("small").contains("1"), need("nproc").toInt)
  }
}

/** What one JVM measured and checked. */
final class Run(val a: Args) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var setupS = 0.0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Count an operation; a throw is recorded as a failure and reported,
    * never swallowed.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: $e"
        System.err.println(s"[perfbench] $what failed")
        e.printStackTrace()
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      mismatches += s"$what: $detail"
      System.err.println(s"[perfbench] MISMATCH $what: $detail")
    }
}

object Bench {
  type KeyShas = Map[(String, String), String]

  def millis(): Long = System.currentTimeMillis()

  def json(x: AnyRef): String =
    org.json4s.jackson.Serialization.write(x)(org.json4s.DefaultFormats)

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Log a phase boundary (seconds since JVM start) to the JVM's log. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(millis() - jvmStart) / 1000.0}%.2f s $name")

  /** The graft CLI's own session (`graft.Main.session`), so the benchmark
    * measures the program with the settings it ships with. The worker
    * thread count comes from `SPARK_GRAFT_CPUS`, as for the CLI.
    */
  def session(): SparkSession = {
    val m = graft.Main.getClass.getDeclaredMethod("session", classOf[String])
    m.setAccessible(true)
    m.invoke(graft.Main, "perfbench").asInstanceOf[SparkSession]
  }

  /** Live rows as `(repo, path) -> sha256(content)`. */
  def keyShas(df: DataFrame): KeyShas =
    df.select(col("repo"), col("path"), sha2(col("content"), 256)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  /** Human-readable difference of two final states, or None if equal. */
  def diff(actual: KeyShas, expected: KeyShas): Option[String] =
    if (actual == expected) None
    else {
      val missing = expected.keySet.diff(actual.keySet).size
      val extra = actual.keySet.diff(expected.keySet).size
      val wrong = actual.count { case (k, v) => expected.get(k).exists(_ != v) }
      Some(s"${actual.size} rows vs ${expected.size} expected: " +
        s"$missing missing, $extra extra, $wrong with another sha256(content)")
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Entries of a directory, the listing closed. */
  def children(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  def countFiles(p: Path, pred: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && pred(f)).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val run = new Run(a)
    val spark = session()
    phase("session ready")
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k.contains("host") ||
        k.endsWith(".id") || k.startsWith("spark.driver.port") }
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    tracer.install(spark, stages = a.trace)
    val ready = () => run.setupS = (millis() - jvmStart) / 1000.0
    try a.workload match {
      case "replay" => Replay(spark, run, tracer, ready)
      case "follow" => Follow(spark, run, tracer, ready)
      case "lake_rw" => LakeRw(spark, run, tracer, ready)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case NonFatal(e) =>
        run.failed += 1
        run.attempted = math.max(run.attempted, run.failed)
        run.errors += s"workload: $e"
        e.printStackTrace()
    }
    if (a.trace) tracer.write(a.work.resolve("spans.jsonl"))
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "nproc" -> a.nproc,
      "setup_s" -> run.setupS, "peak_rss_mb" -> peakRssMb(),
      "attempted" -> run.attempted, "failed" -> run.failed,
      "errors" -> run.errors, "mismatches" -> run.mismatches,
      "samples" -> run.samples, "values" -> run.values, "layers" -> run.layers,
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark_conf" -> conf.toMap,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("--add-opens")))
    SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(a.out, json(result))
  }
}
