package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one run measured. Written as JSON for `run.py`, which turns it
  * into the benchmark's metrics. */
final class Recorder {
  /** Latency samples (ms) per operation type, in the order taken. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def add(name: String, x: Double): Unit =
    values(name) = values.getOrElse(name, 0.0) + x

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Count one operation; a failed check marks it failed, loudly. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) {
      failures += s"$what: $detail".take(500)
      System.err.println(s"[perfbench] CHECK FAILED $what: $detail")
    }
    ok
  }

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

/** Arguments and shared state of one run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, rec: Recorder,
    inputs: String, work: String, seed: Long, seconds: Double,
    expected: JsonNode) {
  /** Time `body` in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def fresh(name: String): String = {
    val d = new File(work, name)
    if (d.exists()) deleteTree(d)
    d.getAbsolutePath
  }
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

trait Workload {
  /** Everything before the first timed operation except the session. */
  def setup(ctx: Ctx): Unit
  /** Closed loop: one operation at a time until `deadlineNs`. */
  def measure(ctx: Ctx, deadlineNs: Long): Unit
  /** Final checks after the loop (outside the timed region). */
  def verify(ctx: Ctx): Unit
}

object Main {

  /** The session the benchmark drives: `graft.Bench`'s conf, with every
    * directory inside the run's work dir. */
  def session(work: String, cpus: Int): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.GraftSession.CodegenCacheEntries)
      .config("spark.file.transferTo", graft.GraftSession.FileTransferTo)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val inputs = new File(arg(args, "inputs")).getAbsolutePath
    val work = new File(arg(args, "work")).getAbsolutePath
    val cpus = arg(args, "cpus").toInt
    if (args.contains("--build-base")) {
      // the untimed step before a run whose base layouts are not cached
      val spark = session(work, cpus)
      IndexLifecycle.buildBase(spark, inputs, arg(args, "cache"))
      spark.stop()
      return
    }
    val out = arg(args, "out")
    val trace = arg(args, "trace") == "1"
    val w: Workload = workload match {
      case "etl_nightly" => new EtlNightly(new WarehouseSql(new String(
        Files.readAllBytes(Paths.get(arg(args, "script"))),
        StandardCharsets.UTF_8)))
      case "index_lifecycle" => new IndexLifecycle(arg(args, "cache"))
      case other => sys.error(s"unknown workload $other")
    }
    val expected = new ObjectMapper().readTree(
      new File(inputs, "expected.json"))
    val t0 = System.nanoTime()
    val spark = session(work, cpus)
    val rec = new Recorder
    val ctx = Ctx(spark, new Tracer(spark, trace), rec, inputs, work,
      arg(args, "seed").toLong, arg(args, "seconds").toDouble, expected)
    w.setup(ctx)
    rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    w.measure(ctx, System.nanoTime() + (ctx.seconds * 1e9).toLong)
    ctx.tracer.recording = false
    ctx.tracer.settle()
    w.verify(ctx)
    ctx.tracer.settle()
    rec.values("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(out),
      Report.json(rec, ctx.tracer).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
