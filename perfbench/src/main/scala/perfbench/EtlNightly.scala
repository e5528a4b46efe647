package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.etl.{Normalize, Pipeline, SegmentOps}

/** etl_nightly: the reference's own nightly job and the analytical SQL
  * that checks its output. The nightly operation is
  * `Pipeline.fileInputs` then `Pipeline.run(outDir)` into a fresh
  * directory (extract, resolve, transform, validate, partitioned write,
  * JSON report); the read operation is one statement of the warehouse
  * script over what the last nightly run wrote.
  *
  * The nightly run is timed cold, in a fresh process, as a nightly job
  * runs; the reads are timed after the validation gate has run the same
  * statements once. */
final class EtlNightly(sql: WarehouseSql) extends Workload {
  private var runs = 0
  private var lastOut = ""
  private var lastIn: Pipeline.Inputs = _

  /** The three engine phases inside `Pipeline.run`, told apart by the
    * source file each job was launched from. */
  private def phaseOf(callSite: String): String =
    if (callSite.contains("Quality.scala")) "etl.validate"
    else if (callSite.contains("Sources.scala")) "sources.write"
    else "etl.transform"

  /** One nightly run over `inputs/<part>`; checks the quality score and
    * every table's row count against what the generator planted. */
  private def nightly(ctx: Ctx, part: String): (Double, Boolean) = {
    val out = ctx.fresh(s"etl_out_${runs % 2}")
    runs += 1
    val t = ctx.tracer
    val (run, ms) = ctx.timed {
      t.op("etl.run") {
        val in = t.span("sources.extract") {
          Pipeline.fileInputs(ctx.spark, s"${ctx.inputs}/$part")
        }
        (in, t.span("etl.pipeline") { Pipeline.run(ctx.spark, in, Some(out)) })
      }
    }
    val (in, res) = run
    res.unpersist()
    lastOut = out
    lastIn = in
    if (t.recording) {
      val files = java.nio.file.Files.walk(new java.io.File(out).toPath)
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).toSeq
      ctx.rec.add("sources.files_written", files.size)
      ctx.rec.add("sources.mb_written", files.sum / 1e6)
    }
    val exp = ctx.expected.get(part).get("tables")
    val rec = ctx.rec
    var ok = rec.check(s"$part quality score", res.report.score == 100.0,
      s"score ${res.report.score}: ${res.report.results.filter(
        _.violations > 0)}")
    exp.fieldNames().asScala.foreach { name =>
      val want = exp.get(name).asLong
      val got = SegmentOps.footerRows(ctx.spark, Seq(s"$out/$name"))
      ok &= rec.check(s"$part rows $name", got == want,
        s"got $got want $want")
    }
    ok &= rec.check(s"$part report", new java.io.File(out,
      "etl_report.json").isFile, "etl_report.json missing")
    (ms, ok)
  }

  def setup(ctx: Ctx): Unit = ()

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    // the nightly job: one run in a fresh process, cold as every night
    ctx.tracer.startUnit()
    val (ms, ok) = nightly(ctx, "etl")
    ctx.rec.sample("nightly_ms", ms)
    ctx.rec.op(ok)
    ctx.tracer.recording = false
    // the validation gate: the whole script through the engine's own
    // ValidationCorpus.run, which also registers the warehouse's views
    ctx.rec.op(sql.validate(ctx, lastOut))
    // the analyst reads over what it wrote: passes over the script in a
    // seeded order, at least one, until the run's seconds have gone
    val rng = new scala.util.Random(ctx.seed)
    var pass = 0
    while (pass < 1 || System.nanoTime() < deadlineNs) {
      rng.shuffle(sql.statements).foreach { st =>
        ctx.tracer.startUnit()
        val (ms, ok) = sql.statement(ctx, st, "etl")
        ctx.rec.sample("read_ms", ms)
        ctx.rec.op(ok)
      }
      pass += 1
    }
  }

  def verify(ctx: Ctx): Unit = {
    ctx.tracer.settle()
    // split each traced pipeline span into its phases by job call site
    val jobs = ctx.tracer.jobs.asScala.values.toSeq
    ctx.tracer.recorded.filter(_.name == "etl.pipeline").foreach { p =>
      jobs.filter(_._1 == p.id)
        .groupBy(j => phaseOf(j._2)).foreach { case (phase, js) =>
          if (phase != "etl.transform")
            ctx.tracer.addSpan(p, phase, js.map(_._3).min, js.map(_._4).max)
        }
    }
    if (ctx.tracer.enabled) {
      // unique users written per profile staged from what the run read:
      // mendeley and gym rows plus the distinct fitbit ids
      val in = lastIn
      val fitbit = Seq(in.dailyActivity, in.weightLog, in.sleep,
        in.heartrate, in.hourlyCalories).flatten
        .map(f => Normalize.columns(f).select(col("id").cast("long")))
        .reduce(_ unionByName _).distinct().count()
      val staged = Seq(in.mendeley, in.gym).flatten.map(_.count()).sum +
        fitbit
      ctx.rec.values("etl.resolve_ratio") = SegmentOps.footerRows(ctx.spark,
        Seq(s"$lastOut/dim_user")).toDouble / staged
    }
  }
}
