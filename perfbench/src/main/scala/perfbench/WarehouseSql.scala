package perfbench

import org.apache.spark.sql.Row

import graft.etl.{SqlRunner, ValidationCorpus}

/** The analyst and validation reads of a written warehouse: the script
  * (MySQL dialect) translated by `ValidationCorpus`'s shim, one
  * statement per operation. */
final class WarehouseSql(script: String) {
  private val setRe = "(?is)^SET\\s+@(\\w+)\\s*=\\s*(.+)$".r
  val statements: Seq[String] = {
    val parsed = SqlRunner.parse(script)
    val vars = parsed.collect { case setRe(k, v) => k -> v.trim }.toMap
    parsed.filter(setRe.findFirstIn(_).isEmpty)
      .map(st => ValidationCorpus.translate(SqlRunner.substitute(st, vars)))
  }

  private def tables(ctx: Ctx, dir: String) =
    Seq("dim_date", "dim_user", "dim_fitnessgoal", "dim_fitnesstype",
      "dim_healthcondition", "dim_exercise", "dim_diet", "dim_fooditem",
      "dim_metrictype", "dim_mealtype", "dim_workouttype",
      "bridge_user_healthcondition", "bridge_user_workoutpreference",
      "bridge_user_dietpreference", "fact_usersnapshot",
      "fact_workoutsession", "fact_healthmetric", "fact_nutritionlog",
      "fact_hourlyactivity")
      .filter(n => new java.io.File(dir, n).isDirectory)
      .map(n => n -> ctx.spark.read.parquet(s"$dir/$n"))

  /** The correctness gate: the whole script through
    * `ValidationCorpus.run` scores 100.0 with no failed statement. It
    * registers the warehouse's views the statements read. */
  def validate(ctx: Ctx, dir: String): Boolean = {
    val o = ValidationCorpus.run(ctx.spark, script, tables(ctx, dir))
    ctx.rec.check("validation score", o.score == 100.0,
      s"score ${o.score} issues ${o.issues} warnings ${o.warnings}") &
      ctx.rec.check("validation statements", o.failed.isEmpty,
        o.failed.mkString("; "))
  }

  /** One statement: plan, execute, check its rows against `expected`
    * (the generator's record for the warehouse's inputs). */
  def statement(ctx: Ctx, sql: String, expected: String)
      : (Double, Boolean) = {
    val t = ctx.tracer
    val (rows, ms) = ctx.timed {
      scala.util.Try {
        t.op("etl.sql.stmt") {
          val df = t.span("etl.sql.plan") {
            val d = ctx.spark.sql(sql)
            d.queryExecution.executedPlan
            d
          }
          t.span("etl.sql.exec")(df.collect())
        }
      }
    }
    val head = sql.linesIterator.next().take(60)
    (ms, rows.fold(
      e => ctx.rec.check(s"sql $head", ok = false, String.valueOf(e)),
      checkRows(ctx, head, _, expected)))
  }

  /** Check rows name their own expectation: check_name + violations
    * must be 0; (table_name, table_rows) must equal the planted row
    * count; expect_<key> columns must equal the planted total. */
  private def checkRows(ctx: Ctx, head: String, rows: Array[Row],
      expected: String): Boolean = {
    val exp = ctx.expected.get(expected)
    rows.forall { r =>
      val f = r.schema.fieldNames.map(_.toLowerCase)
      def at(n: String) = r.get(f.indexOf(n))
      def long(n: String) = Option(at(n)).fold(0L)(
        _.asInstanceOf[Number].longValue)
      if (f.contains("check_name")) {
        val v = Seq("violations", "orphan_count").filter(f.contains)
          .map(long)
        ctx.rec.check(s"sql $head", v.forall(_ == 0L),
          s"${at("check_name")} violations $v")
      } else if (f.sameElements(Seq("table_name", "table_rows"))) {
        val want = exp.get("tables").get(at("table_name").toString)
        ctx.rec.check(s"sql $head", want != null &&
          want.asLong == long("table_rows"), s"$r vs $want")
      } else f.filter(_.startsWith("expect_")).forall { n =>
        val want = exp.get("aggregates").get(n.stripPrefix("expect_"))
        ctx.rec.check(s"sql $n", want != null && want.asLong == long(n),
          s"got ${long(n)} want $want")
      }
    }
  }
}
