package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The run's raw measurements as one JSON document. */
object Report {
  /** A number, or null where it is not finite (JSON has no NaN). */
  private def put(o: ObjectNode, k: String, d: Double): Unit =
    if (d.isNaN || d.isInfinite) o.putNull(k) else o.put(k, d)

  def json(rec: Recorder, t: Tracer): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", rec.attempted).put("failed", rec.failed)
    val failures = root.putArray("failures")
    rec.failures.foreach(failures.add)
    val values = root.putObject("values")
    rec.values.foreach { case (k, v) => put(values, k, v) }
    val samples = root.putObject("samples")
    rec.samples.foreach { case (k, v) =>
      val a = samples.putArray(k)
      v.foreach(x => a.add(x))
    }
    val spans = root.putArray("spans")
    t.recorded.foreach { s =>
      spans.addArray().add(s.id).add(s.parent).add(s.op).add(s.name)
        .add(s.startUs).add(s.endUs)
    }
    val counts = root.putObject("counts")
    t.counts.asScala.toSeq.sortBy(_._1).foreach { case (id, k) =>
      val c = counts.putObject(id.toString)
      Seq("jobs" -> k.jobs, "stages" -> k.stages, "tasks" -> k.tasks,
        "actions" -> k.actions, "run_ms" -> k.runMs, "cpu_ns" -> k.cpuNs,
        "deser_ms" -> k.deserMs, "gc_ms" -> k.gcMs,
        "shuffle_write_b" -> k.shuffleWrite,
        "shuffle_read_b" -> k.shuffleRead, "spill_b" -> k.spill,
        "records_read" -> k.recordsRead, "files_read" -> k.filesRead,
        "files_total" -> k.filesTotal).foreach { case (n, v) => c.put(n, v) }
      put(c, "plan_ms", k.planMs)
    }
    val jobs = root.putArray("jobs")
    t.jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, (s, site, st, en)) =>
      jobs.addArray().add(s).add(site).add(st).add(en)
    }
    val tasks = root.putArray("tasks")
    t.taskIntervals.asScala.foreach { case (s, a, b) =>
      tasks.addArray().add(s).add(a).add(b)
    }
    m.writeValueAsString(root)
  }
}
