package perfbench

import perfbench.Main.PassResult
import perfbench.Probe.{JobSpan, StageSpan}

/** Per-layer metrics of the traced run, from the spans
  * run → pass → op → {fn, action} → Spark job → stage
  * and the probe's counters. Jobs belong to the op whose tag they carry,
  * and to its fn or action span by when they started. */
final class Layers(probe: Probe, cores: Int) {
  private val counterNames = Seq(
    "plan.queries", "plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms",
    "plan.exchanges", "plan.global_windows", "plan.nested_loop_joins",
    "plan.codegen_fallbacks", "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_wait_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.input_mb",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.output_mb", "memo.block_writes", "memo.block_write_mb",
    "memo.artifact_mb")

  private def jobsOf(p: PassResult): Map[String, Seq[JobSpan]] =
    probe.jobs.toSeq.filter(_.tag.startsWith(s"${p.idx}/"))
      .groupBy(_.tag.dropWhile(_ != '/').drop(1))

  private def stagesOf(jobs: Seq[JobSpan]): Map[Int, Seq[StageSpan]] = {
    val ids = jobs.map(_.id).toSet
    probe.stages.toSeq.filter(s => ids.contains(s.job)).groupBy(_.job)
  }

  private def iv(j: JobSpan) = (j.start, j.end)

  def passMetrics(p: PassResult): Map[String, Double] = {
    val jobs = jobsOf(p)
    val allJobs = jobs.values.flatten.toSeq
    val stages = stagesOf(allJobs)
    val wallMs = p.end - p.start
    var driverOnly, selfOp, selfFn, selfAction = 0.0
    p.runs.foreach { r =>
      val mine = jobs.getOrElse(r.op.name, Nil)
      val (inFn, inAction) = mine.partition(_.start < r.fnEnd)
      driverOnly += Stats.selfTime(r.start, r.actionEnd, mine.map(iv))
      selfOp += Stats.selfTime(r.start, r.end, Seq((r.start, r.fnEnd), (r.fnEnd, r.actionEnd)))
      selfFn += Stats.selfTime(r.start, r.fnEnd, inFn.map(iv))
      selfAction += Stats.selfTime(r.fnEnd, r.actionEnd, inAction.map(iv))
    }
    val selfJob = allJobs.map { j =>
      Stats.selfTime(j.start, j.end, stages.getOrElse(j.id, Nil).map(s => (s.start, s.end)))
    }.sum
    val byModule = Workloads.modules.map { case (m, _) =>
      s"ops.${m}_ms" -> p.runs.filter(_.op.module == m).map(_.ms).sum
    }
    val c = counterNames.map(k => k -> p.counters.getOrElse(k, 0.0)).toMap
    c ++ byModule ++ Map(
      "ops.fn_ms" -> p.runs.map(r => r.fnEnd - r.start).sum,
      "ops.action_ms" -> p.runs.map(r => r.actionEnd - r.fnEnd).sum,
      "sched.driver_only_ms" -> driverOnly,
      "exec.core_util" -> c("exec.task_ms") / (wallMs * cores),
      "host.canary_ms" -> p.canaryMs,
      "self.pass_ms" -> Stats.selfTime(p.start, p.end, p.runs.map(r => (r.start, r.end))),
      "self.op_ms" -> selfOp,
      "self.fn_ms" -> selfFn,
      "self.action_ms" -> selfAction,
      "self.job_ms" -> selfJob,
      "self.stage_ms" -> stages.values.flatten.map(s => s.end - s.start).sum)
  }

  /** Every span of the run as JSON: id, parent, layer, name, start, end
    * (epoch milliseconds). */
  def spansJson(runStart: Double, runEnd: Double, setup: (Double, Double),
      passes: Seq[PassResult]): String = {
    val out = new StringBuilder
    var next = 0
    def span(parent: Int, layer: String, name: String, s: Double, e: Double): Int = {
      val id = next
      next += 1
      if (out.nonEmpty) out.append(",\n")
      out.append(s"""{"id":$id,"parent":$parent,"layer":"$layer","name":${Json.str(name)},""" +
        s""""start":${Json.num(s)},"end":${Json.num(e)}}""")
      id
    }
    val run = span(-1, "run", "run", runStart, runEnd)
    span(run, "setup", "setup", setup._1, setup._2)
    passes.foreach { p =>
      val jobs = jobsOf(p)
      val stages = stagesOf(jobs.values.flatten.toSeq)
      val pid = span(run, "pass", if (p.idx == 0) "cold" else s"warm${p.idx}", p.start, p.end)
      p.runs.foreach { r =>
        val oid = span(pid, "op", r.op.name, r.start, r.end)
        val fid = span(oid, "fn", r.op.name, r.start, r.fnEnd)
        val aid = span(oid, "action", r.op.name, r.fnEnd, r.actionEnd)
        jobs.getOrElse(r.op.name, Nil).foreach { j =>
          val jid = span(if (j.start < r.fnEnd) fid else aid, "job", s"job${j.id}", j.start, j.end)
          stages.getOrElse(j.id, Nil).foreach(s => span(jid, "stage", s"stage${s.id}", s.start, s.end))
        }
      }
    }
    "{\"spans\":[\n" + out + "\n]}\n"
  }
}

object Layers {
  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("core_util")) "ratio"
    else if (name.endsWith("load1")) "load"
    else "count"
}
