package perfbench

import scala.collection.mutable

/** Everything one run reports, written as one JSON object. */
final class Result {
  val nums = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  var setupFailures = 0
  var failures = Map.empty[String, String]
  var dumped = Map.empty[String, String]
  var samples: Seq[(String, Double)] = Nil
  val setupItems = mutable.LinkedHashMap.empty[String, Double]
  var leakedKeys: Iterable[String] = Nil
  var spans: Seq[Span] = Nil

  def num(k: String, v: Double): Unit = nums(k) = v

  def json: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def d(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def obj[V](m: Iterable[(String, V)])(f: V => String): String =
      m.map { case (k, v) => s"${q(k)}:${f(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"setup_failures":$setupFailures,""" +
      s""""metrics":${obj(nums)(d)},"samples":${samples.map { case (k, v) => s"[${q(k)},${d(v)}]" }.mkString("[", ",", "]")},""" +
      s""""setup_item_s":${obj(setupItems)(d)},""" +
      s""""failures":${obj(failures)(q)},"dumped":${obj(dumped)(q)},""" +
      s""""leaked_keys":${leakedKeys.map(q).mkString("[", ",", "]")},""" +
      s""""spans":${spans.map(s => s"[${s.id},${s.parent},${q(s.name)},${q(s.label)},${d(s.seconds)}]")
        .mkString("[", ",", "]")}}"""
  }
}

/** Per-layer numbers from the traced run's spans and listener events.
  * Every time and count is a mean per query run of the timed passes
  * unless its name says otherwise. */
object LayerMetrics {
  def fill(out: Result, spans: Seq[Span], counts: Map[String, Double], ev: EventLog,
      startMs: Long, endMs: Long, resolveSpans: Seq[Span]): Unit = ev.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def queryOf(s: Span): Option[Span] =
      if (s.name == "query") Some(s) else byId.get(s.parent).flatMap(queryOf)
    /** Innermost span whose wall window holds `t`. */
    def at(within: Seq[Span], t: Long): Option[Span] =
      within.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(s => (s.startMs, s.id))

    val queries = spans.filter(_.name == "query")
    val nq = math.max(1, queries.size).toDouble
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def perQ(v: Double) = v / nq

    val timedJobs = ev.jobs.filter(j => j.timeMs >= startMs && j.timeMs <= endMs)
    val jobSpan = timedJobs.flatMap(j => at(spans, j.timeMs).map(j -> _))
    def jobsIn(layer: String) = jobSpan.collect { case (j, s) if s.name == layer => j }

    // ---- construction and planning
    val querySec = queries.map(_.seconds).sum
    out.num("construct.s", perQ(total("construct")))
    out.num("construct.share", if (querySec > 0) total("construct") / querySec else 0.0)
    out.num("construct.jobs", perQ(jobsIn("construct").size))
    out.num("plan.s", perQ(total("plan")))
    Seq("analysis", "optimization", "planning").foreach { p =>
      out.num(s"plan.${p}_s", perQ(counts.getOrElse(s"plan.${p}_s", 0.0))) }

    // ---- execution: jobs submitted inside the noop write
    val execJobs = jobsIn("exec")
    val execStages = execJobs.flatMap(_.stages).toSet
    val stages = ev.stages.filter(s => execStages(s.id))
    val tasks = ev.tasks.filter(t => execStages(t.stage))
    val execSec = total("exec")
    val cpu = tasks.map(_.cpuNs).sum / 1e9
    out.num("exec.s", perQ(execSec))
    out.num("exec.jobs", perQ(execJobs.size))
    out.num("exec.stages", perQ(stages.size))
    out.num("exec.tasks", perQ(tasks.size))
    out.num("exec.task_run_s", perQ(tasks.map(_.runMs).sum / 1e3))
    out.num("exec.task_cpu_s", perQ(cpu))
    out.num("exec.cpu_util", if (execSec > 0) cpu / (execSec * Harness.Cores) else 0.0)
    out.num("exec.gc_s", perQ(tasks.map(_.gcMs).sum / 1e3))
    out.num("exec.sched_wait_s", perQ(tasks.map(t => math.max(0L, t.durationMs - t.runMs -
      t.deserMs - t.resultSerMs - t.gettingResultMs)).sum / 1e3))
    out.num("exec.input_mb", perQ(tasks.map(_.inBytes).sum / 1e6))
    out.num("exec.input_rows", perQ(tasks.map(_.inRows).sum.toDouble))
    out.num("exec.shuffle_write_mb", perQ(tasks.map(_.shufWrite).sum / 1e6))
    out.num("exec.shuffle_read_mb", perQ(tasks.map(_.shufRead).sum / 1e6))
    out.num("exec.spill_mb", perQ(tasks.map(_.spill).sum / 1e6))
    out.num("exec.failed_tasks", perQ(tasks.count(_.failed)))
    // skew: max / median task run time of each query's slowest stage
    val stageQuery = jobSpan.collect { case (j, s) if s.name == "exec" =>
      j.stages.map(_ -> queryOf(s).map(_.id)) }.flatten.toMap
    val skews = stages.groupBy(s => stageQuery.getOrElse(s.id, None)).values.flatMap { ss =>
      val slow = ss.maxBy(s => s.completedMs - s.submittedMs)
      val runs = tasks.filter(_.stage == slow.id).map(_.runMs.toDouble).sorted.toIndexedSeq
      val med = Harness.quantile(runs, 0.5)
      if (runs.isEmpty || med <= 0) None else Some(runs.last / med)
    }
    out.num("exec.skew", if (skews.isEmpty) 0.0 else skews.sum / skews.size)

    // ---- sinks: per run of the sink job
    val sinkRuns = queries.count(_.label == "wordcount_sink").toDouble
    def perSink(v: Double) = if (sinkRuns > 0) v / sinkRuns else 0.0
    out.num("sinks.text_write_s", perSink(total("sinks.text_write")))
    out.num("sinks.parquet_write_s", perSink(total("sinks.parquet_write")))
    out.num("sinks.read_s", perSink(total("sinks.read")))
    out.num("sinks.write_mb", perSink(counts.getOrElse("sinks.write_bytes", 0.0) / 1e6))
    out.num("sinks.files", perSink(counts.getOrElse("sinks.files", 0.0)))

    // ---- streaming: per drain (stream_* query run)
    val drains = queries.filter(_.label.startsWith("stream_"))
    val nd = drains.size.toDouble
    def perDrain(v: Double) = if (nd > 0) v / nd else 0.0
    val drainIds = drains.map(_.id).toSet
    val drainSec = spans.filter(s => s.name == "construct" && drainIds(s.parent)).map(_.seconds).sum
    val prog = ev.progress.filter(p => p.startMs >= startMs && p.startMs <= endMs)
    def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    out.num("stream.drain_s", perDrain(drainSec))
    out.num("stream.starts", perDrain(ev.streamStarts.count(t => t >= startMs && t <= endMs)))
    out.num("stream.batches", perDrain(prog.size))
    out.num("stream.trigger_s", perDrain(dur("triggerExecution")))
    out.num("stream.addbatch_s", perDrain(dur("addBatch")))
    out.num("stream.latestoffset_s", perDrain(dur("latestOffset")))
    out.num("stream.queryplanning_s", perDrain(dur("queryPlanning")))
    out.num("stream.walcommit_s", perDrain(dur("walCommit")))
    out.num("stream.overhead_s", perDrain(drainSec - dur("triggerExecution")))
    out.num("stream.state_rows", if (prog.isEmpty) 0.0 else prog.map(_.stateRows).max.toDouble)
    out.num("stream.state_mb", if (prog.isEmpty) 0.0 else prog.map(_.stateBytes).max / 1e6)

    // ---- table resolution: per round over all ten tables
    val resolveJobs = ev.jobs.count(j => resolveSpans.exists(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs))
    out.num("tables.resolve_s", Harness.median(resolveSpans.map(_.seconds)))
    out.num("tables.resolve_jobs",
      if (resolveSpans.isEmpty) 0.0 else resolveJobs.toDouble / resolveSpans.size)
  }
}
