package perfbench

/** Folds the spans of one traced timed pass into the per-layer metrics. */
object Layers {
  /** Program modules whose jobs are counted apart, by call-site file. */
  val Modules: Seq[String] = Seq("Tables", "Dedup", "Text", "Joins", "Sources")
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r

  def moduleOf(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("?")

  /** Length of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - (a max reach); reach = b }
      }
    total
  }

  /** `untracedWall`: the mean wall time of the untraced passes run right
    * before and right after the traced one.
    */
  def apply(tr: Tracer, pass: Span, setup: Span, cores: Int,
      untracedWall: Double): Map[String, Double] = {
    val spans = tr.all
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    val ops = kids(pass.id).filter(_.kind == "op")
    def phases(kind: String) = ops.flatMap(o => kids(o.id).filter(_.kind == kind))
    def jobsOf(s: Span) = kids(s.id).filter(_.kind == "job")
    def sum(xs: Seq[Span])(f: Span => Double) = xs.map(f).sum
    def selfTime(ps: Seq[Span]) =
      sum(ps)(p => p.dur - covered(jobsOf(p).map(j => (j.start, j.end)), p.start, p.end))

    val construct = phases("construct")
    val plan = phases("plan")
    val execute = phases("execute")
    val allJobs = (construct ++ plan ++ execute).flatMap(jobsOf)
    val execJobs = execute.flatMap(jobsOf)
    val executeS = sum(execute)(_.dur)
    val tasks = sum(execJobs)(_.attr("tasks"))
    val batches = ops.flatMap(o => kids(o.id).filter(_.kind == "batch"))
    val doorOps = ops.filter(o => kids(o.id).exists(_.kind == "batch"))
    val setupReps = kids(setup.id)
    val mrOps = ops.filter(_.attr("pairs") > 0)
    val mrJobs = mrOps.flatMap(o => kids(o.id)).flatMap(jobsOf)

    val modules = Modules.flatMap { m =>
      val js = allJobs.filter(j => moduleOf(j.name) == m)
      Seq(s"${m.toLowerCase}.jobs" -> js.size.toDouble, s"${m.toLowerCase}.job_s" -> sum(js)(_.dur))
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val mb = 1048576.0
    modules.toMap ++ Map(
      "construct.s" -> sum(construct)(_.dur),
      "construct.jobs" -> construct.flatMap(jobsOf).size.toDouble,
      "construct.self_s" -> selfTime(construct),
      "plan.s" -> sum(plan)(_.dur),
      "plan.analysis_s" -> sum(ops)(_.attr("plan_analysis_s")),
      "plan.optimization_s" -> sum(ops)(_.attr("plan_optimization_s")),
      "plan.planning_s" -> sum(ops)(_.attr("plan_planning_s")),
      "plan.self_s" -> selfTime(plan),
      "execute.s" -> executeS,
      "execute.self_s" -> selfTime(execute),
      "execute.jobs" -> execJobs.size.toDouble,
      "execute.stages" -> sum(execJobs)(_.attr("stages")),
      "execute.tasks" -> tasks,
      "execute.task_cpu_s" -> sum(execJobs)(_.attr("task_cpu_s")),
      "execute.task_run_s" -> sum(execJobs)(_.attr("task_run_s")),
      "execute.parallelism" -> ratio(sum(execJobs)(_.attr("task_run_s")), executeS * cores),
      "execute.task_wait_s" -> ratio(sum(execJobs)(_.attr("task_wait_s")), tasks),
      "execute.gc_s" -> sum(execJobs)(_.attr("gc_s")),
      "execute.shuffle_write_mb" -> sum(execJobs)(_.attr("shuffle_write_bytes")) / mb,
      "execute.shuffle_read_mb" -> sum(execJobs)(_.attr("shuffle_read_bytes")) / mb,
      "execute.spill_mb" -> sum(execJobs)(_.attr("spill_bytes")) / mb,
      "mr.map_s" -> sum(mrJobs)(_.attr("map_run_s")),
      "mr.reduce_s" -> sum(mrJobs)(_.attr("result_run_s")),
      "mr.shuffle_write_mb" -> sum(mrJobs)(_.attr("shuffle_write_bytes")) / mb,
      "mr.shuffle_records_per_pair" ->
        ratio(sum(mrJobs)(_.attr("shuffle_write_records")), sum(mrOps)(_.attr("pairs"))),
      "mr.parallelism" -> ratio(sum(mrJobs)(_.attr("task_run_s")), sum(mrOps)(_.dur) * cores),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s" -> sum(batches)(_.attr("trigger_s")),
      "streaming.add_batch_s" -> sum(batches)(_.attr("add_batch_s")),
      "streaming.latest_offset_s" -> sum(batches)(_.attr("latest_offset_s")),
      "streaming.get_batch_s" -> sum(batches)(_.attr("get_batch_s")),
      "streaming.query_planning_s" -> sum(batches)(_.attr("query_planning_s")),
      "streaming.wal_commit_s" -> sum(batches)(_.attr("wal_commit_s")),
      "streaming.commit_offsets_s" -> sum(batches)(_.attr("commit_offsets_s")),
      "streaming.rows_in" -> sum(batches)(_.attr("rows_in")),
      "streaming.fixed_s" -> (sum(doorOps)(_.dur) - sum(batches)(_.attr("trigger_s"))),
      "stores.jobs" -> ratio(setupReps.flatMap(jobsOf).size, setupReps.size),
      // the share of each op's wall time its construct, plan and execute
      // spans cover; the worst op is reported
      "op.accounted_frac" -> (if (ops.isEmpty) 0.0 else ops.map { o =>
        ratio(sum(kids(o.id).filter(k => Set("construct", "plan", "execute")(k.kind)))(_.dur), o.dur)
      }.min),
      "trace.overhead" -> ratio(pass.dur, untracedWall),
      "trace.spans" -> spans.size.toDouble)
  }
}
