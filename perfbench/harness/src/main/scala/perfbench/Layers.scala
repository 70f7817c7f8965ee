package perfbench

/** Per-layer metrics of a traced phase, each a mean per operation, and
  * the span file.
  */
object Layers {
  /** End-to-end figures the per-layer output also carries, because they
    * apply to one workload only or can be zero.
    */
  val FromReport: Set[String] =
    Set("write_p50_s", "write_tail_s", "write_amp", "space_amp", "error_rate")

  val Counted: Seq[String] = Seq("cole.meta.footer_reads", "cole.scan.row_groups_decoded",
    "cole.scan.row_groups_skipped_bloom", "cole.commit.row_groups_spliced",
    "cole.commit.noop_skips", "cole.commit.retries", "cole.commit.version_reads",
    "cole.io.opens", "io.bytes_read", "io.bytes_written", "jvm.gc_s")

  val Exec: Seq[String] = Seq("build.jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.task_wait_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks")

  val SpanLayers: Seq[String] =
    Seq("op", "build", "analysis", "optimization", "planning", "action", "job", "stage")

  /** `timedOps` counts both kinds of execution: commits are counted from
    * the table history, which both kinds write.
    */
  def of(traced: Seq[(Record, OpCtx)], timedOps: Int, t: Tracer, wl: Workload,
      state: Map[String, Double]): Map[String, Double] = {
    val exes = traced.map { case (r, c) => new Exe(r, c) }
    val n = exes.size.max(1).toDouble
    def mean(f: Exe => Double) = exes.map(f).sum / n
    val conf = graft.sources.cole.ColeIO.driverConf()
    val files = exes.flatMap(_.colePaths).distinct
      .map(p => p -> graft.sources.cole.ColeIO.listPartitioned(p, conf).size.toDouble).toMap
    val sum = (k: String) => exes.map(_.r.delta(k)).sum
    // the ratios count the executions that scan COLE; the skip ratio only
    // those on tables whose row groups do not change during the run
    val scanning = exes.filter(_.colePaths.nonEmpty)
    val planned = scanning.map(_.colePaths.map(files).sum).sum
    val footerReads = scanning.map(_.r.delta("cole.meta.footer_reads")).sum
    val sized = scanning.filter(_.colePaths.forall(wl.rowGroups(_) > 0))
    val groups = sized.map(_.colePaths.map(wl.rowGroups).sum.toDouble).sum
    val decoded = sized.map(_.r.delta("cole.scan.row_groups_decoded")).sum
    val (added, removed) = wl.commitFiles()
    val self = selfTimes(t)

    Counted.map(k => k -> sum(k) / n).toMap ++
    Exec.map(k => k -> mean(e => t.exec.get(e.ctx.opId).flatMap(_.get(k)).getOrElse(0.0))) ++
    SpanLayers.map(l => s"span.$l.self_s" -> self.getOrElse(l, 0.0) / n) ++
    state.filter(_._1.startsWith("cole.table.")) ++ Map(
      "build.s" -> mean(_.ctx.phaseS.getOrElse("build", 0.0)),
      "catalyst.analysis_s" -> mean(_.phase("analysis")),
      "catalyst.optimization_s" -> mean(_.phase("optimization")),
      "catalyst.planning_s" -> mean(_.phase("planning")),
      "exec.action_s" -> mean(_.ctx.phaseS.getOrElse("action", 0.0)),
      "exec.exchanges" -> mean(_.exchanges.map(_._1).sum.toDouble),
      "exec.broadcasts" -> mean(_.exchanges.map(_._2).sum.toDouble),
      "cole.meta.files_planned" -> planned / n,
      "cole.meta.hit_ratio" ->
        (if (planned > 0) (1.0 - footerReads / planned).max(0.0) else 0.0),
      "cole.scan.skip_ratio" -> (if (groups > 0) (1.0 - decoded / groups).max(0.0) else 0.0),
      "cole.scan.bytes_read" -> mean(e => if (e.colePaths.nonEmpty) e.r.delta("io.bytes_read") else 0.0),
      "cole.scan.agg_pushed" -> mean(_.aggPushed.toDouble),
      "cole.scan.folded" -> mean(e => if (e.aggPushed > 0 && e.r.delta("cole.io.opens") == 0) 1.0 else 0.0),
      "cole.commit.files_added" -> added.toDouble / timedOps,
      "cole.commit.files_removed" -> removed.toDouble / timedOps,
      "cole.commit.bytes_written" ->
        mean(e => if (e.r.op.kind == Kind.Write) e.r.delta("io.bytes_written") else 0.0))
  }

  /** One traced execution and what its QueryExecutions show. */
  private final class Exe(val r: Record, val ctx: OpCtx) {
    private val qes = (ctx.built ++ ctx.ran).distinct
    private val plans = ctx.ran.map(_.executedPlan)
    private val scans = plans.map(Plans.coleScans)
    /** Table paths of its COLE scans, and how many answer an aggregate. */
    val colePaths: Seq[String] = scans.flatMap(_._1).toSeq
    val aggPushed: Int = scans.map(_._2).sum
    val exchanges: Seq[(Int, Int)] = plans.map(Plans.exchanges).toSeq
    def phase(p: String): Double =
      qes.flatMap(_.tracker.phases.get(p)).map(_.durationMs / 1000.0).sum
  }

  /** Parent of each span: build and action spans hang under their op,
    * Catalyst phases and jobs under the build or action span they ran in,
    * stages under their job.
    */
  def parents(t: Tracer): Map[Int, Int] = {
    val byOp = t.spans.groupBy(_.op)
    t.spans.map { s =>
      val mine = byOp(s.op)
      val op = mine.find(_.layer == "op").map(_.id).getOrElse(0)
      def within(layers: Set[String]) = mine.filter(p => layers(p.layer) &&
        p.startMs <= s.startMs + 1 && s.startMs <= p.endMs + 1).lastOption.map(_.id)
      s.id -> (s.layer match {
        case "op" => 0
        case "build" | "action" => op
        case "job" => within(Set(if (s.phase == "build") "build" else "action")).getOrElse(op)
        case "stage" => mine.find(p => p.layer == "job" && p.job == s.job).map(_.id).getOrElse(op)
        case _ => within(Set("build", "action")).getOrElse(op)
      })
    }.toMap
  }

  /** Seconds per layer not covered by a child span. */
  def selfTimes(t: Tracer): Map[String, Double] = {
    val parent = parents(t)
    val childS = t.spans.groupBy(s => parent(s.id)).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    t.spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.seconds - childS.getOrElse(s.id, 0.0)).max(0.0)).sum
    }
  }

  def writeSpans(path: String, workload: String, seed: Long, t: Tracer): Unit = {
    val parent = parents(t)
    val spans = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> parent(s.id).toString,
        "op" -> s.op.toString, "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }
    Json.write(path, Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "self_s" -> Json.nums(selfTimes(t)), "spans" -> spans.mkString("[\n", ",\n", "\n]"))))
  }
}
