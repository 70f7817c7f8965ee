package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal


/** One measured operation: numbers only, so that keeping it holds no plan
  * or result alive.
  */
final case class Record(op: Op, seconds: Double, out: Outcome, coverage: Coverage,
    deltas: Map[String, Double]) {
  def delta(k: String): Double = deltas.getOrElse(k, 0.0)
}

/** Runs operations one at a time (a closed loop with one client) and
  * measures each from outside: wall time, counter deltas and, when a
  * tracer is attached, spans and plans: `run` also returns the op's
  * context, which holds the QueryExecutions it built and ran.
  */
final class Runner(env: Env, wl: Workload, stats: Map[String, TableStats]) {
  private var nextId = 0
  private val coverageOf = mutable.Map.empty[String, Coverage]
  val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
  val failed = mutable.Map.empty[String, Int].withDefaultValue(0)

  def run(op: Op, tracer: Option[Tracer]): (Record, OpCtx) = {
    val spark = env.spark
    val sc = spark.sparkContext
    nextId += 1
    val id = nextId
    sc.setJobGroup(Tracer.GroupPrefix + id, op.name, interruptOnCancel = false)
    val ctx = new OpCtx(spark, tracer, id)
    val c0 = Counters.now()
    val s0 = Tracer.nowMs()
    val t0 = System.nanoTime()
    val out = try op.run(ctx) catch {
      case NonFatal(e) => Outcome(false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
        Some(Coverage.zero))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val c1 = Counters.now()
    sc.clearJobGroup()
    sc.setLocalProperty(Tracer.PhaseKey, null)
    tracer.foreach { t =>
      t.span(id, "op", op.name, s0, Tracer.nowMs())
      (ctx.built ++ ctx.ran).distinct.foreach(_.tracker.phases.foreach { case (phase, s) =>
        t.span(id, phase, phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      })
    }
    op.after()
    attempted(op.name) += 1
    if (!out.ok) {
      failed(op.name) += 1
      System.err.println(s"[perfbench] FAIL ${op.name}: ${out.detail.take(500)}")
    }
    val coverage = out.coverage.getOrElse(coverageOf.getOrElseUpdate(op.name,
      ctx.ran.lastOption.fold(Coverage.zero)(qe => Plans.parquetCoverage(qe.executedPlan, stats))))
    (Record(op, seconds, out, coverage, c1 - c0), ctx)
  }

  private var pass = 0

  /** Whole passes until `seconds` have elapsed and at least
    * [[Workload.MinPasses]] are done. With a tracer every operation runs
    * twice in a row, once untraced and once traced, alternating which goes
    * first, and one pass suffices (the tail needs no samples there);
    * returns the untraced records, the traced ones with their contexts and
    * the wall time.
    */
  def timed(seconds: Double, tracer: Option[Tracer]): (Seq[Record], Seq[(Record, OpCtx)], Double) = {
    val plain = mutable.ArrayBuffer.empty[Record]
    val traced = mutable.ArrayBuffer.empty[(Record, OpCtx)]
    val t0 = System.nanoTime()
    var passes = 0
    val minPasses = if (tracer.isDefined) 1 else Workload.MinPasses
    while (passes < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.pass(pass).zipWithIndex.foreach { case (op, i) =>
        tracer match {
          case None => plain += run(op, None)._1
          case Some(t) =>
            def withTracer(): Unit = {
              val sc = env.spark.sparkContext
              sc.addSparkListener(t)
              try traced += run(op, tracer)
              finally {
                org.apache.spark.PerfbenchBridge.drainListeners(sc)
                sc.removeSparkListener(t)
              }
            }
            if (i % 2 == 0) { plain += run(op, None)._1; withTracer() }
            else { withTracer(); plain += run(op, None)._1 }
        }
      }
      pass += 1
      passes += 1
    }
    (plain.toSeq, traced.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

object Stat {
  /** Linear interpolation between closest ranks, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

object Main {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val stats = TableStats.load(s"${opt("data")}/stats.tsv")

    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")
    mark("jvm up")
    def session() = graft.Engine.session(master = s"local[${Runtime.getRuntime.availableProcessors}]")
    val env = new Env(session(), opt("data"), s"$work/warehouse", stats, seed)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl = Workload(workload, env)
    val runner = new Runner(env, wl, stats)
    mark("session")
    wl.prepare()
    mark("prepared")
    // each repetition: a new session, fresh fixtures, warm-up operations
    val setupS = (0 until SetupReps).map { rep =>
      val s = System.nanoTime()
      env.spark.stop()
      env.spark = session()
      wl.setup(rep, op => runner.run(op, None))
      (System.nanoTime() - s) / 1e9
    }
    val spark = env.spark
    mark(s"set up: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    val tracer = if (traced) Some(new Tracer) else None
    wl.markTrace()
    val (plain, tracedRecs, wall) = runner.timed(seconds, tracer)
    // traced runs interleave both kinds, so their rates come from op time
    val plainWall = if (traced) plain.map(_.seconds).sum else wall
    val tracedWall = tracedRecs.map(_._1.seconds).sum
    mark(s"timed phase: ${plain.size + tracedRecs.size} ops")
    // the heap before anything else is kept: untraced records hold numbers
    // only. Spark's ContextCleaner frees broadcast and shuffle blocks only
    // after a GC has collected their handles, so several GCs apart, and
    // the lowest reading is the live heap
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    (plain ++ tracedRecs.map(_._1)).groupBy(_.op.name).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      System.err.println(f"[perfbench] op $name%-26s n=${rs.size}%3d " +
        f"p50=${Stat.median(rs.map(_.seconds))}%.4f s max=${rs.map(_.seconds).max}%.4f s")
    }
    wl.finalChecks.foreach(runner.run(_, None))
    val state = wl.tableState()
    wl.dumpOracle(s"$work/oracle")
    mark("final checks")

    val reads = plain.filter(_.op.kind == Kind.Read)
    val writes = plain.filter(_.op.kind == Kind.Write)
    val readSecs = reads.map(_.seconds).sum
    val readTail = Stat.percentile(reads.map(_.seconds), Workload.TailPct)
    val writeTail = Stat.percentile(writes.map(_.seconds), Workload.TailPct)
    val changed = writes.map(_.out.changedBytes).sum.toDouble
    val attempted = runner.attempted.values.sum
    val failed = runner.failed.values.sum
    val e2e = Map(
      "setup_s" -> Stat.median(setupS),
      "read_p50_s" -> Stat.median(reads.map(_.seconds)),
      "read_tail_s" -> readTail,
      "ops_per_s" -> plain.size / plainWall,
      "scan_rows_per_s" -> reads.map(_.coverage.rows).sum / readSecs,
      "scan_mb_per_s" -> reads.map(_.coverage.bytes).sum / 1e6 / readSecs,
      "heap_live_mb" -> heapMb)
    val report = e2e ++ Map(
      "read_tail_pct" -> Workload.TailPct,
      "write_p50_s" -> Stat.median(writes.map(_.seconds)),
      "write_tail_s" -> writeTail,
      "write_amp" -> (if (changed > 0) writes.map(_.delta("io.bytes_written")).sum / changed else 0.0),
      "space_amp" -> state.get("logical_bytes").filter(_ > 0)
        .fold(0.0)(state.getOrElse("disk_bytes", 0.0) / _),
      "error_rate" -> failed.toDouble / attempted.max(1),
      "session_start_s" -> sessionS,
      "read_samples" -> reads.size.toDouble,
      "write_samples" -> writes.size.toDouble)
    val perLayer = tracer.fold(Map.empty[String, Double]) { t =>
      Layers.of(tracedRecs, plain.size + tracedRecs.size, t, wl, state) ++ Map(
        "trace.ops_per_s_untraced" -> plain.size / plainWall,
        "trace.ops_per_s_traced" -> tracedRecs.size / tracedWall,
        "trace.overhead_pct" -> 100.0 * (1.0 - (tracedRecs.size / tracedWall) / (plain.size / plainWall)))
    }
    tracer.foreach(t => Layers.writeSpans(s"$work/spans.json", workload, seed, t))

    def counts(m: Iterable[(String, Int)]) = Json.obj(m.toSeq.sorted.map { case (k, v) => k -> v.toString })
    Json.write(opt("out"), Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "op_counts" -> counts(runner.attempted),
      "failures" -> counts(runner.failed),
      "end_to_end" -> Json.nums(e2e),
      "report" -> Json.nums(report ++ perLayer.filter(_._1.startsWith("trace."))),
      "per_layer" -> Json.nums(perLayer ++ report.view.filterKeys(Layers.FromReport).toMap))))
    spark.stop()
    mark("stopped")
  }
}
