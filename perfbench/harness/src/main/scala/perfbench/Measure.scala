package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

sealed trait Kind
object Kind {
  case object Read extends Kind
  case object Write extends Kind
}

/** Logical input an operation covers: rows and uncompressed bytes of the
  * columns it reads, the denominators of the scan throughput metrics.
  */
final case class Coverage(rows: Long, bytes: Long) {
  def +(o: Coverage): Coverage = Coverage(rows + o.rows, bytes + o.bytes)
}
object Coverage { val zero: Coverage = Coverage(0, 0) }

/** The outcome of one operation: whether its output matched the
  * expectation, and what it covered or changed. Coverage `None` means
  * "derive it from the parquet scans of the executed plan".
  */
final case class Outcome(ok: Boolean, detail: String, coverage: Option[Coverage],
    changedBytes: Long = 0L)

object Outcome {
  def check(got: Any, want: Any, coverage: Option[Coverage]): Outcome =
    Outcome(got == want, if (got == want) "" else s"got $got, want $want", coverage)
}

/** One benchmark operation. `run` builds its DataFrame afresh, materialises
  * every output column and checks the result; `after` runs untimed
  * bookkeeping once the operation has been measured.
  */
abstract class Op(val name: String, val kind: Kind) {
  def run(ctx: OpCtx): Outcome
  def after(): Unit = ()
}

/** Row counts and per-column logical bytes of the generated tables. */
final case class TableStats(rows: Long, bytes: Map[String, Long]) {
  def cover(cols: Seq[String]): Coverage = Coverage(rows, cols.map(bytes.getOrElse(_, 0L)).sum)
  def total: Long = bytes.values.sum
}

object TableStats {
  /** Reads the `table<TAB>column<TAB>bytes` file the data generator writes;
    * the pseudo-column `#rows` carries the row count.
    */
  def load(path: String): Map[String, TableStats] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .map(_.split('\t')).filter(_.length == 3)
    lines.groupBy(_(0)).map { case (t, ls) =>
      val m = ls.map(l => l(1) -> l(2).toLong).toMap
      t -> TableStats(m("#rows"), m - "#rows")
    }
  }
}

/** Order-insensitive checksums over every output column. */
object Checksum {
  private def rowHash(r: Row, seed: Int): Int =
    scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }, seed)

  /** Collects the rows to the driver and folds a per-row hash. */
  def ofRows(rows: Array[Row]): String = {
    var a = 0L
    var b = 0L
    rows.foreach { r => a += rowHash(r, 17); b += rowHash(r, 0x5bd1e995) }
    s"${rows.length}:$a:$b"
  }

  /** The same fold, computed by Spark next to the data: for outputs too
    * large to ship to the driver.
    */
  def aggregate(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    df.select(hash(cols: _*).cast("long").as("h1"),
        pmod(xxhash64(cols: _*), lit(1000000007L)).as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(0L)), coalesce(sum("h2"), lit(0L)))
  }

  def ofAggregate(r: Row): String = s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
}

/** Walks an executed plan, adaptive stages, commands and subqueries
  * included. A reused exchange is not descended: its scan ran once.
  */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case _: ReusedExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** Logical input of every parquet scan in the plan. */
  def parquetCoverage(p: SparkPlan, stats: Map[String, TableStats]): Coverage = {
    def of(root: Option[org.apache.hadoop.fs.Path], cols: Seq[String]): Coverage =
      root.flatMap(r => stats.get(r.getName.stripSuffix(".parquet")))
        .fold(Coverage.zero)(_.cover(cols))
    nodes(p).map {
      case f: FileSourceScanExec =>
        of(f.relation.location.rootPaths.headOption, f.requiredSchema.fieldNames.toSeq)
      case b: BatchScanExec => b.scan match {
        case fs: FileScan => of(fs.fileIndex.rootPaths.headOption, fs.readDataSchema.fieldNames.toSeq)
        case _ => Coverage.zero
      }
      case _ => Coverage.zero
    }.foldLeft(Coverage.zero)(_ + _)
  }

  private val ColePath = """^Cole\w*(?:\[\w+\])? (?:path=)?([^,\s]+)""".r.unanchored

  /** Table paths of the COLE scans in the plan, and how many of them
    * answer an aggregate inside the source.
    */
  def coleScans(p: SparkPlan): (Seq[String], Int) = {
    val descs = nodes(p).collect { case b: BatchScanExec => b.scan.description() }
    (descs.collect { case ColePath(path) => path }, descs.count(_.startsWith("ColeAggScan")))
  }

  def exchanges(p: SparkPlan): (Int, Int) = {
    val ns = nodes(p)
    (ns.count(_.isInstanceOf[ShuffleExchangeLike]), ns.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** JVM-global counters read before and after each operation. A delta is
  * exact because one client runs one operation at a time.
  */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Map[String, Double] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

object Counters {
  import graft.sources.cole._
  def now(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Counters(Map(
      "cole.meta.footer_reads" -> ColeMetaCache.footerReads.get().toDouble,
      "cole.scan.row_groups_decoded" -> ColeReaderMetrics.rowGroupsDecoded.get().toDouble,
      "cole.scan.row_groups_skipped_bloom" -> ColeBloomIndex.skippedRowGroups.get().toDouble,
      "cole.commit.row_groups_spliced" -> ColeDelete.splicedRowGroups.get().toDouble,
      "cole.commit.noop_skips" -> ColeDelete.noopRewriteSkips.get().toDouble,
      "cole.commit.retries" -> ColeDmlRetry.retries.get().toDouble,
      "cole.commit.version_reads" -> ColeVersions.recordReads.get().toDouble,
      "cole.io.opens" -> ColeIO.opens.get().toDouble,
      "io.bytes_read" -> fs.map(_.getBytesRead.toDouble).sum,
      "io.bytes_written" -> fs.map(_.getBytesWritten.toDouble).sum,
      "jvm.gc_s" -> gcMs / 1000.0))
  }
}

/** One span of the traced run's tree: op → build / action → job → stage,
  * with the Catalyst phases beside them. Times are epoch milliseconds.
  */
final case class Span(id: Int, op: Int, layer: String, name: String,
    startMs: Double, endMs: Double, job: Int = -1, phase: String = "") {
  def seconds: Double = (endMs - startMs).max(0.0) / 1000.0
}

/** Per-operation context: phases, materialisation and, when tracing,
  * spans and the plans the operation ran.
  */
final class OpCtx(val spark: SparkSession, val tracer: Option[Tracer], val opId: Int) {
  type QE = org.apache.spark.sql.execution.QueryExecution
  /** Every QueryExecution the op created, and those it ran. */
  val built = mutable.ArrayBuffer.empty[QE]
  val ran = mutable.ArrayBuffer.empty[QE]
  /** Wall seconds per phase (`build`, `action`). */
  val phaseS = mutable.Map.empty[String, Double]
  private val sc = spark.sparkContext

  def phase[T](layer: String)(body: => T): T = {
    sc.setLocalProperty(Tracer.PhaseKey, layer)
    val t0 = Tracer.nowMs()
    try body
    finally {
      val t1 = Tracer.nowMs()
      phaseS(layer) = phaseS.getOrElse(layer, 0.0) + (t1 - t0) / 1000.0
      tracer.foreach(_.span(opId, layer, layer, t0, t1))
    }
  }

  /** Builds the DataFrame (eager work included) in the `build` phase. */
  def build(f: => DataFrame): DataFrame = phase("build") {
    val df = f
    built += df.queryExecution
    df
  }

  def collect(df: DataFrame): Array[Row] = phase("action") {
    ran += df.queryExecution
    df.collect()
  }

  def collectChecksum(df: DataFrame): String = Checksum.ofRows(collect(df))

  def aggChecksum(df: DataFrame): String = {
    val agg = Checksum.aggregate(df)
    Checksum.ofAggregate(collect(agg).head)
  }

  /** A SQL statement run as one action (DML, procedures, reads). */
  def sql(text: String): DataFrame = phase("action") {
    val df = spark.sql(text)
    ran += df.queryExecution
    df
  }

  def sqlRows(text: String): Array[Row] = phase("action") {
    val df = spark.sql(text)
    ran += df.queryExecution
    df.collect()
  }
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  val PhaseKey = "perfbench.phase"
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records spans in memory, and job, stage and task statistics per
  * operation from a SparkListener keyed by the per-op job group.
  */
final class Tracer extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOf = mutable.Map.empty[Int, (Int, String, Double)]
  private val stageOp = mutable.Map.empty[Int, (Int, Int)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  /** op → accumulated exec.* values */
  val exec = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private def add(op: Int, k: String, v: Double): Unit = {
    val m = exec.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  def span(op: Int, layer: String, name: String, s: Double, e: Double,
      job: Int = -1, phase: String = ""): Unit = synchronized {
    spans += Span(spans.size + 1, op, layer, name, s, e, job, phase)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt).foreach { op =>
      val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("action")
      jobOf(e.jobId) = (op, phase, e.time.toDouble)
      add(op, if (phase == "build") "build.jobs" else "exec.jobs", 1)
      e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.get(e.jobId).foreach { case (op, phase, start) =>
      span(op, "job", s"job ${e.jobId}", start, e.time.toDouble, e.jobId, phase)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOp.get(si.stageId).foreach { case (op, job) =>
      add(op, "exec.stages", 1)
      span(op, "stage", s"stage ${si.stageId}", si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble, job)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      add(op, "exec.tasks", 1)
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add(op, "exec.failed_tasks", 1)
      val submitted = stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime)
      add(op, "exec.task_wait_s", (e.taskInfo.launchTime - submitted).max(0L) / 1000.0)
      Option(e.taskMetrics).foreach { m =>
        add(op, "exec.task_run_s", m.executorRunTime / 1000.0)
        add(op, "exec.task_cpu_s", m.executorCpuTime / 1e9)
        add(op, "exec.task_gc_s", m.jvmGCTime / 1000.0)
        add(op, "exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
}
