package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload needs from the run. `spark` is the current session:
  * every set-up repetition starts a new one.
  */
final class Env(var spark: SparkSession, val dataDir: String, val warehouse: String,
    val stats: Map[String, TableStats], val seed: Long) {
  def conf: org.apache.hadoop.conf.Configuration = graft.sources.cole.ColeIO.driverConf()
}

/** One share of a workload: its operations, fixtures and checks. */
trait Part {
  /** Untimed preparation before the first set-up: expected results. */
  def prepare(): Unit = ()
  /** One set-up repetition: fresh fixtures, then warm-up operations. */
  def setup(rep: Int, run: Op => Unit): Unit
  /** The operations of timed pass `p`. */
  def pass(p: Int): Seq[Op]
  /** Checks of the final state, run after the timed phase. */
  def finalChecks: Seq[Op] = Nil
  /** `cole.table.*` state at the end of the run, with the tables' bytes on
    * disk (`disk_bytes`) and the logical bytes of their live rows
    * (`logical_bytes`).
    */
  def tableState(): Map[String, Double] = Map.empty
  /** Row groups of a COLE table path whose layout the run does not
    * change, for the skip ratio; 0 for any other path.
    */
  def rowGroups(path: String): Long = 0L
  /** Marks the start of the timed phase (commit statistics count from here). */
  def markTrace(): Unit = ()
  /** Files added and removed by commits since [[markTrace]]. */
  def commitFiles(): (Long, Long) = (0L, 0L)
  /** Writes the rows of each key's first run, for the DuckDB cross-check. */
  def dumpOracle(dir: String): Unit = ()
}

/** The parts of one benchmark workload, run as one. The first timed pass
  * runs the parts one after another, each in its own order, so every run
  * pays the same first-run costs; later passes mix all of their
  * operations in one seeded order.
  */
final class Workload(val env: Env, parts: Seq[Part]) {
  def prepare(): Unit = Workload.inParallel(parts)(_.prepare())
  def setup(rep: Int, run: Op => Unit): Unit = parts.foreach(_.setup(rep, run))
  def pass(p: Int): Seq[Op] = {
    val ops = parts.flatMap(_.pass(p))
    if (p == 0) ops else Workload.shuffled(ops, env.seed, p)
  }
  def finalChecks: Seq[Op] = parts.flatMap(_.finalChecks)
  def tableState(): Map[String, Double] = {
    val states = parts.map(_.tableState())
    states.flatMap(_.keys).distinct.map(k => k -> states.map(_.getOrElse(k, 0.0)).sum).toMap
  }
  def rowGroups(path: String): Long = parts.map(_.rowGroups(path)).sum
  def markTrace(): Unit = parts.foreach(_.markTrace())
  def commitFiles(): (Long, Long) = {
    val fs = parts.map(_.commitFiles())
    (fs.map(_._1).sum, fs.map(_._2).sum)
  }
  def dumpOracle(dir: String): Unit = parts.foreach(_.dumpOracle(dir))
}

object Workload {
  /** Whole passes every timed phase makes at least, so that the tail
    * percentile below always has 10 or more reads beyond it.
    */
  val MinPasses = 2
  val TailPct = 75.0

  val Tpch: Seq[String] = (1 to 22).map(i => s"tpch_q$i")
  /** The keys of `graft.operators`, `graft.plans` and `graft.functions`. */
  val LlmOps: Seq[String] = Seq("ann_pq", "ann_ivfpq", "ann_lsh", "dedup_clusters",
    "dedup_minhash_lsh", "events_funnel", "topk_per_key", "corpus_ngram_stats",
    "text_repetition")

  def apply(name: String, env: Env): Workload = name match {
    case "tpch" => new Workload(env, Seq(new Keyed(env, Tpch, Seq("tpch_q6"), once = false)))
    // the LLM-style keys run once per run: a second pass would not fit the run time
    case "cole" => new Workload(env, Seq(new ColeScan(env), new ColeDml(env),
      new Keyed(env, LlmOps, Nil, once = true)))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs `f` on each element, a few at a time: for untimed work only. */
  def inParallel[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  /** Bytes under a directory, everything the table keeps on disk. */
  def diskBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => diskBytes(c.getPath)).sum).getOrElse(0L)
  }

  def sameTable(a: String, b: String): Boolean =
    a.stripPrefix("file:").stripSuffix("/") == b.stripPrefix("file:").stripSuffix("/")

  /** Live files, bytes, deleted rows and row groups of a catalog table. */
  def filesOf(spark: SparkSession, ident: String): Array[Long] = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(size_bytes), 0), " +
      s"coalesce(sum(deleted_rows), 0), coalesce(sum(row_groups), 0) FROM $ident").head()
    Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }
}

/** Query keys of `SparkEntry.queries` over the generated parquet tables.
  * Every run of a key must give the checksum of its first run, whose rows
  * are cross-checked against DuckDB after the run. Set-up has no fixtures:
  * each repetition runs the `warmup` keys once. Warming every key would
  * cost a pass per repetition, so the first timed pass carries the keys'
  * first runs instead, in key order. Later passes run the keys again,
  * unless `once`: then a key's first run is its only one.
  */
final class Keyed(env: Env, keys: Seq[String], warmup: Seq[String], once: Boolean) extends Part {
  private val fns = graft.SparkEntry.queries
  private val first = mutable.Map.empty[String, (String, org.apache.spark.sql.types.StructType, Array[Row])]

  private final class KeyOp(key: String) extends Op(key, Kind.Read) {
    def run(ctx: OpCtx): Outcome = {
      val fn = fns.getOrElse(key, throw new NoSuchElementException(s"no query key $key"))
      val df = ctx.build(fn(ctx.spark, env.dataDir))
      val rows = ctx.collect(df)
      val sum = Checksum.ofRows(rows)
      Outcome.check(sum, first.getOrElseUpdate(key, (sum, df.schema, rows))._1, None)
    }
  }

  private val ops = keys.map(new KeyOp(_))

  def setup(rep: Int, run: Op => Unit): Unit = ops.filter(o => warmup.contains(o.name)).foreach(run)

  def pass(p: Int): Seq[Op] = if (p == 0 || !once) ops else Nil

  override def dumpOracle(dir: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val dumped = first.keys.toSeq.sorted.filter(oracle.contains)
    Workload.inParallel(dumped) { k =>
      val (_, schema, rows) = first(k)
      env.spark.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(s"$dir/$k")
    }
    Json.write(s"$dir/oracle_sql.json", Json.obj(dumped.map(k => k -> Json.str(oracle(k)))))
  }
}

/** The reference engine's scan shapes over a COLE copy of lineitem that is
  * sorted on `l_shipdate`, has many row groups and a bloom index on the
  * string key `l_key`. Each result must equal the same query over the
  * parquet source.
  */
final class ColeScan(env: Env) extends Part {
  import env._
  private val li = stats("lineitem")
  private val allCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  private val rnd = new Random(seed)
  private def day(n: Int) = java.time.LocalDateTime.of(1995, 1, 2, 0, 0).plusDays(n.toLong)
  private val selective = day(rnd.nextInt(2400))
  private val wide = day(1000 + rnd.nextInt(500))
  private val year = day(rnd.nextInt(2100))
  private val bloomKey = (rnd.nextDouble() * stats("orders").rows).toLong
  private val flag = Seq("A", "N", "R")(rnd.nextInt(3))
  private val status = Seq("F", "O")(rnd.nextInt(2))
  private var rep = 0
  private var path = ""
  private var groups = 0L

  /** Lineitem with `l_key`, a unique high-cardinality string
    * (`<l_orderkey>-<l_linenumber>`): the bloom index covers string columns.
    */
  private def source: DataFrame = graft.Tables.lineitem(spark, dataDir)
    .withColumn("l_key", concat_ws("-", col("l_orderkey"), col("l_linenumber")))

  private def shipIn(from: java.time.LocalDateTime, days: Int) =
    col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(from.plusDays(days.toLong))
  /** Every one foldable from footers, so the unfiltered one can skip the sweep. */
  private val aggs = Seq(count(lit(1)), sum("l_orderkey"), sum("l_linenumber"),
    min("l_extendedprice"), max("l_extendedprice"))

  /** `large` results are checksummed next to the data, others collected. */
  private final class Q(name: String, cols: Seq[String], large: Boolean,
      val q: DataFrame => DataFrame) extends Op(name, Kind.Read) {
    var expected = ""
    def checksum(ctx: OpCtx, df: DataFrame): String =
      if (large) ctx.aggChecksum(df) else ctx.collectChecksum(df)
    def run(ctx: OpCtx): Outcome = {
      val df = ctx.build(q(ctx.spark.read.format("cole").load(path)))
      Outcome.check(checksum(ctx, df), expected, Some(li.cover(cols)))
    }
  }

  private val ops = Seq(
    new Q("full_scan", allCols, true, _.select(allCols.map(col): _*)),
    new Q("projected_scan", Seq("l_orderkey", "l_quantity", "l_extendedprice"), true,
      _.select("l_orderkey", "l_quantity", "l_extendedprice")),
    new Q("range_selective", Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"),
      false, _.filter(shipIn(selective, 7))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")),
    new Q("range_wide", Seq("l_shipdate", "l_orderkey", "l_partkey", "l_discount"), true,
      _.filter(col("l_shipdate") >= lit(wide))
        .select("l_orderkey", "l_partkey", "l_shipdate", "l_discount")),
    new Q("bloom_point", allCols :+ "l_key", false, _.filter(col("l_key") === s"$bloomKey-1")),
    new Q("dict_filter", Seq("l_returnflag", "l_linestatus", "l_orderkey", "l_extendedprice"),
      true, _.filter(col("l_returnflag") === flag && col("l_linestatus") === status)
        .select("l_orderkey", "l_extendedprice")),
    new Q("agg_global", Seq("l_orderkey", "l_linenumber", "l_extendedprice"), false,
      _.agg(aggs.head, aggs.tail: _*)),
    new Q("agg_filtered", Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"),
      false, _.filter(shipIn(year, 365)).agg(aggs.head, aggs.tail: _*)),
    new Q("group_by", Seq("l_returnflag", "l_linestatus", "l_orderkey", "l_quantity",
      "l_discount"), false, _.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"), sum("l_orderkey"), max("l_discount"))))

  override def prepare(): Unit = {
    val src = source
    Workload.inParallel(ops)(o => o.expected = o.checksum(new OpCtx(spark, None, 0), o.q(src)))
  }

  def setup(r: Int, run: Op => Unit): Unit = {
    rep = r
    path = s"$warehouse/scan_r$rep/lineitem"
    source.orderBy("l_shipdate")
      .write.format("cole").mode("overwrite").option("rowGroupSize", "4096").save(path)
    spark.sql(s"CALL cole.system.bloom_index('scan_r$rep.lineitem', 'l_key')").collect()
    // every repetition warms a like share; together they run each op once
    ops.zipWithIndex.collect { case (o, i) if i % Main.SetupReps == rep => o }.foreach(run)
  }

  def pass(p: Int): Seq[Op] = Workload.shuffled(ops, seed, p)

  override def tableState(): Map[String, Double] = {
    val f = Workload.filesOf(spark, s"cole.scan_r$rep.`lineitem$$files`")
    groups = f(3)
    Map("cole.table.live_files" -> f(0).toDouble, "cole.table.live_bytes" -> f(1).toDouble,
      "cole.table.dv_rows" -> f(2).toDouble,
      "disk_bytes" -> Workload.diskBytes(path).toDouble, "logical_bytes" -> li.total.toDouble)
  }

  override def rowGroups(p: String): Long = if (Workload.sameTable(p, path)) groups else 0L
}

/** One row of a DML table besides its id. */
final case class DRow(orderkey: Long, partkey: Long, qty: Double, price: Double,
    disc: Double, flag: String, status: String) {
  def cents: Long = Math.round(price * 100)
  def bytes: Long = 48L + flag.length + status.length
  def sql(id: Long): String =
    s"(${id}L, ${orderkey}L, ${partkey}L, ${qty}D, ${price}D, ${disc}D, '$flag', '$status')"
}

/** The benchmark's own model of a DML table: live rows by id, and the
  * running sums its checksum is made of.
  */
final class DmlModel {
  val rows = new java.util.TreeMap[java.lang.Long, DRow]()
  private val sums = new Array[Long](6)
  var bytes = 0L

  private def acc(id: Long, r: DRow, sign: Int): Unit = {
    sums(0) += sign; sums(1) += sign * id; sums(2) += sign * r.qty.toLong
    sums(3) += sign * r.cents; sums(4) += sign * id * r.qty.toLong
    sums(5) += sign * id * r.flag.charAt(0).toLong
    bytes += sign * r.bytes
  }
  def put(id: Long, r: DRow): Unit = {
    Option(rows.put(id, r)).foreach(acc(id, _, -1))
    acc(id, r, 1)
  }
  def remove(id: Long): Option[DRow] = {
    val old = Option(rows.remove(id))
    old.foreach(acc(id, _, -1))
    old
  }
  def checksum: String = sums.mkString(":")
  def copy(): DmlModel = {
    val m = new DmlModel
    rows.asScala.foreach { case (id, r) => m.put(id, r) }
    m
  }
  /** `n` consecutive live ids starting at a random point. */
  def range(rnd: Random, n: Int): Seq[Long] = {
    val start = rows.ceilingKey(rnd.nextLong(rows.lastKey() + 1))
    rows.tailMap(start).keySet().asScala.iterator.take(n).map(_.longValue).toSeq
  }
}

object DmlModel {
  val Checksum: String = "count(*), coalesce(sum(id), 0), " +
    "coalesce(sum(CAST(l_quantity AS BIGINT)), 0), " +
    "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0), " +
    "coalesce(sum(id * CAST(l_quantity AS BIGINT)), 0), coalesce(sum(id * ascii(l_returnflag)), 0)"
  val Columns = "id, l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, " +
    "l_returnflag, l_linestatus"
}

/** Two catalog tables built from lineitem, one copy-on-write and one with
  * deletion vectors, under a seeded mix of reads and writes that the
  * benchmark mirrors in [[DmlModel]]. Inserts balance deletes, and one
  * compaction plus version expiry per table per pass keeps files and space
  * level. Set-up writes the tables only, so the timed phase starts from the
  * same tables in every run; its first pass carries the operations' first
  * runs.
  */
final class ColeDml(env: Env) extends Part {
  import env._
  /** Versions kept by expiry; time travel reads stay inside this window. */
  private val KeepVersions = 8
  private var base: DmlModel = _
  private var batch = 20

  private final class Table(val short: String, val vector: Boolean) {
    var ns = ""
    var model: DmlModel = _
    var nextId = 0L
    var version = 0L
    var traceFrom = 0L
    val versions = mutable.LinkedHashMap.empty[Long, String]
    def ident: String = s"cole.$ns.$short"
    def path: String = s"$warehouse/$ns/$short"
    def record(): Unit = {
      version = graft.sources.cole.ColeVersions.currentVersion(path, conf)
      versions(version) = model.checksum
      versions.keys.filter(_ <= version - KeepVersions + 1).toSeq.foreach(versions.remove)
    }
    def coverage: Coverage = Coverage(model.rows.size.toLong, model.bytes + 8L * model.rows.size)
  }
  private val tables = Seq(new Table("cow", false), new Table("mor", true))

  private def checksumOf(rows: Array[Row]): String = rows.head.toSeq.mkString(":")

  private def newRow(rnd: Random): DRow =
    DRow(rnd.nextLong(1L << 20), rnd.nextLong(1L << 16), (1 + rnd.nextInt(50)).toDouble,
      (90000 + rnd.nextInt(10410000)) / 100.0, rnd.nextInt(11) / 100.0,
      Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))

  private abstract class Write(name: String, t: Table) extends Op(s"$name.${t.short}", Kind.Write) {
    override def after(): Unit = t.record()
  }

  private def ops(t: Table, rnd: Random): Seq[Op] = Seq(
    new Write("insert", t) {
      def run(ctx: OpCtx): Outcome = {
        val rows = (0 until batch / 2).map { _ => t.nextId += 1; t.nextId -> newRow(rnd) }
        ctx.sql(s"INSERT INTO ${t.ident} VALUES " + rows.map { case (id, r) => r.sql(id) }.mkString(", "))
        rows.foreach { case (id, r) => t.model.put(id, r) }
        Outcome(true, "", Some(Coverage.zero), rows.map(_._2.bytes).sum)
      }
    },
    new Write("delete", t) {
      def run(ctx: OpCtx): Outcome = {
        val ids = t.model.range(rnd, batch)
        ctx.sql(s"DELETE FROM ${t.ident} WHERE id BETWEEN ${ids.head} AND ${ids.last}")
        Outcome(true, "", Some(Coverage.zero), ids.flatMap(t.model.remove).map(_.bytes).sum)
      }
    },
    new Write("update", t) {
      def run(ctx: OpCtx): Outcome = {
        val ids = t.model.range(rnd, batch)
        ctx.sql(s"UPDATE ${t.ident} SET l_quantity = l_quantity + 1, l_returnflag = 'U' " +
          s"WHERE id BETWEEN ${ids.head} AND ${ids.last}")
        val changed = ids.map { id =>
          val r = t.model.rows.get(id)
          val u = r.copy(qty = r.qty + 1, flag = "U")
          t.model.put(id, u)
          u.bytes
        }
        Outcome(true, "", Some(Coverage.zero), changed.sum)
      }
    },
    new Write("merge", t) {
      def run(ctx: OpCtx): Outcome = {
        val matched = t.model.range(rnd, batch / 2).map { id =>
          id -> t.model.rows.get(id).copy(price = (90000 + rnd.nextInt(10410000)) / 100.0)
        }
        val fresh = (0 until batch / 2).map { _ => t.nextId += 1; t.nextId -> newRow(rnd) }
        val src = (matched ++ fresh).map { case (id, r) => r.sql(id) }.mkString(", ")
        ctx.sql(s"MERGE INTO ${t.ident} t USING (SELECT * FROM VALUES $src AS " +
          s"s(${DmlModel.Columns})) s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET l_extendedprice = s.l_extendedprice " +
          s"WHEN NOT MATCHED THEN INSERT (${DmlModel.Columns}) VALUES " +
          DmlModel.Columns.split(", ").map("s." + _).mkString("(", ", ", ")"))
        (matched ++ fresh).foreach { case (id, r) => t.model.put(id, r) }
        Outcome(true, "", Some(Coverage.zero), (matched ++ fresh).map(_._2.bytes).sum)
      }
    },
    new Op(s"aggregate.${t.short}", Kind.Read) {
      def run(ctx: OpCtx): Outcome = Outcome.check(
        checksumOf(ctx.sqlRows(s"SELECT ${DmlModel.Checksum} FROM ${t.ident}")),
        t.model.checksum, Some(t.coverage))
    },
    new Op(s"point_read.${t.short}", Kind.Read) {
      def run(ctx: OpCtx): Outcome = {
        val id = t.model.range(rnd, 1).head
        val got = ctx.sqlRows(s"SELECT ${DmlModel.Columns} FROM ${t.ident} WHERE id = $id")
          .map(_.toSeq.mkString(",")).toSeq
        val r = t.model.rows.get(id)
        Outcome.check(got, Seq(Seq(id, r.orderkey, r.partkey, r.qty, r.price, r.disc, r.flag,
          r.status).mkString(",")), Some(t.coverage))
      }
    },
    new Op(s"version_as_of.${t.short}", Kind.Read) {
      def run(ctx: OpCtx): Outcome = {
        val vs = t.versions.keys.toIndexedSeq
        val v = vs(rnd.nextInt(vs.size))
        Outcome.check(checksumOf(ctx.sqlRows(
          s"SELECT ${DmlModel.Checksum} FROM ${t.ident} VERSION AS OF $v")),
          t.versions(v), Some(t.coverage))
      }
    },
    new Op(s"history.${t.short}", Kind.Read) {
      def run(ctx: OpCtx): Outcome = {
        val r = ctx.sqlRows(s"SELECT max(version) FROM cole.${t.ns}.`${t.short}$$history`").head
        Outcome.check(r.getLong(0), t.version, Some(Coverage.zero))
      }
    })

  private def maintain(t: Table): Op = new Write("compact", t) {
    def run(ctx: OpCtx): Outcome = {
      ctx.sqlRows(s"CALL cole.system.compact_debt('${t.ns}.${t.short}', 1, 10, 4)")
      ctx.sqlRows(s"CALL cole.system.expire_versions('${t.ns}.${t.short}', 0, $KeepVersions)")
      Outcome(true, "", Some(Coverage.zero))
    }
  }

  private def source: DataFrame = graft.Tables.lineitem(spark, dataDir).select(
    (col("l_orderkey") * 8 + col("l_linenumber")).as("id"), col("l_orderkey"),
    col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
    col("l_returnflag"), col("l_linestatus"))

  override def prepare(): Unit = {
    base = new DmlModel
    source.collect().foreach { r =>
      base.put(r.getLong(0), DRow(r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getString(6), r.getString(7)))
    }
    batch = math.max(20, base.rows.size / 400)
  }

  def setup(rep: Int, run: Op => Unit): Unit = {
    tables.foreach { t =>
      t.ns = s"dml_r$rep"
      source.repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.format("cole").mode("overwrite").option("rowGroupSize", "4096").save(t.path)
      if (t.vector) spark.sql(s"CALL cole.system.delete_mode('${t.ns}.${t.short}', 'vector')").collect()
      spark.sql(s"CALL cole.system.versioning('${t.ns}.${t.short}')").collect()
      t.model = base.copy()
      t.nextId = base.rows.lastKey() + 1
      t.versions.clear()
      t.record()
    }
  }

  def pass(p: Int): Seq[Op] = {
    val rnd = new Random(seed * 7919L + p)
    Workload.shuffled(tables.flatMap(t => ops(t, new Random(rnd.nextLong()))), seed, p) ++
      tables.map(maintain)
  }

  override def finalChecks: Seq[Op] = tables.map { t =>
    new Op(s"final_state.${t.short}", Kind.Read) {
      def run(ctx: OpCtx): Outcome = Outcome.check(
        checksumOf(ctx.sqlRows(s"SELECT ${DmlModel.Checksum} FROM ${t.ident}")),
        t.model.checksum, Some(Coverage.zero))
    }
  }

  override def tableState(): Map[String, Double] = {
    val fs = tables.map(t => Workload.filesOf(spark, s"cole.${t.ns}.`${t.short}$$files`"))
    def total(i: Int) = fs.map(_(i)).sum.toDouble
    Map("cole.table.live_files" -> total(0), "cole.table.live_bytes" -> total(1),
      "cole.table.dv_rows" -> total(2),
      "disk_bytes" -> tables.map(t => Workload.diskBytes(t.path)).sum.toDouble,
      "logical_bytes" -> tables.map(t => t.model.bytes + 8L * t.model.rows.size).sum.toDouble)
  }

  override def markTrace(): Unit = tables.foreach(t => t.traceFrom = t.version)

  override def commitFiles(): (Long, Long) = {
    val rs = tables.map { t =>
      spark.sql(s"SELECT coalesce(sum(files_added), 0), coalesce(sum(files_removed), 0) " +
        s"FROM cole.${t.ns}.`${t.short}$$history` WHERE version > ${t.traceFrom}").head()
    }
    (rs.map(_.getLong(0)).sum, rs.map(_.getLong(1)).sum)
  }
}
