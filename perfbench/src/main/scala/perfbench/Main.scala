package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.layers._
import graft.meta.{AuditLogger, DqMetricRow, MetadataManager}

/** Benchmark harness: one workload per invocation, closed loop, one
  * client (this thread issues every call in order).
  *
  * {{{
  * java -cp … perfbench.Main --workload demo_day --seed 1 --seconds 10 \
  *   --trace 0 --work <scratch dir> [--cpus N] [--record]
  * }}}
  *
  * The last stdout line is the result object; the line before it is the
  * full record (environment stamp, per-unit walls, item samples, and the
  * spans when tracing).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cpus: Int, record: Boolean)

  /** One timed call: its name, wall seconds and whether it succeeded. */
  final case class Op(name: String, seconds: Double, ok: Boolean)

  /** Wall and process-CPU seconds of one timed region. */
  final case class Cost(wall: Double, cpu: Double)

  /** What the timed body produced: one cost per unit, the cold and warm
    * step walls, the item samples and the failed output checks.
    */
  final case class RunResult(units: Seq[Cost], cold: Seq[Double], warm: Seq[Double],
      ops: Seq[Op], failedChecks: Seq[String])

  trait Workload {
    /** Generates inputs under `dir`; returns (rows, bytes) one unit reads. */
    def setup(spark: SparkSession, dir: Path): (Long, Long)
    def run(spark: SparkSession, trace: Trace): RunResult
    /** Directory whose footprint is reported as the warehouse. */
    def footprint: Path
    /** Least share of the traced wall that layer spans must cover. */
    def minCoverage: Double
  }

  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val load1Start = Env.load1()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = o.workload match {
      case "demo_day" => new DemoDay(o)
      case "query_mix" => new QueryMix(o)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    // set-up runs SetupReps times, each in a fresh session; the first is
    // timed from JVM start. The last session and its inputs are kept.
    var spark: SparkSession = null
    var inputs = (0L, 0L)
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime() -
        (if (rep == 1) (System.currentTimeMillis() - jvmStartMs) * 1000000L else 0L)
      if (spark != null) spark.stop()
      spark = session(o)
      val t1 = System.nanoTime()
      spark.range(1000).selectExpr("sum(id)").collect()
      val t2 = System.nanoTime()
      inputs = w.setup(spark, o.work.resolve("inputs"))
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"warm-up ${(t2 - t1) / 1e9}%.2f s, inputs ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    if (o.record) { QueryMix.record(spark, o); spark.stop(); return }

    val trace = new Trace(spark, o.trace)
    val r = w.run(spark, trace)
    val root = if (o.trace) Some(trace.finish()) else None
    val load1End = Env.load1()

    val uncovered = root.map(Report.coverage(trace, _)).filter(_ < w.minCoverage).map(c =>
      f"trace: layer spans cover ${c * 100}%.1f%% of the traced wall, want ${w.minCoverage * 100}%.0f%%")
    val failed = r.ops.count(!_.ok) + r.failedChecks.size + uncovered.size
    (r.failedChecks ++ uncovered).foreach(c => System.err.println(s"[perfbench] check failed: $c"))
    val itemTimes = r.ops.filter(_.ok).map(_.seconds)
    val wall = median(r.units.map(_.wall))
    val (whFiles, whBytes) = Env.footprint(w.footprint)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setups), "s"),
        ("wall_s", wall, "s"),
        ("cold_s", median(r.cold), "s"),
        ("warm_s", median(r.warm), "s"),
        ("cpu_s", median(r.units.map(_.cpu)), "CPU-s"),
        ("input_rows_per_s", inputs._1 / wall, "rows/s"),
        ("warehouse_mb", whBytes / 1e6, "MB"),
        ("warehouse_files", whFiles.toDouble, "files"))
      else Report.perLayer(trace, root.get, o.cpus)
    val env = s""""nproc":${o.cpus},"load1_start":$load1Start,"load1_end":$load1End"""
    println(s"""{"record":"perfbench","workload":"${o.workload}","seed":${o.seed},$env,""" +
      s""""trace":${o.trace},"setup_s":${setups.mkString("[", ",", "]")},""" +
      s""""input_rows":${inputs._1},"input_mb":${inputs._2 / 1e6},""" +
      s""""unit_walls":${r.units.map(_.wall).mkString("[", ",", "]")},""" +
      s""""unit_cpu":${r.units.map(_.cpu).mkString("[", ",", "]")},""" +
      s""""op_samples":${itemTimes.size},"ops":${r.ops.map(op =>
        s"[${Report.str(op.name)},${op.seconds},${op.ok}]").mkString("[", ",", "]")}""" +
      root.fold("")(_ => s""","spans":${Report.spansJson(trace)}""") + "}")
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":${r.ops.size},"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  /** Runs `unit` once, then again while another unit of the mean length
    * so far still ends within `--seconds`, so a run never overshoots
    * its measuring time by more than one unit.
    */
  def repeat[T](o: Opts)(unit: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    Iterator.from(0).takeWhile(k => k == 0 || elapsed * (k + 1) / k <= o.seconds)
      .map(unit).toVector
  }

  def metered[T](body: => T): (T, Cost) = {
    val c0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val r = body
    (r, Cost((System.nanoTime() - t0) / 1e9, (Env.processCpuNs() - c0) / 1e9))
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .master(s"local[${o.cpus}]")
      .withExtensions(new graft.plans.GraftGuards)
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    // the traced run reads per-execution write metrics back at the end
    if (o.trace) b.config("spark.sql.ui.retainedExecutions", "1000000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def parse(argv: Array[String]): Opts = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      m.get("--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      argv.contains("--record"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Drops every database the pipeline made and deletes the warehouse,
    * so the next unit starts from an empty one in the same session.
    */
  def resetWarehouse(spark: SparkSession, o: Opts): Unit = {
    spark.catalog.listDatabases().collect().map(_.name).filter(_ != "default")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    Env.delete(o.work.resolve("warehouse"))
    spark.catalog.clearCache()
  }
}

/** `configs/demo` for one date on an empty warehouse (cold), then a
  * same-date retry of its gold layer through the same front door, as an
  * operator re-triggers gold (warm): the upsert lands on an existing
  * table and the metadata plane is populated. The date's batch is
  * generated with `DemoDataGenerator`: parquet sales and JSON products,
  * SQL + DQ silver, the incremental-upsert and one full gold model, plus
  * the benchmark's compaction task. The customer chain is disabled so
  * that a run fits the benchmark's time budget.
  */
final class DemoDay(o: Main.Opts) extends Main.Workload {
  import Main._

  val Customers = 500L // key range of the sales' customer ids
  val Products = 1000L
  val Transactions = 20000L
  val Date = "2024-03-01"
  val Disabled = Set("customer_data", "customer_silver", "customer_summary")
  val AllLayers = Seq("bronze", "silver", "gold", "maintenance")

  /** The YAML with `enabled: false` for the items whose id is in `ids`. */
  def disable(yaml: Seq[String], ids: Set[String]): Seq[String] = {
    val Item = """\s*- (?:source|transform|model)_id:\s*"?([^"\s]+)"?\s*""".r
    var current = ""
    yaml.map {
      case l @ Item(id) => current = id; l
      case l if ids(current) && l.trim == "enabled: true" => l.replace("true", "false")
      case l => l
    }
  }

  private var inputs: Path = _
  private def conf: Path = inputs.resolve("conf")
  private def raw: Path = inputs.resolve("raw")
  def footprint: Path = o.work.resolve("warehouse")
  def minCoverage = 0.95

  def setup(spark: SparkSession, dir: Path): (Long, Long) = {
    import graft.util.DemoDataGenerator._
    inputs = dir
    Env.delete(dir)
    products(spark, Products, o.seed * 10 + 1).coalesce(1).write.json(s"$raw/products")
    transactions(spark, Transactions, Customers, Products, Date, seed = o.seed * 10 + 2)
      .coalesce(1).write.parquet(s"$raw/transactions")
    val bytes = Env.footprint(dir)._2
    Files.createDirectories(conf)
    for (l <- Seq("bronze", "silver", "gold"))
      Files.write(conf.resolve(s"${l}_config.yaml"), disable(
        Files.readAllLines(Paths.get("configs/demo", s"${l}_config.yaml")).asScala.toSeq,
        Disabled).asJava)
    Files.copy(Paths.get("perfbench/conf/demo_maintenance_config.yaml"),
      conf.resolve("maintenance_config.yaml"))
    (Products + Transactions, bytes)
  }

  private def pipeline(spark: SparkSession, trace: Trace, layers: Seq[String]): Int =
    if (trace.enabled) Pipelines.tracedDate(spark, trace, conf.toString, Date, layers)
    else graft.pipeline.Main.run(spark,
      graft.pipeline.Main.Args(Date, layers, conf.toString, None))

  /** Units of a cold date and its gold retry, each unit on an empty
    * warehouse. The check and the item samples are read back after
    * each unit, untimed.
    */
  def run(spark: SparkSession, trace: Trace): RunResult = {
    val units = repeat(o) { k =>
      if (k > 0) resetWarehouse(spark, o)
      sys.props("GRAFT_DEMO_DIR") = raw.toString
      val (steps, cost) =
        try metered(Seq(AllLayers, Seq("gold")).map(ls => metered(pipeline(spark, trace, ls))))
        finally sys.props.remove("GRAFT_DEMO_DIR")
      val failures = trace.span("check") {
        steps.collect { case (code, _) if code != 0 => s"demo_day: pipeline exited $code" } ++
          check(spark)
      }
      (steps.map(_._2.wall), cost, trace.span("check")(Pipelines.itemOps(spark)), failures)
    }
    RunResult(units.map(_._2), units.map(_._1.head), units.map(_._1.last),
      units.flatMap(_._3), units.flatMap(_._4))
  }

  /** Gold totals against a plain-SQL recomputation from the generated
    * raw files, replaying the configs' semantics: silver keeps sales
    * from the processing date on, gold joins and aggregates.
    */
  def check(spark: SparkSession): Seq[String] = {
    spark.read.parquet(s"$raw/transactions")
      .filter(s"transaction_date >= '$Date' AND amount IS NOT NULL")
      .createOrReplaceTempView("pb_sales")
    spark.read.json(s"$raw/products").createOrReplaceTempView("pb_products")
    val expect = Seq(
      "gold.product_performance" -> """SELECT COUNT(*), SUM(total_revenue) FROM (
        SELECT p.product_id, p.product_name, p.category, SUM(s.amount) total_revenue
        FROM pb_sales s JOIN pb_products p ON s.product_id = p.product_id
        GROUP BY 1, 2, 3)""",
      "gold.daily_sales_by_category" -> """SELECT COUNT(*), SUM(total_sales) FROM (
        SELECT s.transaction_date, p.category, SUM(s.amount) total_sales
        FROM pb_sales s JOIN pb_products p ON s.product_id = p.product_id
        GROUP BY 1, 2)""")
    val measure = Map(
      "gold.product_performance" -> "SUM(total_revenue)",
      "gold.daily_sales_by_category" -> "SUM(total_sales)")
    expect.flatMap { case (table, sql) =>
      val want = spark.sql(sql).head()
      val got = spark.table(table).selectExpr("COUNT(*)", measure(table)).head()
      if (want.getLong(0) == got.getLong(0) && close(want.getDouble(1), got.getDouble(1))) None
      else Some(s"$table: want (${want.getLong(0)}, ${want.getDouble(1)}) " +
        s"got (${got.getLong(0)}, ${got.getDouble(1)})")
    }
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
}

/** Drives the declared layers item by item through their public
  * methods, in config order, as `graft.pipeline.Pipeline.run` does, with
  * a span around every call.
  */
object Pipelines {

  final class TracedMeta(spark: SparkSession, trace: Trace) extends MetadataManager(spark) {
    override def init(): Unit = trace.span("meta.init")(super.init())
    override def updateDictionary(tableName: String, modelId: String,
        description: String): Unit =
      trace.span("meta.update_dictionary")(super.updateDictionary(tableName, modelId, description))
    override def recordDqMetrics(rows: Seq[DqMetricRow]): Unit = {
      trace.count("dq.rules", rows.size.toDouble)
      trace.count("dq.valid_rows", rows.map(_.valid_count).sum.toDouble)
      trace.count("dq.invalid_rows", rows.map(_.invalid_count).sum.toDouble)
      trace.span("meta.record_dq")(super.recordDqMetrics(rows))
    }
    override def updateControl(tableName: String, layer: String, runDate: String,
        records: Long, status: String, configSnapshot: String): Unit =
      trace.span("meta.update_control")(
        super.updateControl(tableName, layer, runDate, records, status, configSnapshot))
    override def lastRunDate(tableName: String, layer: String): Option[String] =
      trace.span("meta.last_run_date")(super.lastRunDate(tableName, layer))
  }

  final class TracedAudit(spark: SparkSession, meta: MetadataManager, trace: Trace)
      extends AuditLogger(spark, meta) {
    override def event(layer: String, operation: String, component: String,
        sourceId: String, targetTable: String, status: String, rows: Long,
        error: String, seconds: Double): Unit =
      trace.span("meta.audit_event")(super.event(layer, operation, component,
        sourceId, targetTable, status, rows, error, seconds))
  }

  /** One date of the pipeline in `configDir`; returns 0 iff every item
    * succeeded (the `graft.pipeline.Main.run` exit-code contract).
    */
  def tracedDate(spark: SparkSession, trace: Trace, configDir: String, date: String,
      layers: Seq[String]): Int = {
    val configs = graft.pipeline.Main.loadConfigs(configDir)
    val meta = new TracedMeta(spark, trace)
    val audit = new TracedAudit(spark, meta, trace)
    meta.init()
    configs.values.flatMap(_.sparkConf).foreach { case (k, v) =>
      if (k != "spark.sql.shuffle.partitions") spark.conf.set(k, v)
    }
    def each[C](items: Seq[C], on: C => Boolean, name: C => String)(call: C => Unit): Int =
      items.filter(on).count { c =>
        try { trace.span(name(c))(call(c)); false }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${name(c)} failed: ${e.getMessage}"); true }
      }
    val failed = layers.flatMap(l => configs.get(l).map(l -> _))
      .map {
        case ("bronze", c) =>
          val b = new BronzeLayer(spark, c, meta, audit, date)
          each[graft.config.SourceConfig](c.sources, _.enabled, _ => "bronze.ingest")(b.ingest)
        case ("silver", c) =>
          val s = new SilverLayer(spark, c, meta, audit, date)
          each[graft.config.TransformConfig](c.transformations, _.enabled,
            t => s"silver.${t.transformType}")(s.transform)
        case ("gold", c) =>
          val g = new GoldLayer(spark, c, meta, audit, date)
          each[graft.config.ModelConfig](c.models, _.enabled, m =>
            if (m.mode == "streaming") "gold.streaming"
            else s"gold.${GoldKinds.getOrElse(m.refreshType, m.refreshType)}")(g.build)
        case (_, c) =>
          val m = new MaintenanceLayer(spark, c, meta, audit, date)
          each[graft.config.MaintenanceTaskConfig](c.maintenance, _.enabled,
            t => s"maintenance.${t.taskType}")(m.exec)
      }.sum
    if (failed == 0) 0 else 1
  }

  val GoldKinds = Map("incremental" -> "upsert", "full" -> "overwrite")

  /** Every item of the unit, from the terminal audit events the
    * pipeline itself wrote (item wall and outcome).
    */
  def itemOps(spark: SparkSession): Seq[Main.Op] =
    spark.table("metadata.etl_audit_log").filter("status <> 'STARTED'")
      .select("layer", "source_id", "execution_time_seconds", "status")
      .collect().toSeq.map(r => Main.Op(s"${r.getString(0)}.${r.getString(1)}",
        r.getDouble(2), r.getString(3) == "SUCCESS"))
}

/** The TPC-H-shaped `q*` and graph `gr*` functions of
  * `graft.SparkEntry.queries` over a generated star schema. The data is
  * fixed (its own seed), so each result is checked against a recorded
  * row count and hash; the workload seed shuffles the query order.
  */
final class QueryMix(o: Main.Opts) extends Main.Workload {
  import Main._

  private var dir: Path = _
  def footprint: Path = dir
  def minCoverage = 0.0
  private lazy val expected = QueryMix.loadExpected()
  private lazy val order = new Random(o.seed).shuffle(QueryMix.names)

  def setup(spark: SparkSession, d: Path): (Long, Long) = {
    dir = d
    Env.delete(d)
    Gen.tpch(spark, d.toString, QueryMix.Scale, QueryMix.DataSeed, o.cpus)
    // a unit is two passes
    (2 * QueryMix.names.flatMap(expected.get).map(_.scanned).sum, Env.footprint(d)._2)
  }

  /** Units of a cold and a warm pass over every query in the seeded
    * order; each result is collected in full, then caches are drained as
    * `graft.Bench` does.
    */
  def run(spark: SparkSession, trace: Trace): RunResult = {
    val fns = graft.SparkEntry.queries
    def pass() = metered {
      order.map { n =>
        val layer = if (n.startsWith("gr")) "queries.graph" else "queries.tpch"
        val (res, cost) = metered {
          try Right(trace.span(layer)(fns(n)(spark, dir.toString).collect()))
          catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
        }
        spark.catalog.clearCache()
        graft.operators.Dedup.releaseCaches(spark)
        (n, res, cost.wall)
      }
    }
    val units = repeat(o)(_ => metered(Seq(pass(), pass())))
    val ops = units.flatMap(_._1).flatMap(_._1).map {
      case (n, Left(err), secs) =>
        System.err.println(s"[perfbench] $n failed: $err")
        Op(n, secs, ok = false)
      case (n, Right(rows), secs) =>
        val got = QueryMix.fingerprint(rows)
        val want = expected.get(n).map(e => (e.rows, e.hash))
        if (!want.contains(got)) System.err.println(s"[perfbench] $n: want $want got $got")
        Op(n, secs, want.contains(got))
    }
    RunResult(units.map(_._2), units.map(_._1.head._2.wall), units.map(_._1.last._2.wall),
      ops, Nil)
  }
}

object QueryMix {
  val Scale = 0.01
  val DataSeed = 42L
  val ExpectedFile = Paths.get("perfbench/expected/query_mix.tsv")

  /** Scan + aggregation, a join with top-k, a six-way join, and two
    * graph kernels (iterative rank, sorted-intersection triangle count).
    */
  val names: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q9_nation_profit", "gr1_pagerank", "gr3_triangles")

  /** Rows of the generated tables that each scan in the plan reads. */
  def scannedRows(df: DataFrame, rows: Map[String, Long]): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation =>
      h.location.rootPaths.map(p => rows.getOrElse(p.getName.stripSuffix(".parquet"), 0L)).sum
    }.sum
  }

  /** (rows, order-insensitive hash) of a result. Doubles enter at nine
    * significant digits, so summation order cannot flip the hash.
    */
  def fingerprint(rows: Array[Row]): (Long, Long) = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
      case f: Float => cell(f.toDouble)
      case other => other.toString
    }
    val h = rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(cell).mkString("\u0001")).toLong & 0xffffffffL).sum
    (rows.length.toLong, h)
  }

  final case class Expected(rows: Long, hash: Long, scanned: Long)

  def loadExpected(): Map[String, Expected] =
    if (!Files.exists(ExpectedFile)) Map.empty
    else Files.readAllLines(ExpectedFile).asScala.filterNot(_.startsWith("#")).map { l =>
      val Array(n, r, h, sc) = l.split("\t")
      n -> Expected(r.toLong, h.toLong, sc.toLong)
    }.toMap

  /** Writes the expectation file from one pass over the generated data
    * (then cross-check that data against the DuckDB oracles).
    */
  def record(spark: SparkSession, o: Main.Opts): Unit = {
    val d = o.work.resolve("inputs").toString
    val counts = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .map(t => t -> spark.read.parquet(s"$d/$t.parquet").count()).toMap
    val lines = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, d)
      val (r, h) = fingerprint(df.collect())
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseCaches(spark)
      s"$n\t$r\t$h\t${scannedRows(df, counts)}"
    }
    Files.createDirectories(ExpectedFile.getParent)
    Files.write(ExpectedFile, (s"# query\trows\thash\tscanned_rows (sf$Scale, data seed $DataSeed)" +: lines).asJava)
  }
}

/** Process and file-system readings. */
object Env {
  def load1(): Double = try {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  } catch { case _: Throwable => -1.0 }

  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (files, bytes) under `root`, hidden checksum files excluded. */
  def footprint(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}
