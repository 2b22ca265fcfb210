package graft.meta

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions.size

/** Deterministic clock for reproducible metadata rows. The uuid embeds
  * `start` so two FixedClock instances with different epochs never
  * collide on run_id (the audit table persists across tests).
  */
class FixedClock(start: Long = 1700000000000L) extends IdClock {
  private var t = start
  private var n = 0
  def now(): Timestamp = synchronized { t += 1000; new Timestamp(t) }
  def uuid(): String = synchronized
    { n += 1; f"00000000-0000-0000-${(start / 100000000L) % 10000}%04d-${n}%012d" }
}

class MetadataSpec extends SparkSpec {

  lazy val meta = new MetadataManager(spark, db = "metadata_test",
    clock = new FixedClock())

  test("init is create-if-absent, not drop-recreate") {
    meta.init()
    meta.updateControl("bronze.t1", "bronze", "2024-01-01", 10, "SUCCESS")
    meta.init() // reference wiped history here; we must not
    assert(spark.table(meta.controlTable).count() == 1)
  }

  test("control upsert replaces by (table_name, layer) key") {
    meta.init()
    meta.updateControl("bronze.t2", "bronze", "2024-01-01", 10, "SUCCESS")
    meta.updateControl("bronze.t2", "bronze", "2024-01-02", 20, "SUCCESS")
    val rows = spark.table(meta.controlTable)
      .filter("table_name = 'bronze.t2'").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("last_run_date") == "2024-01-02")
    assert(rows.head.getAs[Long]("records_processed") == 20L)
  }

  test("watermark reads last successful run date") {
    meta.init()
    meta.updateControl("silver.t3", "silver", "2024-02-03", 5, "SUCCESS")
    assert(meta.lastRunDate("silver.t3", "silver").contains("2024-02-03"))
    assert(meta.lastRunDate("silver.absent", "silver").isEmpty)
  }

  test("audit bracket records STARTED then SUCCESS with rows") {
    meta.init()
    val audit = new AuditLogger(spark, meta, new FixedClock(1800000000000L))
    val out = audit.bracket(AuditItem("silver", "transform", "Test", "tx1", "silver.t")) {
      ("result", 42L)
    }
    assert(out == "result")
    val events = audit.recentEvents().collect()
    assert(events.map(_.getAs[String]("status")).toSet == Set("STARTED", "SUCCESS"))
    assert(events.exists(_.getAs[Long]("rows_processed") == 42L))
  }

  test("audit bracket records ERROR and rethrows") {
    meta.init()
    val audit = new AuditLogger(spark, meta, new FixedClock(1900000000000L))
    intercept[RuntimeException] {
      audit.bracket(AuditItem("gold", "model", "Test", "m1", "gold.t")) {
        throw new RuntimeException("boom"); (("x", 0L))
      }
    }
    val statuses = audit.recentEvents().collect().map(_.getAs[String]("status"))
    assert(statuses.contains("ERROR"))
    // a dated item: the body's own instance, and an ERROR row with the date
    val boom = new RuntimeException("dated boom")
    val thrown = intercept[RuntimeException] {
      audit.bracket(AuditItem("gold", "model", "Test", "m2", "gold.t", "2024-12-01")) {
        throw boom; (("x", 0L))
      }
    }
    assert(thrown eq boom)
    assert(audit.recentEvents().filter("source_id = 'm2' AND status = 'ERROR'")
      .select("run_date", "error_message").collect().map(r => r.getString(0) -> r.getString(1))
      .toSeq == Seq("2024-12-01" -> "dated boom"))
  }

  test("failedEvents returns only this run's ERROR rows") {
    meta.init()
    val audit = new AuditLogger(spark, meta, new FixedClock(2000000000000L))
    audit.bracket(AuditItem("silver", "transform", "Test", "ok1", "silver.ok")) {
      ("fine", 1L)
    }
    intercept[RuntimeException] {
      audit.bracket(AuditItem("silver", "transform", "Test", "bad1", "silver.bad")) {
        throw new RuntimeException("boom"); (("x", 0L))
      }
    }
    val failed = audit.failedEvents().collect()
    assert(failed.nonEmpty)
    assert(failed.forall(_.getAs[String]("status") == "ERROR"))
    assert(failed.forall(_.getAs[String]("run_id") == audit.runId))
    assert(failed.map(_.getAs[String]("source_id")).toSet == Set("bad1"))
  }

  test("slowestEvents ranks terminal events by duration, excludes STARTED") {
    meta.init()
    val audit = new AuditLogger(spark, meta, new FixedClock(2100000000000L))
    audit.event("silver", "transform", "Test", "fast", "silver.a",
      "SUCCESS", rows = 1, seconds = 0.5)
    audit.event("silver", "transform", "Test", "slow", "silver.b",
      "SUCCESS", rows = 1, seconds = 9.5)
    audit.event("silver", "transform", "Test", "mid", "silver.c",
      "ERROR", error = "x", seconds = 3.0)
    audit.event("silver", "transform", "Test", "pending", "silver.d",
      "STARTED")
    val slow = audit.slowestEvents(2).collect()
    assert(slow.map(_.getAs[String]("source_id")).toSeq == Seq("slow", "mid"))
    assert(slow.forall(_.getAs[String]("status") != "STARTED"))
  }

  test("eventsForTable scopes across runs to one target table") {
    meta.init()
    val a1 = new AuditLogger(spark, meta, new FixedClock(2200000000000L))
    val a2 = new AuditLogger(spark, meta, new FixedClock(2300000000000L))
    a1.event("bronze", "ingest", "Test", "s1", "bronze.shared", "SUCCESS")
    a2.event("bronze", "ingest", "Test", "s2", "bronze.shared", "SUCCESS")
    a2.event("bronze", "ingest", "Test", "s3", "bronze.other", "SUCCESS")
    val rows = a2.eventsForTable("bronze.shared").collect()
    assert(rows.map(_.getAs[String]("run_id")).toSet ==
      Set(a1.runId, a2.runId))
    assert(rows.forall(_.getAs[String]("target_table") == "bronze.shared"))
  }

  test("the control table is a view of each item's latest SUCCESS audit row") {
    import spark.implicits._
    val clock = new FixedClock(2400000000000L)
    val m = new MetadataManager(spark, db = "metadata_ledger", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    def cfg(item: String) =
      graft.config.MaintenanceTaskConfig(item, "compact", Some("gold.shared"))
    def run(item: String, date: String, rows: Long, fail: Boolean = false): Unit =
      try audit.bracket(AuditItem("gold", "model", "Test", item, "gold.shared", date,
          cfg(item))) {
        if (fail) throw new RuntimeException("boom")
        ((), rows)
      } catch { case _: RuntimeException if fail => () }
    run("m1", "2024-01-01", 5L)
    run("m2", "2024-01-01", 7L) // a second item on the same table
    run("m1", "2024-01-02", 9L)
    run("m1", "2024-01-02", 0L) // same-date retry that folded nothing
    run("m2", "2024-01-02", 3L, fail = true) // ERROR after a SUCCESS
    val control = spark.table(m.controlTable)
    assert(control.select("layer", "last_run_date", "records_processed", "status")
      .as[(String, String, Long, String)].collect().toSet == Set(
        ("gold.m1", "2024-01-02", 0L, "SUCCESS"),
        ("gold.m2", "2024-01-01", 7L, "SUCCESS")))
    assert(m.lastRunDate("gold.shared", "gold.m2").contains("2024-01-01"))
    assert(m.controlReport("gold").count() == 2)
    assert(control.filter($"layer" === "gold.m1")
      .select("config_snapshot").as[String].head() ==
      graft.config.EtlConfig.snapshot(cfg("m1")))
    // the seven control columns: names, types and order
    assert(control.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "table_name" -> "string", "layer" -> "string",
      "last_run_date" -> "string", "records_processed" -> "bigint",
      "status" -> "string", "config_snapshot" -> "string",
      "updated_timestamp" -> "timestamp"))
    // a catalog VIEW: nothing is ever written under its name
    assert(spark.catalog.getTable(m.controlTable).tableType == "VIEW")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val root = java.nio.file.Paths.get(
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(wh).toUri)
    val walk = java.nio.file.Files.walk(root)
    try assert(!walk.anyMatch(_.getFileName.toString == "etl_control_table"))
    finally walk.close()
  }

  test("the data dictionary is a view of the entries on SUCCESS audit rows") {
    import spark.implicits._
    val clock = new FixedClock(2500000000000L)
    val m = new MetadataManager(spark, db = "metadata_dict", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    spark.sql("CREATE DATABASE IF NOT EXISTS dict_test")
    spark.sql("DROP TABLE IF EXISTS dict_test.t")
    Seq((1L, "a")).toDF("k", "v").write.saveAsTable("dict_test.t")
    def documented(model: String, fail: Boolean = false): Unit =
      try audit.bracket(AuditItem("gold", "model", "Test", model, "dict_test.t",
          "2024-01-01")) {
        m.updateDictionary("dict_test.t", model, s"by $model")
        if (fail) throw new RuntimeException("boom")
        ((), 1L)
      } catch { case _: RuntimeException if fail => () }
    documented("m1")
    documented("m2") // a later bracket wins per (table, column)
    documented("m3", fail = true) // an ERROR row carries no entries
    val dict = spark.table(m.dictionaryTable)
    def entries() = dict.select("column_name", "data_type", "description", "model_id")
      .as[(String, String, String, String)].collect().toSet
    assert(entries() == Set(("k", "bigint", "by m2", "m2"), ("v", "string", "by m2", "m2")))
    val ledger = spark.table(m.auditTable)
    assert(ledger.filter($"source_id" === "m3" && $"status" === "ERROR")
      .select(size($"dictionary")).as[Int].collect().toSeq == Seq(0))
    assert(ledger.filter($"status" === "STARTED").select(size($"dictionary"))
      .as[Int].collect().forall(_ == 0))
    // each entry is stamped with its SUCCESS row's event time
    val m2Success = ledger.filter($"source_id" === "m2" && $"status" === "SUCCESS")
      .select("event_timestamp").as[java.sql.Timestamp].head()
    assert(dict.select("updated_timestamp").as[java.sql.Timestamp].collect()
      .toSet == Set(m2Success))
    // outside a bracket the entries land on a standalone row without a
    // run date, so the control view does not change
    spark.sql("ALTER TABLE dict_test.t ADD COLUMNS (w DOUBLE)")
    m.updateDictionary("dict_test.t", "adhoc", "by hand")
    assert(entries() == Set(("k", "bigint", "by hand", "adhoc"),
      ("v", "string", "by hand", "adhoc"), ("w", "double", "by hand", "adhoc")))
    assert(m.controlReport("gold").select("layer").as[String].collect().toSet ==
      Set("gold.m1", "gold.m2"))
    // DataDictRow's six columns: names, types and order
    assert(dict.schema.map(f => f.name -> f.dataType) ==
      org.apache.spark.sql.Encoders.product[DataDictRow].schema.map(f => f.name -> f.dataType))
    // a catalog VIEW: nothing is ever written under its name
    assert(spark.catalog.getTable(m.dictionaryTable).tableType == "VIEW")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val root = java.nio.file.Paths.get(
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(wh).toUri)
    val walk = java.nio.file.Files.walk(root)
    try assert(!walk.anyMatch(_.getFileName.toString == "data_dictionary"))
    finally walk.close()
  }

  /** Parquet data files under `table`'s directory (no `_SUCCESS`). */
  private def dataFiles(table: String): Long = {
    val dir = java.nio.file.Paths.get(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(_.getFileName.toString.startsWith("part-")).count()
      finally walk.close()
    }
  }

  /** Whether any path under the warehouse is named `name`. */
  private def underWarehouse(name: String): Boolean = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val root = java.nio.file.Paths.get(
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(wh).toUri)
    val walk = java.nio.file.Files.walk(root)
    try walk.anyMatch(_.getFileName.toString == name)
    finally walk.close()
  }

  /** Three silver SQL items on `db`: `ok_a` (one DQ rule), `bad` (reads
    * a missing table) and `ok_c`.
    */
  private def threeItems(db: String): graft.config.EtlConfig = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq("a", "c").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    graft.config.EtlConfig.fromYaml(
      s"""transformations:
         |  - transform_id: ok_a
         |    source_table: $db.src
         |    target_table: $db.a
         |    sql_query: SELECT 1L AS k UNION ALL SELECT CAST(NULL AS BIGINT) AS k
         |    data_quality:
         |      - rule_name: k_not_null
         |        rule_type: not_null
         |        column: k
         |        action_on_failure: filter
         |  - transform_id: bad
         |    source_table: $db.missing
         |    target_table: $db.b
         |    sql_query: SELECT * FROM $db.missing
         |  - transform_id: ok_c
         |    source_table: $db.src
         |    target_table: $db.c
         |    sql_query: SELECT 3L AS k
         |""".stripMargin)
  }

  test("init creates the ledger by DDL: no data file") {
    val m = new MetadataManager(spark, db = "metadata_ddl", clock = new FixedClock())
    m.init()
    assert(dataFiles(m.auditTable) == 0L)
    assert(spark.table(m.auditTable).count() == 0L)
    m.init()
    assert(dataFiles(m.auditTable) == 0L)
  }

  test("a layer appends the ledger twice: its items' STARTED rows, then their terminal rows") {
    import spark.implicits._
    val clock = new FixedClock(2600000000000L)
    val m = new MetadataManager(spark, db = "metadata_layer", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    val before = dataFiles(m.auditTable)
    val report = new graft.layers.SilverLayer(spark, threeItems("ledger_layer"), m,
      audit, "2024-12-01").run()
    assert(dataFiles(m.auditTable) - before == 2L)
    assert(report.succeeded == Seq("ok_a", "ok_c"))
    assert(report.failed.map(_._1) == Seq("bad"))
    val rows = audit.recentEvents().select("source_id", "status", "event_timestamp",
      "execution_time_seconds").as[(String, String, Timestamp, Double)].collect().toSeq
    assert(rows.map(r => r._1 -> r._2).toSet == Set("ok_a" -> "STARTED",
      "bad" -> "STARTED", "ok_c" -> "STARTED", "ok_a" -> "SUCCESS",
      "bad" -> "ERROR", "ok_c" -> "SUCCESS"))
    // every STARTED row is made when the layer opens, every terminal row
    // when its item ends, and each item is timed from its own start
    val (started, ended) = rows.partition(_._2 == "STARTED")
    assert(started.map(_._3.getTime).max < ended.map(_._3.getTime).min)
    assert(ended.forall(_._4 > 0.0))
    assert(m.controlReport("silver").select("layer").as[String].collect().toSet ==
      Set("silver.ok_a", "silver.ok_c"))
    // the DQ metrics ride ok_a's SUCCESS row
    val okA = ended.find(_._1 == "ok_a").get._3
    assert(spark.table(m.dqMetricsTable).select("rule_name", "valid_count",
      "invalid_count", "recorded_at").as[(String, Long, Long, Timestamp)]
      .collect().toSeq == Seq(("k_not_null", 1L, 1L, okA)))
  }

  test("a bracket outside a layer is a layer of one: two ledger appends") {
    val clock = new FixedClock(2700000000000L)
    val m = new MetadataManager(spark, db = "metadata_single", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    val before = dataFiles(m.auditTable)
    audit.bracket(AuditItem("gold", "model", "Test", "one", "gold.t", "2024-12-01"))(((), 1L))
    assert(dataFiles(m.auditTable) - before == 2L)
  }

  test("a bracket whose opening append fails runs no body and writes no row") {
    val clock = new FixedClock(3100000000000L)
    val m = new MetadataManager(spark, db = "metadata_single_open", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    var ran = false
    MetadataManager.failAt = Some(m.auditTable -> "STARTED")
    val e =
      try intercept[Exception] {
        audit.bracket(AuditItem("gold", "model", "Test", "one", "gold.t", "2024-12-01")) {
          ran = true; ((), 1L)
        }
      } finally MetadataManager.failAt = None
    assert(String.valueOf(e.getMessage).contains("injected failure"), e.getMessage)
    assert(!ran)
    assert(spark.table(m.auditTable).count() == 0L)
  }

  test("a bracket whose closing append fails throws and lands no terminal row") {
    import spark.implicits._
    val clock = new FixedClock(3200000000000L)
    val m = new MetadataManager(spark, db = "metadata_single_close", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    def one(date: String) =
      audit.bracket(AuditItem("gold", "model", "Test", "one", "gold.t", date))(((), 1L))
    one("2024-12-01")
    MetadataManager.failAt = Some(m.auditTable -> "SUCCESS")
    val e =
      try intercept[Exception](one("2024-12-02"))
      finally MetadataManager.failAt = None
    assert(String.valueOf(e.getMessage).contains("injected failure"), e.getMessage)
    // the second bracket's STARTED row landed; no terminal row did
    assert(spark.table(m.auditTable).select("status", "run_date")
      .as[(String, String)].collect().toSeq.sortBy(_.toString) == Seq(
        ("STARTED", null), ("STARTED", null), ("SUCCESS", "2024-12-01")))
    assert(m.lastRunDate("gold.t", "gold.one").contains("2024-12-01"))
  }

  test("a bracket nested in a layer item is its own layer of one") {
    import spark.implicits._
    val clock = new FixedClock(3300000000000L)
    var audit: AuditLogger = null
    // ok_a's DQ metrics are recorded inside its bracket's body
    val m = new MetadataManager(spark, db = "metadata_nested", clock = clock) {
      override def recordDqMetrics(rows: Seq[DqMetricRow]): Unit = {
        if (rows.nonEmpty) audit.bracket(AuditItem("meta", "nested", "Test", "inner", "nested.t",
          "2024-12-01"))(((), 5L))
        super.recordDqMetrics(rows)
      }
    }
    m.init()
    audit = new AuditLogger(spark, m, clock)
    val before = dataFiles(m.auditTable)
    val report = new graft.layers.SilverLayer(spark, threeItems("ledger_nested"), m,
      audit, "2024-12-01").run()
    assert(dataFiles(m.auditTable) - before == 4L)
    assert(report.succeeded == Seq("ok_a", "ok_c"))
    val rows = spark.table(m.auditTable).select($"source_id", $"status", $"rows_processed",
      size($"dq_metrics")).as[(String, String, Long, Int)].collect().toSet
    assert(rows == Set(("ok_a", "STARTED", 0L, 0), ("bad", "STARTED", 0L, 0),
      ("ok_c", "STARTED", 0L, 0), ("inner", "STARTED", 0L, 0),
      ("inner", "SUCCESS", 5L, 0), ("ok_a", "SUCCESS", 1L, 1),
      ("bad", "ERROR", 0L, 0), ("ok_c", "SUCCESS", 1L, 0)))
    assert(m.lastRunDate("nested.t", "meta.inner").contains("2024-12-01"))
  }

  test("data_quality_metrics is a view of the metrics on SUCCESS audit rows") {
    import spark.implicits._
    val clock = new FixedClock(2800000000000L)
    val m = new MetadataManager(spark, db = "metadata_dq", clock = clock)
    m.init()
    val audit = new AuditLogger(spark, m, clock)
    def metric(rule: String) =
      DqMetricRow("silver.t", "tx", rule, "not_null", "filter", 9L, 1L, "2024-12-01", null)
    def checked(rule: String, fail: Boolean = false): Unit =
      try audit.bracket(AuditItem("silver", "transform", "Test", "tx", "silver.t",
          "2024-12-01")) {
        m.recordDqMetrics(Seq(metric(rule)))
        if (fail) throw new RuntimeException("boom")
        ((), 9L)
      } catch { case _: RuntimeException if fail => () }
    checked("kept")
    checked("dropped", fail = true) // an ERROR row carries no metrics
    m.recordDqMetrics(Seq(metric("adhoc"))) // outside a bracket: its own row
    val dq = spark.table(m.dqMetricsTable)
    assert(dq.select("rule_name").as[String].collect().toSet == Set("kept", "adhoc"))
    val kept = spark.table(m.auditTable)
      .filter($"source_id" === "tx" && $"status" === "SUCCESS")
      .select("event_timestamp").as[Timestamp].head()
    assert(dq.filter($"rule_name" === "kept").select("recorded_at").as[Timestamp]
      .head() == kept)
    assert(dq.filter($"rule_name" === "kept").drop("recorded_at").as[(String, String,
      String, String, String, Long, Long, String)].head() ==
      ("silver.t", "tx", "kept", "not_null", "filter", 9L, 1L, "2024-12-01"))
    // the adhoc row has no run date, so the control view does not change
    assert(m.controlReport("meta").count() == 0L)
    // DqMetricRow's nine columns: names, types and order
    assert(dq.schema.map(f => f.name -> f.dataType) ==
      org.apache.spark.sql.Encoders.product[DqMetricRow].schema.map(f => f.name -> f.dataType))
    // a catalog VIEW: nothing is ever written under its name
    assert(spark.catalog.getTable(m.dqMetricsTable).tableType == "VIEW")
    assert(!underWarehouse("data_quality_metrics"))
  }

  test("a failed opening append runs no item and fails every item") {
    val clock = new FixedClock(2900000000000L)
    val m = new MetadataManager(spark, db = "metadata_open_fault", clock = clock)
    m.init()
    val entered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val layer = new graft.layers.SilverLayer(spark, threeItems("ledger_open"), m,
        new AuditLogger(spark, m, clock), "2024-12-01") {
      override def transform(t: graft.config.TransformConfig): Unit = {
        entered.add(t.transformId)
        super.transform(t)
      }
    }
    MetadataManager.failAt = Some(m.auditTable -> "STARTED")
    val report =
      try layer.run()
      finally MetadataManager.failAt = None
    assert(entered.isEmpty, entered.toString)
    assert(report.succeeded.isEmpty)
    assert(report.failed.map(_._1) == Seq("ok_a", "bad", "ok_c"))
    assert(report.failed.forall(_._2.nonEmpty))
    assert(!spark.catalog.tableExists("ledger_open.a"))
    assert(spark.table(m.auditTable).count() == 0L)
  }

  test("a failed closing append fails every item and moves no watermark") {
    import spark.implicits._
    val clock = new FixedClock(3000000000000L)
    val m = new MetadataManager(spark, db = "metadata_close_fault", clock = clock)
    m.init()
    def layer(date: String) = new graft.layers.SilverLayer(spark,
      threeItems("ledger_close"), m, new AuditLogger(spark, m, clock), date)
    assert(layer("2024-12-01").run().failed.map(_._1) == Seq("bad"))
    def control() = spark.table(m.controlTable).as[(String, String, String, Long,
      String, String, Timestamp)].collect().toSet
    val before = control()
    assert(m.lastRunDate("ledger_close.a", "silver.ok_a").contains("2024-12-01"))
    MetadataManager.failAt = Some(m.auditTable -> "SUCCESS")
    val report =
      try layer("2024-12-02").run()
      finally MetadataManager.failAt = None
    assert(report.succeeded.isEmpty)
    assert(report.failed.map(_._1) == Seq("ok_a", "bad", "ok_c"))
    assert(report.failed.forall(_._2.nonEmpty))
    assert(control() == before)
    assert(m.lastRunDate("ledger_close.a", "silver.ok_a").contains("2024-12-01"))
    // the items' STARTED rows landed; their terminal rows did not
    assert(spark.table(m.auditTable).filter($"status" =!= "STARTED").count() == 3L)
  }
}
