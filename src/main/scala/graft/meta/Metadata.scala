package graft.meta

import java.sql.Timestamp
import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.EtlConfig

/** Metadata plane: one append-only ledger, the audit log (an event per
  * unit of work), and three catalog views derived from it — the
  * reference's metadata_manager.py / audit_logger.py re-expressed as
  * typed Datasets on one parquet catalog table:
  *
  *   - `etl_audit_log` (table): the ledger. An item's terminal row
  *     carries its run date, config snapshot and, on SUCCESS, the
  *     dictionary entries and DQ rule metrics its bracket was handed.
  *   - `etl_control_table` (view): the latest SUCCESS per (target
  *     table, `<layer>.<source_id>`), so an item's SUCCESS row IS its
  *     control row and never claims a success the audit log records as
  *     an error.
  *   - `data_dictionary` (view): the latest entry per (table, column).
  *   - `data_quality_metrics` (view): every DQ rule metric, stamped
  *     with its carrying row's event time.
  *
  * Every view orders by (event_timestamp, log_id), the order every audit
  * reader uses. The ledger is written once per layer side, never
  * rewritten: [[graft.layers.Layer]] opens a layer's items with one
  * append of their STARTED rows and closes them with one append of
  * their terminal rows (a bracket outside a layer is a layer of one).
  * Every append holds one lock, so the layer scheduler may run items
  * concurrently (two concurrent appends to one parquet table would
  * share its `_temporary/0`). `init` creates the ledger by DDL: no job,
  * no file.
  *
  * Deliberate fixes vs the reference (SURVEY.md §2.12 latent bugs):
  * create-if-absent instead of drop-and-recreate (which wiped history
  * mid-pipeline and made incremental watermarks unreachable), and
  * DataFrame writes instead of f-string SQL interpolation.
  */
/** Per-rule DQ outcome row, the `data_quality_metrics` view's schema
  * (reference declares it in silver_schemas.py:72-85 but never
  * populates it — we do).
  */
final case class DqMetricRow(
    target_table: String, transform_id: String, rule_name: String,
    rule_type: String, action: String, valid_count: Long,
    invalid_count: Long, run_date: String, recorded_at: Timestamp)

/** One column's documentation row, the `data_dictionary` view's schema
  * (reference gold_schemas.py:63-72; created by
  * init_metadata_tables.py:95-114, population intended by
  * gold_layer.py:215-245 but disabled there — we do both).
  */
final case class DataDictRow(
    table_name: String, column_name: String, data_type: String,
    description: String, model_id: String, updated_timestamp: Timestamp)

/** One column of a target's catalog schema, as a terminal audit row
  * carries it; the row's `event_timestamp` is its `updated_timestamp`.
  */
final case class DictEntry(
    table_name: String, column_name: String, data_type: String,
    description: String, model_id: String)

/** One DQ rule's outcome, as a terminal audit row carries it; the row's
  * `event_timestamp` is its `recorded_at`.
  */
final case class DqEntry(
    target_table: String, transform_id: String, rule_name: String,
    rule_type: String, action: String, valid_count: Long,
    invalid_count: Long, run_date: String)

final case class AuditEvent(
    log_id: String, event_timestamp: Timestamp, layer: String,
    operation: String, component: String, source_id: String,
    target_table: String, status: String, rows_processed: Long,
    error_message: String, execution_time_seconds: Double,
    run_id: String, spark_user: String, run_date: String,
    config_snapshot: String, dictionary: Seq[DictEntry] = Nil,
    dq_metrics: Seq[DqEntry] = Nil)

/** An item's audit identity, the fields its STARTED and terminal rows
  * share. With a `runDate`, the terminal row also carries it and
  * `config`'s snapshot, and a SUCCESS becomes the item's control row
  * (`<layer>.<sourceId>` on `targetTable`).
  */
final case class AuditItem(layer: String, operation: String,
    component: String, sourceId: String, targetTable: String,
    runDate: String = null, config: Product = null)

/** Injectable clock/id source so tests are deterministic. */
trait IdClock {
  def now(): Timestamp
  def uuid(): String
}
object SystemIdClock extends IdClock {
  def now(): Timestamp = new Timestamp(System.currentTimeMillis())
  def uuid(): String = java.util.UUID.randomUUID().toString
}

class MetadataManager(spark: SparkSession, db: String = "metadata",
    clock: IdClock = SystemIdClock) {
  import spark.implicits._

  val controlTable = s"$db.etl_control_table"
  val auditTable = s"$db.etl_audit_log"
  val dqMetricsTable = s"$db.data_quality_metrics"
  val dictionaryTable = s"$db.data_dictionary"

  def init(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // DDL, not an empty write: no Spark job, no file
    if (!spark.catalog.tableExists(auditTable))
      spark.catalog.createTable(auditTable, "parquet",
        Encoders.product[AuditEvent].schema, Map.empty[String, String])
    // only terminal rows that carry a run date are control rows (a bare
    // `AuditLogger.event` or an undated bracket records no watermark)
    val control = s"""
      |SELECT table_name, layer, last_run_date, records_processed, status,
      |       config_snapshot, updated_timestamp
      |FROM (SELECT *, row_number() OVER (PARTITION BY table_name, layer
      |               ORDER BY updated_timestamp DESC, log_id DESC) AS rn
      |      FROM (SELECT target_table AS table_name,
      |                   concat_ws('.', layer, source_id) AS layer,
      |                   run_date AS last_run_date,
      |                   rows_processed AS records_processed, status,
      |                   config_snapshot, event_timestamp AS updated_timestamp,
      |                   log_id
      |            FROM $auditTable
      |            WHERE status = 'SUCCESS' AND run_date IS NOT NULL))
      |WHERE rn = 1""".stripMargin
    val dictionary = s"""
      |SELECT table_name, column_name, data_type, description, model_id,
      |       updated_timestamp
      |FROM (SELECT e.*, event_timestamp AS updated_timestamp,
      |             row_number() OVER (PARTITION BY e.table_name, e.column_name
      |               ORDER BY event_timestamp DESC, log_id DESC) AS rn
      |      FROM $auditTable LATERAL VIEW explode(dictionary) x AS e)
      |WHERE rn = 1""".stripMargin
    val dq = s"""
      |SELECT d.target_table, d.transform_id, d.rule_name, d.rule_type,
      |       d.action, d.valid_count, d.invalid_count, d.run_date,
      |       event_timestamp AS recorded_at
      |FROM $auditTable LATERAL VIEW explode(dq_metrics) x AS d""".stripMargin
    // CREATE VIEW analyzes its query even when the view exists, so a
    // re-run skips the statement
    for ((view, query) <- Seq(controlTable -> control,
        dictionaryTable -> dictionary, dqMetricsTable -> dq)
        if !spark.catalog.tableExists(view))
      spark.sql(s"CREATE VIEW IF NOT EXISTS $view AS $query")
  }

  /** The one ledger write: every audit event, control row, dictionary
    * entry and DQ metric rides an append of `rows` to the audit log, in
    * one file.
    */
  private[meta] def append(rows: Seq[AuditEvent]): Unit =
    if (rows.nonEmpty) MetadataManager.writeLock.synchronized {
      val ds = rows.toDS()
      val fails = rows.exists(r => MetadataManager.failAt.contains(auditTable -> r.status))
      (if (fails) ds.filter(udf(() => MetadataManager.fail()).asNondeterministic()()) else ds)
        .coalesce(1).write.mode(SaveMode.Append).saveAsTable(auditTable)
    }

  /** One ledger row for `item`, made (and stamped by `ids`) now: the one
    * place a row is built, by this manager and by [[AuditLogger]].
    */
  private[meta] def row(ids: IdClock, item: AuditItem, status: String,
      runId: String = null, rows: Long = 0L, error: String = "",
      seconds: Double = 0.0, runDate: String = null, snapshot: String = null,
      dictionary: Seq[DictEntry] = Nil, dq: Seq[DqEntry] = Nil): AuditEvent =
    AuditEvent(ids.uuid(), ids.now(), item.layer, item.operation,
      item.component, item.sourceId, item.targetTable, status, rows, error,
      seconds, runId, spark.sparkContext.sparkUser, runDate, snapshot,
      dictionary, dq)

  /** A ledger row outside any bracket: no run date, so no control row. */
  private def standalone(operation: String, sourceId: String, table: String,
      dictionary: Seq[DictEntry] = Nil, dq: Seq[DqEntry] = Nil): Unit =
    append(Seq(row(clock, AuditItem("meta", operation, "MetadataManager",
      sourceId, table), "SUCCESS", dictionary = dictionary, dq = dq)))

  /** Documents one table from its live catalog schema (a catalog read,
    * no Spark job). Inside a bracket the entries ride that bracket's
    * SUCCESS row; outside one they land as a standalone ledger row with
    * no run date. The `data_dictionary` view keeps the latest entry per
    * (table_name, column_name), so re-runs update rather than duplicate.
    */
  def updateDictionary(tableName: String, modelId: String,
      description: String = ""): Unit = {
    val entries = spark.catalog.listColumns(tableName).collect().toSeq
      .map(c => DictEntry(tableName, c.name, c.dataType, description, modelId))
    Option(AuditLogger.open.value) match {
      case Some(bracket) => bracket.dictionary ++= entries
      case None => standalone("dictionary", modelId, tableName, dictionary = entries)
    }
  }

  /** Records DQ rule metrics the way `updateDictionary` records entries:
    * inside a bracket they ride its SUCCESS row, outside one a standalone
    * ledger row. `recorded_at` is ignored; the `data_quality_metrics`
    * view stamps each metric with its carrying row's event time.
    */
  def recordDqMetrics(rows: Seq[DqMetricRow]): Unit =
    if (rows.nonEmpty) {
      val entries = rows.map(r => DqEntry(r.target_table, r.transform_id,
        r.rule_name, r.rule_type, r.action, r.valid_count, r.invalid_count,
        r.run_date))
      Option(AuditLogger.open.value) match {
        case Some(bracket) => bracket.dq ++= entries
        case None => standalone("dq_metrics", rows.head.transform_id,
          rows.head.target_table, dq = entries)
      }
    }

  /** Record one control row keyed on (table_name, layer) as a terminal
    * ledger row outside any bracket: the key's first segment lands in
    * the audit `layer` column and the rest (if any) in `source_id`, so
    * the view reads the key back unchanged. The layer plane writes its
    * ITEM-QUALIFIED keys (`bronze.<source_id>`, `silver.<transform_id>`,
    * `gold.<model_id>`, `maintenance.<task_id>`) through
    * `AuditLogger.bracket` instead; `controlReport` prefix-matches, so
    * layer-level reads see every item.
    */
  def updateControl(tableName: String, layer: String, runDate: String,
      records: Long, status: String, configSnapshot: String = "{}"): Unit = {
    val (plane, item) = layer.span(_ != '.')
    append(Seq(row(clock, AuditItem(plane, "control", "MetadataManager",
      if (item.isEmpty) null else item.tail, tableName), status,
      rows = records, runDate = runDate, snapshot = configSnapshot)))
  }

  /** Incremental watermark: last successful run date for a target. */
  def lastRunDate(tableName: String, layer: String): Option[String] =
    spark.table(controlTable)
      .filter(col("table_name") === tableName && col("layer") === layer)
      .select("last_run_date")
      .collect().headOption.map(_.getString(0))

  /** Every control row for a layer — exact key plus the item-qualified
    * `<layer>.<item_id>` rows the layer plane writes.
    */
  def controlReport(layer: String): DataFrame =
    spark.table(controlTable)
      .filter(col("layer") === layer || col("layer").startsWith(layer + "."))
      .orderBy("table_name", "layer")
}

object MetadataManager {
  /** Held by every metadata write, across managers: items of one layer
    * run concurrently and share the ledger.
    */
  private val writeLock = new Object

  /** Test seam: an append to this ledger table holding a row of this
    * status fails in its write job (`STARTED` fails a layer's opening
    * append, `SUCCESS` its closing one).
    */
  @volatile private[graft] var failAt: Option[(String, String)] = None

  private def fail(): Boolean =
    throw new IllegalStateException("injected failure in a ledger append")
}

object AuditLogger {
  /** The bracket open on a thread: `updateDictionary` and
    * `recordDqMetrics` hand it the entries and metrics its SUCCESS row
    * carries.
    */
  private[meta] final class Open {
    val dictionary = scala.collection.mutable.ArrayBuffer.empty[DictEntry]
    val dq = scala.collection.mutable.ArrayBuffer.empty[DqEntry]
  }
  private[meta] val open = new DynamicVariable[Open](null)

  /** A layer's items between its opening and closing appends: item j's
    * terminal row once its bracket has ended, and what its work threw,
    * if anything.
    */
  private final class LayerLedger(val items: IndexedSeq[AuditItem]) {
    val ended = new Array[AuditEvent](items.size)
    val failed = new Array[Throwable](items.size)
  }
  /** The layer item a thread runs, bound by [[AuditLogger.layer]]. */
  private val slot = new DynamicVariable[(LayerLedger, Int)](null)
}

class AuditLogger(spark: SparkSession, meta: MetadataManager,
    clock: IdClock = SystemIdClock) {
  import AuditLogger.{LayerLedger, Open}

  val runId: String = clock.uuid()

  /** Writes one audit row, with no run date, snapshot or entries, before
    * it returns.
    */
  def event(layer: String, operation: String, component: String,
      sourceId: String, targetTable: String, status: String,
      rows: Long = 0L, error: String = "", seconds: Double = 0.0): Unit =
    meta.append(Seq(meta.row(clock, AuditItem(layer, operation, component,
      sourceId, targetTable), status, runId, rows, error, seconds)))

  /** `item`'s terminal row, made now: it carries the item's run date and
    * config snapshot, and the entries and metrics a SUCCESS row is given.
    */
  private def terminal(item: AuditItem, status: String, rows: Long = 0L,
      error: String = "", seconds: Double = 0.0,
      dictionary: Seq[DictEntry] = Nil, dq: Seq[DqEntry] = Nil): AuditEvent =
    meta.row(clock, item, status, runId, rows, error, seconds, item.runDate,
      Option(item.config).map(EtlConfig.snapshot).orNull, dictionary, dq)

  /** STARTED/SUCCESS/ERROR bracketing around a unit of work (reference
    * F4), returning the body's result or rethrowing what it threw. Only
    * the SUCCESS row carries the dictionary entries and DQ metrics the
    * body handed the manager. Inside a [[layer]]'s item the terminal row
    * goes to the layer's closing append; anywhere else (a bracket in a
    * bracket's body too) the bracket runs as a layer of one, so its
    * item lands in two appends, and a failed append is thrown.
    */
  def bracket[T](item: AuditItem)(body: => (T, Long)): T =
    AuditLogger.slot.value match {
      case null =>
        var result: Option[T] = None
        layer(Seq(item), _ => result = Some(bracket(item)(body)))(_(0))
          .head.foreach(e => throw e)
        result.get
      case (ledger, j) =>
        val t0 = System.nanoTime()
        val open = new Open
        def end(status: String, rows: Long, error: String,
            dictionary: Seq[DictEntry] = Nil, dq: Seq[DqEntry] = Nil): Unit =
          ledger.ended(j) = terminal(item, status, rows, error,
            (System.nanoTime() - t0) / 1e9, dictionary, dq)
        AuditLogger.slot.withValue(null) {
          AuditLogger.open.withValue(open) {
            try {
              val (result, rows) = body
              end("SUCCESS", rows, "", open.dictionary.toSeq, open.dq.toSeq)
              result
            } catch {
              case e: Throwable =>
                ledger.failed(j) = e
                end("ERROR", 0L, String.valueOf(e.getMessage))
                throw e
            }
          }
        }
    }

  /** Runs a layer's `items` between two ledger appends. Before any item
    * starts, one append of every item's STARTED row, all made now; then
    * `schedule` is handed the runner of item j's `work` (whose
    * [[bracket]] hands its terminal row to the layer) and runs every
    * item; then one append of the items' terminal rows. An item whose
    * bracket never ended gets an ERROR row made at close, with the error
    * its work threw.
    *
    * @return each item's error (None: it succeeded). When the opening
    *         append fails no item runs and each fails with its error;
    *         when the closing one fails each fails, with its own error or
    *         the append's.
    */
  def layer(items: Seq[AuditItem], work: Int => Unit)(
      schedule: (Int => Unit) => Unit): IndexedSeq[Option[Throwable]] =
    scala.util.Try(meta.append(items.map(meta.row(clock, _, "STARTED",
        runId)))) match {
      case scala.util.Failure(e) => items.toIndexedSeq.map(_ => Some(e))
      case _ =>
        val ledger = new LayerLedger(items.toIndexedSeq)
        schedule(j => AuditLogger.slot.withValue((ledger, j)) {
          try work(j) catch { case e: Throwable => ledger.failed(j) = e }
        })
        val errors = ledger.failed.toIndexedSeq.zip(ledger.ended).map {
          case (null, null) => Some(new IllegalStateException(
            "ended without a terminal audit row"))
          case (e, _) => Option(e)
        }
        val rows = ledger.items.indices.map(j => Option(ledger.ended(j))
          .getOrElse(terminal(ledger.items(j), "ERROR",
            error = String.valueOf(errors(j).get.getMessage))))
        try { meta.append(rows); errors }
        catch { case e: Throwable => errors.map(_.orElse(Some(e))) }
    }

  def recentEvents(n: Int = 100): DataFrame =
    spark.table(meta.auditTable)
      .filter(col("run_id") === runId)
      .orderBy(col("event_timestamp").desc, col("log_id"))
      .limit(n)

  /** Failures-only view of this run's audit trail (reference
    * `audit_logger.py:259-285`'s log views, which have no error filter —
    * operators there grep the full dump). Column-expression filter, not
    * interpolated SQL, per SURVEY §2.12's injection fix.
    */
  def failedEvents(n: Int = 100): DataFrame =
    spark.table(meta.auditTable)
      .filter(col("run_id") === runId && col("status") === "ERROR")
      .orderBy(col("event_timestamp").desc, col("log_id"))
      .limit(n)

  /** Slowest-N completed units of work in this run — the "where did the
    * wall time go" triage view. Only terminal events carry a duration
    * (STARTED rows are zero), so those are excluded.
    */
  def slowestEvents(n: Int = 10): DataFrame =
    spark.table(meta.auditTable)
      .filter(col("run_id") === runId && col("status") =!= "STARTED")
      .orderBy(col("execution_time_seconds").desc, col("log_id"))
      .limit(n)

  /** All audit events ever recorded against one target table, newest
    * first (reference `audit_logger.py:266-285` `get_logs_for_table`,
    * minus its f-string SQL injection).
    */
  def eventsForTable(table: String, n: Int = 100): DataFrame =
    spark.table(meta.auditTable)
      .filter(col("target_table") === table)
      .orderBy(col("event_timestamp").desc, col("log_id"))
      .limit(n)
}
