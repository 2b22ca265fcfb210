package graft.meta

import java.sql.Timestamp
import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.EtlConfig

/** Metadata plane: one append-only ledger, the audit log (an event per
  * unit of work), the catalog views derived from it, and the per-rule
  * DQ table — the reference's metadata_manager.py / audit_logger.py
  * re-expressed as typed Datasets on parquet catalog tables:
  *
  *   - `etl_audit_log` (table): the ledger. An item's terminal row
  *     carries its run date, config snapshot and, on SUCCESS, the
  *     dictionary entries `updateDictionary` handed its bracket.
  *   - `etl_control_table` (view): the latest SUCCESS per (target
  *     table, `<layer>.<source_id>`), so an item's SUCCESS row IS its
  *     control row and never claims a success the audit log records as
  *     an error.
  *   - `data_dictionary` (view): the latest entry per (table, column).
  *   - `data_quality_metrics` (table): one row per DQ rule and run.
  *
  * Every view orders by (event_timestamp, log_id), the order every audit
  * reader uses. Finishing an item costs one append, never a rewrite, and
  * every metadata write holds one lock, so the layer scheduler may run
  * items concurrently (two concurrent appends to one parquet table would
  * share its `_temporary/0`).
  *
  * Deliberate fixes vs the reference (SURVEY.md §2.12 latent bugs):
  * create-if-absent instead of drop-and-recreate (which wiped history
  * mid-pipeline and made incremental watermarks unreachable), and
  * DataFrame writes instead of f-string SQL interpolation.
  */
/** Per-rule DQ outcome row (reference declares this schema in
  * silver_schemas.py:72-85 but never populates it — we do).
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

final case class AuditEvent(
    log_id: String, event_timestamp: Timestamp, layer: String,
    operation: String, component: String, source_id: String,
    target_table: String, status: String, rows_processed: Long,
    error_message: String, execution_time_seconds: Double,
    run_id: String, spark_user: String, run_date: String,
    config_snapshot: String, dictionary: Seq[DictEntry] = Nil)

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
    if (!spark.catalog.tableExists(auditTable))
      spark.emptyDataset[AuditEvent].write.saveAsTable(auditTable)
    if (!spark.catalog.tableExists(dqMetricsTable))
      spark.emptyDataset[DqMetricRow].write.saveAsTable(dqMetricsTable)
    // only terminal rows that carry a run date are control rows (a bare
    // `AuditLogger.event` or an undated bracket records no watermark)
    spark.sql(s"""CREATE VIEW IF NOT EXISTS $controlTable AS
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
      |WHERE rn = 1""".stripMargin)
    spark.sql(s"""CREATE VIEW IF NOT EXISTS $dictionaryTable AS
      |SELECT table_name, column_name, data_type, description, model_id,
      |       updated_timestamp
      |FROM (SELECT e.*, event_timestamp AS updated_timestamp,
      |             row_number() OVER (PARTITION BY e.table_name, e.column_name
      |               ORDER BY event_timestamp DESC, log_id DESC) AS rn
      |      FROM $auditTable LATERAL VIEW explode(dictionary) x AS e)
      |WHERE rn = 1""".stripMargin)
  }

  /** The one ledger write: every audit event, control row and
    * dictionary entry rides a single-row append to the audit log.
    */
  private[meta] def append(e: AuditEvent): Unit = MetadataManager.writeLock.synchronized {
    Seq(e).toDS().write.mode(SaveMode.Append).saveAsTable(auditTable)
  }

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
      case None =>
        append(AuditEvent(clock.uuid(), clock.now(), "meta", "dictionary",
          "MetadataManager", modelId, tableName, "SUCCESS", 0L, "", 0.0, null,
          spark.sparkContext.sparkUser, null, null, entries))
    }
  }

  /** Stamps `recorded_at` here with the manager's (injectable) clock so
    * callers don't reach for wall-clock time.
    */
  def recordDqMetrics(rows: Seq[DqMetricRow]): Unit =
    if (rows.nonEmpty) MetadataManager.writeLock.synchronized {
      rows.map(_.copy(recorded_at = clock.now())).toDS()
        .write.mode(SaveMode.Append).saveAsTable(dqMetricsTable)
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
    append(AuditEvent(clock.uuid(), clock.now(), plane, "control",
      "MetadataManager", if (item.isEmpty) null else item.tail, tableName,
      status, records, "", 0.0, null, spark.sparkContext.sparkUser,
      runDate, configSnapshot))
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
}

object AuditLogger {
  /** The bracket open on a thread. [[AuditLogger.bracket]] binds one
    * around its body and terminal row: `updateDictionary` adds entries
    * to it, and `event` writes `terminal` (run date, config snapshot,
    * entries) only while the terminal row is being written.
    */
  private[meta] final class Open {
    val dictionary = scala.collection.mutable.ArrayBuffer.empty[DictEntry]
    var terminal: Option[(String, String, Seq[DictEntry])] = None
  }
  private[meta] val open = new DynamicVariable[Open](null)
}

class AuditLogger(spark: SparkSession, meta: MetadataManager,
    clock: IdClock = SystemIdClock) {
  import spark.implicits._

  val runId: String = clock.uuid()

  /** Every audit row goes through this one overridable write; inside a
    * bracket's terminal row it also carries that row's run date, config
    * snapshot and dictionary entries.
    */
  def event(layer: String, operation: String, component: String,
      sourceId: String, targetTable: String, status: String,
      rows: Long = 0L, error: String = "", seconds: Double = 0.0): Unit = {
    val (runDate, snapshot, dictionary) = Option(AuditLogger.open.value)
      .flatMap(_.terminal).getOrElse((null, null, Nil))
    meta.append(AuditEvent(clock.uuid(), clock.now(), layer, operation,
      component, sourceId, targetTable, status, rows, error, seconds, runId,
      spark.sparkContext.sparkUser, runDate, snapshot, dictionary))
  }

  /** STARTED/SUCCESS/ERROR bracketing around a unit of work (reference
    * F4), returning the body's result. With a `runDate`, the terminal
    * row also carries it and `config`'s snapshot, and a SUCCESS becomes
    * the item's control row (`<layer>.<sourceId>` on `targetTable`).
    * Only the SUCCESS row carries the dictionary entries the body
    * handed `updateDictionary`.
    */
  def bracket[T](layer: String, operation: String, component: String,
      sourceId: String, targetTable: String, runDate: String = null,
      config: Product = null)(body: => (T, Long)): T = {
    val t0 = System.nanoTime()
    event(layer, operation, component, sourceId, targetTable, "STARTED")
    val open = new AuditLogger.Open
    def end(status: String, rows: Long, error: String): Unit = {
      open.terminal = Some((runDate, Option(config).map(EtlConfig.snapshot).orNull,
        if (status == "SUCCESS") open.dictionary.toSeq else Nil))
      event(layer, operation, component, sourceId, targetTable, status,
        rows, error, (System.nanoTime() - t0) / 1e9)
    }
    AuditLogger.open.withValue(open) {
      try {
        val (result, rows) = body
        end("SUCCESS", rows, "")
        result
      } catch {
        case e: Throwable =>
          end("ERROR", 0L, String.valueOf(e.getMessage))
          throw e
      }
    }
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
