package graft.dq

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Volume-anomaly guard: the TREND member of the DQ family. The five
  * validators judge a batch against RULES; this one judges a batch
  * against the table's own RUN HISTORY — "today's model produced 40×
  * fewer rows than every previous run" is the classic silent-failure
  * signature (an upstream filter gone wrong, an empty partition, a
  * truncated extract) that no per-row rule can see. History comes from
  * the audit log's SUCCESS rows ([[graft.meta.AuditLogger]] — the
  * per-run ledger; the control table is a view of each item's latest
  * SUCCESS row only), so the guard needs no new bookkeeping.
  *
  * Robustness choices: the baseline is the MEDIAN of the trailing
  * window (one historic outlier must not poison the expectation), the
  * deviation test is exact integer arithmetic (|obs − med| · 100 >
  * pct · med), and two cases deliberately pass — insufficient history
  * (fewer than `minHistory` prior successes: a new model must not fail
  * its first runs) and a zero-row observation (the epoch fence's
  * legitimate no-op signature on a replayed run; emptiness belongs to
  * completeness rules, not trend rules).
  *
  * Scale shape: metadata-plane only — one filtered read of the audit
  * table collecting at most `window` rows.
  */
object VolumeGuard {

  final case class Verdict(observed: Long, median: Option[Long],
      historyRuns: Int, breach: Boolean)

  /** Judge `observed` rows for `targetTable` against its trailing run
    * history. `tolerancePct` is the allowed deviation from the median
    * in percent (50 = anything outside [0.5×, 1.5×] breaches).
    */
  def check(spark: SparkSession, auditTable: String, targetTable: String,
      observed: Long, tolerancePct: Int, window: Int = 7,
      minHistory: Int = 3): Verdict =
    judge(spark, auditTable,
      // data-layer history ONLY: the maintenance plane writes SUCCESS
      // rows for the SAME target tables whose rows_processed is a file
      // or manifest count — interleaving those into the window would
      // poison the median (a daily compact stamping "2" would halve it
      // within a week and fail every honest batch)
      col("target_table") === targetTable && col("layer") =!= "maintenance",
      observed, tolerancePct, window, minHistory)

  /** [[check]] and THROW on breach — the per-item-isolation form the
    * layers call: the failure lands as this model's ERROR audit row
    * and the run's failed list, never a silent success.
    */
  def enforce(spark: SparkSession, auditTable: String, targetTable: String,
      observed: Long, tolerancePct: Int): Unit =
    failOnBreach(check(spark, auditTable, targetTable, observed, tolerancePct)) { v =>
      s"volume anomaly for '$targetTable': this run produced " +
        s"${v.observed} rows vs a trailing median of ${v.median.get} " +
        s"over ${v.historyRuns} runs — outside ±$tolerancePct%. " +
        "If the shift is intended (backfill, scope change), re-run " +
        "with a raised volume_guard_pct or after pruning the audit " +
        "history window."
    }

  /** Trend check for a MAINTENANCE-plane metric (round-19 verdict
    * item 7 — store_stats' occupancy spread): same trailing-median /
    * integer-deviation discipline as [[check]], but the history is the
    * SAME task's own SUCCESS rows — matched on (layer = maintenance,
    * operation, source_id, target_table). [[check]]'s data-layer
    * filter exists to keep these rows OUT of volume medians; here they
    * ARE the series, and the operation+source_id match keeps two tasks
    * profiling the same table from poisoning each other's baseline.
    */
  def checkMetric(spark: SparkSession, auditTable: String,
      targetTable: String, operation: String, sourceId: String,
      observed: Long, tolerancePct: Int, window: Int = 7,
      minHistory: Int = 3): Verdict =
    judge(spark, auditTable,
      col("target_table") === targetTable && col("layer") === "maintenance" &&
        col("operation") === operation && col("source_id") === sourceId,
      observed, tolerancePct, window, minHistory)

  /** [[checkMetric]] and THROW — the store_stats trend gate: a spread
    * that jumps vs its own trailing median means the store's occupancy
    * profile moved (a hot band forming, a skewed crawl landing) and
    * the tuning the stats exist to drive should run NOW, not after the
    * probe mass silently degrades.
    */
  def enforceMetric(spark: SparkSession, auditTable: String,
      targetTable: String, operation: String, sourceId: String,
      observed: Long, tolerancePct: Int): Unit =
    failOnBreach(checkMetric(spark, auditTable, targetTable, operation,
        sourceId, observed, tolerancePct)) { v =>
      s"store_stats trend anomaly for '$targetTable' ($sourceId): " +
        s"occupancy spread ${v.observed} permille vs a trailing median " +
        s"of ${v.median.get} over ${v.historyRuns} runs — outside " +
        s"±$tolerancePct%. The store's occupancy profile moved: " +
        "re-tune max_bucket_size/max_cell_size, or run compact/prune/" +
        "retrain before the next fold. If the shift is intended " +
        "(corpus scope change), re-run with a raised spread_trend_pct."
    }

  /** The one trailing-median rule: the latest `window` SUCCESS rows
    * with rows_processed > 0 that `history` selects are the baseline.
    */
  private def judge(spark: SparkSession, auditTable: String, history: Column,
      observed: Long, tolerancePct: Int, window: Int, minHistory: Int): Verdict = {
    require(tolerancePct > 0, "tolerancePct must be positive")
    require(window >= minHistory && minHistory >= 1,
      s"need window >= minHistory >= 1, got $window/$minHistory")
    val hist = spark.table(auditTable)
      .filter(history && col("status") === "SUCCESS" && col("rows_processed") > 0)
      // log_id tie-break: back-to-back runs can share a timestamp, and
      // an untied desc sort would make the WINDOW's composition (and
      // the median) nondeterministic at the boundary — the same
      // (event_timestamp, log_id) order every audit reader uses
      .orderBy(col("event_timestamp").desc, col("log_id").desc)
      .select(col("rows_processed")).limit(window)
      .collect().map(_.getLong(0))
    if (observed == 0L || hist.length < minHistory)
      return Verdict(observed, None, hist.length, breach = false)
    val sorted = hist.sorted
    val med = sorted((sorted.length - 1) / 2)
    val breach = math.abs(observed - med) * 100L > tolerancePct.toLong * med
    Verdict(observed, Some(med), hist.length, breach)
  }

  private def failOnBreach(v: Verdict)(message: Verdict => String): Unit =
    if (v.breach) throw new IllegalStateException(message(v))
}
