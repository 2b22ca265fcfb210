package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

/** The replay fence of every fold that is not idempotent — the parquet
  * analog of Delta's txnAppId/txnVersion. A fold commits its batch's
  * epoch with its write. A batch carrying the committed epoch is a
  * replay (a crash-redelivered micro-batch, a same-date retry) and is
  * skipped. A batch carrying an OLDER epoch is a late backfill and is
  * refused: dropping it silently would be data loss recorded as
  * success, so it fails loudly and the layer's per-item isolation
  * surfaces it. The view folds keep the committed epoch as a
  * `_last_epoch` column inside their own table commit ([[last]]), the
  * stores as the [[DedupStore.EpochProperty]] table property.
  */
private[io] object EpochFence {

  /** Whether to fold `epoch` into `table`: true when nothing is
    * committed or `epoch` is newer, false for the committed epoch; an
    * older epoch throws. Call it before any action touches the batch:
    * a caller observing the batch must not block on an Observation
    * whose action never ran.
    */
  def admit(what: String, table: String, epoch: Long,
      committed: Option[Long]): Boolean = committed match {
    case Some(c) if c == epoch => false
    case Some(c) if c > epoch => throw new IllegalStateException(
      s"$what for '$table': batch epoch $epoch is OLDER than the " +
        s"committed epoch $c — a late backfill is not a replay and " +
        "cannot fold out of order; recompute the table in epoch order " +
        "or re-stamp the batch with a current epoch")
    case _ => true
  }

  /** `max(_last_epoch)` of a view fold's table; None without the
    * marker column or rows.
    */
  def last(t: DataFrame): Option[Long] =
    if (!t.columns.contains("_last_epoch")) None
    else {
      val m = t.agg(max(col("_last_epoch"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }
}
