package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Sink modes (reference operators K1–K6) on parquet catalog tables:
  * append, overwrite (optional partitionBy), keyed upsert (the no-Delta
  * MERGE emulation, SURVEY.md §7.4), and the streaming bridge that
  * hands each micro-batch to a batch fold.
  */
object Sinks {

  def append(df: DataFrame, table: String): Unit = {
    Commit.recover(df.sparkSession, table)
    df.write.mode(SaveMode.Append).saveAsTable(table)
  }

  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    Commit.recover(df.sparkSession, table)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(table)
  }

  /** The one Structured-Streaming bridge: each micro-batch and its
    * `batchId` go to `fold`, and the query runs with the AvailableNow
    * trigger — process everything that has landed, then stop.
    *
    * Exactly-once contract: the checkpoint's source offsets give
    * at-least-once batch delivery (a crash between the fold's commit
    * and the offset commit re-runs that batch), so `fold` must
    * converge on a replay — either by being idempotent (upsert,
    * changelog, SCD2 merge, HLL max-merge) or by committing `batchId`
    * as an epoch fence in the same table write and skipping an epoch
    * it already committed (the additive, extremes and quantile folds,
    * the dedup stores). Each fold's scaladoc says which.
    *
    * `fold` runs in a micro-batch CLONE of the session: its rewrite
    * refreshes the clone's file index of `table`, but the owning
    * session, the one callers read the table from, still holds the
    * pre-rewrite index and would fail with FILE_NOT_EXIST — so the
    * bridge refreshes `table` there after every batch.
    *
    * @return the started query; the caller owns awaitTermination/stop.
    */
  def foreachBatch(stream: DataFrame, table: String, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId)
        stream.sparkSession.catalog.refreshTable(table)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}

/** MERGE INTO emulation without Delta: `WHEN MATCHED UPDATE SET * WHEN
  * NOT MATCHED INSERT *` ≡ (target ⟕̸ source on keys) ∪ source — the
  * whole-row-replace semantics of the reference's merge
  * (db_utils.py:96-100, gold_layer.py:184-213).
  *
  * The merge is one window over target ∪ batch, partitioned by the
  * keys ([[upsertTable]]), so the model query is computed once without
  * a staged copy of the batch, and the batch's `Observation` counts its
  * rows during the commit's own write. The merged table is committed
  * through [[Commit.replace]]: staged, then written over the table,
  * with the stage kept as the recovery copy until that write succeeds —
  * a crash mid-write leaves the table empty and the next upsert rolls
  * the staged version forward before merging (the merge is idempotent,
  * so the retry converges). Two concurrent upserts of ONE table are not
  * safe; the layer scheduler never overlaps two items with one target.
  *
  * @return the number of RAW source-batch rows (pre-dedup) — the
  *         "records processed" of the merge, NOT the post-merge target
  *         cardinality. Matches the reference, which records the model
  *         output's row count before any key handling
  *         (gold_layer.py:130), so a source batch carrying duplicate
  *         primary keys still reports every row it delivered even
  *         though only one row per key survives the merge.
  */
object Upsert {

  /** Apply a CDC changelog — inserts, updates, AND deletes — to a keyed
    * parquet table: the operation the upsert alone cannot express (a
    * MERGE with `WHEN MATCHED AND op = 'D' THEN DELETE`). Semantics:
    *   - one change SURVIVES per key — the one with the highest
    *     `seqCol` (the changelog's own ordering: an LSN, a kafka
    *     offset, an extraction timestamp); ties break on the full row,
    *     so replays are deterministic;
    *   - surviving op `D` removes the key from the target (deleting an
    *     absent key is a no-op — deletes are idempotent);
    *   - any other surviving op (`I`/`U` — the split is bookkeeping;
    *     both are "make the row look like this") whole-row-replaces,
    *     exactly like [[upsertTable]].
    * Replaying a changelog (or any suffix of it) converges to the same
    * table — the idempotence that makes this the correct
    * [[Sinks.foreachBatch]] fold for a CDC stream, same contract as
    * [[upsertTable]].
    *
    * Scale shape: the changelog dedup is one window over the key
    * columns; the apply is one anti-join (target minus all changed
    * keys) plus a union of the upsert survivors — both shuffle on the
    * key the table's MERGE would shuffle on anyway. The full-table
    * rewrite is parquet's price for row-level change; a real table
    * format replaces it with a version-pointer swap.
    *
    * @return (upserted, deleted) surviving-change counts.
    */
  def applyChangeLog(spark: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], opCol: String = "op", seqCol: String = "seq")
      : (Long, Long) = {
    require(changes.columns.contains(opCol), s"changelog needs '$opCol'")
    require(changes.columns.contains(seqCol), s"changelog needs '$seqCol'")
    val dataCols = changes.columns.filter(c => c != opCol && c != seqCol)
    Commit.recover(spark, table)
    // the RAW changelog stages first (one evaluation of the source
    // plan), and validation + dedup both read the staged copy
    val raw = Commit.stage(spark, table, "raw", changes)
    // op values are validated EAGERLY and on the RAW feed: a NULL (or
    // unknown) op would be excluded from upserts (=!= 'D' is
    // null-false) AND from the delete count, yet its key still lands in
    // changedKeys — the anti-join would remove the target row and
    // nothing re-inserts it, a silent unreported row loss (round-10
    // advice). Raw, not post-dedup: a garbage row superseded by a later
    // seq for the same key would otherwise vanish before the check, and
    // whether a broken producer fails loudly would depend on unrelated
    // traffic per key. Garbage ops are a producer bug; fail loudly,
    // never drop.
    val badOps = raw
      .filter(col(opCol).isNull || !col(opCol).isin("I", "U", "D"))
      .select(col(opCol)).limit(5).collect().map(r => String.valueOf(r.get(0)))
    require(badOps.isEmpty,
      s"changelog for '$table' carries invalid $opCol values " +
        s"(expected I/U/D): ${badOps.mkString(", ")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc +: raw.columns.map(c => col(c).desc): _*)
    // the deduped survivors stage too: four consumers below (upserts,
    // delete count, changed keys, the records count) would otherwise
    // re-run the window per action
    val staged = Commit.stage(spark, table, "latest",
      raw.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn"))
    val upserts = staged.filter(col(opCol) =!= "D")
      .select(dataCols.map(col).toSeq: _*)
    val deletes = staged.filter(col(opCol) === "D").count()
    // counted before the commit, which clears the stages
    val upserted = upserts.count()
    val merged = if (!spark.catalog.tableExists(table)) upserts else {
      val target = spark.table(table)
      val changedKeys = staged.select(keys.map(col).toSeq: _*)
      // <=> so a NULL-keyed change MATCHES a null-keyed target row: with
      // ===, a null-keyed upsert appended a duplicate instead of
      // replacing, and a null-keyed delete was a counted no-op
      // (round-10 advice)
      val cond = keys.map(k => target(k) <=> changedKeys(k)).reduce(_ && _)
      target.join(changedKeys, cond, "left_anti")
        .unionByName(upserts.select(target.columns.map(col).toSeq: _*))
    }
    Commit.replace(spark, table, merged)
    (upserted, deletes)
  }

  /** [[upsertTable]] with SCHEMA EVOLUTION: a source batch carrying
    * columns the target lacks WIDENS the table (existing rows read the
    * new columns as NULL), and a batch missing target columns fills
    * them with NULL on its own rows — additive evolution only, the
    * mergeSchema contract (never a drop, never a type change; a type
    * conflict on a shared column is rejected EAGERLY — Spark's union
    * would otherwise coerce silently, e.g. a DOUBLE batch column
    * stringifying into a STRING target, which is corruption, not
    * evolution). This is the
    * metadata-driven-ETL lifecycle case the strict upsert rejects: the
    * upstream added a field, tomorrow's batches carry it, and the
    * pipeline must not stop. Implementation: widen the table with
    * `ALTER TABLE … ADD COLUMNS` (a catalog-only change: existing files
    * read the new columns as NULL, and the table keeps its layout spec
    * and properties), pad the batch with typed NULLs for the columns it
    * lacks, then run the standard upsert.
    */
  def upsertTableEvolving(spark: SparkSession, table: String,
      source: DataFrame, keys: Seq[String]): Long = {
    Commit.recover(spark, table)
    if (!spark.catalog.tableExists(table))
      return upsertTable(spark, table, source, keys)
    val target = spark.table(table)
    val tCols = target.columns.toSeq
    val sCols = source.columns.toSeq
    require(keys.forall(sCols.contains), s"source must carry the keys $keys")
    // shared columns must agree on type EXACTLY: Spark's union would
    // otherwise coerce (a DOUBLE batch column silently stringifies
    // into a STRING target column) — evolution is additive, never a
    // type change
    val conflicts = sCols.filter(tCols.contains).filter(c =>
      source.schema(c).dataType != target.schema(c).dataType)
    require(conflicts.isEmpty,
      s"type conflict on ${conflicts.mkString(", ")}: evolution is " +
        "additive-only (new columns), never a type change — " +
        conflicts.map(c => s"$c: ${target.schema(c).dataType.simpleString} " +
          s"vs batch ${source.schema(c).dataType.simpleString}").mkString("; "))
    val newCols = sCols.filterNot(tCols.contains)
    val missingCols = tCols.filterNot(sCols.contains)
    val padded =
      if (missingCols.isEmpty) source
      else missingCols.foldLeft(source) { (df, c) =>
        df.withColumn(c, lit(null).cast(target.schema(c).dataType))
      }
    if (newCols.nonEmpty) {
      // widen the table FIRST, so the plain upsert sees
      // schema-identical sides
      spark.sql(s"ALTER TABLE $table ADD COLUMNS (" + newCols.map(c =>
        s"`${c.replace("`", "``")}` ${source.schema(c).dataType.sql}")
        .mkString(", ") + ")")
      spark.catalog.refreshTable(table)
    }
    upsertTable(spark, table, padded.select(
      spark.table(table).columns.map(col).toSeq: _*), keys)
  }

  /** Keyed upsert: the batch's first row per key, in a total order over
    * its columns, replaces every target row of that key (keys match
    * null-safely: the window groups nulls together), and target rows of
    * keys the batch does not touch are kept as they are, duplicates
    * included. One window over target ∪ batch decides both. Across
    * batches the later batch's row wins. The upsert is idempotent
    * (PropertySpec pins f(f(x)) = f(x)), so a replayed batch — a
    * streaming micro-batch re-delivered after a crash — re-merges the
    * same rows and the table converges without an epoch fence: the
    * same reason foreachBatch + MERGE is the documented Delta pattern.
    */
  def upsertTable(spark: SparkSession, table: String, source0: DataFrame,
      keys: Seq[String]): Long = {
    Commit.recover(spark, table)
    val obs = new org.apache.spark.sql.Observation()
    val batch = source0.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    // Delta MERGE rejects duplicate source keys; we instead keep one
    // deterministic row per key (first over a total row order) so the
    // operation stays idempotent. Target rows sort after every batch
    // row of their key, so a key's first row is a batch row iff the
    // batch touches it.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_src") +: source0.columns.map(col).toSeq: _*)
    def merge(rows: DataFrame) = rows
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("_hit", org.apache.spark.sql.functions.first("_src").over(w))
      .filter((col("_src") === 0 && col("_rn") === 1) ||
        (col("_src") === 1 && col("_hit") === 1))
    val tagged = batch.withColumn("_src", lit(0))
    if (!spark.catalog.tableExists(table))
      Commit.replace(spark, table, merge(tagged).drop("_src", "_rn", "_hit"))
    else {
      val target = spark.table(table)
      val cols = target.columns.map(col).toSeq
      // a batch missing a target column is refused (analysis only);
      // columns only the batch has still break its ties, then drop
      batch.select(cols: _*)
      Commit.replace(spark, table, merge(tagged.unionByName(
        target.withColumn("_src", lit(1)), allowMissingColumns = true))
        .select(cols: _*))
    }
    // the optimizer prunes a batch it proves empty, and the metric with it
    obs.get.get("rows").fold(0L)(_.asInstanceOf[Long])
  }
}
