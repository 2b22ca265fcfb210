package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Sink modes (reference operators K1–K6) on parquet catalog tables:
  * append, overwrite (optional partitionBy), and keyed upsert (the
  * no-Delta MERGE emulation, SURVEY.md §7.4).
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

  /** Structured-Streaming → keyed-upsert bridge: `foreachBatch` hands
    * each micro-batch to [[Upsert.upsertTable]] — the production
    * pattern for a streaming MERGE sink when the table format has no
    * native streaming upsert. Within a batch the upsert keeps one
    * deterministic row per key; across batches the later batch's row
    * replaces the earlier one (last-writer-wins at batch grain).
    *
    * Exactly-once story: checkpointed source offsets give at-least-once
    * batch delivery, and the upsert is IDEMPOTENT per key (PropertySpec
    * pins f(f(x)) = f(x)), so a micro-batch replayed after a failure
    * re-merges the same rows and the table converges — idempotent sink
    * + checkpointed offsets is the standard streaming exactly-once
    * contract, the same reason foreachBatch+MERGE is the documented
    * Delta pattern. At 100 TB the per-batch cost is the upsert's: a
    * keyed shuffle of batch ∪ matched-target partitions; the unmatched
    * target remainder is rewritten only because parquet has no
    * row-level update — a real table format turns that into a
    * version-pointer swap.
    *
    * @param availableNow true → process everything available, then
    *        stop (the catch-up / batch-parity trigger); false → the
    *        default micro-batch trigger for an always-on query.
    * @return the started query; the caller owns awaitTermination/stop.
    */
  def streamUpsert(stream: DataFrame, table: String, keys: Seq[String],
      checkpoint: String, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.upsertTable(batch.sparkSession, table, batch, keys)
        // foreachBatch runs in a micro-batch CLONE of the session;
        // upsertTable refreshed the clone's file-index cache, but the
        // owning session (the one the user reads the table from) still
        // holds the pre-overwrite index and would FILE_NOT_EXIST
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming CDC sink: [[streamUpsert]]'s changelog twin — each
    * micro-batch of (data…, op, seq) rows goes through
    * [[Upsert.applyChangeLog]], so a streamed changelog (a Debezium/
    * binlog-shaped feed) maintains the table INCLUDING deletes, which
    * the plain upsert sink cannot express. Same exactly-once contract:
    * checkpointed offsets + a replay-convergent apply (latest-seq-wins
    * per key, idempotent deletes) — re-delivered batches re-apply to
    * the same state.
    */
  def streamChangeLog(stream: DataFrame, table: String, keys: Seq[String],
      checkpoint: String, opCol: String = "op", seqCol: String = "seq",
      availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.applyChangeLog(batch.sparkSession, table, batch, keys,
          opCol, seqCol)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming incremental gold: each micro-batch folds into a standing
    * additive-aggregate table via
    * [[Maintenance.maintainAdditiveAggregate]] — the streaming twin of
    * the batch maintenance path, and the third member of the
    * foreachBatch sink family (upsert / changelog / additive). The
    * exactly-once story is DIFFERENT from the other two and worth
    * stating: the additive fold is NOT naturally idempotent (replaying
    * a batch would add it twice), and foreachBatch delivery is
    * AT-LEAST-ONCE (a crash between the fold's commit and the
    * checkpoint's offset commit re-runs the epoch) — which is exactly
    * why Spark hands the sink a batchId. The sink therefore commits
    * the epoch id as a `_last_epoch` column in the SAME table write as
    * the folded data and skips any epoch ≤ the committed one
    * ([[Maintenance.maintainAdditiveAggregate]]'s `epochId`) — the
    * parquet analog of the Delta `txnAppId`/`txnVersion` pattern, so
    * replays converge like the sibling sinks'. Per-batch cost
    * rides the BATCH (one map-side-combined aggregate + one keyed join
    * against the standing table), never the stream's history — the
    * whole point vs. aggregating the stream wholesale.
    */
  def streamAdditiveAggregate(stream: DataFrame, table: String,
      keys: Seq[String], sumCols: Seq[String], checkpoint: String,
      availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Maintenance.maintainAdditiveAggregate(
          batch.sparkSession, table, batch, keys, sumCols,
          epochId = Some(batchId))
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[Maintenance.maintainInsertOnlyExtremes]] —
    * per-key MIN/MAX envelopes maintained from a stream under the same
    * epoch-fenced foreachBatch contract as the additive sink: the
    * batchId is committed WITH the fold, so a crash-replayed epoch
    * no-ops (the extremes VALUES are replay-idempotent on their own,
    * but `n_rows` is not — the fence is what keeps the count honest
    * under at-least-once delivery). A streaming feed is insert-only by
    * nature, so the operator's insert-only contract holds by
    * construction here — the one place it needs no caveat.
    */
  def streamInsertOnlyExtremes(stream: DataFrame, table: String,
      keys: Seq[String], minCols: Seq[String], maxCols: Seq[String],
      checkpoint: String, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Maintenance.maintainInsertOnlyExtremes(
          batch.sparkSession, table, batch, keys, minCols, maxCols,
          epochId = Some(batchId))
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[Maintenance.maintainDistinctView]]: per-key
    * HLL registers maintained from a stream. The exactly-once story is
    * the SIMPLEST of the sink family and worth stating as the
    * contrast: max-merge is idempotent, so a crash-replayed micro-batch
    * converges with NO epoch column, no fence, no bookkeeping — the
    * at-least-once hazard the additive/extremes sinks must fence
    * against simply does not exist for a sketch whose merge is a
    * semilattice join. Per-batch cost rides the batch (one
    * map-side-combined register build) plus a keys·m-bounded merge.
    */
  def streamDistinctView(stream: DataFrame, table: String,
      keys: Seq[String], itemCol: String, checkpoint: String,
      m: Int = 64, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Maintenance.maintainDistinctView(
          batch.sparkSession, table, batch, keys, itemCol, m)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[Maintenance.maintainQuantileView]]: per-key
    * HDR bucket counts maintained from a stream. Bucket counts ADD
    * (unlike the distinct view's idempotent max), so this sink carries
    * the additive family's epoch fence — the batchId commits with the
    * fold and a crash-replayed epoch no-ops.
    */
  def streamQuantileView(stream: DataFrame, table: String,
      keys: Seq[String], centsCol: String, checkpoint: String,
      availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Maintenance.maintainQuantileView(
          batch.sparkSession, table, batch, keys, centsCol,
          epochId = Some(batchId))
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[DedupStore.maintain]] — the standing
    * cross-corpus dedup store maintained from a DOCUMENT stream: each
    * micro-batch near-dup-probes the accumulated store, keeps one doc
    * per within-batch cluster, and appends the survivors' band rows.
    * The batchId commits with the fold as the store's epoch property,
    * so a crash-replayed micro-batch no-ops — the append-only store's
    * appends are non-idempotent, which is exactly why this sink (like
    * additive/extremes/quantile) carries the fence while the
    * sketch-algebra sinks need none. Completes the streaming-sink
    * family: every declarative refresh_type now has a stream twin.
    */
  def streamDedupStore(stream: DataFrame, table: String, idCol: String,
      textCol: String, checkpoint: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.0,
      maxBucketSize: Option[Long] = None, storeBuckets: Int = 0,
      availableNow: Boolean = true, keeper: String = "min_id",
      qualityCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DedupStore.maintain(batch.sparkSession, table, batch, idCol,
          textCol, shingleN, numHashes, bands, jaccardThreshold,
          maxBucketSize = maxBucketSize, storeBuckets = storeBuckets,
          epochId = Some(batchId), keeper = keeper, qualityCol = qualityCol)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[MediaDedupStore.maintain]] — the perceptual-
    * hash image store maintained from a (media_id, dhash) stream. The
    * stream carries HASHES, not payloads (dHash is scan-fused map work
    * upstream of the landing path), so the sink moves 8 bytes per
    * image. Same batchId epoch fence and replay contract as the text
    * store sink: a replayed uncommitted epoch no-ops through the
    * fence, and the identity guard keeps a re-delivered media_id from
    * appending twice inside the crash window.
    */
  def streamMediaDedupStore(stream: DataFrame, table: String,
      idCol: String, hashCol: String, checkpoint: String,
      bands: Int = 4, maxHamming: Long = 16L,
      maxBucketSize: Option[Long] = None, storeBuckets: Int = 0,
      availableNow: Boolean = true, keeper: String = "min_id",
      qualityCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MediaDedupStore.maintain(batch.sparkSession, table, batch,
          idCol, hashCol, bands, maxHamming,
          maxBucketSize = maxBucketSize, storeBuckets = storeBuckets,
          epochId = Some(batchId), keeper = keeper, qualityCol = qualityCol)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming twin of [[VectorDedupStore.maintain]] — the embedding
    * store maintained from a vector stream. The FIRST micro-batch is
    * the founding batch: it freezes the calibration model (amax + the
    * centroids), so a deployment should seed the store from a
    * representative corpus before attaching the stream (or accept the
    * first batch as calibration). Same batchId epoch fence as the
    * text-store sink.
    */
  def streamVectorDedupStore(stream: DataFrame, table: String,
      idCol: String, vecCol: String, minScore: Long, checkpoint: String,
      numCentroids: Int = 8, nprobe: Int = 2, trainIters: Int = 2,
      maxCellSize: Option[Long] = None,
      availableNow: Boolean = true, keeper: String = "min_id")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        VectorDedupStore.maintain(batch.sparkSession, table, batch,
          idCol, vecCol, minScore, numCentroids, nprobe, trainIters,
          maxCellSize, epochId = Some(batchId), keeper = keeper)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming SCD2 sink: each micro-batch of (keys, tracked,
    * effective) observations folds through [[Scd2.merge]], so an
    * attribute-change feed maintains the versioned dimension
    * continuously. Replay convergence holds by the merge's own
    * algebra (re-merging the latest batch is a bit-identical no-op —
    * Scd2Spec), which covers the only replay a checkpointed stream
    * produces (the last uncommitted epoch). The stream owes the merge
    * per-key event-time ORDER ACROSS batches — the same
    * in-order-across-batches contract as the stateful transition
    * derivation (within a batch, any order: versions chain by
    * effective date) — and a violation fails loudly inside the merge
    * rather than splicing closed history.
    */
  def streamScd2(stream: DataFrame, table: String, keys: Seq[String],
      tracked: Seq[String], effectiveCol: String, checkpoint: String,
      availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Scd2.merge(batch.sparkSession, table, batch, keys, tracked,
          effectiveCol)
        stream.sparkSession.catalog.refreshTable(table)
        ()
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }
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
    * table — the idempotence that makes this the correct foreachBatch
    * target for a CDC stream, same contract as [[Sinks.streamUpsert]].
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
    * included. One window over target ∪ batch decides both.
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
