package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators for parquet catalog tables — the
  * no-Delta counterparts of OPTIMIZE (compaction) and the incremental
  * gold-refresh path a metadata-driven pipeline needs at scale
  * (reference scope: the gold layer recomputes models wholesale and
  * upserts; VACUUM/OPTIMIZE are Delta-only per SURVEY §7.4 — these are
  * the parquet-native equivalents of the parts that ARE expressible).
  *
  * The four key-bounded views — [[maintainAdditiveAggregate]],
  * [[maintainInsertOnlyExtremes]], [[maintainDistinctView]] and
  * [[maintainQuantileView]] — are one fold, [[foldKeyed]]. Each
  * declares only its batch state (one map-side-combined aggregate of
  * the BATCH, never of history) and the aggregates that merge two
  * states per key. Those combiners are associative and commutative,
  * and the commit regroups `standing ∪ batch state` under them, so N
  * folds ≡ one aggregate over the union of their batches, in any
  * order (pinned in MaintenanceSpec and PropertySpec). NULL rules are
  * the one-shot aggregate's: grouping puts NULL keys in one row, and a
  * sum over only NULLs stays NULL. Type rule: every column keeps the
  * standing table's type (a sum of decimals does not widen per fold),
  * so the commit is an INSERT OVERWRITE that keeps the table
  * definition. Scale shape: cost rides the batch plus the standing
  * table, which is key-bounded — one row per key (per key and bucket
  * for the sketches) however long the history. A FENCED fold admits
  * its epoch through [[EpochFence]] and commits it as a `_last_epoch`
  * column in the same table commit as the data, so data and marker
  * cannot diverge; the committed epoch skips, an older one throws.
  */
object Maintenance {

  /** OPTIMIZE-style compaction: rewrite a table into
    * `ceil(rows / targetRowsPerFile)` files. The small-file problem is
    * the classic streaming/incremental-append pathology — thousands of
    * kilobyte files turn every scan into a file-listing and task-
    * scheduling storm; nightly compaction restores scan-sized files.
    * Committed through [[Commit.replace]] (a table cannot feed its own
    * overwrite), which keeps the partition spec, the bucket spec and
    * the `graft.*` properties. `repartition` (not
    * `coalesce`) so the rewrite redistributes evenly — coalesce would
    * glue existing small files into uneven unions and keep skew.
    *
    * @return (files before, files after).
    */
  def compact(spark: SparkSession, table: String,
      targetRowsPerFile: Long = 1000000L,
      clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    Commit.recover(spark, table)
    val before = spark.table(table).inputFiles.length
    val n = spark.table(table).count()
    val parts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    val tableMeta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val partCols = tableMeta.partitionColumnNames
    val bucketSpec = tableMeta.bucketSpec
    // a partition spec clusters the rewrite by ITS columns and a bucket
    // spec prescribes its own placement — a caller-requested range
    // clustering would silently fight either; refuse, never reorder
    require(clusterBy.isEmpty || (partCols.isEmpty && bucketSpec.isEmpty),
      s"clusterBy is only for unpartitioned, unbucketed tables; " +
        s"'$table' has partition=[${partCols.mkString(",")}] " +
        s"bucket=${bucketSpec.isDefined}")
    // partitioned tables cluster the rewrite BY the partition columns so
    // each partition value lands in FEW tasks (a round-robin repartition
    // would make every task write a sliver of every value — parts ×
    // values files, the opposite of compaction) — but not ONE task: a
    // hot value holding 50× targetRowsPerFile must still split into
    // ~50 files, or the rewrite funnels it through a single
    // straggler/OOM task. Per-value counts (one cheap aggregate) size a
    // salt column: value v spreads over ceil(rows(v)/target) tasks, so
    // targetRowsPerFile is honored WITHIN each partition value.
    val clustered =
      if (partCols.nonEmpty) {
        // counts join back NULL-SAFELY (<=>): a partition value can be
        // NULL (__HIVE_DEFAULT_PARTITION__ reads back as null), and an
        // === join would silently DROP those rows from the rewrite — a
        // maintenance op must never lose data (same null-key class as
        // the maintainAdditiveAggregate fix, caught by review)
        val t0 = spark.table(table)
        val counts = t0.groupBy(partCols.map(col): _*)
          .agg(ceil(count(lit(1)).cast("double") / targetRowsPerFile)
            .cast("int").as("_nf"))
        val cAliased = counts.select(
          partCols.map(c => col(c).as(s"_pc_$c")) :+ col("_nf"): _*)
        // the salt is a DETERMINISTIC function of the row's own data
        // (xxhash64 over every source column): spark_partition_id /
        // monotonically_increasing_id would re-assign rows on a shuffle-
        // map task RETRY (fetch failure, executor loss), the SPARK-23207
        // class of silent row loss/duplication under a repartition —
        // fatal in an op that must never lose data (round-11 advice).
        // Identical duplicate rows co-locate in one salt group; the
        // commit's maxRecordsPerFile below still bounds file size then.
        t0.join(broadcast(cAliased),
            partCols.map(c => t0(c) <=> cAliased(s"_pc_$c")).reduce(_ && _))
          .withColumn("_salt",
            pmod(xxhash64(t0.columns.toSeq.map(col): _*),
              greatest(col("_nf"), lit(1))).cast("int"))
          .repartition(parts, (partCols.map(col) :+ col("_salt")): _*)
          .drop("_salt" +: "_nf" +: partCols.map(c => s"_pc_$c"): _*)
      } else if (clusterBy.nonEmpty)
        // RANGE-cluster the rewrite: each file covers a narrow value
        // range of the cluster columns, which is exactly the layout
        // [[ZoneMaps]] manifest pruning needs to skip whole files (and
        // what parquet's own row-group min/max pruning rewards). Range
        // placement is a deterministic function of the row's own key
        // against driver-computed boundaries — retry-safe, unlike a
        // round-robin repartition (the SPARK-23207 class)
        spark.table(table)
          .repartitionByRange(parts, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else spark.table(table).repartition(parts)
    // the salt gives the hot value TASK parallelism; hash collisions can
    // still co-locate salt groups in one task, so the FILE-size contract
    // is enforced on the table write — a task holding k·target rows of
    // one value rolls k files. The staged read may PACK several small
    // files into one task (maxPartitionBytes), which would mix ranges
    // back together in the final files — re-apply the range placement
    // on the table write so the on-disk layout, not just the stage, is
    // clustered
    Commit.replace(spark, table, clustered, targetRowsPerFile,
      relayout = staged =>
        if (clusterBy.isEmpty) staged
        else staged.repartitionByRange(parts, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*))
    (before, spark.table(table).inputFiles.length)
  }

  /** VACUUM for the staging plane: deletes every staging directory
    * [[Commit]] keeps under the warehouse. A successful commit leaves
    * none, so whatever is there is the recovery copy of a commit that
    * died — until that table's next rewrite rolls it forward. ORDERING
    * contract for the declarative plane: schedule this AFTER the
    * rewrite tasks (compact / prune_store / retrain_store) in the same
    * config, and never after a failed one (the maintenance layer
    * refuses): a vacuum that runs first would delete the only complete
    * copy of a table whose rewrite died mid-write. Returns the number
    * of staging directories removed.
    */
  def vacuumStaging(spark: SparkSession): Int = Commit.sweep(spark)

  /** Epoch-horizon retention for the standing dedup stores (and any
    * `_epoch`-stamped append-only table): DELETE rows whose `_epoch`
    * has fallen out of the declared window. The stores grow append-only
    * forever by design (a fold never rewrites history); a multi-year
    * crawl wants the trailing window pruned so store mass tracks the
    * retention policy, not all of history — the store-family analog of
    * [[Scd2.pruneHistory]].
    *
    * Window semantics: the anchor is the store's COMMITTED epoch (the
    * O(1) [[DedupStore.EpochProperty]], falling back to the max-scan
    * for legacy tables — never "today", so a store that stopped folding
    * is not silently emptied by the calendar); rows with
    * `_epoch > committed − keepEpochs` survive — the last `keepEpochs`
    * epochs counting the committed one. In the declarative plane epochs
    * are run-date epoch DAYS, so `keep_epochs: 365` reads "retain one
    * year of folds".
    *
    * What pruning means for dedup semantics (the retention trade,
    * stated loudly): content whose ONLY stored copy lived in pruned
    * epochs is re-admittable — a later re-delivery probes nothing and
    * appends as fresh (with its identity guard gone too). Probes
    * against the SURVIVING window are unchanged: the rewrite is a pure
    * `_epoch` filter, touching no codes/bands/cells, and the vector
    * store's frozen `<table>_model` sibling is never touched.
    *
    * Committed through [[Commit.replace]]: partition spec, bucket
    * spec, and `graft.*` table properties — including the epoch fence
    * — all survive. Returns (rows deleted, rows kept).
    */
  def pruneStore(spark: SparkSession, table: String,
      keepEpochs: Long): (Long, Long) = {
    require(keepEpochs > 0, s"keepEpochs must be positive, got $keepEpochs")
    Commit.recover(spark, table)
    val t0 = spark.table(table)
    require(t0.columns.contains("_epoch"),
      s"prune_store: '$table' has no _epoch column — retention is only " +
        "defined for epoch-stamped stores (dedup_store / " +
        "vector_dedup_store / additive-family tables)")
    val committed = DedupStore.committedEpoch(spark, table).getOrElse(
      throw new IllegalStateException(
        s"prune_store: '$table' has no committed epoch (empty store, " +
          "never folded) — nothing to anchor the retention window"))
    val cutoff = committed - keepEpochs // survivors: _epoch > cutoff
    val total = t0.count()
    Commit.replace(spark, table, t0.filter(col("_epoch") > cutoff))
    val kept = spark.table(table).count()
    (total - kept, kept)
  }

  /** Incremental maintenance of an ADDITIVE aggregate table — the
    * 100 TB gold-refresh path: instead of rescanning all history per
    * run (the reference's wholesale recompute), fold each new fact
    * batch into the standing (keys → sums, `n_rows`) table. Combiner:
    * `sum`. Correct exactly for the ADDITIVE family (SUM/COUNT — and
    * the AVG/rate family derived from them at read time); MIN/MAX
    * survive inserts but not retractions, and DISTINCT needs a sketch
    * ([[graft.operators.Sketches]]) — that boundary is the classic
    * materialized-view-maintenance taxonomy, enforced here by only
    * accepting sum columns.
    *
    * Fenced: `epochId` is the batch's epoch (a run date's epoch day, a
    * micro-batch id). An older epoch is refused because sums add: a
    * backfill would double-count.
    *
    * @return true if the batch folded (or created the table); false if
    *         it was a replayed epoch and was skipped — callers holding
    *         an Observation on the batch must not block on it then.
    */
  def maintainAdditiveAggregate(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], sumCols: Seq[String],
      epochId: Long): Boolean = {
    require(sumCols.nonEmpty, "need at least one additive column")
    val aggs = sumCols.map(c => sum(col(c)).as(c)) :+ count(lit(1)).as("n_rows")
    foldKeyed(spark, table, "additive",
      batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), keys,
      (sumCols :+ "n_rows").map(c => sum(col(c)).as(c)), Some(epochId))
  }

  /** Incremental MIN/MAX maintenance — the other half of the
    * materialized-view taxonomy [[maintainAdditiveAggregate]] enforces.
    * Combiner: `min` / `max` into `min_<c>` / `max_<c>`, plus an
    * additive `n_rows`. Feed contract: INSERT-ONLY, and that
    * restriction is the contract, not a caveat — a retraction can
    * strand a stale extreme with no way to recompute short of a full
    * rescan, which is exactly the wholesale-recompute this path exists
    * to avoid (a retraction-heavy feed wants the additive family or a
    * rescan schedule). A streaming feed is insert-only by nature.
    *
    * Fenced: the min/max values are replay-idempotent on their own,
    * but `n_rows` is not, so a backfill would double-count it.
    */
  def maintainInsertOnlyExtremes(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], minCols: Seq[String],
      maxCols: Seq[String], epochId: Long): Boolean = {
    require(minCols.nonEmpty || maxCols.nonEmpty,
      "need at least one min or max column")
    val (mins, maxs) = (minCols.map(c => s"min_$c"), maxCols.map(c => s"max_$c"))
    val aggs = minCols.zip(mins).map { case (c, o) => min(col(c)).as(o) } ++
      maxCols.zip(maxs).map { case (c, o) => max(col(c)).as(o) } :+
      count(lit(1)).as("n_rows")
    foldKeyed(spark, table, "extremes",
      batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), keys,
      mins.map(c => min(col(c)).as(c)) ++ maxs.map(c => max(col(c)).as(c)) :+
        sum(col("n_rows")).as("n_rows"), Some(epochId))
  }

  /** The one fold of the four key-bounded views (see the object doc):
    * `state` is the batch's aggregate and `merge` combines states per
    * `groupBy` key. Recovers a died commit, refuses a standing table of
    * another shape, admits `epochId` (when fenced) through
    * [[EpochFence]], then commits `standing ∪ state` regrouped under
    * `merge`, in the standing column types and stamped with the epoch.
    * A missing table is created from `state`.
    *
    * @return false when the fence skipped a replayed epoch.
    */
  private def foldKeyed(spark: SparkSession, table: String, what: String,
      state: DataFrame, groupBy: Seq[String], merge: Seq[Column],
      epochId: Option[Long]): Boolean = {
    Commit.recover(spark, table)
    val standing = Some(table).filter(spark.catalog.tableExists).map(spark.table)
    val shape = state.columns.sorted.toSeq
    for (t <- standing; has = t.columns.filter(_ != "_last_epoch").sorted.toSeq)
      require(has == shape, s"'$table' is not this view's $what shape: has " +
        s"[${has.mkString(", ")}], expected [${shape.mkString(", ")}]")
    if (epochId.exists(e => !EpochFence.admit(s"$what fold", table, e,
        standing.flatMap(EpochFence.last)))) return false
    val next = standing.fold(state)(t =>
      t.select(state.columns.map(col).toSeq: _*).unionByName(state)
        .groupBy(groupBy.map(col): _*).agg(merge.head, merge.tail: _*)
        .select(state.columns.map(c => col(c).cast(t.schema(c).dataType)).toSeq: _*))
    Commit.replace(spark, table,
      epochId.fold(next)(e => next.withColumn("_last_epoch", lit(e))))
    true
  }

  /** Incremental maintenance of an INNER EQUI-JOIN view — the third
    * member of the materialized-view family ([[maintainAdditiveAggregate]]
    * sums, [[maintainInsertOnlyExtremes]] min/max, this one joins):
    * instead of re-joining two full base tables per refresh, fold the
    * INSERT-ONLY delta batches through the classic delta rule
    *
    *   ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * (A, B = the STANDING base tables, pre-batch) and APPEND ΔV — the
    * view is never rescanned, never rewritten. N maintenance steps ≡
    * one full recompute over the final bases (pinned in
    * MaintenanceSpec, including the ΔA ⋈ ΔB term a naive two-term
    * rule silently drops when both sides batch in the same step).
    * Insert-only is the contract, same as the extremes fold: a
    * retraction would need a keyed delete against the view (the CDC
    * sink's business, not this fold's).
    *
    * CALLER SEQUENCING CONTRACT — `basesIncludeBatches` names which
    * side of the append the caller stands on, because the delta rule
    * differs and the wrong one double-counts silently:
    * - `false` (library default): the standing bases do NOT yet
    *   contain the batches — maintain first, append after. The rule
    *   is the three-term union above.
    * - `true` (the declarative gold path, where silver already
    *   appended today's rows before gold runs): B ⊇ ΔB and A ⊇ ΔA,
    *   so ΔA⋈B and A⋈ΔB EACH contain ΔA⋈ΔB — the fold subtracts one
    *   bag-copy of that term (`exceptAll` on the join OUTPUT, which
    *   rides Δ mass, never a base-table anti-join which would rescan
    *   |A|).
    *
    * Join semantics are PLAIN equality (null keys never match) — the
    * invariant is parity with `A JOIN B` recomputed wholesale, and
    * that is what a plain inner join does on every engine. Non-key
    * column names must be disjoint across the two sides (checked).
    *
    * Scale shape: each delta term is a keyed equi-join of a BATCH
    * against a standing table (AQE broadcasts small batch sides on
    * its own) plus the batch ⋈ batch term — cost rides |Δ| and the
    * join's true output mass, never |V| or |A|+|B|. The view append
    * is file-append, not rewrite.
    *
    * `epochId` is admitted through [[EpochFence]]: the appended rows
    * are stamped with it, and the committed epoch is `max(_last_epoch)`
    * over the view. An older epoch is refused because the append is
    * not idempotent: a backfill risks a double join. A view built
    * without the marker column (by hand) is refused: parquet appends
    * cannot retrofit a column, so recreate it through this fold.
    */
  def maintainJoinView(spark: SparkSession, table: String,
      leftTable: String, rightTable: String, joinKeys: Seq[String],
      leftBatch: Option[DataFrame], rightBatch: Option[DataFrame],
      epochId: Long,
      basesIncludeBatches: Boolean = false): Boolean = {
    require(joinKeys.nonEmpty, "need at least one join key")
    Commit.recover(spark, table)
    require(leftBatch.nonEmpty || rightBatch.nonEmpty ||
      !spark.catalog.tableExists(table),
      "need a batch on at least one side to maintain an existing view")
    val a = spark.table(leftTable)
    val b = spark.table(rightTable)
    val overlap = a.columns.toSet.intersect(b.columns.toSet) -- joinKeys
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across sides: ${overlap.mkString(",")}")
    for (d <- leftBatch) {
      val miss = a.columns.filterNot(d.columns.contains)
      require(miss.isEmpty, s"left batch missing columns: ${miss.mkString(",")}")
    }
    for (d <- rightBatch) {
      val miss = b.columns.filterNot(d.columns.contains)
      require(miss.isEmpty, s"right batch missing columns: ${miss.mkString(",")}")
    }
    def pick(d: DataFrame, cols: Array[String]) =
      d.select(cols.map(col).toIndexedSeq: _*)
    val dA = leftBatch.map(pick(_, a.columns))
    val dB = rightBatch.map(pick(_, b.columns))
    if (!spark.catalog.tableExists(table)) {
      // first run: the view is the full join of bases + pending batches
      // (post-append callers' bases already carry them)
      val aAll = if (basesIncludeBatches) a else dA.fold(a)(a.unionByName(_))
      val bAll = if (basesIncludeBatches) b else dB.fold(b)(b.unionByName(_))
      aAll.join(bAll, joinKeys).withColumn("_last_epoch", lit(epochId))
        .write.saveAsTable(table)
      return true
    }
    val view = spark.table(table)
    if (!view.columns.contains("_last_epoch")) throw new IllegalStateException(
      s"join-view fold for '$table': the view was built without epoch " +
        "fencing and parquet appends cannot retrofit the marker column — " +
        "recreate the view through this fold to fence replays")
    if (!EpochFence.admit("join-view fold", table, epochId,
        EpochFence.last(view))) return false
    val ddTerm = for (x <- dA; y <- dB) yield x.join(y, joinKeys)
    val dV = if (basesIncludeBatches) {
      // bases already hold the batches: ΔA⋈B and A⋈ΔB each contain
      // ΔA⋈ΔB — subtract the extra bag-copy on the (small) output
      val two = Seq(dA.map(_.join(b, joinKeys)), dB.map(a.join(_, joinKeys)))
        .flatten.reduce(_.unionByName(_))
      ddTerm.fold(two)(two.exceptAll)
    } else {
      (Seq(dA.map(_.join(b, joinKeys)), dB.map(a.join(_, joinKeys)))
        .flatten ++ ddTerm).reduce(_.unionByName(_))
    }
    dV.withColumn("_last_epoch", lit(epochId))
      .write.mode(SaveMode.Append).saveAsTable(table)
    spark.catalog.refreshTable(table)
    true
  }

  /** Incremental DISTINCT-COUNT view — the sketch member of the
    * materialized-view taxonomy ([[maintainAdditiveAggregate]] sums,
    * [[maintainInsertOnlyExtremes]] min/max, [[maintainJoinView]]
    * joins): COUNT(DISTINCT x) per key is not additive and cannot fold
    * exactly from batches, so the standing table holds per-key
    * HyperLogLog REGISTERS ([[graft.operators.Sketches
    * .hllRegistersBy]]), ≤ m rows per key forever. Combiner: `max` of
    * `rho` per (keys, bucket). Because `max` is associative,
    * commutative AND IDEMPOTENT, this is the one view family that
    * needs NO epoch fence at all: a crash-replayed batch, a reordered
    * batch, even a late backfill all max-merge to the registers of the
    * union — replays and out-of-order arrivals are harmless by algebra,
    * not by bookkeeping (pinned in MaintenanceSpec). Deletions remain
    * out of scope, as for every sketch (an HLL cannot un-see an item).
    * Read the view back with [[distinctViewEstimate]].
    *
    * m is PERSISTED with the registers as `_m`: registers built with
    * different m live in different bucket spaces, so an `hll_m` edited
    * between runs is refused rather than max-merged into garbage.
    */
  def maintainDistinctView(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], itemCol: String,
      m: Int = 64): Boolean = {
    require(keys.nonEmpty, "need at least one key column")
    require(graft.operators.Sketches.hllAlphaMs.contains(m),
      s"m must be one of ${graft.operators.Sketches.hllAlphaMs.sorted}, got $m" +
        " (the exact-integer estimator's alpha table)")
    Commit.recover(spark, table)
    for (standingM <- registerCount(spark, table) if standingM != m)
      throw new IllegalStateException(
        s"distinct view '$table' was built with m=$standingM but this " +
          s"fold uses m=$m — different register spaces cannot merge; " +
          "recreate the view or restore the original hll_m")
    foldKeyed(spark, table, "register",
      graft.operators.Sketches.hllRegistersBy(batch, keys, col(itemCol), m)
        .withColumn("_m", lit(m.toLong)),
      keys ++ Seq("bucket", "_m"), Seq(max(col("rho")).as("rho")), None)
  }

  /** The `_m` a distinct view's registers were built with; None when
    * the table is missing, empty or has no `_m` column.
    */
  private def registerCount(spark: SparkSession, table: String): Option[Int] =
    Some(table).filter(spark.catalog.tableExists).map(spark.table)
      .filter(_.columns.contains("_m"))
      .flatMap(t => Option(t.agg(max(col("_m"))).head().get(0)))
      .map(_.asInstanceOf[Long].toInt)

  /** Per-key approximate distinct count from a [[maintainDistinctView]]
    * table: `(keys…, m, n_empty, est)` via the exact-integer raw HLL
    * estimator — bit-identical in any engine, so the VIEW readback is
    * hash-checkable even though the count is approximate. The register
    * count is DERIVED from the table's persisted `_m` — a caller
    * cannot read a view with the wrong m.
    */
  def distinctViewEstimate(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame = {
    val m = registerCount(spark, table).getOrElse(throw new IllegalArgumentException(
      s"'$table' is not a maintainDistinctView table (no _m registers)"))
    graft.operators.Sketches.hllEstimateBy(spark.table(table)
      .select((keys ++ Seq("bucket", "rho")).map(col): _*), keys, m)
  }

  /** Incremental QUANTILE view — the fifth member of the
    * materialized-view taxonomy (sums, min/max, joins, distinct
    * counts, and now distributions): percentiles are not additive and
    * exact ones need the full data, so the standing table holds
    * per-key HDR log-bucket counts
    * ([[graft.operators.Sketches.hdrSketchBy]], 6.25% relative error,
    * ≤ ~2k buckets per key forever). Combiner: `sum` of `cnt` per
    * (keys, bkey). Fenced: unlike the distinct view's max, bucket
    * counts ADD, so a replay or a backfill would double-count. Read
    * back with [[quantileViewEstimate]].
    */
  def maintainQuantileView(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], centsCol: String,
      epochId: Long): Boolean = {
    require(keys.nonEmpty, "need at least one key column")
    foldKeyed(spark, table, "quantile",
      graft.operators.Sketches.hdrSketchBy(batch, keys, col(centsCol)),
      keys :+ "bkey", Seq(sum(col("cnt")).as("cnt")), Some(epochId))
  }

  /** Per-key quantile estimates from a [[maintainQuantileView]] table:
    * `(keys…, q_permille, est_lo_cents)` — deterministic integers, at
    * most 6.25% below the true discrete quantile.
    */
  def quantileViewEstimate(spark: SparkSession, table: String,
      keys: Seq[String], qPermille: Seq[Int]): DataFrame =
    graft.operators.Sketches.hdrQuantilesBy(
      spark.table(table).select((keys ++ Seq("bkey", "cnt")).map(col): _*),
      keys, qPermille)
}
