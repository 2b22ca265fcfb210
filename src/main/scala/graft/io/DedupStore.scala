package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.operators.FrameCaches.track

/** Standing cross-corpus dedup store — the crawl-N+1 lifecycle as a
  * maintained gold model (reference scope: none — beyond-reference;
  * completes the incremental-view taxonomy with the DEDUP member).
  *
  * [[Dedup.crossCorpusNearDups]] dedupes one batch against a
  * caller-supplied reference frame, but re-shingles and re-hashes the
  * reference TEXT on every call — at crawl N the reference is crawls
  * 1..N-1, so the per-call API re-pays the whole corpus's hashing each
  * batch. This store persists what that work produces: one row per
  * (surviving doc, LSH band) carrying the band key and the doc's
  * hashed shingle set, so each new batch joins against PRECOMPUTED
  * band keys and the accumulated corpus is never re-read as text.
  *
  * Fold semantics per batch (the standard keep-one-per-cluster
  * curation policy):
  *  1. batch docs whose exact Jaccard vs ANY stored doc reaches the
  *     threshold (candidates from the banded equi-join only) are
  *     dropped — near-dups of content the corpus already has;
  *  2. the remaining docs near-dup-cluster among THEMSELVES
  *     (banded pairs → connected components) and each cluster keeps
  *     its smallest id;
  *  3. survivors' band rows APPEND to the store stamped with the
  *     fold's epoch. The store is append-only: state grows with the
  *     deduped corpus (unlike the keys-bounded view sketches), so a
  *     fold never rewrites history — cost rides the batch.
  *
  * Replay contract: appends are NOT idempotent (a replayed batch
  * would re-test against a store that now contains its own survivors
  * — every doc suddenly matches itself), so the fold is fenced by
  * [[EpochFence]]: same-epoch re-run returns false (no-op), an older
  * epoch throws.
  *
  * Scale shape: the batch side is shingled/hashed once (persisted for
  * its three consumers); the store side is a column scan of
  * (band_idx, band_key[, sh]) — never text. The batch×store join is
  * banded equi-only, with the verify Jaccard computed per COLLISION
  * row (≤ bands rows per pair) rather than per distinct pair: a
  * distinct-first pass would shuffle the wide shingle-carrying rows a
  * second time to save at most `bands`× duplicate array intersections.
  * With `storeBuckets > 0` the store table is bucketed on `band_key`,
  * so the store side of every future fold's join is read WITHOUT a
  * shuffle (HashPartitioning(band_key) satisfies the join's clustered
  * distribution; the small batch side shuffles to match) — at 100 TB
  * the accumulated store is the big side, and this is what keeps
  * crawl-N+1 cost linear in the BATCH. `maxBucketSize` caps degenerate
  * store-side band buckets exactly as [[Dedup.candidatePairs]] does
  * (a boilerplate bucket would multiply every colliding batch doc).
  *
  * Store schema: `doc_id, band_idx, band_key, sh, _epoch` — `sh` (the
  * hashed shingle set, needed for the exact-Jaccard verify) is carried
  * on every band row, a deliberate `bands`× duplication that buys the
  * verify without a second doc_id-keyed join against a store-sized
  * signature table; `jaccardThreshold = 0` (LSH-only: any band
  * collision is a dup) never reads `sh` at fold time.
  *
  * The fold and probe are shared with the media family
  * ([[MediaDedupStore]]): a private [[Banding]] value carries only
  * what differs between the two (column names, band derivation,
  * verify predicate, property stamps, error-message names).
  */
object DedupStore {

  /** Catalog table property carrying the last committed fold epoch —
    * the O(1) metadata read that replaces a full-store `max(_epoch)`
    * column scan (at a 100 TB store the scan is a real, unpruned pass
    * per fold; the property read never touches the data). Stores
    * written before this property existed fall back to the scan once,
    * then carry the property from their next fold on.
    */
  val EpochProperty = "graft.dedupstore.epoch"

  /** Catalog property freezing the store's KEY-AFFECTING fold knobs
    * (shingle size, hash count, band count, hash mode): band keys are
    * a pure function of them, so a fold or probe run with different
    * values would band-join against incompatible keys and silently
    * match NOTHING — every row would read as fresh (review-caught: the
    * scaladoc contract alone left a mis-declared `store_probe` waving
    * everything through as novel). Stamped at every fold; later folds
    * and [[probeHits]] refuse on mismatch. Stores written before the
    * property existed pass once and are stamped by their next fold.
    */
  val KnobsProperty = "graft.dedupstore.knobs"

  /** Catalog property recording the store's VERIFY-stage threshold
    * (exact-Jaccard percent here; the siblings stamp their minScore /
    * maxHamming analogs) — INFORMATIONAL, unlike [[KnobsProperty]]:
    * the threshold does not shape band keys, so a probe may
    * legitimately ask a looser or tighter membership question than the
    * fold enforces. Stamped at every fold; [[probeHits]] WARNS (never
    * refuses) when its threshold diverges, so a silently different
    * membership set is at least a logged divergence (advice-caught).
    */
  val VerifyProperty = "graft.dedupstore.verify"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[io] def knobsValue(shingleN: Int, numHashes: Int, bands: Int,
      mode: Dedup.HashMode): String =
    s"shingleN=$shingleN,numHashes=$numHashes,bands=$bands,mode=$mode"

  /** One catalog metadata fetch per guard pass (review-caught: the
    * read path previously resolved the table three times — schema,
    * knobs, verify — per probe, pure driver-side metastore waste on
    * the hot declarative path).
    */
  private[io] def tableMeta(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Enforces the frozen key-affecting knobs. On the FOLD path
    * (`requirePresent = false`) a store written before the property
    * existed passes once and is stamped by the fold that follows; on
    * the READ path (`requirePresent = true`) the property MUST exist —
    * a probe has no stamping step, so a vacuous pass would band-join
    * incompatible keys and silently match nothing, the exact failure
    * the property prevents (advice-caught).
    */
  private[io] def requireKnobsOn(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String, property: String, declared: String, what: String,
      requirePresent: Boolean): Unit = {
    meta.properties.get(property) match {
      case Some(stored) =>
        require(stored == declared,
          s"$what for '$table': declared knobs [$declared] do not match " +
            s"the store's frozen fold settings [$stored] — band keys are " +
            "a pure function of these, so the mismatch would silently " +
            "match nothing; use the store's own settings")
      case None =>
        require(!requirePresent,
          s"$what for '$table': the store carries no '$property' " +
            "property, so the declared knobs cannot be checked — a " +
            "mismatch would silently match nothing. The store predates " +
            "the property (or is not this store family's table): run " +
            "one fold to stamp it, or — after verifying the fold " +
            "settings by hand — ALTER TABLE ... SET TBLPROPERTIES" +
            s"('$property' = '$declared')")
    }
  }

  /** The store family's expected-columns check, ONE definition for the
    * fold and read paths of every family (review-caught clone): a
    * caller pointed at a wrong-family (or arbitrary) table fails with
    * the family's own named error, not a raw missing-column
    * AnalysisException deep inside a join. Returns the CatalogTable so
    * the property guards reuse the same metadata fetch.
    */
  private[io] def requireStoreSchema(spark: SparkSession, table: String,
      expect: Seq[String], what: String, family: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(spark.catalog.tableExists(table), s"$what: no such table '$table'")
    val meta = tableMeta(spark, table)
    val have = meta.schema.fieldNames
    require(have.sorted.toSeq == expect.sorted,
      s"$what: '$table' is not a $family: has " +
        s"[${have.sorted.mkString(", ")}], expected " +
        s"[${expect.sorted.mkString(", ")}]")
    meta
  }

  /** Compares a probe's verify threshold to the one the fold stamped
    * ([[VerifyProperty]] et al.) and WARNS on divergence — returned
    * (and logged) rather than thrown: the threshold is not
    * key-affecting, so a divergent probe is a legitimate but
    * flag-shifting read the operator should know about.
    */
  private[io] def warnVerifyDivergence(spark: SparkSession, table: String,
      property: String, declared: String, what: String): Option[String] =
    warnVerifyDivergenceOn(tableMeta(spark, table), table, property,
      declared, what)

  private[io] def warnVerifyDivergenceOn(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String, property: String, declared: String, what: String)
      : Option[String] = {
    meta.properties.get(property).filter(_ != declared).map { stored =>
      val msg = s"$what for '$table': verify threshold [$declared] " +
        s"differs from the store's fold setting [$stored] — the " +
        "membership flags will diverge from what the fold itself would " +
        "drop (informational: band keys are unaffected)"
      log.warn(msg)
      msg
    }
  }

  /** Outcome of one fold: whether it applied (false = the epoch fence
    * skipped a same-epoch replay) and the batch's row count, counted on
    * the fold's own persisted shingle frame. The count is returned HERE
    * rather than observed by the caller because `maintain` persists the
    * batch subtree: in Spark 4.1, once an observed node's subtree is
    * cached, any later query over the cache completes the caller's
    * `Observation` with `Row.empty` (ObservationManager.tryComplete
    * poisons a registered observation whenever a finished query's
    * LOGICAL plan contains the CollectMetrics node but its execution —
    * a cache hit — produced no metric), so an outside Observation
    * riding the batch is unreliable by design.
    */
  final case class FoldResult(applied: Boolean, batchRows: Long)

  /** The last committed fold epoch: the [[EpochProperty]] table
    * property when present (O(1) catalog read), else a one-time
    * `max(_epoch)` scan for legacy stores.
    *
    * Crash window: the property is stamped AFTER the append, so a
    * failure between them leaves the property one epoch behind the
    * data and the same-date retry RE-RUNS the fold instead of
    * no-opping. That retry converges — every re-delivered doc is
    * dropped by the probe's content match or, failing that (hot-band
    * caps), by the identity guard in the fold — so the cost of the
    * window is a re-paid fold, never a duplicate DOC_ID, never a lost
    * doc. Duplicate CONTENT has one residual edge inside the window:
    * a doc the crashed run dropped as a within-batch cluster-MATE of
    * an appended keeper carries a doc_id the store has never seen, so
    * the identity guard cannot catch it — if a hot-band cap also
    * hides the keeper from the retry's probe, the mate re-appends and
    * near-dup content lands twice. The exposure needs the crash AND a
    * tripped cap AND a clustered batch at once; a maintenance-plane
    * near-dup sweep (or an uncapped one-off fold of the affected
    * epoch) reconciles it.
    */
  def committedEpoch(spark: SparkSession, table: String): Option[Long] =
    tableMeta(spark, table).properties.get(EpochProperty).map(_.toLong).orElse {
      val m = spark.table(table).agg(max(col("_epoch"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }

  /** Within-batch keeper policies, the [[VectorDedupStore.Keepers]]
    * contract on the banded (text and media) stores: `min_id` (each
    * within-batch near-dup cluster keeps its smallest id — the founding
    * d8/d10 curation default) and `max_quality` (keep the member with
    * the HIGHEST value of a declared `qualityCol`, ties → smallest id —
    * the d8b/d10 policy a real corpus cleanup wants when duplicates differ
    * in quality: truncation, boilerplate). The policy only picks WHICH
    * member of a duplicate cluster survives; the probe, banding, and
    * store schema are identical, so the quality column never enters
    * the store. Cost: one window over cluster members (duplicate mass,
    * not batch mass).
    */
  val Keepers: Set[String] = Set("min_id", "max_quality")

  /** What differs between the banded families (text here, 64-bit dHash
    * in [[MediaDedupStore]]); the rest of [[fold]] and [[probe]] runs
    * once for both. `band` maps the batch frame `(idCol, _v[, _q])` —
    * `_v` the caller's text or hash column — to `(idCol[, _q],
    * payloadCol, band_0..)`; `verify` is the exact check on a
    * candidate's two payloads (`None`: any band collision is a dup and
    * the payload is never read); `knobs`/`verifyStamp` are the
    * (property, value) stamps; `foldLabel`/`family` name the family in
    * error messages.
    */
  private[io] final case class Banding(idCol: String, payloadCol: String,
      bands: Int, band: DataFrame => DataFrame,
      verify: Option[(Column, Column) => Column],
      knobs: (String, String), verifyStamp: (String, String),
      foldLabel: String, family: String) {
    val bandNames: Seq[String] = (0 until bands).map(b => s"band_$b")
    val storeColumns: Seq[String] =
      Seq(idCol, "band_idx", "band_key", payloadCol, "_epoch")
  }

  /** The text family: MinHash bands over hashed shingles, exact-Jaccard
    * verify (skipped at threshold 0 — LSH-only).
    */
  private def textBanding(shingleN: Int = 3, numHashes: Int = 16,
      bands: Int, jaccardThreshold: Double,
      mode: Dedup.HashMode = Dedup.XxHash): Banding = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly")
    require(jaccardThreshold >= 0.0 && jaccardThreshold <= 1.0,
      s"jaccardThreshold must be in [0,1], got $jaccardThreshold")
    Banding("doc_id", "sh", bands,
      df => Dedup.withMinhashBands(df, "_v", shingleN, numHashes, bands,
        mode).drop("_v"),
      Option.when(jaccardThreshold > 0)((a: Column, b: Column) =>
        Dedup.jaccard(a, b) >= jaccardThreshold),
      KnobsProperty -> knobsValue(shingleN, numHashes, bands, mode),
      VerifyProperty -> s"jaccardThreshold=$jaccardThreshold",
      "dedup-store fold", "dedup store")
  }

  /** Folds `batch` into the standing store at `table` (created on
    * first call). Returns the [[FoldResult]]: applied=false means the
    * epoch fence skipped a same-epoch replay (batchRows 0 then — the
    * skip path never scans the batch).
    *
    * `epochId` is admitted through [[EpochFence]] against
    * [[committedEpoch]] and stamped on the survivors' `_epoch`. An older
    * epoch is refused because the store already holds later survivors:
    * the backfilled batch would be deduped against the future.
    */
  def maintain(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.0,
      mode: Dedup.HashMode = Dedup.XxHash,
      maxBucketSize: Option[Long] = None,
      storeBuckets: Int = 0,
      epochId: Long,
      keeper: String = "min_id",
      qualityCol: Option[String] = None): FoldResult =
    fold(spark, table, batch, idCol, textCol,
      textBanding(shingleN, numHashes, bands, jaccardThreshold, mode),
      maxBucketSize, storeBuckets, epochId, keeper, qualityCol)

  /** The banded fold both families run (see [[maintain]] and the
    * object doc); `valueCol` is the batch column `b.band` consumes.
    */
  private[io] def fold(spark: SparkSession, table: String,
      batch: DataFrame, idCol: String, valueCol: String, b: Banding,
      maxBucketSize: Option[Long], storeBuckets: Int, epochId: Long,
      keeper: String, qualityCol: Option[String]): FoldResult = {
    require(maxBucketSize.forall(_ > 0),
      s"maxBucketSize must be positive when set, got ${maxBucketSize.get}")
    require(storeBuckets >= 0, s"storeBuckets must be >= 0, got $storeBuckets")
    require(Keepers(keeper),
      s"keeper must be one of [${Keepers.mkString(", ")}], got '$keeper'")
    require((keeper == "max_quality") == qualityCol.isDefined,
      if (keeper == "max_quality")
        "keeper max_quality needs qualityCol (the batch column ranking " +
          "cluster members)"
      else s"qualityCol is only used by keeper max_quality (got '$keeper')")
    for (q <- qualityCol) require(batch.columns.contains(q),
      s"qualityCol '$q' not in the batch")
    Commit.recover(spark, table)
    // every frame this fold persists (including the CC funnel's
    // checkpoints) drains when the fold's writes are done — the store
    // is a long-lived session's gold path, not a one-query session
    graft.operators.FrameCaches.scoped(spark) {
      foldImpl(spark, table, batch, idCol, valueCol, b, maxBucketSize,
        storeBuckets, epochId, keeper, qualityCol)
    }
  }

  private def foldImpl(spark: SparkSession, table: String,
      batch: DataFrame, idCol: String, valueCol: String, b: Banding,
      maxBucketSize: Option[Long], storeBuckets: Int, epochId: Long,
      keeper: String, qualityCol: Option[String]): FoldResult = {
    val id = b.idCol
    // one banding pass over the batch; persisted — it feeds the store
    // probe, the within-batch pairs, and the final append. The
    // keeper's quality column (when declared) rides the same frame
    val banded = track(b.band(batch.select(
        Seq(col(idCol).as(id), col(valueCol).as("_v")) ++
          qualityCol.map(q => col(q).as("_q")): _*))
      .persist())

    val exists = spark.catalog.tableExists(table)
    if (exists) {
      val meta = requireStoreSchema(spark, table, b.storeColumns,
        b.foldLabel, b.family)
      // bucket-spec drift fails HERE with the store's own diagnostic,
      // not deep inside saveAsTable(Append) with a raw Spark error
      val haveBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0)
      require(haveBuckets == storeBuckets,
        s"${b.foldLabel} for '$table': storeBuckets=$storeBuckets but the " +
          s"existing store was created with " +
          (if (haveBuckets == 0) "no bucketing" else s"$haveBuckets buckets") +
          " — the bucket layout is fixed at store creation; fold with the " +
          s"store's own setting (storeBuckets=$haveBuckets) or rebuild the " +
          "store under the new layout")
      requireKnobsOn(meta, table, b.knobs._1, b.knobs._2, b.foldLabel,
        requirePresent = false)
      if (!EpochFence.admit(b.foldLabel, table, epochId,
          committedEpoch(spark, table)))
        return FoldResult(applied = false, batchRows = 0L)
    }
    // one row per batch row. Taken before the probe and pair joins read
    // `banded`, it materializes the cache once; left to those joins, two
    // concurrent stages would each compute and offer the same blocks
    val batchRows = banded.count()

    // a founding batch has no store to probe: the persisted banded
    // frame IS the fresh set (persisting it again only re-asks the
    // cache manager for data it already holds)
    val fresh =
      if (!exists) banded
      else track(banded
        .join(hits(spark, table, banded, b, maxBucketSize), Seq(id),
          "left_anti")
        // identity guard: an id ALREADY in the store never appends
        // again, whatever its content. Without it two edges duplicate
        // store rows: a crash between append and the epoch-property
        // stamp (the retry re-runs the fold) combined with a hot-band
        // cap that hides the id's stored self from the probe, and an
        // id re-delivered with CHANGED content. Costs one thin
        // id-column pass over a store the probe already scans
        .join(spark.table(table).filter(col("band_idx") === 0).select(id),
          Seq(id), "left_anti")
        .persist())

    // within-batch near-dup clusters among the store-fresh rows:
    // banded candidates, the family's exact verify, connected
    // components; the keeper policy picks each cluster's survivor
    val pairs0 = Dedup.candidatePairs(fresh, id, b.bandNames.map(col),
      maxBucketSize)
    val pairs = b.verify match {
      case Some(verify) =>
        val l = fresh.select(col(id).as("doc_a"), col(b.payloadCol).as("_pa"))
        val r = fresh.select(col(id).as("doc_b"), col(b.payloadCol).as("_pb"))
        pairs0.join(l, "doc_a").join(r, "doc_b")
          .filter(verify(col("_pa"), col("_pb")))
          .select("doc_a", "doc_b")
      case None => pairs0
    }
    val clusters = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", id)
    // ids in no pair never enter `clusters` and survive untouched
    val nonKeepers = keeper match {
      case "max_quality" =>
        // d8b/d10's rule on the maintained store: one window per
        // cluster ranks members by the declared quality (ties →
        // smallest id); everything but rank 1 is anti-joined away
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id").orderBy(col("_q").desc, col(id))
        clusters.join(fresh.select(col(id), col("_q")), Seq(id))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") =!= 1).select(id)
      case _ => // min_id: the min-label closure's canonical id keeps
        clusters.filter(col(id) =!= col("cluster_id")).select(id)
    }
    val survivors = fresh.join(nonKeepers, Seq(id), "left_anti")
      .select(col(id),
        posexplode(array(b.bandNames.map(col): _*))
          .as(Seq("band_idx", "band_key")),
        col(b.payloadCol))
      .withColumn("_epoch", lit(epochId))
      .select(b.storeColumns.map(col): _*)
    appendSurvivors(spark, table, survivors, exists, storeBuckets, epochId,
      Seq(b.knobs, b.verifyStamp))
    FoldResult(applied = true, batchRows = batchRows)
  }

  /** The write that ends every store fold (text, media, vector): the
    * survivors land in `table`, then ONE `ALTER TABLE` stamps `epochId`
    * as [[EpochProperty]] — the O(1) fence read of every later fold —
    * together with the family's knobs/verify `properties` (each ALTER
    * is a serial driver-side write), and the table is refreshed.
    *
    * A founding fold (`exists` false) writes directly: its survivor
    * plan reads no store table, so it needs no barrier. An append fold's
    * survivor plan READS the store it appends to, which `saveAsTable`
    * refuses; an EAGER `localCheckpoint` materializes the survivors
    * (memory-and-disk blocks) and swaps the plan for the checkpointed
    * RDD — the barrier a staged parquet round-trip provides, minus one
    * parquet encode, write, read and delete per fold. The blocks are
    * tracked and drain with the fold's cache mark; `packedForWrite`
    * re-packs the write to read-sized splits. With `buckets > 0` the
    * store is bucketed on `band_key`.
    *
    * Executor-loss constraint: checkpoint blocks live only on the
    * executors that computed them and cannot be recomputed, so losing an
    * executor between the checkpoint and the append fails the fold. A
    * failure mid-append commits nothing under the writer's commit
    * protocol, and the retry re-runs the whole fold behind the identity
    * guard. The property is stamped after the append; [[committedEpoch]]
    * describes the crash window between the two.
    */
  private[io] def appendSurvivors(spark: SparkSession, table: String,
      survivors: DataFrame, exists: Boolean, buckets: Int, epochId: Long,
      properties: Seq[(String, String)]): Unit = {
    val data =
      if (!exists) survivors
      else org.apache.spark.sql.GraftColumnBridge.packedForWrite(
        track(survivors.localCheckpoint(true)))
    val writer = data.write.mode(if (exists) SaveMode.Append
      else SaveMode.ErrorIfExists).format("parquet")
    (if (buckets > 0) writer.bucketBy(buckets, "band_key")
     else writer).saveAsTable(table)
    val props = ((EpochProperty -> epochId.toString) +: properties)
      .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($props)")
    spark.catalog.refreshTable(table)
  }

  /** The store-probe stage of a fold, exposed so its plan shape is
    * pinnable: batch docs (as a [[Dedup.withMinhashBands]] frame with
    * columns `band_0..` named by `bandNames`) whose exact Jaccard vs
    * ANY stored doc reaches the threshold. Returns the distinct hit
    * `doc_id`s; see [[hits]].
    */
  def storeHits(spark: SparkSession, table: String, banded: DataFrame,
      bandNames: Seq[String], jaccardThreshold: Double,
      maxBucketSize: Option[Long]): DataFrame =
    hits(spark, table, banded,
      textBanding(bands = bandNames.size, jaccardThreshold = jaccardThreshold),
      maxBucketSize)

  /** Distinct ids of banded batch rows that near-dup ANY stored row:
    * candidates come ONLY from the (band_idx, band_key) equi-join, the
    * family's verify runs per collision row (see the object doc), and
    * [[Dedup.withoutHotBuckets]] drops degenerate store buckets.
    */
  private def hits(spark: SparkSession, table: String, banded: DataFrame,
      b: Banding, maxBucketSize: Option[Long]): DataFrame = {
    val probe = banded.select(col(b.idCol), col(b.payloadCol).as("_pb"),
      posexplode(array(b.bandNames.map(col): _*))
        .as(Seq("band_idx", "band_key")))
    val store = Dedup.withoutHotBuckets(spark.table(table)
      .select(col("band_idx"), col("band_key"), col(b.payloadCol).as("_pr")),
      maxBucketSize)
    val collisions = probe.join(store, Seq("band_idx", "band_key"))
    b.verify.fold(collisions)(v => collisions.filter(v(col("_pb"), col("_pr"))))
      .select(b.idCol).distinct()
  }

  /** READ-path membership probe — "has the accumulated corpus seen
    * this content?" WITHOUT folding: shingle+band the batch once (the
    * fold's own first stage), banded equi-join against the store,
    * exact-Jaccard verify per collision. Returns the distinct batch
    * ids that near-dup ANY stored doc. The shingle/hash knobs must
    * match the store's fold settings (same contract as the fold
    * itself — band keys are a function of them).
    */
  def probeHits(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.0,
      maxBucketSize: Option[Long] = None,
      mode: Dedup.HashMode = Dedup.XxHash): DataFrame =
    probe(spark, table, batch, idCol, textCol,
      textBanding(shingleN, numHashes, bands, jaccardThreshold, mode),
      maxBucketSize)

  /** The READ path both families run: store-shape and frozen-knob
    * guards (the knobs property MUST exist — see [[requireKnobsOn]]),
    * a warning on a divergent verify threshold, then [[hits]] over the
    * freshly banded batch.
    */
  private[io] def probe(spark: SparkSession, table: String,
      batch: DataFrame, idCol: String, valueCol: String, b: Banding,
      maxBucketSize: Option[Long]): DataFrame = {
    require(maxBucketSize.forall(_ > 0),
      s"maxBucketSize must be positive when set, got ${maxBucketSize.get}")
    val meta = requireStoreSchema(spark, table, b.storeColumns,
      "store probe", b.family)
    requireKnobsOn(meta, table, b.knobs._1, b.knobs._2, "store probe",
      requirePresent = true)
    warnVerifyDivergenceOn(meta, table, b.verifyStamp._1, b.verifyStamp._2,
      "store probe")
    hits(spark, table,
      b.band(batch.select(col(idCol).as(b.idCol), col(valueCol).as("_v"))),
      b, maxBucketSize)
  }

  /** The accumulated deduped corpus: one row per stored doc
    * (`doc_id, _epoch` — the epoch its batch folded in). Reads one
    * band slice, never the shingle arrays.
    */
  def storedDocIds(spark: SparkSession, table: String): DataFrame =
    spark.table(table).filter(col("band_idx") === 0)
      .select("doc_id", "_epoch")

  /** Band-occupancy profile of a BANDED store (text or media — any
    * table carrying `band_idx, band_key` rows), the
    * [[VectorDedupStore.OccupancyStats]] analog for the LSH families
    * and THE `maxBucketSize`-tuning / prune-cadence signal:
    *
    *  - `buckets` = distinct (band_idx, band_key) values observed;
    *  - `maxBucket` / `spreadPermille` = the biggest bucket and its
    *    size over the mean (1000·maxBucket·buckets/rows) — a
    *    boilerplate band value (license header, flat image) shows up
    *    as a spread orders of magnitude above 1000. Unlike the vector
    *    store there is no model-k denominator (the LSH key space is
    *    unbounded), so a FULLY collapsed store reads as balanced —
    *    the actionable signals for banded stores are the next two;
    *  - `hotBuckets` = buckets whose occupancy exceeds `maxBucketSize`
    *    (0 when no cap given) — each is a probe-exclusion (recall
    *    loss) TODAY;
    *  - `hotRows` = band rows inside those buckets — the probe mass
    *    the cap currently silences, i.e. what a prune or a cap re-tune
    *    would win back.
    *
    * Cost: ONE map-side-combined aggregate over the two thin band
    * columns (never `sh`/payload hashes) — cheap enough to trend
    * nightly in the control table.
    */
  final case class BandOccupancyStats(buckets: Long, rows: Long,
      maxBucket: Long, spreadPermille: Long, hotBuckets: Long,
      hotRows: Long)

  def bandOccupancyStats(spark: SparkSession, table: String,
      maxBucketSize: Option[Long] = None): BandOccupancyStats = {
    require(spark.catalog.tableExists(table),
      s"store_stats: no such table '$table'")
    val t = spark.table(table)
    require(t.columns.contains("band_idx") && t.columns.contains("band_key"),
      s"store_stats: '$table' has no band_idx/band_key columns — band " +
        "occupancy profiles a banded (text/media) dedup store; vector " +
        "stores profile per-cell via occupancyStats")
    val cap = maxBucketSize.getOrElse(Long.MaxValue)
    val occ = t.groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
    val r = occ.agg(
      count(lit(1)).as("buckets"),
      coalesce(sum(col("n")), lit(0L)).as("rows"),
      coalesce(max(col("n")), lit(0L)).as("max_bucket"),
      coalesce(sum(when(col("n") > cap, 1L).otherwise(0L)), lit(0L))
        .as("hot"),
      coalesce(sum(when(col("n") > cap, col("n")).otherwise(0L)), lit(0L))
        .as("hot_rows")).head()
    val buckets = r.getLong(0)
    val rows = r.getLong(1)
    val maxBucket = r.getLong(2)
    // Double intermediate: banded stores have UNBOUNDED bucket counts
    // (unlike the vector store's model-k denominator), so the Long
    // product 1000*maxBucket*buckets overflows past ~9.2e15 at corpus
    // scale and would trend a negative/garbage spread in the control
    // table (round-19 advice). The permille result itself fits easily.
    val spread =
      if (rows == 0L) 0L
      else (1000.0 * maxBucket * buckets / rows).toLong
    BandOccupancyStats(buckets, rows, maxBucket, spread, r.getLong(3),
      r.getLong(4))
  }
}
