package graft.config

import java.{util => ju}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{PropertyNamingStrategies, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.yaml.snakeyaml.Yaml

/** Case-class model of the three YAML config shapes the engine
  * interprets (reference: src/config/{bronze,silver,gold}_config.yaml;
  * field inventory in SURVEY.md §1.4). Parsed with the snakeyaml bundled
  * in /opt/spark/jars — no extra dependencies.
  */
final case class SourceConfig(
    sourceId: String,
    sourceType: String, // file | jdbc | api
    sourcePath: String,
    fileFormat: String, // parquet | csv | json
    options: Map[String, String],
    targetTable: String,
    extractStrategy: String, // full | incremental
    incrementalColumn: Option[String],
    enabled: Boolean)

final case class DqRuleConfig(
    ruleName: String,
    ruleType: String, // not_null | regex | expression | referential_integrity | uniqueness
    columns: Seq[String],
    pattern: Option[String],
    expression: Option[String],
    refTable: Option[String],
    refColumn: Option[String],
    actionOnFailure: String) // filter | tag | reject

/** Declarative dedup step (silver `transform_type: dedup`) — the YAML
  * surface over [[graft.operators.Dedup]]: `method: exact` keeps one
  * row per content fingerprint; `minhash` / `simhash` additionally
  * cluster near-duplicates (LSH candidates → connected components) and
  * keep each cluster's canonical member; `spans` clusters docs sharing
  * any exact ≥ `min_span_tokens`-token span at any alignment
  * ([[graft.operators.Spans]] — the Lee-et-al sub-chunk grain). The
  * keeper is always the smallest id (deterministic; d8's contract).
  */
final case class DedupStepConfig(
    method: String, // exact | minhash | simhash | spans
    idColumn: String,
    textColumn: String,
    shingleSize: Int,
    numHashes: Int,
    bands: Int,
    minSpanTokens: Int = 50)

/** Declarative curation step (silver `transform_type: curation`) — the
  * YAML surface over [[graft.operators.Curation]] and the text scorers:
  * optional language allowlist, quality floor, PII redaction, and
  * deterministic per-stratum sampling, applied in that order.
  */
final case class CurationStepConfig(
    idColumn: String,
    textColumn: String,
    languages: Seq[String], // empty = no language gate
    minQuality: Option[Double],
    redactPii: Boolean,
    piiReplacement: String,
    stratumColumn: Option[String],
    sampleRates: Map[String, Double],
    defaultSampleRate: Double)

/** Declarative chunking (silver `transform_type: chunk`) — the YAML
  * surface over [[graft.operators.Chunking.slidingChunks]]: one row per
  * (doc, chunk) with token count and content hash; `carry_columns` ride
  * through unchanged.
  */
final case class ChunkStepConfig(
    idColumn: String,
    textColumn: String,
    chunkTokens: Int,
    stride: Int,
    carryColumns: Seq[String])

/** Declarative per-stratum quota (silver `transform_type: quota`) — the
  * YAML surface over [[graft.operators.Curation.stratumQuota]]: keep at
  * most `maxPerStratum` rows per stratum, hash-ranked (deterministic,
  * growth-stable).
  */
final case class QuotaStepConfig(
    idColumn: String,
    stratumColumn: String,
    maxPerStratum: Int)

/** Declarative fractional-epoch mixing (silver `transform_type: mix`) —
  * the YAML surface over [[graft.operators.Curation.epochMix]]: source
  * weighted 2.3 emits every doc twice plus a deterministic 30% a third
  * time, with the epoch index as a column.
  */
final case class MixStepConfig(
    idColumn: String,
    sourceColumn: String,
    epochs: Map[String, Double],
    defaultEpochs: Double)

/** Declarative leakage-free split (silver `transform_type: split`) —
  * the YAML surface over the t17 funnel: docs sharing any chunk form a
  * duplicate-content component ([[graft.operators.Dedup
  * .connectedComponents]] over chunk-hash collisions) and the COMPONENT
  * is the split key, so near-identical content never straddles train
  * and test.
  */
final case class SplitStepConfig(
    idColumn: String,
    textColumn: String,
    chunkTokens: Int,
    stride: Int,
    trainPct: Int,
    valPct: Int,
    // hot-hash guard on the chunk-collision join: a chunk hash shared
    // by more than this many docs (boilerplate, a license header) is
    // dropped from edge generation — the LSH maxBucketSize discipline;
    // such docs would otherwise emit occ² join rows AND weld into one
    // mega-component assigned to a single split
    maxPosting: Int = 64)

/** Declarative weighted sampling (silver `transform_type:
  * weighted_sample`) — the YAML surface over
  * [[graft.operators.Curation.weightedSample]]: keep the
  * `samples_per_stratum` rows per stratum that win the deterministic
  * Efraimidis–Spirakis exponential race, selection proportional to
  * `weight_column` (the token-budget-aware sampler: weight by a
  * length/token column and long documents are kept by the mass they
  * contribute).
  */
final case class WeightedSampleStepConfig(
    idColumn: String,
    stratumColumn: String,
    weightColumn: String,
    samplesPerStratum: Int)

/** Declarative decontamination (silver `transform_type: decontaminate`)
  * — the YAML surface over [[graft.operators.Curation
  * .contaminationScores]] + anti-join: drop every doc sharing any word
  * n-gram with the probe table (an eval benchmark).
  */
final case class DecontaminateStepConfig(
    idColumn: String,
    textColumn: String,
    probeTable: String,
    ngram: Int)

/** Declarative BM25 relevance filter (silver `transform_type:
  * relevance_filter`) — the YAML surface over
  * [[graft.operators.Relevance.bm25]]: keep only documents scoring at
  * least `minScoreMicro` (the 6dp-rounded score × 10⁶ — an exact
  * integer threshold, so the keep set is deterministic) for the query
  * terms. The topic-mining step of a corpus pipeline.
  */
final case class RelevanceFilterStepConfig(
    idColumn: String,
    textColumn: String,
    terms: Seq[String],
    minScoreMicro: Long)

/** Declarative SCD2 as-of READ (silver `transform_type: asof`): write
  * the dimension snapshot in force at `as_of` (a date string;
  * `${PROCESSING_DATE}` substitutes to the run date) — the read the
  * type-2 shape exists for, reachable from YAML so a config-driven
  * consumer can feed downstream models "the dimension as of X" without
  * API code. `source_table` is the scd2 table ([[graft.io.Scd2]]).
  */
final case class AsOfStepConfig(asOf: String)

/** Declarative store-membership probe (silver `transform_type:
  * store_probe`): flag each input row by whether its content near-dups
  * the ACCUMULATED standing store — the READ half of the store family
  * (the fold both probes and appends; this only probes). Output = the
  * input plus a boolean `flag_column` (default `store_hit`), so
  * downstream steps filter/route either way — a dry-run dedup, a
  * coverage report, a pre-ingest novelty gate that must not advance
  * the store. `store_type` picks the engine; the content/knob columns
  * must match the store's own fold settings (band keys are a function
  * of them): `content_column` is the text (dedup_store), embedding
  * (vector_dedup_store) or 64-bit hash (media_dedup_store) column.
  */
final case class StoreProbeStepConfig(
    storeTable: String,
    storeType: String, // dedup_store | vector_dedup_store | media_dedup_store
    idColumn: String,
    contentColumn: String,
    flagColumn: String = "store_hit",
    // dedup_store knobs
    shingleSize: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    jaccardPct: Int = 0,
    // vector_dedup_store knobs
    minScore: Long = -1L,
    nprobe: Int = 2,
    // media_dedup_store knob (bands is shared)
    maxHamming: Long = 16L,
    // hot-bucket/cell cap, all types
    maxBucketSize: Option[Long] = None)

/** Declarative sketch-view READBACK (silver `transform_type:
  * view_estimate`): materialize the estimates a gold-plane sketch view
  * maintains — the read half of the distinct/quantile view members,
  * completing the read-verb family (`asof` reads scd2, `store_probe`
  * reads the dedup stores, this reads the HLL/HDR views). `source_table`
  * is the view's register/sketch table; `view_type` picks the engine:
  *  - `distinct_view`: per-key approximate distinct counts
  *    ([[graft.io.Maintenance.distinctViewEstimate]] — the register
  *    count m derives from the table's persisted `_m`);
  *  - `quantile_view`: per-key quantile estimates at the declared
  *    `q_permille` points ([[graft.io.Maintenance.quantileViewEstimate]]
  *    — deterministic integers, ≤ 6.25% below the true quantile).
  */
final case class ViewEstimateStepConfig(
    viewType: String, // distinct_view | quantile_view
    keyColumns: Seq[String],
    qPermille: Seq[Int] = Nil)

final case class TransformConfig(
    transformId: String,
    sourceTable: String,
    targetTable: String,
    sqlQuery: String,
    partitionBy: Seq[String],
    dataQuality: Seq[DqRuleConfig],
    enabled: Boolean,
    // sql | dedup | curation | chunk | quota | mix | split |
    // decontaminate | weighted_sample | relevance_filter | asof |
    // store_probe | view_estimate
    transformType: String = "sql",
    dedup: Option[DedupStepConfig] = None,
    curation: Option[CurationStepConfig] = None,
    chunk: Option[ChunkStepConfig] = None,
    quota: Option[QuotaStepConfig] = None,
    mix: Option[MixStepConfig] = None,
    split: Option[SplitStepConfig] = None,
    decontaminate: Option[DecontaminateStepConfig] = None,
    weightedSample: Option[WeightedSampleStepConfig] = None,
    relevanceFilter: Option[RelevanceFilterStepConfig] = None,
    asof: Option[AsOfStepConfig] = None,
    storeProbe: Option[StoreProbeStepConfig] = None,
    viewEstimate: Option[ViewEstimateStepConfig] = None)

/** Declarative standing dedup store (gold `refresh_type: dedup_store`,
  * [[graft.io.DedupStore]]): the model's sql_query selects this run's
  * BATCH of (id, text) docs; each fold drops batch docs that near-dup
  * the accumulated store, keeps one doc per within-batch near-dup
  * cluster, and appends the survivors' MinHash band rows. `jaccard_pct`
  * is the exact-Jaccard verify threshold in integer percent (0 =
  * LSH-only: any band collision is a dup); `store_buckets > 0` buckets
  * the store table on band_key so future folds read the store side of
  * the probe join without a shuffle; `max_bucket_size` caps degenerate
  * store-side band buckets.
  */
final case class DedupStoreConfig(
    idColumn: String,
    textColumn: String,
    shingleSize: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    jaccardPct: Int = 0,
    maxBucketSize: Option[Long] = None,
    storeBuckets: Int = 0,
    // within-batch keeper policy ([[graft.io.DedupStore.Keepers]]):
    // `min_id` (default) or `max_quality` over the declared
    // quality_column — the d8b/d10 curation policy on the maintained
    // store (keep each duplicate cluster's highest-quality member)
    keeper: String = "min_id",
    qualityColumn: Option[String] = None)

/** Declarative standing VECTOR dedup store (gold `refresh_type:
  * vector_dedup_store`, [[graft.io.VectorDedupStore]]): the model's
  * sql_query selects this run's batch of (id, embedding) vectors; each
  * fold drops batch vectors whose exact int8-code dot against ANY
  * stored vector reaches `min_score` (candidates from the `nprobe`
  * best IVF cells only), keeps one vector per within-batch same-cell
  * near-dup cluster, and appends the survivors' precomputed codes and
  * home cells. Calibration (`amax` + `num_centroids` centroids) is
  * FROZEN at store creation in `<target_table>_model`.
  */
final case class VectorDedupStoreConfig(
    idColumn: String,
    vectorColumn: String,
    minScore: Long,
    numCentroids: Int = 8,
    nprobe: Int = 2,
    trainIters: Int = 2,
    maxCellSize: Option[Long] = None,
    // within-batch keeper policy: `min_id` (default) or
    // `centroid_farthest` (SemDeDup's rule — keep each duplicate
    // group's least-prototypical member; graft.io.VectorDedupStore
    // .Keepers)
    keeper: String = "min_id")

/** Declarative standing MEDIA dedup store (gold `refresh_type:
  * media_dedup_store`, [[graft.io.MediaDedupStore]]): the model's
  * sql_query selects this run's batch of (id, 64-bit perceptual hash)
  * images — the hash (dHash) is computed upstream as scan-fused map
  * work over the image files, so payloads never reach the store path.
  * Each fold drops batch images within `max_hamming` of ANY stored
  * image (candidates from the Hamming-LSH band equi-join only), keeps
  * one image per within-batch near-dup cluster, and appends the
  * survivors' band rows. `bands` must divide 64; `store_buckets > 0`
  * buckets the store on band_key for the shuffle-free probe;
  * `max_bucket_size` caps degenerate bands (e.g. flat images' all-zero
  * band).
  */
final case class MediaDedupStoreConfig(
    idColumn: String,
    hashColumn: String,
    bands: Int = 4,
    maxHamming: Long = 16L,
    maxBucketSize: Option[Long] = None,
    storeBuckets: Int = 0,
    // same keeper surface as the text store: quality_column is the
    // batch column (resolution, bytes, a decode-stage score) ranking
    // which re-encode of a duplicate cluster survives
    keeper: String = "min_id",
    qualityColumn: Option[String] = None)

/** Declarative streaming source (`mode: streaming` models): the file
  * stream whose micro-batches a gold entry's fold consumes. `path` is
  * the landing directory (new files are the micro-batches), `format`
  * is csv/json/parquet/orc, and the stream's schema comes from
  * `schema_table` (an existing catalog table as the schema donor —
  * the robust choice) or, absent that, a one-off batch read of the
  * path at attach time (requires files to already be present).
  * `select` optionally projects the stream to the named columns —
  * column pruning at the source, and REQUIRED by folds whose batch
  * contract is exact (scd2 refuses undeclared columns loudly rather
  * than silently dropping them).
  */
final case class StreamSourceConfig(
    path: String,
    format: String = "parquet",
    schemaTable: Option[String] = None,
    options: Map[String, String] = Map.empty,
    select: Seq[String] = Nil)

final case class ModelConfig(
    modelId: String,
    sqlQuery: String,
    targetTable: String,
    partitionBy: Seq[String],
    // full | incremental | additive | extremes | join_view | scd2 |
    // distinct_view | quantile_view | dedup_store | vector_dedup_store |
    // media_dedup_store | changelog — one fold each (GoldLayer.fold)
    refreshType: String,
    primaryKeys: Seq[String],
    enabled: Boolean,
    // `batch` (default) or `streaming`: a streaming model reads a
    // declared file-stream source (stream_source) instead of running a
    // sql_query, and hands each micro-batch to the same fold a batch
    // model runs (Sinks.foreachBatch, with the batchId as the fold's
    // epoch). The stream runs with the AvailableNow trigger — process
    // everything that has landed, then stop — so a pipeline run keeps
    // its run-to-completion contract; the checkpoint carries source
    // offsets ACROSS runs, so each run folds only the files that
    // arrived since the last one (the streaming analog of the batch
    // epoch fence). Every refresh type streams except full/join_view,
    // which have no streaming semantics and refuse at parse; changelog
    // is streaming-only.
    mode: String = "batch",
    streamSource: Option[StreamSourceConfig] = None,
    // source offsets + batch ids (the folds' epochs) live here; defaults to
    // <warehouse>/_graft_checkpoints/<model_id>. Deleting it replays
    // the whole landing path — safe exactly when the fold's replay
    // contract says so (see each fold's scaladoc).
    checkpoint: Option[String] = None,
    // changelog only: the op (I/U/D) and sequence columns of the feed
    opColumn: String = "op",
    seqColumn: String = "seq",
    // additive only: the SUM columns the model's batch frame carries;
    // each run folds them into the standing table per primaryKeys
    // (Maintenance.maintainAdditiveAggregate) instead of rescanning
    // history or whole-row-replacing
    sumColumns: Seq[String] = Nil,
    // extremes only: the MIN/MAX columns the batch frame carries; each
    // run folds least/greatest per primaryKeys
    // (Maintenance.maintainInsertOnlyExtremes). The INSERT-ONLY feed
    // contract is declared here: a retraction-capable source must use
    // additive or full — extremes cannot un-see a deleted row's min
    minColumns: Seq[String] = Nil,
    maxColumns: Seq[String] = Nil,
    // join_view only: the standing base tables, the equi-join keys,
    // and the per-run DELTA batch queries (at least one side per run;
    // both may be absent on the creation run). The gold layer runs
    // AFTER silver appended today's rows, so the fold uses the
    // post-append delta rule (Maintenance.maintainJoinView with
    // basesIncludeBatches = true) — the batch queries must select
    // EXACTLY the rows this run added to each base (INSERT-ONLY feed,
    // same contract family as extremes)
    leftTable: Option[String] = None,
    rightTable: Option[String] = None,
    joinKeys: Seq[String] = Nil,
    leftBatchSql: Option[String] = None,
    rightBatchSql: Option[String] = None,
    // scd2 only: the attribute columns whose changes open a new
    // version row (graft.io.Scd2.merge), and the batch column carrying
    // each observation's effective date — the model's sql_query output
    // must be exactly primaryKeys ++ trackedColumns :+ effectiveColumn
    trackedColumns: Seq[String] = Nil,
    effectiveColumn: Option[String] = None,
    // distinct_view only: the column whose per-key distinct count the
    // view approximates (graft.io.Maintenance.maintainDistinctView —
    // the standing table holds HLL registers, each run max-merges the
    // batch in; replays/out-of-order runs are no-ops by algebra), and
    // the register count (16/32/64 — the exact-integer estimator's
    // alpha table)
    distinctColumn: Option[String] = None,
    hllM: Int = 64,
    // quantile_view only: the POSITIVE integer column (cents-style)
    // whose per-key distribution the view sketches
    // (graft.io.Maintenance.maintainQuantileView — per-key HDR bucket
    // counts, 6.25% relative error; bucket counts ADD, so the run-date
    // epoch fence applies exactly as for additive/extremes)
    quantileColumn: Option[String] = None,
    // dedup_store only: the standing cross-corpus dedup store's knobs
    // (graft.io.DedupStore.maintain — append-only survivor band rows,
    // run-date epoch fence)
    dedupStore: Option[DedupStoreConfig] = None,
    // vector_dedup_store only: the embedding twin
    // (graft.io.VectorDedupStore.maintain — frozen calibration model,
    // int8-code probe, same run-date epoch fence)
    vectorDedupStore: Option[VectorDedupStoreConfig] = None,
    mediaDedupStore: Option[MediaDedupStoreConfig] = None,
    // any refresh type: percent deviation from the trailing-median run
    // volume beyond which this model FAILS (graft.dq.VolumeGuard over
    // the audit history; 0 = disabled). The trend check no per-row DQ
    // rule can express — a 40×-fewer-rows run is the silent-failure
    // signature of a broken upstream.
    volumeGuardPct: Int = 0)

/** Declarative table-maintenance task (the `maintenance:` section —
  * the ops plane the reference declares in YAML next to its layers):
  *  - `compact`: OPTIMIZE-style small-file rewrite
  *    ([[graft.io.Maintenance.compact]] — preserves partition AND
  *    bucket specs, so the dedup stores' per-fold file growth has a
  *    declared compaction story); optional `target_rows_per_file` and
  *    `cluster_by` (range-clustered layout, unpartitioned unbucketed
  *    tables only — the operator refuses otherwise).
  *  - `zone_maps`: rebuild the per-file min/max manifest
  *    ([[graft.io.ZoneMaps.writeManifest]]) over `columns`.
  *  - `vacuum_staging`: delete the staging directories left under the
  *    warehouse by commits that died
  *    ([[graft.io.Maintenance.vacuumStaging]]); takes no table.
  *  - `prune_store`: epoch-horizon retention for the standing dedup
  *    stores ([[graft.io.Maintenance.pruneStore]] — rows whose
  *    `_epoch` fell more than `keep_epochs` run-date days behind the
  *    store's committed epoch are deleted; specs and the epoch fence
  *    survive the rewrite).
  *  - `retrain_store`: re-train a VECTOR dedup store's centroids over
  *    its accumulated codes and re-assign home cells
  *    ([[graft.io.VectorDedupStore.retrain]] — the founding-model
  *    drift answer; `amax` and the stored codes never change;
  *    `train_iters` Lloyd's rounds, `num_centroids` optional new k,
  *    0 = keep the current model's; `spread_threshold_permille` > 0
  *    drift-GATES the task — the store's occupancy spread
  *    (1000·max·cells/rows) must reach the threshold before the
  *    store-linear k-means runs, so the task can sit on a nightly
  *    cadence without re-paying training while the store is balanced).
  *  - `store_stats`: emit a standing store's occupancy profile — the
  *    signal the retrain/prune cadence reads. Dispatches on the store
  *    family: vector stores profile per IVF cell
  *    ([[graft.io.VectorDedupStore.occupancyStats]] — the retrain
  *    signal), banded text/media stores per (band_idx, band_key)
  *    bucket ([[graft.io.DedupStore.bandOccupancyStats]] — the
  *    `max_bucket_size`-tuning signal). The control row's
  *    `records_processed` carries `spreadPermille` (1000 = balanced
  *    max/mean) for both; `max_cell_size` (alias `max_bucket_size`
  *    for banded stores) counts today's hot probe-exclusions.
  */
final case class MaintenanceTaskConfig(
    taskId: String,
    taskType: String,
    table: Option[String],
    targetRowsPerFile: Long = 1000000L,
    clusterBy: Seq[String] = Nil,
    columns: Seq[String] = Nil,
    keepEpochs: Long = 0L,
    trainIters: Int = 0,
    numCentroids: Int = 0,
    spreadThresholdPermille: Long = 0L,
    maxCellSize: Option[Long] = None,
    spreadTrendPct: Int = 0,
    enabled: Boolean = true)

final case class EtlConfig(
    sparkConf: Map[String, String],
    sources: Seq[SourceConfig],
    transformations: Seq[TransformConfig],
    models: Seq[ModelConfig],
    maintenance: Seq[MaintenanceTaskConfig] = Nil)

object EtlConfig {

  private val snapshotMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  /** JSON of one parsed config item for the audit log's
    * `config_snapshot` (reference metadata_manager.py:115-117 stores
    * `json.dumps(config)` per run): the case class itself, snake_case
    * keys, every field, map entries sorted by key.
    */
  def snapshot(item: Product): String = snapshotMapper.writeValueAsString(item)

  /** `${PROCESSING_DATE}` / `${EXTRACT_DATE}` / `${ENV:NAME}` template
    * substitution (reference: silver_layer.py:118, bronze_layer.py:168-171)
    * as a pure function. `${ENV:NAME}` resolves from the process
    * environment, falling back to JVM system properties (JVMs cannot set
    * their own env, so in-process callers/tests inject via `-D`).
    */
  def substitute(s: String, vars: Map[String, String],
      env: String => Option[String] = n => sys.env.get(n).orElse(sys.props.get(n))): String = {
    val withVars = vars.foldLeft(s) { case (acc, (k, v)) =>
      acc.replace("${" + k + "}", v)
    }
    "\\$\\{ENV:([A-Za-z0-9_]+)\\}".r.replaceAllIn(withVars,
      m => java.util.regex.Matcher.quoteReplacement(env(m.group(1)).getOrElse("")))
  }

  /** Parse a config document. Shape errors fail here, not inside a run.
    * One ownership rule covers every type-specific key: each item kind
    * with a discriminator (`transform_type`; `refresh_type` and `mode`;
    * `task_type`; a source's `extract_strategy`; a DQ rule's
    * `rule_type` and `action_on_failure`; a probe's `store_type`; a
    * view read's `view_type`; a banded store's `keeper`) declares its
    * valid values and which of them use which key, and a declared key
    * present under a value that does not use it is refused, whatever
    * its value. Keys no declaration names (the reference's
    * `description`, `model_type`, `frequency`) are accepted and ignored.
    */
  def fromYaml(yaml: String): EtlConfig = {
    val root = Option(new Yaml().load[ju.Map[String, Object]](yaml))
      .map(asMap).getOrElse(Map.empty)
    val default = root.get("default").map(asMap).getOrElse(Map.empty)
    EtlConfig(
      sparkConf = default.get("spark_conf").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString },
      sources = seqOfMaps(root, "sources").map(parseSource),
      transformations = seqOfMaps(root, "transformations").map(parseTransform),
      models = seqOfMaps(root, "models").map(parseModel),
      maintenance = seqOfMaps(root, "maintenance").map(parseMaintenance))
  }

  def load(path: String): EtlConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  // ---- helpers over snakeyaml's untyped output ----

  private def asMap(o: Object): Map[String, Object] = o match {
    case m: ju.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap
    case _ => Map.empty
  }
  private def asMap(o: Option[Object]): Map[String, Object] =
    o.map(asMap).getOrElse(Map.empty)
  private def seqOfMaps(root: Map[String, Object], key: String): Seq[Map[String, Object]] =
    root.get(key) match {
      case Some(l: ju.List[_]) =>
        l.asScala.toSeq.map(e => asMap(e.asInstanceOf[Object]))
      case _ => Seq.empty
    }
  private def str(m: Map[String, Object], k: String, dflt: String = ""): String =
    m.get(k).map(_.toString).getOrElse(dflt)
  private def opt(m: Map[String, Object], k: String): Option[String] =
    m.get(k).map(_.toString).filter(_.nonEmpty)
  private def bool(m: Map[String, Object], k: String, dflt: Boolean = true): Boolean =
    m.get(k).map(_.toString.toBoolean).getOrElse(dflt)
  private def strSeq(m: Map[String, Object], k: String): Seq[String] = m.get(k) match {
    case Some(l: ju.List[_]) => l.asScala.toSeq.map(_.toString)
    case Some(s: String) if s.nonEmpty => s.split(",").toSeq.map(_.trim)
    case _ => Seq.empty
  }

  // ---- key ownership: which type of an item kind uses which key ----

  /** One item kind's key ownership: the values its `discriminator` may
    * take, and for each type-specific key the values that use it.
    * `bare` prints values without the discriminator's name (maintenance
    * task types); `notes` adds a hint to a key's refusal.
    */
  private final case class Ownership(discriminator: String, values: Seq[String],
      keys: Seq[(String, Set[String])], bare: Boolean = false,
      notes: Map[String, String] = Map.empty)

  private def usedBy(owners: String*)(keys: String*): Seq[(String, Set[String])] =
    keys.map(_ -> owners.toSet)

  private val storeTypes = Seq("dedup_store", "vector_dedup_store", "media_dedup_store")

  private val transformTypes = {
    val verbs = Seq("dedup", "curation", "chunk", "quota", "mix", "split",
      "decontaminate", "weighted_sample", "relevance_filter", "asof",
      "store_probe", "view_estimate")
    Ownership("transform_type", "sql" +: verbs,
      usedBy("sql")("sql_query") ++ verbs.flatMap(v => usedBy(v)(v)))
  }

  private val refreshTypes = {
    val all = Seq("full", "incremental", "additive", "extremes", "join_view",
      "scd2", "distinct_view", "quantile_view") ++ storeTypes :+ "changelog"
    Ownership("refresh_type", all,
      usedBy(all.filter(_ != "join_view"): _*)("sql_query") ++
        usedBy(all.filterNot(storeTypes.contains): _*)("primary_keys") ++
        usedBy("additive")("sum_columns") ++
        usedBy("extremes")("min_columns", "max_columns") ++
        usedBy("join_view")("left_table", "right_table", "join_keys",
          "left_batch_sql", "right_batch_sql") ++
        usedBy("scd2")("tracked_columns", "effective_column") ++
        usedBy("distinct_view")("distinct_column", "hll_m") ++
        usedBy("quantile_view")("quantile_column") ++
        usedBy("changelog")("op_column", "seq_column") ++
        storeTypes.flatMap(s => usedBy(s)(s)))
  }

  private val modes = Ownership("mode", Seq("batch", "streaming"),
    usedBy("batch")("sql_query") ++ usedBy("streaming")("stream_source", "checkpoint"))

  private val taskTypes = {
    val all = Seq("compact", "zone_maps", "vacuum_staging", "prune_store",
      "retrain_store", "store_stats")
    Ownership("task_type", all,
      usedBy(all.filter(_ != "vacuum_staging"): _*)("table") ++
        usedBy("compact")("cluster_by", "target_rows_per_file") ++
        usedBy("zone_maps")("columns") ++
        usedBy("prune_store")("keep_epochs") ++
        usedBy("retrain_store")("train_iters", "num_centroids",
          "spread_threshold_permille") ++
        usedBy("store_stats")("max_cell_size", "max_bucket_size", "spread_trend_pct"),
      bare = true,
      notes = Map("table" ->
        "vacuum_staging sweeps the whole staging plane; a table would not scope it"))
  }

  private val probeStoreTypes = Ownership("store_type", storeTypes,
    usedBy("dedup_store")("shingle_size", "num_hashes", "jaccard_pct") ++
      usedBy("dedup_store", "media_dedup_store")("bands") ++
      usedBy("vector_dedup_store")("min_score", "nprobe", "max_cell_size") ++
      usedBy("media_dedup_store")("max_hamming"),
    notes = Map("max_cell_size" -> "banded stores call it max_bucket_size"))

  private val viewTypes = Ownership("view_type", Seq("distinct_view", "quantile_view"),
    usedBy("quantile_view")("q_permille"))

  private val keepers = Ownership("keeper", graft.io.DedupStore.Keepers.toSeq,
    usedBy("max_quality")("quality_column"))

  private val extractStrategies = Ownership("extract_strategy",
    Seq("full", "incremental"), usedBy("incremental")("incremental_column"))

  private val ruleTypes = Ownership("rule_type",
    Seq("not_null", "regex", "expression", "referential_integrity", "uniqueness"),
    usedBy("regex")("pattern") ++ usedBy("expression")("expression") ++
      usedBy("referential_integrity")("ref_table", "ref_column"))

  private val ruleActions = Ownership("action_on_failure",
    Seq("filter", "tag", "reject"), Nil)

  /** The one ownership rule: `declared` must be one of `o.values`, and a
    * key `o` declares may appear in `m` only when `declared` uses it.
    * Presence counts, whatever the value.
    */
  private def checkOwnership(item: String, o: Ownership, declared: String,
      m: Map[String, Object]): Unit = {
    val d = o.discriminator
    require(o.values.contains(declared),
      s"$item: unknown $d '$declared' ($d must be one of ${o.values.mkString(" | ")})")
    val named = if (o.bare) "" else s"$d "
    for ((key, owners) <- o.keys)
      require(!m.contains(key) || owners(declared),
        s"$item: $key is not used by $named$declared — it is only used by " +
          named + o.values.filter(owners).mkString(", ") +
          o.notes.get(key).fold("")(n => s" ($n)"))
  }

  private def parseSource(m: Map[String, Object]): SourceConfig = {
    val s = SourceConfig(
      sourceId = str(m, "source_id"),
      sourceType = str(m, "source_type", "file"),
      sourcePath = str(m, "source_path"),
      fileFormat = str(m, "file_format", "parquet"),
      options = asMap(m.get("options")).map { case (k, v) => k -> v.toString },
      targetTable = str(m, "target_table"),
      extractStrategy = str(m, "extract_strategy", "full"),
      incrementalColumn = opt(m, "incremental_column"),
      enabled = bool(m, "enabled"))
    checkOwnership(s"source '${s.sourceId}'", extractStrategies, s.extractStrategy, m)
    s
  }

  private def parseDqRule(m: Map[String, Object]): DqRuleConfig = {
    val r = DqRuleConfig(
      ruleName = str(m, "rule_name"),
      ruleType = str(m, "rule_type"),
      columns = strSeq(m, "columns") ++ opt(m, "column").toSeq,
      pattern = opt(m, "pattern"),
      expression = opt(m, "expression"),
      refTable = opt(m, "ref_table"),
      refColumn = opt(m, "ref_column"),
      actionOnFailure = str(m, "action_on_failure", "tag"))
    val item = s"data_quality rule '${r.ruleName}'"
    checkOwnership(item, ruleTypes, r.ruleType, m)
    checkOwnership(item, ruleActions, r.actionOnFailure, m)
    r
  }

  private def parseTransform(m: Map[String, Object]): TransformConfig = {
    val t = TransformConfig(
      transformId = str(m, "transform_id"),
      sourceTable = str(m, "source_table"),
      targetTable = str(m, "target_table"),
      sqlQuery = str(m, "sql_query"),
      partitionBy = strSeq(m, "partition_by"),
      dataQuality = seqOfMaps(m, "data_quality").map(parseDqRule),
      enabled = bool(m, "enabled"),
      // the reference spells it transformation_type
      // (silver_layer.py:114); the short form is accepted too
      transformType = opt(m, "transformation_type")
        .orElse(opt(m, "transform_type")).getOrElse("sql"),
      dedup = m.get("dedup").map(d => parseDedup(asMap(d))),
      curation = m.get("curation").map(c => parseCuration(asMap(c))),
      chunk = m.get("chunk").map(c => parseChunk(asMap(c))),
      quota = m.get("quota").map(q => parseQuota(asMap(q))),
      mix = m.get("mix").map(x => parseMix(asMap(x))),
      split = m.get("split").map(x => parseSplit(asMap(x))),
      decontaminate = m.get("decontaminate")
        .map(x => parseDecontaminate(asMap(x))),
      weightedSample = m.get("weighted_sample")
        .map(x => parseWeightedSample(asMap(x))),
      relevanceFilter = m.get("relevance_filter")
        .map(x => parseRelevanceFilter(asMap(x))),
      asof = m.get("asof").map(x => parseAsOf(asMap(x))),
      storeProbe = m.get("store_probe")
        .map(x => parseStoreProbe(asMap(x))),
      viewEstimate = m.get("view_estimate")
        .map(x => parseViewEstimate(asMap(x))))
    // config shape errors fail at PARSE time, not at run time inside a
    // per-item catch: a verb step without its params block (or a block
    // on another step type) is an authoring bug, never a data error
    checkOwnership(s"transform '${t.transformId}'", transformTypes,
      t.transformType, m)
    require(t.transformType == "sql" || m.contains(t.transformType),
      s"transform '${t.transformId}': transform_type ${t.transformType} " +
        s"needs a ${t.transformType}: block")
    require(t.transformType != "sql" || t.sqlQuery.nonEmpty,
      s"transform '${t.transformId}': transform_type sql needs sql_query")
    t
  }

  private def num(m: Map[String, Object], k: String, dflt: Int): Int =
    m.get(k).map(_.toString.toInt).getOrElse(dflt)

  private def parseDedup(m: Map[String, Object]): DedupStepConfig = {
    val d = DedupStepConfig(
      method = str(m, "method", "exact"),
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      shingleSize = num(m, "shingle_size", 3),
      numHashes = num(m, "num_hashes", 16),
      bands = num(m, "bands", 4),
      minSpanTokens = num(m, "min_span_tokens", 50))
    require(Set("exact", "minhash", "simhash", "spans")(d.method),
      s"dedup method must be exact|minhash|simhash|spans, got '${d.method}'")
    require(d.idColumn.nonEmpty && d.textColumn.nonEmpty,
      "dedup needs id_column and text_column")
    require(d.numHashes % d.bands == 0,
      s"bands (${d.bands}) must divide num_hashes (${d.numHashes}) evenly")
    require(d.minSpanTokens >= 2,
      s"min_span_tokens must be >= 2, got ${d.minSpanTokens}")
    d
  }

  private def parseCuration(m: Map[String, Object]): CurationStepConfig = {
    val c = CurationStepConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      languages = strSeq(m, "languages"),
      minQuality = opt(m, "min_quality").map(_.toDouble),
      redactPii = bool(m, "redact_pii", dflt = false),
      piiReplacement = str(m, "pii_replacement", "[REDACTED]"),
      stratumColumn = opt(m, "stratum_column"),
      sampleRates = asMap(m.get("sample_rates"))
        .map { case (k, v) => k -> v.toString.toDouble },
      defaultSampleRate = opt(m, "default_sample_rate")
        .map(_.toDouble).getOrElse(1.0))
    require(c.idColumn.nonEmpty && c.textColumn.nonEmpty,
      "curation needs id_column and text_column")
    require(c.sampleRates.isEmpty || c.stratumColumn.nonEmpty,
      "sample_rates needs stratum_column")
    c
  }

  private def parseChunk(m: Map[String, Object]): ChunkStepConfig = {
    val c = ChunkStepConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      chunkTokens = num(m, "chunk_tokens", 64),
      stride = num(m, "stride", 48),
      carryColumns = strSeq(m, "carry_columns"))
    require(c.idColumn.nonEmpty && c.textColumn.nonEmpty,
      "chunk needs id_column and text_column")
    require(c.chunkTokens > 0, s"chunk_tokens must be positive, got ${c.chunkTokens}")
    require(c.stride > 0 && c.stride <= c.chunkTokens,
      s"stride must be in (0, chunk_tokens]; got ${c.stride}/${c.chunkTokens}")
    c
  }

  private def parseQuota(m: Map[String, Object]): QuotaStepConfig = {
    val q = QuotaStepConfig(
      idColumn = str(m, "id_column"),
      stratumColumn = str(m, "stratum_column"),
      maxPerStratum = num(m, "max_per_stratum", 0))
    require(q.idColumn.nonEmpty && q.stratumColumn.nonEmpty,
      "quota needs id_column and stratum_column")
    require(q.maxPerStratum > 0,
      s"max_per_stratum must be positive, got ${q.maxPerStratum}")
    q
  }

  private def parseMix(m: Map[String, Object]): MixStepConfig = {
    val x = MixStepConfig(
      idColumn = str(m, "id_column"),
      sourceColumn = str(m, "source_column"),
      epochs = asMap(m.get("epochs")).map { case (k, v) => k -> v.toString.toDouble },
      defaultEpochs = opt(m, "default_epochs").map(_.toDouble).getOrElse(1.0))
    require(x.idColumn.nonEmpty && x.sourceColumn.nonEmpty,
      "mix needs id_column and source_column")
    require((x.defaultEpochs +: x.epochs.values.toSeq).forall(e => e >= 0 && e <= 16),
      "mix epoch weights must be in [0, 16]")
    require(x.epochs.nonEmpty || x.defaultEpochs != 1.0,
      "mix with no epochs and default 1.0 is a no-op — a config must act or fail")
    x
  }

  private def parseSplit(m: Map[String, Object]): SplitStepConfig = {
    val s = SplitStepConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      chunkTokens = num(m, "chunk_tokens", 64),
      stride = num(m, "stride", 48),
      trainPct = num(m, "train_pct", 90),
      valPct = num(m, "val_pct", 5),
      maxPosting = num(m, "max_posting", 64))
    require(s.idColumn.nonEmpty && s.textColumn.nonEmpty,
      "split needs id_column and text_column")
    require(s.chunkTokens > 0 && s.stride > 0 && s.stride <= s.chunkTokens,
      s"split chunk grid invalid: ${s.stride}/${s.chunkTokens}")
    require(s.maxPosting >= 2, s"max_posting must be >= 2, got ${s.maxPosting}")
    require(s.trainPct > 0 && s.valPct > 0 && s.trainPct + s.valPct < 100,
      s"split needs 0 < train_pct, 0 < val_pct, train_pct+val_pct < 100; " +
        s"got ${s.trainPct}/${s.valPct}")
    s
  }

  private def parseRelevanceFilter(m: Map[String, Object])
      : RelevanceFilterStepConfig = {
    val r = RelevanceFilterStepConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      terms = strSeq(m, "terms"),
      minScoreMicro = num(m, "min_score_micro", -1).toLong)
    require(r.idColumn.nonEmpty && r.textColumn.nonEmpty,
      "relevance_filter needs id_column and text_column")
    require(r.terms.nonEmpty, "relevance_filter needs terms")
    // distinctness must match Relevance.bm25's own check, which
    // lowercases terms first — a config with ["Spark", "spark"] must
    // fail HERE (config shape errors fail at parse time), not inside
    // the per-item run bracket
    require(r.terms.map(_.toLowerCase).distinct.size == r.terms.size,
      s"relevance_filter terms repeat (case-insensitive): " +
        s"${r.terms.mkString(", ")}")
    require(r.minScoreMicro >= 0,
      "relevance_filter needs min_score_micro >= 0 (the 6dp score x 1e6)")
    r
  }

  private def parseWeightedSample(m: Map[String, Object]): WeightedSampleStepConfig = {
    val w = WeightedSampleStepConfig(
      idColumn = str(m, "id_column"),
      stratumColumn = str(m, "stratum_column"),
      weightColumn = str(m, "weight_column"),
      samplesPerStratum = num(m, "samples_per_stratum", 0))
    require(w.idColumn.nonEmpty && w.stratumColumn.nonEmpty
        && w.weightColumn.nonEmpty,
      "weighted_sample needs id_column, stratum_column, and weight_column")
    require(w.samplesPerStratum > 0,
      s"samples_per_stratum must be positive, got ${w.samplesPerStratum}")
    w
  }

  private def parseDecontaminate(m: Map[String, Object]): DecontaminateStepConfig = {
    val d = DecontaminateStepConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      probeTable = str(m, "probe_table"),
      ngram = num(m, "ngram", 5))
    require(d.idColumn.nonEmpty && d.textColumn.nonEmpty,
      "decontaminate needs id_column and text_column")
    require(d.probeTable.nonEmpty, "decontaminate needs probe_table")
    require(d.ngram >= 1, s"ngram must be >= 1, got ${d.ngram}")
    d
  }

  private def parseDedupStore(m: Map[String, Object]): DedupStoreConfig = {
    val d = DedupStoreConfig(
      idColumn = str(m, "id_column"),
      textColumn = str(m, "text_column"),
      shingleSize = num(m, "shingle_size", 3),
      numHashes = num(m, "num_hashes", 16),
      bands = num(m, "bands", 4),
      jaccardPct = num(m, "jaccard_pct", 0),
      maxBucketSize = opt(m, "max_bucket_size").map(_.toLong),
      storeBuckets = num(m, "store_buckets", 0),
      keeper = str(m, "keeper", "min_id"),
      qualityColumn = opt(m, "quality_column"))
    checkOwnership("dedup_store", keepers, d.keeper, m)
    require(d.keeper != "max_quality" || d.qualityColumn.nonEmpty,
      "dedup_store: keeper max_quality needs quality_column (the " +
        "batch column ranking duplicate-cluster members)")
    require(d.idColumn.nonEmpty && d.textColumn.nonEmpty,
      "dedup_store needs id_column and text_column")
    require(d.shingleSize >= 1, s"shingle_size must be >= 1, got ${d.shingleSize}")
    require(d.numHashes >= 1 && d.bands >= 1 && d.numHashes % d.bands == 0,
      s"bands (${d.bands}) must divide num_hashes (${d.numHashes}) evenly")
    require(d.jaccardPct >= 0 && d.jaccardPct <= 100,
      s"jaccard_pct must be 0..100 (integer percent; 0 = LSH-only), " +
        s"got ${d.jaccardPct}")
    require(d.maxBucketSize.forall(_ > 0),
      s"max_bucket_size must be positive when set, got ${d.maxBucketSize.get}")
    require(d.storeBuckets >= 0,
      s"store_buckets must be >= 0 (0 = unbucketed), got ${d.storeBuckets}")
    d
  }

  private def parseMaintenance(m: Map[String, Object]): MaintenanceTaskConfig = {
    val tt = str(m, "task_type")
    val t = MaintenanceTaskConfig(
      taskId = str(m, "task_id"),
      taskType = tt,
      table = opt(m, "table"),
      targetRowsPerFile = opt(m, "target_rows_per_file").map(_.toLong)
        .getOrElse(1000000L),
      clusterBy = strSeq(m, "cluster_by"),
      columns = strSeq(m, "columns"),
      keepEpochs = opt(m, "keep_epochs").map(_.toLong).getOrElse(0L),
      trainIters = opt(m, "train_iters").map(_.toInt)
        .getOrElse(if (tt == "retrain_store") 2 else 0),
      numCentroids = opt(m, "num_centroids").map(_.toInt).getOrElse(0),
      spreadThresholdPermille = opt(m, "spread_threshold_permille")
        .map(_.toLong).getOrElse(0L),
      // max_bucket_size is the banded stores' spelling of the same
      // hot-count cap (unknown YAML keys are silently ignored, so
      // without the alias a banded-store stats task writing its own
      // knob name would silently count nothing as hot)
      maxCellSize = opt(m, "max_cell_size")
        .orElse(opt(m, "max_bucket_size")).map(_.toLong),
      spreadTrendPct = opt(m, "spread_trend_pct").map(_.toInt).getOrElse(0),
      enabled = bool(m, "enabled"))
    require(!(m.contains("max_cell_size") && m.contains("max_bucket_size")),
      s"maintenance task '${t.taskId}': max_cell_size and " +
        "max_bucket_size are aliases for the same hot-bucket/cell cap — " +
        "declare one, not both")
    require(t.taskId.nonEmpty, "maintenance task needs task_id")
    checkOwnership(s"maintenance task '${t.taskId}'", taskTypes, t.taskType, m)
    require(t.taskType == "vacuum_staging" || t.table.exists(_.nonEmpty),
      s"maintenance task '${t.taskId}': ${t.taskType} needs a table")
    require(t.targetRowsPerFile > 0,
      s"maintenance task '${t.taskId}': target_rows_per_file must be " +
        s"positive, got ${t.targetRowsPerFile}")
    require(t.taskType != "zone_maps" || t.columns.nonEmpty,
      s"maintenance task '${t.taskId}': zone_maps needs columns " +
        "(the min/max manifest dimensions)")
    require(t.taskType != "prune_store" || t.keepEpochs > 0,
      s"maintenance task '${t.taskId}': prune_store needs keep_epochs " +
        "(the retention window in run-date epoch days, > 0)")
    require(t.taskType != "retrain_store" || t.trainIters >= 1,
      s"maintenance task '${t.taskId}': retrain_store needs train_iters " +
        s">= 1 (Lloyd's rounds), got ${t.trainIters}")
    require(t.taskType != "retrain_store" || t.numCentroids >= 0,
      s"maintenance task '${t.taskId}': num_centroids must be >= 0 " +
        s"(0 = keep the current model's k), got ${t.numCentroids}")
    require(t.spreadThresholdPermille >= 0L,
      s"maintenance task '${t.taskId}': spread_threshold_permille must " +
        s"be >= 0 (0 = always retrain), got ${t.spreadThresholdPermille}")
    require(t.maxCellSize.forall(_ > 0),
      s"maintenance task '${t.taskId}': max_cell_size must be positive " +
        s"when set, got ${t.maxCellSize.getOrElse(0L)}")
    require(t.spreadTrendPct >= 0,
      s"maintenance task '${t.taskId}': spread_trend_pct must be >= 0 " +
        s"(0 = no trend gate), got ${t.spreadTrendPct}")
    t
  }

  private def parseVectorDedupStore(m: Map[String, Object]): VectorDedupStoreConfig = {
    val v = VectorDedupStoreConfig(
      idColumn = str(m, "id_column"),
      vectorColumn = str(m, "vector_column"),
      minScore = opt(m, "min_score").map(_.toLong).getOrElse(-1L),
      numCentroids = num(m, "num_centroids", 8),
      nprobe = num(m, "nprobe", 2),
      trainIters = num(m, "train_iters", 2),
      maxCellSize = opt(m, "max_cell_size").map(_.toLong),
      keeper = str(m, "keeper", "min_id"))
    require(graft.io.VectorDedupStore.Keepers(v.keeper),
      "vector_dedup_store: keeper must be one of " +
        s"[${graft.io.VectorDedupStore.Keepers.mkString(", ")}], " +
        s"got '${v.keeper}'")
    require(v.idColumn.nonEmpty && v.vectorColumn.nonEmpty,
      "vector_dedup_store needs id_column and vector_column")
    require(v.minScore >= 0,
      "vector_dedup_store needs min_score (the exact int8-code dot " +
        "threshold; >= 0 — identical unit vectors score ~16129)")
    require(v.numCentroids >= 1,
      s"num_centroids must be >= 1, got ${v.numCentroids}")
    require(v.nprobe >= 1 && v.nprobe <= v.numCentroids,
      s"nprobe must be in [1, num_centroids], got ${v.nprobe}")
    require(v.trainIters >= 1,
      s"train_iters must be >= 1, got ${v.trainIters}")
    require(v.maxCellSize.forall(_ > 0),
      s"max_cell_size must be positive when set, got ${v.maxCellSize.get}")
    v
  }

  private def parseAsOf(m: Map[String, Object]): AsOfStepConfig = {
    val a = AsOfStepConfig(asOf = str(m, "as_of"))
    require(a.asOf.nonEmpty,
      "asof needs as_of (a date string; ${PROCESSING_DATE} substitutes " +
        "to the run date)")
    a
  }

  private def parseStoreProbe(m: Map[String, Object]): StoreProbeStepConfig = {
    val p = StoreProbeStepConfig(
      storeTable = str(m, "store_table"),
      storeType = str(m, "store_type"),
      idColumn = str(m, "id_column"),
      contentColumn = str(m, "content_column"),
      flagColumn = str(m, "flag_column", "store_hit"),
      shingleSize = num(m, "shingle_size", 3),
      numHashes = num(m, "num_hashes", 16),
      bands = num(m, "bands", 4),
      jaccardPct = num(m, "jaccard_pct", 0),
      minScore = opt(m, "min_score").map(_.toLong).getOrElse(-1L),
      nprobe = num(m, "nprobe", 2),
      maxHamming = opt(m, "max_hamming").map(_.toLong).getOrElse(16L),
      // the vector store's own knob name is max_cell_size; unknown YAML
      // keys are silently ignored, so without the alias a user writing
      // it here would get an UNCAPPED probe with no error (advice-caught)
      maxBucketSize = opt(m, "max_bucket_size").orElse(opt(m, "max_cell_size"))
        .map(_.toLong))
    require(!(m.contains("max_bucket_size") && m.contains("max_cell_size")),
      "store_probe: max_bucket_size and max_cell_size are aliases for " +
        "the same hot-bucket/cell cap — declare one, not both")
    checkOwnership("store_probe", probeStoreTypes, p.storeType, m)
    require(p.storeTable.nonEmpty && p.idColumn.nonEmpty &&
        p.contentColumn.nonEmpty,
      "store_probe needs store_table, id_column and content_column")
    require(p.flagColumn.nonEmpty, "store_probe: flag_column must be named")
    require(p.storeType != "vector_dedup_store" || p.minScore >= 0,
      "store_probe: vector_dedup_store needs min_score (the exact " +
        "int8-code dot threshold, >= 0)")
    require(p.numHashes >= 1 && p.bands >= 1,
      s"store_probe: bands/num_hashes must be >= 1")
    require(p.storeType != "dedup_store" || p.numHashes % p.bands == 0,
      s"store_probe: bands (${p.bands}) must divide num_hashes " +
        s"(${p.numHashes}) evenly")
    require(p.storeType != "media_dedup_store" ||
        (p.bands <= 64 && 64 % p.bands == 0),
      s"store_probe: bands must divide 64 for media_dedup_store, " +
        s"got ${p.bands}")
    require(p.jaccardPct >= 0 && p.jaccardPct <= 100,
      s"store_probe: jaccard_pct must be 0..100, got ${p.jaccardPct}")
    require(p.maxHamming >= 0L && p.maxHamming < 64L,
      s"store_probe: max_hamming must be in [0, 64), got ${p.maxHamming}")
    require(p.maxBucketSize.forall(_ > 0),
      "store_probe: max_bucket_size must be positive when set")
    p
  }

  private def parseMediaDedupStore(m: Map[String, Object]): MediaDedupStoreConfig = {
    val d = MediaDedupStoreConfig(
      idColumn = str(m, "id_column"),
      hashColumn = str(m, "hash_column"),
      bands = num(m, "bands", 4),
      maxHamming = opt(m, "max_hamming").map(_.toLong).getOrElse(16L),
      maxBucketSize = opt(m, "max_bucket_size").map(_.toLong),
      storeBuckets = num(m, "store_buckets", 0),
      keeper = str(m, "keeper", "min_id"),
      qualityColumn = opt(m, "quality_column"))
    checkOwnership("media_dedup_store", keepers, d.keeper, m)
    require(d.keeper != "max_quality" || d.qualityColumn.nonEmpty,
      "media_dedup_store: keeper max_quality needs quality_column (the " +
        "batch column ranking duplicate-cluster members)")
    require(d.idColumn.nonEmpty && d.hashColumn.nonEmpty,
      "media_dedup_store needs id_column and hash_column (the 64-bit " +
        "dHash the upstream image scan computed)")
    require(d.bands >= 1 && d.bands <= 64 && 64 % d.bands == 0,
      s"media_dedup_store: bands must divide 64, got ${d.bands}")
    require(d.maxHamming >= 0L && d.maxHamming < 64L,
      s"media_dedup_store: max_hamming must be in [0, 64), got " +
        s"${d.maxHamming}")
    require(d.maxBucketSize.forall(_ > 0),
      s"media_dedup_store: max_bucket_size must be positive when set, " +
        s"got ${d.maxBucketSize.getOrElse(0L)}")
    require(d.storeBuckets >= 0,
      s"media_dedup_store: store_buckets must be >= 0 (0 = unbucketed), " +
        s"got ${d.storeBuckets}")
    d
  }

  private def parseViewEstimate(m: Map[String, Object]): ViewEstimateStepConfig = {
    val v = ViewEstimateStepConfig(
      viewType = str(m, "view_type"),
      keyColumns = strSeq(m, "key_columns"),
      qPermille = m.get("q_permille").map {
        case l: ju.List[_] => l.toArray.map(_.toString.toInt).toSeq
        case x => Seq(x.toString.toInt)
      }.getOrElse(Nil))
    checkOwnership("view_estimate", viewTypes, v.viewType, m)
    require(v.keyColumns.nonEmpty && v.keyColumns.forall(_.nonEmpty),
      "view_estimate needs key_columns (the view's grouping keys)")
    if (v.viewType == "quantile_view") {
      require(v.qPermille.nonEmpty,
        "view_estimate: quantile_view needs q_permille (the quantile " +
          "points, e.g. [500, 950, 990])")
      require(v.qPermille.forall(q => q >= 1 && q <= 999),
        s"view_estimate: q_permille points must be in [1, 999], got " +
          s"${v.qPermille.mkString(", ")}")
    }
    v
  }

  private def parseStreamSource(m: Map[String, Object]): StreamSourceConfig = {
    val s = StreamSourceConfig(
      path = str(m, "path"),
      format = str(m, "format", "parquet"),
      schemaTable = opt(m, "schema_table"),
      options = m.get("options").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString },
      select = strSeq(m, "select"))
    require(s.path.nonEmpty, "stream_source needs path (the landing dir)")
    require(s.select.forall(_.nonEmpty),
      "stream_source.select must name columns")
    require(Set("csv", "json", "parquet", "orc")(s.format),
      s"stream_source: unknown format '${s.format}' " +
        "(expected csv | json | parquet | orc)")
    s
  }

  private def parseModel(m: Map[String, Object]): ModelConfig = {
    val mc = ModelConfig(
      modelId = str(m, "model_id"),
      sqlQuery = str(m, "sql_query"),
      targetTable = str(m, "target_table"),
      partitionBy = strSeq(m, "partition_by"),
      refreshType = str(m, "refresh_type", "full"),
      primaryKeys = strSeq(m, "primary_keys"),
      enabled = bool(m, "enabled"),
      sumColumns = strSeq(m, "sum_columns"),
      minColumns = strSeq(m, "min_columns"),
      maxColumns = strSeq(m, "max_columns"),
      leftTable = opt(m, "left_table"),
      rightTable = opt(m, "right_table"),
      joinKeys = strSeq(m, "join_keys"),
      leftBatchSql = opt(m, "left_batch_sql"),
      rightBatchSql = opt(m, "right_batch_sql"),
      trackedColumns = strSeq(m, "tracked_columns"),
      effectiveColumn = opt(m, "effective_column"),
      distinctColumn = opt(m, "distinct_column"),
      hllM = num(m, "hll_m", 64),
      quantileColumn = opt(m, "quantile_column"),
      dedupStore = m.get("dedup_store").map(d => parseDedupStore(asMap(d))),
      vectorDedupStore = m.get("vector_dedup_store")
        .map(v => parseVectorDedupStore(asMap(v))),
      mediaDedupStore = m.get("media_dedup_store")
        .map(v => parseMediaDedupStore(asMap(v))),
      mode = str(m, "mode", "batch"),
      streamSource = m.get("stream_source").map(s => parseStreamSource(asMap(s))),
      checkpoint = opt(m, "checkpoint"),
      opColumn = str(m, "op_column", "op"),
      seqColumn = str(m, "seq_column", "seq"),
      volumeGuardPct = num(m, "volume_guard_pct", 0))
    val item = s"model '${mc.modelId}'"
    checkOwnership(item, refreshTypes, mc.refreshType, m)
    checkOwnership(item, modes, mc.mode, m)
    require(mc.mode != "streaming" || mc.streamSource.nonEmpty,
      s"$item: mode streaming needs a stream_source block " +
        "(path + format; schema_table recommended)")
    require(mc.mode != "streaming" || !Set("full", "join_view")(mc.refreshType),
      s"$item: refresh_type ${mc.refreshType} is batch-only (full " +
        "rewrites history per run; join_view folds two coordinated base " +
        "deltas) — use a batch model")
    require(mc.mode != "streaming" || mc.partitionBy.isEmpty,
      s"$item: partition_by is not used by the streaming sinks " +
        "(the standing tables own their layout)")
    require(mc.partitionBy.isEmpty || mc.refreshType == "full" ||
      (mc.refreshType == "incremental" && mc.primaryKeys.isEmpty),
      s"$item: partition_by is only used by refresh_type full or an " +
        "incremental model without primary_keys (the keyed upsert and " +
        "the folds rewrite one unpartitioned standing table)")
    require(mc.mode != "streaming" || mc.refreshType != "incremental" ||
      mc.primaryKeys.nonEmpty,
      s"$item: streaming incremental needs primary_keys (there is no " +
        "overwrite fallback for a stream)")
    require(mc.refreshType != "changelog" || mc.mode == "streaming",
      s"$item: refresh_type changelog is streaming-only (a batch " +
        "changelog is Upsert.applyChangeLog via the API)")
    require(mc.refreshType != "changelog" || mc.primaryKeys.nonEmpty,
      s"$item: refresh_type changelog needs primary_keys")
    require(mc.refreshType != "dedup_store" || mc.dedupStore.nonEmpty,
      s"$item: refresh_type dedup_store needs a dedup_store block " +
        "(id_column + text_column at minimum) — the model's sql_query " +
        "selects this run's batch of docs")
    require(mc.refreshType != "vector_dedup_store" || mc.vectorDedupStore.nonEmpty,
      s"$item: refresh_type vector_dedup_store needs a vector_dedup_store " +
        "block (id_column + vector_column + min_score at minimum) — the " +
        "model's sql_query selects this run's batch of vectors")
    require(mc.refreshType != "media_dedup_store" || mc.mediaDedupStore.nonEmpty,
      s"$item: refresh_type media_dedup_store needs a media_dedup_store " +
        "block (id_column + hash_column at minimum) — the model's " +
        "sql_query selects this run's batch of (id, dHash) rows")
    require(mc.refreshType != "quantile_view" || (mc.primaryKeys.nonEmpty &&
      mc.quantileColumn.nonEmpty),
      s"$item: refresh_type quantile_view needs primary_keys and quantile_column")
    require(mc.refreshType != "distinct_view" || (mc.primaryKeys.nonEmpty &&
      mc.distinctColumn.nonEmpty),
      s"$item: refresh_type distinct_view needs primary_keys and distinct_column")
    require(mc.refreshType != "distinct_view" || Set(16, 32, 64)(mc.hllM),
      s"$item: hll_m must be 16, 32 or 64 (the exact-integer estimator's " +
        s"alpha table), got ${mc.hllM}")
    require(mc.volumeGuardPct >= 0,
      s"$item: volume_guard_pct must be >= 0 (0 disables), got ${mc.volumeGuardPct}")
    require(mc.refreshType != "scd2" || (mc.primaryKeys.nonEmpty &&
      mc.trackedColumns.nonEmpty && mc.effectiveColumn.nonEmpty),
      s"$item: refresh_type scd2 needs primary_keys, tracked_columns and " +
        "effective_column — the model's query must emit exactly those " +
        "columns (versioning anything else would silently widen the dimension)")
    require(mc.refreshType != "join_view" || (mc.leftTable.nonEmpty &&
      mc.rightTable.nonEmpty && mc.joinKeys.nonEmpty),
      s"$item: refresh_type join_view needs left_table, right_table and " +
        "join_keys — and INSERT-ONLY batch queries selecting exactly this " +
        "run's appended base rows (a retraction needs a keyed delete, not " +
        "a join fold)")
    require(mc.refreshType == "join_view" || mc.mode == "streaming" ||
      mc.sqlQuery.nonEmpty, s"$item: sql_query is required")
    require(mc.refreshType != "additive" ||
      (mc.primaryKeys.nonEmpty && mc.sumColumns.nonEmpty),
      s"$item: refresh_type additive needs primary_keys and sum_columns")
    require(mc.refreshType != "extremes" || (mc.primaryKeys.nonEmpty &&
      (mc.minColumns.nonEmpty || mc.maxColumns.nonEmpty)),
      s"$item: refresh_type extremes needs primary_keys and at least one " +
        "of min_columns / max_columns — and an INSERT-ONLY feed (a " +
        "retraction-capable source must use additive or full: extremes " +
        "cannot un-see a deleted row)")
    mc
  }
}
