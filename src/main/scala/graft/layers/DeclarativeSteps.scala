package graft.layers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config._
import graft.functions.TextFunctions
import graft.operators.{Chunking, Curation, Dedup, FrameCaches}

/** The declarative transformation types behind the silver layer's
  * `transform_type` dispatch (round-10 verdict item 3): the reference's
  * whole point is YAML-declared transformations
  * (silver_config.yaml:4-95 → silver_layer.py:98-125 dispatch), but its
  * only verbs are SQL strings — these expose the library's dedup and
  * curation operator families through the same metadata plane, so a
  * corpus cleanup is one config item with the same per-item error
  * isolation, DQ, audit bracketing, and control-table rows as a SQL
  * transform.
  *
  * Both steps are pure DataFrame → DataFrame; the layer owns read,
  * write, and metadata. Scale shapes are the operators' own: the dedup
  * funnel is d8's (fingerprint min_by aggregate, banded LSH join, CC
  * funnel, broadcast-able anti-join), the curation chain is scan-fused
  * map work plus one deterministic hash per sampled row.
  */
object DeclarativeSteps {

  /** One surviving row per duplicate group, ALL source columns kept.
    * `exact`: group by content fingerprint, keep the smallest-id row —
    * a sort-free map-side-combined `min_by` aggregate (d8's exact
    * stage). `minhash` / `simhash`: exact stage first (identical text
    * is trivially near-dup; folding it early bounds the LSH join),
    * then LSH candidates → connected components, keeping each
    * cluster's smallest-id member via anti-join of the non-canonical.
    *
    * The intermediate survivor frame is persisted through
    * [[FrameCaches]] — it feeds both the candidate scan and the final
    * anti-join — and the LAYER drains the caches after its write (the
    * same contract Verify/Bench follow).
    */
  def dedupFrame(df: DataFrame, cfg: DedupStepConfig): DataFrame = {
    val id = cfg.idColumn
    val text = cfg.textColumn
    require(df.columns.contains(id), s"dedup id_column '$id' not in input")
    require(df.columns.contains(text), s"dedup text_column '$text' not in input")
    val exact = df
      .groupBy(TextFunctions.fingerprint(col(text)).as("_fp"))
      .agg(min_by(struct(df.columns.map(col): _*), col(id)).as("_keep"))
      .select("_keep.*")
    cfg.method match {
      case "exact" => exact
      case near =>
        val base = FrameCaches.track(exact.persist())
        val pairs = near match {
          case "minhash" => Dedup.minhashCandidates(base, id, text,
            cfg.shingleSize, cfg.numHashes, cfg.bands)
          case "spans" =>
            // the exact sub-chunk grain (Lee et al.): docs sharing any
            // ≥ min_span_tokens exact span cluster together — catches
            // contained/concatenated duplicates whose whole-doc Jaccard
            // is low (production XxHash family, like the LSH path)
            graft.operators.Spans.sharedSpans(base, id, text,
                cfg.minSpanTokens, mode = Dedup.XxHash)
              .select(col("doc_a"), col("doc_b"))
          case _ => Dedup.simhashCandidates(base, id, text)
        }
        val nonCanonical = Dedup.connectedComponents(pairs)
          .filter(col("doc_id") =!= col("cluster_id"))
        base.join(nonCanonical, base(id) === nonCanonical("doc_id"),
          "left_anti")
    }
  }

  /** Language gate → quality floor → PII redaction → deterministic
    * stratified sample, each stage present only when configured. Order
    * matters and is fixed: gates first (cheapest row-droppers, fused
    * into the scan), redaction on survivors only (regex work is the
    * expensive stage), sampling last (quota applies to what would
    * actually ship). Adds `quality_score` when a floor is set and
    * `_pii_redactions` when redacting — the audit columns a curation
    * report reads; drop them downstream if unwanted.
    */
  def curationFrame(df: DataFrame, cfg: CurationStepConfig): DataFrame = {
    val text = cfg.textColumn
    require(df.columns.contains(cfg.idColumn),
      s"curation id_column '${cfg.idColumn}' not in input")
    require(df.columns.contains(text),
      s"curation text_column '$text' not in input")
    val langGated =
      if (cfg.languages.isEmpty) df
      else df.filter(TextFunctions.langId(col(text))
        .isin(cfg.languages.map(x => x: Any): _*))
    val qualityGated = cfg.minQuality match {
      case Some(q) => langGated
        .withColumn("quality_score", TextFunctions.qualityScore(col(text)))
        .filter(col("quality_score") >= q)
      case None => langGated
    }
    val redacted =
      if (cfg.redactPii)
        Curation.redactPii(qualityGated, text, cfg.piiReplacement)
      else qualityGated
    cfg.stratumColumn match {
      case Some(st) if cfg.sampleRates.nonEmpty || cfg.defaultSampleRate < 1.0 =>
        Curation.stratifiedSample(redacted, col(st), col(cfg.idColumn),
          cfg.sampleRates, cfg.defaultSampleRate)
      case None if cfg.defaultSampleRate < 1.0 =>
        // a default rate without a stratum column is still a sampling
        // request — a single all-rows stratum, never a silent skip
        // (a config the user wrote must act or fail, not vanish)
        Curation.stratifiedSample(redacted, lit("_all"), col(cfg.idColumn),
          Map.empty, cfg.defaultSampleRate)
      case _ => redacted
    }
  }

  /** One row per (doc, chunk) at the configured token grid — the
    * context-window splitter as a metadata step
    * ([[Chunking.slidingChunks]]); scan-fused, no shuffle.
    */
  def chunkFrame(df: DataFrame, cfg: ChunkStepConfig): DataFrame = {
    val missing = (cfg.idColumn +: cfg.textColumn +: cfg.carryColumns)
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"chunk columns not in input: ${missing.mkString(", ")}")
    Chunking.slidingChunks(df, cfg.idColumn, cfg.textColumn,
      cfg.chunkTokens, cfg.stride, cfg.carryColumns)
  }

  /** At most `max_per_stratum` rows per stratum, hash-ranked
    * ([[Curation.stratumQuota]]) — deterministic and growth-stable;
    * one window shuffle on the stratum key.
    */
  def quotaFrame(df: DataFrame, cfg: QuotaStepConfig): DataFrame = {
    require(df.columns.contains(cfg.idColumn),
      s"quota id_column '${cfg.idColumn}' not in input")
    require(df.columns.contains(cfg.stratumColumn),
      s"quota stratum_column '${cfg.stratumColumn}' not in input")
    Curation.stratumQuota(df, col(cfg.stratumColumn), col(cfg.idColumn),
      cfg.maxPerStratum)
  }

  /** Weight-proportional per-stratum sampling
    * ([[Curation.weightedSample]]) — the token-budget-aware selection
    * as a metadata step; one window shuffle on the stratum key,
    * everything else scan-fused. Non-positive/NULL weights fail
    * loudly (the operator's own guard), which is the correct
    * per-item-isolation behavior: a corrupt weight column is a data
    * error the audit bracket should record, not silently under-sample.
    */
  def weightedSampleFrame(df: DataFrame,
      cfg: WeightedSampleStepConfig): DataFrame = {
    val missing = Seq(cfg.idColumn, cfg.stratumColumn, cfg.weightColumn)
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"weighted_sample columns not in input: ${missing.mkString(", ")}")
    Curation.weightedSample(df, col(cfg.stratumColumn), col(cfg.idColumn),
      col(cfg.weightColumn), cfg.samplesPerStratum)
  }

  /** SCD2 as-of READ: the snapshot of a type-2 dimension in force at
    * `cfg.asOf` (already template-substituted by the layer) — a pure
    * interval filter over the versioned table ([[graft.io.Scd2.asOf]]).
    * Shape-checked here so a non-scd2 source fails with a named error
    * at the step, not a missing-column error inside the filter.
    */
  def asOfFrame(spark: org.apache.spark.sql.SparkSession,
      sourceTable: String, cfg: AsOfStepConfig): DataFrame = {
    val cols = spark.table(sourceTable).columns.toSet
    require(cols.contains("valid_from") && cols.contains("valid_to"),
      s"asof source '$sourceTable' is not an scd2 dimension: needs " +
        "valid_from/valid_to interval columns (refresh_type scd2 " +
        "produces them)")
    graft.io.Scd2.asOf(spark, sourceTable, cfg.asOf)
  }

  /** Store-membership probe: the input plus a boolean `flag_column`
    * marking rows whose content near-dups the accumulated standing
    * store — the READ half of the store family (probes, never
    * appends). Dispatches on `store_type` to the store's own
    * [[graft.io.DedupStore.probeHits]] /
    * [[graft.io.VectorDedupStore.probeHits]] /
    * [[graft.io.MediaDedupStore.probeHits]]; the hit set is an
    * id-column frame, so the flag join is broadcast-able and the
    * input's columns all pass through.
    */
  def storeProbeFrame(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, cfg: StoreProbeStepConfig): DataFrame = {
    val missing = Seq(cfg.idColumn, cfg.contentColumn)
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"store_probe columns not in input: ${missing.mkString(", ")}")
    require(!df.columns.contains(cfg.flagColumn),
      s"store_probe flag_column '${cfg.flagColumn}' already exists in " +
        "the input — name a fresh column")
    val hits = cfg.storeType match {
      case "dedup_store" =>
        graft.io.DedupStore.probeHits(spark, cfg.storeTable, df,
          cfg.idColumn, cfg.contentColumn, cfg.shingleSize, cfg.numHashes,
          cfg.bands, cfg.jaccardPct / 100.0, cfg.maxBucketSize)
          .withColumnRenamed("doc_id", cfg.idColumn)
      case "vector_dedup_store" =>
        graft.io.VectorDedupStore.probeHits(spark, cfg.storeTable, df,
          cfg.idColumn, cfg.contentColumn, cfg.minScore, cfg.nprobe,
          cfg.maxBucketSize)
          .withColumnRenamed("vec_id", cfg.idColumn)
      case "media_dedup_store" =>
        graft.io.MediaDedupStore.probeHits(spark, cfg.storeTable, df,
          cfg.idColumn, cfg.contentColumn, cfg.bands, cfg.maxHamming,
          cfg.maxBucketSize)
          .withColumnRenamed("media_id", cfg.idColumn)
    }
    df.join(hits.withColumn(cfg.flagColumn, lit(true)),
        Seq(cfg.idColumn), "left")
      .withColumn(cfg.flagColumn,
        coalesce(col(cfg.flagColumn), lit(false)))
  }

  /** Sketch-view READBACK: materialize the estimates a gold-plane view
    * maintains — per-key approximate distinct counts from an HLL
    * register table, or per-key quantile estimates from an HDR sketch
    * table ([[graft.io.Maintenance.distinctViewEstimate]] /
    * [[graft.io.Maintenance.quantileViewEstimate]]). Shape-checked
    * here so a mis-pointed source fails with a named error at the
    * step, not a missing-column error inside the estimator. Pure read:
    * the view table never changes. Scale shape: the estimators are one
    * keys-grouped aggregate over the ≤ m-rows-per-key (HLL) /
    * ≤ ~2k-buckets-per-key (HDR) register table — state-bounded, never
    * history-sized.
    */
  def viewEstimateFrame(spark: org.apache.spark.sql.SparkSession,
      sourceTable: String, cfg: ViewEstimateStepConfig): DataFrame = {
    val cols = spark.table(sourceTable).columns.toSet
    val missingKeys = cfg.keyColumns.filterNot(cols.contains)
    require(missingKeys.isEmpty,
      s"view_estimate: key_columns not in '$sourceTable': " +
        missingKeys.mkString(", "))
    cfg.viewType match {
      case "distinct_view" =>
        require(Set("bucket", "rho", "_m").subsetOf(cols),
          s"view_estimate: '$sourceTable' is not a distinct_view " +
            "register table (needs bucket/rho/_m — refresh_type " +
            "distinct_view produces them)")
        graft.io.Maintenance.distinctViewEstimate(spark, sourceTable,
          cfg.keyColumns)
      case _ =>
        require(Set("bkey", "cnt").subsetOf(cols),
          s"view_estimate: '$sourceTable' is not a quantile_view " +
            "sketch table (needs bkey/cnt — refresh_type quantile_view " +
            "produces them)")
        graft.io.Maintenance.quantileViewEstimate(spark, sourceTable,
          cfg.keyColumns, cfg.qPermille)
    }
  }

  /** BM25 relevance filter ([[graft.operators.Relevance.bm25]]) — the
    * topic-mining step as a metadata verb: keep documents whose
    * 6dp-rounded score × 10⁶ reaches `minScoreMicro` for the query
    * terms (exact integer threshold — the keep set is deterministic).
    * Scoring shuffles only query-term hits; the keep set comes back as
    * one semi join on the id. A document with no hits has no score row
    * and is kept only when the threshold is 0.
    */
  def relevanceFilterFrame(df: DataFrame,
      cfg: RelevanceFilterStepConfig): DataFrame = {
    val missing = Seq(cfg.idColumn, cfg.textColumn)
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"relevance_filter columns not in input: ${missing.mkString(", ")}")
    if (cfg.minScoreMicro == 0L) return df
    val keep = graft.operators.Relevance
      .bm25(df, cfg.idColumn, cfg.textColumn, cfg.terms)
      .filter(floor(col("score") * 1000000L + lit(0.5)) >= cfg.minScoreMicro)
      .select(cfg.idColumn)
    df.join(keep, Seq(cfg.idColumn), "left_semi")
  }

  /** Fractional-epoch upsampling/downsampling per source
    * ([[Curation.epochMix]]) — one row per (doc, epoch), the epoch
    * index as a column; pure map work.
    */
  def mixFrame(df: DataFrame, cfg: MixStepConfig): DataFrame = {
    require(df.columns.contains(cfg.idColumn),
      s"mix id_column '${cfg.idColumn}' not in input")
    require(df.columns.contains(cfg.sourceColumn),
      s"mix source_column '${cfg.sourceColumn}' not in input")
    Curation.epochMix(df, col(cfg.sourceColumn), col(cfg.idColumn),
      cfg.epochs, cfg.defaultEpochs)
  }

  /** Leakage-free train/val/test labels (the t17 funnel as a metadata
    * step): docs sharing ANY chunk at the configured grid form a
    * duplicate-content component, and the COMPONENT — not the doc — is
    * the split key, so near-identical content never straddles train and
    * test — with ONE spelled exception: a chunk hash carried by more
    * than `max_posting` docs (boilerplate — a license header, a crawl
    * template) generates NO edges. Boilerplate must neither emit occ²
    * join rows nor weld unrelated docs into a single mega-component
    * that lands whole in one split; docs whose ONLY shared content is
    * such boilerplate may therefore straddle — the same documented
    * bounded-cost trade as [[graft.operators.Spans]]' posting cap.
    * Emits every input column plus `group_id` and `split`. Scale
    * shape: chunking is scan-fused, the collision join shuffles on the
    * content hash, the CC funnel runs over collision pairs only
    * (duplicate mass, not corpus mass), the label is free map work.
    */
  def splitFrame(df: DataFrame, cfg: SplitStepConfig): DataFrame = {
    val id = cfg.idColumn
    require(df.columns.contains(id), s"split id_column '$id' not in input")
    require(df.columns.contains(cfg.textColumn),
      s"split text_column '${cfg.textColumn}' not in input")
    // DISTINCT (doc, hash) grain, PERSISTED (second-review findings):
    // distinct-first means within-doc repetition cannot blow up the
    // self-join (a doc repeating one chunk 2000× would contribute 2000²
    // join rows per partner otherwise — the hot count below would not
    // see it, counting distinct docs); the persist stops the tokenize+
    // explode+md5 scan from re-planning on the hot-count and both
    // aliased join sides (the Spans fix, measured ~2×). The layer
    // drains it via FrameCaches.scoped after its write.
    val ch = FrameCaches.track(
      Chunking.slidingChunks(df, id, cfg.textColumn,
          cfg.chunkTokens, cfg.stride)
        .select(col(id), col("chunk_hash"))
        .distinct()
        .persist())
    val hot = ch.groupBy("chunk_hash")
      .agg(count(lit(1)).as("_nd")) // == distinct docs at this grain
      .filter(col("_nd") > cfg.maxPosting)
      .select("chunk_hash")
    val kept = ch.join(hot, Seq("chunk_hash"), "left_anti")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.chunk_hash") === col("b.chunk_hash")
          && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .distinct()
    // label columns are aliased before the join: the caller's id column
    // is usually itself "doc_id", and an unaliased drop would take both
    val labels = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("_cc_doc"), col("cluster_id").as("_cc_cluster"))
    val grp = df.join(labels, df(id) === col("_cc_doc"), "left")
      .withColumn("group_id", coalesce(col("_cc_cluster"), df(id)))
      .drop("_cc_doc", "_cc_cluster")
    Curation.assignSplit(grp, col("group_id"), cfg.trainPct, cfg.valPct)
  }

  /** Zero-tolerance decontamination (t15's policy as a metadata step):
    * drop every corpus doc sharing ANY word n-gram with the probe set.
    * The probe side collapses to a distinct n-gram-hash set and
    * BROADCASTS (probes are an eval benchmark — config-bounded small);
    * the corpus scan itself never shuffles for the scoring. The flagged
    * set's anti-join is left to AQE: its size is DATA-dependent (every
    * contaminated doc), so it broadcasts when small and degrades to a
    * shuffled anti-join — not a driver OOM — when contamination is
    * widespread.
    */
  def decontaminateFrame(df: DataFrame, probes: DataFrame,
      cfg: DecontaminateStepConfig): DataFrame = {
    require(df.columns.contains(cfg.idColumn),
      s"decontaminate id_column '${cfg.idColumn}' not in input")
    require(df.columns.contains(cfg.textColumn),
      s"decontaminate text_column '${cfg.textColumn}' not in input")
    require(probes.columns.contains(cfg.textColumn),
      s"probe table lacks text_column '${cfg.textColumn}'")
    // no broadcast hint on the flagged set (review finding): its size
    // is DATA-dependent — every contaminated doc — not config-bounded
    // like the probe set; a widespread-contamination corpus would OOM
    // the driver, where AQE's own choice (broadcast when small,
    // shuffled anti-join when not) completes either way
    val flagged = Curation.contaminationScores(df, probes,
        cfg.idColumn, cfg.textColumn, cfg.ngram)
      .select(col(cfg.idColumn))
    df.join(flagged, Seq(cfg.idColumn), "left_anti")
  }
}
