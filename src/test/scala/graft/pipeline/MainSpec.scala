package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CLI end-to-end: the checked-in `configs/` trio driven through
  * `Main.run` against the sf0.001 testdata, asserting the control-table
  * contents the summary is built from.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  test("parseArgs: defaults and full flag set") {
    val d = Main.parseArgs(Array.empty)
    assert(d.layers == Seq("bronze", "silver", "gold", "maintenance") &&
      d.configDir == "configs")
    val a = Main.parseArgs(Array("--date", "2031-05-05", "--layers",
      "Bronze, gold", "--config-dir", "/tmp/cfg", "--warehouse", "/tmp/wh"))
    assert(a == Main.Args("2031-05-05", Seq("bronze", "gold"), "/tmp/cfg",
      Some("/tmp/wh")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--bogus", "x")))
  }

  test("checked-in configs run bronze->silver->gold via Main.run") {
    sys.props("GRAFT_DATA_DIR") = "/root/testdata/sf0.001"
    try {
      val exit = Main.run(spark,
        Main.Args("2031-05-05", Seq("bronze", "silver", "gold"),
          s"${graft.TestSpark.repoRoot}/configs", None))
      assert(exit == 0)

      // bronze ingested the four sources with audit columns
      assert(spark.table("bronze.customer").count() ==
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count())
      assert(spark.table("bronze.orders").columns.contains("ingestion_timestamp"))

      // silver: filter rules keep only valid rows; tag rule adds the flag
      val silverCust = spark.table("silver.customer")
      assert(silverCust.columns.contains("dq_segment_format_flag"))
      assert(silverCust.count() > 0)
      val silverOrders = spark.table("silver.orders")
      assert(silverOrders.groupBy("o_orderkey").count()
        .filter($"count" > 1).count() == 0)

      // gold models materialized
      assert(spark.table("gold.daily_orders").count() > 0)
      assert(spark.table("gold.customer_segments").count() > 0)

      // control table: one SUCCESS row per target, real snapshots
      val control = spark.table("metadata.etl_control_table")
        .filter($"last_run_date" === "2031-05-05" && $"status" === "SUCCESS")
      val byTable = control.select("table_name", "layer", "records_processed")
        .as[(String, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(byTable.keySet == Set(
        "bronze.customer", "bronze.orders", "bronze.lineitem", "bronze.nation",
        "silver.customer", "silver.orders",
        "gold.daily_orders", "gold.customer_segments"))
      assert(byTable("silver.orders")._2 == spark.table("silver.orders").count())
      assert(control.filter($"config_snapshot" === "{}").count() == 0)
    } finally sys.props.remove("GRAFT_DATA_DIR")
  }

  test("checked-in corpus configs run the declarative funnel via Main.run") {
    sys.props("GRAFT_DATA_DIR") = "/root/testdata/sf0.001"
    try {
      spark.sql("DROP TABLE IF EXISTS gold_corpus.source_token_budget")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.source_profile_history")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.corpus_dedup_store")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.corpus_vector_store")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.corpus_vector_store_model")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.corpus_media_store")
      spark.sql("DROP TABLE IF EXISTS gold_corpus.source_volume_live")
      val exit = Main.run(spark,
        Main.Args("2031-07-07", Seq("bronze", "silver", "gold", "maintenance"),
          s"${graft.TestSpark.repoRoot}/configs/corpus", None))
      assert(exit == 0)
      val raw = spark.table("bronze_corpus.documents").count()
      val deduped = spark.table("silver_corpus.docs_dedup").count()
      val curated = spark.table("silver_corpus.docs_curated").count()
      assert(raw > deduped && deduped > curated && curated > 0,
        s"funnel must narrow: $raw -> $deduped -> $curated")
      // round-12 verbs chained off the curated docs: quota caps every
      // source, the mix upweights src1, chunking explodes to windows
      val quota = spark.table("silver_corpus.docs_quota")
      assert(quota.groupBy("source").count()
        .agg(max("count")).head.getLong(0) <= 40L)
      val mixed = spark.table("silver_corpus.docs_mix").count()
      assert(mixed >= quota.count(), "default 1.0 epochs keeps every doc")
      val chunks = spark.table("silver_corpus.docs_chunks")
      assert(chunks.columns.contains("chunk_hash") && chunks.count() >= mixed,
        "every mixed doc copy must chunk")
      // the relevance filter narrows the curated docs to the topical set
      val topical = spark.table("silver_corpus.docs_topical").count()
      assert(topical > 0 && topical < curated,
        s"topic filter must narrow: $curated -> $topical")
      // the weighted sample keeps at most k per language, ranked
      val wsample = spark.table("silver_corpus.docs_wsample")
      assert(wsample.groupBy("lang").count()
        .agg(max("count")).head.getLong(0) <= 10L)
      assert(wsample.columns.contains("ws_rank"))
      // the additive gold model exists with the declared shape
      val gold = spark.table("gold_corpus.source_token_budget")
      assert(gold.columns.toSet ==
        Set("source", "n_docs", "n_chars", "n_rows", "_last_epoch"))
      assert(gold.agg(sum("n_docs")).head.getLong(0) == curated,
        "token budget must cover exactly the curated docs")
      // the scd2 model opened one current interval per source
      val scd2 = spark.table("gold_corpus.source_profile_history")
      assert(scd2.columns.toSet == Set("source", "n_docs_curated",
        "valid_from", "valid_to", "is_current"))
      assert(scd2.filter($"is_current").count() == scd2.count() &&
        scd2.agg(sum("n_docs_curated")).head.getLong(0) == curated,
        "first run: every version current, covering the curated docs")
      // the standing dedup store folded the curated batch: docs_curated
      // is already near-dup-free upstream, so every curated doc survives
      // into the store, bucketed as declared
      val storeIds = graft.io.DedupStore.storedDocIds(spark,
        "gold_corpus.corpus_dedup_store")
      val nStored = storeIds.count()
      // upstream docs_dedup removed LSH collisions on the RAW text, but
      // curation redacts PII before the store sees it, so redaction can
      // legitimately create a few new near-dups — the store holds the
      // bulk of the curated docs, never more
      assert(nStored > 0 && nStored <= curated, s"$nStored vs $curated")
      assert(storeIds.join(spark.table("silver_corpus.docs_curated"),
          Seq("doc_id"), "left_anti").count() == 0,
        "every stored doc comes from the curated batch")
      assert(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser
            .parseTableIdentifier("gold_corpus.corpus_dedup_store"))
        .bucketSpec.map(_.numBuckets).contains(8),
        "declared store_buckets must reach the table layout")
      // the VECTOR store folded the embeddings feed: survivors stored
      // as int8 codes with home cells, the frozen calibration model
      // beside it, both through the same declarative plane
      val vecStored = graft.io.VectorDedupStore.storedVecIds(spark,
        "gold_corpus.corpus_vector_store").count()
      val nVecs = spark.table("bronze_corpus.embeddings").count()
      assert(vecStored > 0 && vecStored <= nVecs, s"$vecStored vs $nVecs")
      val vModel = spark.table("gold_corpus.corpus_vector_store_model")
      assert(vModel.count() == 8L &&
        vModel.columns.toSet == Set("centroid_id", "qsum", "n", "amax"),
        "founding run freezes the 8-centroid TRAINED calibration model")
      // the MEDIA store folded the curated batch's (id, hash) rows —
      // the third store family member through the same plane; the
      // xxhash64 stand-in only collides on exact text, so survivors
      // track the curated docs, bucketed as declared
      val mediaStored = graft.io.MediaDedupStore.storedMediaIds(spark,
        "gold_corpus.corpus_media_store")
      val nMedia = mediaStored.count()
      assert(nMedia > 0 && nMedia <= curated, s"$nMedia vs $curated")
      assert(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser
            .parseTableIdentifier("gold_corpus.corpus_media_store"))
        .bucketSpec.map(_.numBuckets).contains(8),
        "declared store_buckets must reach the media store's layout")
      // the declared STREAMING model drained the landing path through
      // the additive sink: per-source raw volume, one row per source,
      // n_rows covering every raw doc (the stream reads the landing
      // files, not the curated funnel)
      val live = spark.table("gold_corpus.source_volume_live")
      assert(live.columns.toSet ==
        Set("source", "n_chars", "n_rows", "_last_epoch"))
      assert(live.agg(sum("n_rows")).head.getLong(0) == raw,
        "the stream must fold every landed doc exactly once")
      // control rows carry the declarative snapshots
      val control = spark.table("metadata.etl_control_table")
        .filter($"last_run_date" === "2031-07-07" && $"status" === "SUCCESS")
      // keyed by table_name, so scope to the DATA layers — the
      // maintenance plane writes rows for the same tables
      val snaps = control.filter(!$"layer".startsWith("maintenance"))
        .select("table_name", "config_snapshot")
        .as[(String, String)].collect().toMap
      assert(snaps("silver_corpus.docs_dedup").contains("\"method\":\"minhash\""))
      assert(snaps("gold_corpus.source_token_budget")
        .contains("\"refresh_type\":\"additive\""))
      assert(snaps("gold_corpus.corpus_dedup_store")
        .contains("\"refresh_type\":\"dedup_store\""))
      assert(snaps("gold_corpus.corpus_vector_store")
        .contains("\"refresh_type\":\"vector_dedup_store\""))
      assert(snaps("gold_corpus.corpus_media_store")
        .contains("\"refresh_type\":\"media_dedup_store\""))
      assert(snaps("gold_corpus.source_volume_live")
        .contains("\"mode\":\"streaming\""))
      // the declarative maintenance plane ran after gold: the store
      // compacted (bucket spec survived — asserted above), the curated
      // docs got a zone-map manifest, staging is swept — each with its
      // own audit-bracketed control row
      // keyed by LAYER (task-qualified): the vector store now carries
      // two maintenance rows (prune + retrain), so table_name keys
      // would collide
      val maint = control.filter($"layer".startsWith("maintenance."))
        .select("layer", "config_snapshot")
        .as[(String, String)].collect().toMap
      assert(maint.keySet == Set("maintenance.compact_dedup_store",
        "maintenance.zone_maps_curated", "maintenance.vacuum_staging",
        "maintenance.prune_vector_store", "maintenance.stats_vector_store",
        "maintenance.stats_dedup_store", "maintenance.compact_media_store",
        "maintenance.stats_media_store",
        "maintenance.retrain_vector_store"), maint.keySet)
      assert(maint("maintenance.compact_dedup_store")
        .contains("\"task_type\":\"compact\""))
      // occupancy stats ran before the (drift-gated) retrain: the
      // spread signal lands in the control row as records_processed
      assert(maint("maintenance.stats_vector_store")
        .contains("\"task_type\":\"store_stats\""))
      // the banded TEXT store's occupancy profile (store_stats
      // dispatches on the store family's own schema)
      assert(maint("maintenance.stats_dedup_store")
        .contains("\"task_type\":\"store_stats\""))
      // retention ran against the vector store (365-day window over a
      // same-day fold: nothing prunable, the store is intact, and the
      // model sibling is untouched by construction), then the retrain
      // re-balanced the surviving window (row set unchanged — the
      // vecStored count below still holds)
      assert(maint("maintenance.prune_vector_store")
        .contains("\"task_type\":\"prune_store\""))
      assert(maint("maintenance.retrain_vector_store")
        .contains("\"task_type\":\"retrain_store\""))
      assert(graft.io.VectorDedupStore.storedVecIds(spark,
        "gold_corpus.corpus_vector_store").count() == vecStored)
      val zm = spark.table("silver_corpus.docs_curated__zonemap")
      assert(zm.columns.toSet ==
        Set("file", "n_rows", "min_source", "max_source") && zm.count() > 0,
        "zone_maps task must write the manifest table")
    } finally sys.props.remove("GRAFT_DATA_DIR")
  }

  test("Demo.run propagates a layer failure instead of masking it in previews") {
    // a gold-only config whose model reads a table that does not exist:
    // the layer fails, and Demo.run must return that nonzero exit code
    // rather than die in the gold previews with an AnalysisException
    val cfgDir = java.nio.file.Files.createTempDirectory("demo-broken-cfg")
    java.nio.file.Files.write(cfgDir.resolve("gold_config.yaml"),
      """models:
        |  - model_id: "broken"
        |    model_type: "sql"
        |    sql_query: "SELECT * FROM silver.this_table_does_not_exist"
        |    target_table: "gold.broken_model"
        |    refresh_type: "full"
        |    enabled: true
        |""".stripMargin.getBytes)
    val out = java.nio.file.Files.createTempDirectory("demo-broken-out").toString
    val exit = Demo.run(spark, "2031-06-06", out, cfgDir.toString)
    assert(exit == 1, "failing layer's exit code must propagate")
    assert(sys.props.get("GRAFT_DEMO_DIR").isEmpty)
  }

  test("checked-in configs run green under the production guard extensions") {
    // Main.main builds its session guarded (graft.Session.build); this
    // drives the same checked-in configs through Main.run on a guarded
    // builder session, proving the production funnel's own
    // plans pass under the firewall (no allow-key set anywhere).
    sys.props("GRAFT_DATA_DIR") = "/root/testdata/sf0.001"
    try graft.TestSpark.withGuardedSession { guarded =>
      val exit = Main.run(guarded,
        Main.Args("2031-08-08", Seq("bronze", "silver", "gold"),
          s"${graft.TestSpark.repoRoot}/configs", None))
      assert(exit == 0, "guarded production run must stay green")
      assert(guarded.table("gold.daily_orders").count() > 0)
    } finally sys.props.remove("GRAFT_DATA_DIR")
  }

  test("a silver sql transform calls a graft SQL function through Main.run") {
    // every CLI session carries the graft functions, so YAML SQL can
    // call them by name
    val cfgDir = java.nio.file.Files.createTempDirectory("main-fn-cfg")
    java.nio.file.Files.write(cfgDir.resolve("bronze_config.yaml"),
      """sources:
        |  - source_id: "nation_dim"
        |    source_type: "file"
        |    source_path: "/root/testdata/sf0.001/nation.parquet"
        |    file_format: "parquet"
        |    target_table: "bronze_fn.nation"
        |""".stripMargin.getBytes)
    java.nio.file.Files.write(cfgDir.resolve("silver_config.yaml"),
      """transformations:
        |  - transform_id: "nation_keyed"
        |    source_table: "bronze_fn.nation"
        |    target_table: "silver_fn.nation_keyed"
        |    transformation_type: "sql"
        |    sql_query: >
        |      SELECT n_name, hex_slice_to_long(md5(n_name), 1, 8) AS name_key
        |      FROM bronze_fn.nation
        |""".stripMargin.getBytes)
    graft.TestSpark.withGuardedSession { guarded =>
      val exit = Main.run(guarded,
        Main.Args("2031-09-09", Seq("bronze", "silver"), cfgDir.toString, None))
      assert(exit == 0)
      val keyed = guarded.table("silver_fn.nation_keyed")
      assert(keyed.count() == 25L)
      assert(keyed.filter(
        "name_key <> CAST(conv(substr(md5(n_name), 1, 8), 16, 10) AS BIGINT)")
        .count() == 0L)
    }
  }

  test("Demo.run over configs/demo runs green under the guards") {
    // the CLI's Demo session is guarded, like Main's
    val out = java.nio.file.Files.createTempDirectory("demo-guarded-out").toString
    graft.TestSpark.withGuardedSession { guarded =>
      val exit = Demo.run(guarded, "2031-10-10", out,
        s"${graft.TestSpark.repoRoot}/configs/demo")
      assert(exit == 0)
      assert(guarded.table("gold.customer_purchase_summary").count() > 0)
    }
  }
}
