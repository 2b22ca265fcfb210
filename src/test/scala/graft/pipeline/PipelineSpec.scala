package graft.pipeline

import graft.SparkSpec
import graft.config.EtlConfig
import graft.meta.FixedClock
import org.apache.spark.sql.functions._

/** End-to-end medallion run mirroring the reference demo: CSV customers
  * + JSON products + parquet transactions → bronze ingest → silver SQL
  * transform with DQ rules → gold aggregate + incremental upsert.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val stage = s"${graft.TestSpark.repoRoot}/target/e2e-stage-${System.nanoTime()}"

  private def writeFixtures(): Unit = {
    Seq(
      ("C001", "ann@x.com", "CA"), ("C002", "bob@y.org", "NY"),
      ("C003", "bad-email", "CA"), ("C004", "dee@z.net", "TX"))
      .toDF("customer_id", "email", "state")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$stage/customers")
    Seq(
      ("P01", "Toys", 10.0, 6.0), ("P02", "Books", 20.0, 12.0),
      ("P03", "Games", 0.0, 1.0)) // invalid: price <= cost
      .toDF("product_id", "category", "price", "cost")
      .coalesce(1).write.mode("overwrite").json(s"$stage/products")
    Seq(
      ("T1", "C001", "P01", "2024-01-01", Some(30.0), 3),
      ("T2", "C002", "P02", "2024-01-02", Some(20.0), 1),
      ("T3", "C001", "P02", "2024-01-02", Some(40.0), 2),
      ("T4", "C009", "P01", "2024-01-03", Some(10.0), 1), // orphan customer
      ("T5", "C003", "P01", "2024-01-03", None, 1)) // null amount
      .toDF("transaction_id", "customer_id", "product_id",
        "transaction_date", "amount", "quantity")
      .write.mode("overwrite").parquet(s"$stage/transactions")
  }

  private val bronzeYaml =
    s"""sources:
       |  - source_id: customers_csv
       |    source_type: file
       |    source_path: $stage/customers
       |    file_format: csv
       |    options: {header: "true", inferSchema: "true"}
       |    target_table: bronze_e2e.customers
       |  - source_id: products_json
       |    source_type: file
       |    source_path: $stage/products
       |    file_format: json
       |    target_table: bronze_e2e.products
       |  - source_id: tx_parquet
       |    source_type: file
       |    source_path: $stage/transactions
       |    file_format: parquet
       |    target_table: bronze_e2e.sales_transactions
       |""".stripMargin

  private val silverYaml =
    """transformations:
      |  - transform_id: sales_clean
      |    source_table: bronze_e2e.sales_transactions
      |    target_table: silver_e2e.sales_clean
      |    sql_query: >
      |      SELECT transaction_id, customer_id, product_id,
      |             CAST(transaction_date AS DATE) AS transaction_date,
      |             amount, quantity
      |      FROM bronze_e2e.sales_transactions
      |    data_quality:
      |      - rule_name: amount_not_null
      |        rule_type: not_null
      |        column: amount
      |        action_on_failure: filter
      |      - rule_name: customer_exists
      |        rule_type: referential_integrity
      |        column: customer_id
      |        ref_table: bronze_e2e.customers
      |        ref_column: customer_id
      |        action_on_failure: filter
      |  - transform_id: customers_clean
      |    source_table: bronze_e2e.customers
      |    target_table: silver_e2e.customers
      |    sql_query: SELECT customer_id, email, state FROM bronze_e2e.customers
      |    partition_by: [state]
      |    data_quality:
      |      - rule_name: email_format
      |        rule_type: regex
      |        column: email
      |        pattern: "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
      |        action_on_failure: tag
      |""".stripMargin

  private val goldYaml =
    """models:
      |  - model_id: daily_sales
      |    sql_query: >
      |      SELECT s.transaction_date, p.category,
      |             COUNT(*) AS transaction_count,
      |             SUM(s.amount) AS total_sales,
      |             AVG(s.amount / s.quantity) AS avg_unit_price
      |      FROM silver_e2e.sales_clean s
      |      JOIN bronze_e2e.products p ON s.product_id = p.product_id
      |      GROUP BY s.transaction_date, p.category
      |    target_table: gold_e2e.daily_sales_by_category
      |    refresh_type: incremental
      |    primary_keys: [transaction_date, category]
      |""".stripMargin

  test("bronze -> silver -> gold end to end with DQ and upsert") {
    writeFixtures()
    val pipeline = new Pipeline(spark, "2024-01-05", new FixedClock())
    val reports = pipeline.run(Map(
      "bronze" -> EtlConfig.fromYaml(bronzeYaml),
      "silver" -> EtlConfig.fromYaml(silverYaml),
      "gold" -> EtlConfig.fromYaml(goldYaml)))

    assert(reports.forall(_.failed.isEmpty), reports.flatMap(_.failed).toString)

    // bronze: raw rows + audit columns
    val bronzeTx = spark.table("bronze_e2e.sales_transactions")
    assert(bronzeTx.count() == 5)
    assert(bronzeTx.columns.contains("ingestion_timestamp"))
    assert(bronzeTx.select("source_id").distinct().as[String].head() == "tx_parquet")

    // silver: null amount (T5) and orphan customer (T4) filtered
    val clean = spark.table("silver_e2e.sales_clean")
    assert(clean.select("transaction_id").as[String].collect().toSet ==
      Set("T1", "T2", "T3"))
    // tag action keeps all customers, flags the bad email
    val cust = spark.table("silver_e2e.customers")
    assert(cust.count() == 4)
    assert(cust.filter($"dq_email_format_flag" === "INVALID")
      .select("customer_id").as[String].head() == "C003")

    // gold: aggregates over clean rows only
    val gold = spark.table("gold_e2e.daily_sales_by_category")
    val toys = gold.filter($"category" === "Toys").as[GoldRow].collect()
    assert(toys.length == 1 && toys.head.total_sales == 30.0)
    val goldCountBefore = gold.count() // materialize before the upsert
    // invalidates this plan's file listing

    // control table has one SUCCESS row per target (scoped to this
    // test's tables — the control table is shared across suites)
    val control = spark.table(pipeline.meta.controlTable)
      .filter($"status" === "SUCCESS" && $"table_name".isin(
        "bronze_e2e.customers", "bronze_e2e.products",
        "bronze_e2e.sales_transactions", "silver_e2e.sales_clean",
        "silver_e2e.customers", "gold_e2e.daily_sales_by_category"))
    assert(control.filter($"layer".startsWith("bronze.")).count() == 3)
    assert(control.filter($"layer".startsWith("silver.")).count() == 2)
    assert(control.filter($"layer".startsWith("gold.")).count() == 1)

    // every control row carries the item's real config snapshot, not the
    // default "{}" (reference metadata_manager.py:115-117)
    val snapshots = control.filter($"last_run_date" === "2024-01-05")
      .select("table_name", "config_snapshot").as[(String, String)]
      .collect().toMap
    assert(snapshots.values.forall(s => s.startsWith("{") && s.length > 2))
    assert(snapshots("bronze_e2e.sales_transactions").contains("\"source_id\":\"tx_parquet\""))
    assert(snapshots("silver_e2e.sales_clean").contains("\"rule_name\":\"amount_not_null\""))
    assert(snapshots("gold_e2e.daily_sales_by_category").contains("\"refresh_type\":\"incremental\""))

    // data dictionary documents every column of the gold model
    val dict = spark.table(pipeline.meta.dictionaryTable)
      .filter($"table_name" === "gold_e2e.daily_sales_by_category")
    assert(dict.select("column_name").as[String].collect().toSet ==
      spark.table("gold_e2e.daily_sales_by_category").columns.toSet)
    assert(dict.select("model_id").distinct().as[String].head() == "daily_sales")

    // DQ metrics persisted per rule (the reference declared this table
    // but never filled it)
    val dqm = spark.table(pipeline.meta.dqMetricsTable)
      .filter($"run_date" === "2024-01-05")
    assert(dqm.filter($"rule_name" === "amount_not_null")
      .head().getAs[Long]("invalid_count") == 1L)
    assert(dqm.filter($"rule_name" === "customer_exists")
      .head().getAs[Long]("invalid_count") == 1L)
    assert(dqm.filter($"rule_name" === "email_format")
      .head().getAs[Long]("invalid_count") == 1L)

    // F6 summary reads back per-target rows from the control table
    val sum = pipeline.summary()
    assert(sum.exists(s => s._1.startsWith("silver.") && s._2 == "silver_e2e.sales_clean"
      && s._3 == 3L && s._4 == "SUCCESS"))

    // audit: STARTED+SUCCESS per unit of work, no ERRORs
    val audit = spark.table(pipeline.meta.auditTable)
      .filter($"run_id" === pipeline.audit.runId)
    assert(audit.filter($"status" === "ERROR").count() == 0)
    assert(audit.filter($"status" === "SUCCESS").count() == 6)

    // gold incremental: re-run upserts instead of duplicating
    val pipeline2 = new Pipeline(spark, "2024-01-06", new FixedClock(1750000000000L))
    pipeline2.run(Map("gold" -> EtlConfig.fromYaml(goldYaml)))
    val gold2 = spark.table("gold_e2e.daily_sales_by_category")
    assert(gold2.count() == goldCountBefore)
    assert(gold2.groupBy("transaction_date", "category").count()
      .filter($"count" > 1).count() == 0)
    // records_processed records THIS batch's source rows (the model
    // output), not post-merge target cardinality — here they coincide in
    // value (same groups recomputed), so assert via a third run against
    // a target that already has extra history rows
    spark.sql(
      """INSERT INTO gold_e2e.daily_sales_by_category VALUES
        |(DATE'2020-12-31', 'Legacy', 1, 1.0, 1.0, TIMESTAMP'2020-12-31 00:00:00')""".stripMargin)
    val pipeline3 = new Pipeline(spark, "2024-01-07", new FixedClock(1750100000000L))
    pipeline3.run(Map("gold" -> EtlConfig.fromYaml(goldYaml)))
    val rec3 = spark.table(pipeline3.meta.controlTable)
      .filter($"layer".startsWith("gold.") && $"last_run_date" === "2024-01-07")
      .select("records_processed").as[Long].head()
    assert(rec3 == goldCountBefore, // batch rows, NOT the target's n+1
      s"records_processed=$rec3 should be the batch size $goldCountBefore")
    assert(spark.table("gold_e2e.daily_sales_by_category").count() ==
      goldCountBefore + 1) // legacy row untouched by the merge
  }

  test("declarative dedup + curation steps run through the metadata plane") {
    // round-10 verdict item 3: the silver layer's transform_type verbs
    // must reach the operator families — a YAML-declared corpus cleanup
    // with the same DQ, audit, and control-table rows as a SQL step.
    // Corpus: real sf0.001 documents plus planted rows (one exact dup,
    // one PII carrier) so every stage provably does something.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val planted = Seq(
      (9001L, docs.filter($"doc_id" === 0L).select("text").as[String].head(),
        "en", "plant", 10L), // exact dup of doc 0's text
      (9002L, "Contact me at alice@example.com or 555-123-4567 today. " +
        "The quick brown fox jumps over the lazy dog near the river bank.",
        "en", "plant", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.unionByName(planted).write.mode("overwrite")
      .parquet(s"$stage/documents")

    val docsYaml =
      s"""sources:
         |  - source_id: docs_parquet
         |    source_path: $stage/documents
         |    file_format: parquet
         |    target_table: bronze_docs.documents
         |""".stripMargin
    val curateYaml =
      """transformations:
        |  - transform_id: docs_dedup
        |    transform_type: dedup
        |    source_table: bronze_docs.documents
        |    target_table: silver_docs.docs_dedup
        |    dedup:
        |      method: minhash
        |      id_column: doc_id
        |      text_column: text
        |      shingle_size: 3
        |      num_hashes: 16
        |      bands: 4
        |    data_quality:
        |      - rule_name: text_not_null
        |        rule_type: not_null
        |        column: text
        |        action_on_failure: filter
        |  - transform_id: docs_curated
        |    transform_type: curation
        |    source_table: silver_docs.docs_dedup
        |    target_table: silver_docs.docs_curated
        |    curation:
        |      id_column: doc_id
        |      text_column: text
        |      languages: [en]
        |      min_quality: 0.3
        |      redact_pii: true
        |      stratum_column: source
        |      sample_rates: {src0: 0.5}
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS silver_docs.docs_dedup")
    spark.sql("DROP TABLE IF EXISTS silver_docs.docs_curated")
    spark.sql("DROP TABLE IF EXISTS bronze_docs.documents")
    val pipeline = new Pipeline(spark, "2024-02-01", new FixedClock(1780000000000L))
    val reports = pipeline.run(Map(
      "bronze" -> EtlConfig.fromYaml(docsYaml),
      "silver" -> EtlConfig.fromYaml(curateYaml)))
    assert(reports.forall(_.failed.isEmpty), reports.flatMap(_.failed).toString)

    // dedup: the planted exact dup is folded (doc 0 survives, 9001 not)
    val deduped = spark.table("silver_docs.docs_dedup")
    val ids = deduped.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(0L) && !ids.contains(9001L),
      "exact duplicate must fold to the smallest doc_id")
    assert(ids.contains(9002L), "the unique planted doc must survive")
    // plane output ≡ direct operator invocation (same config)
    val direct = graft.layers.DeclarativeSteps.dedupFrame(
      spark.table("bronze_docs.documents"),
      graft.config.DedupStepConfig("minhash", "doc_id", "text", 3, 16, 4))
      .select("doc_id").as[Long].collect().toSet
    graft.operators.FrameCaches.release(spark)
    assert(ids == direct, "declarative plane must match the operator API")

    // curation: only langId-en survivors, quality-scored, PII burned,
    // src0 sampled at 500 per-mille
    val curated = spark.table("silver_docs.docs_curated")
    assert(curated.count() > 0)
    assert(curated.columns.contains("quality_score"))
    assert(curated.filter($"text".rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"))
      .count() == 0, "emails must be redacted")
    val pii = curated.filter($"doc_id" === 9002L)
    if (pii.count() > 0) // survives its own lang/quality gates
      assert(pii.select("_pii_redactions").as[Long].head() >= 2L,
        "planted email + phone must both be counted")
    assert(curated.filter(
      graft.functions.TextFunctions.langId($"text") =!= "en").count() == 0)
    assert(curated.filter($"quality_score" < 0.3).count() == 0)

    // control rows: one SUCCESS per declarative step, snapshot carries
    // the transform_type and its params
    val control = spark.table(pipeline.meta.controlTable)
      .filter($"last_run_date" === "2024-02-01" && $"layer".startsWith("silver."))
    val snaps = control.select("table_name", "config_snapshot")
      .as[(String, String)].collect().toMap
    assert(snaps("silver_docs.docs_dedup").contains("\"transform_type\":\"dedup\"")
      && snaps("silver_docs.docs_dedup").contains("\"method\":\"minhash\""))
    assert(snaps("silver_docs.docs_curated").contains("\"transform_type\":\"curation\"")
      && snaps("silver_docs.docs_curated").contains("\"redact_pii\":true"))
    assert(control.filter($"status" === "SUCCESS").count() == 2)

    // audit bracketing identical to the sql path: STARTED+SUCCESS pairs
    val audit = spark.table(pipeline.meta.auditTable)
      .filter($"run_id" === pipeline.audit.runId && $"layer" === "silver")
    assert(audit.filter($"status" === "ERROR").count() == 0)
    assert(audit.filter($"status" === "SUCCESS").count() == 2)

    // DQ composes with declarative types (metrics row for the dedup rule)
    val dqm = spark.table(pipeline.meta.dqMetricsTable)
      .filter($"run_date" === "2024-02-01" && $"rule_name" === "text_not_null")
    assert(dqm.count() == 1)
  }

  test("declarative quota/mix/chunk/weighted_sample/split/decontaminate verbs run through the metadata plane") {
    // round-11 verdict item 2: the rest of the corpus-pipeline family a
    // config author wants — per-source quota (t18), epoch mixing (t19),
    // chunking (t12), leakage-free split (t17), decontamination (t15)
    // — reachable as transformation_type verbs with the same per-item
    // isolation, audit bracketing, and control rows as dedup/curation
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$stage/documents_verbs")
    spark.sql("CREATE DATABASE IF NOT EXISTS probe_verbs")
    spark.sql("DROP TABLE IF EXISTS probe_verbs.eval_probes")
    docs.filter($"doc_id" < 5).select("doc_id", "text")
      .write.saveAsTable("probe_verbs.eval_probes")
    val bronzeYaml =
      s"""sources:
         |  - source_id: docs_parquet
         |    source_path: $stage/documents_verbs
         |    file_format: parquet
         |    target_table: bronze_verbs.documents
         |""".stripMargin
    val silverYaml =
      """transformations:
        |  - transform_id: docs_quota
        |    transform_type: quota
        |    source_table: bronze_verbs.documents
        |    target_table: silver_verbs.docs_quota
        |    quota:
        |      id_column: doc_id
        |      stratum_column: source
        |      max_per_stratum: 20
        |  - transform_id: docs_mix
        |    transform_type: mix
        |    source_table: silver_verbs.docs_quota
        |    target_table: silver_verbs.docs_mix
        |    mix:
        |      id_column: doc_id
        |      source_column: source
        |      epochs: {src0: 2.3, src1: 0.4}
        |  - transform_id: docs_chunks
        |    transform_type: chunk
        |    source_table: silver_verbs.docs_mix
        |    target_table: silver_verbs.docs_chunks
        |    chunk:
        |      id_column: doc_id
        |      text_column: text
        |      chunk_tokens: 64
        |      stride: 48
        |      carry_columns: [source, epoch]
        |  - transform_id: docs_wsample
        |    transform_type: weighted_sample
        |    source_table: silver_verbs.docs_quota
        |    target_table: silver_verbs.docs_wsample
        |    weighted_sample:
        |      id_column: doc_id
        |      stratum_column: lang
        |      weight_column: n_chars
        |      samples_per_stratum: 3
        |  - transform_id: docs_split
        |    transform_type: split
        |    source_table: bronze_verbs.documents
        |    target_table: silver_verbs.docs_split
        |    split:
        |      id_column: doc_id
        |      text_column: text
        |  - transform_id: docs_decon
        |    transform_type: decontaminate
        |    source_table: bronze_verbs.documents
        |    target_table: silver_verbs.docs_decon
        |    decontaminate:
        |      id_column: doc_id
        |      text_column: text
        |      probe_table: probe_verbs.eval_probes
        |""".stripMargin
    Seq("docs_quota", "docs_mix", "docs_chunks", "docs_wsample",
        "docs_split", "docs_decon")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS silver_verbs.$t"))
    spark.sql("DROP TABLE IF EXISTS bronze_verbs.documents")
    val pipeline = new Pipeline(spark, "2024-04-01", new FixedClock(1800000000000L))
    val reports = pipeline.run(Map(
      "bronze" -> EtlConfig.fromYaml(bronzeYaml),
      "silver" -> EtlConfig.fromYaml(silverYaml)))
    assert(reports.forall(_.failed.isEmpty), reports.flatMap(_.failed).toString)

    import org.apache.spark.sql.functions._
    val bronze = spark.table("bronze_verbs.documents")

    // quota: hard cap per source, and plane ≡ direct operator API
    val quota = spark.table("silver_verbs.docs_quota")
    assert(quota.groupBy("source").count()
      .agg(max("count")).head.getLong(0) <= 20L)
    val quotaDirect = graft.operators.Curation.stratumQuota(
        bronze, col("source"), col("doc_id"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(quota.select("doc_id").as[Long].collect().toSet == quotaDirect,
      "declarative quota must match the operator API")

    // mix: every src0 survivor gets >= 2 copies (full epochs of 2.3),
    // epoch indices are dense from 0, and plane ≡ direct API
    val mix = spark.table("silver_verbs.docs_mix")
    val src0Copies = mix.filter($"source" === "src0")
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(src0Copies.nonEmpty && src0Copies.forall(c => c == 2L || c == 3L),
      s"src0 at 2.3 epochs must copy 2-3x: ${src0Copies.toSet}")
    val mixDirect = graft.operators.Curation.epochMix(quota.select("doc_id", "source"),
        col("source"), col("doc_id"), Map("src0" -> 2.3, "src1" -> 0.4), 1.0)
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    assert(mix.select("doc_id", "epoch").as[(Long, Long)].collect().toSet
      == mixDirect, "declarative mix must match the operator API")

    // chunk: plane ≡ direct API at the same grid, carry columns ride
    val chunks = spark.table("silver_verbs.docs_chunks")
    assert(chunks.columns.toSet ==
      Set("doc_id", "source", "epoch", "chunk_id", "n_chunk_tokens", "chunk_hash"))
    val chunksDirect = graft.operators.Chunking.slidingChunks(
      mix, "doc_id", "text", 64, 48, Seq("source", "epoch")).count()
    assert(chunks.count() == chunksDirect && chunks.count() >= mix.count(),
      "every mixed doc copy must chunk")

    // weighted_sample: at most k per stratum, and plane = direct API
    val ws = spark.table("silver_verbs.docs_wsample")
    assert(ws.groupBy("lang").count()
      .agg(max("count")).head.getLong(0) <= 3L)
    val wsDirect = graft.operators.Curation.weightedSample(
        quota, col("lang"), col("doc_id"), col("n_chars"), 3)
      .select("doc_id").as[Long].collect().toSet
    assert(ws.select("doc_id").as[Long].collect().toSet == wsDirect,
      "declarative weighted_sample must match the operator API")

    // split: labels are total, and two docs sharing ANY chunk hash can
    // never straddle splits (the leakage-free contract)
    val split = spark.table("silver_verbs.docs_split")
    assert(split.count() == bronze.count())
    assert(split.select("split").distinct().as[String].collect().toSet
      .subsetOf(Set("train", "val", "test")))
    // the reference pairs mirror the verb's contract EXACTLY, including
    // the max_posting boilerplate exception (no >64-doc hash exists at
    // this SF, so the filter is vacuous here — but the spec must assert
    // the documented contract, not a stronger one)
    val ch = graft.operators.Chunking.slidingChunks(bronze, "doc_id", "text")
      .select(col("doc_id"), col("chunk_hash")).distinct()
    val hotRef = ch.groupBy("chunk_hash").count().filter($"count" > 64)
      .select("chunk_hash")
    val chKept = ch.join(hotRef, Seq("chunk_hash"), "left_anti")
    val sharingPairs = chKept.as("a").join(chKept.as("b"),
        $"a.chunk_hash" === $"b.chunk_hash" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db")).distinct()
    val labels = split.select(col("doc_id"), col("split"))
    val straddles = sharingPairs
      .join(labels.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("split", "sa"), "da")
      .join(labels.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("split", "sb"), "db")
      .filter($"sa" =!= $"sb").count()
    assert(straddles == 0, s"$straddles chunk-sharing pairs straddle splits")

    // decontaminate: the probe docs themselves (full 5-gram overlap)
    // are dropped; clean docs survive
    val decon = spark.table("silver_verbs.docs_decon")
    val deconIds = decon.select("doc_id").as[Long].collect().toSet
    assert((0L until 5L).forall(!deconIds.contains(_)),
      "probe-identical docs must be dropped")
    assert(decon.count() > 0 && decon.count() < bronze.count())

    // control rows: one SUCCESS per verb, snapshot carries the params
    val control = spark.table(pipeline.meta.controlTable)
      .filter($"last_run_date" === "2024-04-01" && $"layer".startsWith("silver."))
    val snaps = control.select("table_name", "config_snapshot")
      .as[(String, String)].collect().toMap
    assert(snaps("silver_verbs.docs_quota").contains("\"max_per_stratum\":20"))
    assert(snaps("silver_verbs.docs_mix").contains("\"src0\":2.3"))
    assert(snaps("silver_verbs.docs_chunks").contains("\"chunk_tokens\":64"))
    assert(snaps("silver_verbs.docs_split").contains("\"train_pct\":90"))
    assert(snaps("silver_verbs.docs_decon").contains("\"ngram\":5"))
    assert(snaps("silver_verbs.docs_wsample")
      .contains("\"samples_per_stratum\":3"))
    assert(control.filter($"status" === "SUCCESS").count() == 6)
    graft.operators.FrameCaches.release(spark)
  }

  test("additive gold model folds each run's batch instead of rescanning") {
    writeFixtures()
    val additiveYaml =
      """models:
        |  - model_id: sales_running
        |    sql_query: >
        |      SELECT product_id,
        |             CAST(SUM(COALESCE(amount, 0)) AS DOUBLE) AS amount,
        |             SUM(quantity) AS quantity
        |      FROM bronze_e2e.tx_additive GROUP BY product_id
        |    target_table: gold_e2e.sales_running
        |    refresh_type: additive
        |    primary_keys: [product_id]
        |    sum_columns: [amount, quantity]
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.sales_running")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tx_additive")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    // run 1 sees the first two transactions; run 2 sees two more
    Seq(("T1", "P01", Some(30.0), 3), ("T2", "P02", Some(20.0), 1))
      .toDF("transaction_id", "product_id", "amount", "quantity")
      .write.mode("overwrite").saveAsTable("bronze_e2e.tx_additive")
    val p1 = new Pipeline(spark, "2024-03-01", new FixedClock(1790000000000L))
    val r1 = p1.run(Map("gold" -> EtlConfig.fromYaml(additiveYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    Seq(("T3", "P01", Some(40.0), 2), ("T4", "P03", Some(10.0), 1))
      .toDF("transaction_id", "product_id", "amount", "quantity")
      .write.mode("overwrite").saveAsTable("bronze_e2e.tx_additive")
    val p2 = new Pipeline(spark, "2024-03-02", new FixedClock(1790100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(additiveYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    // the standing table is the fold of BOTH batches
    val rows = spark.table("gold_e2e.sales_running")
      .select("product_id", "amount", "quantity", "n_rows")
      .as[(String, Double, Long, Long)].collect().toSet
    assert(rows == Set(("P01", 70.0, 5L, 2L), ("P02", 20.0, 1L, 1L),
      ("P03", 10.0, 1L, 1L)), s"got $rows")
    // records_processed = the LATEST run's BATCH rows (2, not the
    // 3-row standing table) — the control table is a watermark (one
    // row per target, latest run wins), so only run 2's row remains
    val recs = spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.sales_running")
      .select("last_run_date", "records_processed")
      .as[(String, Long)].collect().toMap
    assert(recs == Map("2024-03-02" -> 2L), recs.toString)
    // re-running the SAME date is a no-op (the run date is the fold's
    // epoch id): a retry after a failure must not double-count
    val p2retry = new Pipeline(spark, "2024-03-02", new FixedClock(1790200000000L))
    val r3 = p2retry.run(Map("gold" -> EtlConfig.fromYaml(additiveYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    val rowsRetry = spark.table("gold_e2e.sales_running")
      .select("product_id", "amount", "quantity", "n_rows")
      .as[(String, Double, Long, Long)].collect().toSet
    assert(rowsRetry == rows, s"same-date retry double-counted: $rowsRetry")
    val recsRetry = spark.table(p2retry.meta.controlTable)
      .filter($"table_name" === "gold_e2e.sales_running")
      .select("records_processed").as[Long].head()
    assert(recsRetry == 0L, "a skipped epoch reports 0 records processed")
  }

  test("extremes gold model folds insert-only min/max across runs") {
    val extremesYaml =
      """models:
        |  - model_id: price_envelope
        |    sql_query: >
        |      SELECT product_id, MIN(amount) AS amount_min,
        |             MAX(amount) AS amount_max
        |      FROM bronze_e2e.tx_extremes GROUP BY product_id
        |    target_table: gold_e2e.price_envelope
        |    refresh_type: extremes
        |    primary_keys: [product_id]
        |    min_columns: [amount_min]
        |    max_columns: [amount_max]
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.price_envelope")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tx_extremes")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    Seq(("P01", 30.0), ("P01", 50.0), ("P02", 20.0))
      .toDF("product_id", "amount")
      .write.mode("overwrite").saveAsTable("bronze_e2e.tx_extremes")
    val p1 = new Pipeline(spark, "2024-05-01", new FixedClock(1800100000000L))
    val r1 = p1.run(Map("gold" -> EtlConfig.fromYaml(extremesYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    // run 2's batch widens P01's max and introduces P03
    Seq(("P01", 90.0), ("P03", 5.0)).toDF("product_id", "amount")
      .write.mode("overwrite").saveAsTable("bronze_e2e.tx_extremes")
    val p2 = new Pipeline(spark, "2024-05-02", new FixedClock(1800200000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(extremesYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    val rows = spark.table("gold_e2e.price_envelope")
      .select("product_id", "min_amount_min", "max_amount_max")
      .as[(String, Double, Double)].collect().toSet
    assert(rows == Set(("P01", 30.0, 90.0), ("P02", 20.0, 20.0),
      ("P03", 5.0, 5.0)), s"got $rows")
    // records_processed rides the batch, not the standing table
    val recs = spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.price_envelope")
      .select("records_processed").as[Long].head()
    assert(recs == 2L, s"batch rows expected, got $recs")
    // a same-date retry must NO-OP: the min/max values are replay-
    // idempotent but n_rows is not (review finding — the additive
    // branch's epoch fence applies here too)
    val nRowsBefore = spark.table("gold_e2e.price_envelope")
      .agg(sum("n_rows")).head.getLong(0)
    val p2retry = new Pipeline(spark, "2024-05-02", new FixedClock(1800300000000L))
    val r3 = p2retry.run(Map("gold" -> EtlConfig.fromYaml(extremesYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(spark.table("gold_e2e.price_envelope")
      .agg(sum("n_rows")).head.getLong(0) == nRowsBefore,
      "same-date retry double-counted n_rows")
    assert(spark.table(p2retry.meta.controlTable)
      .filter($"table_name" === "gold_e2e.price_envelope")
      .select("records_processed").as[Long].head() == 0L,
      "a skipped epoch reports 0 records processed")
  }

  test("join_view gold model folds base-table deltas instead of re-joining bases") {
    val jvYaml =
      """models:
        |  - model_id: cust_orders_view
        |    target_table: gold_e2e.cust_orders_view
        |    refresh_type: join_view
        |    left_table: bronze_e2e.jv_orders
        |    right_table: bronze_e2e.jv_cust
        |    join_keys: [ck]
        |    left_batch_sql: >
        |      SELECT * FROM bronze_e2e.jv_orders WHERE pd_l = '${PROCESSING_DATE}'
        |    right_batch_sql: >
        |      SELECT * FROM bronze_e2e.jv_cust WHERE pd_r = '${PROCESSING_DATE}'
        |""".stripMargin
    Seq("gold_e2e.cust_orders_view", "bronze_e2e.jv_orders",
      "bronze_e2e.jv_cust").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    Seq((1L, 10L, "2024-06-01")).toDF("ok", "ck", "pd_l")
      .write.saveAsTable("bronze_e2e.jv_orders")
    Seq((10L, "A", "2024-06-01")).toDF("ck", "seg", "pd_r")
      .write.saveAsTable("bronze_e2e.jv_cust")
    val p1 = new Pipeline(spark, "2024-06-01", new FixedClock(1800100000000L))
    val r1 = p1.run(Map("gold" -> EtlConfig.fromYaml(jvYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    assert(spark.table("gold_e2e.cust_orders_view").count() == 1L)
    // run 2: silver-style appends land FIRST (the post-append
    // sequencing); order 3 and customer 11 exist only in this run's
    // batches — the ΔA⋈ΔB overlap the post-append rule must emit
    // exactly once
    Seq((2L, 10L, "2024-06-02"), (3L, 11L, "2024-06-02"))
      .toDF("ok", "ck", "pd_l")
      .write.mode("append").saveAsTable("bronze_e2e.jv_orders")
    Seq((11L, "B", "2024-06-02")).toDF("ck", "seg", "pd_r")
      .write.mode("append").saveAsTable("bronze_e2e.jv_cust")
    val p2 = new Pipeline(spark, "2024-06-02", new FixedClock(1800200000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(jvYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    val wholesale = spark.table("bronze_e2e.jv_orders")
      .join(spark.table("bronze_e2e.jv_cust"), Seq("ck"))
      .select("ck", "ok", "seg").as[(Long, Long, String)].collect().toSeq
    val maintained = spark.table("gold_e2e.cust_orders_view")
      .select("ck", "ok", "seg").as[(Long, Long, String)].collect().toSeq
    assert(maintained.sorted == wholesale.sorted,
      s"$maintained != $wholesale")
    // records_processed = this run's batch rows (2 orders + 1 customer)
    val recs = spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.cust_orders_view")
      .select("records_processed").as[Long].head()
    assert(recs == 3L, s"batch rows expected, got $recs")
    // same-date retry: the epoch fence must no-op, never re-append ΔV
    val p2retry = new Pipeline(spark, "2024-06-02", new FixedClock(1800300000000L))
    val r3 = p2retry.run(Map("gold" -> EtlConfig.fromYaml(jvYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(spark.table("gold_e2e.cust_orders_view").count() ==
      wholesale.size.toLong, "same-date retry re-appended the delta")
    assert(spark.table(p2retry.meta.controlTable)
      .filter($"table_name" === "gold_e2e.cust_orders_view")
      .select("records_processed").as[Long].head() == 0L,
      "a skipped epoch reports 0 records processed")
  }

  test("join_view config: missing plumbing, stray fields, and sql_query all refuse at parse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_jv
          |    target_table: g.t
          |    refresh_type: join_view
          |    left_table: a.l
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("join_view needs"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    join_keys: [k]
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: divergent
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: join_view
          |    left_table: a.l
          |    right_table: a.r
          |    join_keys: [k]
          |""".stripMargin)
    }
    assert(e3.getMessage.contains("sql_query is not used by refresh_type join_view"),
      e3.getMessage)
  }

  test("extremes config without fold columns (or with sum_columns) fails at parse time") {
    // the insert-only-feed contract is enforced where it is declared:
    // an extremes model must name its min/max columns, and fold columns
    // on the wrong refresh_type must not silently vanish
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: extremes
          |    primary_keys: [k]
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("INSERT-ONLY"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken2
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    min_columns: [x]
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by"), e2.getMessage)
  }

  test("scd2 gold model versions attribute changes across runs") {
    val scd2Yaml =
      """models:
        |  - model_id: customer_tier_history
        |    sql_query: >
        |      SELECT customer_id, tier,
        |             CAST('${PROCESSING_DATE}' AS DATE) AS observed_on
        |      FROM bronze_e2e.tier_snapshot
        |    target_table: gold_e2e.tier_scd2
        |    refresh_type: scd2
        |    primary_keys: [customer_id]
        |    tracked_columns: [tier]
        |    effective_column: observed_on
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.tier_scd2")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tier_snapshot")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    def snapshot(rows: (String, String)*): Unit =
      rows.toDF("customer_id", "tier")
        .write.mode("overwrite").saveAsTable("bronze_e2e.tier_snapshot")
    snapshot(("C1", "gold"), ("C2", "bronze"))
    val r1 = new Pipeline(spark, "2024-03-01", new FixedClock(1790000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(scd2Yaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    // C1 upgrades, C2 re-observed unchanged
    snapshot(("C1", "platinum"), ("C2", "bronze"))
    val p2 = new Pipeline(spark, "2024-03-02", new FixedClock(1790100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(scd2Yaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    val hist = spark.table("gold_e2e.tier_scd2")
      .select($"customer_id", $"tier", $"valid_from".cast("string"),
        coalesce($"valid_to".cast("string"), lit("-")), $"is_current")
      .as[(String, String, String, String, Boolean)].collect().toSet
    assert(hist == Set(
      ("C1", "gold", "2024-03-01", "2024-03-02", false),
      ("C1", "platinum", "2024-03-02", "-", true),
      ("C2", "bronze", "2024-03-01", "-", true)), hist.toString)
    // re-running the same date replays the same snapshot — table
    // converges bit-identically (scd2 is naturally idempotent; no
    // epoch fence involved)
    val r3 = new Pipeline(spark, "2024-03-02", new FixedClock(1790200000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(scd2Yaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    val histRetry = spark.table("gold_e2e.tier_scd2")
      .select($"customer_id", $"tier", $"valid_from".cast("string"),
        coalesce($"valid_to".cast("string"), lit("-")), $"is_current")
      .as[(String, String, String, String, Boolean)].collect().toSet
    assert(histRetry == hist, "same-date replay must not move intervals")
    // records_processed = the batch's raw rows, even on the no-op replay
    val recs = spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.tier_scd2")
      .select("records_processed").as[Long].head()
    assert(recs == 2L, s"expected raw batch rows, got $recs")
  }

  test("distinct_view gold model max-merges per-key HLL registers across runs") {
    val dvYaml =
      """models:
        |  - model_id: buyers_per_product
        |    sql_query: >
        |      SELECT product_id, customer_id
        |      FROM bronze_e2e.tx_distinct
        |    target_table: gold_e2e.buyers_dv
        |    refresh_type: distinct_view
        |    primary_keys: [product_id]
        |    distinct_column: customer_id
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.buyers_dv")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tx_distinct")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    def batch(rows: (String, String)*): Unit =
      rows.toDF("product_id", "customer_id")
        .write.mode("overwrite").saveAsTable("bronze_e2e.tx_distinct")
    batch(("P01", "C1"), ("P01", "C2"), ("P02", "C1"))
    val r1 = new Pipeline(spark, "2024-03-01", new FixedClock(1790000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(dvYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    // run 2 re-delivers C2 (a duplicate across runs) and adds C3
    batch(("P01", "C2"), ("P01", "C3"))
    val r2 = new Pipeline(spark, "2024-03-02", new FixedClock(1790100000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(dvYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    // the standing registers equal a one-shot build over both batches
    val oneShot = graft.operators.Sketches.hllRegistersBy(
        Seq(("P01", "C1"), ("P01", "C2"), ("P02", "C1"),
          ("P01", "C2"), ("P01", "C3")).toDF("product_id", "customer_id"),
        Seq("product_id"), $"customer_id", 64)
      .as[(String, Long, Long)].collect().toSet
    val standing = spark.table("gold_e2e.buyers_dv")
      .select("product_id", "bucket", "rho")
      .as[(String, Long, Long)].collect().toSet
    assert(standing == oneShot, "view must equal the one-shot register build")
    // at tiny cardinality every item occupies its own register, so the
    // readback's occupancy is exact: P01 saw 3 buyers, P02 saw 1
    val occ = graft.io.Maintenance.distinctViewEstimate(spark,
        "gold_e2e.buyers_dv", Seq("product_id"))
      .select($"product_id", lit(64) - $"n_empty")
      .as[(String, Long)].collect().toMap
    assert(occ == Map("P01" -> 3L, "P02" -> 1L), occ.toString)
  }

  test("quantile_view gold model sum-merges HDR buckets across runs; same-date retry no-ops") {
    val qvYaml =
      """models:
        |  - model_id: price_quantiles
        |    sql_query: >
        |      SELECT product_id, cents FROM bronze_e2e.tx_quantile
        |    target_table: gold_e2e.price_qv
        |    refresh_type: quantile_view
        |    primary_keys: [product_id]
        |    quantile_column: cents
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.price_qv")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tx_quantile")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    def batch(rows: (String, Long)*): Unit = rows.toDF("product_id", "cents")
      .write.mode("overwrite").saveAsTable("bronze_e2e.tx_quantile")
    batch(("P01", 100L), ("P01", 900L), ("P02", 7L))
    val r1 = new Pipeline(spark, "2024-05-01", new FixedClock(1792000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(qvYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    batch(("P01", 500L), ("P02", 9L))
    val r2 = new Pipeline(spark, "2024-05-02", new FixedClock(1792100000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(qvYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    val oneShot = graft.operators.Sketches.hdrSketchBy(
        Seq(("P01", 100L), ("P01", 900L), ("P02", 7L), ("P01", 500L),
          ("P02", 9L)).toDF("product_id", "cents"),
        Seq("product_id"), $"cents")
      .as[(String, Long, Long)].collect().toSet
    def regs = spark.table("gold_e2e.price_qv")
      .select("product_id", "bkey", "cnt")
      .as[(String, Long, Long)].collect().toSet
    assert(regs == oneShot, "two folded runs must equal the one-shot sketch")
    // same-date retry: the run-date epoch fence makes it a no-op
    val r3 = new Pipeline(spark, "2024-05-02", new FixedClock(1792200000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(qvYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(regs == oneShot, "same-date retry must not double-count")
    // readback: small cents sit in exact singleton buckets
    val p50 = graft.io.Maintenance.quantileViewEstimate(spark,
        "gold_e2e.price_qv", Seq("product_id"), Seq(500))
      .filter($"product_id" === "P02")
      .select("est_lo_cents").as[Long].head()
    assert(p50 == 7L, s"P02 median of (7, 9) reads 7 exactly: $p50")
  }

  test("view_estimate READ verb: the gold plane's sketch views read back through YAML") {
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    spark.sql("CREATE DATABASE IF NOT EXISTS silver_e2e")
    val dv = "gold_e2e.ve_distinct_view"
    val qv = "gold_e2e.ve_quantile_view"
    Seq(dv, qv, "silver_e2e.ve_buyers", "silver_e2e.ve_prices")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.io.Maintenance.maintainDistinctView(spark, dv,
      Seq(("P01", "C1"), ("P01", "C2"), ("P01", "C3"), ("P02", "C1"))
        .toDF("product_id", "customer_id"),
      Seq("product_id"), "customer_id")
    graft.io.Maintenance.maintainQuantileView(spark, qv,
      Seq(("P01", 100L), ("P01", 900L), ("P02", 7L), ("P02", 9L))
        .toDF("product_id", "cents"),
      Seq("product_id"), "cents", epochId = 1L)
    val yaml =
      s"""transformations:
         |  - transform_id: buyers_estimate
         |    transformation_type: view_estimate
         |    source_table: $dv
         |    target_table: silver_e2e.ve_buyers
         |    view_estimate:
         |      view_type: distinct_view
         |      key_columns: [product_id]
         |  - transform_id: price_quantiles
         |    transformation_type: view_estimate
         |    source_table: $qv
         |    target_table: silver_e2e.ve_prices
         |    view_estimate:
         |      view_type: quantile_view
         |      key_columns: [product_id]
         |      q_permille: [500, 950]
         |""".stripMargin
    val p = new Pipeline(spark, "2024-09-11", new FixedClock(1804600000000L))
    val r = p.run(Map("silver" -> EtlConfig.fromYaml(yaml)), Seq("silver"))
    assert(r.head.failed.isEmpty, r.toString)
    // pinned ≡ the direct API, keys intact
    val direct = graft.io.Maintenance.distinctViewEstimate(spark, dv,
      Seq("product_id")).collect().map(_.toSeq).toSet
    assert(spark.table("silver_e2e.ve_buyers").collect().map(_.toSeq).toSet
      == direct, "YAML readback must equal the direct estimator")
    val directQ = graft.io.Maintenance.quantileViewEstimate(spark, qv,
      Seq("product_id"), Seq(500, 950)).collect().map(_.toSeq).toSet
    assert(spark.table("silver_e2e.ve_prices").collect().map(_.toSeq).toSet
      == directQ, "YAML readback must equal the direct estimator")
    // the views themselves never changed (pure read)
    assert(spark.table(dv).count() > 0 && spark.table(qv).count() > 0)
    // shape guard: a mis-pointed source fails with the named error
    val bad = new Pipeline(spark, "2024-09-12", new FixedClock(1804700000000L))
      .run(Map("silver" -> EtlConfig.fromYaml(
        s"""transformations:
           |  - transform_id: mispointed
           |    transformation_type: view_estimate
           |    source_table: $qv
           |    target_table: silver_e2e.ve_bad
           |    view_estimate:
           |      view_type: distinct_view
           |      key_columns: [product_id]
           |""".stripMargin)), Seq("silver"))
    assert(bad.head.failed.nonEmpty &&
      bad.head.failed.exists(_._2.contains("register table")),
      bad.toString)
  }

  test("view_estimate configs: unknown view_type, missing keys, stray q_permille refuse") {
    def bad(y: String): IllegalArgumentException =
      intercept[IllegalArgumentException](EtlConfig.fromYaml(y))
    def tr(body: String): String =
      s"""transformations:
         |  - transform_id: t
         |    source_table: a.b
         |    target_table: a.c
         |    transformation_type: view_estimate
         |$body""".stripMargin
    assert(bad(tr("    view_estimate: {view_type: hll_view, key_columns: [k]}"))
      .getMessage.contains("unknown view_type"))
    assert(bad(tr("    view_estimate: {view_type: distinct_view}"))
      .getMessage.contains("key_columns"))
    assert(bad(tr("""    view_estimate:
                    |      view_type: distinct_view
                    |      key_columns: [k]
                    |      q_permille: [500]""".stripMargin))
      .getMessage.contains("only used by view_type quantile_view"))
    assert(bad(tr("""    view_estimate:
                    |      view_type: quantile_view
                    |      key_columns: [k]""".stripMargin))
      .getMessage.contains("needs q_permille"))
    assert(bad(tr("""    view_estimate:
                    |      view_type: quantile_view
                    |      key_columns: [k]
                    |      q_permille: [0]""".stripMargin))
      .getMessage.contains("[1, 999]"))
    assert(bad(
      """transformations:
        |  - transform_id: t
        |    source_table: a.b
        |    target_table: a.c
        |    transformation_type: view_estimate
        |""".stripMargin)
      .getMessage.contains("needs a view_estimate"))
    assert(bad(
      """transformations:
        |  - transform_id: t
        |    source_table: a.b
        |    target_table: a.c
        |    transformation_type: sql
        |    sql_query: SELECT 1
        |    view_estimate: {view_type: distinct_view, key_columns: [k]}
        |""".stripMargin)
      .getMessage.contains("not used by"))
  }

  test("quantile_view config: missing quantile_column and stray fields refuse at parse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_qv
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: quantile_view
          |    primary_keys: [k]
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("quantile_view needs"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray_qv
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    quantile_column: cents
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by refresh_type quantile_view"),
      e2.getMessage)
  }

  test("distinct_view config: missing distinct_column, stray fields, bad m refuse at parse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_dv
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: distinct_view
          |    primary_keys: [k]
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("distinct_view needs"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray_dv
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    hll_m: 32
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by refresh_type distinct_view"),
      e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: bad_m
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: distinct_view
          |    primary_keys: [k]
          |    distinct_column: v
          |    hll_m: 128
          |""".stripMargin)
    }
    assert(e3.getMessage.contains("alpha table"), e3.getMessage)
  }

  test("relevance_filter verb keeps exactly the docs the BM25 operator scores past the threshold") {
    writeFixtures()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$stage/documents_rel")
    val bronzeYaml =
      s"""sources:
         |  - source_id: docs_rel
         |    source_path: $stage/documents_rel
         |    file_format: parquet
         |    target_table: bronze_rel.documents
         |""".stripMargin
    val th = 300000L // rounded score >= 0.3
    val silverYaml =
      s"""transformations:
         |  - transform_id: docs_topical
         |    transform_type: relevance_filter
         |    source_table: bronze_rel.documents
         |    target_table: silver_rel.docs_topical
         |    relevance_filter:
         |      id_column: doc_id
         |      text_column: text
         |      terms: [spark, stream]
         |      min_score_micro: $th
         |""".stripMargin
    val p = new Pipeline(spark, "2024-06-01", new FixedClock(1793000000000L))
    val r = p.run(Map(
      "bronze" -> EtlConfig.fromYaml(bronzeYaml),
      "silver" -> EtlConfig.fromYaml(silverYaml)))
    assert(r.forall(_.failed.isEmpty), r.flatMap(_.failed).toString)
    val kept = spark.table("silver_rel.docs_topical")
      .select("doc_id").as[Long].collect().toSet
    val want = graft.operators.Relevance
      .bm25(spark.table("bronze_rel.documents"), "doc_id", "text",
        Seq("spark", "stream"))
      .filter(floor($"score" * 1000000L + lit(0.5)) >= th)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == want && kept.nonEmpty &&
      kept.size < docs.count(), s"kept ${kept.size} of ${docs.count()}")
    // the verb rides the same audit/control plane as every other step
    val snap = spark.table(p.meta.controlTable)
      .filter($"table_name" === "silver_rel.docs_topical")
      .select("config_snapshot").as[String].head()
    assert(snap.contains("\"min_score_micro\":300000"), snap)
    graft.operators.FrameCaches.release(spark)
  }

  test("relevance_filter config refusals: missing block, repeated terms, missing threshold") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """transformations:
          |  - transform_id: broken_rel
          |    transform_type: relevance_filter
          |    source_table: a.b
          |    target_table: c.d
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("needs a relevance_filter: block"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """transformations:
          |  - transform_id: dup_terms
          |    transform_type: relevance_filter
          |    source_table: a.b
          |    target_table: c.d
          |    relevance_filter:
          |      id_column: doc_id
          |      text_column: text
          |      terms: [spark, spark]
          |      min_score_micro: 1
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("terms repeat"), e2.getMessage)
    // case-INSENSITIVE repeat: bm25 lowercases before scoring, so
    // [Spark, spark] is the same duplicate — it must fail at parse
    // time, not inside the per-item run bracket (round-12 advice)
    val e2b = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """transformations:
          |  - transform_id: dup_terms_ci
          |    transform_type: relevance_filter
          |    source_table: a.b
          |    target_table: c.d
          |    relevance_filter:
          |      id_column: doc_id
          |      text_column: text
          |      terms: [Spark, spark]
          |      min_score_micro: 1
          |""".stripMargin)
    }
    assert(e2b.getMessage.contains("terms repeat"), e2b.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """transformations:
          |  - transform_id: no_th
          |    transform_type: relevance_filter
          |    source_table: a.b
          |    target_table: c.d
          |    relevance_filter:
          |      id_column: doc_id
          |      text_column: text
          |      terms: [spark]
          |""".stripMargin)
    }
    assert(e3.getMessage.contains("min_score_micro"), e3.getMessage)
  }

  test("volume_guard_pct fails a run whose volume collapses vs the trailing median") {
    val vgYaml =
      """models:
        |  - model_id: guarded_daily
        |    sql_query: SELECT * FROM bronze_e2e.vg_feed
        |    target_table: gold_e2e.vg_out
        |    refresh_type: full
        |    volume_guard_pct: 60
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.vg_out")
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.vg_feed")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    def feed(n: Int): Unit = (1 to n).map(i => (i.toLong, s"r$i"))
      .toDF("k", "v").write.mode("overwrite").saveAsTable("bronze_e2e.vg_feed")
    // three healthy runs build the history (minHistory = 3)
    Seq("2024-04-01", "2024-04-02", "2024-04-03").zipWithIndex.foreach {
      case (d, i) =>
        feed(100 + i)
        val r = new Pipeline(spark, d, new FixedClock(1791000000000L + i))
          .run(Map("gold" -> EtlConfig.fromYaml(vgYaml)))
        assert(r.forall(_.failed.isEmpty), r.flatMap(_.failed).toString)
    }
    // the collapsed run FAILS (per-item isolation), and the control
    // watermark stays at the last healthy date
    feed(2)
    val r4 = new Pipeline(spark, "2024-04-04", new FixedClock(1791100000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(vgYaml)))
    val failed = r4.flatMap(_.failed)
    assert(failed.exists(_._2.contains("volume anomaly")), failed.toString)
    val p = new Pipeline(spark, "x", new FixedClock(1L))
    val ctl = spark.table(p.meta.controlTable)
      .filter($"table_name" === "gold_e2e.vg_out")
      .select("last_run_date").as[String].head()
    assert(ctl == "2024-04-03", s"watermark must not advance past a breach: $ctl")
  }

  test("a failed dictionary write leaves the model's watermark where it was") {
    val yaml =
      """models:
        |  - model_id: dict_fail
        |    sql_query: SELECT 1L AS k, 'a' AS v
        |    target_table: gold_e2e.dict_fail
        |    refresh_type: full
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.dict_fail")
    val cfg = EtlConfig.fromYaml(yaml)
    val p1 = new Pipeline(spark, "2024-10-01", new FixedClock(1806000000000L))
    val r1 = p1.run(Map("gold" -> cfg))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    val clock = new FixedClock(1806100000000L)
    val meta = new graft.meta.MetadataManager(spark, clock = clock) {
      override def updateDictionary(tableName: String, modelId: String,
          description: String): Unit =
        throw new IllegalStateException("dictionary unavailable")
    }
    val report = new graft.layers.GoldLayer(spark, cfg, meta,
      new graft.meta.AuditLogger(spark, meta, clock), "2024-10-02").run()
    assert(report.failed.map(_._1) == Seq("dict_fail"), report.toString)
    assert(meta.lastRunDate("gold_e2e.dict_fail", "gold.dict_fail")
      .contains("2024-10-01"))
    assert(spark.table(meta.controlTable)
      .filter($"table_name" === "gold_e2e.dict_fail" &&
        $"last_run_date" === "2024-10-02").count() == 0)
  }

  test("two gold models writing one table keep separate control rows") {
    // (table_name, layer) alone clobbers — the round-16 fix qualifies
    // the key per model (`gold.<model_id>`), maintenance-plane style
    val twoYaml =
      """models:
        |  - model_id: shared_full
        |    sql_query: SELECT 1L AS k, 'a' AS v
        |    target_table: gold_e2e.shared_target
        |    refresh_type: full
        |  - model_id: shared_again
        |    sql_query: SELECT * FROM gold_e2e.shared_target
        |    target_table: gold_e2e.shared_target
        |    refresh_type: incremental
        |    primary_keys: [k]
        |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS gold_e2e.shared_target")
    val p = new Pipeline(spark, "2024-07-01", new FixedClock(1794000000000L))
    val r = p.run(Map("gold" -> EtlConfig.fromYaml(twoYaml)))
    assert(r.forall(_.failed.isEmpty), r.flatMap(_.failed).toString)
    val rows = spark.table(p.meta.controlTable)
      .filter($"table_name" === "gold_e2e.shared_target")
      .select("layer", "records_processed").as[(String, Long)]
      .collect().toMap
    assert(rows.keySet == Set("gold.shared_full", "gold.shared_again"),
      s"each model keeps its own control row: $rows")
    // layer-level report still sees both models' rows via prefix match
    assert(p.meta.controlReport("gold")
      .filter($"table_name" === "gold_e2e.shared_target").count() == 2)
    // and the run summary surfaces both
    assert(p.summary().count(_._2 == "gold_e2e.shared_target") == 2)
  }

  /** Records each item's (item, status) in run order at the layers'
    * per-item entry points: STARTED on entry, then SUCCESS or ERROR. An
    * item in `held` (item -> (other item, seconds)) enters only once the
    * other item entered or the seconds passed; `released` names the
    * items whose hold the other item ended.
    */
  private class Recorder(held: Map[String, (String, Long)]) {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    private val started = new ConcurrentHashMap[String, CountDownLatch]()
    val released = ConcurrentHashMap.newKeySet[String]()
    private def latch(id: String) = started.computeIfAbsent(id, _ => new CountDownLatch(1))
    def around(id: String)(body: => Unit): Unit = {
      held.get(id).foreach { case (other, secs) =>
        if (latch(other).await(secs, TimeUnit.SECONDS)) released.add(id)
      }
      log.add(id -> "STARTED")
      latch(id).countDown()
      try body
      catch { case e: Throwable => log.add(id -> "ERROR"); throw e }
      log.add(id -> "SUCCESS")
    }
    /** Position of an item's entry in run order (-1: never logged). */
    def at(id: String, status: String): Int = {
      import scala.jdk.CollectionConverters._
      log.asScala.toSeq.indexOf(id -> status)
    }
  }

  private def recordedGold(cfg: EtlConfig, meta: graft.meta.MetadataManager,
      clock: FixedClock, date: String, rec: Recorder) =
    new graft.layers.GoldLayer(spark, cfg, meta,
        new graft.meta.AuditLogger(spark, meta, clock), date) {
      override def build(m: graft.config.ModelConfig): Unit =
        rec.around(m.modelId)(super.build(m))
    }

  private def recordedSilver(cfg: EtlConfig, meta: graft.meta.MetadataManager,
      clock: FixedClock, date: String, rec: Recorder) =
    new graft.layers.SilverLayer(spark, cfg, meta,
        new graft.meta.AuditLogger(spark, meta, clock), date) {
      override def transform(t: graft.config.TransformConfig): Unit =
        rec.around(t.transformId)(super.transform(t))
    }

  private def schedDb(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS sched")
    Seq("src", "a", "b", "c", "f", "g", "h", "i", "ga", "gb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS sched.$t"))
  }

  test("independent gold models run concurrently") {
    schedDb()
    val yaml =
      """models:
        |  - model_id: model_a
        |    sql_query: SELECT 1L AS k, 'a' AS v
        |    target_table: sched.ga
        |    refresh_type: full
        |  - model_id: model_b
        |    sql_query: SELECT 2L AS k, 'b' AS v
        |    target_table: sched.gb
        |    refresh_type: incremental
        |    primary_keys: [k]
        |""".stripMargin
    val clock = new FixedClock(1807000000000L)
    val meta = new graft.meta.MetadataManager(spark, clock = clock)
    meta.init()
    // run one at a time, model_a would wait out the full minute
    val audit = new Recorder(Map("model_a" -> ("model_b", 60L)))
    val report = recordedGold(EtlConfig.fromYaml(yaml), meta, clock,
      "2024-11-01", audit).run()
    assert(report.failed.isEmpty, report.toString)
    assert(report.succeeded == Seq("model_a", "model_b"))
    assert(audit.released.contains("model_a"), "model_b never started beside model_a")
    assert(audit.at("model_b", "STARTED") < audit.at("model_a", "STARTED"))
    assert(spark.table("sched.ga").select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    assert(spark.table("sched.gb").select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("an item that reads an earlier target, or shares it, waits for it") {
    schedDb()
    Seq((1L, "x")).toDF("k", "v").write.saveAsTable("sched.src")
    val yaml =
      """transformations:
        |  - transform_id: chain_a
        |    source_table: sched.src
        |    target_table: sched.a
        |    sql_query: SELECT k, v FROM sched.src
        |  - transform_id: chain_b
        |    source_table: sched.a
        |    target_table: sched.b
        |    sql_query: WITH a AS (SELECT k, upper(v) AS v FROM sched.a) SELECT * FROM a
        |  - transform_id: shared_1
        |    source_table: sched.src
        |    target_table: sched.c
        |    sql_query: SELECT 1L AS k
        |  - transform_id: shared_2
        |    source_table: sched.src
        |    target_table: sched.c
        |    sql_query: SELECT 2L AS k
        |""".stripMargin
    val clock = new FixedClock(1807100000000L)
    val meta = new graft.meta.MetadataManager(spark, clock = clock)
    meta.init()
    // a dependent that started early would end these holds
    val audit = new Recorder(
      Map("chain_a" -> ("chain_b", 3L), "shared_1" -> ("shared_2", 3L)))
    val report = recordedSilver(EtlConfig.fromYaml(yaml), meta, clock,
      "2024-11-02", audit).run()
    assert(report.failed.isEmpty, report.toString)
    assert(report.succeeded == Seq("chain_a", "chain_b", "shared_1", "shared_2"))
    assert(audit.released.isEmpty, audit.released.toString)
    assert(audit.at("chain_b", "STARTED") > audit.at("chain_a", "SUCCESS"))
    assert(audit.at("shared_2", "STARTED") > audit.at("shared_1", "SUCCESS"))
    assert(spark.table("sched.b").as[(Long, String)].collect().toSeq == Seq((1L, "X")))
    assert(spark.table("sched.c").as[Long].collect().toSeq == Seq(2L))
  }

  test("a failed item still lets its dependents run; a barrier runs alone") {
    schedDb()
    Seq((7L, "f")).toDF("k", "v").write.saveAsTable("sched.f")
    Seq(1L).toDF("k").createOrReplaceTempView("sched_view")
    val yaml =
      """transformations:
        |  - transform_id: fails
        |    source_table: sched.missing
        |    target_table: sched.f
        |    sql_query: SELECT * FROM sched.missing
        |  - transform_id: after_failure
        |    source_table: sched.f
        |    target_table: sched.g
        |    sql_query: SELECT * FROM sched.f
        |  - transform_id: barrier
        |    source_table: sched_view
        |    target_table: sched.h
        |    sql_query: SELECT * FROM sched_view
        |  - transform_id: after_barrier
        |    source_table: sched.src
        |    target_table: sched.i
        |    sql_query: SELECT 3L AS k
        |""".stripMargin
    val clock = new FixedClock(1807200000000L)
    val meta = new graft.meta.MetadataManager(spark, clock = clock)
    meta.init()
    val audit = new Recorder(
      Map("fails" -> ("after_failure", 3L), "barrier" -> ("after_barrier", 3L)))
    val report = recordedSilver(EtlConfig.fromYaml(yaml), meta, clock,
      "2024-11-03", audit).run()
    assert(report.failed.map(_._1) == Seq("fails"), report.toString)
    assert(report.succeeded == Seq("after_failure", "barrier", "after_barrier"))
    assert(audit.released.isEmpty, audit.released.toString)
    assert(audit.at("after_failure", "STARTED") > audit.at("fails", "ERROR"))
    assert(audit.at("barrier", "STARTED") > audit.at("after_failure", "SUCCESS"))
    assert(audit.at("after_barrier", "STARTED") > audit.at("barrier", "SUCCESS"))
    assert(spark.table("sched.g").as[(Long, String)].collect().toSeq == Seq((7L, "f")))
    assert(spark.table("sched.i").as[Long].collect().toSeq == Seq(3L))
  }

  test("streaming gold model folds only newly-landed files per pipeline run") {
    val landing = s"$stage/stream-landing"
    val chk = s"$stage/stream-chk"
    spark.sql("DROP TABLE IF EXISTS gold_e2e.stream_volume")
    val streamYaml =
      s"""models:
         |  - model_id: stream_volume
         |    mode: streaming
         |    stream_source:
         |      path: $landing
         |      format: parquet
         |    checkpoint: $chk
         |    target_table: gold_e2e.stream_volume
         |    refresh_type: additive
         |    primary_keys: [src]
         |    sum_columns: [amount]
         |""".stripMargin
    // first landing: two files arrive before the first run
    Seq(("a", 10L), ("b", 5L)).toDF("src", "amount")
      .write.mode("append").parquet(landing)
    val p1 = new Pipeline(spark, "2024-08-01", new FixedClock(1795000000000L))
    val r1 = p1.run(Map("gold" -> EtlConfig.fromYaml(streamYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    def state(): Map[String, Long] = spark.table("gold_e2e.stream_volume")
      .select("src", "amount").as[(String, Long)].collect().toMap
    assert(state() == Map("a" -> 10L, "b" -> 5L))
    def controlRows(date: String): Long = spark.table(p1.meta.controlTable)
      .filter($"layer" === "gold.stream_volume" && $"last_run_date" === date)
      .select("records_processed").as[Long].head()
    assert(controlRows("2024-08-01") == 2L)
    // second landing: one more file; the checkpointed offsets make the
    // next run fold ONLY it (the streaming analog of the epoch fence)
    Seq(("a", 7L)).toDF("src", "amount")
      .write.mode("append").parquet(landing)
    val p2 = new Pipeline(spark, "2024-08-02", new FixedClock(1795100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(streamYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    assert(state() == Map("a" -> 17L, "b" -> 5L),
      "second run folds only the new file's rows")
    assert(controlRows("2024-08-02") == 1L)
    // third run with nothing new: zero-batch no-op, records 0
    val p3 = new Pipeline(spark, "2024-08-03", new FixedClock(1795200000000L))
    val r3 = p3.run(Map("gold" -> EtlConfig.fromYaml(streamYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(state() == Map("a" -> 17L, "b" -> 5L))
    assert(controlRows("2024-08-03") == 0L)
    // the run got the batch plane's audit treatment
    assert(spark.table(p1.meta.auditTable)
      .filter($"run_id" === p1.audit.runId && $"operation" === "stream" &&
        $"status" === "SUCCESS").count() == 1)
  }

  test("streaming changelog model maintains a table with deletes from a CDC feed") {
    val landing = s"$stage/cdc-landing"
    spark.sql("DROP TABLE IF EXISTS gold_e2e.cdc_dim")
    val cdcYaml =
      s"""models:
         |  - model_id: cdc_dim
         |    mode: streaming
         |    stream_source:
         |      path: $landing
         |      format: parquet
         |    checkpoint: $stage/cdc-chk
         |    target_table: gold_e2e.cdc_dim
         |    refresh_type: changelog
         |    primary_keys: [k]
         |""".stripMargin
    Seq(("k1", "v1", "I", 1L), ("k2", "v2", "I", 2L))
      .toDF("k", "v", "op", "seq")
      .write.mode("append").parquet(landing)
    val p1 = new Pipeline(spark, "2024-08-01", new FixedClock(1795300000000L))
    assert(p1.run(Map("gold" -> EtlConfig.fromYaml(cdcYaml)))
      .forall(_.failed.isEmpty))
    assert(spark.table("gold_e2e.cdc_dim").select("k", "v")
      .as[(String, String)].collect().toMap == Map("k1" -> "v1", "k2" -> "v2"))
    // next landing: update k1, delete k2 — the changelog twin is the
    // only sink that can express the delete
    Seq(("k1", "v1b", "U", 3L), ("k2", "v2", "D", 4L))
      .toDF("k", "v", "op", "seq")
      .write.mode("append").parquet(landing)
    val p2 = new Pipeline(spark, "2024-08-02", new FixedClock(1795400000000L))
    assert(p2.run(Map("gold" -> EtlConfig.fromYaml(cdcYaml)))
      .forall(_.failed.isEmpty))
    assert(spark.table("gold_e2e.cdc_dim").select("k", "v")
      .as[(String, String)].collect().toMap == Map("k1" -> "v1b"))
  }

  test("every remaining streaming refresh type dispatches to its sink twin") {
    // additive/changelog get their own deep cases above; this smoke
    // drives each OTHER sink arm once through the YAML plane so a
    // mis-wired dispatch argument (same-typed min/max columns, say)
    // cannot hide behind the compiler
    val landing = s"$stage/multi-landing"
    Seq(("k1", 5L, 17L, "a", "2024-01-01"), ("k1", 9L, 3L, "b", "2024-01-02"),
      ("k2", 2L, 8L, "a", "2024-01-01"))
      .toDF("k", "lo", "hi", "item", "eff")
      .withColumn("eff", $"eff".cast("date"))
      .write.mode("append").parquet(landing)
    def model(id: String, body: String): String =
      s"""  - model_id: $id
         |    mode: streaming
         |    stream_source: {path: $landing, format: parquet}
         |    checkpoint: $stage/chk-$id
         |    target_table: gold_e2e.$id
         |$body""".stripMargin
    val yaml = "models:\n" + Seq(
      model("sm_extremes",
        """    refresh_type: extremes
          |    primary_keys: [k]
          |    min_columns: [lo]
          |    max_columns: [hi]""".stripMargin),
      model("sm_distinct",
        """    refresh_type: distinct_view
          |    primary_keys: [k]
          |    distinct_column: item""".stripMargin),
      model("sm_quantile",
        """    refresh_type: quantile_view
          |    primary_keys: [k]
          |    quantile_column: hi""".stripMargin),
      model("sm_upsert",
        """    refresh_type: incremental
          |    primary_keys: [k, eff]""".stripMargin),
      // scd2's merge contract is EXACT (undeclared columns refuse
      // loudly) — the declared stream projection is what makes a
      // wide landing feed a versioned dimension
      model("sm_scd2",
        """    refresh_type: scd2
          |    primary_keys: [k]
          |    tracked_columns: [lo]
          |    effective_column: eff""".stripMargin)
        .replace("stream_source: {path: " + landing + ", format: parquet}",
          "stream_source: {path: " + landing +
            ", format: parquet, select: [k, lo, eff]}")).mkString("\n") + "\n"
    Seq("sm_extremes", "sm_distinct", "sm_quantile", "sm_upsert", "sm_scd2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS gold_e2e.$t"))
    val p = new Pipeline(spark, "2024-09-01", new FixedClock(1796000000000L))
    val r = p.run(Map("gold" -> EtlConfig.fromYaml(yaml)))
    assert(r.forall(_.failed.isEmpty), r.flatMap(_.failed).toString)
    // extremes: min/max landed on the right columns (the arg-order trap)
    val ex = spark.table("gold_e2e.sm_extremes")
      .select("k", "min_lo", "max_hi").as[(String, Long, Long)]
      .collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(ex == Map("k1" -> ((5L, 17L)), "k2" -> ((2L, 8L))), ex)
    // distinct_view: registers exist for both keys and the estimator
    // reads them (values are raw-HLL approximate at this size)
    val dv = graft.io.Maintenance.distinctViewEstimate(spark,
      "gold_e2e.sm_distinct", Seq("k"))
      .select("k", "est").as[(String, Long)].collect().toMap
    assert(dv.keySet == Set("k1", "k2") && dv.values.forall(_ >= 1L), dv)
    // quantile_view registers exist per key
    assert(spark.table("gold_e2e.sm_quantile")
      .select("k").distinct().count() == 2)
    // upsert: one row per (k, eff)
    assert(spark.table("gold_e2e.sm_upsert").count() == 3)
    // scd2: k1's two observations opened two versions, latest current
    val sc = spark.table("gold_e2e.sm_scd2")
    assert(sc.count() == 3 && sc.filter($"is_current").count() == 2, sc.collect().toSeq)

    // the two STORE arms — their knobs are all same-typed Ints, the
    // exact mis-wire the smoke exists to catch
    val docLanding = s"$stage/doc-landing"
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "an entirely different document about spark engines"))
      .toDF("doc_id", "text").write.mode("append").parquet(docLanding)
    val vecLanding = s"$stage/vec-landing"
    Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(vecLanding)
    val mediaLanding = s"$stage/media-landing"
    Seq((1L, 0x0123456789ABCDEFL), (2L, 0x0123456789ABCDE0L), // hamming 4
      (3L, ~0x0123456789ABCDEFL))
      .toDF("media_id", "dhash").write.mode("append").parquet(mediaLanding)
    val storesYaml = "models:\n" + Seq(
      s"""  - model_id: sm_mediastore
         |    mode: streaming
         |    stream_source: {path: $mediaLanding, format: parquet}
         |    checkpoint: $stage/chk-sm_mediastore
         |    target_table: gold_e2e.sm_mediastore
         |    refresh_type: media_dedup_store
         |    media_dedup_store:
         |      id_column: media_id
         |      hash_column: dhash
         |      max_hamming: 8""".stripMargin,
      s"""  - model_id: sm_docstore
         |    mode: streaming
         |    stream_source: {path: $docLanding, format: parquet}
         |    checkpoint: $stage/chk-sm_docstore
         |    target_table: gold_e2e.sm_docstore
         |    refresh_type: dedup_store
         |    dedup_store:
         |      id_column: doc_id
         |      text_column: text""".stripMargin,
      s"""  - model_id: sm_vecstore
         |    mode: streaming
         |    stream_source: {path: $vecLanding, format: parquet}
         |    checkpoint: $stage/chk-sm_vecstore
         |    target_table: gold_e2e.sm_vecstore
         |    refresh_type: vector_dedup_store
         |    vector_dedup_store:
         |      id_column: vec_id
         |      vector_column: embedding
         |      min_score: 15000
         |      num_centroids: 2
         |      nprobe: 1""".stripMargin).mkString("\n") + "\n"
    Seq("sm_docstore", "sm_vecstore", "sm_vecstore_model", "sm_mediastore")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS gold_e2e.$t"))
    val p2 = new Pipeline(spark, "2024-09-02", new FixedClock(1796100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(storesYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    // each store dropped the within-batch near/exact dup and kept 2 of 3
    assert(graft.io.DedupStore.storedDocIds(spark, "gold_e2e.sm_docstore")
      .count() == 2)
    assert(graft.io.VectorDedupStore.storedVecIds(spark, "gold_e2e.sm_vecstore")
      .count() == 2)
    assert(spark.table("gold_e2e.sm_vecstore_model").count() == 2,
      "founding micro-batch freezes the declared 2-centroid model")
    assert(graft.io.MediaDedupStore
      .storedMediaIds(spark, "gold_e2e.sm_mediastore")
      .select("media_id").as[Long].collect().toSet == Set(1L, 3L),
      "the media store's hamming-4 re-encode dies under max_hamming 8")
  }

  test("streaming config refusals: each misdeclaration names its rule") {
    def bad(yaml: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](EtlConfig.fromYaml(yaml))
      assert(e.getMessage.contains(needle), s"${e.getMessage} !~ $needle")
    }
    // streaming without a stream_source
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    target_table: g.t
          |    refresh_type: additive
          |    primary_keys: [k]
          |    sum_columns: [x]
          |""".stripMargin, "needs a stream_source")
    // unknown mode
    bad("""models:
          |  - model_id: m
          |    mode: micro
          |    sql_query: SELECT 1
          |    target_table: g.t
          |""".stripMargin, "unknown mode")
    // full is batch-only
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    stream_source: {path: /tmp/x, format: parquet}
          |    target_table: g.t
          |    refresh_type: full
          |""".stripMargin, "is batch-only")
    // sql_query on a streaming model
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    stream_source: {path: /tmp/x, format: parquet}
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: additive
          |    primary_keys: [k]
          |    sum_columns: [x]
          |""".stripMargin, "sql_query is not used by mode streaming")
    // checkpoint/stream_source on a batch model
    bad("""models:
          |  - model_id: m
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    checkpoint: /tmp/chk
          |""".stripMargin, "only used by mode streaming")
    // changelog outside streaming mode
    bad("""models:
          |  - model_id: m
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: changelog
          |    primary_keys: [k]
          |""".stripMargin, "streaming-only")
    // op_column on a non-changelog model
    bad("""models:
          |  - model_id: m
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    op_column: operation
          |""".stripMargin, "only used by refresh_type changelog")
    // streaming incremental without keys
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    stream_source: {path: /tmp/x, format: parquet}
          |    target_table: g.t
          |    refresh_type: incremental
          |""".stripMargin, "no overwrite fallback")
    // bad stream format
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    stream_source: {path: /tmp/x, format: avro}
          |    target_table: g.t
          |    refresh_type: additive
          |    primary_keys: [k]
          |    sum_columns: [x]
          |""".stripMargin, "unknown format")
    // partition_by on a streaming model
    bad("""models:
          |  - model_id: m
          |    mode: streaming
          |    stream_source: {path: /tmp/x, format: parquet}
          |    target_table: g.t
          |    refresh_type: additive
          |    primary_keys: [k]
          |    sum_columns: [x]
          |    partition_by: [k]
          |""".stripMargin, "not used by the streaming sinks")
  }

  test("scd2 config: missing plumbing and stray version fields refuse at parse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_scd2
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: scd2
          |    primary_keys: [k]
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("scd2 needs"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray_scd2
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    tracked_columns: [v]
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by refresh_type scd2"), e2.getMessage)
  }

  test("dedup method: spans clusters contained duplicates LSH whole-doc Jaccard misses") {
    import org.apache.spark.sql.functions._
    // doc 2 CONTAINS doc 1's 60-token span inside 140 tokens of its own
    // content: whole-doc Jaccard ~0.3 (below any sane LSH threshold),
    // but the span grain must cluster them; doc 3 is clean
    val span = (1 to 60).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, span),
      (2L, ((1 to 70).map(i => s"p$i") :+ span).mkString(" ") + " " +
        (1 to 70).map(i => s"q$i").mkString(" ")),
      (3L, (1 to 80).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cfg = graft.config.DedupStepConfig("spans", "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 4, minSpanTokens = 50)
    val kept = graft.layers.DeclarativeSteps.dedupFrame(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    graft.operators.FrameCaches.release(spark)
    assert(kept == Set(1L, 3L),
      s"span-grain dedup must fold doc 2 into doc 1's cluster: kept $kept")
    // parse surface: the method + grain round-trip through YAML
    val parsed = EtlConfig.fromYaml(
      """transformations:
        |  - transform_id: t
        |    source_table: b.d
        |    target_table: s.d
        |    transform_type: dedup
        |    dedup:
        |      method: spans
        |      id_column: doc_id
        |      text_column: text
        |      min_span_tokens: 40
        |""".stripMargin).transformations.head
    assert(parsed.dedup.exists(d => d.method == "spans" && d.minSpanTokens == 40))
    intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """transformations:
          |  - transform_id: t
          |    source_table: b.d
          |    target_table: s.d
          |    transform_type: dedup
          |    dedup: {method: spans, id_column: doc_id, text_column: text, min_span_tokens: 1}
          |""".stripMargin)
    }
  }

  test("curation default_sample_rate without a stratum still samples (never a silent skip)") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(2000)
      .select(col("id").as("doc_id"), lit("hello world text").as("text"))
    val cfg = graft.config.CurationStepConfig(
      idColumn = "doc_id", textColumn = "text", languages = Nil,
      minQuality = None, redactPii = false, piiReplacement = "[REDACTED]",
      stratumColumn = None, sampleRates = Map.empty, defaultSampleRate = 0.25)
    val kept = graft.layers.DeclarativeSteps.curationFrame(docs, cfg).count()
    assert(kept > 2000 * 0.15 && kept < 2000 * 0.35,
      s"default-rate-only sampling must act (kept $kept of 2000)")
    // and it is deterministic
    assert(graft.layers.DeclarativeSteps.curationFrame(docs, cfg).count() == kept)
  }

  test("config parse rejects a declarative step missing its params block") {
    val bad =
      """transformations:
        |  - transform_id: broken
        |    transform_type: dedup
        |    source_table: a.b
        |    target_table: c.d
        |""".stripMargin
    val e = intercept[IllegalArgumentException](EtlConfig.fromYaml(bad))
    assert(e.getMessage.contains("broken") && e.getMessage.contains("dedup"))
  }

  test("incremental bronze: second run ingests only rows past the watermark") {
    writeFixtures()
    val incYaml =
      s"""sources:
         |  - source_id: tx_inc
         |    source_type: file
         |    source_path: $stage/transactions
         |    file_format: parquet
         |    target_table: bronze_e2e.tx_incremental
         |    extract_strategy: incremental
         |    incremental_column: transaction_date
         |""".stripMargin
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.tx_incremental")
    val p1 = new Pipeline(spark, "2024-01-05", new FixedClock(1770000000000L))
    p1.run(Map("bronze" -> EtlConfig.fromYaml(incYaml)))
    assert(spark.table("bronze_e2e.tx_incremental").count() == 5)

    // new delta arrives after the watermark date
    Seq(("T6", "C002", "P02", "2024-01-08", Some(15.0), 1),
      ("T7", "C001", "P01", "2024-01-02", Some(99.0), 1)) // older than watermark
      .toDF("transaction_id", "customer_id", "product_id",
        "transaction_date", "amount", "quantity")
      .write.mode("append").parquet(s"$stage/transactions")
    val p2 = new Pipeline(spark, "2024-01-10", new FixedClock(1771000000000L))
    p2.run(Map("bronze" -> EtlConfig.fromYaml(incYaml)))
    val after = spark.table("bronze_e2e.tx_incremental")
    // only T6 (date > 2024-01-05) crossed the watermark; T7 is history
    assert(after.count() == 6)
    assert(after.filter($"transaction_id" === "T6").count() == 1)
    assert(after.filter($"transaction_id" === "T7").count() == 0)
  }

  test("per-item isolation: one broken source does not stop the layer") {
    val broken =
      s"""sources:
         |  - source_id: missing_path
         |    source_type: file
         |    source_path: $stage/nope
         |    file_format: parquet
         |    target_table: bronze_e2e.nope
         |  - source_id: customers_ok
         |    source_type: file
         |    source_path: $stage/customers
         |    file_format: csv
         |    options: {header: "true"}
         |    target_table: bronze_e2e.customers_again
         |""".stripMargin
    writeFixtures()
    val pipeline = new Pipeline(spark, "2024-01-05", new FixedClock(1760000000000L))
    val reports = pipeline.run(Map("bronze" -> EtlConfig.fromYaml(broken)))
    assert(reports.head.failed.map(_._1) == Seq("missing_path"))
    assert(reports.head.succeeded == Seq("customers_ok"))
  }

  test("hostile cartesian config SQL is refused under the production guards") {
    // Main and Demo build their sessions guarded (graft.Session.build);
    // configs execute arbitrary SQL, so an accidental (or hostile)
    // comma-cartesian between two fact tables must be refused at
    // planning time, land as a per-model FAILURE (isolation intact),
    // and name the documented opt-out key in its message.
    writeFixtures()
    val hostileGold =
      """models:
        |  - model_id: cartesian_bomb
        |    sql_query: >
        |      SELECT a.transaction_id, b.transaction_id AS other_id
        |      FROM bronze_e2e.sales_transactions a,
        |           bronze_e2e.sales_transactions b
        |    target_table: gold_e2e.cartesian_bomb
        |    refresh_type: full
        |""".stripMargin
    graft.TestSpark.withGuardedSession { guarded =>
      // bronze runs under the guard too — real plans pass untouched
      val p = new Pipeline(guarded, "2024-02-02", new FixedClock())
      val boot = p.run(Map("bronze" -> EtlConfig.fromYaml(bronzeYaml)))
      assert(boot.head.failed.isEmpty, boot.head.failed.toString)

      val reports = p.run(Map("gold" -> EtlConfig.fromYaml(hostileGold)))
      val failed = reports.head.failed
      assert(failed.map(_._1) == Seq("cartesian_bomb"),
        s"the guard must fail the model, got $reports")
      assert(failed.head._2.contains("[graft.guards]") &&
        failed.head._2.contains(graft.plans.PlanGuards.AllowCartesianKey),
        s"violation must name the opt-out key: ${failed.head._2}")
      assert(!guarded.catalog.tableExists("gold_e2e.cartesian_bomb"))

      // the documented session opt-out unlocks a deliberate run
      guarded.conf.set(graft.plans.PlanGuards.AllowCartesianKey, "true")
      val allowed = p.run(Map("gold" -> EtlConfig.fromYaml(hostileGold)))
      assert(allowed.head.failed.isEmpty, allowed.head.failed.toString)
      assert(guarded.table("gold_e2e.cartesian_bomb").count() == 25L)
    }
  }

  test("dedup_store gold model folds dated batches; replay no-ops; backfill fails loudly") {
    val dsYaml =
      """models:
        |  - model_id: corpus_dedup_store
        |    sql_query: >
        |      SELECT doc_id, text FROM bronze_e2e.docs_batch
        |    target_table: gold_e2e.corpus_store
        |    refresh_type: dedup_store
        |    dedup_store:
        |      id_column: doc_id
        |      text_column: text
        |      jaccard_pct: 50
        |  - model_id: deduped_corpus_ids
        |    sql_query: >
        |      SELECT doc_id, _epoch AS folded_epoch
        |      FROM gold_e2e.corpus_store WHERE band_idx = 0
        |    target_table: gold_e2e.deduped_ids
        |    refresh_type: full
        |""".stripMargin
    Seq("gold_e2e.corpus_store", "gold_e2e.deduped_ids",
      "bronze_e2e.docs_batch").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven"
    val textC = "eight nine ten eleven twelve thirteen fourteen"
    def batch(rows: (Long, String)*): Unit = rows.toDF("doc_id", "text")
      .write.mode("overwrite").saveAsTable("bronze_e2e.docs_batch")
    // crawl 1: 101/103 exact dups (101 keeps), 105 unique
    batch(101L -> textA, 103L -> textA, 105L -> textB)
    val r1 = new Pipeline(spark, "2024-06-01", new FixedClock(1801000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(dsYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    val ep1 = java.time.LocalDate.parse("2024-06-01").toEpochDay
    val ep2 = java.time.LocalDate.parse("2024-06-02").toEpochDay
    def stored = graft.io.DedupStore.storedDocIds(spark, "gold_e2e.corpus_store")
      .as[(Long, Long)].collect().toSet
    assert(stored == Set(101L -> ep1, 105L -> ep1), stored.toString)
    // crawl 2: 202 re-delivers stored content (dropped by the store
    // probe), 204/206 a fresh within-batch cluster (204 keeps)
    batch(202L -> textA, 204L -> textC, 206L -> textC)
    val p2 = new Pipeline(spark, "2024-06-02", new FixedClock(1801100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(dsYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2), stored.toString)
    // the accumulated corpus is visible to the DOWNSTREAM model through
    // the same declarative plane (band 0 = one row per stored doc)
    assert(spark.table("gold_e2e.deduped_ids")
      .select("doc_id", "folded_epoch").as[(Long, Long)].collect().toSet ==
      Set(101L -> ep1, 105L -> ep1, 204L -> ep2))
    // records_processed rides the BATCH (3 docs in), not the store
    assert(spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.corpus_store")
      .select("records_processed").as[Long].head() == 3L)
    // same-date retry: the run-date epoch fence no-ops the append
    val p2retry = new Pipeline(spark, "2024-06-02", new FixedClock(1801200000000L))
    val r3 = p2retry.run(Map("gold" -> EtlConfig.fromYaml(dsYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2),
      "same-date retry must not re-append survivors")
    assert(spark.table(p2retry.meta.controlTable)
      .filter($"table_name" === "gold_e2e.corpus_store")
      .select("records_processed").as[Long].head() == 0L,
      "a skipped epoch reports 0 records processed")
    // backfill (older run date): per-item isolation records the ERROR,
    // the store and the watermark stay put
    batch(301L -> "totally fresh words never seen before anywhere")
    val rOld = new Pipeline(spark, "2024-05-31", new FixedClock(1801300000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(dsYaml)))
    val failedOld = rOld.head.failed
    assert(failedOld.map(_._1).contains("corpus_dedup_store"), rOld.toString)
    assert(failedOld.find(_._1 == "corpus_dedup_store").get._2.contains("OLDER"),
      failedOld.toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2),
      "a refused backfill must leave the store untouched")
  }

  test("declarative maintenance plane: compact + zone_maps + vacuum_staging with isolation") {
    val maintYaml =
      """maintenance:
        |  - task_id: compact_facts
        |    task_type: compact
        |    table: bronze_e2e.maint_facts
        |    target_rows_per_file: 1000
        |    cluster_by: [k]
        |  - task_id: broken_compact
        |    task_type: compact
        |    table: bronze_e2e.does_not_exist
        |  - task_id: zm_facts
        |    task_type: zone_maps
        |    table: bronze_e2e.maint_facts
        |    columns: [k]
        |  - task_id: sweep
        |    task_type: vacuum_staging
        |""".stripMargin
    Seq("bronze_e2e.maint_facts", "bronze_e2e.maint_facts__zonemap")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    // 8 slivers of 250 rows; compaction at 1000/file folds them to 2
    spark.range(2000).toDF("k").repartition(8)
      .write.saveAsTable("bronze_e2e.maint_facts")
    assert(spark.table("bronze_e2e.maint_facts").inputFiles.length == 8)
    // plant a stale staging root for the vacuum to sweep
    val stale = new java.io.File(
      graft.io.Commit.dir(spark, "leftover").toUri.getPath)
    stale.mkdirs()
    val p = new Pipeline(spark, "2024-09-01", new FixedClock(1804000000000L))
    val reports = p.run(Map("maintenance" -> EtlConfig.fromYaml(maintYaml)),
      Seq("maintenance"))
    // per-item isolation: the bogus table fails alone, data siblings
    // run — but vacuum_staging REFUSES after any failed sibling (the
    // staging directories may hold the failed task's only complete
    // rewrite copy), recorded as its own failure, never a silent skip
    assert(reports.head.failed.map(_._1) == Seq("broken_compact", "sweep"),
      reports.toString)
    assert(reports.head.failed.find(_._1 == "sweep").get._2
      .contains("earlier maintenance task"), reports.toString)
    assert(reports.head.succeeded.toSet == Set("compact_facts", "zm_facts"))
    assert(stale.exists(),
      "a gated vacuum must leave the staging roots in place")
    // a clean follow-up run (the failure resolved — here: removed)
    // sweeps normally
    val sweepOnly =
      """maintenance:
        |  - task_id: sweep
        |    task_type: vacuum_staging
        |""".stripMargin
    val p2 = new Pipeline(spark, "2024-09-02", new FixedClock(1804100000000L))
    val r2 = p2.run(Map("maintenance" -> EtlConfig.fromYaml(sweepOnly)),
      Seq("maintenance"))
    assert(r2.head.failed.isEmpty && r2.head.succeeded == Seq("sweep"),
      r2.toString)
    val after = spark.table("bronze_e2e.maint_facts")
    // ~2 files at 1000 rows/file; range-boundary sampling can split
    // 2000 rows unevenly and roll one extra file at the cap
    assert(after.inputFiles.length <= 3 && after.count() == 2000L,
      s"compaction must fold 8 slivers down, lossless: " +
        s"${after.inputFiles.length}")
    val zm = spark.table("bronze_e2e.maint_facts__zonemap")
    assert(zm.count() == after.inputFiles.length && zm.columns.toSet ==
      Set("file", "n_rows", "min_k", "max_k"))
    // range clustering held: consecutive files' k-ranges are disjoint
    val ranges = zm.select("min_k", "max_k").as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(ranges.sliding(2).forall(w => w(0)._2 < w(1)._1),
      s"cluster_by must produce disjoint file ranges: ${ranges.toSeq}")
    assert(!stale.exists(), "vacuum_staging must sweep stale roots")
    // control rows: records_processed carries each task's cardinality
    val ctl = spark.table(p.meta.controlTable)
      .filter($"layer".startsWith("maintenance.") &&
        $"last_run_date" === "2024-09-01")
      .select("table_name", "records_processed")
      .as[(String, Long)].collect().toMap
    assert(ctl("bronze_e2e.maint_facts") == after.inputFiles.length.toLong,
      ctl.toString)
    // the gated sweep left no 09-01 control row; the clean 09-02 run did
    val ctl2 = spark.table(p.meta.controlTable)
      .filter($"layer".startsWith("maintenance.") &&
        $"last_run_date" === "2024-09-02")
      .select("table_name", "records_processed")
      .as[(String, Long)].collect().toMap
    assert(!ctl.contains("(warehouse staging)") &&
      ctl2("(warehouse staging)") >= 1L, (ctl, ctl2).toString)
  }

  test("maintenance config: unknown type, missing table/columns, stray knobs refuse") {
    def bad(y: String): IllegalArgumentException =
      intercept[IllegalArgumentException](EtlConfig.fromYaml(y))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: defrag
                 |""".stripMargin).getMessage.contains("unknown task_type"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |""".stripMargin).getMessage.contains("needs a table"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: zone_maps
                 |    table: a.b
                 |""".stripMargin).getMessage.contains("needs columns"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: vacuum_staging
                 |    table: a.b
                 |""".stripMargin).getMessage.contains("sweeps the whole"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: zone_maps
                 |    table: a.b
                 |    columns: [k]
                 |    cluster_by: [k]
                 |""".stripMargin).getMessage.contains("only used by compact"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |    table: a.b
                 |    columns: [k]
                 |""".stripMargin).getMessage.contains("only used by zone_maps"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: prune_store
                 |    table: a.b
                 |""".stripMargin).getMessage.contains("needs keep_epochs"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: prune_store
                 |    table: a.b
                 |    keep_epochs: -3
                 |""".stripMargin).getMessage.contains("needs keep_epochs"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |    table: a.b
                 |    keep_epochs: 7
                 |""".stripMargin).getMessage.contains("only used by prune_store"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: prune_store
                 |    keep_epochs: 7
                 |""".stripMargin).getMessage.contains("needs a table"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: retrain_store
                 |""".stripMargin).getMessage.contains("needs a table"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: retrain_store
                 |    table: a.b
                 |    train_iters: 0
                 |""".stripMargin).getMessage.contains("train_iters"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: retrain_store
                 |    table: a.b
                 |    num_centroids: -4
                 |""".stripMargin).getMessage.contains("num_centroids"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |    table: a.b
                 |    train_iters: 3
                 |""".stripMargin).getMessage.contains("only used by retrain_store"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: zone_maps
                 |    table: a.b
                 |    columns: [k]
                 |    num_centroids: 8
                 |""".stripMargin).getMessage.contains("only used by retrain_store"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: store_stats
                 |""".stripMargin).getMessage.contains("needs a table"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |    table: a.b
                 |    spread_threshold_permille: 1500
                 |""".stripMargin).getMessage.contains("only used by retrain_store"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: retrain_store
                 |    table: a.b
                 |    spread_threshold_permille: -5
                 |""".stripMargin).getMessage.contains("spread_threshold_permille"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: compact
                 |    table: a.b
                 |    max_cell_size: 40
                 |""".stripMargin).getMessage.contains("only used by store_stats"))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: store_stats
                 |    table: a.b
                 |    max_cell_size: 0
                 |""".stripMargin).getMessage.contains("max_cell_size"))
    // the banded stores' spelling is an accepted alias — but never both
    val aliased = EtlConfig.fromYaml(
      """maintenance:
        |  - task_id: t
        |    task_type: store_stats
        |    table: a.b
        |    max_bucket_size: 8
        |""".stripMargin)
    assert(aliased.maintenance.head.maxCellSize.contains(8L))
    assert(bad("""maintenance:
                 |  - task_id: t
                 |    task_type: store_stats
                 |    table: a.b
                 |    max_cell_size: 8
                 |    max_bucket_size: 8
                 |""".stripMargin).getMessage.contains("aliases"))
  }

  test("declarative prune_store task prunes the store through the metadata plane") {
    val pruneYaml =
      """maintenance:
        |  - task_id: prune_docs_store
        |    task_type: prune_store
        |    table: gold_e2e.prune_decl_store
        |    keep_epochs: 9000
        |""".stripMargin
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    val t = "gold_e2e.prune_decl_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // two folds dated as run-date epochs ~16 years apart: a 9000-day
    // window anchored at the later fold prunes the first
    graft.io.DedupStore.maintain(spark, t,
      Seq((1L, "old content from the first crawl")).toDF("doc_id", "text"),
      "doc_id", "text", epochId = 10000L)
    graft.io.DedupStore.maintain(spark, t,
      Seq((2L, "fresh content from the latest crawl")).toDF("doc_id", "text"),
      "doc_id", "text", epochId = 20000L)
    val p = new Pipeline(spark, "2024-09-02", new FixedClock(1804000000000L))
    val reports = p.run(Map("maintenance" -> EtlConfig.fromYaml(pruneYaml)),
      Seq("maintenance"))
    assert(reports.head.failed.isEmpty &&
      reports.head.succeeded == Seq("prune_docs_store"), reports.toString)
    assert(graft.io.DedupStore.storedDocIds(spark, t)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
    // records_processed = rows deleted (doc 1's band rows)
    val ctl = spark.table(p.meta.controlTable)
      .filter($"layer" === "maintenance.prune_docs_store" &&
        $"last_run_date" === "2024-09-02")
      .select("records_processed").as[Long].collect()
    assert(ctl.toSeq == Seq(4L), ctl.toSeq.toString)
  }

  test("declarative retrain_store task re-balances the vector store through the plane") {
    val retrainYaml =
      """maintenance:
        |  - task_id: retrain_vecs
        |    task_type: retrain_store
        |    table: gold_e2e.retrain_decl_store
        |    train_iters: 2
        |""".stripMargin
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    val t = "gold_e2e.retrain_decl_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    // founding fold sees only x-axis content; the later fold's y/z
    // content all ties into one cell — the drift retrain corrects
    val vX = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vX2 = Array(0.98f, 0.2f, 0.0f, 0.0f)
    val vY = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vZ = Array(0.0f, 0.0f, 0.0f, 1.0f)
    graft.io.VectorDedupStore.maintain(spark, t,
      Seq((1L, vX), (2L, vX2)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    graft.io.VectorDedupStore.maintain(spark, t,
      Seq((10L, vY), (11L, vZ)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    val p = new Pipeline(spark, "2024-09-03", new FixedClock(1804000000000L))
    val reports = p.run(Map("maintenance" -> EtlConfig.fromYaml(retrainYaml)),
      Seq("maintenance"))
    assert(reports.head.failed.isEmpty &&
      reports.head.succeeded == Seq("retrain_vecs"), reports.toString)
    // drift corrected: the four stored vectors split 2/2 across cells
    val occ = spark.table(t).groupBy("cell").count()
      .select("count").as[Long].collect().toSeq.sorted
    assert(occ == Seq(2L, 2L), occ.toString)
    // records_processed = rows whose home cell moved
    val ctl = spark.table(p.meta.controlTable)
      .filter($"layer" === "maintenance.retrain_vecs" &&
        $"last_run_date" === "2024-09-03")
      .select("records_processed").as[Long].collect()
    assert(ctl.length == 1 && ctl.head > 0L, ctl.toSeq.toString)
  }

  test("store_stats + drift-gated retrain: the plane reads the spread and gates the k-means") {
    val yaml =
      """maintenance:
        |  - task_id: vec_stats
        |    task_type: store_stats
        |    table: gold_e2e.stats_decl_store
        |    max_cell_size: 3
        |  - task_id: retrain_gated
        |    task_type: retrain_store
        |    table: gold_e2e.stats_decl_store
        |    spread_threshold_permille: 1500
        |""".stripMargin
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    val t = "gold_e2e.stats_decl_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    // drifted: A-only founding model; the orthogonal later fold ties
    // into one cell -> occupancy {4,1}, spread 1000·4·2/5 = 1600
    val vX = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vX2 = Array(0.98f, 0.2f, 0.0f, 0.0f)
    val vY = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vY2 = Array(0.0f, 0.0f, 0.995f, 0.1f)
    val vZ = Array(0.0f, 0.0f, 0.0f, 1.0f)
    graft.io.VectorDedupStore.maintain(spark, t,
      Seq((1L, vX), (2L, vX2)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    graft.io.VectorDedupStore.maintain(spark, t,
      Seq((10L, vY), (11L, vY2), (12L, vZ)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    def ctl(p: Pipeline, date: String): Map[String, Long] =
      spark.table(p.meta.controlTable)
        .filter($"layer".startsWith("maintenance.") &&
          $"last_run_date" === date)
        .select("layer", "records_processed")
        .as[(String, Long)].collect().toMap
    // run 1: stats reads the drift (spread 1600 >= threshold 1500),
    // the retrain fires and re-balances
    val p1 = new Pipeline(spark, "2024-09-04", new FixedClock(1804200000000L))
    val r1 = p1.run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
      Seq("maintenance"))
    assert(r1.head.failed.isEmpty, r1.toString)
    val c1 = ctl(p1, "2024-09-04")
    assert(c1("maintenance.vec_stats") == 1600L, c1.toString)
    assert(c1("maintenance.retrain_gated") > 0L, c1.toString)
    // run 2: the spread COLLAPSED (occupancy {2,3} -> 1200 permille),
    // so the nightly retrain is now a gated no-op — no k-means paid
    val p2 = new Pipeline(spark, "2024-09-05", new FixedClock(1804300000000L))
    val r2 = p2.run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
      Seq("maintenance"))
    assert(r2.head.failed.isEmpty, r2.toString)
    val c2 = ctl(p2, "2024-09-05")
    assert(c2("maintenance.vec_stats") == 1200L, c2.toString)
    assert(c2("maintenance.retrain_gated") == 0L, c2.toString)
  }

  test("store_stats dispatches on the store family: a banded text store profiles per bucket") {
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    val t = "gold_e2e.stats_band_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // one hot band value (6 rows), 4 cold buckets: spread 3000, and
    // with max_bucket_size 3 (the banded alias) one hot bucket
    val rows =
      (1L to 6L).map(i => (i, 0, "hotkey", Seq(i), 1L)) ++
        (7L to 10L).map(i => (i, 0, s"cold$i", Seq(i), 1L))
    rows.toDF("doc_id", "band_idx", "band_key", "sh", "_epoch")
      .write.saveAsTable(t)
    val yaml =
      s"""maintenance:
         |  - task_id: band_stats
         |    task_type: store_stats
         |    table: $t
         |    max_bucket_size: 3
         |""".stripMargin
    val p = new Pipeline(spark, "2024-09-06", new FixedClock(1804350000000L))
    val r = p.run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
      Seq("maintenance"))
    assert(r.head.failed.isEmpty, r.toString)
    val spread = spark.table(p.meta.controlTable)
      .filter($"layer" === "maintenance.band_stats")
      .select("records_processed").as[Long].head()
    assert(spread == 3000L, s"spread = $spread")
  }

  test("store_stats spread_trend_pct: stable spreads pass, a profile jump fails the task") {
    spark.sql("CREATE DATABASE IF NOT EXISTS gold_e2e")
    val t = "gold_e2e.stats_trend_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    def plant(hot: Int, cold: Int): Unit = {
      val rows =
        (1L to hot.toLong).map(i => (i, 0, "hotkey", Seq(i), 1L)) ++
          (1L to cold.toLong).map(i => (i + 1000L, 0, s"cold$i", Seq(i), 1L))
      rows.toDF("doc_id", "band_idx", "band_key", "sh", "_epoch")
        .write.mode("overwrite").saveAsTable(t)
    }
    plant(hot = 6, cold = 4) // 5 buckets, 10 rows, max 6: spread 3000
    val yaml =
      s"""maintenance:
         |  - task_id: trend_stats
         |    task_type: store_stats
         |    table: $t
         |    spread_trend_pct: 50
         |""".stripMargin
    // three runs build the baseline (first runs pass on insufficient
    // history, exactly like volume_guard_pct's new-model rule), a
    // fourth stable run passes against the 3000 median
    for (d <- Seq("2024-09-10", "2024-09-11", "2024-09-12", "2024-09-13")) {
      val r = new Pipeline(spark, d, new FixedClock(1804350000000L))
        .run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
          Seq("maintenance"))
      assert(r.head.failed.isEmpty, s"$d: ${r.toString}")
    }
    // the store's occupancy profile MOVES (a boilerplate band forming:
    // 24 one-off buckets join, hot mass unchanged -> spread 5000, a
    // 67% jump): the task must fail LOUDLY, not log-and-trend
    plant(hot = 6, cold = 24) // 25 buckets, 30 rows, max 6: spread 5000
    val p = new Pipeline(spark, "2024-09-14", new FixedClock(1804350000000L))
    val r = p.run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
      Seq("maintenance"))
    assert(r.head.failed.exists(_._1 == "trend_stats"), r.toString)
    val err = spark.table(p.meta.auditTable)
      .filter($"source_id" === "trend_stats" && $"status" === "ERROR")
      .select("error_message").as[String].collect()
    assert(err.exists(m => m.contains("trend anomaly") &&
      m.contains("5000") && m.contains("3000")), err.mkString("; "))
    // the anomalous run's ERROR row never enters the baseline: a
    // RE-run against the same history still judges 5000 vs 3000
    val r2 = new Pipeline(spark, "2024-09-15", new FixedClock(1804350000000L))
      .run(Map("maintenance" -> EtlConfig.fromYaml(yaml)),
        Seq("maintenance"))
    assert(r2.head.failed.exists(_._1 == "trend_stats"), r2.toString)
    // parse refusals: wrong task type, negative pct
    def bad2(y: String) =
      intercept[IllegalArgumentException](EtlConfig.fromYaml(y))
    assert(bad2("""maintenance:
                  |  - task_id: t
                  |    task_type: compact
                  |    table: a.b
                  |    spread_trend_pct: 50
                  |""".stripMargin).getMessage.contains(
      "only used by store_stats"))
    assert(bad2("""maintenance:
                  |  - task_id: t
                  |    task_type: store_stats
                  |    table: a.b
                  |    spread_trend_pct: -1
                  |""".stripMargin).getMessage.contains("spread_trend_pct"))
  }

  test("vector_dedup_store gold model folds dated batches; replay no-ops; backfill fails") {
    val vdsYaml =
      """models:
        |  - model_id: corpus_vec_store
        |    sql_query: >
        |      SELECT vec_id, embedding FROM bronze_e2e.vecs_batch
        |    target_table: gold_e2e.vec_store
        |    refresh_type: vector_dedup_store
        |    vector_dedup_store:
        |      id_column: vec_id
        |      vector_column: embedding
        |      min_score: 12000
        |      num_centroids: 2
        |""".stripMargin
    Seq("gold_e2e.vec_store", "gold_e2e.vec_store_model",
      "bronze_e2e.vecs_batch").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val vC = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vC2 = Array(0.0f, 0.0f, 0.995f, 0.1f)
    def batch(rows: (Long, Array[Float])*): Unit =
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").saveAsTable("bronze_e2e.vecs_batch")
    val ep1 = java.time.LocalDate.parse("2024-08-01").toEpochDay
    val ep2 = java.time.LocalDate.parse("2024-08-02").toEpochDay
    def stored = graft.io.VectorDedupStore
      .storedVecIds(spark, "gold_e2e.vec_store")
      .as[(Long, Long)].collect().toSet
    // crawl 1: 101/103 identical (101 keeps), 105 orthogonal
    batch(101L -> vA, 103L -> vA, 105L -> vB)
    val r1 = new Pipeline(spark, "2024-08-01", new FixedClock(1803000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(vdsYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1), stored.toString)
    // crawl 2: 202 re-delivers stored content (dropped by the probe),
    // 204/206 a fresh same-cell near-dup cluster (204 keeps)
    batch(202L -> vA, 204L -> vC, 206L -> vC2)
    val p2 = new Pipeline(spark, "2024-08-02", new FixedClock(1803100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(vdsYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2), stored.toString)
    assert(spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.vec_store")
      .select("records_processed").as[Long].head() == 3L,
      "records_processed rides the batch")
    // same-date retry no-ops through the epoch fence
    val p2r = new Pipeline(spark, "2024-08-02", new FixedClock(1803200000000L))
    val r3 = p2r.run(Map("gold" -> EtlConfig.fromYaml(vdsYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2))
    assert(spark.table(p2r.meta.controlTable)
      .filter($"table_name" === "gold_e2e.vec_store")
      .select("records_processed").as[Long].head() == 0L)
    // backfill fails loudly, store untouched
    val rOld = new Pipeline(spark, "2024-07-31", new FixedClock(1803300000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(vdsYaml)))
    val failedOld = rOld.head.failed
    assert(failedOld.map(_._1) == Seq("corpus_vec_store") &&
      failedOld.head._2.contains("OLDER"), rOld.toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2))
  }

  test("vector_dedup_store config: missing block/min_score, stray block, primary_keys refuse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_vds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("needs a") &&
      e1.getMessage.contains("vector_dedup_store block"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: no_score
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("needs min_score"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray_vds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |      min_score: 100
          |""".stripMargin)
    }
    assert(e3.getMessage.contains("only used by"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: keys_vds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |    primary_keys: [vec_id]
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |      min_score: 100
          |""".stripMargin)
    }
    assert(e4.getMessage.contains(
      "primary_keys is not used by refresh_type vector_dedup_store"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: bad_probe
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |      min_score: 100
          |      num_centroids: 4
          |      nprobe: 9
          |""".stripMargin)
    }
    assert(e5.getMessage.contains("nprobe must be in"), e5.getMessage)
    val e6 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: bad_cap
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |      min_score: 100
          |      max_cell_size: 0
          |""".stripMargin)
    }
    assert(e6.getMessage.contains("max_cell_size must be positive"),
      e6.getMessage)
    val e7 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: bad_keeper
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: vector_dedup_store
          |    vector_dedup_store:
          |      id_column: vec_id
          |      vector_column: embedding
          |      min_score: 100
          |      keeper: largest_id
          |""".stripMargin)
    }
    assert(e7.getMessage.contains("keeper must be one of"), e7.getMessage)
  }

  test("media_dedup_store gold model folds dated batches; replay no-ops; backfill fails") {
    val mdsYaml =
      """models:
        |  - model_id: corpus_media_store
        |    sql_query: >
        |      SELECT media_id, dhash FROM bronze_e2e.media_batch
        |    target_table: gold_e2e.media_store
        |    refresh_type: media_dedup_store
        |    media_dedup_store:
        |      id_column: media_id
        |      hash_column: dhash
        |      max_hamming: 8
        |""".stripMargin
    Seq("gold_e2e.media_store", "bronze_e2e.media_batch")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    val hA = 0x0123456789ABCDEFL
    val hB = ~hA
    val hC = 0x00FF00FF00FF00FFL
    def batch(rows: (Long, Long)*): Unit =
      rows.toDF("media_id", "dhash")
        .write.mode("overwrite").saveAsTable("bronze_e2e.media_batch")
    val ep1 = java.time.LocalDate.parse("2024-08-01").toEpochDay
    val ep2 = java.time.LocalDate.parse("2024-08-02").toEpochDay
    def stored = graft.io.MediaDedupStore
      .storedMediaIds(spark, "gold_e2e.media_store")
      .select("media_id", "_epoch").as[(Long, Long)].collect().toSet
    // crawl 1: 101/103 near-dup re-encodes (101 keeps), 105 unrelated
    batch(101L -> hA, 103L -> (hA ^ 0x3L), 105L -> hB)
    val r1 = new Pipeline(spark, "2024-08-01", new FixedClock(1803000000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(mdsYaml)))
    assert(r1.forall(_.failed.isEmpty), r1.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1), stored.toString)
    // crawl 2: 202 re-delivers stored content (probe drops it), 204 fresh
    batch(202L -> (hA ^ 0x30L), 204L -> hC)
    val p2 = new Pipeline(spark, "2024-08-02", new FixedClock(1803100000000L))
    val r2 = p2.run(Map("gold" -> EtlConfig.fromYaml(mdsYaml)))
    assert(r2.forall(_.failed.isEmpty), r2.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2), stored.toString)
    assert(spark.table(p2.meta.controlTable)
      .filter($"table_name" === "gold_e2e.media_store")
      .select("records_processed").as[Long].head() == 2L,
      "records_processed rides the batch")
    // same-date retry no-ops through the epoch fence
    val p2r = new Pipeline(spark, "2024-08-02", new FixedClock(1803200000000L))
    val r3 = p2r.run(Map("gold" -> EtlConfig.fromYaml(mdsYaml)))
    assert(r3.forall(_.failed.isEmpty), r3.flatMap(_.failed).toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2))
    assert(spark.table(p2r.meta.controlTable)
      .filter($"table_name" === "gold_e2e.media_store")
      .select("records_processed").as[Long].head() == 0L)
    // backfill fails loudly, store untouched
    val rOld = new Pipeline(spark, "2024-07-31", new FixedClock(1803300000000L))
      .run(Map("gold" -> EtlConfig.fromYaml(mdsYaml)))
    val failedOld = rOld.head.failed
    assert(failedOld.map(_._1) == Seq("corpus_media_store") &&
      failedOld.head._2.contains("OLDER"), rOld.toString)
    assert(stored == Set(101L -> ep1, 105L -> ep1, 204L -> ep2))
  }

  test("media_dedup_store config: missing block, stray block, bad knobs refuse at parse") {
    def bad(y: String): IllegalArgumentException =
      intercept[IllegalArgumentException](EtlConfig.fromYaml(y))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: media_dedup_store
                 |""".stripMargin).getMessage.contains("media_dedup_store block"))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: full
                 |    media_dedup_store: {id_column: a, hash_column: b}
                 |""".stripMargin).getMessage.contains("only used by"))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: media_dedup_store
                 |    primary_keys: [media_id]
                 |    media_dedup_store: {id_column: a, hash_column: b}
                 |""".stripMargin).getMessage.contains(
      "primary_keys is not used by refresh_type media_dedup_store"))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: media_dedup_store
                 |    media_dedup_store: {id_column: a, hash_column: b, bands: 5}
                 |""".stripMargin).getMessage.contains("bands must divide 64"))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: media_dedup_store
                 |    media_dedup_store: {id_column: a, hash_column: b, max_hamming: 64}
                 |""".stripMargin).getMessage.contains("max_hamming"))
    assert(bad("""models:
                 |  - model_id: m
                 |    sql_query: SELECT 1
                 |    target_table: g.t
                 |    refresh_type: media_dedup_store
                 |    media_dedup_store: {id_column: a, hash_column: ''}
                 |""".stripMargin).getMessage.contains("hash_column"))
  }

  test("declarative READ verbs: asof snapshots an scd2 dimension; store_probe flags without folding") {
    spark.sql("CREATE DATABASE IF NOT EXISTS silver_e2e")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_e2e")
    // an scd2 dimension with history: k1 changes value on 2024-03-01
    val dim = "silver_e2e.read_dim"
    spark.sql(s"DROP TABLE IF EXISTS $dim")
    def obs(rows: (String, Long, String)*) =
      rows.toDF("k", "v", "eff").withColumn("eff", $"eff".cast("date"))
    graft.io.Scd2.merge(spark, dim, obs(("k1", 1L, "2024-01-01"),
      ("k2", 5L, "2024-01-01")), Seq("k"), Seq("v"), "eff")
    graft.io.Scd2.merge(spark, dim, obs(("k1", 2L, "2024-03-01")),
      Seq("k"), Seq("v"), "eff")
    // a standing text store with known content
    val store = "silver_e2e.read_store"
    spark.sql(s"DROP TABLE IF EXISTS $store")
    graft.io.DedupStore.maintain(spark, store,
      Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta")
        .toDF("doc_id", "text"),
      "doc_id", "text", epochId = 1L)
    // the probe batch: 10 re-delivers stored content, 11 is fresh
    spark.sql("DROP TABLE IF EXISTS bronze_e2e.read_batch")
    Seq(10L -> "alpha beta gamma delta epsilon zeta eta theta",
      11L -> "an entirely novel document never stored anywhere")
      .toDF("doc_id", "text")
      .write.saveAsTable("bronze_e2e.read_batch")
    val yaml =
      s"""transformations:
         |  - transform_id: dim_snapshot
         |    transformation_type: asof
         |    source_table: $dim
         |    target_table: silver_e2e.read_dim_asof
         |    asof:
         |      as_of: "2024-02-01"
         |  - transform_id: probe_batch
         |    transformation_type: store_probe
         |    source_table: bronze_e2e.read_batch
         |    target_table: silver_e2e.read_batch_flagged
         |    store_probe:
         |      store_table: $store
         |      store_type: dedup_store
         |      id_column: doc_id
         |      content_column: text
         |""".stripMargin
    val p = new Pipeline(spark, "2024-09-10", new FixedClock(1804500000000L))
    val r = p.run(Map("silver" -> EtlConfig.fromYaml(yaml)), Seq("silver"))
    assert(r.head.failed.isEmpty, r.toString)
    // asof: the 2024-02-01 snapshot sees k1's FIRST version
    val snap = spark.table("silver_e2e.read_dim_asof")
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(snap == Map("k1" -> 1L, "k2" -> 5L), snap.toString)
    // store_probe: flags ride the rows, every source column intact,
    // and the store did NOT advance (a read, not a fold)
    val flagged = spark.table("silver_e2e.read_batch_flagged")
      .select("doc_id", "store_hit").as[(Long, Boolean)].collect().toMap
    assert(flagged == Map(10L -> true, 11L -> false), flagged.toString)
    assert(spark.table("silver_e2e.read_batch_flagged").columns.toSet ==
      Set("doc_id", "text", "store_hit"))
    assert(graft.io.DedupStore.storedDocIds(spark, store).count() == 1L,
      "a probe must never append to the store")
  }

  test("read-verb configs: missing blocks, unknown store_type, stray knobs refuse at parse") {
    def bad(y: String): IllegalArgumentException =
      intercept[IllegalArgumentException](EtlConfig.fromYaml(y))
    def tr(body: String): String =
      s"""transformations:
         |  - transform_id: t
         |    source_table: a.b
         |    target_table: a.c
         |$body""".stripMargin
    assert(bad(tr("    transformation_type: asof"))
      .getMessage.contains("needs a asof"))
    assert(bad(tr("""    transformation_type: asof
                    |    asof: {as_of: ''}""".stripMargin))
      .getMessage.contains("as_of"))
    assert(bad(tr("""    transformation_type: store_probe
                    |    store_probe:
                    |      store_table: g.s
                    |      store_type: bloom_store
                    |      id_column: a
                    |      content_column: b""".stripMargin))
      .getMessage.contains("unknown store_type"))
    assert(bad(tr("""    transformation_type: store_probe
                    |    store_probe:
                    |      store_table: g.s
                    |      store_type: vector_dedup_store
                    |      id_column: a
                    |      content_column: b""".stripMargin))
      .getMessage.contains("needs min_score"))
    assert(bad(tr("""    transformation_type: store_probe
                    |    store_probe:
                    |      store_table: g.s
                    |      store_type: dedup_store
                    |      id_column: a
                    |      content_column: b
                    |      max_hamming: 8""".stripMargin))
      .getMessage.contains("only used by store_type media_dedup_store"))
    assert(bad(tr("""    transformation_type: sql
                    |    sql_query: SELECT 1
                    |    asof: {as_of: '2024-01-01'}""".stripMargin))
      .getMessage.contains("not used by"))
    // max_cell_size is the VECTOR store's own cap spelling: accepted as
    // an alias there (unknown YAML keys are otherwise silently ignored,
    // which would leave the probe uncapped), refused for banded stores,
    // and never alongside max_bucket_size
    val aliased = EtlConfig.fromYaml(tr(
      """    transformation_type: store_probe
        |    store_probe:
        |      store_table: g.s
        |      store_type: vector_dedup_store
        |      id_column: a
        |      content_column: b
        |      min_score: 100
        |      max_cell_size: 7""".stripMargin))
    assert(aliased.transformations.head.storeProbe
      .exists(_.maxBucketSize.contains(7L)))
    assert(bad(tr("""    transformation_type: store_probe
                    |    store_probe:
                    |      store_table: g.s
                    |      store_type: dedup_store
                    |      id_column: a
                    |      content_column: b
                    |      max_cell_size: 7""".stripMargin))
      .getMessage.contains("max_bucket_size"))
    assert(bad(tr("""    transformation_type: store_probe
                    |    store_probe:
                    |      store_table: g.s
                    |      store_type: vector_dedup_store
                    |      id_column: a
                    |      content_column: b
                    |      min_score: 100
                    |      max_bucket_size: 7
                    |      max_cell_size: 7""".stripMargin))
      .getMessage.contains("aliases"))
  }

  test("dedup_store config: missing block, stray block, and primary_keys refuse at parse") {
    val e1 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: broken_ds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: dedup_store
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("needs a") &&
      e1.getMessage.contains("dedup_store block"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: stray_ds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: full
          |    dedup_store:
          |      id_column: doc_id
          |      text_column: text
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("only used by refresh_type"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: keys_ds
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: dedup_store
          |    primary_keys: [doc_id]
          |    dedup_store:
          |      id_column: doc_id
          |      text_column: text
          |""".stripMargin)
    }
    assert(e3.getMessage.contains(
      "primary_keys is not used by refresh_type dedup_store"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(
        """models:
          |  - model_id: bad_bands
          |    sql_query: SELECT 1
          |    target_table: g.t
          |    refresh_type: dedup_store
          |    dedup_store:
          |      id_column: doc_id
          |      text_column: text
          |      num_hashes: 16
          |      bands: 5
          |""".stripMargin)
    }
    assert(e4.getMessage.contains("must divide num_hashes"), e4.getMessage)
    // keeper knob: unknown policy, max_quality without its column, and
    // a stray quality_column under min_id all refuse at parse (both
    // banded store families share the surface)
    def badStore(storeKey: String, cols: String, body: String): String =
      s"""models:
         |  - model_id: k_$storeKey
         |    sql_query: SELECT 1
         |    target_table: g.t
         |    refresh_type: $storeKey
         |    $storeKey:
         |$cols
         |$body
         |""".stripMargin
    for ((key, cols) <- Seq(
        "dedup_store" -> "      id_column: doc_id\n      text_column: text",
        "media_dedup_store" ->
          "      id_column: media_id\n      hash_column: dhash")) {
      assert(intercept[IllegalArgumentException] {
        EtlConfig.fromYaml(badStore(key, cols, "      keeper: best_effort"))
      }.getMessage.contains("keeper must be one of"))
      assert(intercept[IllegalArgumentException] {
        EtlConfig.fromYaml(badStore(key, cols, "      keeper: max_quality"))
      }.getMessage.contains("needs quality_column"))
      assert(intercept[IllegalArgumentException] {
        EtlConfig.fromYaml(badStore(key, cols, "      quality_column: q"))
      }.getMessage.contains("only used by keeper max_quality"))
      // the valid spelling parses
      val ok = EtlConfig.fromYaml(badStore(key, cols,
        "      keeper: max_quality\n      quality_column: q"))
      assert(ok.models.nonEmpty)
    }
  }
}

case class GoldRow(transaction_date: java.sql.Date, category: String,
    transaction_count: Long, total_sales: Double, avg_unit_price: Double,
    gold_insert_timestamp: java.sql.Timestamp)
