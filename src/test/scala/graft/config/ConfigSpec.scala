package graft.config

import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  val yaml =
    """default:
      |  spark_conf:
      |    spark.sql.shuffle.partitions: "200"
      |sources:
      |  - source_id: sales_tx
      |    source_type: file
      |    source_path: /data/${EXTRACT_DATE}/tx
      |    file_format: parquet
      |    target_table: bronze.sales_transactions
      |    extract_strategy: incremental
      |    incremental_column: transaction_date
      |    enabled: true
      |  - source_id: disabled_src
      |    source_type: api
      |    source_path: http://x/api
      |    enabled: false
      |transformations:
      |  - transform_id: sales_clean
      |    source_table: bronze.sales_transactions
      |    target_table: silver.sales_clean
      |    sql_query: SELECT * FROM bronze.sales_transactions WHERE d >= '${PROCESSING_DATE}'
      |    partition_by: [state]
      |    data_quality:
      |      - rule_name: amount_not_null
      |        rule_type: not_null
      |        column: amount
      |        action_on_failure: filter
      |      - rule_name: email_format
      |        rule_type: regex
      |        column: email
      |        pattern: "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"
      |        action_on_failure: tag
      |models:
      |  - model_id: daily_sales
      |    sql_query: SELECT 1
      |    target_table: gold.daily_sales
      |    refresh_type: incremental
      |    primary_keys: [sale_date, category]
      |""".stripMargin

  test("parses all three config shapes") {
    val cfg = EtlConfig.fromYaml(yaml)
    assert(cfg.sparkConf == Map("spark.sql.shuffle.partitions" -> "200"))
    assert(cfg.sources.map(_.sourceId) == Seq("sales_tx", "disabled_src"))
    assert(cfg.sources.head.incrementalColumn.contains("transaction_date"))
    assert(!cfg.sources(1).enabled)
    val t = cfg.transformations.head
    assert(t.partitionBy == Seq("state"))
    assert(t.dataQuality.map(_.ruleType) == Seq("not_null", "regex"))
    assert(t.dataQuality.head.columns == Seq("amount"))
    assert(cfg.models.head.primaryKeys == Seq("sale_date", "category"))
  }

  private def transformYaml(body: String): String =
    s"""transformations:
       |  - transform_id: t1
       |    source_table: b.docs
       |    target_table: s.out
       |$body""".stripMargin

  test("declarative verb configs validate at parse time, not inside the run loop") {
    // a verb step without its params block (or a params block on the
    // wrong step type) is an authoring bug — it must fail at parse
    // time, never run as a silent no-op
    for (verb <- Seq("chunk", "quota", "mix", "split", "decontaminate",
        "weighted_sample")) {
      val e = intercept[IllegalArgumentException] {
        EtlConfig.fromYaml(transformYaml(s"    transform_type: $verb\n"))
      }
      assert(e.getMessage.contains(s"needs a $verb: block"), e.getMessage)
    }
    // mismatched block: quota params on a chunk step
    val mism = intercept[IllegalArgumentException] {
      EtlConfig.fromYaml(transformYaml(
        """    transform_type: chunk
          |    chunk: {id_column: doc_id, text_column: text}
          |    quota: {id_column: doc_id, stratum_column: src, max_per_stratum: 5}
          |""".stripMargin))
    }
    assert(mism.getMessage.contains("quota is not used by transform_type chunk"),
      mism.getMessage)
    // value-range shapes: stride > chunk_tokens, zero quota, a no-op
    // mix, a missing probe table — each named at parse time
    intercept[IllegalArgumentException] { EtlConfig.fromYaml(transformYaml(
      """    transform_type: chunk
        |    chunk: {id_column: doc_id, text_column: text, chunk_tokens: 8, stride: 9}
        |""".stripMargin)) }
    intercept[IllegalArgumentException] { EtlConfig.fromYaml(transformYaml(
      """    transform_type: quota
        |    quota: {id_column: doc_id, stratum_column: src, max_per_stratum: 0}
        |""".stripMargin)) }
    intercept[IllegalArgumentException] { EtlConfig.fromYaml(transformYaml(
      """    transform_type: mix
        |    mix: {id_column: doc_id, source_column: src}
        |""".stripMargin)) }
    intercept[IllegalArgumentException] { EtlConfig.fromYaml(transformYaml(
      """    transform_type: decontaminate
        |    decontaminate: {id_column: doc_id, text_column: text}
        |""".stripMargin)) }
    intercept[IllegalArgumentException] { EtlConfig.fromYaml(transformYaml(
      """    transform_type: weighted_sample
        |    weighted_sample: {id_column: doc_id, stratum_column: lang, weight_column: n_chars, samples_per_stratum: 0}
        |""".stripMargin)) }
    // the happy path parses with defaults filled
    val ok = EtlConfig.fromYaml(transformYaml(
      """    transform_type: split
        |    split: {id_column: doc_id, text_column: text}
        |""".stripMargin)).transformations.head
    assert(ok.split.contains(graft.config.SplitStepConfig(
      "doc_id", "text", 64, 48, 90, 5)))
  }

  test("partition_by refuses on a model whose write would ignore it") {
    def model(body: String) = EtlConfig.fromYaml(
      s"""models:
         |  - model_id: m
         |    sql_query: SELECT 1 AS k, 2 AS x
         |    target_table: g.t
         |    partition_by: [k]
         |$body""".stripMargin).models.head
    for (body <- Seq(
        "    refresh_type: incremental\n    primary_keys: [k]\n",
        "    refresh_type: additive\n    primary_keys: [k]\n    sum_columns: [x]\n")) {
      val e = intercept[IllegalArgumentException](model(body))
      assert(e.getMessage.contains("partition_by is only used by refresh_type full"),
        e.getMessage)
    }
    // the overwrite arm honours it
    assert(model("    refresh_type: full\n").partitionBy == Seq("k"))
    assert(model("    refresh_type: incremental\n").partitionBy == Seq("k"))
  }

  test("every ownership rule: a key parses under an owner type and refuses under a non-owner") {
    // one item that parses, per (kind, type); a row's key line replaces
    // the base's own line for that key
    val bases: Map[(String, String), Seq[String]] = Map(
      ("transform", "sql") -> Seq("transform_type: sql", "sql_query: SELECT 1"),
      ("transform", "dedup") -> Seq("transform_type: dedup",
        "dedup: {id_column: doc_id, text_column: text}"),
      ("transform", "curation") -> Seq("transform_type: curation",
        "curation: {id_column: doc_id, text_column: text}"),
      ("transform", "chunk") -> Seq("transform_type: chunk",
        "chunk: {id_column: doc_id, text_column: text}"),
      ("transform", "quota") -> Seq("transform_type: quota",
        "quota: {id_column: doc_id, stratum_column: src, max_per_stratum: 5}"),
      ("transform", "mix") -> Seq("transform_type: mix",
        "mix: {id_column: doc_id, source_column: src, default_epochs: 2}"),
      ("transform", "split") -> Seq("transform_type: split",
        "split: {id_column: doc_id, text_column: text}"),
      ("transform", "decontaminate") -> Seq("transform_type: decontaminate",
        "decontaminate: {id_column: doc_id, text_column: text, probe_table: e.p}"),
      ("transform", "weighted_sample") -> Seq("transform_type: weighted_sample",
        "weighted_sample: {id_column: doc_id, stratum_column: lang, " +
          "weight_column: n, samples_per_stratum: 3}"),
      ("transform", "relevance_filter") -> Seq("transform_type: relevance_filter",
        "relevance_filter: {id_column: doc_id, text_column: text, terms: [spark], " +
          "min_score_micro: 0}"),
      ("transform", "asof") -> Seq("transform_type: asof",
        "asof: {as_of: '2024-01-01'}"),
      ("transform", "store_probe") -> Seq("transform_type: store_probe",
        "store_probe: {store_table: g.s, store_type: dedup_store, id_column: a, " +
          "content_column: b}"),
      ("transform", "view_estimate") -> Seq("transform_type: view_estimate",
        "view_estimate: {view_type: distinct_view, key_columns: [k]}"),
      ("model", "full") -> Seq("refresh_type: full", "sql_query: SELECT 1"),
      ("model", "incremental") -> Seq("refresh_type: incremental", "sql_query: SELECT 1"),
      ("model", "additive") -> Seq("refresh_type: additive", "sql_query: SELECT 1",
        "primary_keys: [k]", "sum_columns: [x]"),
      ("model", "extremes") -> Seq("refresh_type: extremes", "sql_query: SELECT 1",
        "primary_keys: [k]", "min_columns: [x]"),
      ("model", "join_view") -> Seq("refresh_type: join_view", "left_table: a.l",
        "right_table: a.r", "join_keys: [k]"),
      ("model", "scd2") -> Seq("refresh_type: scd2", "sql_query: SELECT 1",
        "primary_keys: [k]", "tracked_columns: [v]", "effective_column: d"),
      ("model", "distinct_view") -> Seq("refresh_type: distinct_view",
        "sql_query: SELECT 1", "primary_keys: [k]", "distinct_column: u"),
      ("model", "quantile_view") -> Seq("refresh_type: quantile_view",
        "sql_query: SELECT 1", "primary_keys: [k]", "quantile_column: c"),
      ("model", "dedup_store") -> Seq("refresh_type: dedup_store", "sql_query: SELECT 1",
        "dedup_store: {id_column: doc_id, text_column: text}"),
      ("model", "vector_dedup_store") -> Seq("refresh_type: vector_dedup_store",
        "sql_query: SELECT 1",
        "vector_dedup_store: {id_column: v, vector_column: e, min_score: 100}"),
      ("model", "media_dedup_store") -> Seq("refresh_type: media_dedup_store",
        "sql_query: SELECT 1", "media_dedup_store: {id_column: i, hash_column: h}"),
      ("model", "changelog") -> Seq("refresh_type: changelog", "mode: streaming",
        "stream_source: {path: /tmp/x}", "primary_keys: [k]"),
      ("model", "streaming") -> Seq("refresh_type: incremental", "mode: streaming",
        "stream_source: {path: /tmp/x}", "primary_keys: [k]"),
      ("maintenance", "compact") -> Seq("task_type: compact", "table: a.b"),
      ("maintenance", "zone_maps") -> Seq("task_type: zone_maps", "table: a.b",
        "columns: [k]"),
      ("maintenance", "vacuum_staging") -> Seq("task_type: vacuum_staging"),
      ("maintenance", "prune_store") -> Seq("task_type: prune_store", "table: a.b",
        "keep_epochs: 7"),
      ("maintenance", "retrain_store") -> Seq("task_type: retrain_store", "table: a.b"),
      ("maintenance", "store_stats") -> Seq("task_type: store_stats", "table: a.b"),
      ("store_probe", "dedup_store") -> Seq("store_table: g.s",
        "store_type: dedup_store", "id_column: a", "content_column: b"),
      ("store_probe", "vector_dedup_store") -> Seq("store_table: g.s",
        "store_type: vector_dedup_store", "id_column: a", "content_column: b",
        "min_score: 100"),
      ("store_probe", "media_dedup_store") -> Seq("store_table: g.s",
        "store_type: media_dedup_store", "id_column: a", "content_column: b"),
      ("view_estimate", "distinct_view") -> Seq("view_type: distinct_view",
        "key_columns: [k]"),
      ("view_estimate", "quantile_view") -> Seq("view_type: quantile_view",
        "key_columns: [k]", "q_permille: [500]"),
      ("dedup_store", "min_id") -> Seq("id_column: doc_id", "text_column: text",
        "keeper: min_id"),
      ("dedup_store", "max_quality") -> Seq("id_column: doc_id", "text_column: text",
        "keeper: max_quality", "quality_column: q"),
      ("media_dedup_store", "min_id") -> Seq("id_column: i", "hash_column: h",
        "keeper: min_id"),
      ("media_dedup_store", "max_quality") -> Seq("id_column: i", "hash_column: h",
        "keeper: max_quality", "quality_column: q"),
      ("source", "full") -> Seq("extract_strategy: full"),
      ("source", "incremental") -> Seq("extract_strategy: incremental"),
      ("dq_rule", "not_null") -> Seq("rule_type: not_null"),
      ("dq_rule", "regex") -> Seq("rule_type: regex", "pattern: x"),
      ("dq_rule", "expression") -> Seq("rule_type: expression", "expression: c > 0"),
      ("dq_rule", "referential_integrity") -> Seq("rule_type: referential_integrity",
        "ref_table: b.r"))
    def indented(lines: Seq[String]) = lines.map(l => s"    $l\n").mkString
    def block(key: String, lines: Seq[String]) = s"    $key: ${lines.mkString("{", ", ", "}")}\n"
    def model(body: String) = s"models:\n  - model_id: m\n    target_table: g.t\n$body"
    def render(kind: String, lines: Seq[String]): String = kind match {
      case "transform" => transformYaml(indented(lines))
      case "model" => model(indented(lines))
      case "maintenance" => s"maintenance:\n  - task_id: t\n${indented(lines)}"
      case "source" => s"sources:\n  - source_id: s\n    target_table: b.t\n${indented(lines)}"
      case "dq_rule" => transformYaml("    sql_query: SELECT 1\n    data_quality:\n" +
        "      - rule_name: r\n        column: c\n" + lines.map(l => s"        $l\n").mkString)
      case "store_probe" | "view_estimate" =>
        transformYaml(s"    transform_type: $kind\n" + block(kind, lines))
      case store => model(s"    refresh_type: $store\n    sql_query: SELECT 1\n" +
        block(store, lines))
    }
    // (item kind, the key's line, one type that uses it, one that does not)
    val rows = Seq(
      ("transform", "sql_query: SELECT 2", "sql", "chunk"),
      ("transform", "dedup: {id_column: doc_id, text_column: text}", "dedup", "sql"),
      ("transform", "curation: {id_column: doc_id, text_column: text}", "curation", "sql"),
      ("transform", "chunk: {id_column: doc_id, text_column: text}", "chunk", "split"),
      ("transform", "quota: {id_column: doc_id, stratum_column: src, max_per_stratum: 5}",
        "quota", "chunk"),
      ("transform", "mix: {id_column: doc_id, source_column: src, default_epochs: 2}",
        "mix", "sql"),
      ("transform", "split: {id_column: doc_id, text_column: text}", "split", "chunk"),
      ("transform", "decontaminate: {id_column: doc_id, text_column: text, probe_table: e.p}",
        "decontaminate", "sql"),
      ("transform", "weighted_sample: {id_column: doc_id, stratum_column: lang, " +
        "weight_column: n, samples_per_stratum: 3}", "weighted_sample", "quota"),
      ("transform", "relevance_filter: {id_column: doc_id, text_column: text, " +
        "terms: [spark], min_score_micro: 0}", "relevance_filter", "sql"),
      ("transform", "asof: {as_of: '2024-01-01'}", "asof", "sql"),
      ("transform", "store_probe: {store_table: g.s, store_type: dedup_store, " +
        "id_column: a, content_column: b}", "store_probe", "sql"),
      ("transform", "view_estimate: {view_type: distinct_view, key_columns: [k]}",
        "view_estimate", "sql"),
      ("model", "sql_query: SELECT 2", "full", "join_view"),
      ("model", "sql_query: SELECT 2", "full", "streaming"),
      ("model", "stream_source: {path: /tmp/y}", "streaming", "full"),
      ("model", "checkpoint: /tmp/chk", "streaming", "full"),
      ("model", "primary_keys: [k]", "incremental", "dedup_store"),
      ("model", "primary_keys: [k]", "incremental", "vector_dedup_store"),
      ("model", "primary_keys: [k]", "incremental", "media_dedup_store"),
      ("model", "sum_columns: [x]", "additive", "full"),
      ("model", "min_columns: [x]", "extremes", "full"),
      ("model", "max_columns: [y]", "extremes", "additive"),
      ("model", "left_table: a.l", "join_view", "full"),
      ("model", "right_table: a.r", "join_view", "full"),
      ("model", "join_keys: [k]", "join_view", "incremental"),
      ("model", "left_batch_sql: SELECT 1", "join_view", "full"),
      ("model", "right_batch_sql: SELECT 1", "join_view", "full"),
      ("model", "tracked_columns: [v]", "scd2", "full"),
      ("model", "effective_column: d", "scd2", "full"),
      ("model", "distinct_column: u", "distinct_view", "full"),
      ("model", "hll_m: 32", "distinct_view", "quantile_view"),
      ("model", "quantile_column: c", "quantile_view", "full"),
      ("model", "op_column: operation", "changelog", "incremental"),
      ("model", "seq_column: lsn", "changelog", "streaming"),
      ("model", "dedup_store: {id_column: doc_id, text_column: text}", "dedup_store", "full"),
      ("model", "vector_dedup_store: {id_column: v, vector_column: e, min_score: 100}",
        "vector_dedup_store", "full"),
      ("model", "media_dedup_store: {id_column: i, hash_column: h}",
        "media_dedup_store", "full"),
      ("maintenance", "table: a.b", "compact", "vacuum_staging"),
      ("maintenance", "cluster_by: [k]", "compact", "zone_maps"),
      ("maintenance", "target_rows_per_file: 5000", "compact", "store_stats"),
      ("maintenance", "columns: [k]", "zone_maps", "compact"),
      ("maintenance", "keep_epochs: 7", "prune_store", "compact"),
      ("maintenance", "train_iters: 3", "retrain_store", "compact"),
      ("maintenance", "num_centroids: 8", "retrain_store", "zone_maps"),
      ("maintenance", "spread_threshold_permille: 1500", "retrain_store", "store_stats"),
      ("maintenance", "max_cell_size: 40", "store_stats", "compact"),
      ("maintenance", "max_bucket_size: 40", "store_stats", "prune_store"),
      ("maintenance", "spread_trend_pct: 50", "store_stats", "retrain_store"),
      ("store_probe", "shingle_size: 4", "dedup_store", "media_dedup_store"),
      ("store_probe", "num_hashes: 16", "dedup_store", "vector_dedup_store"),
      ("store_probe", "jaccard_pct: 50", "dedup_store", "media_dedup_store"),
      ("store_probe", "bands: 4", "media_dedup_store", "vector_dedup_store"),
      ("store_probe", "min_score: 100", "vector_dedup_store", "dedup_store"),
      ("store_probe", "nprobe: 2", "vector_dedup_store", "media_dedup_store"),
      ("store_probe", "max_cell_size: 7", "vector_dedup_store", "dedup_store"),
      ("store_probe", "max_hamming: 8", "media_dedup_store", "dedup_store"),
      ("view_estimate", "q_permille: [500]", "quantile_view", "distinct_view"),
      ("dedup_store", "quality_column: q", "max_quality", "min_id"),
      ("media_dedup_store", "quality_column: q", "max_quality", "min_id"),
      ("source", "incremental_column: d", "incremental", "full"),
      ("dq_rule", "pattern: x", "regex", "expression"),
      ("dq_rule", "expression: c > 0", "expression", "regex"),
      ("dq_rule", "ref_table: b.r", "referential_integrity", "not_null"),
      ("dq_rule", "ref_column: k", "referential_integrity", "regex"))
    for ((kind, line, owner, nonOwner) <- rows) withClue(s"$kind $line: ") {
      val key = line.takeWhile(_ != ':')
      def doc(tpe: String, extra: Seq[String]): String =
        render(kind, bases(kind -> tpe).filterNot(_.startsWith(s"$key:")) ++ extra)
      EtlConfig.fromYaml(doc(nonOwner, Nil))
      EtlConfig.fromYaml(doc(owner, Seq(line)))
      intercept[IllegalArgumentException](EtlConfig.fromYaml(doc(nonOwner, Seq(line))))
    }
  }

  test("a misspelt extract strategy, rule type or DQ action refuses instead of running as a no-op") {
    def source(strategy: String) = EtlConfig.fromYaml(
      s"sources:\n  - source_id: s\n    target_table: b.t\n    extract_strategy: $strategy\n")
    def rule(tpe: String, action: String) = EtlConfig.fromYaml(transformYaml(
      "    sql_query: SELECT 1\n    data_quality:\n      - rule_name: r\n" +
        s"        rule_type: $tpe\n        column: c\n        action_on_failure: $action\n"))
    source("incremental"); rule("not_null", "reject")
    for ((what, parse) <- Seq(
        "extract_strategy 'incremntal'" -> (() => source("incremntal")),
        "rule_type 'not_nul'" -> (() => rule("not_nul", "filter")),
        "action_on_failure 'rejct'" -> (() => rule("not_null", "rejct")))) {
      val e = intercept[IllegalArgumentException](parse())
      assert(e.getMessage.contains(s"unknown $what"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](EtlConfig.fromYaml(
      "sources:\n  - source_id: s\n    target_table: b.t\n    incremental_column: d\n"))
    assert(e.getMessage.contains("incremental_column is not used by extract_strategy full"),
      e.getMessage)
  }

  test("template substitution: vars, env, and unknown left empty") {
    assert(EtlConfig.substitute("d >= '${PROCESSING_DATE}'",
      Map("PROCESSING_DATE" -> "2024-01-01")) == "d >= '2024-01-01'")
    assert(EtlConfig.substitute("${ENV:GRAFT_PW}/x", Map.empty,
      env = Map("GRAFT_PW" -> "s3cret").get) == "s3cret/x")
    assert(EtlConfig.substitute("${ENV:MISSING}", Map.empty,
      env = _ => None) == "")
    assert(EtlConfig.substitute("${UNKNOWN}", Map.empty) == "${UNKNOWN}")
  }

  test("config_snapshot carries every field of every checked-in config item") {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val json = new ObjectMapper()
    def snake(name: String): String =
      name.flatMap(c => if (c.isUpper) "_" + c.toLower else c.toString)
    // the snapshot node mirrors the value: a case class's keys are its
    // snake_cased fields, recursively; leaves render their own value
    def mirror(v: Any, node: JsonNode, path: String): Unit = v match {
      case None => assert(node.isNull, path)
      case Some(x) => mirror(x, node, path)
      case m: Map[_, _] =>
        val keys = m.keys.map(_.toString).toSeq.sorted
        assert(node.fieldNames.asScala.toSeq == keys, path)
        m.foreach { case (k, x) => mirror(x, node.get(k.toString), s"$path.$k") }
      case xs: Seq[_] =>
        assert(node.isArray && node.size == xs.size, path)
        xs.zipWithIndex.foreach { case (x, i) => mirror(x, node.get(i), s"$path[$i]") }
      case p: Product =>
        val names = p.productElementNames.map(snake).toSeq
        assert(node.isObject && node.fieldNames.asScala.toSet == names.toSet,
          s"$path: ${node.fieldNames.asScala.toSeq} vs $names")
        names.zip(p.productIterator).foreach { case (n, x) =>
          mirror(x, node.get(n), s"$path.$n") }
      case leaf => assert(node.isValueNode && node.asText == leaf.toString, path)
    }
    val root = graft.TestSpark.repoRoot
    val files = Seq("configs", "configs/demo", "configs/corpus").flatMap { d =>
      new java.io.File(s"$root/$d").listFiles().toSeq
        .filter(_.getName.endsWith(".yaml")).map(_.getPath)
    } :+ s"$root/perfbench/conf/demo_maintenance_config.yaml"
    val items: Seq[Product] = files.map(EtlConfig.load).flatMap(c =>
      c.sources ++ c.transformations ++ c.models ++ c.maintenance)
    assert(files.size == 11 && items.size > 40, s"${files.size} files, ${items.size} items")
    items.foreach(i => mirror(i, json.readTree(EtlConfig.snapshot(i)), i.productPrefix))

    // the fields the hand-written serializer used to drop
    val tpch = EtlConfig.load(s"$root/configs/silver_config.yaml").transformations
    def rules(id: String) = json.readTree(EtlConfig.snapshot(
      tpch.find(_.transformId == id).get)).get("data_quality").asScala.toSeq
    val cust = rules("customer_silver")
    assert(cust.map(_.get("pattern").asText).contains("^[A-Z ]+$"))
    assert(cust.map(_.get("ref_table").asText).contains("bronze.nation"))
    assert(cust.map(_.get("ref_column").asText).contains("n_nationkey"))
    assert(rules("orders_silver").map(_.get("expression").asText)
      .contains("o_totalprice > 0"))
    val curation = EtlConfig.load(s"$root/configs/corpus/silver_config.yaml")
      .transformations.flatMap(_.curation).head
    assert(json.readTree(EtlConfig.snapshot(curation))
      .get("pii_replacement").asText == "[REDACTED]")
    val joinView = EtlConfig.fromYaml(
      """models:
        |  - model_id: jv
        |    target_table: gold.jv
        |    refresh_type: join_view
        |    left_table: bronze.l
        |    right_table: bronze.r
        |    join_keys: [k]
        |    left_batch_sql: SELECT * FROM bronze.l WHERE d = '${PROCESSING_DATE}'
        |    right_batch_sql: SELECT * FROM bronze.r WHERE d = '${PROCESSING_DATE}'
        |""".stripMargin).models.head
    val jv = json.readTree(EtlConfig.snapshot(joinView))
    assert(jv.get("left_batch_sql").asText ==
      "SELECT * FROM bronze.l WHERE d = '${PROCESSING_DATE}'")
    assert(jv.get("right_batch_sql").asText ==
      "SELECT * FROM bronze.r WHERE d = '${PROCESSING_DATE}'")
  }
}
