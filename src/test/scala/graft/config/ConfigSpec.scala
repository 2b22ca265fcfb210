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
    assert(mism.getMessage.contains("quota: block is not used"), mism.getMessage)
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
