package graft.io

import graft.SparkSpec
import graft.config.EtlConfig
import graft.meta.FixedClock
import graft.pipeline.Pipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The commit primitive under injected failures, and the table layout
  * every caller keeps through it.
  */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS commit_test")
    s"commit_test.$name"
  }

  private def fresh(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def fs = Commit.root(spark)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A complete staged version (its write job committed). */
  private def staged(t: String): Boolean =
    fs.exists(new Path(Commit.versionPath(spark, t), "_SUCCESS"))

  /** The table's content as a sorted row list — its hash. */
  private def rows(t: String): Seq[String] = {
    val df = spark.table(t)
    df.select(df.columns.sorted.map(col).toSeq: _*).collect()
      .map(_.toString).sorted.toSeq
  }

  private def maxRowsPerFile(t: String): Long =
    spark.table(t).groupBy(input_file_name()).count()
      .agg(max("count")).head().getLong(0)

  /** Runs `body` with the commit of `t` failing at `step`, keeping
    * the injected task failures' stack traces out of the test log.
    */
  private def injecting[T](t: String, step: String)(body: => T): T = {
    Commit.failAt = Some(t -> step)
    spark.sparkContext.setLogLevel("OFF")
    try body
    finally {
      Commit.failAt = None
      spark.sparkContext.setLogLevel("WARN")
    }
  }

  private def failing(t: String, step: String)(body: => Any): Unit =
    injecting(t, step)(intercept[Exception](body))

  private def meta(t: String) = spark.sessionState.catalog.getTableMetadata(
    spark.sessionState.sqlParser.parseTableIdentifier(t))

  /** One rewrite under test: the table's set-up, then the operation. */
  private final case class Op(name: String, setup: String => Unit,
      run: String => Unit)

  private val ops = Seq(
    Op("upsert",
      t => Upsert.upsertTable(spark, t,
        spark.range(10).select($"id".as("k"), ($"id" * 10).as("v")), Seq("k")),
      t => Upsert.upsertTable(spark, t,
        spark.range(5, 15).select($"id".as("k"), ($"id" * 100).as("v")),
        Seq("k"))),
    Op("compact",
      t => (1 to 10).foreach(i => Seq((i.toLong, s"v$i")).toDF("k", "v")
        .write.mode("append").saveAsTable(t)),
      t => Maintenance.compact(spark, t, targetRowsPerFile = 4)),
    Op("additive_fold",
      t => Maintenance.maintainAdditiveAggregate(spark, t,
        Seq(("a", 1L), ("b", 2L)).toDF("g", "x"), Seq("g"), Seq("x"),
        epochId = 1L),
      t => Maintenance.maintainAdditiveAggregate(spark, t,
        Seq(("a", 10L), ("c", 5L)).toDF("g", "x"), Seq("g"), Seq("x"),
        epochId = 2L)))

  test("a failure while the stage is written leaves the table unchanged") {
    for (op <- ops) {
      val t = table(s"stage_fail_${op.name}")
      fresh(t)
      op.setup(t)
      val before = rows(t)
      failing(t, "stage")(op.run(t))
      assert(rows(t) == before, s"${op.name}: table changed")
      assert(!staged(t), s"${op.name}: an unfinished stage is no recovery copy")
    }
  }

  test("a failure while the table is written keeps a complete stage; a re-run converges") {
    for (op <- ops) {
      val ref = table(s"ref_${op.name}")
      val t = table(s"table_fail_${op.name}")
      fresh(ref, t)
      op.setup(ref)
      op.run(ref)
      assert(!fs.exists(Commit.dir(spark, ref)),
        s"${op.name}: a successful commit leaves no stage")
      op.setup(t)
      failing(t, "table")(op.run(t))
      assert(staged(t), s"${op.name}: the died commit must keep its stage")
      spark.catalog.refreshTable(t)
      assert(spark.table(t).count() == 0L,
        s"${op.name}: the overwrite deleted the old files before it died")
      op.run(t)
      assert(rows(t) == rows(ref), s"${op.name}: the re-run must converge")
      assert(!fs.exists(Commit.dir(spark, t)), s"${op.name}: stage left")
    }
    assert(maxRowsPerFile(table("table_fail_compact")) <= 4L)
  }

  test("a store fold after a died compact builds on the rolled-forward store") {
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def fold(t: String, epoch: Long, rows: (Long, String)*) =
      DedupStore.maintain(spark, t, docs(rows: _*), "doc_id", "text",
        epochId = epoch)
    val ref = table("fold_ref")
    val t = table("fold_after_died_compact")
    fresh(ref, t)
    for (x <- Seq(ref, t)) fold(x, 1L, 1L -> "alpha beta gamma delta epsilon")
    Maintenance.compact(spark, ref, targetRowsPerFile = 2)
    failing(t, "table")(Maintenance.compact(spark, t, targetRowsPerFile = 2))
    for (x <- Seq(ref, t))
      fold(x, 2L, 2L -> "alpha beta gamma delta epsilon", 3L -> "one two three four")
    assert(rows(t) == rows(ref),
      "the fold must see the stored doc 1 (drop doc 2) and keep doc 3")
    assert(!fs.exists(Commit.dir(spark, t)))
  }

  test("after a died compact the plane's vacuum refuses; the next clean run converges") {
    val t = table("plane_facts")
    fresh(t)
    ops.find(_.name == "compact").get.setup(t)
    val before = rows(t)
    val yaml =
      s"""maintenance:
         |  - task_id: compact_facts
         |    task_type: compact
         |    table: $t
         |    target_rows_per_file: 4
         |  - task_id: plane_sweep
         |    task_type: vacuum_staging
         |""".stripMargin
    def run(date: String, clock: Long) =
      new Pipeline(spark, date, new FixedClock(clock))
        .run(Map("maintenance" -> EtlConfig.fromYaml(yaml)), Seq("maintenance"))
        .head
    val r1 = injecting(t, "table")(run("2024-10-01", 1805000000000L))
    assert(r1.failed.map(_._1) == Seq("compact_facts", "plane_sweep"), r1.toString)
    assert(staged(t), "the refused vacuum must leave the died commit's stage")
    val r2 = run("2024-10-02", 1805100000000L)
    assert(r2.failed.isEmpty, r2.toString)
    assert(rows(t) == before && maxRowsPerFile(t) <= 4L)
    assert(!fs.exists(Commit.root(spark)), "the clean run's sweep leaves no staging")
  }

  test("a successful pipeline run leaves no staging directory") {
    val t = table("clean_facts")
    fresh(t, s"${t}__zonemap")
    spark.range(40).toDF("k").repartition(8).write.saveAsTable(t)
    val before = if (fs.exists(Commit.root(spark)))
      fs.listStatus(Commit.root(spark)).map(_.getPath.getName).toSet
    else Set.empty[String]
    val yaml =
      s"""maintenance:
         |  - task_id: compact_clean
         |    task_type: compact
         |    table: $t
         |    target_rows_per_file: 10
         |  - task_id: zm_clean
         |    task_type: zone_maps
         |    table: $t
         |    columns: [k]
         |""".stripMargin
    val r = new Pipeline(spark, "2024-10-03", new FixedClock(1805200000000L))
      .run(Map("maintenance" -> EtlConfig.fromYaml(yaml)), Seq("maintenance"))
    assert(r.head.failed.isEmpty && r.head.succeeded.size == 2, r.toString)
    // compact and the zone-map refresh committed through the primitive
    val after = if (fs.exists(Commit.root(spark)))
      fs.listStatus(Commit.root(spark)).map(_.getPath.getName).toSet
    else Set.empty[String]
    assert(after.subsetOf(before), s"new staging left behind: ${after -- before}")
  }

  test("compact, pruneStore and retrain keep a bucketed store's spec and epoch fence") {
    val s = table("spec_store")
    fresh(s)
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    DedupStore.maintain(spark, s,
      docs(1L -> "alpha beta gamma delta epsilon zeta", 2L -> "one two three four five"),
      "doc_id", "text", storeBuckets = 4, epochId = 1L)
    DedupStore.maintain(spark, s,
      docs(3L -> "eight nine ten eleven twelve thirteen"),
      "doc_id", "text", storeBuckets = 4, epochId = 2L)
    val spec = meta(s).bucketSpec
    assert(spec.exists(_.numBuckets == 4), spec.toString)
    def kept(what: String): Unit = {
      assert(meta(s).bucketSpec == spec, s"$what dropped the bucket spec")
      assert(DedupStore.committedEpoch(spark, s).contains(2L) &&
        meta(s).properties.get(DedupStore.EpochProperty).contains("2"),
        s"$what dropped the epoch fence")
    }
    val rowsBefore = rows(s)
    Maintenance.compact(spark, s, targetRowsPerFile = 3)
    kept("compact")
    assert(rows(s) == rowsBefore && maxRowsPerFile(s) <= 3L)
    val (deleted, _) = Maintenance.pruneStore(spark, s, keepEpochs = 1)
    kept("pruneStore")
    assert(deleted > 0L &&
      spark.table(s).filter($"_epoch" =!= 2L).count() == 0L)

    // the vector store's drift fixture (VectorDedupStoreSpec), rebuilt
    // bucketed on its home cell with the fence property
    val v = table("spec_vstore")
    val vb = table("spec_vstore_b")
    fresh(v, s"${v}_model", vb, s"${vb}_model")
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    VectorDedupStore.maintain(spark, v,
      vecs(1L -> Array(1.0f, 0.0f, 0.0f, 0.0f), 2L -> Array(0.98f, 0.2f, 0.0f, 0.0f)),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    VectorDedupStore.maintain(spark, v,
      vecs(10L -> Array(0.0f, 0.0f, 1.0f, 0.0f),
        11L -> Array(0.0f, 0.0f, 0.995f, 0.1f),
        12L -> Array(0.0f, 0.0f, 0.0f, 1.0f)),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    spark.table(v).write.bucketBy(2, "cell").sortBy("vec_id").saveAsTable(vb)
    spark.table(s"${v}_model").write.saveAsTable(s"${vb}_model")
    spark.sql(s"ALTER TABLE $vb SET TBLPROPERTIES " +
      s"('${DedupStore.EpochProperty}' = '2')")
    val vSpec = meta(vb).bucketSpec
    val r = VectorDedupStore.retrain(spark, vb)
    assert(r.moved > 0L, s"the fixture must move cells: $r")
    assert(meta(vb).bucketSpec == vSpec && vSpec.isDefined)
    assert(DedupStore.committedEpoch(spark, vb).contains(2L))
    assert(spark.table(vb).count() == 5L)
  }

  test("compact keeps a partitioned table's partition spec and per-file bound") {
    val p = table("spec_part")
    fresh(p)
    spark.range(40).select($"id".as("k"), ($"id" % 2).as("part"))
      .repartition(8).write.partitionBy("part").saveAsTable(p)
    val before = rows(p)
    Maintenance.compact(spark, p, targetRowsPerFile = 5)
    assert(meta(p).partitionColumnNames == Seq("part"))
    assert(rows(p) == before && maxRowsPerFile(p) <= 5L)
    assert(spark.table(p).filter($"part" === 1L).inputFiles.forall(_.contains("part=1")))
  }
}
