package graft.streaming

import graft.SparkSpec
import graft.Tables
import graft.queries.EventQueries
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The pipeline's per-run shape over [[graft.io.Sinks.foreachBatch]]:
    * each call starts one AvailableNow query on `ckpt` and waits for it
    * to finish, so a test drives one micro-batch per `addData`, with
    * batch ids counting up across the runs.
    */
  private def bridged(stream: org.apache.spark.sql.DataFrame, table: String,
      ckpt: String)(fold: (org.apache.spark.sql.DataFrame, Long) => Unit): () => Unit =
    () => {
      val q = graft.io.Sinks.foreachBatch(stream, table, ckpt)(fold)
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }

  test("streaming hourly rollup converges to the batch answer") {
    val q = EventsStreaming.hourlyRollup(EventsStreaming.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n_events", "total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSet
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming dedup keeps one row per key within the watermark") {
    val q = EventsStreaming.dedupEvents(
      // planted duplicates: each event id appears twice via union
      EventsStreaming.readEvents(spark, dir)
        .unionByName(EventsStreaming.readEvents(spark, dir)))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val out = spark.table("dedup_out")
    val n = Tables.load(spark, dir, "events").count()
    assert(out.count() == n, "every id exactly once despite the doubled input")
    assert(out.groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("streamUpsert merges each micro-batch by key: cross-batch updates win, replay converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_upsert_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_upsert"
    val ms = MemoryStream[(Long, String, Double)]
    val run = bridged(ms.toDF.toDF("id", "name", "value"), table, ckpt) {
      (batch, _) => graft.io.Upsert.upsertTable(batch.sparkSession, table, batch, Seq("id")) }
    try {
      ms.addData((1L, "a", 1.0), (2L, "b", 2.0), (2L, "b-dup", 2.5))
      run()
      val after1 = spark.table(table).as[(Long, String, Double)].collect()
      assert(after1.map(_._1).toSet == Set(1L, 2L) && after1.length == 2,
        "one row per key after batch 1")
      // batch 2: update key 2, insert key 3
      ms.addData((2L, "b2", 20.0), (3L, "c", 3.0))
      run()
      val rows = spark.table(table).as[(Long, String, Double)].collect().toSet
      assert(rows.map(_._1) == Set(1L, 2L, 3L))
      assert(rows.exists(r => r._1 == 2L && r._2 == "b2" && r._3 == 20.0),
        "the later batch's row must replace the earlier one")
      assert(rows.exists(r => r._1 == 1L && r._2 == "a"), "untouched keys survive")
      // replay convergence: re-merging batch 2's rows changes nothing
      // (the idempotence that makes checkpoint-replay exactly-once)
      graft.io.Upsert.upsertTable(spark, table,
        Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "name", "value"),
        Seq("id"))
      assert(spark.table(table).as[(Long, String, Double)].collect().toSet == rows,
        "replaying a merged batch must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamAdditiveAggregate folds micro-batches into the standing gold table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_additive_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_additive"
    val ms = MemoryStream[(String, Long, Double)]
    val run = bridged(ms.toDF.toDF("g", "qty", "amt"), table, ckpt) {
      (batch, batchId) => graft.io.Maintenance.maintainAdditiveAggregate(
        batch.sparkSession, table, batch, Seq("g"), Seq("qty", "amt"),
        epochId = batchId) }
    try {
      ms.addData(("a", 10L, 1.5), ("a", 20L, 2.5), ("b", 5L, 0.5))
      run()
      ms.addData(("a", 1L, 0.25), ("c", 7L, 7.0))
      run()
      ms.addData(("b", 2L, 1.0), ("c", 3L, 3.0))
      run()
      val got = spark.table(table)
        .select("g", "qty", "amt", "n_rows")
        .as[(String, Long, Double, Long)].collect().toSet
      val want = Set(("a", 31L, 4.25, 3L), ("b", 7L, 1.5, 2L), ("c", 10L, 10.0, 2L))
      assert(got == want, s"streamed fold must equal the one-shot aggregate: $got")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamInsertOnlyExtremes maintains min/max envelopes with an honest n_rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_extremes_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_extremes"
    val ms = MemoryStream[(String, Long)]
    val run = bridged(ms.toDF.toDF("g", "qty"), table, ckpt) {
      (batch, batchId) => graft.io.Maintenance.maintainInsertOnlyExtremes(
        batch.sparkSession, table, batch, Seq("g"), minCols = Seq("qty"),
        maxCols = Seq("qty"), epochId = batchId) }
    try {
      ms.addData(("a", 10L), ("a", 3L), ("b", 5L))
      run()
      ms.addData(("a", 44L), ("c", 7L))
      run()
      val got = spark.table(table)
        .select("g", "min_qty", "max_qty", "n_rows")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == Set(("a", 3L, 44L, 3L), ("b", 5L, 5L, 1L), ("c", 7L, 7L, 1L)),
        s"streamed extremes must equal the one-shot min/max: $got")
      // the committed epoch fences a manual replay of the last batch
      // (foreachBatch is at-least-once): values idempotent, n_rows must
      // not double-count
      val replayed = graft.io.Maintenance.maintainInsertOnlyExtremes(
        spark, table, Seq(("a", 44L), ("c", 7L)).toDF("g", "qty"),
        Seq("g"), Seq("qty"), Seq("qty"), epochId = 1L)
      assert(!replayed, "replayed epoch must no-op")
      assert(spark.table(table)
        .select("g", "min_qty", "max_qty", "n_rows")
        .as[(String, Long, Long, Long)].collect().toSet == got,
        "replaying a folded batch must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamDistinctView maintains per-key HLL registers; replay converges with no fence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_dv_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_dv"
    val ms = MemoryStream[(String, Long)]
    val run = bridged(ms.toDF.toDF("g", "item"), table, ckpt) {
      (batch, _) => graft.io.Maintenance.maintainDistinctView(
        batch.sparkSession, table, batch, Seq("g"), "item") }
    try {
      ms.addData(("a", 1L), ("a", 2L), ("b", 1L))
      run()
      ms.addData(("a", 2L), ("a", 3L), ("b", 9L))
      run()
      val oneShot = graft.operators.Sketches.hllRegistersBy(
          Seq(("a", 1L), ("a", 2L), ("b", 1L), ("a", 2L), ("a", 3L),
            ("b", 9L)).toDF("g", "item"), Seq("g"), $"item", 64)
        .as[(String, Long, Long)].collect().toSet
      val got = spark.table(table).select("g", "bucket", "rho")
        .as[(String, Long, Long)].collect().toSet
      assert(got == oneShot, s"streamed registers must equal one-shot: $got")
      // replay the last batch by hand — max-merge makes it a no-op
      // WITHOUT any epoch column in the table
      graft.io.Maintenance.maintainDistinctView(spark, table,
        Seq(("a", 2L), ("a", 3L), ("b", 9L)).toDF("g", "item"),
        Seq("g"), "item")
      assert(spark.table(table).select("g", "bucket", "rho")
        .as[(String, Long, Long)].collect().toSet
        == oneShot, "replay must converge by algebra")
      assert(!spark.table(table).columns.contains("_last_epoch"),
        "the sketch view needs no fence column")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamQuantileView maintains per-key HDR buckets; the epoch fence stops a replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_qv_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_qv"
    val ms = MemoryStream[(String, Long)]
    val run = bridged(ms.toDF.toDF("g", "cents"), table, ckpt) {
      (batch, batchId) => graft.io.Maintenance.maintainQuantileView(
        batch.sparkSession, table, batch, Seq("g"), "cents",
        epochId = batchId) }
    try {
      ms.addData(("a", 100L), ("a", 250L), ("b", 7L))
      run()
      ms.addData(("a", 9000L), ("b", 60L))
      run()
      val oneShot = graft.operators.Sketches.hdrSketchBy(
          Seq(("a", 100L), ("a", 250L), ("b", 7L), ("a", 9000L),
            ("b", 60L)).toDF("g", "cents"), Seq("g"), $"cents")
        .as[(String, Long, Long)].collect().toSet
      def regs = spark.table(table).select("g", "bkey", "cnt")
        .as[(String, Long, Long)].collect().toSet
      assert(regs == oneShot, "streamed sketch must equal one-shot")
      // manual replay of the last epoch: counts ADD, so only the
      // committed batchId fence keeps it a no-op
      assert(!graft.io.Maintenance.maintainQuantileView(spark, table,
        Seq(("a", 9000L), ("b", 60L)).toDF("g", "cents"), Seq("g"), "cents",
        epochId = 1L))
      assert(regs == oneShot, "replayed epoch must not double-count")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamDedupStore folds a document stream; stream equals batch; fence stops a replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.DedupStore
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_ds_out"
    val twin = "stream_ds_twin"
    Seq(table, twin).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_ds"
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven"
    val textC = "eight nine ten eleven twelve thirteen fourteen"
    val ms = MemoryStream[(Long, String)]
    val run = bridged(ms.toDF.toDF("doc_id", "text"), table, ckpt) {
      (batch, batchId) => DedupStore.maintain(batch.sparkSession, table, batch,
        "doc_id", "text", jaccardThreshold = 0.5, epochId = batchId) }
    try {
      // micro-batch 0: 101/103 exact dups (101 keeps), 105 unique
      ms.addData(101L -> textA, 103L -> textA, 105L -> textB)
      run()
      // micro-batch 1: 202 re-delivers stored content, 204/206 cluster
      ms.addData(202L -> textA, 204L -> textC, 206L -> textC)
      run()
      def stored(t: String) = DedupStore.storedDocIds(spark, t)
        .as[(Long, Long)].collect().toSet
      assert(stored(table) == Set(101L -> 0L, 105L -> 0L, 204L -> 1L),
        stored(table).toString)
      // stream ≡ batch: the same two folds through the batch API with
      // the stream's batchIds as epochs land bit-identically
      DedupStore.maintain(spark, twin,
        Seq(101L -> textA, 103L -> textA, 105L -> textB).toDF("doc_id", "text"),
        "doc_id", "text", jaccardThreshold = 0.5, epochId = 0L)
      DedupStore.maintain(spark, twin,
        Seq(202L -> textA, 204L -> textC, 206L -> textC).toDF("doc_id", "text"),
        "doc_id", "text", jaccardThreshold = 0.5, epochId = 1L)
      assert(stored(table) == stored(twin), "stream must equal batch")
      // the committed batchId IS the epoch property: a crash-replay of
      // the last micro-batch (at-least-once delivery) no-ops
      assert(DedupStore.committedEpoch(spark, table).contains(1L))
      assert(!DedupStore.maintain(spark, table,
        Seq(202L -> textA, 204L -> textC, 206L -> textC).toDF("doc_id", "text"),
        "doc_id", "text", jaccardThreshold = 0.5, epochId = 1L).applied)
      assert(stored(table) == stored(twin), "replayed epoch appends nothing")
    } finally {
      Seq(table, twin).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streamMediaDedupStore folds a phash stream; stream equals batch; fence stops a replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.{DedupStore, MediaDedupStore}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_mds_out"
    val twin = "stream_mds_twin"
    Seq(table, twin).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_mds"
    val hA = 0x0123456789ABCDEFL
    val hB = ~hA
    val hC = 0x00FF00FF00FF00FFL
    val ms = MemoryStream[(Long, Long)]
    val run = bridged(ms.toDF.toDF("media_id", "dhash"), table, ckpt) {
      (batch, batchId) => MediaDedupStore.maintain(batch.sparkSession, table,
        batch, "media_id", "dhash", epochId = batchId) }
    try {
      // micro-batch 0: 101/103 near-dup re-encodes (101 keeps), 105 unique
      ms.addData(101L -> hA, 103L -> (hA ^ 0x7L), 105L -> hB)
      run()
      // micro-batch 1: 202 re-delivers stored content, 204/206 cluster
      ms.addData(202L -> (hA ^ 0x30L), 204L -> hC, 206L -> (hC ^ 0x5L))
      run()
      def stored(t: String) = MediaDedupStore.storedMediaIds(spark, t)
        .select("media_id", "_epoch").as[(Long, Long)].collect().toSet
      assert(stored(table) == Set(101L -> 0L, 105L -> 0L, 204L -> 1L),
        stored(table).toString)
      // stream ≡ batch with the stream's batchIds as epochs
      MediaDedupStore.maintain(spark, twin,
        Seq(101L -> hA, 103L -> (hA ^ 0x7L), 105L -> hB)
          .toDF("media_id", "dhash"),
        "media_id", "dhash", epochId = 0L)
      MediaDedupStore.maintain(spark, twin,
        Seq(202L -> (hA ^ 0x30L), 204L -> hC, 206L -> (hC ^ 0x5L))
          .toDF("media_id", "dhash"),
        "media_id", "dhash", epochId = 1L)
      assert(stored(table) == stored(twin), "stream must equal batch")
      // the committed batchId IS the epoch property: a crash-replay of
      // the last micro-batch (at-least-once delivery) no-ops
      assert(DedupStore.committedEpoch(spark, table).contains(1L))
      assert(!MediaDedupStore.maintain(spark, table,
        Seq(202L -> (hA ^ 0x30L), 204L -> hC, 206L -> (hC ^ 0x5L))
          .toDF("media_id", "dhash"),
        "media_id", "dhash", epochId = 1L).applied)
      assert(stored(table) == stored(twin), "replayed epoch appends nothing")
    } finally {
      Seq(table, twin).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streamVectorDedupStore folds a vector stream; first batch freezes calibration") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.{DedupStore, VectorDedupStore}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_vds_out"
    Seq(table, s"${table}_model").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_vds"
    val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val vC = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vC2 = Array(0.0f, 0.0f, 0.995f, 0.1f)
    val ms = MemoryStream[(Long, Array[Float])]
    val run = bridged(ms.toDF.toDF("vec_id", "embedding"), table, ckpt) {
      (batch, batchId) => VectorDedupStore.maintain(batch.sparkSession, table,
        batch, "vec_id", "embedding", minScore = 12000L, numCentroids = 2,
        epochId = batchId) }
    try {
      // founding micro-batch: freezes amax + 2 centroids; 1/3 identical
      ms.addData(1L -> vA, 3L -> vA, 5L -> vB)
      run()
      val model0 = spark.table(s"${table}_model")
        .orderBy("centroid_id").collect().toSeq
      // micro-batch 1: 12 near-dups stored content; 14/16 fresh cluster
      ms.addData(12L -> vA, 14L -> vC, 16L -> vC2)
      run()
      val got = VectorDedupStore.storedVecIds(spark, table)
        .as[(Long, Long)].collect().toSet
      assert(got == Set(1L -> 0L, 5L -> 0L, 14L -> 1L), got.toString)
      assert(spark.table(s"${table}_model")
        .orderBy("centroid_id").collect().toSeq == model0,
        "the calibration model never changes after the founding batch")
      assert(DedupStore.committedEpoch(spark, table).contains(1L),
        "the stream's batchId is the committed epoch")
    } finally {
      Seq(table, s"${table}_model").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streamScd2 versions an attribute-change feed across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_scd2_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_scd2"
    val ms = MemoryStream[(Int, String, String)]
    val run = bridged(ms.toDF.toDF("k", "v", "d")
        .select($"k", $"v", $"d".cast("date").as("eff")), table, ckpt) {
      (batch, _) => graft.io.Scd2.merge(batch.sparkSession, table, batch,
        Seq("k"), Seq("v"), "eff") }
    try {
      ms.addData((1, "gold", "2024-01-01"), (2, "bronze", "2024-01-01"))
      run()
      // k1 changes; k2 re-observed unchanged; k1 changes AGAIN within
      // the same micro-batch (in-batch chaining)
      ms.addData((1, "platinum", "2024-02-01"), (2, "bronze", "2024-02-01"),
        (1, "iridium", "2024-03-01"))
      run()
      val hist = spark.table(table)
        .select($"k", $"v", $"valid_from".cast("string"),
          coalesce($"valid_to".cast("string"), lit("-")), $"is_current")
        .as[(Int, String, String, String, Boolean)].collect().toSet
      assert(hist == Set(
        (1, "gold", "2024-01-01", "2024-02-01", false),
        (1, "platinum", "2024-02-01", "2024-03-01", false),
        (1, "iridium", "2024-03-01", "-", true),
        (2, "bronze", "2024-01-01", "-", true)), hist.toString)
      // replaying the latest batch converges (the only replay a
      // checkpointed stream produces)
      graft.io.Scd2.merge(spark, table,
        Seq((1, "platinum", "2024-02-01"), (2, "bronze", "2024-02-01"),
          (1, "iridium", "2024-03-01")).toDF("k", "v", "d")
          .select($"k", $"v", $"d".cast("date").as("eff")),
        Seq("k"), Seq("v"), "eff")
      assert(spark.table(table)
        .select($"k", $"v", $"valid_from".cast("string"),
          coalesce($"valid_to".cast("string"), lit("-")), $"is_current")
        .as[(Int, String, String, String, Boolean)].collect().toSet == hist,
        "latest-batch replay must be a bit-identical no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("streamChangeLog applies a streamed CDC feed: upserts land, deletes remove, replay converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = "stream_cdc_out"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ckpt = s"${spark.conf.get("spark.sql.warehouse.dir")}/__ckpt_stream_cdc"
    val ms = MemoryStream[(Long, String, String, Long)]
    val run = bridged(ms.toDF.toDF("id", "name", "op", "seq"), table, ckpt) {
      (batch, _) => graft.io.Upsert.applyChangeLog(batch.sparkSession, table,
        batch, Seq("id")) }
    try {
      ms.addData((1L, "a", "I", 1L), (2L, "b", "I", 2L), (3L, "c", "I", 3L))
      run()
      assert(spark.table(table).count() == 3)
      // batch 2: delete 2, update 3, racing update-then-delete on 1
      ms.addData((2L, "", "D", 10L), (3L, "c2", "U", 11L),
        (1L, "a2", "U", 12L), (1L, "", "D", 13L))
      run()
      val rows = spark.table(table).as[(Long, String)].collect().toSet
      assert(rows == Set((3L, "c2")),
        s"deletes must remove 1 and 2, update must land on 3; got $rows")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("stream-stream attribution join is stream/batch identical") {
    val q = EventsStreaming.attributionJoin(
        EventsStreaming.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val streamed = spark.table("attr_out")
      .select("click_id", "view_id", "user_id", "lag_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = graft.queries.EventQueries.e11Attribution(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming OHLC bars converge to the batch ts2 answer") {
    // MIN_BY/MAX_BY over the unique total-order key are plain
    // declarative aggregates, so the bar fold works unchanged as a
    // streaming groupBy in complete mode — the downsampling path a
    // tick feed would take, producing bit-identical bars to batch
    val src = s"$dir/orders.parquet"
    val stage = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir") + "/graft_stream_orders_sf0001")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.copy(java.nio.file.Paths.get(src),
      stage.resolve("orders.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(stage.toString)
    stream.createOrReplaceTempView("orders_stream")
    val bars = spark.sql(
      """SELECT o_custkey % 8 AS bucket,
        |  TRUNC(CAST(o_orderdate AS DATE), 'month') AS month,
        |  MIN_BY(cents, ok) AS open_cents, MAX(cents) AS high_cents,
        |  MIN(cents) AS low_cents, MAX_BY(cents, ok) AS close_cents,
        |  COUNT(*) AS n_orders
        |FROM (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey >= 10000000000000 THEN
        |      RAISE_ERROR('[ts2] o_orderkey exceeds the day-major key domain (1e13)')
        |    ELSE CAST(DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')
        |      AS BIGINT) * 10000000000000 + o_orderkey END AS ok
        |  FROM orders_stream)
        |GROUP BY 1, 2""".stripMargin)
    val q = bars.writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    try { q.processAllAvailable() } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    val streamed = spark.table("ohlc_out").collect().map(key).toSet
    val batch = graft.queries.SeriesQueries.ts2OhlcBars(spark, dir)
      .collect().map(key).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("stratified sampling is stream/batch identical (stateless + deterministic)") {
    // the curation primitive must compose into streaming ingest: the
    // hash-bucket keep decision is a stateless per-row filter, so the
    // SAME rows survive whether the corpus arrives as a batch or a
    // stream — no RNG/state to drift between the two modes
    import graft.operators.Curation
    val src = s"$dir/documents.parquet"
    val stage = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir") + "/graft_stream_docs_sf0001")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.copy(java.nio.file.Paths.get(src),
      stage.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(stage.toString)
    val q = Curation.stratifiedSample(
        stream.select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), Map("en" -> 0.5))
      .writeStream.outputMode("append")
      .format("memory").queryName("sample_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sample_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Curation.stratifiedSample(
        spark.read.parquet(src).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), Map("en" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, "stream and batch must keep identical rows")
    assert(batch.nonEmpty && batch.size < 500)
  }

  test("streaming histogram converges to the batch e6 answer") {
    // e6's fixed-bound integer binning needs no min/max pre-pass, which
    // is exactly what makes it streaming-composable: the same groupBy
    // runs incrementally in complete mode and lands on the batch result
    val q = EventsStreaming.readEvents(spark, dir)
      .groupBy(col("event_type"), floor(col("value") / 10).as("bin"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hist_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("hist_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("e6_histogram")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming CMS sketch converges to the batch sketch cell-for-cell") {
    // cmsBuild is one partially-aggregated groupBy over fixed hash
    // cells — the mergeable-sketch property means the SAME operator
    // runs incrementally in complete mode and lands on the exact batch
    // counters (the running-heavy-hitters shape: keep the 4x64 frame
    // as streaming state, estimate from it at any time)
    import graft.operators.{Dedup, Sketches}
    val q = Sketches.cmsBuild(EventsStreaming.readEvents(spark, dir),
        col("event_type"), 4, 64, Dedup.Md5Hash)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("cms_out")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Sketches.cmsBuild(Tables.load(spark, dir, "events"),
        col("event_type"), 4, 64, Dedup.Md5Hash)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming KMV bottom-k state equals the batch sketch hash-for-hash") {
    // the theta sketch's merge IS its streaming story: the bounded
    // bottom-k buffer is the running state, microbatches partial-merge
    // into it, and complete mode reads the same ≤k array the batch
    // build produces
    import graft.operators.{Dedup, Sketches}
    import spark.implicits._
    val h = graft.functions.VectorExpressions.hexSliceToLong(
      md5(concat(lit("t:"), col("user_id").cast("string"))), 1, 14)
    val q = EventsStreaming.readEvents(spark, dir)
      .select(h.as("h")).as[Long]
      .select(new Sketches.KmvAggregator(64).toColumn.name("hs"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("kmv_out").as[Seq[Long]].collect().head.sorted
    val batch = Sketches.kmvSketch(Tables.load(spark, dir, "events"),
        col("user_id"), 64, Dedup.Md5Hash).as[Long].collect().sorted.toSeq
    assert(streamed == batch, "streaming KMV state must equal the batch sketch")
  }

  test("streaming HDR quantile sketch equals the batch sketch bucket-for-bucket") {
    import graft.operators.Sketches
    val cents = expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    val q = Sketches.hdrSketch(EventsStreaming.readEvents(spark, dir), cents)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hdr_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("hdr_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Sketches.hdrSketch(Tables.load(spark, dir, "events"), cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("native session_window agrees with the hand-rolled batch sessionizer") {
    // Spark's built-in session_window is the declarative twin of the
    // flatMapGroupsWithState sessionizer — same 30-min gap semantics.
    // Comparable keys: (user_id, session_start, n_events); the built-in
    // window's END is last_ts + gap by definition, so duration is
    // compared via max(ts) instead.
    val q = EventsStreaming.readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max("ts").as("last_ts"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"), col("n_events"),
        expr("CAST((unix_micros(last_ts) - unix_micros(session_window.start))" +
          " / 1000000 AS BIGINT)").as("duration_sec"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sesswin_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3))).toSet
    // e2 columns: user_id, session_id, n_events, session_start, duration_sec
    val batch = EventQueries.e2Sessionize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(3), r.getLong(2),
        r.getLong(4))).toSet
    // append mode only emits a session once the watermark passes its
    // window end (last_ts + gap): the stream's final ~90 min of
    // sessions legitimately stay pending in state. So: everything
    // emitted matches batch exactly, and every session the watermark
    // must have flushed was emitted.
    assert(streamed.subsetOf(batch),
      s"emitted sessions must all match batch: ${(streamed -- batch).take(3)}")
    val maxMs = Tables.load(spark, dir, "events")
      .agg(max("ts")).collect().head.getTimestamp(0).getTime
    // cutoff = maxTs - watermark(1h) - gap(30min), minus 2s slack for
    // duration_sec truncation and ms rounding
    val cutoffMs = maxMs - (3600L + 1800L) * 1000 - 2000
    val mustEmit = batch.filter { case (_, start, _, dur) =>
      start.getTime + dur * 1000 < cutoffMs }
    assert(mustEmit.subsetOf(streamed),
      s"watermark-flushed sessions missing: ${(mustEmit -- streamed).take(3)}")
    assert(streamed.nonEmpty && (batch.size - streamed.size) <= 5,
      s"stream ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming HLL registers converge to the batch registers") {
    // hllRegisters is one partially-aggregated max-groupBy over fixed
    // buckets — the same mergeable-sketch property as CMS: run it in
    // complete mode as running state and it lands on the exact batch
    // register table (estimate derivable from it at any time)
    import graft.operators.{Dedup, Sketches}
    val q = Sketches.hllRegisters(EventsStreaming.readEvents(spark, dir),
        col("user_id"), 64, Dedup.Md5Hash)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("hll_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Sketches.hllRegisters(Tables.load(spark, dir, "events"),
        col("user_id"), 64, Dedup.Md5Hash)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("stateful sessionization closes sessions on gap > 30min") {
    val q = EventsStreaming.sessionize(EventsStreaming.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val sessions = spark.table("sessions_out")
    // closed sessions must respect the gap invariant and match the
    // batch sessionizer on the (user, session_start) level it emitted
    val batchSessions = EventQueries.e2Sessionize(spark, dir)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val streamedSessions = sessions
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // the stream only emits CLOSED sessions (watermark can hold the
    // final session of each user open) — so streamed ⊆ batch and most
    // sessions should have closed
    assert(streamedSessions.subsetOf(batchSessions))
    assert(streamedSessions.nonEmpty)
    assert(streamedSessions.size >= batchSessions.size / 2)
  }

  test("stateful transition derivation carries state across micro-batches") {
    // the streaming analog of sq1: per-user previous event rides the
    // state store, so consecutive pairs straddle batch boundaries. The
    // corpus is SPLIT AT THE MEDIAN ts into two files fed one per
    // micro-batch (maxFilesPerTrigger=1, mtimes ordered) — if the carry
    // were missing, every user's boundary-straddling pair would vanish
    // and the counts below could not match the batch query.
    val batchEvents = Tables.load(spark, dir, "events")
    val med = batchEvents.selectExpr(
      "CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT)")
      .head.getLong(0)
    val stage = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir") + "/graft_stream_trans_split")
    org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    java.nio.file.Files.createDirectories(stage)
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = stage.resolve(s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = stage.resolve(s"$name.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    writeHalf(batchEvents.filter(expr(s"unix_micros(ts) <= ${med}L")),
      "00_early", 1000000000000L)
    writeHalf(batchEvents.filter(expr(s"unix_micros(ts) > ${med}L")),
      "01_late", 1000000600000L)
    val schema = spark.read.parquet(stage.resolve("00_early.parquet").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = EventsStreaming.transitions(stream)
      .groupBy("from_type", "to_type").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("trans_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("trans_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // batch reference: sq1's transition counts (drop the permille col)
    val batch = graft.queries.SeriesQueries
      .sq1MarkovTransitions(spark, dir)
      .select("from_type", "to_type", "n_transitions")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} cells vs batch ${batch.size}")
    // and the split really exercised the carry: both halves non-empty
    assert(spark.read.parquet(stage.resolve("00_early.parquet").toString).count() > 0)
    assert(spark.read.parquet(stage.resolve("01_late.parquet").toString).count() > 0)
  }
}
