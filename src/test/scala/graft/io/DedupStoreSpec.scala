package graft.io

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class DedupStoreSpec extends BandedStoreSpec {
  import spark.implicits._

  private def table(name: String): String = TextFamily.table(spark, name)

  import TextFamily.{textA, textB, textC}

  private def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("crawl-N+1 lifecycle: within-batch keepers, store hits dropped, epochs stamped") {
    lifecycleCase(TextFamily)
  }

  test("epoch fence: same-epoch replay no-ops, older epoch throws") {
    epochFenceCase(TextFamily)
  }

  test("unfenced exact replay converges: every doc matches its own stored self") {
    val t = table("t_replay")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val batch = df(1L -> textA, 2L -> textB)
    assert(DedupStore.maintain(spark, t, batch, "doc_id", "text",
      epochId = 1L).applied)
    val first = spark.table(t).orderBy("doc_id", "band_idx").collect().toSeq
    assert(DedupStore.maintain(spark, t, batch, "doc_id", "text",
      epochId = 2L).applied,
      "unfenced fold applies ...")
    assert(spark.table(t).orderBy("doc_id", "band_idx").collect().toSeq == first,
      "... but appends nothing — the batch deduped against itself in the store")
  }

  /** A long doc and a one-word-off variant chosen so they share SOME
    * but not ALL LSH bands (deterministic under XxHash — searched once
    * per run over 50 fixed candidates, so a hash-family change
    * self-heals instead of silently testing nothing).
    */
  private lazy val (long1, long2) = {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val stem = (1 to 39).map(i => s"tok$i").mkString(" ")
    val cands = (1 to 50).map(k => stem + s" changed$k")
    val rows = Dedup.withMinhashBands(
      df((1L -> base) +: cands.zipWithIndex.map {
        case (c, i) => (i + 2L) -> c }: _*), "text", 3, 16, 4)
      .select("doc_id", "band_0", "band_1", "band_2", "band_3")
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    val pick = cands.zipWithIndex.find { case (_, i) =>
      val (a, b) = (rows(1L), rows(i + 2L))
      a != b && a.zip(b).exists { case (x, y) => x == y }
    }
    assert(pick.nonEmpty, "no candidate shares some-but-not-all bands")
    (base, pick.get._1)
  }

  test("jaccard threshold separates near-dups from shared-band false friends") {
    long1 // force the fixture search (and its some-but-not-all assert)

    val strict = table("t_thresh_strict")
    spark.sql(s"DROP TABLE IF EXISTS $strict")
    DedupStore.maintain(spark, strict, df(1L -> long1, 2L -> long2),
      "doc_id", "text", jaccardThreshold = 0.99, epochId = 1L)
    assert(DedupStore.storedDocIds(spark, strict).as[(Long, Long)]
      .collect().map(_._1).toSet == Set(1L, 2L),
      "threshold 0.99: the banded collision fails the verify — both kept")

    val loose = table("t_thresh_loose")
    spark.sql(s"DROP TABLE IF EXISTS $loose")
    DedupStore.maintain(spark, loose, df(1L -> long1, 2L -> long2),
      "doc_id", "text", jaccardThreshold = 0.5, epochId = 1L)
    assert(DedupStore.storedDocIds(spark, loose).as[(Long, Long)]
      .collect().map(_._1).toSet == Set(1L),
      "threshold 0.5: the variant verifies as a near-dup — keeper only")
  }

  test("cross-batch near-dup (not exact) is dropped by the store probe's verify") {
    val t = table("t_probe_verify")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> long1), "doc_id", "text",
      jaccardThreshold = 0.5, epochId = 1L)
    DedupStore.maintain(spark, t, df(2L -> long2, 3L -> textB), "doc_id", "text",
      jaccardThreshold = 0.5, epochId = 2L)
    assert(DedupStore.storedDocIds(spark, t).as[(Long, Long)].collect().toSet ==
      Set(1L -> 1L, 3L -> 2L))
  }

  test("epoch fence reads the table property, not a store scan; legacy stores fall back") {
    val t = table("t_epoch_prop")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(DedupStore.maintain(spark, t, df(1L -> textA), "doc_id", "text",
      epochId = 5L).applied)
    assert(DedupStore.committedEpoch(spark, t).contains(5L))
    // the property — not the data — is the fence's source of truth:
    // bump it past the stored rows' max(_epoch) and the fence follows
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${DedupStore.EpochProperty}' = '7')")
    assert(DedupStore.committedEpoch(spark, t).contains(7L),
      "a 5-row store scan would have said 5")
    assert(!DedupStore.maintain(spark, t, df(2L -> textB), "doc_id", "text",
      epochId = 7L).applied, "fence must honor the property epoch")
    // legacy store (pre-property): unset → one-time max(_epoch) scan
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES " +
      s"('${DedupStore.EpochProperty}')")
    assert(DedupStore.committedEpoch(spark, t).contains(5L),
      "property absent must fall back to the data scan")
    // and the next applied fold re-stamps the property
    assert(DedupStore.maintain(spark, t, df(3L -> textC), "doc_id", "text",
      epochId = 8L).applied)
    assert(DedupStore.committedEpoch(spark, t).contains(8L))
  }

  test("bucket-spec drift refuses up front with the store's own diagnostic") {
    val t = table("t_bucket_drift")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA), "doc_id", "text",
      storeBuckets = 4, epochId = 1L)
    val e = intercept[IllegalArgumentException] {
      DedupStore.maintain(spark, t, df(2L -> textB), "doc_id", "text",
        storeBuckets = 0, epochId = 2L)
    }
    assert(e.getMessage.contains("storeBuckets=0") &&
      e.getMessage.contains("4 buckets"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DedupStore.maintain(spark, t, df(2L -> textB), "doc_id", "text",
        storeBuckets = 8, epochId = 2L)
    }
    assert(e2.getMessage.contains("storeBuckets=8"), e2.getMessage)
    // the store's own setting still folds
    assert(DedupStore.maintain(spark, t, df(2L -> textB), "doc_id", "text",
      storeBuckets = 4, epochId = 2L).applied)
  }

  test("compaction preserves the epoch property (graft.* TBLPROPERTIES survive the rewrite)") {
    val t = table("t_compact_epoch")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA, 2L -> textB),
      "doc_id", "text", storeBuckets = 4, epochId = 3L)
    assert(DedupStore.committedEpoch(spark, t).contains(3L))
    Maintenance.compact(spark, t)
    // saveAsTable(Overwrite) recreates the table; without the re-stamp
    // the O(1) fence silently degrades to the legacy data scan — and
    // the shipped corpus config compacts the store EVERY run
    assert(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties.get(DedupStore.EpochProperty).contains("3"),
      "compact must carry graft.* table properties through the rewrite")
    assert(DedupStore.committedEpoch(spark, t).contains(3L))
    // and the fence still works post-compaction
    assert(!DedupStore.maintain(spark, t, df(9L -> textC), "doc_id", "text",
      storeBuckets = 4, epochId = 3L).applied)
  }

  test("identity guard: a stored doc_id never appends twice, even with changed content") {
    identityGuardCase(TextFamily)
  }

  test("crash-retry converges: a stale epoch property re-runs the fold without duplicating") {
    val t = table("t_crash_retry")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA, 2L -> textB),
      "doc_id", "text", epochId = 5L)
    val committed = spark.table(t).orderBy("doc_id", "band_idx").collect().toSeq
    // simulate a crash BETWEEN the append and the property stamp: the
    // data carries epoch 5 but the property says 4
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${DedupStore.EpochProperty}' = '4')")
    // the operator's same-date retry re-runs (the fence can't know) —
    // and must converge: every doc matches its stored self
    val r = DedupStore.maintain(spark, t, df(1L -> textA, 2L -> textB),
      "doc_id", "text", epochId = 5L)
    assert(r.applied, "a stale property re-runs the fold (documented window)")
    assert(spark.table(t).orderBy("doc_id", "band_idx").collect().toSeq ==
      committed, "the retry must append nothing")
    assert(DedupStore.committedEpoch(spark, t).contains(5L),
      "the retry re-stamps the property")
  }

  test("no staging scratch survives a fold (founding or append)") {
    // r20: append folds sever the read-own-table cycle with an eager
    // localCheckpoint instead of a staged parquet round-trip — no fold
    // may leave survivor band rows duplicated next to the store
    val t = table("t_scratch")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA), "doc_id", "text",
      epochId = 1L)
    DedupStore.maintain(spark, t, df(2L -> textB), "doc_id", "text",
      epochId = 2L)
    val scratch = Commit.dir(spark, t)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(scratch),
      "survivor band rows must not stay duplicated next to the store")
  }

  test("store shape guard refuses a foreign table") {
    foldForeignCase(TextFamily)
  }

  test("bucketed store: folds agree with unbucketed, store-side reads need no shuffle") {
    bucketedCase(TextFamily)
  }

  test("knob drift refuses: frozen shingle/hash/band settings gate folds AND probes") {
    knobDriftCase(TextFamily)
  }

  test("fold order changes keepers but never the dedup invariant (exact-dup corpus)") {
    foldOrderCase(TextFamily)
  }

  test("keeper policies: max_quality keeps the best member, min_id the smallest id") {
    keeperCase(TextFamily)
  }

  test("read-path knob check is never vacuous: a property-less store refuses the probe") {
    probeNoPropCase(TextFamily)
  }

  test("probe refuses a foreign table with a named error, not a missing-column crash") {
    probeForeignCase(TextFamily)
  }

  test("verify threshold is stamped informationally: divergent probes warn but run") {
    val t = table("t_probe_verify")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA), "doc_id", "text",
      jaccardThreshold = 0.5, epochId = 1L)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    assert(meta.properties.get(DedupStore.VerifyProperty)
      .contains("jaccardThreshold=0.5"))
    // a matching probe produces no divergence message
    assert(DedupStore.warnVerifyDivergence(spark, t,
      DedupStore.VerifyProperty, "jaccardThreshold=0.5", "store probe")
      .isEmpty)
    // a divergent threshold WARNS (returned + logged) and the probe
    // still answers its looser membership question
    assert(DedupStore.warnVerifyDivergence(spark, t,
      DedupStore.VerifyProperty, "jaccardThreshold=0.0", "store probe")
      .exists(_.contains("diverge")))
    assert(DedupStore.probeHits(spark, t, df(10L -> textA), "doc_id",
      "text", jaccardThreshold = 0.0).as[Long].collect().toSet == Set(10L))
  }

  test("an append fold's checkpoint blocks are freed without the lineage WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val t = table("t_free_blocks")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    DedupStore.maintain(spark, t, df(1L -> textA), "doc_id", "text",
      epochId = 1L)
    val caught = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val watch = new AbstractAppender("lineage-watch", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        caught.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    watch.start()
    ctx.getConfiguration.getRootLogger.addAppender(watch, null, null)
    ctx.updateLoggers()
    try {
      // the append path of a fold whose survivors read the store itself
      val before = graft.operators.FrameCaches.tracked(spark)
      def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val ids = graft.operators.FrameCaches.scoped(spark) {
        DedupStore.appendSurvivors(spark, t,
          spark.table(t).withColumn("doc_id", col("doc_id") + 1000L),
          exists = true, buckets = 0, epochId = 2L, properties = Nil)
        val ids = graft.operators.FrameCaches.tracked(spark)
          .filterNot(d => before.exists(_ eq d))
          .flatMap(_.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          })
        assert(ids.nonEmpty && ids.forall(stored), s"checkpointed $ids")
        ids
      }
      assert(ids.forall(!stored(_)), s"blocks left for $ids")
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender("lineage-watch")
      ctx.updateLoggers()
      watch.stop()
    }
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .isWarnEnabled, "the WARN this test watches for must be enabled")
    assert(!caught.asScala.exists(_.contains("lineage has been truncated")),
      caught.asScala.mkString("\n"))
    assert(DedupStore.storedDocIds(spark, t).count() == 2L)
  }

  test("a founding fold caches its banded batch once: no CacheManager re-cache WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val caught = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val watch = new AbstractAppender("cache-watch", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        caught.add(e.getMessage.getFormattedMessage)
    }
    val cacheLog = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    assert(cacheLog.isWarnEnabled, "the WARN this test watches for must be enabled")
    watch.start()
    cacheLog.addAppender(watch)
    try for (f <- families) {
      val t = fresh(f, "t_founding_cache")
      assert(f.maintain(spark, t, f.batch(spark, 1L -> f.a, 2L -> f.b),
        epochId = 1L).applied)
      assert(!caught.asScala.exists(_.contains("already cached")),
        s"${f.idCol} founding fold: " + caught.asScala.mkString("\n"))
    } finally {
      cacheLog.removeAppender(watch)
      watch.stop()
    }
  }
}
