package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MediaDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS mstore_test")
    s"mstore_test.$name"
  }

  // 64-bit dHash fixtures: near-dups differ in <= 16 bits, unrelated
  // images in ~32 (the dHash contract MultimodalSpec measures)
  private val hA = 0x0123456789ABCDEFL
  private val hA2 = hA ^ 0x7L // 3 flips inside band 0 — bands 1..3 intact
  private val hA3 = hA ^ 0x30L // another re-encode of the same content
  private val hB = ~hA // hamming 64, every band differs
  private val hC = 0x00FF00FF00FF00FFL
  private val hC2 = hC ^ ((1L << 20) | (1L << 40)) // hamming 2
  // shares band 0 with hA but differs in 48 of the other bits — the
  // banded candidate the exact verify must reject
  private val hFalse = hA ^ 0xFFFFFFFFFFFF0000L

  private def df(rows: (Long, Long)*) = rows.toDF("media_id", "dhash")

  private def stored(t: String): Set[(Long, Long)] =
    MediaDedupStore.storedMediaIds(spark, t)
      .select("media_id", "_epoch").as[(Long, Long)].collect().toSet

  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("crawl-N+1 lifecycle: within-batch keepers, store hits dropped, epochs stamped") {
    val t = table("t_lifecycle")
    drop(t)
    // batch 1: 1/3 near-dup re-encodes (1 keeps), 5 unrelated
    val f1 = MediaDedupStore.maintain(spark, t, df(1L -> hA, 3L -> hA2, 5L -> hB),
      "media_id", "dhash", epochId = 1L)
    assert(f1.applied && f1.batchRows == 3L, f1.toString)
    assert(stored(t) == Set(1L -> 1L, 5L -> 1L), stored(t).toString)
    // batch 2: 202 is a re-encode of STORED content (probe drops it),
    // 204/206 a fresh near-dup cluster (204 keeps)
    val f2 = MediaDedupStore.maintain(spark, t,
      df(202L -> hA3, 204L -> hC, 206L -> hC2),
      "media_id", "dhash", epochId = 2L)
    assert(f2.applied && f2.batchRows == 3L, f2.toString)
    assert(stored(t) == Set(1L -> 1L, 5L -> 1L, 204L -> 2L),
      stored(t).toString)
    // store schema: one row per (image, band), hash carried per row
    assert(spark.table(t).count() == 12L)
  }

  test("epoch fence: same-epoch replay no-ops, older epoch throws; property is the source") {
    val t = table("t_fence")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA),
      "media_id", "dhash", epochId = 5L)
    assert(DedupStore.committedEpoch(spark, t).contains(5L))
    val replay = MediaDedupStore.maintain(spark, t, df(2L -> hB),
      "media_id", "dhash", epochId = 5L)
    assert(!replay.applied && replay.batchRows == 0L, replay.toString)
    assert(stored(t).map(_._1) == Set(1L))
    val e = intercept[IllegalStateException] {
      MediaDedupStore.maintain(spark, t, df(2L -> hB),
        "media_id", "dhash", epochId = 3L)
    }
    assert(e.getMessage.contains("OLDER"), e.getMessage)
  }

  test("a shared-band false friend survives: the exact Hamming verify rejects it") {
    val t = table("t_false_friend")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA),
      "media_id", "dhash", epochId = 1L)
    // hFalse collides with hA in band 0 (the banded candidate path)
    // but sits 48 bits away — NOT a near-dup; it must append
    MediaDedupStore.maintain(spark, t, df(9L -> hFalse),
      "media_id", "dhash", epochId = 2L)
    assert(stored(t).map(_._1) == Set(1L, 9L), stored(t).toString)
  }

  test("maxBucketSize excludes a hot band from pairing (recall trade, capped mass)") {
    // four images share band 0 = 0xCDEF; x/y are true near-dups whose
    // ONLY shared band is that one (y flips one bit in each of bands
    // 1..3); the fillers are far from everything. cap 3 < 4 silences
    // the hot bucket, so x/y are never proposed and BOTH survive —
    // the documented recall trade; uncapped, y dies
    val x = 0xCDEFL
    val y = x ^ (1L << 16) ^ (1L << 32) ^ (1L << 48)
    val fill1 = x | (0xFFFFFFL << 16)
    val fill2 = x | (0xFFFFFFL << 40)
    val batch = df(1L -> x, 2L -> y, 3L -> fill1, 4L -> fill2)
    val capped = table("t_hot_capped")
    val uncapped = table("t_hot_plain")
    Seq(capped, uncapped).foreach(drop)
    MediaDedupStore.maintain(spark, capped, batch, "media_id", "dhash",
      maxBucketSize = Some(3L), epochId = 1L)
    MediaDedupStore.maintain(spark, uncapped, batch, "media_id", "dhash",
      epochId = 1L)
    assert(stored(capped).map(_._1) == Set(1L, 2L, 3L, 4L),
      stored(capped).toString)
    assert(stored(uncapped).map(_._1) == Set(1L, 3L, 4L),
      stored(uncapped).toString)
    // and on the PROBE side: a later re-encode of x whose only shared
    // band is the (still) hot stored bucket passes through uncaught
    val probeBatch = df(100L -> (x ^ (2L << 16) ^ (2L << 32) ^ (2L << 48)))
    MediaDedupStore.maintain(spark, capped, probeBatch, "media_id", "dhash",
      maxBucketSize = Some(3L), epochId = 2L)
    assert(stored(capped).map(_._1).contains(100L),
      "a hot store band is excluded from the probe (recall trade)")
    MediaDedupStore.maintain(spark, uncapped, probeBatch, "media_id", "dhash",
      epochId = 2L)
    assert(!stored(uncapped).map(_._1).contains(100L),
      "uncapped, the probe catches the stored near-dup")
  }

  test("probeHits is a pure READ: stored near-dups found, store never advances") {
    val t = table("t_probe_read")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA, 5L -> hB),
      "media_id", "dhash", epochId = 1L)
    val hits = MediaDedupStore.probeHits(spark, t,
        df(10L -> hA2, 11L -> hC), "media_id", "dhash")
      .as[Long].collect().toSet
    assert(hits == Set(10L), hits.toString)
    assert(stored(t).map(_._1) == Set(1L, 5L), "a probe must never append")
  }

  test("identity guard: a stored media_id never appends twice, even with changed content") {
    val t = table("t_identity")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA),
      "media_id", "dhash", epochId = 1L)
    MediaDedupStore.maintain(spark, t, df(1L -> hB, 2L -> hC),
      "media_id", "dhash", epochId = 2L)
    assert(stored(t) == Set(1L -> 1L, 2L -> 2L), stored(t).toString)
    assert(spark.table(t).filter(col("media_id") === 1L).count() == 4L,
      "id 1 must keep exactly its original four band rows")
  }

  test("bucketed store: folds agree with unbucketed, store-side reads need no shuffle") {
    val plain = table("t_plain")
    val bucketed = table("t_bucketed")
    Seq(plain, bucketed).foreach(drop)
    val b1 = df(101L -> hA, 103L -> hA2, 105L -> hB)
    val b2 = df(202L -> hA3, 204L -> hC)
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      MediaDedupStore.maintain(spark, plain, b, "media_id", "dhash",
        epochId = i + 1L)
      MediaDedupStore.maintain(spark, bucketed, b, "media_id", "dhash",
        storeBuckets = 4, epochId = i + 1L)
    }
    assert(stored(bucketed) == stored(plain))
    val agg = spark.table(bucketed).groupBy("band_key").count()
    val physical = agg.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"bucketed store scan must not shuffle:\n$physical")
    // bucket-spec drift refuses with the store's own diagnostic
    val e = intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, bucketed, b1, "media_id", "dhash",
        storeBuckets = 8, epochId = 3L)
    }
    assert(e.getMessage.contains("bucket layout is fixed"), e.getMessage)
  }

  test("shape guards: foreign table, bad bands, bad hamming refuse with named errors") {
    val t = table("t_foreign")
    drop(t)
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, t, df(1L -> hA), "media_id", "dhash",
        epochId = 1L)
    }.getMessage.contains("not a media dedup store"))
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, table("t_cfg"), df(1L -> hA),
        "media_id", "dhash", bands = 5, epochId = 1L)
    }.getMessage.contains("bands"))
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, table("t_cfg"), df(1L -> hA),
        "media_id", "dhash", maxHamming = 64L, epochId = 1L)
    }.getMessage.contains("maxHamming"))
  }

  test("knob drift refuses: the frozen band count gates later folds AND probes") {
    val t = table("t_knob_drift")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA),
      "media_id", "dhash", bands = 4, epochId = 1L)
    // band keys are a function of `bands` — a mismatched fold or probe
    // would band-join incompatible keys and silently match NOTHING
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, t, df(2L -> hB),
        "media_id", "dhash", bands = 8, epochId = 2L)
    }.getMessage.contains("frozen fold settings"))
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.probeHits(spark, t, df(10L -> hA2),
        "media_id", "dhash", bands = 2)
    }.getMessage.contains("frozen fold settings"))
    // the matching settings still work both ways
    assert(MediaDedupStore.probeHits(spark, t, df(10L -> hA2),
      "media_id", "dhash", bands = 4).as[Long].collect().toSet == Set(10L))
  }

  test("lifecycle completeness: compact and prune_store work on the media store, properties survive") {
    val t = table("t_lifecycle_full")
    drop(t)
    MediaDedupStore.maintain(spark, t, df(1L -> hA, 5L -> hB),
      "media_id", "dhash", epochId = 10L)
    MediaDedupStore.maintain(spark, t, df(204L -> hC),
      "media_id", "dhash", epochId = 20L)
    // compaction folds the per-fold file growth; the graft.* properties
    // (epoch fence + frozen knobs) survive the staged rewrite
    val (before, after) = Maintenance.compact(spark, t, 1000000L)
    assert(after <= before && spark.table(t).count() == 12L)
    assert(DedupStore.committedEpoch(spark, t).contains(20L),
      "the epoch fence must survive compaction")
    // retention: the 5-epoch window anchored at the committed epoch 20
    // drops the epoch-10 fold; probes against the surviving window work
    val (deleted, kept) = Maintenance.pruneStore(spark, t, keepEpochs = 5L)
    assert(deleted == 8L && kept == 4L, s"$deleted/$kept")
    assert(stored(t).map(_._1) == Set(204L), stored(t).toString)
    // the knob guard survived both rewrites: a drifted fold still
    // refuses, a matching fold still lands
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, t, df(7L -> hA2),
        "media_id", "dhash", bands = 8, epochId = 30L)
    }.getMessage.contains("frozen fold settings"))
    MediaDedupStore.maintain(spark, t, df(7L -> hA2),
      "media_id", "dhash", epochId = 30L)
    // hA was PRUNED, so its re-encode is re-admittable — the
    // documented retention trade, visible end to end
    assert(stored(t).map(_._1) == Set(204L, 7L), stored(t).toString)
  }

  test("fold order changes keepers but never the dedup invariant") {
    val fwd = table("t_order_fwd")
    val rev = table("t_order_rev")
    Seq(fwd, rev).foreach(drop)
    val b1 = df(1L -> hA, 3L -> hB)
    val b2 = df(2L -> hA2, 4L -> hC)
    MediaDedupStore.maintain(spark, fwd, b1, "media_id", "dhash", epochId = 1L)
    MediaDedupStore.maintain(spark, fwd, b2, "media_id", "dhash", epochId = 2L)
    MediaDedupStore.maintain(spark, rev, b2, "media_id", "dhash", epochId = 1L)
    MediaDedupStore.maintain(spark, rev, b1, "media_id", "dhash", epochId = 2L)
    // whichever of {1, 2} (the near-dup pair across folds) arrived
    // first keeps; exactly one of them is stored either way
    for (t <- Seq(fwd, rev)) {
      val ids = stored(t).map(_._1)
      assert(ids.intersect(Set(1L, 2L)).size == 1 &&
        ids.contains(3L) && ids.contains(4L), s"$t: $ids")
    }
    assert(stored(fwd).map(_._1).contains(1L))
    assert(stored(rev).map(_._1).contains(2L))
  }

  test("keeper policies: max_quality keeps the best re-encode, min_id the smallest id") {
    def qdf(rows: (Long, Long, Long)*) =
      rows.toDF("media_id", "dhash", "bytes")
    // 1/3 near-dup re-encodes; 3 is the higher-resolution copy (more
    // bytes) but NOT the smallest id — the policies must diverge
    val batch = qdf((1L, hA, 100L), (3L, hA2, 900L), (5L, hC, 400L))
    val tMin = table("t_keeper_min")
    val tQ = table("t_keeper_q")
    Seq(tMin, tQ).foreach(drop)
    MediaDedupStore.maintain(spark, tMin, batch, "media_id", "dhash",
      epochId = 1L)
    MediaDedupStore.maintain(spark, tQ, batch, "media_id", "dhash",
      epochId = 1L, keeper = "max_quality",
      qualityCol = Some("bytes"))
    assert(stored(tMin).map(_._1) == Set(1L, 5L))
    assert(stored(tQ).map(_._1) == Set(3L, 5L),
      "max_quality must keep the planted cluster's best re-encode")
    // quality never enters the store schema; guards mirror the text store
    assert(spark.table(tQ).columns.sorted.toSeq ==
      Seq("_epoch", "band_idx", "band_key", "dhash", "media_id"))
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, tQ, batch, "media_id", "dhash",
        epochId = 2L, keeper = "max_quality")
    }.getMessage.contains("needs qualityCol"))
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.maintain(spark, tQ, batch, "media_id", "dhash",
        epochId = 2L, qualityCol = Some("bytes"))
    }.getMessage.contains("only used by keeper max_quality"))
  }

  test("probe guards: foreign table named error, property-less store refuses, verify stamp") {
    val t = table("t_probe_guards")
    drop(t)
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.probeHits(spark, t, df(9L -> hA), "media_id", "dhash")
    }.getMessage.contains("not a media dedup store"))

    val t2 = table("t_probe_noprop")
    drop(t2)
    MediaDedupStore.maintain(spark, t2, df(1L -> hA), "media_id", "dhash",
      epochId = 1L)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t2))
    assert(meta.properties.get(MediaDedupStore.VerifyProperty)
      .contains("maxHamming=16"))
    spark.sql(s"ALTER TABLE $t2 UNSET TBLPROPERTIES " +
      s"('${MediaDedupStore.KnobsProperty}')")
    assert(intercept[IllegalArgumentException] {
      MediaDedupStore.probeHits(spark, t2, df(9L -> hA2),
        "media_id", "dhash")
    }.getMessage.contains(MediaDedupStore.KnobsProperty))
    // a fold re-stamps; the probe reads again
    MediaDedupStore.maintain(spark, t2, df(2L -> hC), "media_id", "dhash",
      epochId = 2L)
    assert(MediaDedupStore.probeHits(spark, t2, df(9L -> hA2),
      "media_id", "dhash").as[Long].collect().toSet == Set(9L))
  }
}
