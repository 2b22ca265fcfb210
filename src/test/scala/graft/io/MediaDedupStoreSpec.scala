package graft.io

class MediaDedupStoreSpec extends BandedStoreSpec {
  import spark.implicits._
  import MediaFamily.{hA, hA2, hB, hC}

  private def table(name: String): String = MediaFamily.table(spark, name)

  // shares band 0 with hA but differs in 48 of the other bits — the
  // banded candidate the exact verify must reject
  private val hFalse = hA ^ 0xFFFFFFFFFFFF0000L

  private def df(rows: (Long, Long)*) = rows.toDF("media_id", "dhash")

  private def stored(t: String): Set[(Long, Long)] =
    MediaFamily.stored(spark, t)

  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("crawl-N+1 lifecycle: within-batch keepers, store hits dropped, epochs stamped") {
    lifecycleCase(MediaFamily)
  }

  test("epoch fence: same-epoch replay no-ops, older epoch throws; property is the source") {
    epochFenceCase(MediaFamily)
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
    identityGuardCase(MediaFamily)
  }

  test("bucketed store: folds agree with unbucketed, store-side reads need no shuffle") {
    bucketedCase(MediaFamily)
  }

  test("shape guards: foreign table, bad bands, bad hamming refuse with named errors") {
    foldForeignCase(MediaFamily)
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
    knobDriftCase(MediaFamily)
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
    foldOrderCase(MediaFamily)
  }

  test("keeper policies: max_quality keeps the best re-encode, min_id the smallest id") {
    keeperCase(MediaFamily)
  }

  test("probe guards: foreign table named error, property-less store refuses, verify stamp") {
    probeForeignCase(MediaFamily)
    probeNoPropCase(MediaFamily)
  }
}
