package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS vstore_test")
    s"vstore_test.$name"
  }

  // unit-ish 4-dim fixtures; identical codes dot to ~127^2 = 16129,
  // orthogonal ones to 0 — minScore 12000 ~ cosine 0.75
  private val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
  private val vA2 = Array(0.98f, 0.2f, 0.0f, 0.0f)
  private val vB = Array(0.0f, 1.0f, 0.0f, 0.0f)
  private val vC = Array(0.0f, 0.0f, 1.0f, 0.0f)
  // vC2's perturbation sits in dim 4 (no centroid mass there), so it
  // shares vC's home cell; a dim-2 perturbation would tip the centroid
  // tie and land it in vB's cell — see the boundary-semantics test
  private val vC2 = Array(0.0f, 0.0f, 0.995f, 0.1f)
  private val Score = 12000L

  private def df(rows: (Long, Array[Float])*) =
    rows.toDF("vec_id", "embedding")

  private def stored(t: String): Set[(Long, Long)] =
    VectorDedupStore.storedVecIds(spark, t)
      .as[(Long, Long)].collect().toSet

  test("crawl-N+1 lifecycle: within-batch keepers, store hits dropped, epochs stamped") {
    val t = table("t_lifecycle")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    // batch 1: 101/103 identical vectors (101 keeps), 105 orthogonal
    val f1 = VectorDedupStore.maintain(spark, t,
      df(101L -> vA, 103L -> vA, 105L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    assert(f1.applied && f1.batchRows == 3L, f1.toString)
    assert(stored(t) == Set(101L -> 1L, 105L -> 1L), stored(t).toString)
    // batch 2: 202 near-dups STORED content (dropped by the probe),
    // 204/206 a fresh near-dup cluster (204 keeps)
    val f2 = VectorDedupStore.maintain(spark, t,
      df(202L -> vA2, 204L -> vC, 206L -> vC2),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    assert(f2.applied && f2.batchRows == 3L, f2.toString)
    assert(stored(t) == Set(101L -> 1L, 105L -> 1L, 204L -> 2L),
      stored(t).toString)
  }

  test("calibration is frozen at creation: later folds reuse the founding model") {
    val t = table("t_frozen")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    val model1 = spark.table(s"${t}_model")
      .orderBy("centroid_id").collect().toSeq
    // a batch with triple-magnitude raw vectors: unit-normalization +
    // the STORED amax must keep its codes compatible (3*vC normalizes
    // to vC, so 30/60 near-dup each other and join the store fresh)
    VectorDedupStore.maintain(spark, t,
      df(30L -> vC.map(_ * 3f), 60L -> vC2.map(_ * 3f)),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    assert(spark.table(s"${t}_model")
      .orderBy("centroid_id").collect().toSeq == model1,
      "the model table must never change after creation")
    assert(stored(t).map(_._1) == Set(1L, 2L, 30L))
    // and probing still works against the frozen scale: an exact dup
    // of stored 30 (delivered at raw scale) drops
    VectorDedupStore.maintain(spark, t, df(90L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 3L)
    assert(stored(t).map(_._1) == Set(1L, 2L, 30L),
      "a unit-equal re-delivery must near-dup its stored self")
  }

  test("epoch fence: same-epoch replay no-ops, older epoch throws; property is the source") {
    val t = table("t_fence")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    assert(VectorDedupStore.maintain(spark, t, df(1L -> vA),
      "vec_id", "embedding", Score, epochId = 10L).applied)
    assert(DedupStore.committedEpoch(spark, t).contains(10L),
      "the shared O(1) epoch property carries the vector store's fence too")
    val skip = VectorDedupStore.maintain(spark, t, df(2L -> vB),
      "vec_id", "embedding", Score, epochId = 10L)
    assert(!skip.applied && skip.batchRows == 0L)
    assert(stored(t) == Set(1L -> 10L), "skipped fold must not append")
    val e = intercept[IllegalStateException] {
      VectorDedupStore.maintain(spark, t, df(3L -> vC),
        "vec_id", "embedding", Score, epochId = 9L)
    }
    assert(e.getMessage.contains("OLDER"))
  }

  test("shape guards: foreign table and missing model refuse with named errors") {
    val t = table("t_foreign")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(t)
    val e = intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, t, df(1L -> vA),
        "vec_id", "embedding", Score, epochId = 1L)
    }
    assert(e.getMessage.contains("not a vector dedup store"))

    val t2 = table("t_no_model")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${t2}_model")
    VectorDedupStore.maintain(spark, t2, df(1L -> vA),
      "vec_id", "embedding", Score, epochId = 1L)
    spark.sql(s"DROP TABLE ${t2}_model")
    val e2 = intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, t2, df(2L -> vB),
        "vec_id", "embedding", Score, epochId = 2L)
    }
    assert(e2.getMessage.contains("no model table"))
  }

  test("self-dedup is home-cell-blocked: a boundary pair is the IVF recall trade") {
    // vCb near-dups vC (dot ~16000) but its dim-2 component tips its
    // home cell to vB's centroid, so the WITHIN-BATCH pass never
    // compares them — the same recall trade as the text store's LSH
    // banding (a pair sharing no band is never a candidate). The PROBE
    // stage is wider (nprobe cells), so the same content arriving in a
    // LATER batch is still caught against the store.
    val vCb = Array(0.0f, 0.1f, 0.995f, 0.0f)
    val t = table("t_boundary")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vB, 10L -> vC, 20L -> vCb),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    assert(stored(t).map(_._1) == Set(1L, 2L, 10L, 20L),
      "cross-cell near-dups are NOT merged within a batch (by design)")
    // the same vector re-delivered probes nprobe=2 cells and dies on
    // BOTH stored copies
    VectorDedupStore.maintain(spark, t, df(90L -> vCb),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    assert(stored(t).map(_._1) == Set(1L, 2L, 10L, 20L))
  }

  test("maxCellSize excludes a degenerate cell from the probe (the hot-band analog)") {
    val t = table("t_hot_cell")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    // founding batch: vA/vC/vD are mutually orthogonal (no within-batch
    // dedup) and all tie to centroid 1's cell (scores 0 vs both
    // centroids -> lowest id wins, and vA maxes its own); vB homes alone
    val vD = Array(0.0f, 0.0f, 0.0f, 1.0f)
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vB, 3L -> vC, 4L -> vD),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    // cell occupancies: vB's cell holds 1; centroid 1's cell holds 3.
    // cap 2: the 3-occupant cell is excluded from the probe, so a
    // re-delivery of its content is NOT dropped (the recall trade,
    // loud in the scaladoc) — while the cold cell still probes
    val occ = spark.table(t).groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    assert(occ.values.max == 3L && occ.values.min == 1L, occ.toString)
    val r = VectorDedupStore.maintain(spark, t, df(90L -> vC, 91L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2,
      maxCellSize = Some(2L), epochId = 2L)
    assert(r.applied)
    val ids = stored(t).map(_._1)
    assert(ids.contains(90L),
      "hot-cell content re-delivered under the cap joins as fresh (recall trade)")
    assert(!ids.contains(91L),
      "the cold cell still probes: vB's re-delivery drops")
    // without the cap the same fold drops both
    val t2 = table("t_hot_cell_nocap")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${t2}_model")
    VectorDedupStore.maintain(spark, t2,
      df(1L -> vA, 2L -> vB, 3L -> vC, 4L -> Array(0.0f, 0.0f, 0.0f, 1.0f)),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    VectorDedupStore.maintain(spark, t2, df(90L -> vC, 91L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    assert(stored(t2).map(_._1) == Set(1L, 2L, 3L, 4L),
      "uncapped control: both re-deliveries drop")
  }

  test("probe recall matrix: nprobe dominance; the cap's bite is exactly the hot cell") {
    // the v17_store_probe_recall contract on a PLANTED hot cell (the
    // gate's organic corpus never trips the cap — trained centroids
    // keep occupancy under it, the maxDf lesson): truth = probeHits at
    // nprobe=numCentroids/no-cap (all cells = brute force through the
    // same quantization), then the (nprobe, capped) matrix against it
    val t = table("t_recall_matrix")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    val vD = Array(0.0f, 0.0f, 0.0f, 1.0f)
    // vA/vC/vD all home to centroid 1's cell (occupancy 3); vB alone
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vB, 3L -> vC, 4L -> vD),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    // batch: near-dups of hot-cell content (vA2, vC2), of the cold
    // cell (vB), and a genuine novel direction (diagonal, no match)
    val batch = df(90L -> vA2, 91L -> vC2, 92L -> vB,
      93L -> Array(0.6f, -0.6f, 0.4f, -0.3f))
    def hits(np: Int, cap: Option[Long]): Set[Long] =
      VectorDedupStore.probeHits(spark, t, batch, "vec_id", "embedding",
        Score, nprobe = np, maxCellSize = cap)
        .as[Long].collect().toSet
    val truth = hits(2, None) // numCentroids = 2: every cell probed
    assert(truth == Set(90L, 91L, 92L), truth.toString)
    // capped at 2: the 3-occupant hot cell is excluded — recall loses
    // EXACTLY its content (90/91); the cold cell still answers
    assert(hits(2, Some(2L)) == Set(92L))
    // dominance: nprobe=2 hits are a superset of nprobe=1's, capped or
    // not (more cells probed, same score bar)
    for (cap <- Seq(None, Some(2L): Option[Long])) {
      val h1 = hits(1, cap); val h2 = hits(2, cap)
      assert(h1.subsetOf(h2), s"cap=$cap: $h1 !subset $h2")
    }
    // pure read throughout: five probes advanced nothing
    assert(stored(t).map(_._1) == Set(1L, 2L, 3L, 4L))
  }

  test("founding guard: an empty or all-zero founding batch refuses loudly") {
    val t = table("t_founding_guard")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    // empty: a bricked store (amax undefined -> every future code
    // all-zero, every fold silently appends nothing) must not be born
    val e1 = intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, t, df(), "vec_id", "embedding",
        Score, numCentroids = 2, epochId = 1L)
    }
    assert(e1.getMessage.contains("founding batch"), e1.getMessage)
    // all-zero vectors: amax = 0, same permanent brick
    val e2 = intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, t,
        df(1L -> Array(0.0f, 0.0f, 0.0f, 0.0f)),
        "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    }
    assert(e2.getMessage.contains("zero"), e2.getMessage)
    assert(!spark.catalog.tableExists(t), "no store debris after refusal")
    // and a model table emptied behind the store's back refuses too
    VectorDedupStore.maintain(spark, t, df(1L -> vA), "vec_id",
      "embedding", Score, numCentroids = 1, nprobe = 1, epochId = 1L)
    spark.table(s"${t}_model").filter(lit(false)).write
      .mode("overwrite").saveAsTable(s"${t}_model_empty")
    spark.sql(s"DROP TABLE ${t}_model")
    spark.sql(s"ALTER TABLE ${t}_model_empty RENAME TO ${t}_model")
    val e3 = intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, t, df(2L -> vB), "vec_id",
        "embedding", Score, numCentroids = 1, nprobe = 1, epochId = 2L)
    }
    assert(e3.getMessage.contains("no centroid rows"), e3.getMessage)
  }

  test("trained centroids balance cells where lowest-id seeds collapse") {
    // two orthogonal groups of 3; the 2 lowest ids BOTH sit in group A,
    // so the pre-training centroid pick (the 2 lowest-id codes) puts
    // every vector in one cell (group A codes tie at the same score on
    // both seeds -> lowest id; group B scores 0 on both -> lowest id).
    // Lloyd's separates them: round 1 piles everything on seed 1, its
    // update absorbs both groups (diluting A's score to ~half), and
    // round 2 re-homes A on the untouched seed 2 while B keeps the
    // mixed centroid — 3/3 occupancy. minScore above the identical-code
    // dot (~16129) disables dedup so all six rows store.
    val t = table("t_trained_balance")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vA, 3L -> vA, 10L -> vB, 11L -> vB, 12L -> vB),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    val occ = spark.table(t).groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    assert(occ.size == 2 && occ.values.toSet == Set(3L),
      s"trained cells must split the two groups 3/3, got $occ")
    // and the model table carries the RATIONAL trained centroids
    val cols = spark.table(s"${t}_model").columns.toSet
    assert(cols == Set("centroid_id", "qsum", "n", "amax"), cols.toString)
  }

  test("maxCellSize caps the within-batch self-dedup pair join (hot home cell)") {
    // five identical vectors, one centroid -> one home cell of 5. Cap 3:
    // the cell is hot, the pair join skips it, pair mass 0 instead of
    // 10, and ALL five store (the recall trade, loud in the scaladoc)
    val t = table("t_hot_selfdedup")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vA, 3L -> vA, 4L -> vA, 5L -> vA),
      "vec_id", "embedding", Score, numCentroids = 1, nprobe = 1,
      maxCellSize = Some(3L), epochId = 1L)
    assert(stored(t).map(_._1) == Set(1L, 2L, 3L, 4L, 5L),
      "a hot home cell passes through un-deduped under the cap")
    // uncapped control: the same batch collapses to its smallest id
    val t2 = table("t_hot_selfdedup_nocap")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${t2}_model")
    VectorDedupStore.maintain(spark, t2,
      df(1L -> vA, 2L -> vA, 3L -> vA, 4L -> vA, 5L -> vA),
      "vec_id", "embedding", Score, numCentroids = 1, nprobe = 1,
      epochId = 1L)
    assert(stored(t2).map(_._1) == Set(1L),
      "uncapped control: the cluster keeps its smallest id")
  }

  test("identity guard: a stored vec_id never appends twice, even with changed content") {
    val t = table("t_identity")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    // vec 1 re-delivered with ORTHOGONAL content: the probe would miss
    // it (score 0); the identity guard must still refuse the append
    VectorDedupStore.maintain(spark, t, df(1L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    assert(spark.table(t).filter(col("vec_id") === 1L).count() == 1L,
      "one stored row per vec id, ever")
    assert(stored(t) == Set(1L -> 1L, 2L -> 1L))
  }

  test("retrain re-balances a drifted store: codes/amax/fence untouched, cells re-assigned") {
    // founding batch is ONLY group-A content, so the frozen model's two
    // centroids both sit in A; later folds land every B/C vector in one
    // tie-broken cell — the drift retrain exists for. minScore above the
    // identical-code dot disables dedup so all five rows store.
    val t = table("t_retrain")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vA2),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    // fold-2 content is orthogonal to BOTH founding centroids (zero
    // dot against each), so every vector ties to the lowest-id cell
    val vD = Array(0.0f, 0.0f, 0.0f, 1.0f)
    VectorDedupStore.maintain(spark, t,
      df(10L -> vC, 11L -> vC2, 12L -> vD),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    val occBefore = spark.table(t).groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    assert(occBefore.values.max == 4L,
      s"drift fixture must pile B/C into one A-trained cell, got $occBefore")
    val before = spark.table(t).select("vec_id", "qv", "_epoch")
      .as[(Long, Seq[Int], Long)].collect().toSet
    val amaxBefore = spark.table(s"${t}_model")
      .agg(max($"amax")).head().getDouble(0)

    val r = VectorDedupStore.retrain(spark, t)
    assert(r.k == 2L && r.rows == 5L && r.moved > 0L, r.toString)
    // the data triple never changes — only `cell` may move
    assert(spark.table(t).select("vec_id", "qv", "_epoch")
      .as[(Long, Seq[Int], Long)].collect().toSet == before,
      "retrain must not touch vec_id/qv/_epoch")
    assert(spark.table(s"${t}_model")
      .agg(max($"amax")).head().getDouble(0) == amaxBefore,
      "amax is the frozen scale — retrain must carry it verbatim")
    assert(DedupStore.committedEpoch(spark, t).contains(2L),
      "the epoch fence must survive the rewrite")
    val occAfter = spark.table(t).groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    assert(occAfter.values.toSeq.sorted == Seq(2L, 3L),
      s"retrained cells must split A from B/C, got $occAfter")
    // the retrained store IS the store that would exist had the new
    // model been frozen at creation: model = Lloyd's over the stored
    // codes, cells = argmax assignment against it
    val codes = spark.table(t).select("vec_id", "qv")
    val expectModel = graft.operators.Similarity
      .kmeansCentroidsQuantized(codes, 2, 2)
      .select("centroid_id", "qsum", "n")
      .as[(Long, Seq[Long], Long)].collect().toSet
    assert(spark.table(s"${t}_model").select("centroid_id", "qsum", "n")
      .as[(Long, Seq[Long], Long)].collect().toSet == expectModel)
    val expectCells = graft.operators.Similarity.assignCellsQuantized(
        codes, spark.table(s"${t}_model")
          .select("centroid_id", "qsum", "n"))
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(spark.table(t).select("vec_id", "cell")
      .as[(Long, Long)].collect().toSet == expectCells)
    // the fence still fences (same-epoch replay no-ops) and the probe
    // works against the NEW model: a re-delivery of stored content dies
    assert(!VectorDedupStore.maintain(spark, t, df(90L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2,
      epochId = 2L).applied)
    VectorDedupStore.maintain(spark, t, df(90L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 3L)
    assert(!stored(t).map(_._1).contains(90L),
      "a stored-content re-delivery must still drop after retrain")
  }

  test("retrain is deterministic: a second retrain moves nothing") {
    val t = table("t_retrain_idem")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vA2),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    VectorDedupStore.maintain(spark, t, df(10L -> vB, 11L -> vC),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    VectorDedupStore.retrain(spark, t)
    val model1 = spark.table(s"${t}_model").orderBy("centroid_id")
      .collect().toSeq
    val cells1 = spark.table(t).select("vec_id", "cell")
      .as[(Long, Long)].collect().toSet
    // deterministic training (lowest-id seeds, lowest-id ties) is what
    // makes the crash contract safe: a re-run converges, never wanders
    val r2 = VectorDedupStore.retrain(spark, t)
    assert(r2.moved == 0L, r2.toString)
    assert(spark.table(s"${t}_model").orderBy("centroid_id")
      .collect().toSeq == model1)
    assert(spark.table(t).select("vec_id", "cell")
      .as[(Long, Long)].collect().toSet == cells1)
  }

  test("keeper policies: centroid_farthest keeps SemDeDup's member, min_id the smallest id") {
    // within-batch cluster {1, 3 identical prototypes, 9 perturbed}:
    // the trained home-cell centroid is dominated by the prototypes,
    // so 9 is the LEAST-similar member — the SemDeDup keeper — while
    // min_id keeps 1. Family {2} seeds the other centroid.
    val vA9 = Array(0.9f, 0.436f, 0.0f, 0.0f)
    val batch = df(1L -> vA, 2L -> vB, 3L -> vA, 9L -> vA9)
    val tMin = table("t_keeper_min")
    val tFar = table("t_keeper_far")
    Seq(tMin, tFar).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    }
    VectorDedupStore.maintain(spark, tMin, batch, "vec_id", "embedding",
      Score, numCentroids = 2, epochId = 1L)
    VectorDedupStore.maintain(spark, tFar, batch, "vec_id", "embedding",
      Score, numCentroids = 2, epochId = 1L,
      keeper = "centroid_farthest")
    assert(stored(tMin).map(_._1) == Set(1L, 2L), stored(tMin).toString)
    assert(stored(tFar).map(_._1) == Set(9L, 2L),
      s"the centroid-farthest policy must keep the perturbed member: " +
        stored(tFar).toString)
    // unknown policies refuse loudly
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.maintain(spark, tFar, batch, "vec_id", "embedding",
        Score, epochId = 2L, keeper = "largest_id")
    }.getMessage.contains("keeper"))
  }

  test("store_stats: occupancy spread signals drift; spread-gated retrain no-ops then fires") {
    // the drifted fixture: founding A-only model, later orthogonal
    // fold piles into one tie-broken cell
    val t = table("t_stats_gate")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vA2),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    val vD = Array(0.0f, 0.0f, 0.0f, 1.0f)
    VectorDedupStore.maintain(spark, t,
      df(10L -> vC, 11L -> vC2, 12L -> vD),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 2L)
    val s0 = VectorDedupStore.occupancyStats(spark, t, Some(3L))
    // 2 cells over 5 rows, the hot one holding 4: spread =
    // 1000·4·2/5 = 1600 permille, one cell over the 3-cap
    assert(s0 == VectorDedupStore.OccupancyStats(2L, 5L, 4L, 1600L, 1L),
      s0.toString)
    // below threshold: the gate answers before any k-means or rewrite
    val files = spark.table(t).inputFiles.toSet
    val r0 = VectorDedupStore.retrain(spark, t,
      spreadThresholdPermille = 1700L)
    assert(r0.moved == 0L && spark.table(t).inputFiles.toSet == files,
      "a below-threshold retrain must be a declared no-op")
    // at threshold: fires, re-balances, and the spread COLLAPSES —
    // the signal the cadence reads going back to quiet
    val r1 = VectorDedupStore.retrain(spark, t,
      spreadThresholdPermille = 1600L)
    assert(r1.moved > 0L, r1.toString)
    val s1 = VectorDedupStore.occupancyStats(spark, t, Some(3L))
    assert(s1.spreadPermille < s0.spreadPermille && s1.hotCells == 0L,
      s"retrain must collapse the spread: $s0 -> $s1")
  }

  test("probeHits is a pure READ: stored near-dups found, store never advances") {
    val t = table("t_probe_read")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    val hits = VectorDedupStore.probeHits(spark, t,
        df(10L -> vA2, 11L -> vC), "vec_id", "embedding", Score)
      .as[Long].collect().toSet
    assert(hits == Set(10L), hits.toString)
    assert(stored(t).map(_._1) == Set(1L, 2L),
      "a probe must never append")
  }

  test("occupancyStats reads cells from the MODEL's k: total collapse is k*1000, never 'balanced'") {
    val t = table("t_stats_ksrc")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    // plant the post-prune drift shape: every surviving row in ONE of
    // the model's two cells. Counting only OCCUPIED cells would read
    // this catastrophe as spread = 1000 ("perfectly balanced") and the
    // drift gate would never fire
    val hot = spark.table(t).select("cell").as[Long].head()
    val tc = table("t_stats_ksrc_collapsed")
    spark.sql(s"DROP TABLE IF EXISTS $tc")
    spark.sql(s"DROP TABLE IF EXISTS ${tc}_model")
    spark.table(t).filter($"cell" === hot).write.saveAsTable(tc)
    spark.table(s"${t}_model").write.saveAsTable(s"${tc}_model")
    val s = VectorDedupStore.occupancyStats(spark, tc)
    assert(s.cells == 2L && s.rows == 1L && s.spreadPermille == 2000L,
      s.toString)
    // and a store with no model table refuses (cells would be a guess)
    spark.sql(s"DROP TABLE ${tc}_model")
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.occupancyStats(spark, tc)
    }.getMessage.contains("no model table"))
  }

  test("a declared k-resize bypasses the spread gate (a balanced store must not veto config)") {
    val t = table("t_resize_gate")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB, 3L -> vC),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    // occupancy {2,1} with k=2 -> spread 1333 < 1500: the same-k
    // retrain gates...
    val r0 = VectorDedupStore.retrain(spark, t,
      spreadThresholdPermille = 1500L)
    assert(r0.k == 2L && r0.moved == 0L, r0.toString)
    // ...but a DECLARED num_centroids change must run regardless
    val r1 = VectorDedupStore.retrain(spark, t, numCentroids = Some(3),
      spreadThresholdPermille = 1500L)
    assert(r1.k == 3L, r1.toString)
    assert(spark.table(s"${t}_model").count() == 3L,
      "the declared resize must reach the installed model")
  }

  test("converged retrain touches neither table (no rewrite, no crash window)") {
    val t = table("t_retrain_noop")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB, 3L -> vC),
      "vec_id", "embedding", minScore = 16200L, numCentroids = 2,
      epochId = 1L)
    VectorDedupStore.retrain(spark, t)
    // converged: the k-means reproduces the installed model and no row
    // moves — the second retrain must not INSERT OVERWRITE either
    // table (a nightly-scheduled retrain would otherwise pay a
    // full-store rewrite, with its crash window, to change nothing)
    val storeFiles = spark.table(t).inputFiles.toSet
    val modelFiles = spark.table(s"${t}_model").inputFiles.toSet
    val r2 = VectorDedupStore.retrain(spark, t)
    assert(r2.moved == 0L, r2.toString)
    assert(spark.table(t).inputFiles.toSet == storeFiles,
      "a moved == 0 retrain must skip the store rewrite")
    assert(spark.table(s"${t}_model").inputFiles.toSet == modelFiles,
      "an unchanged model must not be re-installed")
  }

  test("retrain recovers a missing model table from the staged __retrain_stage copy") {
    val t = table("t_retrain_recover")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    val model = spark.table(s"${t}_model").orderBy("centroid_id")
      .collect().toSeq
    // the legacy-cv migration's drop-and-recreate crash shape: the
    // model's staged commit survives, the catalog table is gone
    val stage = Commit.versionPath(spark, s"${t}_model").toString
    spark.table(s"${t}_model").write.mode("overwrite").parquet(stage)
    spark.sql(s"DROP TABLE ${t}_model")
    // recovery is automatic: retrain reinstalls the staged model, then
    // proceeds — the re-run-to-convergence contract covers this window
    VectorDedupStore.retrain(spark, t)
    assert(spark.catalog.tableExists(s"${t}_model"))
    assert(spark.table(s"${t}_model").orderBy("centroid_id")
      .collect().toSeq == model,
      "the recovered model must be the staged calibration (amax intact)")
    // and the recovered store still folds: stored content re-delivery
    // drops, fresh content appends
    VectorDedupStore.maintain(spark, t, df(90L -> vA, 91L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    val ids = stored(t).map(_._1)
    assert(!ids.contains(90L) && ids.contains(91L), ids.toString)
  }

  test("retrain refusals: foreign table, missing model, empty store") {
    val t = table("t_retrain_foreign")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.retrain(spark, t)
    }.getMessage.contains("not a vector dedup store"))

    val t2 = table("t_retrain_nomodel")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${t2}_model")
    VectorDedupStore.maintain(spark, t2, df(1L -> vA),
      "vec_id", "embedding", Score, epochId = 1L)
    spark.sql(s"DROP TABLE ${t2}_model")
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.retrain(spark, t2)
    }.getMessage.contains("no model table"))

    // an emptied store (a prune window that kept nothing) has no codes
    // to train on — an empty model would brick every later fold
    val t3 = table("t_retrain_empty")
    spark.sql(s"DROP TABLE IF EXISTS $t3")
    spark.sql(s"DROP TABLE IF EXISTS ${t3}_model")
    VectorDedupStore.maintain(spark, t3, df(1L -> vA),
      "vec_id", "embedding", Score, epochId = 1L)
    spark.table(t3).filter(lit(false)).write.mode("overwrite")
      .saveAsTable(s"${t3}_emptied")
    spark.sql(s"DROP TABLE $t3")
    spark.sql(s"ALTER TABLE ${t3}_emptied RENAME TO $t3")
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.retrain(spark, t3)
    }.getMessage.contains("empty"))
  }

  test("retrain modernizes a legacy cv model into trained rational centroids") {
    val t = table("t_retrain_legacy")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    // rewrite the model in the pre-training shape: integer code-vector
    // centroids under a `cv` column (read back as qsum = cv, n = 1)
    spark.table(s"${t}_model")
      .select($"centroid_id",
        transform($"qsum", x => (x / $"n").cast("int")).as("cv"), $"amax")
      .write.mode("overwrite").saveAsTable(s"${t}_model_legacy")
    spark.sql(s"DROP TABLE ${t}_model")
    spark.sql(s"ALTER TABLE ${t}_model_legacy RENAME TO ${t}_model")
    VectorDedupStore.retrain(spark, t)
    assert(spark.table(s"${t}_model").columns.toSet ==
      Set("centroid_id", "qsum", "n", "amax"),
      "retrain is the declared migration path off cv models")
    // and the migrated store still folds + probes
    VectorDedupStore.maintain(spark, t, df(90L -> vA, 91L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 2L)
    val ids = stored(t).map(_._1)
    assert(!ids.contains(90L) && ids.contains(91L), ids.toString)
  }

  test("probe join is cell-equi — never a nested loop; store side scans in place") {
    val t = table("t_plan")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t, df(1L -> vA, 2L -> vB, 3L -> vC),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    val probes = spark.table(t).select("vec_id", "qv", "cell")
    val sp = VectorDedupStore.storeHits(spark, t, probes, Score)
      .queryExecution.sparkPlan
    val bad = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty, s"the batch x store probe must stay cell-equi:\n$sp")
  }

  test("probe refuses a foreign table with a named error; verify divergence warns") {
    val t = table("t_probe_foreign")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.probeHits(spark, t, df(9L -> vA),
        "vec_id", "embedding", Score)
    }.getMessage.contains("not a vector dedup store"))

    val t2 = table("t_probe_verify")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${t2}_model")
    VectorDedupStore.maintain(spark, t2, df(1L -> vA, 2L -> vB),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t2))
    assert(meta.properties.get(VectorDedupStore.VerifyProperty)
      .contains(s"minScore=$Score"))
    // a looser probe threshold warns but still answers its question
    assert(DedupStore.warnVerifyDivergence(spark, t2,
      VectorDedupStore.VerifyProperty, "minScore=1", "store probe")
      .exists(_.contains("diverge")))
    assert(VectorDedupStore.probeHits(spark, t2, df(9L -> vA),
      "vec_id", "embedding", minScore = 1L).as[Long].collect()
      .toSet == Set(9L))
  }

  test("successful retrain sweeps its stage: an intentionally dropped model is not resurrected") {
    val t = table("t_retrain_sweep")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    VectorDedupStore.maintain(spark, t,
      df(1L -> vA, 2L -> vB, 3L -> vC, 4L -> vC2),
      "vec_id", "embedding", Score, numCentroids = 2, epochId = 1L)
    // a k-resize forces a real (modelChanged) retrain through the
    // staged path
    VectorDedupStore.retrain(spark, t, numCentroids = Some(3))
    val stages = Seq(t, s"${t}_model").map(Commit.dir(spark, _))
    val fs = stages.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!stages.exists(fs.exists),
      "a SUCCESSFUL retrain must sweep its stage dir — a surviving " +
        "staged model would resurrect an intentionally dropped model table")
    // the intentional drop now refuses instead of silently reinstalling
    // a stale calibration
    spark.sql(s"DROP TABLE ${t}_model")
    assert(intercept[IllegalArgumentException] {
      VectorDedupStore.retrain(spark, t)
    }.getMessage.contains("no model table"))
  }
}
