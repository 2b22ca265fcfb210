package graft.io

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** One banded store family as a test input: the text ([[DedupStore]])
  * and media ([[MediaDedupStore]]) stores run one shared fold, so the
  * cases in [[BandedStoreSpec]] take the family as a parameter.
  * Fixture payloads: `a`, `a2`, `a3` are near-dups of one content
  * (exact copies on the text side), `c`, `c2` of another, and `b` is
  * unrelated to both.
  */
sealed abstract class BandedFamily(val idCol: String, val valueCol: String,
    val payloadCol: String, valueType: DataType, db: String) {
  val a, a2, a3, b, c, c2: Any
  /** The family's name in the foreign-table refusal. */
  val notAStore: String
  val knobsProperty: String
  /** The verify property as the default-knob fold stamps it. */
  val verifyStamp: (String, String)

  def maintain(spark: SparkSession, t: String, batch: DataFrame, epochId: Long,
      storeBuckets: Int = 0, keeper: String = "min_id",
      qualityCol: Option[String] = None): DedupStore.FoldResult
  /** A fold whose key-affecting knobs differ from the defaults. */
  def maintainDrifted(spark: SparkSession, t: String, batch: DataFrame,
      epochId: Long): DedupStore.FoldResult
  def probe(spark: SparkSession, t: String, batch: DataFrame): DataFrame
  /** A probe whose key-affecting knobs differ from the defaults. */
  def probeDrifted(spark: SparkSession, t: String, batch: DataFrame): DataFrame

  def table(spark: SparkSession, name: String): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s"$db.$name"
  }

  def batch(spark: SparkSession, rows: (Long, Any)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava,
      StructType(Seq(StructField(idCol, LongType), StructField(valueCol, valueType))))

  /** The family's stored-ids read (`storedDocIds` / `storedMediaIds`). */
  def storedIds(spark: SparkSession, t: String): DataFrame

  /** (id, epoch) of every stored row. */
  def stored(spark: SparkSession, t: String): Set[(Long, Long)] =
    storedIds(spark, t).select(idCol, "_epoch")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
}

object TextFamily extends BandedFamily("doc_id", "text", "sh", StringType,
    "dstore_test") {
  val textA = "alpha beta gamma delta epsilon zeta eta theta"
  val textB = "one two three four five six seven"
  val textC = "eight nine ten eleven twelve thirteen fourteen"
  val (a, a2, a3, b, c, c2) = (textA, textA, textA, textB, textC, textC)
  val notAStore = "not a dedup store"
  val knobsProperty = DedupStore.KnobsProperty
  val verifyStamp = DedupStore.VerifyProperty -> "jaccardThreshold=0.0"

  def maintain(spark: SparkSession, t: String, batch: DataFrame, epochId: Long,
      storeBuckets: Int, keeper: String, qualityCol: Option[String]) =
    DedupStore.maintain(spark, t, batch, idCol, valueCol,
      storeBuckets = storeBuckets, epochId = epochId, keeper = keeper,
      qualityCol = qualityCol)
  def maintainDrifted(spark: SparkSession, t: String, batch: DataFrame,
      epochId: Long) =
    DedupStore.maintain(spark, t, batch, idCol, valueCol, shingleN = 5,
      epochId = epochId)
  def probe(spark: SparkSession, t: String, batch: DataFrame) =
    DedupStore.probeHits(spark, t, batch, idCol, valueCol)
  def probeDrifted(spark: SparkSession, t: String, batch: DataFrame) =
    DedupStore.probeHits(spark, t, batch, idCol, valueCol, numHashes = 8,
      bands = 4)
  def storedIds(spark: SparkSession, t: String) =
    DedupStore.storedDocIds(spark, t)
}

object MediaFamily extends BandedFamily("media_id", "dhash", "dhash", LongType,
    "mstore_test") {
  // 64-bit dHash fixtures: near-dups differ in <= 16 bits, unrelated
  // images in ~32 (the dHash contract MultimodalSpec measures)
  val hA = 0x0123456789ABCDEFL
  val hA2 = hA ^ 0x7L // 3 flips inside band 0 — bands 1..3 intact
  val hA3 = hA ^ 0x30L // another re-encode of the same content
  val hB = ~hA // hamming 64, every band differs
  val hC = 0x00FF00FF00FF00FFL
  val hC2 = hC ^ ((1L << 20) | (1L << 40)) // hamming 2
  val (a, a2, a3, b, c, c2) = (hA, hA2, hA3, hB, hC, hC2)
  val notAStore = "not a media dedup store"
  val knobsProperty = MediaDedupStore.KnobsProperty
  val verifyStamp = MediaDedupStore.VerifyProperty -> "maxHamming=16"

  def maintain(spark: SparkSession, t: String, batch: DataFrame, epochId: Long,
      storeBuckets: Int, keeper: String, qualityCol: Option[String]) =
    MediaDedupStore.maintain(spark, t, batch, idCol, valueCol,
      storeBuckets = storeBuckets, epochId = epochId, keeper = keeper,
      qualityCol = qualityCol)
  def maintainDrifted(spark: SparkSession, t: String, batch: DataFrame,
      epochId: Long) =
    MediaDedupStore.maintain(spark, t, batch, idCol, valueCol, bands = 8,
      epochId = epochId)
  def probe(spark: SparkSession, t: String, batch: DataFrame) =
    MediaDedupStore.probeHits(spark, t, batch, idCol, valueCol)
  def probeDrifted(spark: SparkSession, t: String, batch: DataFrame) =
    MediaDedupStore.probeHits(spark, t, batch, idCol, valueCol, bands = 2)
  def storedIds(spark: SparkSession, t: String) =
    MediaDedupStore.storedMediaIds(spark, t)
}

/** The cases every banded store family must pass, one body each; the
  * family specs register them under their own names.
  */
abstract class BandedStoreSpec extends SparkSpec {

  val families: Seq[BandedFamily] = Seq(TextFamily, MediaFamily)

  protected def fresh(f: BandedFamily, name: String): String = {
    val t = f.table(spark, name)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  private def ids(f: BandedFamily, t: String): Set[Long] =
    f.stored(spark, t).map(_._1)

  private def probed(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  def lifecycleCase(f: BandedFamily): Unit = {
    val t = fresh(f, "t_lifecycle")
    // batch 1: 101/103 near-dups (keeper = min id), 105 unrelated
    val f1 = f.maintain(spark, t,
      f.batch(spark, 101L -> f.a, 103L -> f.a2, 105L -> f.b), epochId = 1L)
    assert(f1.applied && f1.batchRows == 3L, f1.toString)
    assert(f.stored(spark, t) == Set(101L -> 1L, 105L -> 1L))
    // one row per (id, band)
    assert(spark.table(t).groupBy(f.idCol).count()
      .collect().map(_.getLong(1)).toSet == Set(4L))
    // batch 2: 202 near-dups STORED content (the probe drops it),
    // 204/206/208 a fresh within-batch cluster (204 keeps)
    val f2 = f.maintain(spark, t, f.batch(spark,
      202L -> f.a3, 204L -> f.c, 206L -> f.c2, 208L -> f.c), epochId = 2L)
    assert(f2.applied && f2.batchRows == 4L,
      "batchRows rides the incoming batch, not the survivors: " + f2)
    assert(f.stored(spark, t) == Set(101L -> 1L, 105L -> 1L, 204L -> 2L))
    assert(spark.table(t).count() == 12L)
  }

  def epochFenceCase(f: BandedFamily): Unit = {
    val t = fresh(f, "t_fence")
    assert(f.maintain(spark, t, f.batch(spark, 1L -> f.a), epochId = 5L).applied)
    assert(DedupStore.committedEpoch(spark, t).contains(5L))
    val skip = f.maintain(spark, t, f.batch(spark, 2L -> f.b), epochId = 5L)
    assert(!skip.applied && skip.batchRows == 0L, "same-epoch replay must skip")
    assert(f.stored(spark, t) == Set(1L -> 5L),
      "skipped fold must leave the store untouched")
    val e = intercept[IllegalStateException] {
      f.maintain(spark, t, f.batch(spark, 3L -> f.c), epochId = 3L)
    }
    assert(e.getMessage.contains("OLDER"), e.getMessage)
  }

  def identityGuardCase(f: BandedFamily): Unit = {
    val t = fresh(f, "t_identity")
    f.maintain(spark, t, f.batch(spark, 1L -> f.a, 2L -> f.b), epochId = 1L)
    // id 1 re-delivered with COMPLETELY different content: without the
    // guard it would append a second set of band rows under the same
    // id; the guarded row must not suppress its near-dup 3 either
    f.maintain(spark, t, f.batch(spark, 1L -> f.c, 3L -> f.c2), epochId = 2L)
    assert(spark.table(t).filter(col(f.idCol) === 1L).count() == 4L,
      "one band-row set per id, ever")
    assert(f.stored(spark, t) == Set(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  def bucketedCase(f: BandedFamily): Unit = {
    val plain = fresh(f, "t_plain")
    val bucketed = fresh(f, "t_bucketed")
    val b1 = f.batch(spark, 101L -> f.a, 103L -> f.a2, 105L -> f.b)
    val b2 = f.batch(spark, 202L -> f.a3, 204L -> f.c)
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      f.maintain(spark, plain, b, epochId = i + 1L)
      f.maintain(spark, bucketed, b, storeBuckets = 4, epochId = i + 1L)
    }
    assert(f.stored(spark, bucketed) == f.stored(spark, plain))
    // HashPartitioning(band_key) from the bucket spec satisfies a
    // band_key-clustered distribution without an Exchange — the pin
    // that the store side of every future probe join stays shuffle-free
    val agg = spark.table(bucketed).groupBy("band_key").count()
    val physical = agg.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"bucketed store scan must not shuffle:\n$physical")
    val unbucketedAgg = spark.table(plain).groupBy("band_key").count()
    assert(unbucketedAgg.queryExecution.executedPlan.toString.contains("Exchange"),
      "control: the unbucketed twin DOES shuffle")
    // bucket-spec drift refuses with the store's own diagnostic
    val e = intercept[IllegalArgumentException] {
      f.maintain(spark, bucketed, b1, storeBuckets = 8, epochId = 3L)
    }
    assert(e.getMessage.contains("bucket layout is fixed"), e.getMessage)
  }

  def knobDriftCase(f: BandedFamily): Unit = {
    val t = fresh(f, "t_knob_drift")
    f.maintain(spark, t, f.batch(spark, 1L -> f.a), epochId = 1L)
    // band keys are a function of the knobs — a mismatched fold or
    // probe would band-join incompatible keys and silently match NOTHING
    assert(intercept[IllegalArgumentException] {
      f.maintainDrifted(spark, t, f.batch(spark, 2L -> f.b), epochId = 2L)
    }.getMessage.contains("frozen fold settings"))
    assert(intercept[IllegalArgumentException] {
      f.probeDrifted(spark, t, f.batch(spark, 10L -> f.a2))
    }.getMessage.contains("frozen fold settings"))
    // matching settings: the probe is a pure read that finds the dup
    assert(probed(f.probe(spark, t, f.batch(spark, 10L -> f.a2))) == Set(10L))
    assert(ids(f, t) == Set(1L), "a probe must never append")
  }

  def foldOrderCase(f: BandedFamily): Unit = {
    val fwd = fresh(f, "t_order_fwd")
    val rev = fresh(f, "t_order_rev")
    val b1 = f.batch(spark, 1L -> f.a, 3L -> f.b)
    val b2 = f.batch(spark, 2L -> f.a2, 4L -> f.c)
    f.maintain(spark, fwd, b1, epochId = 1L)
    f.maintain(spark, fwd, b2, epochId = 2L)
    f.maintain(spark, rev, b2, epochId = 1L)
    f.maintain(spark, rev, b1, epochId = 2L)
    // whichever of {1, 2} (the near-dup pair across folds) arrived
    // first keeps; every distinct content has exactly one
    // representative either way
    assert(ids(f, fwd) == Set(1L, 3L, 4L), ids(f, fwd).toString)
    assert(ids(f, rev) == Set(2L, 3L, 4L), ids(f, rev).toString)
  }

  def keeperCase(f: BandedFamily): Unit = {
    import spark.implicits._
    // a planted duplicate cluster: 103 carries the best quality but NOT
    // the smallest id — the two policies must diverge
    val batch = f.batch(spark, 101L -> f.a, 103L -> f.a2, 105L -> f.c)
      .join(Seq(101L -> 0.2, 103L -> 0.9, 105L -> 0.5)
        .toDF(f.idCol, "quality"), f.idCol)
    val tMin = fresh(f, "t_keeper_min")
    val tQ = fresh(f, "t_keeper_q")
    f.maintain(spark, tMin, batch, epochId = 1L)
    f.maintain(spark, tQ, batch, epochId = 1L, keeper = "max_quality",
      qualityCol = Some("quality"))
    assert(ids(f, tMin) == Set(101L, 105L))
    assert(ids(f, tQ) == Set(103L, 105L),
      "max_quality must keep the planted cluster's best member")
    // the quality column never enters the store schema
    assert(spark.table(tQ).columns.sorted.toSeq ==
      Seq("_epoch", "band_idx", "band_key", f.idCol, f.payloadCol).sorted)
    // guards: unknown keeper; max_quality without the column; a
    // column with min_id; a column missing from the batch
    assert(intercept[IllegalArgumentException] {
      f.maintain(spark, tQ, batch, epochId = 2L, keeper = "best_effort")
    }.getMessage.contains("keeper"))
    assert(intercept[IllegalArgumentException] {
      f.maintain(spark, tQ, batch, epochId = 2L, keeper = "max_quality")
    }.getMessage.contains("needs qualityCol"))
    assert(intercept[IllegalArgumentException] {
      f.maintain(spark, tQ, batch, epochId = 2L, qualityCol = Some("quality"))
    }.getMessage.contains("only used by keeper max_quality"))
    assert(intercept[IllegalArgumentException] {
      f.maintain(spark, tQ, batch.drop("quality"), epochId = 2L,
        keeper = "max_quality", qualityCol = Some("quality"))
    }.getMessage.contains("not in the batch"))
  }

  /** A foreign table refuses the fold with the family's named error. */
  def foldForeignCase(f: BandedFamily): Unit = {
    import spark.implicits._
    val t = fresh(f, "t_foreign")
    Seq((1L, "x")).toDF("k", "v").write.saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      f.maintain(spark, t, f.batch(spark, 1L -> f.a), epochId = 1L)
    }.getMessage.contains(f.notAStore))
  }

  /** A foreign or missing table refuses the probe with a named error,
    * not a missing-column crash.
    */
  def probeForeignCase(f: BandedFamily): Unit = {
    import spark.implicits._
    val t = fresh(f, "t_probe_foreign")
    Seq((1L, "x")).toDF("k", "v").write.saveAsTable(t)
    assert(intercept[IllegalArgumentException] {
      f.probe(spark, t, f.batch(spark, 10L -> f.a))
    }.getMessage.contains(f.notAStore))
    assert(intercept[IllegalArgumentException] {
      f.probe(spark, fresh(f, "t_probe_nonexistent"), f.batch(spark, 10L -> f.a))
    }.getMessage.contains("no such table"))
  }

  /** The read-path knob check is never vacuous: a store without the
    * knobs property refuses the probe until a fold re-stamps it.
    */
  def probeNoPropCase(f: BandedFamily): Unit = {
    val t = fresh(f, "t_probe_noprop")
    f.maintain(spark, t, f.batch(spark, 1L -> f.a), epochId = 1L)
    assert(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties.get(f.verifyStamp._1).contains(f.verifyStamp._2))
    // simulate a pre-property store: the fold would pass once and
    // re-stamp; the probe has no stamping step, so a vacuous pass
    // would silently match nothing on mismatched knobs
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('${f.knobsProperty}')")
    val e = intercept[IllegalArgumentException] {
      f.probe(spark, t, f.batch(spark, 10L -> f.a2))
    }
    assert(e.getMessage.contains(f.knobsProperty) &&
      e.getMessage.contains("run one fold"), e.getMessage)
    // one fold re-stamps; the probe works again
    f.maintain(spark, t, f.batch(spark, 2L -> f.c), epochId = 2L)
    assert(probed(f.probe(spark, t, f.batch(spark, 10L -> f.a2))) == Set(10L))
  }
}
