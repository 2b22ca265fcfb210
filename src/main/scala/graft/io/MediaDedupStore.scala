package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing cross-corpus MEDIA (perceptual-hash) dedup store — the
  * third member of the store family (text [[DedupStore]], vectors
  * [[VectorDedupStore]]; reference scope: none — beyond-reference).
  * `m6_phash_neardup` finds an image batch's re-encoded copies per
  * call; this store keeps the ACCUMULATED phash corpus a crawl-N+1
  * batch probes: one row per (surviving image, Hamming-LSH band)
  * carrying the band key and the image's 64-bit dHash, so each new
  * batch band-equi-joins PRECOMPUTED keys and the corpus is never
  * re-decoded. The fold takes (id, dhash) — hashes, not payloads
  * ([[graft.multimodal.Multimodal.dHash]] is scan-fused map work over
  * the image files).
  *
  * The store is a banding of the one banded fold in [[DedupStore]]:
  * this object supplies only the media [[DedupStore.Banding]] — the
  * `media_id`/`dhash` columns, the [[bandKeys]] split (64/bands bits
  * each: a pair differing in ≤ bands−1 scattered bits keeps ≥1 band
  * intact with certainty), the exact codegen'd `bit_count(xor)` ≤
  * `maxHamming` verify, its own properties and error-message names —
  * plus its argument checks. Fold semantics, epoch fence, identity
  * guard, hot-band cap, keeper policies and store bucketing are the
  * text store's, on the same code.
  *
  * Store schema: `media_id, band_idx, band_key, dhash, _epoch` — the
  * full hash rides every band row (the cheap analog of the text
  * store's `sh` duplication), so the verify needs no second id-keyed
  * join against a store-sized hash table.
  */
object MediaDedupStore {

  /** Catalog property freezing the store's key-affecting fold knob
    * (the band count): band keys are a pure function of it, so a fold
    * or probe with a different `bands` would band-join incompatible
    * keys and silently match nothing. Same contract as
    * [[DedupStore.KnobsProperty]].
    */
  val KnobsProperty = "graft.mediadedupstore.knobs"

  /** Informational verify-threshold stamp, the
    * [[DedupStore.VerifyProperty]] contract on this family: probes warn
    * (never refuse) when their `maxHamming` diverges from the fold's.
    */
  val VerifyProperty = "graft.mediadedupstore.verify"

  /** Band keys of a 64-bit hash: `bands` values of 64/bands bits,
    * band b = bits [b·w, (b+1)·w). All integer shifts/masks — the
    * m6 oracle re-derives them bit for bit.
    */
  def bandKeys(hash: Column, bands: Int): Seq[Column] = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    (0 until bands).map(b =>
      shiftrightunsigned(hash, b * width).bitwiseAND(lit(mask)))
  }

  /** The media family's [[DedupStore.Banding]], after its argument
    * checks: `bands` must divide the 64-bit hash, and `maxHamming` must
    * stay below 64 — 64 would accept every banded collision, including
    * the shared-band false friends the verify exists to reject.
    */
  private def banding(bands: Int, maxHamming: Long): DedupStore.Banding = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (the dHash width), got $bands")
    require(maxHamming >= 0L && maxHamming < 64L,
      s"maxHamming must be in [0, 64), got $maxHamming (64 would accept " +
        "every pair)")
    DedupStore.Banding("media_id", "dhash", bands,
      df => {
        val h = df.withColumn("dhash", col("_v").cast("long")).drop("_v")
        h.select(h.columns.toSeq.map(col) ++ bandKeys(col("dhash"), bands)
          .zipWithIndex.map { case (c, i) => c.as(s"band_$i") }: _*)
      },
      Some((a: Column, b: Column) =>
        bit_count(a.bitwiseXOR(b)).cast("long") <= maxHamming),
      KnobsProperty -> s"bands=$bands",
      VerifyProperty -> s"maxHamming=$maxHamming",
      "media-dedup-store fold", "media dedup store")
  }

  /** Folds `batch` (one row per image: `idCol`, `hashCol` = the 64-bit
    * dHash) into the standing store at `table` (created on first
    * call). Returns the shared [[DedupStore.FoldResult]] contract: the
    * fold reports its OWN batch count (it persists the banded batch
    * frame — the Spark 4.1 cache/observe interaction documented at
    * [[DedupStore.FoldResult]] applies here too). `epochId` is
    * admitted through [[EpochFence]] as in the text store, and the
    * identity guard keeps a re-delivered media_id from appending twice
    * inside the crash window between the append and the epoch stamp.
    * `keeper`/`qualityCol` are the [[DedupStore.Keepers]] policies:
    * quality = a declared batch column (resolution, byte size, a
    * decode-stage score) ranking which re-encode survives.
    */
  def maintain(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Long = 16L,
      maxBucketSize: Option[Long] = None,
      storeBuckets: Int = 0,
      epochId: Long,
      keeper: String = "min_id",
      qualityCol: Option[String] = None): DedupStore.FoldResult =
    DedupStore.fold(spark, table, batch, idCol, hashCol,
      banding(bands, maxHamming), maxBucketSize, storeBuckets, epochId,
      keeper, qualityCol)

  /** READ-path membership probe — band the batch hashes and Hamming-
    * verify banded collisions against the store, WITHOUT folding.
    * Returns the distinct batch ids within `maxHamming` of ANY stored
    * image. `bands` must match the store's fold setting.
    */
  def probeHits(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Long = 16L,
      maxBucketSize: Option[Long] = None): DataFrame =
    DedupStore.probe(spark, table, batch, idCol, hashCol,
      banding(bands, maxHamming), maxBucketSize)

  /** The accumulated deduped image corpus: one row per stored image
    * (`media_id, dhash, _epoch`). Reads one band slice.
    */
  def storedMediaIds(spark: SparkSession, table: String): DataFrame =
    spark.table(table).filter(col("band_idx") === 0)
      .select("media_id", "dhash", "_epoch")
}
