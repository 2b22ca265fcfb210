package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Near-duplicate detection for training-data pipelines: MinHash+LSH,
  * SimHash, and n-gram Jaccard — all as composed built-in expressions
  * (higher-order functions), no UDFs, so each stage stays distributed
  * and the only shuffle is the LSH band-key join.
  *
  * 100 TB shape: shingling/hashing is per-row map work fused into the
  * scan, with exactly ONE digest per shingle/token — the 16 minhash
  * functions derive from two 56-bit halves of a single md5 via
  * Kirsch-Mitzenmacher (h1 + j·h2), and the 60 simhash bit functions are
  * static bit-shifts of one 60-bit token hash. Hash columns are
  * materialized in their own projection (CollapseProject won't inline an
  * expensive alias referenced 60×, so the digest runs once per row).
  * Candidate generation explodes (doc × bands) and equi-joins on
  * (band_idx, band_key) — the classic shuffle-on-bucket LSH join;
  * signatures are persisted before the self-join so the text is hashed
  * once, not once per join side. No quadratic step ever materializes.
  *
  * Two hash families: `XxHash` (codegen'd `xxhash64`, production) and
  * `Md5Hash` (bit-identical re-derivable in DuckDB via
  * `('0x'||substr(md5(x),1,k))::BIGINT` — used by the oracle-checked
  * queries).
  */
object Dedup {

  sealed trait HashMode
  case object XxHash extends HashMode
  case object Md5Hash extends HashMode

  private def track[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    FrameCaches.track(ds)

  /** Free every frame the operator pipelines cached in this session —
    * persisted bases AND localCheckpoint block storage (which
    * `unpersist` alone does not release). Delegates to the shared
    * [[FrameCaches]] registry (also used by [[Skew.saltedJoin]]).
    */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    FrameCaches.release(spark)

  /** Distinct word n-gram shingles; texts shorter than n tokens get one
    * whole-text shingle. Native one-pass expression — the composable
    * HOF form is kept below for reference/tests and is set-equal.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.wordShingles(text, n)

  /** Composable-HOF formulation of [[shingles]] (4 interpreted HOFs —
    * ~10× slower; retained as the executable spec the native expression
    * is tested against).
    */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  // native hex parse (graft.functions.HexSliceToLong): the conv() form
  // allocates a BigInteger + decimal string per value, which dominates
  // the md5-family signature cost
  private def hex2long(c: Column, from: Int, len: Int): Column =
    graft.functions.VectorExpressions.hexSliceToLong(c, from, len)

  /** Two independent 56-bit hashes per value from one digest. */
  private def hashPair(s: Column, mode: HashMode): Column = mode match {
    case XxHash =>
      // 56-bit range: h1 + 15*h2 must stay under 2^63 (ANSI overflow)
      struct(pmod(xxhash64(lit(1), s), lit(1L << 56)).as("h1"),
        pmod(xxhash64(lit(2), s), lit(1L << 56)).as("h2"))
    case Md5Hash =>
      val d = md5(s)
      struct(hex2long(d, 1, 14).as("h1"), hex2long(d, 15, 14).as("h2"))
  }

  /** One 60-bit hash per value (simhash bit source). */
  private def hash60(s: Column, mode: HashMode): Column = mode match {
    case XxHash => pmod(xxhash64(s), lit(1L << 60))
    case Md5Hash => hex2long(md5(s), 1, 15)
  }

  /** The raw MinHash signature over a shingle-array column — native
    * one-pass expression ([[graft.functions.MinhashSignatureExpr]]):
    * one digest per shingle, all Kirsch-Mitzenmacher minima folded in a
    * tight loop. The composable-HOF formulation is kept in
    * [[sigColsHof]] as the executable spec it is tested against.
    */
  private def sigArray(sh: Column, numHashes: Int, mode: HashMode): Column =
    graft.functions.TextExpressions.minhashSignature(
      sh, numHashes, mode == Md5Hash)

  /** Composable-HOF spec of [[sigArray]]: signature element j over the
    * `_hp` hash-pair column = min over shingles of h1 + j·h2 — 17
    * interpreted higher-order functions per row (retained for tests).
    */
  private[operators] def sigColsHof(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(j =>
      array_min(transform(col("_hp"), p =>
        p.getField("h1") + lit(j) * p.getField("h2"))))

  /** HOF-spec twin of [[withMinhashSignature]] (tests only). */
  private[graft] def withMinhashSignatureHof(df: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16,
      mode: HashMode = XxHash): DataFrame =
    df.withColumn("_hp",
        transform(shingles(col(textCol), shingleN), s => hashPair(s, mode)))
      .withColumn("sig", array(sigColsHof(numHashes): _*))
      .drop("_hp")

  private def bandCols(sig: Column, numHashes: Int, bands: Int): Seq[Column] = {
    val rows = numHashes / bands
    (0 until bands).map { b =>
      md5(concat_ws(",", (0 until rows).map(r =>
        sig.getItem(b * rows + r).cast("string")): _*)).as(s"band_$b")
    }
  }

  /** Adds `sh` (shingle set) and `band_0..band_{bands-1}` LSH key
    * columns; band key = md5 of its signature slice. The signature is
    * materialized once per row by the native expression; the band keys
    * are codegen'd builtins (md5/concat_ws/getItem) over it.
    */
  def withMinhashBands(df: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      mode: HashMode = XxHash): DataFrame =
    df.withColumn("sh", shingles(col(textCol), shingleN))
      .withColumn("_sig", sigArray(col("sh"), numHashes, mode))
      .select(df.columns.map(col) ++ Seq(col("sh")) ++
        bandCols(col("_sig"), numHashes, bands): _*)

  /** Adds `sig`: the raw MinHash signature as an array column (input
    * for cluster-level signature merging via [[MinhashUnionAggregator]]).
    */
  def withMinhashSignature(df: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16,
      mode: HashMode = XxHash): DataFrame =
    df.withColumn("sig",
      sigArray(shingles(col(textCol), shingleN), numHashes, mode))

  /** Adds BOTH `sig` and the `band_0..` LSH keys from ONE shingle+hash
    * pass — band key = md5 of its `sig` slice, so a pipeline that needs
    * candidate pairs AND raw signatures (e.g. cluster-signature
    * merging) scans and hashes the corpus text once, not twice. The
    * `sig` column sits in its own projection so the native expression
    * runs once per row; the band keys derive from the materialized
    * array.
    */
  def withMinhashSignatureAndBands(df: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      mode: HashMode = XxHash): DataFrame = {
    val signed = withMinhashSignature(df, textCol, shingleN, numHashes, mode)
    signed.select(signed.columns.map(col) ++
      bandCols(col("sig"), numHashes, bands): _*)
  }

  /** Jaccard similarity of two distinct-element arrays (exact int/int
    * division — deterministic).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  /** Oversized-bucket keys above this count take a shuffled anti-join
    * instead of a broadcast one: "hot keys are few" is an assumption,
    * not a law — a small cap on a heavily templated corpus can flag
    * millions of keys, and broadcasting those would fail the job the
    * guard exists to save. ~100k keys ≈ 5 MB broadcast, safely under
    * every default limit.
    */
  private val HotKeyBroadcastLimit = 100000L

  /** Drops the rows of `frame` (any frame carrying `band_idx, band_key`)
    * that sit in a band bucket with more than `maxBucketSize` rows —
    * the one hot-bucket exclusion of every banded join (within-batch
    * pairs, reference corpora, standing-store probes). Cost: one
    * map-side-combined count over the (band, key) pairs, whose tiny
    * result is persisted and counted — zero hot keys skips the
    * anti-join entirely — then an anti-join of the hot keys, broadcast
    * while they number at most [[HotKeyBroadcastLimit]] and shuffled
    * above it, so a pathological cap/corpus combination cannot blow
    * the broadcast limit. `None` returns `frame` untouched.
    */
  def withoutHotBuckets(frame: DataFrame,
      maxBucketSize: Option[Long]): DataFrame = maxBucketSize match {
    case Some(cap) =>
      val hot = track(frame.groupBy("band_idx", "band_key")
        .agg(count(lit(1)).as("_bn")).filter(col("_bn") > cap)
        .select("band_idx", "band_key").persist())
      val nHot = hot.count()
      if (nHot == 0) frame
      else frame.join(
        if (nHot <= HotKeyBroadcastLimit) broadcast(hot) else hot,
        Seq("band_idx", "band_key"), "left_anti")
    case None => frame
  }

  /** Candidate pairs via banded LSH: explode band keys, equi-join on
    * (band position, key), dedupe. `id < id` keeps one direction.
    *
    * `maxBucketSize` (off by default — the oracle-checked queries use
    * the exact join) drops buckets with more members than the cap
    * BEFORE the self-join: a degenerate band key (e.g. millions of
    * near-empty docs hashing to one bucket at corpus scale) makes the
    * bucket quadratic — n² pairs from a single reducer — and one hot
    * key can sink the whole job. Standard LSH practice treats oversized
    * buckets as junk keys (they carry no near-dup signal precisely
    * because they match everything). The guard is
    * [[withoutHotBuckets]] over the exploded (band, key) frame.
    */
  def candidatePairs(base: DataFrame, idCol: String, bandCols: Seq[Column],
      maxBucketSize: Option[Long] = None): DataFrame = {
    val exploded = withoutHotBuckets(base.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key"))),
      maxBucketSize)
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
      col("a.band_idx") === col("b.band_idx")
        && col("a.band_key") === col("b.band_key")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    * join → verify candidates with exact Jaccard. Signatures are
    * persisted: the join has three consumers (explode side ×2, shingle
    * lookup ×2) and re-hashing the corpus per consumer is the classic
    * LSH-on-Spark mistake.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.0, mode: HashMode = XxHash,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val base = track(withMinhashBands(docs.select(col(idCol), col(textCol)),
      textCol, shingleN, numHashes, bands, mode)
      .drop(textCol).persist())
    val pairs = candidatePairs(base, idCol,
      (0 until bands).map(b => col(s"band_$b")), maxBucketSize)
    val left = base.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val right = base.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    pairs.join(left, "doc_a").join(right, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Adds `sim_chunk_0..3`: a 60-bit SimHash as 4×15-bit chunks (for
    * banded Hamming search — docs within Hamming distance 3 share at
    * least one chunk). Bit b of the sketch = sign of the
    * multiplicity-weighted sum over tokens of ±1 by bit b of the token
    * hash. One digest per token; bits via static shifts.
    */
  def withSimhashChunks(df: DataFrame, textCol: String,
      mode: HashMode = XxHash): DataFrame = {
    val chunks = graft.functions.TextExpressions
      .simhashChunks(col(textCol), mode == Md5Hash)
    df.withColumn("_sc", chunks)
      .select(df.columns.map(col) ++
        (0 until 4).map(c => col("_sc").getItem(c).as(s"sim_chunk_$c")): _*)
      .drop("_sc")
  }

  /** Composable-HOF formulation of [[withSimhashChunks]] (60 interpreted
    * aggregates per row — retained as the executable spec the native
    * expression is tested against).
    */
  def withSimhashChunksHof(df: DataFrame, textCol: String,
      mode: HashMode = XxHash): DataFrame = {
    val counts = (0 until 60).map { b =>
      aggregate(col("_th"), lit(0), (acc, h) =>
        acc + when(shiftright(h, b) % 2 === 1, 1).otherwise(-1))
    }
    val bits = counts.map(c => when(c > 0, 1).otherwise(0))
    val chunks = (0 until 4).map { c =>
      (0 until 15).map(r => bits(c * 15 + r) * lit(1 << r))
        .reduce(_ + _).as(s"sim_chunk_$c")
    }
    df.withColumn("_th", transform(TextFunctions.tokens(col(textCol)),
        t => hash60(t, mode)))
      .select(df.columns.map(col) ++ chunks: _*)
  }

  /** Connected components over candidate pairs → dedup clusters: each
    * doc labeled with the smallest doc id in its component (the
    * canonical representative to keep).
    *
    * Strategy (integral ids — the production path): hierarchical
    * partition-local union-find. Each pass hash-partitions the edge
    * list and runs an in-memory union-find per partition (genuine
    * per-partition imperative logic — the `mapPartitions` case), emitting
    * a star edge (node → partition-local min root) for every node seen;
    * replacing a partition's edges with its spanning stars preserves
    * connectivity of the union, so each pass is an exact contraction,
    * not a heuristic. Partition count then shrinks 32× per pass, so
    * stars from different partitions that share a node merge in the
    * next pass; the pass at p=1 is globally exact. Locally (and for any
    * graph whose candidate-edge list fits one task: < [[maxEdgesPerTask]])
    * that means ONE pass, zero iterations — versus the 12
    * driver-synchronized rounds min-label propagation needs on the long
    * mutation chains in this corpus (measured at sf0.1). At 100 TB with
    * E edges the funnel is ceil(log32(E / 2M)) ≈ 3-4 narrow-task passes;
    * if the contracted stars still exceed [[maxEdgesPerTask]], the last
    * hop falls back to [[labelPropagation]] over the flattened stars,
    * which converges in a handful of rounds because every pass has
    * already collapsed chains into depth-1 stars.
    *
    * Non-integral id types take the label-propagation path directly.
    *
    * Self-loop pairs (doc_a == doc_b) are legal on every path and label
    * the node as its own singleton cluster — union-find, the funnel's
    * label-propagation fallback, and the non-integral path all agree
    * (candidatePairs never emits them; this matters only for direct
    * callers).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      maxEdgesPerTask: Long = 200000000L,
      funnelTargetPerTask: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = pairs.schema("doc_a").dataType
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val spark = pairs.sparkSession
        import spark.implicits._
        val e0 = pairs
          .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
          .as[(Long, Long)].persist()
        val n = e0.count() // materializes; also sizes the funnel
        var p = math.max(1L,
          (n + funnelTargetPerTask - 1) / funnelTargetPerTask).toInt
        // first pass: coalesce (reads cached blocks, no shuffle) — any
        // edge grouping is a valid sub-graph; later passes must
        // hash-partition by node so stars sharing a src merge
        var stars = ufPass(e0.coalesce(p)).localCheckpoint(true)
        e0.unpersist()
        while (p > 1) {
          p = math.max(1, p / 32)
          if (p == 1 && stars.count() > maxEdgesPerTask) {
            // contracted graph still too big for one task: finish with
            // label propagation over the (depth-1) stars — few rounds.
            // Self-star rows (root, root) pass through unfiltered:
            // labelPropagation labels them as their own singleton
            // cluster, exactly as the union-find path does, so both
            // strategies cover the same node set for the same input.
            val res = labelPropagation(stars.toDF("doc_a", "doc_b"), maxIter)
            // res is materialized (checkpointed) by now — the stars
            // checkpoint blocks it consumed are droppable, and must be
            // dropped here: this frame never reaches the registry track()
            org.apache.spark.sql.GraftColumnBridge.freeStorage(stars)
            return restoreIdType(res, idType)
          }
          val next = ufPass(stars.repartition(p, col("_1")))
            .localCheckpoint(true)
          org.apache.spark.sql.GraftColumnBridge.freeStorage(stars)
          stars = next
        }
        restoreIdType(track(stars).toDF("doc_id", "cluster_id"), idType)
      case _ =>
        labelPropagation(pairs, maxIter)
    }
  }

  private def restoreIdType(labels: DataFrame,
      t: org.apache.spark.sql.types.DataType): DataFrame =
    labels.select(col("doc_id").cast(t).as("doc_id"),
      col("cluster_id").cast(t).as("cluster_id"))

  /** One union-find contraction pass: per partition, union all local
    * edges (min id becomes the root) and emit (node, root) for every
    * node seen — including roots themselves, so the node set is
    * preserved across passes and final labels cover every doc that
    * appeared in a pair.
    */
  private def ufPass(e: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import e.sparkSession.implicits._
    e.mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression: point the whole chain at the root
        while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      it.foreach { case (s, d) =>
        if (!parent.containsKey(s)) parent.put(s, s)
        if (!parent.containsKey(d)) parent.put(d, d)
        val rs = find(s)
        val rd = find(d)
        if (rs != rd) { // min-root union: component root = smallest id
          if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd)
        }
      }
      val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
      keys.iterator.map(k => (k.longValue, find(k.longValue)))
    }
  }

  /** Min-label propagation with pointer jumping — the generic fallback
    * for non-integral id types (and the residual phase when the
    * union-find funnel bottoms out above one task). O(log diameter)
    * rounds, each exactly ONE Spark job: the convergence check rides
    * the eager `localCheckpoint` materialization as an `Observation`
    * metric instead of a second driver-synchronized `count()` job.
    * localCheckpoint (not persist) because each round references the
    * previous labels three times, so the logical plan would grow ~3^k
    * and OOM the driver around round 15 — lineage must be CUT per
    * round, not just cached.
    */
  private[operators] def labelPropagation(pairs: DataFrame, maxIter: Int): DataFrame = {
    // both directions from ONE scan of the upstream plan
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // initialization already performs round 1: label = min(self, neighbors)
    var labels = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .groupBy("src").agg(min("label").as("neighbor_min"))
      val stepped = labels.join(prop, labels("id") === prop("src"), "left")
        .select(labels("id"), labels("label").as("old"),
          least(labels("label"), coalesce(col("neighbor_min"), labels("label")))
            .as("label"))
      // pointer jumping: also adopt the label's own label (path
      // compression) — turns O(diameter) rounds into O(log diameter)
      val byId = stepped.select(col("id").as("lid"), col("label").as("llabel"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = stepped.join(byId, stepped("label") === col("lid"), "left")
        .select(stepped("id"), stepped("old"),
          least(stepped("label"), coalesce(col("llabel"), stepped("label")))
            .as("label"))
        .observe(obs, count(when(col("label") < col("old"), 1)).as("changed"))
        .select("id", "label")
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      // drop the previous round's checkpoint blocks (RDD-level — the
      // cache manager does not track localCheckpoint storage)
      org.apache.spark.sql.GraftColumnBridge.freeStorage(labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    track(labels).withColumnRenamed("id", "doc_id")
      .withColumnRenamed("label", "cluster_id")
  }

  /** LSH candidate pairs plus the per-doc raw signatures, from ONE
    * corpus scan-and-hash: the persisted base carries (id, sig, bands),
    * pairs come from the band-key equi-join, and the returned signature
    * frame reads the same cache — consumers needing clusters AND
    * cluster-level signatures ([[MinhashUnionAggregator]]) never hash
    * the text twice.
    */
  def minhashCandidatesWithSignatures(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, mode: HashMode = XxHash,
      maxBucketSize: Option[Long] = None): (DataFrame, DataFrame) = {
    val base = track(withMinhashSignatureAndBands(
      docs.select(col(idCol), col(textCol)),
      textCol, shingleN, numHashes, bands, mode)
      .drop(textCol)
      .persist()) // self-joined in candidatePairs: hash the corpus once
    (candidatePairs(base, idCol,
        (0 until bands).map(b => col(s"band_$b")), maxBucketSize),
      base.select(col(idCol), col("sig")))
  }

  /** LSH candidate pairs straight from the text — [[minhashNearDups]]
    * minus the exact-Jaccard verification joins, for consumers (e.g.
    * clustering) that only need the pair list. One corpus scan, one
    * band-key equi-join shuffle. Shares its base plan (and thus its
    * generated code) with [[minhashCandidatesWithSignatures]].
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      mode: HashMode = XxHash,
      maxBucketSize: Option[Long] = None): DataFrame =
    minhashCandidatesWithSignatures(docs, idCol, textCol,
      shingleN, numHashes, bands, mode, maxBucketSize)._1

  /** Cross-corpus near-dup detection — the INCREMENTAL dedup shape:
    * find batch docs that near-duplicate any reference-corpus doc,
    * WITHOUT ever self-joining the reference. This is how crawl N+1
    * dedupes against crawls 1..N at scale: the reference side is
    * scanned and hashed once (its band keys can be precomputed and
    * stored), candidates come from the batch×ref banded equi-join
    * only — cost tracks the BATCH size, not the (much larger)
    * accumulated corpus squared. Returns (batch_id, ref_id, jaccard)
    * for every colliding pair with exact Jaccard ≥ `threshold`;
    * consumers typically anti-join the batch against the distinct
    * batch_ids. `maxBucketSize` caps degenerate REF buckets exactly
    * like [[candidatePairs]] (a boilerplate bucket on the reference
    * side would otherwise multiply every colliding batch doc).
    */
  def crossCorpusNearDups(batch: DataFrame, ref: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.0, mode: HashMode = XxHash,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val b = track(withMinhashBands(batch.select(col(idCol), col(textCol)),
      textCol, shingleN, numHashes, bands, mode).drop(textCol).persist())
    val r = track(withMinhashBands(ref.select(col(idCol), col(textCol)),
      textCol, shingleN, numHashes, bands, mode).drop(textCol).persist())
    def exploded(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      posexplode(array((0 until bands).map(i => col(s"band_$i")): _*))
        .as(Seq("band_idx", "band_key")))
    val re = withoutHotBuckets(exploded(r, "ref_id"), maxBucketSize)
    val cands = exploded(b, "batch_id")
      .join(re, Seq("band_idx", "band_key"))
      .select("batch_id", "ref_id").distinct()
    cands
      .join(b.select(col(idCol).as("batch_id"), col("sh").as("sh_b")), "batch_id")
      .join(r.select(col(idCol).as("ref_id"), col("sh").as("sh_r")), "ref_id")
      .select(col("batch_id"), col("ref_id"),
        jaccard(col("sh_b"), col("sh_r")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Typed aggregator merging MinHash signatures by element-wise min —
    * the signature of a UNION of shingle sets is the element-wise min
    * of the members' signatures, so cluster-level signatures come from
    * a plain `groupBy(cluster).agg(...)` without re-shingling any text
    * (SURVEY.md §7.6's custom-aggregate case). Buffer is a mutable
    * array; merge is associative/commutative, so Spark can partial-
    * aggregate map-side.
    */
  class MinhashUnionAggregator(numHashes: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    import org.apache.spark.sql.Encoder
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes && i < a.length) {
        if (a(i) < b(i)) b(i) = a(i)
        i += 1
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = reduce(x, y)
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** SimHash near-dup candidates: equi-join on any equal chunk — the
    * standard pigeonhole blocking for Hamming distance ≤ bands-1.
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      mode: HashMode = XxHash,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val base = track(withSimhashChunks(docs.select(col(idCol), col(textCol)), textCol, mode)
      .drop(textCol).persist())
    candidatePairs(base, idCol,
      (0 until 4).map(c => col(s"sim_chunk_$c")), maxBucketSize)
  }

  /** EXACT n-gram Jaccard similarity join (no MinHash approximation):
    * all pairs of docs whose distinct word-n-gram sets have Jaccard ≥
    * `threshold`, with the exact score. Unlike [[minhashNearDups]]
    * (probabilistic recall, banded blocking) this returns precisely the
    * ≥-threshold pairs — the AllPairs/PPJoin family's prefix filtering
    * makes that affordable without an all-pairs product:
    *
    *  1. one shingle pass per doc (native expression), persisted — the
    *     frame feeds the index build AND the verify join;
    *  2. global document frequency per shingle (one map-side-combined
    *     count — the "order tokens rarest-first" step);
    *  3. per-doc PREFIX index: shingles sorted by (df, shingle) — a
    *     global total order, rarest first — keeping only the first
    *     `|d| - ceil(t·|d|) + 1` entries. Prefix-filtering theorem: two
    *     sets with J ≥ t must overlap in ≥ ceil(t·max(|a|,|b|))
    *     elements, and sets overlapping that much must collide inside
    *     these prefixes — so the index is lossless;
    *  4. candidates: equi-join the prefix index with itself on the
    *     shingle (shuffle on shingle — dominated by RARE shingles by
    *     construction, so buckets stay small; the frequent shingles
    *     that would make a plain inverted-index join quadratic are
    *     exactly the ones prefix filtering drops);
    *  5. verify each distinct candidate pair against the full shingle
    *     arrays with the exact [[jaccard]] expression.
    */
  /** Each doc's shingle SET as a sorted array of 60-bit shingle hashes —
    * the representation [[ngramJaccardPairs]] works on end to end.
    * Hashing shrinks the per-doc payload ~5× vs the raw shingle strings
    * (the verify join ships one array per candidate pair — at corpus
    * scale that dwarfs every compute cost), makes every join/shuffle key
    * a long, and sorting once here lets the per-pair verify be a linear
    * merge. A 60-bit collision can merge two shingles (p < 2⁻⁴⁵ for a
    * million-shingle corpus); the md5 family re-derives bit-identically
    * in DuckDB, so the oracle sees the same sets. Native one-pass
    * expression; [[hashedShinglesHof]] is the executable spec.
    */
  def hashedShingles(text: Column, n: Int, mode: HashMode): Column =
    graft.functions.TextExpressions.hashedShingleSet(
      shingles(text, n), mode == Md5Hash)

  /** Composable-HOF spec of [[hashedShingles]] (interpreted per-element
    * lambda dispatch — retained for tests).
    */
  private[graft] def hashedShinglesHof(text: Column, n: Int, mode: HashMode): Column =
    array_sort(array_distinct(
      transform(shingles(text, n), s => hash60(s, mode))))

  /** `maxPostingSize` (off by default — exactness is d9's point): drop
    * prefix-index shingles whose posting list exceeds the cap before the
    * self-join. The prefix index is rarest-first, so a hot entry means a
    * boilerplate-dominated doc population (headers, licence blocks) —
    * one such shingle shared by 100k docs is a 10-billion-pair reducer.
    * UNLIKE the LSH guard this trades exactness: pairs whose ONLY shared
    * prefix shingle was dropped are lost (their Jaccard is necessarily
    * dominated by boilerplate). The capped run remains a strict subset
    * of the exact answer with every returned score exact.
    */
  /** EXACT n-gram CONTAINMENT join — the ASYMMETRIC sibling of
    * [[ngramJaccardPairs]]: ordered pairs (a, b) where at least
    * `thresholdPermille`/1000 of a's distinct shingles appear in b
    * (`|A∩B| / |A|` — quote detection, truncated-crawl recovery,
    * subset-document pruning; Jaccard misses exactly these because a
    * large |B| dilutes the union). Both directions are judged
    * independently: a near-dup pair emits twice, a strict quote once.
    *
    * The threshold is an integer permille so the predicate
    * `1000·|A∩B| ≥ t·|A|` (and the derived minimum overlap
    * `ceil(t·|A|/1000)` = `(t·|A|+999) DIV 1000`) is EXACT in both
    * engines — no epsilon anywhere, unlike d9's real-valued Jaccard
    * bounds.
    *
    * Prefix filtering adapts asymmetrically: only the PROBE side can
    * prune (B's requirement depends on each A it meets), so the probe
    * keeps its `|A| − minOverlap(A) + 1` rarest-first shingles —
    * lossless: if none of those is shared, the overlap is at most
    * `minOverlap − 1` — while the index side stays the full posting
    * list. That full index is the hot-key exposure, so
    * `maxPostingSize` caps it by document frequency (same subset trade
    * as d9's cap, documented there); the length filter
    * `|B| ≥ minOverlap(A)` rides the join condition.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, thresholdPermille: Int = 700,
      mode: HashMode = XxHash,
      maxPostingSize: Option[Long] = None): DataFrame = {
    require(thresholdPermille > 0 && thresholdPermille <= 1000,
      s"thresholdPermille must be in (0,1000], got $thresholdPermille")
    val tp = thresholdPermille
    val sh = track(docs
      .select(col(idCol), hashedShingles(col(textCol), shingleN, mode).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist())
    val posting = sh.select(col(idCol), col("sz"), explode(col("sh")).as("s"))
    val dfreq = posting.groupBy("s").agg(count(lit(1)).as("_df"))
    val withDf = track(posting.join(dfreq, "s").persist())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("_df"), col("s"))
    val probe = withDf
      .withColumn("_p", row_number().over(w))
      .filter(col("_p") <= col("sz") - expr(s"(sz * $tp + 999) DIV 1000") + 1)
      .select(col(idCol).as("doc_a"), col("sz").as("sz_a"), col("s"))
    val index = withDf
      .filter(maxPostingSize.map(cap => col("_df") <= cap).getOrElse(lit(true)))
      .select(col(idCol).as("doc_b"), col("sz").as("sz_b"), col("s"))
    // USING-column join: probe and index share lineage (both derive
    // from withDf), so qualified s === s would resolve trivially true
    val cands = probe.join(index, Seq("s"))
      .filter(col("doc_a") =!= col("doc_b")
        && col("sz_b") >= expr(s"(sz_a * $tp + 999) DIV 1000"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b").agg(count(lit(1)).as("_nc"))
    val left = sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val right = sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    cands.join(left, "doc_a").join(right, "doc_b")
      .withColumn("_i", graft.functions.TextExpressions
        .sortedIntersectSize(col("sh_a"), col("sh_b")))
      .filter(col("_i") * 1000 >= col("sz_a") * tp)
      .select(col("doc_a"), col("doc_b"),
        expr("(1000 * _i) DIV sz_a").as("containment_permille"),
        col("sz_a"), col("sz_b"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      mode: HashMode = XxHash,
      maxPostingSize: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold (t=0 degenerates to the full inverted-index join)")
    val t = threshold
    val sh = track(docs
      .select(col(idCol), hashedShingles(col(textCol), shingleN, mode).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist())
    // eps guards every double-precision bound below: if t·sz (etc.)
    // rounds a hair ABOVE an exact integer, ceil/≥ would tighten the
    // filter by one and silently drop a boundary true pair. Loosening
    // by 1e-9 only admits extra candidates — the exact verify stage
    // re-checks them — so losslessness survives floating point.
    val eps = 1e-9
    val posting = sh.select(col(idCol), col("sz"), explode(col("sh")).as("s"))
    val dfreq = posting.groupBy("s").agg(count(lit(1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("_df"), col("s"))
    // the optional hot-shingle cap rides the df value already joined in
    // (df >= the shingle's prefix-posting size, so capping on df is
    // conservative) — zero extra shuffles or counts
    val prefix = posting.join(dfreq, "s")
      .withColumn("_p", row_number().over(w))
      .filter(col("_p") <= col("sz") - ceil(col("sz") * t - eps) + lit(1))
      .filter(maxPostingSize.map(cap => col("_df") <= cap).getOrElse(lit(true)))
      .select(col(idCol), col("sz"), col("s"), col("_p"))
    val a = prefix.as("a")
    val b = prefix.as("b")
    // Candidate pruning beyond the shared-prefix-token requirement, all
    // fused into the (doc_a, doc_b) aggregation that dedupes collisions
    // (no extra shuffle):
    //  - length filter: J ≥ t forces t·|b| ≤ |a| ≤ |b|/t (applied in the
    //    join condition, before the shuffle);
    //  - positional filter (PPJoin): a collision at sorted positions
    //    (p_a, p_b) bounds the overlap by min(p_a-1, p_b-1) +
    //    min(|a|-p_a+1, |b|-p_b+1); J ≥ t needs overlap ≥
    //    ceil(t/(1+t)·(|a|+|b|)), so pairs whose BEST collision bound
    //    falls short are pruned without touching the full arrays.
    // On template-heavy corpora (shared boilerplate n-grams = high-df
    // shingles sorting late) this cuts verify candidates ~30x.
    val ub = least(col("a._p"), col("b._p")) - lit(1) +
      least(col("a.sz") - col("a._p"), col("b.sz") - col("b._p")) + lit(1)
    val cands = a.join(b,
        col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol")
          && col("a.sz") >= col("b.sz") * t - eps && col("b.sz") >= col("a.sz") * t - eps)
      .groupBy(
        col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(max(ub).as("_ub"))
      .filter(col("_ub") >=
        ceil((col("sz_a") + col("sz_b")) * lit(t / (1 + t)) - eps))
    // Verify: ONE linear-merge intersection per surviving pair (hash
    // arrays pre-sorted in hashedShingles); the union size is
    // |a| + |b| − |a∩b| (arrays are distinct), so neither array_union
    // nor array_intersect — each a per-pair hash-set build — ever runs.
    val left = sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val right = sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    cands.join(left, "doc_a").join(right, "doc_b")
      .withColumn("_i", graft.functions.TextExpressions
        .sortedIntersectSize(col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"),
        (col("_i") / (col("sz_a") + col("sz_b") - col("_i"))).as("jaccard"))
      .filter(col("jaccard") >= t)
  }
}
