package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 1/2 near-identical (one word changed), 3 unrelated, 4 == 1 exactly
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")
  ).toDF("doc_id", "text")

  test("shingles: distinct n-grams; short text falls back to whole text") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).head == "the quick brown")
    assert(sh(1L).size == 12) // 14 tokens -> 12 trigrams, all distinct
    val short = Seq((9L, "only two")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text", 3)).as[Seq[String]].head()
    assert(short == Seq("only two"))
  }

  test("minhash LSH finds planted near-dups and exact dups (xxhash path)") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5, mode = Dedup.XxHash)
      .as[(Long, Long, Double)].collect().toMap2
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("crossCorpusNearDups matches batch against ref only — never ref-vs-ref") {
    // ref = docs 1,2 (near-dups of each other); batch = 3 (unrelated), 4
    // (exact copy of ref doc 1). The ref-internal near-dup pair (1,2)
    // must NOT appear: incremental dedup never self-joins the reference.
    val ref = docs.filter($"doc_id" <= 2)
    val batch = docs.filter($"doc_id" >= 3)
    val pairs = Dedup.crossCorpusNearDups(batch, ref, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 4L && p._2 == 1L && p._3 == 1.0),
      s"exact batch copy of a ref doc must surface: ${pairs.toSeq}")
    assert(pairs.forall(p => p._1 >= 3L && p._2 <= 2L),
      s"only batch-vs-ref direction allowed: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L), "unrelated batch doc matched")
    Dedup.releaseCaches(spark)
  }

  test("native WordShingles is set-equal to the HOF formulation on real docs") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val both = real.select(
      Dedup.shingles($"text", 3).as("nat"),
      Dedup.shinglesHof($"text", 3).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    assert(both.nonEmpty)
    assert(both.forall { case (n, h) => n.toSet == h.toSet })
  }

  test("native SimhashChunks equals the HOF formulation, both hash modes") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
      val nat = Dedup.withSimhashChunks(real, "text", mode)
        .select("doc_id", "sim_chunk_0", "sim_chunk_1", "sim_chunk_2", "sim_chunk_3")
        .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
      val hof = Dedup.withSimhashChunksHof(real, "text", mode)
        .select("doc_id", "sim_chunk_0", "sim_chunk_1", "sim_chunk_2", "sim_chunk_3")
        .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
      assert(nat.sameElements(hof), s"mode $mode diverged")
    }
  }

  test("native MinhashSignature equals the HOF formulation, both hash modes") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
      val nat = Dedup.withMinhashSignature(real, "text", 3, 16, mode)
        .select("doc_id", "sig")
        .as[(Long, Seq[Long])].collect().sortBy(_._1)
      val hof = Dedup.withMinhashSignatureHof(real, "text", 3, 16, mode)
        .select("doc_id", "sig")
        .as[(Long, Seq[Long])].collect().sortBy(_._1)
      assert(nat.nonEmpty && nat.sameElements(hof), s"mode $mode diverged")
    }
  }

  test("MinhashSignature and HashedShingleSet skip null array elements") {
    import graft.functions.TextExpressions
    // shingles() never emits nulls, but both expressions are public and
    // accept array<string> containsNull=true — a null element must be
    // skipped (array_min semantics), not NPE
    val withNull = array(lit("a b c"), lit(null).cast("string"), lit("d e f"))
    val without = array(lit("a b c"), lit("d e f"))
    for (md5 <- Seq(true, false)) {
      val row = spark.range(1).select(
        TextExpressions.minhashSignature(withNull, 16, md5).as("sn"),
        TextExpressions.minhashSignature(without, 16, md5).as("s"),
        TextExpressions.hashedShingleSet(withNull, md5).as("hn"),
        TextExpressions.hashedShingleSet(without, md5).as("h"))
        .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].head()
      assert(row._1 == row._2, s"minhash md5=$md5 diverged on null element")
      assert(row._3 == row._4, s"shingle set md5=$md5 diverged on null element")
    }
    // all-null input: signature mirrors array_min over all-null
    // (all-null elements); the hash set is empty
    val allNull = array(lit(null).cast("string"))
    val nulls = spark.range(1).select(
      TextExpressions.minhashSignature(allNull, 4, true).as("s"),
      TextExpressions.hashedShingleSet(allNull, true).as("h"))
      .select(col("s"), col("h"))
      .collect().head
    assert(nulls.getSeq[Any](0) == Seq(null, null, null, null))
    assert(nulls.getSeq[Long](1).isEmpty)
  }

  test("containmentPairs: a quote is one-directional; near-dups both ways") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // 2 QUOTES 1 inside extra framing: 1-in-2 high, 2-in-1 low
      (2L, "intro words first alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa then much more trailing content follows here at length " +
        "with many additional framing tokens around the quoted passage"),
      (3L, "unrelated content about entirely different things altogether now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text",
        shingleN = 3, thresholdPermille = 700)
      .select("doc_a", "doc_b", "containment_permille")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    assert(got.contains((1L, 2L)), s"the quote must be found: $got")
    assert(got((1L, 2L)) == 1000L, "every shingle of 1 appears in 2")
    assert(!got.contains((2L, 1L)), "the long doc is NOT contained in the quote")
    assert(!got.keys.exists(k => k._1 == 3L || k._2 == 3L))
    Dedup.releaseCaches(spark)
  }

  test("containmentPairs: posting cap is a subset trade, never an inflation") {
    val d = (1L to 30L).map(i =>
      (i, "shared boiler plate tokens common to all docs here " +
        s"unique$i tail$i piece$i")).toDF("doc_id", "text")
    val exact = Dedup.containmentPairs(d, "doc_id", "text", 3, 700)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    Dedup.releaseCaches(spark)
    val capped = Dedup.containmentPairs(d, "doc_id", "text", 3, 700,
        maxPostingSize = Some(5L))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact),
      s"capped must be a subset: ${capped -- exact}")
    Dedup.releaseCaches(spark)
  }

  test("jaccard is exact on known sets") {
    val j = spark.range(1)
      .select(Dedup.jaccard(typedLit(Seq("a", "b", "c")), typedLit(Seq("b", "c", "d"))))
      .as[Double].head()
    assert(j == 0.5)
  }

  test("simhash: identical docs share all chunks, near-dups most chunks") {
    val chunks = Dedup.withSimhashChunks(docs, "text")
      .select("doc_id", "sim_chunk_0", "sim_chunk_1", "sim_chunk_2", "sim_chunk_3")
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    assert(chunks(1L) == chunks(4L))
    // one changed word in a 14-token doc flips several near-zero bit
    // counts, so only ≥1 shared chunk is guaranteed-ish at this length
    assert(chunks(1L).zip(chunks(2L)).count { case (a, b) => a == b } >= 1)
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 4L)))
    assert(cands.contains((1L, 2L)))
  }

  test("MinhashUnionAggregator merges signatures element-wise (min)") {
    val sigs = Dedup.withMinhashSignature(docs, "text")
      .select($"doc_id", $"sig").as[(Long, Seq[Long])]
    val byHand = sigs.collect().toMap
    val merged = sigs
      .groupByKey { case (id, _) => if (id <= 2) "c1" else "c2" }
      .mapValues(_._2)
      .agg(new Dedup.MinhashUnionAggregator(16).toColumn)
      .collect().toMap
    val expectC1 = (0 until 16).map(i =>
      Seq(byHand(1L)(i), byHand(2L)(i)).min)
    assert(merged("c1") == expectC1)
    assert(merged("c2") == (0 until 16).map(i =>
      Seq(byHand(3L)(i), byHand(4L)(i)).min))
  }

  test("connected components label chains and keep singleton pairs apart") {
    // chain 1-2-3-4 plus separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels.size == 6)
  }

  test("withMinhashSignatureAndBands derives the same band keys as withMinhashBands") {
    val combined = Dedup.withMinhashSignatureAndBands(docs, "text")
      .select("doc_id", "band_0", "band_1", "band_2", "band_3")
      .as[(Long, String, String, String, String)].collect().sortBy(_._1)
    val direct = Dedup.withMinhashBands(docs, "text")
      .select("doc_id", "band_0", "band_1", "band_2", "band_3")
      .as[(Long, String, String, String, String)].collect().sortBy(_._1)
    assert(combined.sameElements(direct),
      "single-hash-pass band keys must equal the bands-only formulation")
  }

  test("multi-pass union-find funnel merges stars across partitions") {
    // chain of 60 nodes + a separate triangle; tiny funnel width forces
    // several contraction passes (the 100 TB path that p=1 never
    // exercises locally), including root-chain resolution at the final
    // global pass
    val chain = (1L until 60L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, funnelTargetPerTask = 4)
      .as[(Long, Long)].collect().toMap
    assert((1L to 60L).forall(labels(_) == 1L))
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    assert(labels.size == 63)
  }

  test("funnel falls back to label propagation when stars exceed one task") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val labels = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"),
      funnelTargetPerTask = 4, maxEdgesPerTask = 1)
      .as[(Long, Long)].collect().toMap
    assert((1L to 40L).forall(labels(_) == 1L))
    assert(labels.size == 40)
  }

  test("candidatePairs drops oversized buckets when capped (hot-key guard)") {
    // band_a: one hot bucket of 5 ids (10 pairs) + band_b: a clean pair.
    // cap=3 must drop ONLY the hot bucket's contribution.
    val base = Seq(
      (1L, "HOT", "x1"), (2L, "HOT", "x2"), (3L, "HOT", "x3"),
      (4L, "HOT", "x4"), (5L, "HOT", "nb"), (6L, "cold", "nb")
    ).toDF("doc_id", "band_a", "band_b")
    val uncapped = Dedup.candidatePairs(base, "doc_id",
      Seq(col("band_a"), col("band_b")))
      .as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((5L, 6L)))
    assert(uncapped.size == 11) // C(5,2) hot + (5,6) via band_b
    val capped = Dedup.candidatePairs(base, "doc_id",
      Seq(col("band_a"), col("band_b")), maxBucketSize = Some(3))
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((5L, 6L)),
      s"cap must drop the hot bucket, keep clean bands: $capped")
  }

  test("native HashedShingleSet equals the HOF formulation, both hash families") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
      val both = real.select(
        Dedup.hashedShingles($"text", 3, mode).as("nat"),
        Dedup.hashedShinglesHof($"text", 3, mode).as("hof"))
        .as[(Seq[Long], Seq[Long])].collect()
      assert(both.nonEmpty)
      both.foreach { case (n, h) => assert(n == h, s"mode $mode diverged") }
    }
  }

  test("ngramJaccardPairs: prefix filter is lossless vs brute force, both hash families") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash); t <- Seq(0.3, 0.5, 0.8)) {
      val sh = real.select($"doc_id",
        Dedup.hashedShingles($"text", 3, mode).as("sh"))
      val fast = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, t, mode)
        .as[(Long, Long, Double)].collect().toSet
      val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
        .filter($"j" >= t)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == brute,
        s"mode=$mode t=$t: prefix-filtered join diverged from brute force")
      Dedup.releaseCaches(spark)
    }
  }

  test("ngramJaccardPairs: posting cap drops boilerplate-only pairs, keeps rare ones") {
    // docs 3-6 are identical boilerplate (ONE shingle, df=4); docs 1-2
    // share only rare shingles (df=2). cap=3 must erase the boilerplate
    // clique and keep the rare-shingle pair with its exact score.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "common boiler plate"), (4L, "common boiler plate"),
      (5L, "common boiler plate"), (6L, "common boiler plate")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (3L, 4L), (3L, 5L), (3L, 6L), (4L, 5L), (4L, 6L), (5L, 6L)))
    Dedup.releaseCaches(spark)
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.9,
      Dedup.XxHash, maxPostingSize = Some(3L))
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == Set((1L, 2L, 1.0)),
      s"cap must keep only the rare-shingle pair: $capped")
    Dedup.releaseCaches(spark)
  }

  test("capped d9 is a subset of the exact answer with exact scores (real corpus)") {
    // the documented maxPostingSize contract: capping may LOSE pairs
    // whose only shared prefix shingle was hot, but every pair it does
    // return must carry the identical exact Jaccard score — never an
    // approximated one
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    Dedup.releaseCaches(spark)
    // cap low enough to actually drop postings on this corpus
    val capped = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.3,
        Dedup.XxHash, maxPostingSize = Some(3L))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    Dedup.releaseCaches(spark)
    assert(exact.nonEmpty)
    capped.foreach { case (pair, score) =>
      assert(exact.contains(pair), s"capped invented pair $pair")
      assert(exact(pair) == score, s"capped changed the score of $pair")
    }
  }

  test("ngramJaccardPairs: exact dups score 1.0; unrelated docs excluded") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.contains((1L, 4L, 1.0)))
    assert(pairs.exists { case (a, b, _) => (a, b) == (1L, 2L) }) // one word changed
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
    }
    Dedup.releaseCaches(spark)
  }

  test("self-loop pairs label singleton clusters on every CC path") {
    // documented contract (Dedup.connectedComponents): a (x, x) pair is
    // legal and labels x as its own singleton cluster — on the
    // union-find path, the funnel's label-propagation fallback, and the
    // non-integral direct label-propagation path alike
    val pairs = Seq((7L, 7L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // union-find path (single pass locally)
    val uf = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(uf == Map(7L -> 7L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    // funnel bottoming out into the label-propagation fallback: tiny
    // funnel width + maxEdgesPerTask=1 forces the fallback, and the
    // self-loop singleton star must still be covered in the output
    val fb = Dedup.connectedComponents(pairs,
        funnelTargetPerTask = 1, maxEdgesPerTask = 1)
      .as[(Long, Long)].collect().toMap
    assert(fb == uf, "fallback path must cover the same node set")
    // non-integral ids: direct label propagation
    val lp = Dedup.connectedComponents(
        Seq(("s", "s"), ("a", "b")).toDF("doc_a", "doc_b"))
      .as[(String, String)].collect().toMap
    assert(lp == Map("s" -> "s", "a" -> "a", "b" -> "a"))
  }

  test("non-integral ids take the label-propagation path") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c").forall(labels(_) == "a"))
    assert(labels("x") == "x" && labels("y") == "x")
  }

  test("releaseCaches frees every pipeline cache and checkpoint block") {
    Dedup.releaseCaches(spark) // drain leftovers from earlier tests
    System.gc() // let the context cleaner catch up on dead RDD refs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5, mode = Dedup.XxHash)
    assert(pairs.count() > 0)
    val clusters = Dedup.connectedComponents(
      Dedup.minhashCandidates(docs, "doc_id", "text"))
    assert(clusters.count() > 0)
    assert(Dedup.simhashCandidates(docs, "doc_id", "text").count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "pipelines are expected to cache while live")
    Dedup.releaseCaches(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
