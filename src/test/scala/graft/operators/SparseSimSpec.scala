package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SparseSimSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory mirror of the operator's integer pipeline: word
    * n-grams → tf → idf_milli → BIGINT weights/norms/dots → floored
    * cosine micros. An executable spec, not an approximation.
    */
  private def brute(docs: Seq[(Long, String)], n: Int, maxDf: Long)
      : Map[(Long, Long), (Long, Long)] = {
    val grams = docs.map { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      id -> (if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
             else Seq.empty[String])
    }.toMap
    val tf = grams.map { case (id, gs) =>
      id -> gs.groupBy(identity).map { case (g, v) => g -> v.size.toLong } }
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (g, v) => g -> v.size.toLong }
    val nDocs = docs.size.toDouble
    val w = tf.map { case (id, m) =>
      id -> m.collect { case (g, f) if df(g) <= maxDf =>
        g -> f * math.floor(math.log(nDocs / df(g).toDouble) * 1000.0 + 0.5).toLong }
    }
    val n2 = w.map { case (id, m) => id -> m.values.map(x => x * x).sum }
    (for {
      (i, wi) <- w.toSeq; (j, wj) <- w.toSeq if i < j
      shared = wi.keySet.intersect(wj.keySet) if shared.nonEmpty
    } yield {
      val dot = shared.toSeq.map(g => wi(g) * wj(g)).sum
      val cos = math.floor(dot.toDouble /
        (math.sqrt(n2(i).toDouble) * math.sqrt(n2(j).toDouble)) * 1e6 + 0.5).toLong
      (i, j) -> (shared.size.toLong, cos)
    }).toMap
  }

  private val corpus = Seq(
    (1L, "red fox jumps over the lazy dog near the red barn"),
    (2L, "red fox jumps over the lazy dog near the old barn"),
    (3L, "quick brown cat sleeps under a warm roof all day"),
    (4L, "quick brown cat sleeps under a cold roof all day"),
    (5L, "entirely different words about streaming shuffle plans here"),
    (6L, "ha"))

  test("cosine pairs equal the in-memory integer pipeline exactly") {
    val got = SparseSim.cosinePairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, maxDf = 1000L, minCosMicro = 0L)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, s, c) => (a, b) -> (s, c) }.toMap
    val want = brute(corpus, 3, 1000L)
    assert(got == want, s"got $got\nwant $want")
    // the near-dup pairs rank far above the unrelated ones
    assert(got((1L, 2L))._2 > 350000L && got((3L, 4L))._2 > 350000L)
    assert(!got.contains((1L, 5L)), "no shared trigram, no pair row")
    FrameCaches.release(spark)
  }

  test("maxDf truncates the hot term from vectors AND norms (both engines' spelling)") {
    // plant a boilerplate trigram in every doc: with the cap below N
    // it vanishes from the statistic; the brute mirror applies the
    // same truncation, so equality proves the cap semantics
    val boiler = corpus.filter(_._1 != 6L)
      .map { case (id, t) => (id, s"same header line $t") }
    val capped = SparseSim.cosinePairs(boiler.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, maxDf = 4L, minCosMicro = 0L)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, s, c) => (a, b) -> (s, c) }.toMap
    assert(capped == brute(boiler, 3, 4L))
    // the planted trigrams (df = 5 > 4) must not link unrelated docs:
    // 1 and 5 share ONLY boilerplate
    assert(!capped.contains((1L, 5L)),
      s"boilerplate-only pair must prune: $capped")
    val e = intercept[IllegalArgumentException] {
      SparseSim.cosinePairs(boiler.toDF("doc_id", "text"), "doc_id", "text",
        maxDf = 1L)
    }
    assert(e.getMessage.contains("pairable"), e.getMessage)
    FrameCaches.release(spark)
  }

  test("docs shorter than n tokens carry no terms; threshold filters pairs") {
    val thr = SparseSim.cosinePairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, maxDf = 1000L, minCosMicro = 380000L)
      .as[(Long, Long, Long, Long)].collect()
    assert(thr.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (3L, 4L)), thr.toSeq)
    // doc 6 ("ha") is 1 token: no grams, no norm row, no pairs — and
    // no NULL/negative-size array crash on the way
    assert(!thr.exists(r => r._1 == 6L || r._2 == 6L))
    FrameCaches.release(spark)
  }
}
