package graft

import graft.config.DqRuleConfig
import graft.dq.DqEngine
import graft.io.Upsert
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariants over seeded random inputs (SURVEY.md §5.2
  * item 3). Seeds are fixed so failures reproduce; each property runs
  * over several independently-generated datasets.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val seeds = Seq(1, 7, 42, 1234, 99999)

  test("upsert is idempotent and key-unique for arbitrary batches") {
    spark.sql("CREATE DATABASE IF NOT EXISTS prop_test")
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val t = s"prop_test.u_$seed"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val batches = Seq.fill(3)(
        Seq.fill(rnd.nextInt(20) + 1)((rnd.nextInt(10), rnd.nextInt(1000)))
          .toDF("k", "v"))
      batches.foreach(b => Upsert.upsertTable(spark, t, b, Seq("k")))
      val afterAll = spark.table(t).as[(Int, Int)].collect().toSet
      Upsert.upsertTable(spark, t, batches.last, Seq("k"))
      assert(spark.table(t).as[(Int, Int)].collect().toSet == afterAll,
        s"seed $seed: re-upsert of last batch changed the table")
      val keys = spark.table(t).select("k").as[Int].collect()
      assert(keys.length == keys.distinct.length, s"seed $seed: duplicate keys")
    }
  }

  test("incremental additive aggregate equals the one-shot aggregate for arbitrary batch splits") {
    import graft.io.Maintenance
    import org.apache.spark.sql.types.DecimalType
    spark.sql("CREATE DATABASE IF NOT EXISTS prop_test")
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val t = s"prop_test.m_$seed"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val nBatches = rnd.nextInt(4) + 2
      // g0's sums are always NULL (its one-shot sum is NULL); any other
      // value is NULL one time in four. amt is a decimal(10,2) column.
      def value[T](g: Int, v: => T): Option[T] =
        if (g == 0 || rnd.nextInt(4) == 0) None else Some(v)
      val batches = Seq.fill(nBatches)(
        Seq.fill(rnd.nextInt(30) + 1) {
          val g = rnd.nextInt(6)
          (s"g$g", value(g, rnd.nextInt(1000).toLong),
            value(g, BigDecimal(rnd.nextInt(100000), 2)))
        }.toDF("g", "qty", "amt").withColumn("amt", $"amt".cast("decimal(10,2)")))
      batches.zipWithIndex.foreach { case (b, i) =>
        Maintenance.maintainAdditiveAggregate(spark, t, b, Seq("g"),
          Seq("qty", "amt"), epochId = i + 1L) }
      val oneShot = batches.reduce(_ unionByName _)
        .groupBy("g")
        .agg(sum("qty").as("qty"), sum("amt").as("amt"), count(lit(1)).as("n_rows"))
        .collect().toSet
      assert(spark.table(t).schema("amt").dataType == DecimalType(20, 2),
        s"seed $seed: a decimal sum must keep its type across folds")
      val inc = spark.table(t).select("g", "qty", "amt", "n_rows").collect().toSet
      assert(inc == oneShot, s"seed $seed ($nBatches batches): $inc != $oneShot")
    }
  }

  test("association rules: conf/lift laws on random baskets vs a driver reference") {
    import graft.operators.Itemsets
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val rows = Seq.fill(rnd.nextInt(150) + 50)(
        (rnd.nextInt(15).toLong, rnd.nextInt(8).toLong))
      val df = rows.toDF("basket", "item")
      val rules = Itemsets.associationRules(df, "basket", "item")
        .as[(Long, Long, Long, Long, Long)].collect()
      // driver reference: exact supports from the deduped pairs
      val items = rows.distinct
      val byBasket = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val isup = items.map(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val n = byBasket.size.toLong
      rules.foreach { case (a, c, s, conf, lift) =>
        val expS = byBasket.values.count(b => b.contains(a) && b.contains(c)).toLong
        assert(s == expS, s"seed $seed: support($a,$c)=$s, expected $expS")
        assert(conf == 1000L * s / isup(a), s"seed $seed: conf($a->$c)")
        assert(lift == 1000L * s * n / (isup(a).toLong * isup(c)),
          s"seed $seed: lift($a,$c)")
        assert(conf >= 0 && conf <= 1000, s"seed $seed: conf out of range")
      }
      // symmetry: every rule's reverse direction exists with equal lift
      val byDir = rules.map(r => (r._1, r._2) -> r._5).toMap
      byDir.foreach { case ((a, c), l) =>
        assert(byDir.get((c, a)).contains(l), s"seed $seed: lift asymmetry $a,$c")
      }
    }
  }

  test("Traversal.reachable equals a driver-side BFS on random directed graphs") {
    import graft.operators.{FrameCaches, Traversal}
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val nNodes = rnd.nextInt(30) + 10
      val edges = Seq.fill(rnd.nextInt(120) + 30)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)) // cycles, self-loops
      val src = rnd.nextInt(nNodes).toLong
      val got = Traversal.reachable(edges.toDF("src", "dst"), Seq(src))
        .as[(Long, Long)].collect().toMap
      FrameCaches.release(spark)
      // reference: level-synchronous BFS on the driver
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map(src -> 0L)
      var level = Set(src); var d = 0L
      while (level.nonEmpty) {
        d += 1
        val next = level.flatMap(n => adj.getOrElse(n, Nil))
          .filterNot(dist.contains)
        next.foreach(n => dist(n) = d)
        level = next
      }
      assert(got == dist.toMap,
        s"seed $seed: BFS mismatch (${got.size} vs ${dist.size} nodes)")
    }
  }

  test("dq filter + invalid metrics partition the input exactly") {
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val n = rnd.nextInt(200) + 10
      val df = (0 until n).map(i =>
        (i, if (rnd.nextBoolean()) Some(rnd.nextDouble() * 100 - 20) else None))
        .toDF("id", "amount")
      val res = DqEngine(spark, df, Seq(
        DqRuleConfig("nn", "not_null", Seq("amount"), None, None, None, None, "filter"),
        DqRuleConfig("pos", "expression", Nil, None,
          Some("amount > 0"), None, None, "filter")))
      val m = res.metrics
      assert(m.head.validCount + m.head.invalidCount == n, s"seed $seed")
      assert(m(1).validCount + m(1).invalidCount == m.head.validCount, s"seed $seed")
      assert(res.data.count() == m(1).validCount, s"seed $seed")
      assert(res.data.filter($"amount".isNull || $"amount" <= 0).count() == 0)
    }
  }

  test("jaccard bounds and identity on generated shingle sets") {
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      def randSet() = rnd.shuffle(vocab).take(rnd.nextInt(6) + 2)
      val rows = (0 until 10).map(i => (i, randSet(), randSet()))
        .toDF("id", "sa", "sb")
      val out = rows.select($"id",
        Dedup.jaccard($"sa", $"sb").as("j"),
        Dedup.jaccard($"sa", $"sa").as("self")).collect()
      assert(out.forall { r =>
        val j = r.getDouble(1); j >= 0.0 && j <= 1.0
      }, s"seed $seed: jaccard out of bounds")
      assert(out.forall(_.getDouble(2) == 1.0), s"seed $seed: self-jaccard != 1")
    }
  }

  test("tag action never changes row count on generated data") {
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val n = rnd.nextInt(100) + 5
      val df = (0 until n).map(i => (i, rnd.nextString(5))).toDF("id", "s")
      val res = DqEngine(spark, df, Seq(
        DqRuleConfig("fmt", "regex", Seq("s"), Some("^[a-z]+$"),
          None, None, None, "tag")))
      assert(res.data.count() == n, s"seed $seed")
    }
  }

  test("connected components match a driver-side union-find on random graphs") {
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val nNodes = rnd.nextInt(150) + 20
      val nEdges = rnd.nextInt(2 * nNodes) + 1
      val pairs = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        if (a < b) (a, b) else (b, a + 1) // avoid self-loops, keep a<b
      }.distinct
      // oracle: plain driver-side union-find with min roots
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val expect = parent.keys.map(k => k -> find(k)).toMap
      // random funnel width exercises single- and multi-pass paths
      val width = rnd.nextInt(12) + 1
      val got = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"),
        funnelTargetPerTask = width)
        .as[(Long, Long)].collect().toMap
      assert(got == expect,
        s"seed $seed width $width: ${got.toSet.diff(expect.toSet).take(5)}")
    }
  }

  test("chunking tiles every token with the declared stride and overlap") {
    // the t12/t14 chunk grid: chunk i covers [i*48+1, i*48+64]. On
    // random doc lengths: full coverage (last chunk reaches the last
    // token), stride-48 starts, len-64 chunks except a short last.
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val lens = Seq.fill(50)(1 + rnd.nextInt(500))
      val rows = lens.zipWithIndex.map { case (n, id) =>
        (id.toLong, (1 to n).map(i => s"w$i").mkString(" "))
      }.toDF("doc_id", "text")
      val chunks = rows
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_chunks", when(col("n_tok") <= 64, lit(1L))
          .otherwise(expr("CAST(1 + (n_tok - 17) DIV 48 AS BIGINT)")))
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("start", col("chunk_id") * 48 + 1)
        .withColumn("len", least(lit(64L), col("n_tok") - col("start") + 1))
        .as[(Long, Int, Long, Long, Long)].collect()
      for ((doc, n) <- lens.indices.map(_.toLong).zip(lens)) {
        val cs = chunks.filter(_._1 == doc).sortBy(_._3)
        assert(cs.head._4 == 1, "first chunk starts at token 1")
        assert(cs.last._4 + cs.last._5 - 1 == n,
          s"last chunk must reach token $n (doc $doc): ${cs.last}")
        cs.init.foreach(c => assert(c._5 == 64, s"non-last chunk short: $c"))
        cs.sliding(2).foreach {
          case Array(a, b) => assert(b._4 - a._4 == 48, s"stride: $a -> $b")
          case _ =>
        }
      }
    }
  }

  test("HLL registers are bounded and estimate is monotone-insensitive to duplication") {
    import graft.operators.{Dedup => D, Sketches}
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val n = 200 + rnd.nextInt(2000)
      val items = Seq.fill(n)(rnd.nextLong()).toDF("x")
      val regs = Sketches.hllRegisters(items, col("x"), 64, D.Md5Hash)
        .as[(Long, Long)].collect()
      assert(regs.length <= 64)
      regs.foreach { case (b, r) =>
        assert(b >= 0 && b < 64, s"bucket out of range: $b")
        assert(r >= 1 && r <= 41, s"rho out of range: $r")
      }
      // feeding the stream twice must not move a single register
      val doubled = Sketches.hllRegisters(items.unionAll(items), col("x"),
        64, D.Md5Hash).as[(Long, Long)].collect()
      assert(doubled.toSet == regs.toSet)
    }
  }

  test("sorted-merge intersect size equals array_intersect on random string sets") {
    import graft.functions.TextExpressions
    for (seed <- seeds) {
      val rnd = new Random(seed)
      def randSet(): Seq[String] = {
        val n = rnd.nextInt(40)
        // overlapping alphabet (small token space) + unicode + empties
        Seq.fill(n)(rnd.nextInt(4) match {
          case 0 => s"tok${rnd.nextInt(30)}"
          case 1 => s"日本${rnd.nextInt(10)}"
          case 2 => ""
          case _ => s"${rnd.nextInt(10)} with spaces"
        }).distinct
      }
      val rows = Seq.fill(60)((randSet(), randSet())).toDF("a", "b")
      val both = rows.select(
        TextExpressions.sortedIntersectSize(
          array_sort(col("a")), array_sort(col("b"))).as("merge"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
        .as[(Int, Int)].collect()
      both.foreach { case (m, r) => assert(m == r, s"seed $seed: $m != $r") }
    }
  }

  test("sorted-merge long intersect equals array_intersect element-for-element") {
    // the gr3/gr4 close kernel (r20): on sorted duplicate-free long
    // sets the two-pointer merge must return array_intersect's exact
    // element list (ascending = first-array order under the sorted-set
    // precondition) — hot keys, disjoint sets, empties, negatives
    import graft.functions.TextExpressions
    for (seed <- seeds) {
      val rnd = new Random(seed)
      def randSet(): Seq[Long] = {
        val n = rnd.nextInt(40)
        Seq.fill(n)(rnd.nextInt(60).toLong - 20L).distinct.sorted
      }
      val rows = Seq.fill(60)((randSet(), randSet())).toDF("a", "b")
      val both = rows.select(
        TextExpressions.sortedLongIntersect(col("a"), col("b")).as("merge"),
        array_intersect(col("a"), col("b")).as("ref"),
        TextExpressions.sortedIntersectSize(col("a"), col("b")).as("msize"))
        .as[(Seq[Long], Seq[Long], Int)].collect()
      both.foreach { case (m, r, s) =>
        assert(m == r, s"seed $seed: $m != $r")
        assert(s == m.length, s"seed $seed: size $s != ${m.length}")
      }
    }
  }

  test("native minhash signature equals the HOF spec on random unicode text") {
    // random texts spanning whitespace runs, empty strings, short texts
    // (whole-text shingle fallback), repeats, and multi-byte codepoints —
    // the edge cases real-corpus equivalence tests can miss
    val alphabet = "ab cd\t e\n αβγ 字符 x y z 0 1 ,.!"
    for (seed <- seeds) {
      val rnd = new Random(seed)
      val texts = (0 until 60).map { i =>
        val len = rnd.nextInt(80)
        (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
          .mkString)
      }
      val df = texts.toDF("doc_id", "text")
      for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
        val nat = Dedup.withMinhashSignature(df, "text", 3, 16, mode)
          .select("doc_id", "sig")
          .as[(Long, Seq[Option[Long]])].collect().sortBy(_._1)
        val hof = Dedup.withMinhashSignatureHof(df, "text", 3, 16, mode)
          .select("doc_id", "sig")
          .as[(Long, Seq[Option[Long]])].collect().sortBy(_._1)
        assert(nat.sameElements(hof), s"seed $seed mode $mode diverged")
      }
    }
  }
}
