package graft.queries

import graft.SparkSpec

/** Scale-posture audit: these assertions pin the physical-plan
  * properties that make the library viable at 100 TB — filters reaching
  * the parquet scan, column pruning, dimension broadcast, map-side
  * partial aggregation, whole-stage codegen, and no accidental
  * cartesian products in the LSH pipeline. A regression here is a
  * performance bug even while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** Count physical operators named `op` in the executed-plan TREE
    * (subquery plans included), not its explain TEXT: a persisted
    * frame's InMemoryTableScan reprints the cached plan — and every
    * operator inside it — once per scan in the text, so one legitimate
    * node can count N times (the round-12 red tw6 pin: the single
    * scalar n_docs cross counted 4× across three scans of the weight
    * frame). The tree walk sees each node exactly once;
    * InMemoryTableScan is a leaf, so a cached subtree's operators
    * count zero times here and are pinned where the frame is built.
    */
  private def countInTree(name: String, op: String): Int =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan
      .collectWithSubqueries { case n if n.nodeName.contains(op) => n }
      .size

  test("s1: predicate pushdown and column pruning reach the scan") {
    val p = plan("s1_parquet_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,1000)]"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("l_shipdate"), "scan must not read unprojected columns")
  }

  test("j1: dimension side broadcasts; no shuffle of the fact for the join") {
    val p = plan("j1_inner_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1/g1: hash aggregation is partial+final (map-side combine)") {
    assert("HashAggregate".r.findAllIn(plan("q1_pricing_summary")).size >= 2)
    val g1 = plan("g1_daily_sales_by_type")
    assert(g1.contains("BroadcastHashJoin") && g1.contains("HashAggregate"))
  }

  test("whole-stage codegen spans the pricing summary") {
    // AQE defers stage compilation, so ask the codegen explain mode
    val codegen = graft.SparkEntry.queries("q1_pricing_summary")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
  }

  test("date-range filter is pushed to parquet (partition-prunable shape)") {
    val p = plan("p8_date_range")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("LSH candidate join is an equi-join, never a cartesian product") {
    val p = plan("d3_minhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d9: prefix-index similarity join is equi-join shaped, windows partitioned") {
    val p = plan("d9_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-doc prefix ranking must not collapse to a global sort
    val sp = graft.SparkEntry.queries("d9_ngram_jaccard")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("d9 set build plans native expressions — no interpreted HOFs, both families") {
    import graft.operators.Dedup
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
      val base = docs.select(
        org.apache.spark.sql.functions.col("doc_id"),
        Dedup.hashedShingles(
          org.apache.spark.sql.functions.col("text"), 3, mode).as("sh"))
        .queryExecution.optimizedPlan.toString
      assert(base.contains("hashed_shingle_set") && base.contains("wordshingles"),
        s"d9 base must plan the native expressions:\n${base.take(800)}")
      assert(!base.contains("lambdafunction"),
        s"no interpreted HOFs in the d9 set build:\n${base.take(800)}")
    }
  }

  test("dedup-exact aggregates partially before the shuffle") {
    val p = plan("d1_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("anti/semi joins plan as such (no null-filter emulation)") {
    assert(plan("j3_anti_join").contains("LeftAnti"))
    assert(plan("j4_semi_join").contains("LeftSemi"))
  }

  test("q18: IN-subquery with HAVING decorrelates to aggregate + semi join") {
    val p = plan("q18_big_orders")
    // Catalyst must rewrite the IN into a semi join against the
    // aggregated subquery — never a correlated re-execution or cartesian
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "big-orders aggregate must map-side combine")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must plan as per-partition heaps, not a global sort")
  }

  test("q4: correlated EXISTS decorrelates to a semi join; date filter pushed") {
    val p = plan("q4_late_orders")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date window must reach the orders scan:\n" + p.take(1500))
  }

  test("q14: part dim broadcasts, shipdate pushed, aggregate map-side combines") {
    val p = plan("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "quarter window must reach the lineitem scan:\n" + p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "ungrouped sums must partial-aggregate before the exchange")
  }

  test("q19: disjunctive predicate keeps the equi key — broadcast join, no cartesian") {
    val p = plan("q19_disjunctive")
    // Catalyst must extract p_partkey = l_partkey from under the OR;
    // the three (brand, size, quantity) arms stay a post-join residual
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q22: NOT EXISTS decorrelates to an anti join; scalar avg is a subquery") {
    val p = plan("q22_idle_rich")
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("Subquery") || p.contains("subquery"),
      "the positive-balance average must plan as a 1-row scalar subquery, " +
        "not a join:\n" + p.take(1500))
  }

  test("fi1: basket pair mining is agg + explode — no self-join, no cartesian") {
    val p = plan("fi1_item_pairs")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "pairs must come from the per-order generator, never a self-join:\n" +
        p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "support counting must map-side combine")
  }

  test("q13: outer join preserved; both aggregation levels map-side combine") {
    val p = plan("q13_order_dist")
    assert(p.contains("LeftOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      "per-customer count + distribution histogram must both hash-aggregate")
  }

  test("q15: the revenue max plans as a scalar subquery, supplier broadcasts") {
    val p = plan("q15_top_supplier")
    assert(p.contains("Subquery") || p.contains("subquery"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the quarter window must reach the lineitem scan:\n" + p.take(1500))
  }

  test("q17: decorrelated per-part average is an equi join, no nested loop") {
    val p = plan("q17_small_qty")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-part quantity aggregate must map-side combine")
  }

  test("q21: both residual probes read off ONE order-keyed window, no self-joins") {
    // r20 rewrite: EXISTS/NOT EXISTS over the per-(order, supplier)
    // aggregate became two order-level window counts — lineitem flows
    // through the plan once, no cache, no semi/anti self-joins (the
    // r19 spelling probed a persisted ol with LeftSemi + LeftAnti)
    val p = plan("q21_late_solo")
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      "the residual predicates must ride the window, not probe joins:\n" +
        p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("InMemoryTableScan"),
      "the one-pass spelling needs no cache:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "supplier must stay a broadcast dim:\n" + p.take(1500))
  }

  test("q2: correlated scalar MIN decorrelates — aggregate + equi join, no nested loop") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "correlated MIN fell back to per-row nested-loop re-execution:\n" + p.take(2000))
    // the rewrite: per-part MIN aggregate joined back on the correlation key
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "decorrelated per-part MIN must map-side combine:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "supplier/nation/region dims must broadcast:\n" + p.take(2000))
    // LIMIT 100 over a total order — per-partition heaps, no global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q9: part/supplier/nation broadcast; partsupp joins on the pair key") {
    val p = plan("q9_nation_profit")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "part, supplier, and nation must broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q20: both IN chains decorrelate to semi joins, the scalar SUM to an aggregate") {
    val p = plan("q20_excess_stock")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "nested IN chain fell back to nested-loop:\n" + p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the correlated window SUM must decorrelate to a per-pair aggregate:\n"
        + p.take(2000))
  }

  test("q7: all four dims broadcast — at most the lineitem⋈orders join shuffles") {
    val p = plan("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "customer, supplier, and both nation roles must broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the two-year window must reach the lineitem scan:\n" + p.take(1500))
  }

  test("q6: every predicate reaches the scan; the fold is scan-side") {
    // toString truncates long PushedFilters lists — use formatted explain
    val p = graft.SparkEntry.queries("q6_discount_rev")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2500))
    assert(p.contains("GreaterThanOrEqual(l_discount"), p.take(2500))
    assert(p.contains("LessThan(l_quantity"), p.take(2500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "ungrouped fold must partial-aggregate before the 1-row exchange")
  }

  test("q8: dims broadcast; the share is one conditional aggregate, no second pass") {
    val p = plan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // conditional + unconditional sums ride ONE aggregate — a plan with
    // two aggregates over vol would scan/join twice
    assert("HashAggregate".r.findAllIn(p).size <= 2,
      "share-of-total must not re-aggregate:\n" + p.take(2000))
  }

  test("q16: NOT IN plans a hash anti join, never the nested-loop fallback") {
    val p = plan("q16_supplier_diversity")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // NOT IN's null-aware rewrite degrades to BroadcastNestedLoopJoin
    // when Catalyst can't prove the keys non-null / apply the
    // single-column NAAJ path — O(n·m) at scale; pin the hash plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "NOT IN fell back to nested-loop:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // COUNT(DISTINCT) must expand to the two-level aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      "distinct-pair reduction + rollup must both hash-aggregate:\n" + p.take(2000))
  }

  test("v5: batched IVF windows are per-query — no single-task global sort") {
    // AQE wraps subtrees in AdaptiveSparkPlanExec leaves; descend into them
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          windows(a.executedPlan)
      }.flatten
    val ws = windows(graft.SparkEntry.queries("v5_ivf_batch")(spark, dir)
      .queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected centroid + candidate ranking windows")
    ws.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("v3: every ranking window is partitioned — no single-task global sort") {
    val sp = graft.SparkEntry.queries("v3_ivf_topk")(spark, dir)
      .queryExecution.sparkPlan
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a ranking window in the IVF plan")
    windows.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("minhash/simhash plan native expressions — no interpreted HOFs, both families") {
    // the oracle queries pin the md5 family (DuckDB-rederivable); the
    // production path is xx — this keeps BOTH honest: the signature /
    // sketch per-row work must plan the one-call-per-row native
    // expressions, with zero interpreted higher-order functions
    // (lambdafunction = per-ELEMENT interpreted dispatch, the pipeline's
    // old hot-path cost) left in the plan
    import graft.operators.Dedup
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    for (mode <- Seq(Dedup.XxHash, Dedup.Md5Hash)) {
      val bands = Dedup.withMinhashBands(docs, "text", 3, 16, 4, mode)
        .queryExecution.optimizedPlan.toString
      assert(bands.contains("minhash_signature") && bands.contains("wordshingles"),
        s"minhash must plan the native expressions:\n${bands.take(800)}")
      assert(!bands.contains("lambdafunction"),
        s"no interpreted HOFs on the minhash hot path:\n${bands.take(800)}")
      val sim = Dedup.withSimhashChunks(docs, "text", mode)
        .queryExecution.optimizedPlan.toString
      assert(sim.contains("simhashchunksexpr") && !sim.contains("lambdafunction"),
        s"simhash must plan the native expression:\n${sim.take(800)}")
    }
  }

  test("t6: probe n-gram set broadcasts; contamination join is never cartesian") {
    val p = plan("t6_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t7: deterministic sampling is scan-fused — no shuffle before the sort") {
    // the keep decision is per-row hash arithmetic; the only exchange
    // allowed is the final presentation ORDER BY
    val sp = graft.SparkEntry.queries("t7_sample_mix")(spark, dir)
      .queryExecution.sparkPlan
    val shuffles = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1, s"sampling must not shuffle (beyond the final sort):\n$sp")
  }

  test("d11: cross-corpus candidates are equi-joined, never cartesian") {
    val p = plan("d11_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("t9: packing windows are per-shard — no global single-task sort") {
    val sp = graft.SparkEntry.queries("t9_seq_packing")(spark, dir)
      .queryExecution.sparkPlan
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-source cumulative-sum window")
    windows.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("q3/q5: top-k plans as TakeOrdered; the 6-table join broadcasts dims") {
    val p3 = plan("q3_shipping_priority")
    assert(p3.contains("TakeOrderedAndProject"),
      s"top-10 must be per-partition heaps, not a global sort:\n$p3")
    val p5 = plan("q5_region_revenue")
    assert(!p5.contains("CartesianProduct"), p5)
    assert(!p5.contains("BroadcastNestedLoopJoin"), p5)
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 2,
      s"supplier/nation/region should broadcast:\n$p5")
  }

  test("q10: both fact filters push to the scans; top-20 is TakeOrdered") {
    val p10 = plan("q10_returned_items")
    assert(p10.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition heaps, not a global sort:\n$p10")
    assert(!p10.contains("CartesianProduct"), p10)
    // the returnflag filter must reach the lineitem parquet scan, not
    // run post-join: at 100 TB it drops ~2/3 of the fact before the
    // shuffle
    assert(p10.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || p10.contains("EqualTo(l_returnflag,R)"),
      s"l_returnflag filter must be pushed to the scan:\n$p10")
    assert("BroadcastHashJoin".r.findAllIn(p10).size >= 2,
      s"customer and nation should broadcast:\n$p10")
  }

  test("t12: chunk explode is scan-fused — no shuffle before the sort") {
    // the chunk blow-up is per-row generator work; the only exchange
    // allowed is the final presentation ORDER BY
    val sp = graft.SparkEntry.queries("t12_chunking")(spark, dir)
      .queryExecution.sparkPlan
    val shuffles = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1,
      s"chunking must not shuffle (beyond the final sort):\n$sp")
    assert(sp.toString.contains("Generate"), s"expected the chunk explode:\n$sp")
  }

  test("t13: df carry-back is an equi-join; shingle agg partial-aggregates") {
    val sp = graft.SparkEntry.queries("t13_ngram_novelty")(spark, dir)
      .queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // per-shingle df: partial + final hash aggregate around its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("g4: mix report aggregates partially before the shuffle") {
    assert("HashAggregate".r.findAllIn(plan("g4_source_mix")).size >= 2)
  }

  test("v9/v10: quantized ranking windows are per-query; v10 joins on cell") {
    // v9 is deliberately brute-force (queries broadcast against every
    // corpus row, like v2) — but its ranking must stay per-query
    val v9 = graft.SparkEntry.queries("v9_quantized_topk")(spark, dir)
      .queryExecution.sparkPlan
    v9.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    // v10 prunes candidates by cell: an equi-join, never a cartesian
    val v10 = plan("v10_ivf_quantized")
    assert(!v10.contains("CartesianProduct"), v10)
    val v10sp = graft.SparkEntry.queries("v10_ivf_quantized")(spark, dir)
      .queryExecution.sparkPlan
    v10sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("v11: trained-ANN candidate stage joins on cell; windows per-query") {
    // the k-row centroid frames ride broadcast nested-loop joins (fine:
    // one row × corpus), but the CANDIDATE stage — the only quadratic
    // risk — must be the cell equi-join, and every ranking window must
    // stay per-query
    val sp = graft.SparkEntry.queries("v11_kmeans_quantized")(spark, dir)
      .queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "candidate stage must equi-join assigned cells against broadcast probes")
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    graft.operators.FrameCaches.release(spark)
  }

  test("sk1: CMS sketch build and BPE pair counting partial-aggregate before the shuffle") {
    // corpus-wide counts folded into tiny frames — losing the map-side
    // combine would shuffle one row per token occurrence. (bpe1's final
    // frame is the collected merge list, so its pair-count stage is
    // pinned on the operator's input shape instead.)
    assert("partial_count|partial_sum".r
      .findAllIn(plan("sk1_cms_heavy_hitters")).nonEmpty,
      "CMS cells must combine map-side")
    import org.apache.spark.sql.functions._
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val cells = graft.operators.Sketches.cmsBuild(toks, col("tok"), 4, 64,
      graft.operators.Dedup.Md5Hash)
    assert("partial_count".r
      .findAllIn(cells.queryExecution.executedPlan.toString).nonEmpty)
  }

  test("e9: funnel's chained windows share ONE user_id shuffle") {
    val p = plan("e9_funnel")
    // one exchange partitions by user_id for all three stage windows
    // (the chained conditional-mins reuse the same partitioning); the
    // only other exchanges feed the final single-row global aggregate
    val userShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userShuffles == 1,
      s"stage windows must reuse one user_id exchange, saw $userShuffles:\n$p")
  }

  test("j8: the correlated lateral decorrelates to a map-side group limit, never a nested loop") {
    val p = plan("j8_lateral_topk")
    // Catalyst must rewrite the ORDER BY…LIMIT lateral into rank +
    // WindowGroupLimit (the partial group-limit runs BEFORE the
    // exchange — map-side top-k) joined hash-wise; a per-outer-row
    // re-execution would surface as a nested-loop join
    assert(p.contains("WindowGroupLimit"),
      s"lateral top-k must plan the group-limit pushdown:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral must not plan a nested loop:\n${p.take(1500)}")
  }

  test("rc1: the schedule folds in one pass — no serial loop operator") {
    // r20 rewrite (the rc3 fold lesson): each region's 25-row schedule
    // is one aggregate() HOF over sequence(1, 24) — the 24-step
    // UnionLoop paid ~0.4 s of serial per-iteration pacing at ANY SF.
    // The recursion CLASS stays covered by rc2/gr2 (whose loop step
    // joins a data graph — TraversalSpec pins rc2's CTE semantics).
    val p = graft.SparkEntry.queries("rc1_amortization")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("UnionLoop"),
      s"rc1 must fold, not loop (24 serial steps for 5 rows):\n${p.take(1500)}")
    assert(p.toLowerCase.contains("aggregate("),
      s"the recurrence must run as the aggregate HOF:\n${p.take(1500)}")
  }

  test("fi2: rule joins broadcast the item supports; pair pipeline stays equi") {
    val p = plan("fi2_association_rules")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the 1-row basket-count
    // broadcast (a cross join by construction); item-support joins
    // must be broadcast hash joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row count may nested-loop:\n$p")
  }

  test("a13: ordered-set aggregate is one partial+final aggregate, no window") {
    val p = plan("a13_percentile_disc")
    assert(!p.contains("Window"), s"percentile_disc must not plan a window:\n$p")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r
      .findAllIn(p).nonEmpty, p)
  }

  test("fz1: blocked fuzzy join is equi-shaped — never cartesian") {
    val p = plan("fz1_fuzzy_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d12: shared-span join is equi-on-hash — corpus never self-joins") {
    val p = plan("d12_shared_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the hot-window count is a partial+final aggregate, not a window
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("tw3: bigram aggregates partial-combine; marginals broadcast back") {
    val p = plan("tw3_pmi_collocations")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // only the 1-row N may nested-loop; pair⋈marginal joins stay hash
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("tw5: BM25 broadcasts df + corpus stats; top-k is TakeOrdered, windowless") {
    val p = plan("tw5_bm25")
    assert(!p.contains("CartesianProduct"), p)
    // only the 1-row (N, total_len) stats frame may nested-loop; the
    // per-term df join stays broadcast-hash
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must never global-sort: " + p)
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("v15: recall eval stays broadcast-equi with per-query windows — never cartesian") {
    val p = plan("v15_ivf_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val sp = graft.SparkEntry.queries("v15_ivf_recall")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("dp9: correlation profile is one pruned-scan aggregate; the pair expansion explodes a 1-row array") {
    val p = plan("dp9_correlation_profile")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("ReadSchema") && !p.contains("l_shipdate") &&
      !p.contains("l_orderkey"), "scan must read only the 3 measure columns")
  }

  test("w10: running distinct never windows at user grain — aggregates first, key-partitioned sum after") {
    val p = plan("w10_running_distinct")
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val sp = graft.SparkEntry.queries("w10_running_distinct")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("dp2: entropy profile is aggregates only — no window, no join") {
    val p = plan("dp2_column_entropy")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("ts1: spine join is equi; the fill window is key-partitioned") {
    val p = plan("ts1_gap_fill")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val sp = graft.SparkEntry.queries("ts1_gap_fill")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
  }

  test("rj2: binned interval join is hash-equi — never a nested loop") {
    val p = plan("rj2_interval_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the range predicate must ride the bin equi-join as a filter:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("gr3: triangle census stays equi; only the two 1-row count frames cross") {
    val p = plan("gr3_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the scalar edge/triangle counts may nested-loop:\n$p")
  }

  test("sl1: skyline's only global window sits above a 1-partition funnel") {
    val sp = graft.SparkEntry.queries("sl1_pareto_frontier")(spark, dir)
      .queryExecution.sparkPlan
    val ws = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    val unpart = ws.filter(_.partitionSpec.isEmpty)
    assert(unpart.size <= 1, s"at most one global sweep: $ws")
    assert(sp.toString.contains("Coalesce 1"),
      "the global sweep must run over the coalesced candidate funnel")
    val p = plan("sl1_pareto_frontier")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dp3: MAD profile is ordered-set aggregates + broadcast stats joins") {
    val p = plan("dp3_mad_outliers")
    assert(!p.contains("Window"),
      s"percentile_disc must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row stats frames must broadcast:\n$p")
  }

  test("ts2: OHLC bars are ONE partial+final aggregate — no window, no join") {
    val p = plan("ts2_ohlc_bars")
    assert(!p.contains("Window"), s"min_by/max_by must not plan a window:\n$p")
    assert(!p.contains("Join"), s"bars must not self-join:\n$p")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r
      .findAllIn(p).nonEmpty, p)
  }

  test("rj3: overlap join is hash-equi on (scope, bin) — never a nested loop") {
    val p = plan("rj3_overlap_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the two-sided range predicate must ride the bin equi-join:\n$p")
  }

  test("dp4: histogram's only nested-loop is the 1-row min/max broadcast") {
    val p = plan("dp4_histogram")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar bounds frame may nested-loop:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bin counting must map-side combine")
  }

  test("st1: regression is aggregates only — no window, no join") {
    val p = plan("st1_regr_slope")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("aj3: bounded as-of keeps aj1's single-shuffle carry-forward shape") {
    val sp = graft.SparkEntry.queries("aj3_asof_tolerance")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("aj3_asof_tolerance")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d13: containment join is equi-on-shingle; prefix windows partitioned") {
    val p = plan("d13_containment_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val sp = graft.SparkEntry.queries("d13_containment_pairs")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("dp5: KL profile is aggregates + broadcast marginals; no window") {
    val p = plan("dp5_kl_divergence")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the marginal frames must broadcast:\n$p")
    // only the 1-row corpus total may nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("st2: multivariate fit is two stacked aggregates — no window, no join") {
    val p = plan("st2_ols_multi")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), s"aggregate-before-regress must not join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // quarterly reduction + per-group sums, each partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("v14: centroid frame broadcasts back; ranking window per label") {
    val p = plan("v14_centroid_outliers")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the labels×dims centroid frame must broadcast:\n$p")
    // the only nested-loop is the 1-row quantization scale — counted
    // in the TREE so the persisted code frame's per-branch text
    // rendering can't inflate it (the round-12 tw6 lesson)
    assert(countInTree("v14_centroid_outliers", "BroadcastNestedLoopJoin") <= 1, p)
    assert(p.contains("InMemoryTableScan"),
      s"the exploded code frame must persist (it feeds two branches):\n$p")
    val sp = graft.SparkEntry.queries("v14_centroid_outliers")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    spark.catalog.clearCache()
  }

  test("bt1: version resolution is an aggregate; only the 2-row snapshot frame nested-loops") {
    val p = plan("bt1_bitemporal_asof")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"),
      s"MAX_BY version pick must not plan a window:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 2-row snapshot frame may nested-loop:\n$p")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).nonEmpty, p)
  }

  test("sq1: successor window is per-user partitioned; marginal join broadcasts") {
    val sp = graft.SparkEntry.queries("sq1_markov_transitions")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("sq1_markov_transitions")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "transition counting must map-side combine")
  }

  test("dp6: MI is aggregates + broadcast marginals; no window") {
    val p = plan("dp6_mutual_information")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the marginal frames must broadcast:\n$p")
    // only the 1-row corpus total may nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    spark.catalog.clearCache()
  }

  test("ts3: CUSUM window is bucket-partitioned; bucket stats broadcast") {
    val sp = graft.SparkEntry.queries("ts3_cusum_shift")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("ts3_cusum_shift")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the 16-row stats frame must hash-broadcast:\n$p")
  }

  test("w9: islands are one partitioned window + aggregates — no join") {
    val sp = graft.SparkEntry.queries("w9_streak_islands")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("w9_streak_islands")
    assert(!p.contains("Join"), s"streak readback must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("rfm1: segmentation is aggregates + two 1-row broadcasts — no global window") {
    val p = plan("rfm1_segments")
    assert(!p.contains("Window"),
      s"quartile boundaries must be ordered-set aggregates, not ntile:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop broadcasts are single-row frames: the
    // anchor date (once per branch of the persisted per-customer
    // aggregate — the boundary pass and the scoring pass) and the
    // 9-boundary quartile frame; counted in the TREE so persisted-
    // frame text rendering can't inflate it (the round-12 tw6 lesson)
    assert(countInTree("rfm1_segments", "BroadcastNestedLoopJoin") <= 3, p)
    spark.catalog.clearCache()
  }

  test("t21: the exponential race is one per-stratum window — no join, no cartesian") {
    val sp = graft.SparkEntry.queries("t21_weighted_sample")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("t21_weighted_sample")
    assert(!p.contains("Join"), s"the sampler must not join:\n$p")
  }

  test("tw4: vocabulary ranks via TakeOrdered; the OLS window sits on a 1-partition funnel") {
    val p = plan("tw4_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be a heap top-k, never a full vocabulary sort:\n$p")
    assert(p.contains("Coalesce 1"),
      s"the global rank window must run over the coalesced 100-row funnel:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("tw6: sparse cosine is equi-only; only the 1-row corpus size crosses") {
    val p = plan("tw6_sparse_cosine")
    assert(!p.contains("CartesianProduct"), p)
    assert(countInTree("tw6_sparse_cosine", "BroadcastNestedLoopJoin") <= 1,
      s"only the scalar n_docs frame may nested-loop:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"tf/df/norms/dots must all map-side combine:\n$p")
    spark.catalog.clearCache()
  }

  test("gr4: per-vertex census stays equi-joined — no cartesian, no nested loop") {
    val p = plan("gr4_clustering_coeff")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("ts4/dp7: profile rows are aggregates + one 1-row scalar cross each") {
    for (name <- Seq("ts4_seasonal_index", "dp7_benford_digits")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name must not plan a window:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(countInTree(name, "BroadcastNestedLoopJoin") <= 1,
        s"$name: only the 1-row total may nested-loop:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$name must map-side combine")
    }
  }

  test("dp8: Gini ranks on a nation-partitioned window; totals and names broadcast") {
    val sp = graft.SparkEntry.queries("dp8_gini_concentration")(spark, dir)
      .queryExecution.sparkPlan
    sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w"))
    val p = plan("dp8_gini_concentration")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every join in the Gini pipeline is keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 25-row totals / nation-name frames must broadcast:\n$p")
    spark.catalog.clearCache()
  }

  test("ts5: ACF is windowless — scalar reductions broadcast, the lag close is equi") {
    // node-collect, not string-match: the persisted stages re-print
    // their build plans inside InMemoryRelation, inflating text counts
    val sp = graft.SparkEntry.queries("ts5_acf_monthly")(spark, dir)
      .queryExecution.sparkPlan
    assert(sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"ACF must not plan a window:\n$sp")
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian anywhere:\n$sp")
    // at the top level only the 12-row lag frame and the 1-row
    // denominator may nested-loop (the mean/v-bar scalar crosses sit
    // inside the persisted stages)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size <= 2, s"only tiny hinted frames may nested-loop:\n$sp")
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, s"the lag close must be an equi hash join:\n$sp")
    spark.catalog.clearCache()
  }

  test("dedup-store probe join stays banded-equi — never a nested loop") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS dstore_test")
    val t = "dstore_test.t_plan_probe"
    s.sql(s"DROP TABLE IF EXISTS $t")
    graft.io.DedupStore.maintain(s, t,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", epochId = 1L)
    val banded = graft.operators.Dedup.withMinhashBands(
      Seq((2L, "one two three four five six")).toDF("doc_id", "_text"),
      "_text", 3, 16, 4).drop("_text")
    val hits = graft.io.DedupStore.storeHits(s, t, banded,
      (0 until 4).map(b => s"band_$b"), jaccardThreshold = 0.5,
      maxBucketSize = None)
    val sp = hits.queryExecution.sparkPlan
    val bad = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty,
      s"the batch x store probe must stay a banded equi join:\n$sp")
    // and the verify predicate must NOT be the join condition — it
    // filters collision rows after an equi join on (band_idx, band_key)
    val equi = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
    }
    assert(equi.exists(_.size == 2), s"probe join keys must be the band pair:\n$sp")
  }

  test("IVF cell assignment is pure map work — no shuffle exchange") {
    import graft.operators.Similarity
    val corpus = graft.Tables.load(spark, dir, "embeddings")
    val cents = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
    val sp = Similarity.assignCells(corpus, cents)
      .queryExecution.sparkPlan
    val shuffles = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"cell assignment must not shuffle the corpus:\n$sp")
  }
}
