package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression gates for the scale properties this engine
  * promises: no single-partition windows on the metrics path, filter
  * pushdown through the fan-out exchange, broadcast joins for small
  * dims. AQE is disabled per-test so the pre-execution physical plan is
  * the final one and can be walked directly.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan = {
    // other suites share the session and may have cached frames whose
    // subplans CacheManager would splice in as InMemoryRelations,
    // hiding the scans these assertions inspect
    spark.catalog.clearCache()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("metrics path has no global (unpartitioned) window") {
    for (q <- Seq("a16_roc_auc", "a17_optimal_threshold",
        "a16b_roc_curve", "a17b_pr_curve",
        // round 3: the grouped-AUC and sequence-packing prefix sums
        // must stay bucket-partitioned too
        "a16c_auc_by_group", "t11_seq_pack")) {
      val globals = plan(q).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globals.isEmpty,
        s"$q plans a single-partition WindowExec: ${globals.headOption}")
    }
  }

  test("ANN finishers aggregate, not window") {
    // round 4: the per-query row_number funnel is gone — top-k is a
    // bounded mergeable aggregate (TopKAgg), so no WindowExec may
    // appear anywhere in the exact ANN plans
    for (q <- Seq("n01_brute_topk", "n07_quantized_topk")) {
      val windows = plan(q).collect { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"$q still plans a WindowExec: ${windows.headOption}")
    }
  }

  test("filters push through the fan-out exchange to the parquet scan") {
    val scans = plan("d03_ngram_jaccard").collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // the doc_id < 100 bound must reach the scan, not sit above the
    // round-robin repartition
    assert(scans.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("LessThan(doc_id,100)")),
      scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString("; "))
  }

  test("small-dimension joins broadcast") {
    val bhj = plan("j01_broadcast_join").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "j01 should plan BroadcastHashJoin for nation/region")
  }

  test("range join plans as a bin equi-join, not a nested loop") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    for (q <- Seq("j06_range_join", "j07_interval_overlap")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q fell back to an all-pairs join")
    }
  }

  test("DSIR scoring joins the bucket model by broadcast") {
    // the 4096-row log-ratio model must broadcast into the corpus-side
    // scoring join — a shuffled join here would reshuffle the whole
    // gram stream at 100 TB
    val bhj = plan("sm05_dsir_weights").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "sm05 model join is not broadcast")
  }

  test("quantized ANN keeps the corpus side shuffle-free") {
    // n07's corpus scan flows scan → quantize projection → broadcast-NL
    // score: any hash/range exchange of the corpus side means the codes
    // were shuffled for no reason (only the fan-out round-robin and the
    // per-query window's partial exchange are expected)
    val p = plan("n07_quantized_topk")
    val hashExchanges = p.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") =>
        e
    }
    // one hash exchange: the rank window on query_id; none on vec codes
    assert(hashExchanges.size <= 1,
      s"n07 plans ${hashExchanges.size} hash exchanges")
  }

  test("round-4 layouts keep their scale shapes") {
    // line dedup: the blocked-line set must broadcast into the
    // anti-join — a shuffled anti-join would reshuffle every line of
    // a 100-TB corpus against a tiny boilerplate set
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val d11 = plan("d11_line_dedup")
    assert(d11.collect { case b: BroadcastHashJoinExec
        if b.joinType.toString == "LeftAnti" => b }.nonEmpty,
      "d11 blocked-line anti-join is not broadcast")

    // per-group cap: the TopKAgg selection must plan as aggregates —
    // any WindowExec means the giant-stratum funnel came back
    val sm09 = plan("sm09_cap_per_group")
    assert(sm09.collect { case w: WindowExec => w }.isEmpty,
      "sm09 plans a WindowExec — capPerGroup regressed to a window")

    // shuffle shards and budget fill: deterministic permutation /
    // prefix sums with NO single-partition window anywhere
    for (q <- Seq("sm07_shuffle_shards", "sm08_budget_fill")) {
      val globals = plan(q).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globals.isEmpty,
        s"$q plans a single-partition WindowExec: ${globals.headOption}")
    }

    // overlap matrix: pair join runs over per-group vocabularies and
    // the totals join must broadcast (a 20-row frame)
    val d12 = plan("d12_source_overlap")
    assert(d12.collect { case b: BroadcastHashJoinExec => b }.size >= 2,
      "d12 totals joins are not broadcast")
  }

  test("drift monitors and robust stats stay windowless and digest-thin") {
    // KS, equi-depth and robust z-score all ride bucketedPrefixSums —
    // a global window here would funnel the distinct-value frame
    // through one reducer
    for (q <- Seq("a24_ks_drift", "a26_equidepth", "w08_robust_zscore")) {
      val globals = plan(q).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globals.isEmpty,
        s"$q plans a single-partition WindowExec: ${globals.headOption}")
    }
    // robust z-score: the per-group stats must join back as a
    // DataFrame (broadcast exchange), never re-enter as a driver
    // LocalRelation — at per-entity group cardinality a collect +
    // literal table funnels millions of stats rows through the driver
    for (q <- Seq("w08_robust_zscore", "w08b_robust_zscore_approx")) {
      val p = plan(q)
      assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"$q scoring join is not a broadcast join")
      val locals = p.collect {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l
      }
      assert(locals.isEmpty,
        s"$q re-enters driver-collected stats as a LocalRelation")
    }
    // perceptual near-dup (image + audio): the pair generation must be
    // the banded equi-join, never an all-pairs fallback — the property
    // that keeps fingerprint dedup viable at 10⁹ payloads
    for (q <- Seq("mm17_dhash_neardup", "mm18_audio_fingerprint")) {
      import org.apache.spark.sql.execution.joins.{
        BroadcastNestedLoopJoinExec, CartesianProductExec}
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q pairs via an all-pairs join")
    }
    // snapshot diff: every exchange must carry digests, never document
    // text — the md5 projection has to happen inside each scan
    val u03 = plan("u03_snapshot_diff")
    val textThroughShuffle = u03.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.name == "text") => e
    }
    assert(textThroughShuffle.isEmpty,
      "u03 shuffles raw document text instead of digests")
  }

  test("random projection is a shuffle-free scan-local projection") {
    // the JL reduction is outDim codegen'd dots against literal sign
    // vectors — any exchange before the query's final ORDER BY means
    // the matrix got joined instead of inlined. The only expected
    // shuffle is that final range exchange for the sort.
    val p = plan("n09_random_project")
    val hashExchanges = p.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") =>
        e
    }
    assert(hashExchanges.isEmpty,
      s"n09 plans ${hashExchanges.size} hash exchanges — " +
        "projection should be row-local column math")
  }

  test("graph queries keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    // g01: the super-node hot-attr filter must be a broadcast ANTI join
    // (the hot list is tiny by construction — pairs/maxAttrUsers keys);
    // a shuffled anti-join would reshuffle every qualified pair
    val g01 = plan("g01_coattr_edges")
    assert(g01.collect { case b: BroadcastHashJoinExec
        if b.joinType.toString == "LeftAnti" => b }.nonEmpty,
      "g01 hot-attribute anti-join is not broadcast")
    // and the projection self-join must be an equi-join on the attr —
    // never an all-pairs fallback
    for (q <- Seq("g01_coattr_edges", "g02_pagerank", "g03_triangles",
        "g04_khop_reach")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q fell back to an all-pairs join")
      // no windows anywhere: ranks/counts are pure joins + hash aggs
      assert(p.collect { case w: WindowExec => w }.isEmpty,
        s"$q plans a WindowExec")
    }
  }

  test("round-6 operators keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    // d14 prefix set-join: candidate generation is an equi-join on the
    // prefix token — never an all-pairs fallback; the df-order join
    // broadcasts the vocabulary-sized frequency table
    val d14 = plan("d14_setjoin_prefix")
    assert(d14.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      d14.collect { case j: CartesianProductExec => j }.isEmpty,
      "d14 fell back to an all-pairs join")
    assert(d14.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "d14 lost its broadcast df join")
    // t22 retrieval: per-query top-k is the bounded TopKAgg heap, not
    // a per-query window; the vocabulary prune is a broadcast semi-join
    val t22 = plan("t22_bm25_retrieval")
    assert(t22.collect { case w: WindowExec => w }.isEmpty,
      "t22 plans a per-query WindowExec")
    assert(t22.collect { case b: BroadcastHashJoinExec
        if b.joinType.toString == "LeftSemi" => b }.nonEmpty,
      "t22 vocabulary prune is not a broadcast semi-join")
    // g05 PPR: same no-window/no-cartesian contract as g02
    val g05 = plan("g05_ppr")
    assert(g05.collect { case w: WindowExec => w }.isEmpty &&
      g05.collect { case j: CartesianProductExec => j }.isEmpty,
      "g05 lost the fixed-point join shape")
    // sm11 A-ES: global top-k must be TakeOrdered (per-partition heaps),
    // never a global Sort + Limit
    val sm11 = plan("sm11_weighted_sample")
    assert(sm11.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "sm11 weighted sample lost TakeOrderedAndProject")
  }

  test("CartesianGuard: unhinted cross throws, hinted/equi/off pass") {
    import graft.plans.CartesianGuard
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    // the suite session runs with the interlock on: restore, never unset
    val prior = spark.conf.getOption(CartesianGuard.ConfKey)
    spark.conf.set(CartesianGuard.ConfKey, "true")
    try {
      val ex = intercept[IllegalStateException] {
        CartesianGuard(a.crossJoin(b).queryExecution.optimizedPlan)
      }
      assert(ex.getMessage.contains("cartesian interlock"))
      // the engine's contract form: broadcast-hinted small side passes
      CartesianGuard(
        a.crossJoin(bcast(b)).queryExecution.optimizedPlan)
      // equi-joins never trip
      CartesianGuard(a.join(b, a("x") === b("y"))
        .queryExecution.optimizedPlan)
      // interlock is opt-in: same bad plan passes with the conf off
      spark.conf.set(CartesianGuard.ConfKey, "false")
      CartesianGuard(a.crossJoin(b).queryExecution.optimizedPlan)
    } finally prior match {
      case Some(v) => spark.conf.set(CartesianGuard.ConfKey, v)
      case None => spark.conf.unset(CartesianGuard.ConfKey)
    }
  }

  test("s13: the co-bucketed fact join itself is exchange-free") {
    // the bucketed layout must feed SortMergeJoin directly from the
    // scans — no hashpartitioning Exchange may sit below the join
    // (the groupBy above it still shuffles, which is fine). Broadcast
    // is disabled to emulate the 100-TB case where neither fact side
    // fits a broadcast — exactly the case bucketing exists for.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p =
      try plan("s13_bucketed_join")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, s"no shuffled join found:\n$p")
    val shufflesBelowJoin = joins.head.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shufflesBelowJoin.isEmpty,
      s"bucketed join still exchanges its inputs:\n${joins.head}")
  }

  test("compute-amplifying pipelines fan out past the single-file scan") {
    // e01's parse stage must not hang off a 1-partition scan: there is a
    // round-robin exchange between scan and the block kernel
    val exchanges = plan("e01_eval_metrics").collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "e01 lost its fan-out repartition")
  }
}
