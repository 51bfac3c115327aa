package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the properties that decide whether a query
  * survives a 100 TB scale-up, asserted so a regression is a test failure,
  * not a silent slowdown:
  *  - filters/projections reach the parquet scan (pushdown + pruning);
  *  - dimension joins broadcast (no shuffle of the fact table for dims);
  *  - global top-k plans as TakeOrderedAndProject (never a full sort);
  *  - no accidental cartesian products anywhere in the registry.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  /** Tree-form physical plan: unlike FormattedMode (which splits a node
    * and its arguments across lines), the tree string renders
    * `Exchange hashpartitioning(key#...)` inline — REQUIRED for any
    * exchange-key assertion; a FormattedMode `contains` on that pattern
    * is vacuous. */
  private def treePlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q11 pushes filter and prunes columns at the parquet scan") {
    val p = plan("q11_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_discount"), p)
    // pruned scan: the 16-column lineitem table read as just the 5 needed
    assert(!p.contains("l_comment"), p)
  }

  test("dimension joins are broadcast, not shuffled") {
    assert(plan("q20_join_broadcast").contains("BroadcastHashJoin"))
    val star = plan("q22_join_star")
    // customer/nation/region broadcast; only lineitem⋈orders may shuffle
    assert("BroadcastHashJoin".r.findAllIn(star).size >= 3, star)
  }

  test("global top-k plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q13_top_orders").contains("TakeOrderedAndProject"))
  }

  test("semi/anti joins plan as semi/anti (no materialized subquery)") {
    assert(plan("q23_join_semi").contains("LeftSemi"))
    assert(plan("q24_join_anti").contains("LeftAnti"))
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = plan("q10_pricing_summary")
    assert(p.contains("partial_"), p) // partial aggregate before the shuffle
  }

  test("pivot plans as a single hash aggregation (one shuffle, no discovery)") {
    val p = plan("q35_pivot")
    assert(p.contains("partial_"), p)
    // exactly one hash-partition exchange (the groupBy); the nation dim
    // side broadcasts
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("time-series spine joins broadcast (fact scan is the only big input)") {
    val p = plan("q92_resample")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q76 levenshtein runs banded with a broadcast build side") {
    val p = plan("q76_edit_distance")
    assert(p.contains("levenshtein"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("decontamination plans as broadcast + anti join (no pair blowup)") {
    val p = plan("q77_decontaminate")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("token-budget selection is one window pass over one shuffle") {
    val p = plan("q59_token_budget")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("q29 bucketed join plans with no shuffle exchange on either side") {
    val p = treePlan("q29_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_custkey"), p)
    assert(!p.contains("Exchange hashpartitioning(c_custkey"), p)
  }

  test("q28 salting is differentiated: hot-set joins broadcast, one shuffle join") {
    val p = plan("q28_join_salted")
    // both hot-set membership joins broadcast the (small) hot-key set;
    // naive salting has zero broadcasts and replicates the full build side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // per-row salt arrays (size S for hot rows, size 1 for cold) explode
    assert(p.toLowerCase.contains("explode"), p)
    // the large-large join carries the salt in its key (at test SF Catalyst
    // may broadcast it; at scale it shuffles on (key, salt))
    assert(p.contains("salt"), p)
  }

  test("AQE splits skewed partitions in large-large joins (skew=true)") {
    // Moderate skew needs no hand salting at all: AQE's OptimizeSkewedJoin
    // splits oversized partitions at runtime. Assert the mechanism fires on
    // a synthetic hot key with test-sized thresholds.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      import spark.implicits._
      import org.apache.spark.sql.functions.{lit, when}
      val left = spark.range(0, 50000).select(
        when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(0, 1000).select($"id".as("k"), $"id".as("w"))
      val j = left.join(right, "k")
      j.collect() // skew handling is a runtime re-plan: must execute j itself
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("q87 packing is one window pass over one shuffle") {
    val p = plan("q87_seq_packing")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("q88 repetition filter is a single shuffle-free scan pass") {
    val p = plan("q88_rep_quality")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q65 k-means assignment never shuffles the corpus") {
    val p = plan("q65_kmeans")
    // centroids arrive as one broadcast array row (BNLJ against the scan);
    // the only exchanges are the k x d centroid partial-agg and the final
    // single-row stats — never a hashpartitioning on the corpus key
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
  }

  test("q65 assignment scores with native dot_d, not per-row zip_with") {
    val p = plan("q65_kmeans")
    // The inner product inside the transform() lambda must be the codegen'd
    // DotProduct expression (registered into the FunctionRegistry at build
    // time, so this holds in extension-less sessions too) — the
    // aggregate(zip_with(...)) form allocates an intermediate array per
    // point×centroid in the hottest loop of the fit.
    assert(p.contains("dot_d"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("q61 candidate generation joins on capped band buckets, then keys") {
    val p = plan("q61_neardup_lsh")
    // hot-bucket removal is a broadcast anti join on the slim band index;
    // the exact-cosine verify pulls vectors by key — equi-joins throughout
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ranked top-k windows run with partial WindowGroupLimit (q63, q69)") {
    // Spark's WindowGroupLimit pushes rank<=k filters below the exchange:
    // only ~k rows per group per input partition cross the wire — what lets
    // per-group top-k survive a 100 TB corpus.
    assert(plan("q63_ann_rerank").contains("WindowGroupLimit"))
    assert(plan("q69_stratified_sample").contains("WindowGroupLimit"))
  }

  test("q100 pipeline broadcasts its fence and docs-in aggregates") {
    val p = plan("q100_curation")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(p.contains("WindowGroupLimit"), p) // dedup keep-first rank
  }

  test("q107 multi-probe joins on the bucket equi key, not a nested loop") {
    val p = plan("q107_ivf_multiprobe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q116 bucketed-index self-join plans with no shuffle on the join key") {
    val p = treePlan("q116_bucketed_index")
    // both sides of the h-join read the bucketed table: the SMJ's
    // distribution requirement is satisfied by bucketing, so NO exchange on
    // h exists anywhere — the only exchanges left are pair-sized aggregates
    assert(p.contains("SortMergeJoin"), p)
    assert(!"Exchange hashpartitioning\\(h#".r.findFirstIn(p).isDefined, p)
    assert("Exchange".r.findFirstIn(p).isDefined, p) // pattern sanity: tree form renders exchanges
  }

  test("q197 store diff: posting-grain SMJ on the skew-proof (t, doc_id) key") {
    val p = treePlan("q197_postings_diff")
    // the generations compare as an SMJ exchanged on (t, doc_id) — doc_id
    // in the key spreads a stop-word term's posting list uniformly, where
    // a per-term formulation would concentrate it on one task; only
    // 8-byte-keyed posting rows cross the wire, never corpus text
    assert(p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning\\(t#\\d+, doc_id#".r.findFirstIn(p).isDefined, p)
    // the join reads the committed stores, not the corpus
    assert(p.contains("graft_pdiff_gen0") && p.contains("graft_pdiff_gen1"), p)
  }

  test("q214 runtime bloom filter is injected into the probe-side scan") {
    val p = treePlan("q214_runtime_filter")
    // the selective build side plans a bloom_filter_agg and the probe
    // side's scan filter carries might_contain — probe rows that cannot
    // match die before the exchange; broadcast is forced off, so the
    // join is the SMJ regime where runtime filters pay
    assert(p.contains("bloom_filter_agg"), p.take(900))
    assert(p.contains("might_contain"), p.take(900))
    assert(p.contains("SortMergeJoin"), p.take(900))
  }

  test("q115 incremental probes: broadcast near screen, store never shuffles") {
    val p = treePlan("q115_incremental_dedup")
    // near screen: batch bands broadcast into the band-store scan
    assert(p.contains("BroadcastHashJoin"), p)
    // exact probe: SMJ where the store side rides its bucketing — the only
    // fp exchange is the batch side's (batch-sized); the store has none
    assert(p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning\\(fp#".r.findAllIn(p).size == 1, p)
    // the band store is never exchanged (probe broadcasts, store scans)
    assert(!"Exchange hashpartitioning\\(bh#".r.findFirstIn(p).isDefined, p)
  }

  test("q119 window frames share one shuffle on the partition key") {
    val p = treePlan("q119_window_frames")
    // three frame specs (range + two rows), all partitioned by user_id:
    // one exchange feeds every window pass — per-spec sorts are fine,
    // per-spec shuffles are not
    assert("Exchange hashpartitioning\\(user_id#".r.findAllIn(p).size == 1, p)
  }

  test("q118 moments aggregate partial+final (map-side combine)") {
    val p = plan("q118_bivariate_stats")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // decimal sums combine map-side
  }

  test("global sort plans as RangePartitioning, never a single partition") {
    // total order at 100 TB = sampled range boundaries + parallel local
    // sorts; a SinglePartition sort is the shape that cannot scale
    import org.apache.spark.sql.functions.col
    val p = Tables(spark, sf, "orders")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the build side's selective predicate should reach the fact
    // scan as a bloom probe (InjectRuntimeFilter) so most rows die before
    // the exchange. The size thresholds are tuned for the tiny local
    // tables; the capability and plan shape are what is gated.
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val scanKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = Seq(scanKey, bcKey).map(k => k -> c.getOption(k))
    try {
      c.set(scanKey, "0")
      c.set(bcKey, "-1") // force a shuffle join: the filter must carry alone
      val li = Tables(spark, sf, "lineitem")
      val ord = Tables(spark, sf, "orders")
        .where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(li("l_returnflag")).count()
      val p = j.queryExecution.executedPlan.toString
      // probe side filtered by the bloom subquery built from the dim side
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg"), p)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  test("q141 head is a distributed TakeOrdered, grid sides broadcast, TV sum partial") {
    val p = treePlan("q141_source_shift")
    // top-200 token head: distributed top-k, never a global sort
    assert(p.contains("TakeOrderedAndProject(limit=200"), p)
    // head + corpus total broadcast onto the per-source spine
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    // the decimal TV sum map-side combines
    assert(p.contains("partial_sum"), p)
  }

  test("q142 cumulative walk is windowed PER STRATUM — no global cumsum partition") {
    val p = treePlan("q142_pps_sample")
    assert("windowspecdefinition\\(lang#\\d+".r.findFirstIn(p).isDefined, p)
    // the stratum-total join broadcasts; event rows never funnel into one
    // partition (the global-cumsum failure mode this query is shaped around)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q143 fuses top-k shortlists: WindowGroupLimit prunes before the outer merge") {
    val p = treePlan("q143_rrf_fusion")
    // both retriever rankings push partial top-k below the rank shuffle
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4, p)
    // list merge is a FULL OUTER equi join on (query, candidate)
    assert(p.contains("FullOuter"), p)
    // the only non-equi join is the tiny broadcast query set (q60's shape)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q144 interval overlap joins on the grid cell as a HASH join, never a nested loop") {
    val p = treePlan("q144_interval_join")
    assert("HashJoin \\[bk#\\d+L\\], \\[bk#\\d+L\\]".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the event-type selections reach the parquet scan
    assert(p.contains("EqualTo(event_type,error)") &&
      p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("q146 weighted median windows per stratum and broadcasts totals") {
    val p = treePlan("q146_weighted_median")
    assert("windowspecdefinition\\(source#\\d+".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the qualifying-rows min collapses map-side
    assert(p.contains("partial_min"), p)
  }

  test("q147 trigrams: one user shuffle, scan-local expansion, TakeOrdered top-k") {
    val p = treePlan("q147_path_trigrams")
    assert(p.contains("TakeOrderedAndProject(limit=20"), p)
    // journey assembly is the only data shuffle (plus the count agg);
    // no join ever forms — hot users never square
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(user_id#\\d+".r.findFirstIn(p).isDefined, p)
  }

  test("q153 native top-k aggregates partial+final — the window form cannot") {
    val p = treePlan("q153_topk_native")
    // map-side partial top-k: each partition sends <= k pairs per group
    assert(p.contains("partial_top_k_pairs"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    // and no per-row window machinery anywhere
    assert(!p.contains("Window ["), p)
  }

  test("q154 lateral subquery decorrelates to WindowGroupLimit, never a per-row loop") {
    val p = treePlan("q154_lateral_topn")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q155 recursive CTE executes on the native UnionLoop operator") {
    val p = treePlan("q155_recursive_cte")
    assert(p.contains("UnionLoop"), p)
    // and the post-recursion aggregate still partial+final combines
    assert(p.contains("partial_max"), p)
  }

  test("q81/q83/q160 per-doc ops are shuffle-free pruned-scan passes") {
    for (name <- Seq("q81_media_features", "q83_media_resize",
        "q160_linear_quality")) {
      val p = treePlan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles: $p")
      val f = plan(name)
      // the 5-column documents table reads as exactly (doc_id, text)
      assert(f.contains("ReadSchema: struct<doc_id:bigint,text:string>"), f)
    }
  }

  test("q162 joins the word->token map broadcast; doc agg is partial+final") {
    val p = treePlan("q162_bpe_doc_tokens")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial"), p)
  }

  test("q47/q47b share ONE broadcast-joined exact companion, checkpointed") {
    // the join + partial aggregates live in the shared companion subplan...
    val p = graft.queries.Scalars.sketchCompanionPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial"), p) // map-side combine on both aggregates
    // ...and both gates scan the SAME checkpointed companion RDD — the
    // round-8 regression (each gate re-running overlapping exact subplans)
    // cannot silently come back
    def rddIds(name: String): Set[Int] =
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }
        .toSet
    val (a, b) = (rddIds("q47_sketch_aggs"), rddIds("q47b_sketch_bounds"))
    assert(a.nonEmpty && a == b, s"$a vs $b")
  }

  test("AQE skew-join splits q28's hot key at runtime when salting is off") {
    // q28's hand-salted rewrite targets PATHOLOGICAL keys; this gate pins
    // the complementary claim — MODERATE skew needs no hand-salting
    // because AQE's OptimizeSkewedJoin splits the hot reduce partition at
    // runtime. Same join shape as q28 (lineitem ⋈ orders on orderkey),
    // with a hot key induced on the probe side and the skew thresholds
    // scaled down to test-SF sizes. The preconditions this test documents
    // (each was individually observed to suppress the rule when violated):
    //  - the SMJ's children must be plain shuffles (an intervening
    //    aggregate — e.g. dropDuplicates on the build side — makes the
    //    split illegal and the rule skip);
    //  - the hot partition is split at MAP-OUTPUT granularity, so the
    //    probe side needs real upstream parallelism (one mapper = nothing
    //    to regroup — the repartition(8) below stands in for the many
    //    upstream tasks any 100 TB input has);
    //  - the split target is clamped by coalescePartitions.minPartitionSize
    //    (default 1m — larger than this test's whole hot partition);
    //  - AQE prefers its runtime SMJ→broadcast conversion when the build
    //    side fits adaptive.autoBroadcastJoinThreshold; disabled here to
    //    exercise the split (in production that conversion is the better
    //    outcome when available).
    // When each side applies: AQE covers skew that SURFACES at shuffle
    // time on an equi-join; q28's differentiated salting remains for
    // pathological keys (single key >> one executor's memory) and for
    // shapes AQE won't touch (see SCALE.md round-9 note).
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, when}
    val sf01 = "/root/testdata/sf0.01"
    val li = Tables(s, sf01, "lineitem")
      .select(when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      .repartition(8)
    val orders = Tables(s, sf01, "orders")
      .select(col("o_orderkey").as("bk"), col("o_orderpriority"))
    val j = li.join(orders, col("k") === col("bk"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity")).as("q"))
    val rows = j.collect() // AQE finalizes the plan only on execution
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), p)
    assert(p.contains("AQEShuffleRead"), p)
    // and the split is pure execution strategy: result equals the plain run
    val plain = Tables(spark, sf01, "lineitem")
      .select(when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      .join(Tables(spark, sf01, "orders")
        .select(col("o_orderkey").as("bk"), col("o_orderpriority")),
        col("k") === col("bk"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity")).as("q"))
      .collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet ==
      plain.map(r => (r.getString(0), r.getDouble(1))).toSet)
  }

  test("q166 lexical diversity is a single shuffle-free scan pass") {
    val p = plan("q166_lexical_diversity")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q165 temperature mix shuffles once (source agg), then broadcasts") {
    val p = treePlan("q165_temperature_mix")
    // one corpus shuffle for the per-source token totals; the #sources-row
    // totals table comes back as a broadcast — never a corpus re-shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Broadcast"), p)
  }

  test("q167 familiarity pre-aggregates doc bigrams before the model join") {
    val p = treePlan("q167_bigram_familiarity")
    // the join input must be the (doc_id, bigram) pre-agg, not the raw
    // exploded token stream: partial aggregates on both join inputs
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q172 stride chunking is a shuffle-free scan + explode") {
    val p = treePlan("q172_chunk_stride")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("q170 exact-k sample plans as TakeOrderedAndProject, not a sort") {
    val p = treePlan("q170_exact_k_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort "), p)
  }

  test("q178 BM25 ranks via the native top-k aggregate, not a window") {
    val p = treePlan("q178_bm25_topk")
    // 5 query-term partitions through a window would funnel every posting
    // through 5 reducers; the mergeable aggregate keeps partials map-side
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("top_k_pairs"), p)
  }

  test("q179 moment matrix: bounded-key aggregates, broadcast-only joins") {
    val p = treePlan("q179_embed_moments")
    // the d-row dim-stats table joins back broadcast; a sort-merge join
    // here would shuffle the pair table on top of its aggregation
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // two map-side-combined aggregations (pairs, dims) — nothing more
    // (broadcast exchanges excluded: count only shuffle exchanges)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("q180 DSIR model and selection joins broadcast; nothing sort-merges") {
    val p = treePlan("q180_dsir_weights")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q183/q184 broadcast their bounded model tables; nothing sort-merges") {
    for (name <- Seq("q183_dist_match_sample", "q184_embed_standardize")) {
      val p = treePlan(name)
      assert(!p.contains("SortMergeJoin"), s"$name\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name\n$p")
    }
  }

  test("q185 tokenizes once: both model branches read the memoized count table") {
    // the per-doc trigram count table is memoized + checkpointed: the
    // corpus tokenize happens ONCE at materialization, and the final
    // plan's only documents FILE scan is the bounded langs-distinct —
    // both model branches read the checkpoint RDD
    graft.queries.Memo.clear() // fresh memo: force materialization
    val df = SparkEntry.queries("q185_lang_profile_id")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"), p.take(1500))
    // every surviving documents FILE scan is the bounded langs-distinct
    // (lang column only) — a second TOKENIZE would have to read `text`
    assert(!p.contains("text:string"),
      s"a documents scan still reads text (second tokenize):\n${p.take(2000)}")
  }

  test("q226 PQ: ADC table and codebook joins broadcast; no sort-merge") {
    // the distance table (|queries|·m·k rows) and the codebook (m·k rows)
    // must ride broadcast joins — a sort-merge here would shuffle the
    // corpus-scale exploded code table on top of its partial aggregation
    val p = treePlan("q226_pq_ann")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q227 profile is ONE scan of orders (wide agg, no per-column passes)") {
    val p = SparkEntry.queries("q227_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("FileScan|BatchScan".r.findAllIn(p).length == 1, p.take(900))
  }

  test("q233 winsorize re-joins its 5-row bounds by broadcast, never sort-merge") {
    val p = SparkEntry.queries("q233_winsorize")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("q238 A/B test is two aggregates: at most two exchanges, no joins") {
    val p = SparkEntry.queries("q238_ab_test")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(900))
    assert(!p.contains("Join"), p.take(900))
  }

  test("q279 PPJoin: equi-joins only, one pair aggregate with map-side partials") {
    // The 100 TB shape: every join keys on a column (ph for candidates,
    // d1/d2 for verify) — hash joins at any size, NEVER a nested loop —
    // and the positional filter rides the pair aggregate: exactly one
    // visible hashpartitioning exchange (on the pair key) with
    // partial_min pushed map-side. (localCheckpoint truncates the
    // arrs-build lineage, so this pins the post-checkpoint pipeline.)
    val p = SparkEntry.queries("q279_ppjoin")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p.take(900))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(900))
    assert("Exchange hashpartitioning\\(d1#".r.findFirstIn(p).isDefined, p.take(900))
    assert(p.contains("partial_min"), p.take(900))
  }

  test("q281 repair prunes both sides through broadcast semi-joins") {
    // The Merkle-repair claim in SCALE.md: each side enters the row-level
    // FullOuter compare only through a LeftSemi broadcast of the <=256-row
    // drifted-bucket list — so with localized damage the compare reads
    // flagged buckets, not the table.
    val p = SparkEntry.queries("q281_replica_repair")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[bucket#\\d+L?\\], \\[bucket#\\d+L?\\], LeftSemi".r
      .findAllIn(p).size == 2, p.take(900))
    assert("SortMergeJoin \\[o_orderkey#\\d+L?\\], \\[o_orderkey#\\d+L?\\], FullOuter".r
      .findFirstIn(p).isDefined, p.take(900))
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p.take(900))
  }

  test("q291 planner orders joins most-selective-first and broadcasts under budget") {
    val p = treePlan("q291_cbo_star")
    // all three dims cleared the broadcast budget; the fact never shuffles
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p.take(900))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(900))
    // planned order by estimated post-filter rows (part ~40 < supplier 100
    // < orders ~5000), not the authored order (supplier first): depth-first
    // tree rendering puts the first-joined dim's scan before the later ones
    val ix = Seq("part.parquet", "supplier.parquet", "orders.parquet")
      .map(f => { val i = p.indexOf(f); assert(i >= 0, s"$f not in plan"); i })
    assert(ix == ix.sorted, s"join order not stats-planned: $ix\n${p.take(900)}")
  }

  test("q294 optimizer rule reorders the authored-worst star to the stats order") {
    val df = SparkEntry.queries("q294_cbo_rule")(spark, sf)
    val sig = df.select("join_order").head().getString(0)
    assert(sig == "part,supplier,orders", sig)
  }

  test("q293 grid join is an equi join on cells, never a cartesian refine") {
    val p = treePlan("q293_grid_radius")
    // the only nested loop is the broadcast of the 9-row offset frame
    assert(!p.contains("CartesianProduct"), p.take(900))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(900))
    // the pair join keys on (cx, cy)
    assert("Join \\[cx#\\d+L?, cy#\\d+L?\\]".r.findFirstIn(p).isDefined ||
      p.contains("cx#"), p.take(900))
  }

  test("no accidental cartesian products in any registered query") {
    // q60 intentionally broadcasts a tiny query set against the corpus
    // (BroadcastNestedLoopJoin) — that is the by-design brute-force baseline.
    for ((name, fn) <- SparkEntry.queries if name != "q60_knn_brute") {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("exact-quantile b-entries: no single-partition window anywhere in the plan") {
    // the scale contract of the q247b/q278b/q298b drop-ins: the global
    // order statistics come from the distributed rank (range shuffle +
    // per-partition ordinals), never a WindowExec with an empty
    // partition spec (one task sorting the whole input). The exact
    // twins keep theirs deliberately; these must not.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("q247b_rfm_dist", "q278b_gains_dist", "q298b_qnorm_dist")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$name has a single-partition window: ${globalWindows.mkString}")
    }
    // and the values are bit-identical to the exact twins (the shared
    // oracle proves it at sf0.01; pin it in-process at sf0.001 too)
    def sorted(n: String) = SparkEntry.queries(n)(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(sorted("q247b_rfm_dist") == sorted("q247_rfm_segments"))
    assert(sorted("q278b_gains_dist") == sorted("q278_gains_table"))
    assert(sorted("q298b_qnorm_dist") == sorted("q298_quantile_norm"))
  }
}
