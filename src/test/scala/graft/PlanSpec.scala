package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions: the scale behaviors SURVEY.md §4 promises
  * must actually appear in the executed plans — pushdown reaching the
  * parquet scan, dimension joins broadcasting, global top-k compiling to
  * TakeOrderedAndProject, and aggregations running partial+final.
  */
class PlanSpec extends SparkSpecBase {

  private def executedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planString(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    executedPlan(df).toString
  }

  test("scan_parquet_pushdown pushes predicates and prunes columns") {
    val df = operators.Sources.scanParquetPushdown.fn(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(scan.contains("GreaterThanOrEqual(l_shipdate") || scan.contains("IsNotNull"),
      s"shipdate range not pushed:\n$scan")
    // column pruning: lineitem has 11 columns, the read schema must not
    assert(!scan.contains("l_comment") && !scan.contains("l_partkey"),
      "unreferenced columns not pruned from ReadSchema")
  }

  test("join_broadcast_dims uses BroadcastHashJoin for both dims") {
    val p = planString(operators.Joins.joinBroadcastDims.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dims should not sort-merge")
  }

  test("join_sortmerge_facts shuffles both sides (SMJ or AQE-broadcast)") {
    val p = planString(operators.Joins.joinSortmergeFacts.fn(spark, sfDir))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"expected a hash/merge equi-join:\n$p")
  }

  test("sort_multikey_limit compiles to TakeOrderedAndProject") {
    val p = operators.SetOps.sortMultikeyLimit.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"global sort not top-k optimized:\n$p")
  }

  test("agg_pricing_summary runs partial then final hash aggregation") {
    val p = planString(operators.Aggregations.aggPricingSummary.fn(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("vec_cosine_topk broadcasts the probe side") {
    val p = planString(operators.VectorOps.vecCosineTopk.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"probes not broadcast:\n$p")
  }

  test("join_range_interval equi-joins on user_id (no nested loop)") {
    val p = planString(operators.Joins.joinRangeInterval.fn(spark, sfDir))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"range self-join must key on user_id, not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), "range join fell back to cartesian")
  }

  test("scan_orc_roundtrip pushes the segment filter into the ORC scan") {
    val df = operators.Sources.scanOrcRoundtrip.fn(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") &&
      (p.contains("EqualTo(c_mktsegment") || p.contains("IsNotNull(c_mktsegment")),
      s"segment predicate not pushed to ORC scan:\n$p")
  }

  test("stream_stream_interval_join batch form equi-joins on user_id") {
    val p = planString(operators.Streaming.streamStreamJoin.fn(spark, sfDir))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"interval join must equi-key on user_id:\n$p")
    assert(!p.contains("CartesianProduct"), "interval join fell back to cartesian")
  }

  test("join_skew_salted equi-joins on (key, salt) — no cartesian") {
    val p = planString(operators.Joins.joinSkewSalted.fn(spark, sfDir))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"salted join must remain an equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), "salted join fell back to cartesian")
  }

  test("scalar suites stay inside whole-stage codegen (no UDF breaks)") {
    for (q <- Seq(operators.ScalarFns.fnRegexSuite,
                  operators.ScalarFns.fnBitwiseConditional,
                  operators.ScalarFns.fnHashSuite)) {
      val p = planString(q.fn(spark, sfDir))
      assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).nonEmpty,
        s"${q.name}: no codegen spans:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"${q.name}: UDF found in hot path:\n$p")
    }
  }

  test("agg_string_agg runs partial then final object-hash aggregation") {
    val p = planString(operators.Aggregations.aggStringAgg.fn(spark, sfDir))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate for collect_list:\n$p")
  }

  test("text_tfidf_topterms broadcasts the corpus-size scalar") {
    val p = planString(operators.TextOps.textTfidfTopterms.fn(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"1-row corpus-size frame must broadcast, not shuffle:\n$p")
  }

  test("reshape_unpivot compiles to Expand with no shuffle before the sort") {
    val df = operators.SetOps.reshapeUnpivot.fn(spark, sfDir)
    df.collect()
    val p = executedPlan(df).toString
    assert(p.contains("Expand"), s"unpivot should plan as Expand:\n$p")
    // the only exchange allowed is the final ORDER BY's range partitioning
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"melt itself must not shuffle:\n$exchanges\n$p")
  }

  test("join_lateral_topk decorrelates to WindowGroupLimit + join") {
    val p = planString(operators.Joins.joinLateralTopk.fn(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"correlated LATERAL LIMIT should rewrite to a group-limit window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"decorrelation should produce a single equi-join, not per-row subqueries:\n$p")
  }

  test("agg_corr_covar moment sums run partial then final (map-side combine)") {
    val p = planString(operators.Aggregations.aggCorrCovar.fn(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"the five decimal moments must partial-aggregate — the whole point of the " +
      s"moment formulation is a 5-decimals-per-group shuffle:\n$p")
  }

  test("join_dpp_partition_pruned injects a runtime pruning filter into the fact scan") {
    val df = operators.Joins.joinDppPartitionPruned.fn(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan carries no dynamic partition pruning predicate:\n$p")
  }

  test("win_sessionize_batch hash-shuffles once (session agg reuses the window partitioning)") {
    val df = operators.Windows.winSessionizeBatch.fn(spark, sfDir)
    df.collect()
    val p = executedPlan(df).toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected exactly one hash Exchange (user_id), found $hashEx:\n$p")
  }

  test("text_chunk_sliding plans no shuffle before the declared-output sort") {
    val df = operators.TextOps.textChunkSliding.fn(spark, sfDir)
    df.collect()
    val p = executedPlan(df).toString
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"chunking itself must not shuffle:\n$exchanges\n$p")
  }

  test("vec_quantize_int8 broadcasts the 64-row per-dimension codebook") {
    val p = planString(operators.VectorOps.vecQuantizeInt8.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"codebook join must broadcast, not shuffle the exploded corpus:\n$p")
  }

  test("tpch_q5_regional_volume broadcasts every dimension side") {
    val p = planString(operators.Flagships.tpchQ5RegionalVolume.fn(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"Q5's dims (supplier/customer/nation) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the co-location predicate must ride the equi-joins, not a loop join:\n$p")
  }

  test("flagship stays inside whole-stage codegen") {
    val p = planString(operators.Aggregations.aggPricingSummary.fn(spark, sfDir))
    // WholeStageCodegenExec renders as a "*(n) " operator prefix
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).nonEmpty,
      s"no codegen spans:\n$p")
  }

  test("tpch_q18_bigorders: top-k optimized, customer broadcast, big-order set NOT broadcast") {
    val p = planString(operators.Flagships.tpchQ18Bigorders.fn(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"LIMIT 100 must be top-k, not a full sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
  }

  test("etl_gap_fill_locf shuffles on user_id once for join and LOCF window alike") {
    val p = planString(operators.EtlOps.etlGapFillLocf.fn(spark, sfDir))
    // the spine join and the window both key on user_id; after the spine
    // is built there must be no extra non-user_id exchange before the sort
    assert(p.contains("Window"), s"no window in plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"spine join must stay an equi-join:\n$p")
  }

  test("join_not_in_null_aware plans the null-aware BroadcastHashJoin, not a loop join") {
    val p = planString(operators.Joins.joinNotInNullAware.fn(spark, sfDir))
    // the trailing `true` on the LeftAnti BHJ is isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"single-column NOT IN must plan as a null-aware anti hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"NOT IN fell back to a loop join:\n$p")
  }

  test("join_null_safe stays a hash join (EqualNullSafe is an equi-key, not a loop join)") {
    val p = planString(operators.Joins.joinNullSafe.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"null-safe equality must hash-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe join fell back to a loop join:\n$p")
  }

  test("tpch_q10_returns: dims broadcast, top-20 optimized, R-filter pushed to scan") {
    val p = planString(operators.Flagships.tpchQ10Returns.fn(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"LIMIT 20 must be top-k, not a full sort:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"customer and nation must broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)") ||
      p.contains("EqualTo(l_returnflag,R)"),
      s"R-flag filter must reach the parquet scan:\n$p")
  }

  test("join_cross_enumerate: tiny cross is a broadcast loop, fact side stays equi-joined") {
    val p = planString(operators.Joins.joinCrossEnumerate.fn(spark, sfDir))
    // the 5×k enumeration is the ONE place a loop join is correct — both
    // sides bounded; the observed-counts side must still be a hash join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      s"expected the explicit tiny cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"the observed-counts join must remain an equi hash join:\n$p")
  }

  test("pipeline_corpus_curation fuses: no loop joins, partial aggs, one token pass") {
    val p = planString(operators.TextOps.pipelineCorpusCuration.fn(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"curation stages must compose via hash joins only:\n$p")
    assert("Generate explode".r.findAllIn(p).size <= 1,
      s"token explode must run once, not per stage:\n$p")
  }

  test("tpch_q7_nation_volume: dims broadcast, one fact-fact shuffle, no loop join") {
    val p = planString(operators.Flagships.tpchQ7NationVolume.fn(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier/customer nation sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the disjunctive nation predicate must not force a loop join:\n$p")
  }

  test("join_band_bucketized hash-joins on the bucket key — no loop join") {
    val p = planString(operators.Joins.joinBandBucketized.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"bucketized band must be an equi hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketized band fell back to the loop join it exists to replace:\n$p")
  }

  test("sample_reservoir_fixed plans distributed top-k, not a global sort") {
    val p = planString(operators.TextOps.sampleReservoirFixed.fn(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT 100 over the hash order must be top-k per partition:\n$p")
  }

  test("join_asof_forward is the union-window plan: zero join operators") {
    val p = planString(operators.Joins.joinAsofForward.fn(spark, sfDir))
    assert(!p.contains("Join"), s"forward as-of must not plan any join:\n$p")
    assert(p.contains("Window"), s"expected the window formulation:\n$p")
  }

  test("win_percent_of_total reuses one l_orderkey exchange") {
    val p = planString(operators.Windows.winPercentOfTotal.fn(spark, sfDir))
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1,
      s"share-of-total must shuffle once on the order key:\n$p")
  }

  test("win_moving_median shuffles once on user_id for its bounded frame") {
    val p = planString(operators.Windows.winMovingMedian.fn(spark, sfDir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"moving median must reuse one user_id exchange:\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("sink_jdbc_roundtrip read side splits into parallel JDBC partitions") {
    // the cluster-grade JDBC read path: numPartitions=4 stride scans,
    // each executor opening its own connection — not one driver-choked
    // connection. The scan's RDD must carry >1 partition and the strides
    // must reassemble the exact table.
    val df = operators.Sources.sinkJdbcRoundtrip.fn(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("JDBCRelation") && p.contains("numPartitions=4"),
      s"expected a partitioned JDBCRelation scan:\n$p")
    val suppliers = Tables.supplier(spark, sfDir).count()
    assert(df.count() == suppliers,
      "partition strides do not reassemble the full table")
  }

  test("win_cume_dist_scalable never windows the fact table") {
    val df = operators.Windows.winCumeDistScalable.fn(spark, sfDir)
    val p = planString(df)
    // windows may only run over the (segment, acctbal) frequency table;
    // the customer fact joins back via broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"freq table must broadcast back to the fact:\n$p")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("windowspecdefinition"), "no window at all?")
    assert(p.contains("HashAggregate"),
      s"expected the frequency-table aggregation:\n$p")
  }

  test("join_existence_mark plans ExistenceJoin, not outer joins") {
    // EXISTS in the projection must become the mark-emitting join
    // variant; a LeftOuter + null-check reformulation would multiply
    // rows on duplicate keys before the distinct.
    val df = operators.Joins.joinExistenceMark.fn(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("ExistenceJoin"),
      s"expected ExistenceJoin in optimized plan:\n$opt")
  }

  test("tpch_q21 decorrelates to semi + anti self-joins on l_orderkey") {
    val df = operators.Flagships.tpchQ21WaitingSuppliers.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("LeftSemi"), s"expected a left-semi self-join:\n$p")
    assert(p.contains("LeftAnti"), s"expected a left-anti self-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"existence probes must stay equi-joins, not loop joins:\n$p")
  }

  test("agg_bitmap_distinct keeps partial aggregation on every level") {
    // the whole point of the bitmap formulation: every groupBy level is
    // map-side combinable (partial_ aggregate modes), unlike
    // COUNT(DISTINCT) whose distinct expand defeats partial aggs
    val df = operators.Aggregations.aggBitmapDistinct.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("partial_bitmap_construct_agg") ||
      p.contains("partial_first") || p.contains("HashAggregate"),
      s"expected hash aggregates:\n$p")
    assert(!p.contains("Expand"),
      s"bitmap distinct must not use the count-distinct Expand:\n$p")
  }

  test("join_interval_overlap_bucketized equi-joins on the grid cell") {
    // the whole point of the grid bucketization: a ranges×ranges
    // overlap must not fall back to a nested-loop θ-join
    val df = operators.Joins.joinIntervalOverlapBucketized.fn(spark, sfDir)
    val p = planString(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval overlap fell back to a loop join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on the cell key:\n$p")
  }

  test("sql_correlated_scalar decorrelates to one agg + equi-join") {
    // the per-row scalar lookup must become a grouped avg + join on
    // o_custkey — a correlated re-execution per row (or a loop join)
    // would be O(n·groups)
    val df = operators.EtlOps.sqlCorrelatedScalar.fn(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"scalar subquery survived decorrelation:\n$opt")
    val p = planString(df)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"decorrelated join must stay an equi-join:\n$p")
    assert(p.contains("avg("), s"expected the grouped average:\n$p")
  }

  test("tpch_q4_priority_exists decorrelates EXISTS to a keyed semi join") {
    // the non-equi lateness predicate must ride the l_orderkey semi join
    // as a residual — a loop join re-scanning lineitem per order would
    // be O(orders × lines)
    val df = operators.Flagships.tpchQ4PriorityExists.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"semi join fell back to a loop join:\n$p")
    assert(p.contains("date_add"),
      s"lateness residual missing from the semi join:\n$p")
  }

  test("tpch_q17_smallqty_revenue restricts the fact before the correlated avg") {
    // both the outer lines and the per-part average must come from the
    // brand-filtered join (156 parts broadcast), so the grouped avg runs
    // over the brand's lines only — and the broadcast is built once
    val df = operators.Flagships.tpchQ17SmallqtyRevenue.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("ReusedExchange"),
      s"brand-filter broadcast must be shared by both branches:\n$p")
    assert("(?i)Brand#23".r.findFirstIn(p).nonEmpty,
      s"brand predicate not pushed to the part scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"threshold comparison must ride the equi-join as residual:\n$p")
  }

  test("tpch_q19_disjunctive_brand keeps lineitem shuffle-free") {
    // the disjunctive predicate spans the join, but the hoisted brand
    // and size factors keep part broadcast-small; lineitem must reach
    // the global agg through one broadcast hash join, never an Exchange
    // before aggregation
    // sf0.01: at sf0.001 the disjunction matches zero lines and AQE
    // collapses the join to EmptyRelation, hiding the join strategy
    val df = operators.Flagships.tpchQ19DisjunctiveBrand
      .fn(spark, "/root/testdata/sf0.01")
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"),
      s"part side must broadcast:\n$p")
    val preAgg = p.split("HashAggregate", 2).last
    assert(!preAgg.contains("Exchange hashpartitioning"),
      s"lineitem must not shuffle before the global agg:\n$p")
  }

  test("tpch_q22_idle_balance broadcasts the scalar and anti-joins on custkey") {
    // the global-average threshold must arrive as a 1-row broadcast
    // (IdentityBroadcastMode), never a collect; NOT EXISTS must be a
    // keyed anti join against the date-pruned orders scan
    val df = operators.Flagships.tpchQ22IdleBalance.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("IdentityBroadcastMode"),
      s"scalar threshold must broadcast as a 1-row frame:\n$p")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS did not become an anti join:\n$p")
    assert(p.contains("2000-01-01"),
      s"recency predicate not pushed to the orders scan:\n$p")
  }

  test("tpch_q6_forecast_revenue: join-free, all predicates pushed to the scan") {
    val df = operators.Flagships.tpchQ6ForecastRevenue.fn(spark, sfDir)
    val p = planString(df)
    assert(!p.contains("Join"), s"Q6 must compile join-free:\n$p")
    // the PushedFilters list renders truncated in toString, so assert on
    // the untruncated scan metadata instead
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.exists(f => f.contains("GreaterThanOrEqual(l_shipdate") &&
        f.contains("LessThanOrEqual(l_discount") && f.contains("LessThan(l_quantity")),
      s"year/discount/quantity predicates not pushed to the parquet scan:\n$scans")
    // single global agg: the only exchange is the 1-row final-agg gather
    assert(!p.contains("Exchange hashpartitioning"),
      s"a scan-aggregate must not hash-shuffle:\n$p")
  }

  test("tpch_q8_market_share: star dims broadcast, one fact-fact shuffle pair") {
    // sf0.01: at sf0.001 the STANDARD×EUROPE×2-year slice is near-empty
    // and AQE may collapse joins, hiding the strategy under test
    val df = operators.Flagships.tpchQ8MarketShare
      .fn(spark, "/root/testdata/sf0.01")
    val p = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"part/supplier-nation/customer-region sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the 7-table star must ride equi-joins only:\n$p")
  }

  test("dedup_triangle_count: 2-path and closing joins are hash joins, no loop join") {
    val df = operators.TextOps.dedupTriangleCount.fn(spark, sfDir)
    val p = planString(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration must ride equi-joins (middle vertex, (a,c) pair):\n$p")
    assert(p.contains("LeftSemi"), s"the closing-edge check must be a semi join:\n$p")
  }

  test("tpch_q15_top_supplier: max row broadcast as 1-row frame, never collected") {
    val df = operators.Flagships.tpchQ15TopSupplier.fn(spark, sfDir)
    val p = planString(df)
    // the global-max join must be a broadcast hash join against the
    // 1-row aggregate; the winner row then picks up s_name by broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"max-row and supplier-name joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the max filter is an equi-join on total_rev, not a loop join:\n$p")
  }

  test("vec_knn_graph candidate stage: one exchange, window rides the join partitioning") {
    // the n·(n/m) candidate stream must never shuffle: the only Exchange
    // is the m-way range repartition of the replicated left side (n·m
    // rows), the chunk join is a broadcast hash join, and the chunk-local
    // top-k window reuses hashpartitioning-compatible range partitioning
    val df = operators.VectorOps.knnLocalTopK(
      operators.VectorOps.withNorm(spark, sfDir), 5, 8)
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"), s"chunk join must broadcast:\n$p")
    assert("Exchange (range|hash)partitioning".r.findAllIn(p).size == 1,
      s"candidate stream must not shuffle (1 range exchange expected):\n$p")
    assert(p.contains("Window"), s"chunk-local top-k must be a window:\n$p")
  }

  test("agg_ks_binned: fact work is one partial-aggregated count, ECDF rides the bin table") {
    val p = planString(operators.Aggregations.aggKsBinned.fn(spark, sfDir))
    // exactly one hash-agg pair over the events scan (partial before the
    // shuffle), everything after operates on the bounded bin table
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"KS must not join the fact table:\n$p")
  }

  test("pipeline_semantic_dedup: centroids broadcast, compare is a cell-keyed semi join") {
    val p = planString(operators.VectorOps.pipelineSemanticDedup.fn(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid assignment must broadcast:\n$p")
    assert(p.contains("LeftSemi"), s"duplicate flagging must be a semi join (no pair list):\n$p")
  }

  test("vec_pq_adc_topk: LUT broadcasts, no full-vector shuffle after encoding") {
    val p = planString(operators.VectorOps.vecPqAdcTopk.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"LUT join must be broadcast:\n$p")
  }

  test("graph_pagerank_trade: fact-scale edge agg is partial-aggregated; iterations scan checkpoints") {
    val df = operators.Flagships.graphPagerankTrade.fn(spark, sfDir)
    val p = planString(df)
    // the final plan must consume the checkpointed node-sized frame, not
    // re-derive the fact aggregation inside the iteration subtree
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"iterations must read the checkpointed graph:\n$p")
    assert(df.count() == 25)
  }

  test("win_interval_union_length: per-key windows, single shuffle on the supplier key") {
    val p = planString(operators.Windows.winIntervalUnionLength.fn(spark, sfDir))
    assert(p.contains("Window"), s"sweep must be window-based:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval union must not self-join:\n$p")
  }

  test("vec_hamming_topk: probes broadcast, corpus never shuffles") {
    val p = planString(operators.VectorOps.vecHammingTopk.fn(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge against probes:\n$p")
  }

  test("agg_market_basket_lift: one fact pass behind a cut, stats broadcast back") {
    val p = planString(operators.Aggregations.aggMarketBasketLift.fn(spark, sfDir))
    // the explode-local pair generation runs ONCE at build time; every
    // consumer (total / singles / pairs) filters the checkpointed cell
    // table — the final plan must never re-touch the fact table
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 0, s"final plan must not re-scan lineitem, got $factScans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"consumers must read the checkpointed cell table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the order-brand relation must not self-join via SMJ:\n$p")
    // brand counts and order total ride broadcast frames
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"bounded stats frames must broadcast back:\n$p")
  }

  test("win_max_drawdown: one per-customer window, partial-aggregated summary") {
    val p = planString(operators.Windows.winMaxDrawdown.fn(spark, sfDir))
    assert(p.contains("Window"), s"running peak must be a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2 || p.contains("SortAggregate"),
      s"summary must aggregate partial+final:\n$p")
    assert(!p.contains("Join"), s"drawdown needs no join at all:\n$p")
  }

  test("text_pmi_cooccurrence: pairs explode row-locally, no pair self-join, sets memoized") {
    val p = planString(operators.TextOps.textPmiCooccurrence.fn(spark, sfDir))
    // every consumer reads the shared memoized distinct-token-set
    // relation (InMemoryTableScan: the memo's columnar cache, built once
    // per corpus on the shared-text clock over a lineage cut, so its
    // InMemoryRelation DEFINITION is a `Scan ExistingRDD` of the cut, not
    // the parquet scan and tokenize that built it) or a checkpointed
    // bound; the (doc, tok) relation never self-joins
    assert(p.contains("InMemoryTableScan"),
      s"consumers must read the memoized token-set relation:\n$p")
    // one `Scan ExistingRDD` per memo definition, so the vocab bound's
    // own checkpoint scans are the surplus
    val cutScans = "Scan ExistingRDD".r.findAllIn(p).size
    val memoDefs = "InMemoryRelation".r.findAllIn(p).size
    assert(cutScans > memoDefs || p.contains("LocalTableScan"),
      s"the vocab bound must stay checkpointed:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the doc-token relation must not self-join via SMJ:\n$p")
  }

  test("finance windows (macd/stochastic): shared monthly stage, no fact rescan") {
    for (q <- Seq(operators.Windows.winMacdCrossover,
                  operators.Windows.winStochasticOscillator)) {
      val p = planString(q.fn(spark, sfDir))
      // the memoized monthly-revenue checkpoint feeds the windows; the
      // only parquet the final plan may touch is the 25-row nation dim
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= 1, s"${q.name}: lineitem must not be rescanned, got $scans:\n$p")
      assert(p.contains("Window"), s"${q.name}: frame means must be windows:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"${q.name}: nation attach must broadcast:\n$p")
    }
  }

  test("agg_mutual_information: fact-scale work is one partial-aggregated cell count") {
    val df = operators.Aggregations.aggMutualInformation.fn(spark, sfDir)
    val p = planString(df)
    // events appear exactly once: marginals/entropies derive from the
    // cell table, never from a second fact scan
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans <= 1, s"expected a single events scan, got $factScans:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tiny marginal frames must broadcast, not SMJ:\n$p")
  }

  test("join_bloom_filtered_fact: bloom probe sits below the exact confirm join") {
    val df = operators.Joins.joinBloomFilteredFact.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("might_contain"),
      s"bloom probe must appear in the fact-side filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"exact confirm join must broadcast the dim:\n$p")
    // the probe is a filter, not a join: exactly one join in the plan
    assert(!p.contains("SortMergeJoin"), s"fact must not shuffle for the probe:\n$p")
  }

  test("agg_attribution_last_touch: events scanned exactly once (total via window)") {
    val p = planString(operators.Aggregations.aggAttributionLastTouch.fn(spark, sfDir))
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 1, s"expected ONE events scan, got $factScans:\n$p")
    assert(p.contains("Window"), s"grand total must be a window over the channel table:\n$p")
  }

  test("agg_cohort_ltv_curve: one orders scan feeds the checkpointed triangle") {
    val df = operators.Aggregations.aggCohortLtvCurve.fn(spark, sfDir)
    val p = planString(df)
    // the (cohort, age) triangle is checkpointed; the final plan reads the
    // ExistingRDD twice (cumsum + sizes) and never re-touches parquet
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 0, s"final plan must not re-scan orders, got $factScans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"sizes/cumsum must read the checkpointed triangle:\n$p")
  }

  test("agg_markov_stationary: 8 power rounds unrolled over one checkpointed cell table") {
    val df = operators.Aggregations.aggMarkovStationary.fn(spark, sfDir)
    val p = planString(df)
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 0,
      s"iterations + empirical shares must read the checkpointed cells, got $factScans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"expected the checkpointed k×(k+1) cell frame:\n$p")
  }

  test("vec_pca_power_iteration: local eigensolve result, no data-scale work in final plan") {
    val df = operators.VectorOps.vecPcaPowerIteration.fn(spark, sfDir)
    val p = planString(df)
    // the one corpus pass (Gram accumulation) runs at build time; the
    // declared frame is the 5-row local eigensolve result — re-counting
    // it must never re-touch parquet
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 0, s"final plan must not re-scan embeddings, got $factScans:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"expected the local eigensolve rows:\n$p")
    assert(df.count() == 5)
  }
  test("sample_poisson_bootstrap: replicate fan-out runs once behind a 32-row lineage cut") {
    val p = planString(operators.Aggregations.samplePoissonBootstrap.fn(spark, sfDir))
    // mstats/ranked/final all read the checkpointed 32-row replicate table;
    // the only parquet scan left in the final plan is the point-mean branch.
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 1,
      s"expected ONE orders scan (point mean) besides the checkpointed replicates, got $factScans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"replicate consumers must read the checkpointed frame:\n$p")
    assert(!p.contains("Generate"),
      s"the 32x explode must sit behind the cut, not re-run per consumer:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bootstrap must not shuffle-join the fact table:\n$p")
  }

  test("join_pit_scd2_bucketed: co-located merge of bucketed dim and fact, zero Exchange") {
    val df = operators.Joins.joinPitScd2Bucketed.fn(spark, sfDir)
    val p = planString(df)
    // both sides read the persisted catalog tables…
    assert(p.contains(operators.Scd2Dim.dimTable(sfDir)),
      s"PIT join does not read the persisted dim table:\n$p")
    assert(p.contains(operators.Scd2Dim.factTable(sfDir)),
      s"PIT join does not read the persisted fact table:\n$p")
    // …and the user-keyed join never shuffles: bucket layouts align
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed PIT join must not shuffle either side:\n$p")
    // the window derivation must not run at query time (no re-derive)
    assert(!p.contains("Window"),
      s"PIT query re-derives the SCD2 window instead of reading the table:\n$p")
  }

  test("vec_ann_ivf + IVF build: row-local cell assignment, zero Exchange scan→cell") {
    // r8 verdict #1: the n×nlist window-argmax is gone. The corpus scan
    // flows into the cell column through a broadcast of the one-row
    // codebook array and a row-local higher-order argmax — the ONLY
    // corpus-keyed Exchange the old plan had (hashpartitioning(vec_id)
    // feeding the per-vector rank window) must never reappear.
    val p = planString(operators.VectorOps.vecAnnIvf.fn(spark, sfDir))
    assert(!"Exchange hashpartitioning\\(vec_id".r.findFirstIn(p).isDefined,
      s"corpus-keyed shuffle before cell assignment:\n$p")
    // the only Window left is the final per-query top-k rank
    val wins = "Window \\[row_number".r.findAllIn(p).size
    assert(wins == 1, s"expected exactly the q_id ranking window, got $wins:\n$p")

    // the IvfIndex build's assignment fragment: corpus parquet scan →
    // broadcast(one-row codebook) → project(cell). Zero Exchange of any
    // kind on the corpus stream — the fragment's only exchanges are the
    // bounded codebook-training aggregates and its one-row collapse.
    val e = operators.VectorOps.withNorm(spark, sfDir)
    val cents = operators.VectorOps.ivfCodebook(e).cache()
    cents.count() // materialize so the fragment plan below is assignment-only
    val frag = operators.VectorOps.withNearestCells(e, cents, keep = 1)
    val fp = planString(frag)
    val corpusEx = "Exchange hashpartitioning".r.findAllIn(fp).size
    assert(corpusEx == 0,
      s"build assignment must not shuffle the corpus (or anything): got $corpusEx hash exchanges:\n$fp")
    cents.unpersist()
  }

  test("vec_ann_ivf_serve: serves from the persisted bucketed index, no re-clustering") {
    val df = operators.VectorOps.vecAnnIvfServe.fn(spark, sfDir)
    val p = planString(df)
    // no codebook rebuild at serve time: the Lloyd step's posexplode of
    // the corpus must be absent (the probe-side row-local multi-probe
    // explode of the 3 nearest cells is fine — it is per-query, bounded,
    // and introduces no Exchange)
    assert(!p.contains("Generate posexplode"),
      s"serve plan re-clusters (posexplode of the corpus seen):\n$p")
    // the index side must be the persisted catalog table…
    assert(p.contains(operators.IvfIndex.indexTable(sfDir)),
      s"serve plan does not read the persisted index table:\n$p")
    // …and never shuffles on cell: probes broadcast against the bucketed scan
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the serve path:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
    // bucketing is exploited by cell-keyed aggregation: per-cell stats over
    // the index plan with ZERO Exchange (bucketed scan pre-partitions)
    val agg = spark.table(operators.IvfIndex.indexTable(sfDir))
      .groupBy("cell").count()
    val ap = planString(agg)
    assert(!ap.contains("Exchange"),
      s"cell-keyed aggregation over the bucketed index must not shuffle:\n$ap")
    // literal cell predicates prune BUCKETS at the file level — the
    // maintenance-scan path (rebalance one cell, inspect one cell) reads
    // 1/16th of the index, the on-disk analog of partition pruning.
    // (autoBucketedScan turns bucketed reads off for filter-only plans;
    // a deployment that leans on bucket pruning pins it on, as here.)
    val prevAuto = spark.conf.getOption("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pruned = planString(spark.table(operators.IvfIndex.indexTable(sfDir))
        .where(col("cell") === 3))
      assert(pruned.contains("SelectedBucketsCount: 1 out of 16"),
        s"literal cell filter must prune to one bucket:\n$pruned")
    } finally prevAuto match {
      case Some(v) => spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("vec_ann_ivfpq_serve: codes-only scan, no full vectors, no cell shuffle") {
    val df = operators.VectorOps.vecAnnIvfpqServe.fn(spark, sfDir)
    val p = planString(df)
    // the corpus side must be the persisted CODES table + PQ/IVF
    // codebooks — never the full-vector index table (ADC's whole point:
    // no full-vector arithmetic touches the scan)
    assert(p.contains(operators.IvfIndex.pqCodesTable(sfDir)),
      s"serve plan does not read the persisted codes table:\n$p")
    assert(p.contains(operators.IvfIndex.pqCodebookTable(sfDir)),
      s"serve plan does not read the persisted PQ codebook:\n$p")
    assert(!p.contains(operators.IvfIndex.indexTable(sfDir)),
      s"serve plan reads the full-vector index table:\n$p")
    // probes/LUT broadcast against the bucketed codes scan: no cell
    // shuffle, no sort-merge join anywhere
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the serve path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"broadcast-only serve path:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe/LUT sides must broadcast:\n$p")
  }

  test("vec_ann_recall_curve: residual codes + codebook read, no cell shuffle") {
    val df = operators.VectorOps.vecAnnRecallCurve.fn(spark, sfDir)
    val p = planString(df)
    // the approximate side must read the persisted RESIDUAL artifacts;
    // the full-vector index table never appears (the exact ground-truth
    // side reads the corpus parquet directly, by design)
    assert(p.contains(operators.IvfIndex.pqrCodesTable(sfDir)),
      s"curve plan does not read the persisted residual codes table:\n$p")
    assert(p.contains(operators.IvfIndex.pqrCodebookTable(sfDir)),
      s"curve plan does not read the persisted residual codebook:\n$p")
    assert(!p.contains(operators.IvfIndex.indexTable(sfDir)),
      s"curve plan reads the full-vector index table:\n$p")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the curve path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"broadcast-only curve path:\n$p")
  }

  test("vec_ann_refine_serve: shortlist from codes, index read only for the R lookups") {
    val df = operators.VectorOps.vecAnnRefineServe.fn(spark, sfDir)
    val p = planString(df)
    // stage 1 (shortlist) reads the persisted residual codes +
    // codebook; stage 2 (exact re-rank) reads the full-vector index —
    // BOTH tables must appear, unlike the unrefined serve/curve rows
    assert(p.contains(operators.IvfIndex.pqrCodesTable(sfDir)),
      s"refine plan does not read the persisted residual codes table:\n$p")
    assert(p.contains(operators.IvfIndex.pqrCodebookTable(sfDir)),
      s"refine plan does not read the persisted residual codebook:\n$p")
    assert(p.contains(operators.IvfIndex.indexTable(sfDir)),
      s"refine plan does not read the full-vector index for the R lookups:\n$p")
    // probes/LUT/shortlist all broadcast: no cell shuffle, no
    // sort-merge join — the index side never moves for the refine
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the refine path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"broadcast-only refine path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shortlist/probe/LUT sides must broadcast:\n$p")
  }

  test("vec_ann_serve_production: composed serve reads all four artifacts, broadcast-only, no cell shuffle") {
    val df = operators.VectorOps.vecAnnServeProduction.fn(spark, sfDir)
    val p = planString(df)
    // the composition must touch every lifecycle artifact: the appended
    // codes (ADC), the residual codebook (LUT), the tombstone table
    // (exclusion), and the appended full-vector index (refine lookups)
    assert(p.contains(operators.IvfIndex.pqrAppendedCodesTable(sfDir)),
      s"production plan does not read the appended residual codes:\n$p")
    assert(p.contains(operators.IvfIndex.pqrBaseCodebookTable(sfDir)),
      s"production plan does not read the base residual codebook:\n$p")
    assert(p.contains(operators.IvfIndex.appTombstoneTable(sfDir)),
      s"production plan does not read the append-family tombstones:\n$p")
    assert(p.contains(operators.IvfIndex.appendedIndexTable(sfDir)),
      s"production plan does not read the appended index for the R lookups:\n$p")
    // no full-vector scan outside the shortlist lookup: the base index
    // table (full vectors, pre-append) must NOT appear in the serve plan
    assert(!p.contains(operators.IvfIndex.baseIndexTable(sfDir) + "]"),
      s"production serve must not scan the base index:\n$p")
    // probes/LUT/tombstones/shortlist all broadcast; bucketed sides
    // never shuffle on cell
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the production serve path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"broadcast-only production path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe/LUT/tombstone/shortlist sides must broadcast:\n$p")
  }

  test("incremental add: only the new batch moves — assignment frame is Exchange-free") {
    // the frame ensureAppended appends: batch scan → broadcast codebook
    // → row-local assignment. ZERO Exchange of any kind (the only
    // shuffle in the whole append is the batch-sized cell-hash
    // repartition the bucketed write adds outside this frame), and
    // neither persisted table is read — base data never moves
    val (_, baseCb) = operators.IvfIndex.ensureBase(spark, sfDir)
    val frame = operators.IvfIndex.appendAssigned(spark, sfDir, baseCb)
    val p = planString(frame)
    assert(!p.contains("Exchange hashpartitioning"),
      s"append assignment frame shuffles:\n$p")
    assert(!p.contains(operators.IvfIndex.baseIndexTable(sfDir)),
      s"append assignment must not read the base index table:\n$p")
    assert(!p.contains(operators.IvfIndex.appendedIndexTable(sfDir)),
      s"append assignment must not read the appended table:\n$p")
  }

  test("append-family reads: bucketed appended tables, broadcast probes, no cell shuffle") {
    for (df <- Seq(operators.VectorOps.vecIvfAppendIncremental.fn(spark, sfDir),
                   operators.VectorOps.vecAnnIvfServeApp.fn(spark, sfDir))) {
      val p = planString(df)
      assert(p.contains(operators.IvfIndex.appendedIndexTable(sfDir)),
        s"must read the persisted appended index table:\n$p")
      assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
        s"cell-keyed shuffle against the bucketed appended index:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"kilobyte codebook/probe joins must broadcast, not sort-merge:\n$p")
    }
    val pc = planString(operators.VectorOps.vecPqrAppendIncremental.fn(spark, sfDir))
    assert(pc.contains(operators.IvfIndex.pqrAppendedCodesTable(sfDir)),
      s"must read the persisted appended codes table:\n$pc")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(pc).isDefined,
      s"cell-keyed shuffle against the bucketed appended codes:\n$pc")
  }

  test("delete lifecycle reads: bucketed scans, broadcast tombstones, no cell shuffle") {
    // serve-with-deletes: the tombstone anti join must broadcast against
    // the bucketed gen-1 scan; no cell shuffle, no sort-merge anywhere
    val p = planString(operators.VectorOps.vecAnnIvfServeTombstoned.fn(spark, sfDir))
    assert(p.contains(operators.IvfIndex.indexTable(sfDir)),
      s"must read the persisted gen-1 index:\n$p")
    assert(p.contains(operators.IvfIndex.tombstoneTable(sfDir)),
      s"must read the persisted tombstone table:\n$p")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the tombstone-filtered serve path:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"tombstone/probe sides must broadcast:\n$p")
    // compaction audit reads the compacted generation with zero Exchange
    val pc = planString(operators.VectorOps.vecIvfCompactApply.fn(spark, sfDir))
    assert(pc.contains(operators.IvfIndex.compactedIndexTable(sfDir)),
      s"must read the persisted compacted generation:\n$pc")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(pc).isDefined,
      s"cell-keyed shuffle against the bucketed compacted generation:\n$pc")
  }

  test("stream_vec_append gate: only the batch shuffles, bucketed index side does not") {
    val df = operators.Streaming.streamVecAppend.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains(operators.IvfIndex.baseIndexTable(sfDir)),
      s"gate must read the persisted base index table:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"index join must not broadcast the index (huge side at scale):\n$p")
    // exactly ONE cell-keyed Exchange — the arriving batch; the bucketed
    // index side reads co-partitioned
    val cellExchanges = "Exchange hashpartitioning\\(cell".r.findAllIn(p).size
    assert(cellExchanges == 1,
      s"exactly ONE cell-keyed Exchange (the arriving batch); index side is bucketed — got $cellExchanges:\n$p")
  }

  test("appendVecBatch frame: anti-join rides the bucketing, only the batch shuffles") {
    import org.apache.spark.sql.functions._
    // the frame appendVecBatch writes: row-local assign → (cell, vec_id)
    // anti-join against the live bucketed table. The bucketed side must
    // read co-partitioned (no Exchange); only the batch side shuffles.
    val (_, baseCb) = operators.IvfIndex.ensureBase(spark, sfDir)
    operators.IvfIndex.ensureAppended(spark, sfDir) // a live bucketed target
    val name = operators.IvfIndex.appendedIndexTable(sfDir)
    val batch = operators.VectorOps.withNorm(spark, sfDir)
      .filter(operators.IvfIndex.isAppendBatch(col("vec_id")))
      .select(col("vec_id"), col("emb"))
      .withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))))
    val frame = operators.VectorOps.withNearestCells(batch, baseCb, keep = 1)
      .select(col("vec_id").cast("long").as("vec_id"), col("emb"), col("nrm"), col("cell"))
      .join(spark.table(name).select(col("cell"), col("vec_id")).hint("merge"),
        Seq("cell", "vec_id"), "left_anti")
    val p = planString(frame)
    assert("SortMergeJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"idempotence anti-join must sort-merge against the bucketed table:\n$p")
    val cellExchanges = "Exchange hashpartitioning\\(cell".r.findAllIn(p).size
    assert(cellExchanges == 1,
      s"exactly ONE cell-keyed Exchange (the arriving batch) — got $cellExchanges:\n$p")
  }

  test("vec_ann_refine_serve_spill: spilled codes ADC + crank-1 refine, broadcast-only, no cell shuffle") {
    val p = planString(operators.VectorOps.vecAnnRefineServeSpill.fn(spark, sfDir))
    assert(p.contains(operators.IvfIndex.pqrSpillCodesTable(sfDir)),
      s"must read the persisted spilled residual codes:\n$p")
    assert(p.contains(operators.IvfIndex.pqrSpillCodebookTable(sfDir)),
      s"must read the persisted spilled residual codebook:\n$p")
    assert(p.contains(operators.IvfIndex.spillIndexTable(sfDir)),
      s"must read the spilled index for the R refine lookups:\n$p")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle on the spilled refine path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"broadcast-only spilled refine path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe/LUT/shortlist sides must broadcast:\n$p")
  }

  test("multimodal_shard_pack: keyed window, no global ordering") {
    val p = planString(operators.Multimodal.multimodalShardPack.fn(spark, sfDir))
    // the running sum must be a lang-keyed window: partitioned Exchange
    // on lang, never a single-partition global window
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"shard packing must partition by lang:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global single-partition window in the packing plan:\n$p")
  }

  test("registry retraction reads: bucketed scans, broadcast side tables, no shingle shuffle") {
    // serve-state audit: bitmask registry scans from its buckets, the
    // kilobyte tombstone/remap tables broadcast — zero shingle Exchange
    val p = planString(operators.TextOps.dedupRegistryRetract.fn(spark, sfDir))
    assert(p.contains(operators.ShingleRegistry.bitmaskTable(sfDir)),
      s"must read the persisted bitmask registry:\n$p")
    assert(p.contains(operators.ShingleRegistry.retractTombstoneTable(sfDir)) &&
      p.contains(operators.ShingleRegistry.retractRemapTable(sfDir)),
      s"must read both retraction side tables:\n$p")
    assert(!"Exchange hashpartitioning\\(shingle".r.findFirstIn(p).isDefined,
      s"shingle-keyed shuffle on the retraction serve path:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"side tables must broadcast:\n$p")
    // compaction audit reads the compacted generation, no shingle shuffle
    val pc = planString(operators.TextOps.dedupRegistryRetractCompact.fn(spark, sfDir))
    assert(pc.contains(operators.ShingleRegistry.retractCompactTable(sfDir)),
      s"must read the persisted compacted registry generation:\n$pc")
    assert(!"Exchange hashpartitioning\\(shingle".r.findFirstIn(pc).isDefined,
      s"shingle-keyed shuffle in the compacted audit:\n$pc")
  }

  test("spilled-family reads: bucketed spilled scan, broadcast probes, no cell shuffle") {
    // multi-assignment serve: spilled index reads from its buckets, the
    // probes broadcast, the (q, vec) dedup is candidate-bounded — no
    // cell-keyed shuffle of the corpus-scale side anywhere
    val p = planString(operators.VectorOps.vecAnnIvfServeSpill.fn(spark, sfDir))
    assert(p.contains(operators.IvfIndex.spillIndexTable(sfDir)),
      s"must read the persisted spilled index table:\n$p")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(p).isDefined,
      s"cell-keyed shuffle against the bucketed spilled index:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"probe side must broadcast:\n$p")
    val pb = planString(operators.VectorOps.vecIvfSpillBuild.fn(spark, sfDir))
    assert(pb.contains(operators.IvfIndex.spillIndexTable(sfDir)),
      s"audit must read the persisted spilled index table:\n$pb")
    assert(!"Exchange hashpartitioning\\(cell".r.findFirstIn(pb).isDefined,
      s"cell-keyed shuffle in the bucketed per-cell audit:\n$pb")
  }

  test("dedup_incremental_registry: probe shuffles, bucketed registry side does not") {
    val df = operators.TextOps.dedupIncrementalRegistry.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains(operators.ShingleRegistry.registryTable(sfDir)),
      s"probe must read the persisted registry table:\n$p")
    assert(p.contains("SortMergeJoin"), s"registry join must not broadcast the registry:\n$p")
    val shingleExchanges = "Exchange hashpartitioning\\(shingle".r.findAllIn(p).size
    assert(shingleExchanges == 1,
      s"exactly ONE shingle-keyed Exchange (the new batch); registry side is bucketed — got $shingleExchanges:\n$p")
  }

  test("stream_incremental_dedup: gate shuffles only the new batch; bucketed registry side has zero Exchange") {
    val df = operators.Streaming.streamIncrementalDedup.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains(operators.ShingleRegistry.registryTable(sfDir)),
      s"gate must read the persisted registry table:\n$p")
    assert(p.contains("SortMergeJoin"), s"registry join must not broadcast the registry:\n$p")
    val shingleExchanges = "Exchange hashpartitioning\\(shingle".r.findAllIn(p).size
    assert(shingleExchanges == 1,
      s"exactly ONE shingle-keyed Exchange (the arriving batch); registry side is bucketed — got $shingleExchanges:\n$p")
  }

  test("stream_ann_serve_gate + vec_ivf_cell_rebalance: bucketed index side never shuffles on cell") {
    for (df <- Seq(operators.Streaming.streamAnnServeGate.fn(spark, sfDir),
                   operators.VectorOps.vecIvfCellRebalance.fn(spark, sfDir))) {
      val p = planString(df)
      assert(p.contains(operators.IvfIndex.indexTable(sfDir)),
        s"must read the persisted index table:\n$p")
      // no single-key cell re-shuffle of the index (the rebalance row's
      // (cell, side[, pos]) mean aggregations over overloaded-cell
      // members are bounded and allowed — cell alone would be the
      // corpus-scale re-bucketing this layout exists to avoid)
      assert(!"Exchange hashpartitioning\\(cell#\\d+L?,[^#\\n)]*\\)".r.findFirstIn(p).isDefined,
        s"single-key cell shuffle against the bucketed index:\n$p")
    }
  }

  test("gen-2 rows: read sides ride the bucketed index, codebook/probes broadcast") {
    for (df <- Seq(operators.VectorOps.vecIvfRebalanceApply.fn(spark, sfDir),
                   operators.VectorOps.vecAnnIvfServeG2.fn(spark, sfDir))) {
      val p = planString(df)
      assert(p.contains(operators.IvfIndex.indexG2Table(sfDir)),
        s"must read the persisted generation-2 index table:\n$p")
      // per-cell work rides the cell bucketing: no cell re-shuffle
      assert(!"Exchange hashpartitioning\\(cell#\\d+L?,[^#\\n)]*\\)".r.findFirstIn(p).isDefined,
        s"single-key cell shuffle against the bucketed gen-2 index:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"gen-2 codebook/probe side must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"kilobyte codebook/probe join must not sort-merge:\n$p")
    }
  }

  test("splitPlan: overload scan and side assignment never shuffle the corpus on cell") {
    val (idx, cb) = operators.IvfIndex.ensure(spark, sfDir)
    val (_, asg, _) = operators.VectorOps.splitPlan(spark, idx, cb)
    val p = planString(asg)
    // the population groupBy, the per-cell seed window, and the member
    // join all ride the cell bucketing; over/seed frames broadcast — the
    // reassignment plan is Exchange-free on the index side
    assert(!"Exchange hashpartitioning\\(cell#\\d+L?,[^#\\n)]*\\)".r.findFirstIn(p).isDefined,
      s"splitPlan re-shuffled the bucketed index on cell:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"overloaded-cell membership must broadcast, not sort-merge:\n$p")
  }

  test("etl_late_arriving_dimension: dim broadcasts, fact aggregates partially") {
    val p = planString(operators.EtlOps.etlLateArrivingDimension.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact must not shuffle for the dim join:\n$p")
    assert(p.contains("HashAggregate"), s"expected partial aggregation:\n$p")
  }

  test("win_rsi_momentum: one nation-keyed window shuffle over the bounded monthly table") {
    val p = planString(operators.Windows.winRsiMomentum.fn(spark, sfDir))
    assert(p.contains("Window"), s"expected the per-nation frame windows:\n$p")
    // one fact-scale shuffle (the (nation, month) agg) + one bounded-table
    // shuffle (the per-nation windows over ~25×months rows) — anything
    // beyond that means a window or join re-shuffled fact-scale data
    val natExchanges = "Exchange hashpartitioning\\(s_nationkey".r.findAllIn(p).size
    assert(natExchanges <= 2,
      s"expected at most agg + window nation shuffles, got $natExchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims must broadcast:\n$p")
  }

  test("graph_harmonic_closeness: rounds read checkpoints, no fact re-scan in the final plan") {
    val df = operators.Flagships.graphHarmonicCloseness.fn(spark, sfDir)
    val p = planString(df)
    // final plan = last round's checkpointed distance table + nation dim;
    // the fact-scale edge agg ran once inside the shared memoized stage
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans <= 1,
      s"only the nation dim may scan parquet in the final plan, got $factScans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"distances must come from the checkpointed min-plus table:\n$p")
    assert(df.count() == 25)
  }

  test("win_seasonal_decompose: one fact month agg, windows on the bounded monthly table") {
    val p = planString(operators.Windows.winSeasonalDecompose.fn(spark, sfDir))
    assert(p.contains("Window"), s"expected the centered-frame window:\n$p")
    assert(p.contains("HashAggregate"), s"expected partial-aggregated month rollup:\n$p")
    val factScans = "Scan parquet".r.findAllIn(p).size
    assert(factScans == 1, s"lineitem must scan exactly once, got $factScans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"seasonal table must broadcast back:\n$p")
  }

  test("agg_gains_deciles: decile map rides the frequency table, no fact-table global sort") {
    val df = operators.Aggregations.aggGainsDeciles.fn(spark, sfDir)
    val p = planString(df)
    assert(p.contains("Window"), s"expected the bounded frequency-table window:\n$p")
    assert(p.contains("HashAggregate"), s"expected partial-aggregated spend rollup:\n$p")
    // the only BroadcastNestedLoop allowed is the 1-row totals cross join;
    // customer-spend assignment must stay a key-equi join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"spend->decile assignment must be an equi join:\n$p")
  }

  test("vec_jl_projection_audit: sign matrix broadcasts, projection partial-aggregates") {
    val p = planString(operators.VectorOps.vecJlProjectionAudit.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"sign-matrix join must broadcast:\n$p")
    assert(p.contains("HashAggregate"), s"projection must hash-aggregate:\n$p")
  }

  test("multimodal_chunk_manifest: pure scan + explode, no join or aggregation anywhere") {
    val p = planString(operators.Multimodal.multimodalChunkManifest.fn(spark, sfDir))
    assert(p.contains("Generate"), s"chunk explode missing:\n$p")
    assert(!p.contains("Join"), s"manifest must not join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"manifest must not aggregate:\n$p")
  }
}
