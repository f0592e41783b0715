package graft.ops

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSpec}

/** Physical-plan assertions — the 100 TB design contract (SURVEY §4,
  * BASELINE.json north star). Correct results with a wrong plan fail at
  * scale; these tests pin the plan shape Catalyst must produce:
  * pruned scans, pushed filters, broadcast for small dims, partial
  * aggregation before the shuffle, top-k without a global sort. */
class PlanSpec extends SparkSpec {

  private def plan(key: String): String = {
    // default 100-char metadata truncation can cut a PushedFilters list
    // mid-entry, hiding exactly the filter a pin asserts on
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val df: DataFrame = SparkEntry.queries(key)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q_projection prunes the scan to selected columns") {
    val p = plan("q_projection")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"),
      s"scan should read exactly 3 columns:\n$p")
  }

  test("q_predicates pushes every filter into the parquet scan") {
    val p = plan("q_predicates")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("In(o_orderstatus"), s"IN should push down:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_t"), s"BETWEEN should push down:\n$p")
  }

  test("q_agg_groupby pushes the date filter and aggregates partially before the shuffle") {
    val p = plan("q_agg_groupby")
    assert(p.contains("LessThanOrEqual(l_shipdate"), s"filter must reach the scan:\n$p")
    assert(p.contains("partial_sum"), s"map-side combine missing:\n$p")
  }

  test("q_join_broadcast broadcasts the dim side, fact side never shuffles for the join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThan(p_size,40)"), s"dim filter must push into its scan:\n$p")
    // the only Exchange allowed before the join is the broadcast itself
    val beforeJoin = p.split("BroadcastHashJoin").head
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      s"fact side must not shuffle for a broadcast join:\n$p")
  }

  test("q_join_sortmerge uses a sort-merge join (both large sides shuffle, no giant hash table)") {
    val p = plan("q_join_sortmerge")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("q_topk runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-k must not range-shuffle the whole table:\n$p")
  }

  test("q_scan reads all columns only when all are selected") {
    val p = plan("q_scan")
    assert(p.contains("c_custkey") && p.contains("c_mktsegment"), p)
  }

  test("q_similarity_lsh dedups candidate ids only — no vector payloads in the distinct") {
    val p = plan("q_similarity_lsh")
    // the candidate dedup is a HashAggregate over (qid, cid); if a 64-double
    // payload column ever rejoins the distinct's grouping keys, its shuffle
    // ships ~1 KiB/pair instead of 16 bytes at 100 TB
    val distinctAggs = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("keys=[qid")).toSeq
    assert(distinctAggs.nonEmpty, s"expected an id-pair distinct:\n$p")
    assert(distinctAggs.forall(l => !l.contains("qv") && !l.contains("cv")),
      s"vector payloads leaked into the candidate dedup:\n${distinctAggs.mkString("\n")}")
    // banding is the codegen'd LshBands expression, not interpreted HOFs
    assert(p.contains("lsh_bands"), s"banding should be native:\n$p")
    assert(!p.contains("zip_with"),
      s"no higher-order-function lambdas in the signature pipeline:\n$p")
  }

  test("q_similarity_ivf assigns cells via the codegen'd expression, not HOF lambdas") {
    val p = plan("q_similarity_ivf")
    assert(p.contains("ivf_cells"),
      s"cell ranking should be the native IvfNearestCells expression:\n$p")
    // the interpreted pipeline this replaced showed up as aggregate/zip_with
    // lambda evaluators in the assignment projection
    assert(!p.contains("zip_with"),
      s"no higher-order-function lambdas in the IVF assignment:\n$p")
    // probe side stays broadcast: the corpus never shuffles for the cell join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_dedup_simhash counts buckets by aggregate + broadcast join — no corpus-wide Window") {
    val p = plan("q_dedup_simhash")
    // count(*) over (partition by simhash) would sort each signature in
    // ONE task — a degenerate signature serializes the corpus. The
    // groupBy count side (≤ 2^16 rows) must broadcast instead.
    assert(!p.contains("Window"),
      s"bucket sizing must not run through a Window over the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤65k-row bucket-count side must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"bucket counting must combine map-side:\n$p")
  }

  test("q_dedup_decontaminate broadcasts the held-out shingle set (corpus never shuffles text)") {
    val p = plan("q_dedup_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"held-out set must broadcast so the train corpus streams once:\n$p")
  }

  test("q_tpch_q3 pushes both date filters to the scans, broadcasts dims, top-k without global sort") {
    val p = plan("q_tpch_q3")
    assert(p.contains("GreaterThan(l_shipdate"), s"lineitem filter must reach its scan:\n$p")
    assert(p.contains("LessThan(o_orderdate"), s"orders filter must reach its scan:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$p")
    // customer is dim-sized at test SF → the size-based planner broadcasts it
    assert(p.contains("BroadcastHashJoin"), s"dim join should broadcast at this SF:\n$p")
    assert(p.contains("partial_sum"), s"revenue agg must combine map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered, not a global sort:\n$p")
  }

  test("q_tpch_q1 is a pure scan-agg: pushed date filter, partial agg, no join anywhere") {
    val p = plan("q_tpch_q1")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"the date filter must reach the parquet scan:\n$p")
    assert(p.contains("partial_sum"),
      s"the six-group aggregate must combine map-side:\n$p")
    assert(!p.contains("Join"),
      s"Q1 is the no-join heavy-scan shape — a join means a wrong plan:\n$p")
    assert(!p.contains("Window"),
      s"averages must derive from the decimal sums, not a window:\n$p")
  }

  test("q_tpch_q6 is scan → pushed filters → partial agg → 1-row final, nothing else") {
    val p = plan("q_tpch_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the date-range filter must reach the parquet scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount") ||
      p.contains("LessThanOrEqual(l_discount"),
      s"the discount band must reach the parquet scan:\n$p")
    assert(p.contains("LessThan(l_quantity"),
      s"the quantity cap must reach the parquet scan:\n$p")
    assert(p.contains("partial_sum"),
      s"the global sum must combine map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"Q6 is its scan — any join/window is a wrong plan:\n$p")
  }

  test("q_tpch_q18 dispatches the fact join on the MEASURED keylist size") {
    // round 16: the static merge hint became a measured dispatch. At
    // bench scale the qualified keylist is small ⇒ the default arm
    // must broadcast IT (never orders); forcing the threshold to 0
    // must yield the shuffle-merge plan a lenient 100 TB threshold
    // needs. Arm row-equality is pinned by the same collect below.
    val p = plan("q_tpch_q18")
    assert(p.contains("BroadcastHashJoin") &&
        p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
          l.contains("o_orderkey")),
      s"small keylist must broadcast into orders:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge when the measured keylist is small:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must not globally sort:\n$p")
    val forced = graft.ops.Workload.tpchQ18(spark, sfDir,
      broadcastMaxQual = 0L)
    val pf = forced.queryExecution.executedPlan.toString
    assert(pf.contains("SortMergeJoin"),
      s"above-threshold keylist must shuffle-merge on orderkey:\n$pf")
    val bcasts = pf.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(bcasts.forall(_.contains("c_custkey")),
      s"forced arm: only the customer dim may broadcast:\n${bcasts.mkString("\n")}")
    // both arms produce the same rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(forced) == rows(
      graft.SparkEntry.queries("q_tpch_q18")(spark, sfDir)),
      "q18 dispatch arms diverged")
  }

  test("q_dedup_embedding_quantized ships packed codes, never vectors, through the candidate stage") {
    val p = plan("q_dedup_embedding_quantized")
    // stage 1 scores with the codegen'd integer code dot; stage 2
    // verifies survivors with the exact double dot
    assert(p.contains("code_dot"),
      s"candidate scoring must be the native integer code dot:\n$p")
    assert(p.contains("dot_product"),
      s"survivors must be verified by the exact cosine:\n$p")
    // the candidate side reads the packed-code cache (cb + 4 scalars) —
    // if the f64 vector column `v` ever joins that projection, the cell
    // join ships 8× the bytes at 100 TB
    // the candidate-side cache scans carry `cell` (the probed projection);
    // the quant_vecs scans nested in that cache's one-time BUILD lineage
    // legitimately read `v` (ivf_cells(v)) and are excluded by the filter
    val candScans = p.linesIterator
      .filter(l => l.contains("InMemoryTableScan") && l.contains("cb#") &&
        l.contains("cell#")).toSeq
    assert(candScans.nonEmpty,
      s"candidate side should read the packed-code cache:\n$p")
    assert(candScans.forall(!_.contains("v#")),
      s"full vectors leaked into the candidate cache scan:\n${candScans.mkString("\n")}")
    // the survivor distinct shuffles id pairs + one double, no payloads
    val distincts = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("keys=[vec_a")).toSeq
    assert(distincts.nonEmpty, s"expected an id-pair distinct:\n$p")
    assert(distincts.forall(l => !l.contains("cb#") && !l.contains("v#")),
      s"payloads leaked into the survivor distinct:\n${distincts.mkString("\n")}")
  }

  test("q_tpch_q5 rides the local-supplier predicate as a join key, dims collapse before facts") {
    val p = plan("q_tpch_q5")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the region scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the orders scan:\n$p")
    // the local-supplier equality c_nationkey = s_nationkey must be a
    // second equi-key of the supplier join — a post-join Filter would
    // materialize every (lineitem, non-local supplier) pair first
    val suppJoin = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("s_suppkey")).toSeq
    assert(suppJoin.nonEmpty && suppJoin.forall(_.contains("s_nationkey")),
      s"nationkey must ride the supplier join as an equi-key:\n${suppJoin.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no non-equi join anywhere in Q5:\n$p")
    assert(p.contains("partial_sum"), s"revenue agg must combine map-side:\n$p")
  }

  test("q_tpch_q19 keeps the equi-join under the cross-table OR — never nested-loop") {
    val p = plan("q_tpch_q19")
    // the disjunction mixes part and lineitem columns in every arm; the
    // pin is that Catalyst still extracts l_partkey = p_partkey as the
    // hash-join key and carries the OR as the join's residual condition
    // — a BroadcastNestedLoopJoin/CartesianProduct here is quadratic
    // death at 100 TB
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the partkey equi-join must survive the OR condition:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"the OR must ride the equi-join as a residual, not force a loop join:\n$p")
    assert(p.contains("partial_sum"), s"revenue agg must combine map-side:\n$p")
  }

  test("q_profile_outliers joins moments back — no window over the corpus") {
    val p = plan("q_profile_outliers")
    assert(!p.contains("Window"),
      s"z-scores must come from the stats join-back, not a window:\n$p")
    assert(p.contains("partial_sum"),
      s"the moment aggregate must combine map-side:\n$p")
  }

  test("q_sample_quota ranks in salted slices first — no group-sized window partition") {
    val p = plan("q_sample_quota")
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.size >= 2, s"expected the two-level salted rank:\n$p")
    assert(wins.exists(_.contains("__salt")),
      s"level-1 rank must partition by (source, __salt):\n$p")
  }

  test("q_text_bigrams counts map-side; only the vocab-sized count frame is ranked") {
    val p = plan("q_text_bigrams")
    assert(p.contains("partial_count"),
      s"bigram counting must combine map-side before the shuffle:\n$p")
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty && wins.exists(_.contains("__salt")),
      s"ranking must run as the salted two-level top-N:\n$p")
    // the explode output must never reach a Window: every window sits
    // above the (lang, bigram) aggregate, not above Generate
    val gen = p.linesIterator.zipWithIndex.collectFirst {
      case (l, i) if l.contains("Generate explode") => i }
    val win = p.linesIterator.zipWithIndex.collectFirst {
      case (l, i) if l.contains("Window") => i }
    assert(gen.nonEmpty, s"bigram explode missing from the plan:\n$p")
    assert(win.nonEmpty && win.get < gen.get,
      s"a Window must only consume the aggregated frame (plan reads top-down):\n$p")
  }

  test("q_embedding_centroids combines map-side and never explodes the corpus") {
    val p = plan("q_embedding_centroids")
    // the typed VectorSum aggregator must plan as partial+final
    // ObjectHashAggregate — one dim-length buffer per (executor, label)
    // crosses the shuffle, the property that makes the one-pass centroid
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    // the element-wise OUTPUT posexplode (driver-sortability convention)
    // runs on the |labels| aggregated rows and is fine; what must never
    // happen is a Generate feeding the aggregate, i.e. a ×Dim corpus
    // explosion before the shuffle. Plan prints top-down, so every
    // Generate line must sit ABOVE the first (final) aggregate line.
    val lines = p.linesIterator.toIndexedSeq
    val firstAgg = lines.indexWhere(_.contains("ObjectHashAggregate"))
    lines.zipWithIndex.filter(_._1.contains("Generate")).foreach { case (_, i) =>
      assert(i < firstAgg,
        s"centroids must not posexplode the corpus ×Dim before the shuffle:\n$p")
    }
  }

  test("q_embedding_assign broadcasts one centroid row; the corpus never inflates or reshuffles") {
    val p = plan("q_embedding_assign")
    // the K centroids collapse to a single array row broadcast to the
    // scan — a nested-loop join over a 1-row build side is the intended
    // shape (there is no equi-key; the fold does the argmin per row)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid array must broadcast to the corpus scan:\n$p")
    assert(!p.contains("Generate"),
      s"assignment must not explode the corpus ×K:\n$p")
    // no aggregation downstream of the join: the corpus is assigned in
    // one streaming pass, never re-grouped (the only aggregates are the
    // centroid computation on the build side)
    val joinLine = p.linesIterator.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    val aggAbove = p.linesIterator.take(joinLine)
      .exists(l => l.contains("Aggregate") && !l.contains("Sort"))
    assert(!aggAbove, s"no aggregate may consume the joined corpus:\n$p")
  }

  test("q_tpch_q10 broadcasts nation at any SF and aggregates partially") {
    val p = plan("q_tpch_q10")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the orders scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation join must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"revenue agg must combine map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p")
  }

  test("no unpartitioned window in ANY key consumes a corpus-sized input") {
    // the deliberate unpartitioned windows (token-budget bucket offsets,
    // epoch carries) are safe because their inputs are aggregate
    // summaries — this sweep turns that comment into a contract: every
    // WindowExec with an empty partitionSpec, in every keyed plan, must
    // have an aggregate (or a limit) between it and the source. This is
    // a STRUCTURAL heuristic, not a cardinality proof: an aggregate
    // grouped on a corpus-sized key (e.g. per-(doc, token)) would still
    // pass — reviewers must check the grouping grain of any new
    // unpartitioned window; what the sweep catches outright is the worst
    // class, a raw scan/join feeding a global window.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case other => other.children
    }
    def collectBare(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Seq.empty
      }
      here ++ children(p).flatMap(collectBare)
    }
    def summarized(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case other => children(other).exists(summarized)
    }
    val found = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { key =>
      val df = graft.SparkEntry.queries(key)(spark, sfDir)
      collectBare(df.queryExecution.executedPlan).map(w => key -> w)
    }
    // the collector itself must work: the deliberate summary window
    // (token-budget bucket offsets) is known to be unpartitioned
    assert(found.exists(_._1 == "q_select_token_budget"),
      s"sweep failed to find the known summary window; found: ${found.map(_._1).distinct}")
    val offenders = found.collect {
      case (key, w) if !summarized(w.child) =>
        s"$key: ${w.nodeName} over:\n${w.child}"
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over non-summary inputs:\n${offenders.mkString("\n")}")
  }

  test("q_tpch_q14 pushes the month filter, joins the slim dim, sums map-side") {
    val p = plan("q_tpch_q14")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the month window must reach the lineitem scan:\n$p")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_type:string>"),
      s"part must carry only (p_partkey, p_type) into the join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the dim side should broadcast at bench scale:\n$p")
    assert(p.contains("partial_sum"),
      s"both decimal sums must combine map-side:\n$p")
    assert(!p.contains("Window"),
      s"Q14 is join + conditional agg — a window is a wrong plan:\n$p")
  }

  test("q_profile_histogram is one pruned-scan hash-agg pass, bins combine map-side") {
    val p = plan("q_profile_histogram")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"the profiler must read exactly the profiled column:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"bin stats must combine map-side (shuffle carries bins, not rows):\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"a histogram is one agg pass — any join/window is a wrong plan:\n$p")
  }

  test("q_profile_stats is one global agg pass — pruned scan, one-row shuffle") {
    val p = plan("q_profile_stats")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double," +
      "l_extendedprice:double,l_discount:double>"),
      s"the profiler must read exactly the profiled columns:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"all per-column aggregates must combine map-side:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"a global agg shuffles ONE row to a single partition, never by key:\n$p")
    assert(!p.contains("Join"),
      s"one scan, one agg — a join is a wrong plan:\n$p")
  }

  test("q_events_funnel shuffles only on user_id, step filters reach the scans") {
    val p = plan("q_events_funnel")
    assert(p.contains("EqualTo(event_type,view)"),
      s"each step's type filter must reach its parquet scan:\n$p")
    assert(!p.contains("Window"),
      s"the funnel is key-local aggs + joins, never a corpus window:\n$p")
    val hashParts = "hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(hashParts.subsetOf(Set("user_id")),
      s"every funnel shuffle must key on user_id, got $hashParts:\n$p")
  }

  test("q_embedding_project is a row-local map — no join, no hash shuffle") {
    val p = plan("q_embedding_project")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("hashpartitioning"),
      s"the projection is per-row arithmetic; only the output sort may " +
        s"exchange:\n$p")
  }

  test("q_tpch_q4 runs the EXISTS as a left semi join with the date window pushed") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"),
      s"the EXISTS must be a semi join (bounded by orders, not lineitem multiplicity):\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"the 3-month window must reach the orders scan:\n$p")
  }

  test("q_tpch_q7 broadcasts both nation roles and pushes the ship window") {
    val p = plan("q_tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier/customer nation dims must both broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the two-year window must reach the lineitem scan:\n$p")
    assert(p.contains("partial_sum"), s"map-side combine missing:\n$p")
  }

  test("q_tpch_q8 pushes the part-type and region cuts into dims, one two-sum agg pass") {
    val p = plan("q_tpch_q8")
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      s"the type filter must reach the part scan:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"the region filter must reach the region scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"the order window must reach the orders scan:\n$p")
    // numerator and denominator in ONE aggregate — a second scan of the
    // joined frame would double the fact work
    assert("HashAggregate".r.findAllIn(p).size <= 4,
      s"both sums must come from one partial+final agg pass:\n$p")
  }

  test("q_tpch_q13 keeps the outer join outer and counts without the manufactured NULLs") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"),
      s"the priority cut must live in the join condition, not turn the join inner:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority,1-URGENT))]")
      || p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"the priority cut must still push to the orders scan (join-side filter):\n$p")
  }

  test("q_unpivot plans as a row-local Expand over a pruned scan") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"),
      s"unpivot must be the Expand operator (row-local ×4), not a self-union of scans:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double>"),
      s"only the id + 4 measure columns may be read:\n$p")
  }

  test("q_upsert runs ONE full-outer join and no more") {
    val p = plan("q_upsert")
    assert(p.contains("FullOuter"),
      s"the merge must be a single full-outer join:\n$p")
    assert("Join".r.findAllIn(p).size <= 2, // the join node + its string echo
      s"upsert must not add joins beyond the one merge join:\n$p")
  }

  test("q_audit_integrity is three anti joins, each with a pruned one-column scan") {
    val p = plan("q_audit_integrity")
    assert("LeftAnti".r.findAllIn(p).size == 3,
      s"each check must be one left anti join:\n$p")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"),
      s"the orders side of check 1 must read exactly its key column:\n$p")
  }

  test("q_tpch_q15 pushes the 3-month window into both view scans, ties by exact decimal") {
    val p = plan("q_tpch_q15")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the revenue window must reach the lineitem scan(s):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row max and the supplier dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in Q15 is big enough to sort-merge at any scale's dim side:\n$p")
  }

  test("q_tpch_q22 runs the NOT EXISTS as a left anti join with the priority cut pushed") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must plan as an anti join, not a subquery rescan:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the priority cut must reach the orders scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row average must broadcast to the customer scan:\n$p")
  }

  test("q_tpch_q12 pushes the ship-year filter and partially aggregates the CASE sums") {
    val p = plan("q_tpch_q12")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"year window must reach the lineitem scan:\n$p")
    assert(p.contains("partial_sum"), s"map-side combine missing:\n$p")
  }

  test("q_dedup_segments never runs a corpus-wide window and never forces the dup-list broadcast") {
    val p = plan("q_dedup_segments")
    assert(!p.contains("Window"),
      s"segment scrub is aggs + joins only — a window would serialize a doc or the corpus:\n$p")
    // the duplicated-segment list is corpus-dependent: the plan may
    // broadcast it when the PLANNER sizes it small, but the operator must
    // not force it (an adversarial corpus makes it |segments|/minRepeat)
    assert(!p.contains("broadcast(true)"), // hint marker when forced
      s"dup-list join must be left to size-based planning:\n$p")
  }

  test("q_graph_pagerank: cached graph inputs, broadcast rank vector, no edge reshuffle") {
    val p = plan("q_graph_pagerank")
    // the one-time CACHE BUILD plans print under their InMemoryRelation
    // nodes and may legitimately sort-merge; the iteration-loop contract
    // applies to the RUNTIME plan only, so drop each build subtree
    // (every line indented deeper than its InMemoryRelation header)
    val runtime = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var cut = -1 // indentation of the InMemoryRelation being skipped
      p.linesIterator.foreach { l =>
        val indent = l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
        if (cut >= 0 && indent > cut) () // inside a build subtree
        else if (l.contains("InMemoryRelation")) cut = indent
        else { cut = -1; out += l }
      }
      out.mkString("\n")
    }
    // test-scale |V| takes the small-graph path: every iteration joins
    // the cached edge list against a BROADCAST rank/contribution vector —
    // the |E| frame must never ride a shuffle join
    assert(runtime.contains("BroadcastHashJoin"),
      s"rank vector must broadcast to the cached edge scan:\n$p")
    assert(!runtime.contains("SortMergeJoin"),
      s"no |E|-reshuffling sort-merge join inside the iteration loop:\n$p")
    // the graph artifacts are eager localCheckpoints (LogicalRDD), so
    // cached reads print as "Scan ExistingRDD"
    val scans = "Scan ExistingRDD".r.findAllIn(runtime).size
    assert(scans >= 4, // 3 iterations × (fused edge scan + deg seed scan)
      s"iterations must read the registry-checkpointed graph/degrees, not rebuild:\n$p")
    assert(!runtime.contains("Window"), s"PageRank is joins + aggs only:\n$p")
  }

  test("q_tpch_q17 broadcasts the brand dim and the per-part caps; lineitem never sorts") {
    val p = plan("q_tpch_q17")
    assert(p.contains("EqualTo(p_brand,Brand#23)"),
      s"the brand cut must push into the part scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both the brand dim and the caps table must broadcast onto lineitem:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in Q17 justifies sorting the fact side:\n$p")
  }

  test("q_basket_pairs explodes pairs row-locally: two exchanges, no self-join") {
    val p = plan("q_basket_pairs")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
      s"items scan must read exactly the two basket columns:\n$p")
    assert(!p.contains("Join"),
      s"pairs are basket-local — a self-join re-shuffles the corpus for nothing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"one basket shuffle + one pair-count shuffle is the whole exchange budget:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must map-side combine before the pair shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 must be a bounded top-k, never a global sort:\n$p")
  }

  test("guarded MERGE keeps one key shuffle per side: the dup-count window rides the join's partitioning") {
    val p = plan("q_sql_merge_gate_literal")
    assert(p.contains("FullOuter"),
      s"the generalized merge must stay a single full-outer key join:\n$p")
    assert(p.contains("Window"),
      s"the nondeterministic-merge guard (count window) must be present:\n$p")
    // corpus side + batch side — the guard's window partitions by the
    // SAME keys the join shuffles on, so it must NOT add an exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"the dup-count window may not introduce a third key shuffle:\n$p")
  }

  test("q_select_dsir broadcasts the vocabulary and never sorts the corpus early") {
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    // r17: the pipeline stages ride registry checkpoints (the shared
    // doc-term-freq artifact + the scored frame), so the pins split by
    // stage — the final query's plan is a scan + two broadcasts and
    // would hide the scan/vocabulary contracts behind LogicalRDDs.
    val tfPlan = Text.docTermFreqBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(tfPlan.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      s"the tf scan must prune to (doc_id, text, lang):\n$tfPlan")
    assert(tfPlan.contains("partial_count"),
      s"the tf aggregation must map-side combine:\n$tfPlan")
    val sp = Text.dsirScoredBuild(spark, sfDir)._1
      .queryExecution.executedPlan.toString
    assert(sp.contains("lang#") && sp.contains("= en"),
      s"the target slice must filter lang = en before its vocab agg:\n$sp")
    assert("BroadcastHashJoin".r.findAllIn(sp).size >= 2,
      s"raw/target frequency tables are vocab-sized — they must broadcast:\n$sp")
    assert(!sp.contains("Exchange rangepartitioning"),
      s"the scored pipeline must not sort the corpus:\n$sp")
    val p = plan("q_select_dsir")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      s"only the final presentation orderBy may range-shuffle:\n$p")
  }

  test("q_text_logprob_buckets derives both cuts from broadcast scalars, no global window") {
    val p = plan("q_text_logprob_buckets")
    assert(!p.contains("Window"),
      s"bucket cuts are broadcast scalars, never a corpus-wide window:\n$p")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).nonEmpty,
      s"the mean/low cuts are 1-row broadcasts onto the scored frame:\n$p")
  }

  test("q_snapshot_diff is ONE full-outer join, no window, no extra shuffle") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"),
      s"the diff must be a single full-outer key join:\n$p")
    assert(!p.contains("Window"),
      s"row classification is per-row expressions, never a window:\n$p")
  }

  test("q_sample_weighted is a scalar broadcast onto one narrow scan") {
    val p = plan("q_sample_weighted")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"only the key and weight columns may be read:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"admission is per-row + a 1-row broadcast; the corpus must not shuffle:\n$p")
  }

  test("q_join_bloom probes the bloom on the fact side BELOW the join") {
    val p = plan("q_join_bloom")
    assert(p.contains("might_contain"),
      s"the explicit bloom probe must survive into the physical plan:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the creation-side cut must push into the orders scan:\n$p")
    // the probe must filter lineitem BEFORE the join, not after
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain")
    assert(probeIdx >= 0 && joinIdx >= 0 && probeIdx > joinIdx,
      s"(plan prints top-down: a pre-join filter appears under/after the join node)\n$p")
  }

  test("q_agg_incremental pushes both partition cuts and merges partials map-side") {
    val p = plan("q_agg_incremental")
    assert(p.contains("LessThan(l_shipdate") && p.contains("GreaterThanOrEqual(l_shipdate"),
      s"both the historical and delta cuts must reach their scans:\n$p")
    assert(p.contains("Union"), s"the merge is a union + re-agg:\n$p")
    assert(p.contains("partial_sum"),
      s"both partials and the merge must combine map-side:\n$p")
  }

  test("q_timeseries_gapfill windows per user and broadcasts the calendar") {
    val p = plan("q_timeseries_gapfill")
    assert(p.contains("windowspecdefinition(user_id"),
      s"the forward fill must partition by user_id, never a global window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the user×calendar grid must broadcast the bounded day list:\n$p")
  }

  test("q_bucket_join consumes the bucket layout: merge join with no exchange below it") {
    val df = SparkEntry.queries("q_bucket_join")(spark, sfDir)
    df.collect() // AQE: judge the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Bucketed: true"),
      s"both scans must report the bucket layout:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"the fact-fact path is the point — the merge hint must hold:\n$p")
    val belowJoin = p.split("SortMergeJoin").last
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"the bucketed join must not re-shuffle either side:\n$p")
  }

  test("q_table_checksum is one agg pass with a map-side-combined decimal sum") {
    val p = plan("q_table_checksum")
    assert(p.contains("partial_sum"),
      s"the checksum sum must combine map-side (order-independence is the point):\n$p")
    assert(!p.contains("Join"), s"a checksum never needs a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"one slice shuffle is the whole exchange budget:\n$p")
  }

  test("q_crosstab_chi2 derives marginals from the CACHED cell table, fact join runs once") {
    val p = plan("q_crosstab_chi2")
    // (the raw plan string prints the cached relation's BUILD plan inside
    // every InMemoryTableScan, so counting "Scan parquet" occurrences
    // would see phantom re-scans — count the cache READS instead)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      s"cells + three marginals must all read the registry-persisted cell table:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"marginal attachment must be broadcast joins on the cell-sized frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing after the cached cells is big enough to sort-merge:\n$p")
  }

  test("q_tpch_q2 aggregates the catalog once, best-cost joins back broadcast") {
    val p = plan("q_tpch_q2")
    assert(p.contains("LessThanOrEqual(p_size,15)"),
      s"the part size cut must reach the part scan:\n$p")
    // one fact-sized exchange: the (partkey, suppkey) catalog min-agg;
    // everything downstream (best-cost, dims) attaches via broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"dims and the per-part best-cost table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing after the catalog agg is big enough to sort-merge:\n$p")
  }

  test("q_tpch_q9 broadcasts all dims; orders⋈lineitem is the one fact shuffle") {
    val p = plan("q_tpch_q9")
    assert(p.contains("StringContains(p_name,gear)"),
      s"the LIKE cut must reach the part scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"part/supplier/nation must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"map-side combine missing:\n$p")
  }

  test("q_tpch_q11 builds the value table in one partkey shuffle, total joins back broadcast") {
    val p = plan("q_tpch_q11")
    assert(p.contains("EqualTo(n_name,NATION_7)"),
      s"the nation cut must reach the nation scan:\n$p")
    // the value table is partkey-grain; the 1-row threshold must attach
    // as a broadcast nested loop (no key), never re-shuffling the values
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"only the value-table agg (+AQE artifacts) may hash-exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the scalar threshold must broadcast:\n$p")
  }

  test("q_tpch_q16 pushes the family cuts and runs the exclusion as a broadcast anti join") {
    val p = plan("q_tpch_q16")
    assert(p.contains("Not(EqualTo(p_type,PROMO))"),
      s"the type exclusion must reach the part scan:\n$p")
    assert(p.contains("In(p_size"), s"the size IN-list must push:\n$p")
    assert(p.contains("LeftAnti"),
      s"the arrears exclusion must be an anti join, not a filter-after-join:\n$p")
    assert(p.contains("LessThan(s_acctbal,0.0)"),
      s"the arrears cut must reach the supplier scan:\n$p")
  }

  test("q_tpch_q20 pre-aggregates movers before the semi join against the roster") {
    val p = plan("q_tpch_q20")
    assert(p.contains("LeftSemi"),
      s"the nested IN must plan as a semi join:\n$p")
    assert(p.contains("StringStartsWith(p_name,small)"),
      s"the part LIKE 'small%' cut must push as a prefix filter:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the 1996 window must reach the lineitem scan:\n$p")
  }

  test("q_tpch_q21 reduces to order-grain before any join-back") {
    val p = plan("q_tpch_q21")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"the finished-order cut must reach the orders scan:\n$p")
    assert(p.contains("partial_max"),
      s"the per-(order,supplier) max must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the supplier dim must broadcast:\n$p")
  }

  test("q_events_transitions runs one user-keyed window, no corpus-wide sort") {
    val p = plan("q_events_transitions")
    assert(p.contains("Window") && p.contains("user_id"),
      s"the lag must be a user-partitioned window:\n$p")
    // the only range exchange allowed is the output sort of the tiny
    // (|types|²) transition frame — never a global sort of raw events
    assert(!"Exchange rangepartitioning\\((?!from_type)".r.findFirstIn(p).isDefined,
      s"only the aggregated transition frame may range-exchange:\n$p")
  }

  test("q_events_seasonal_outliers broadcasts the 120-row profile back onto the fact") {
    val p = plan("q_events_seasonal_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"the (type, hour) profile must broadcast, never shuffle the fact:\n$p")
    assert(p.contains("partial_sum"),
      s"the moment sums must combine map-side:\n$p")
  }

  test("q_join_skew_salted: the salted join is a broadcast, fact side never shuffles for it") {
    val p = plan("q_join_skew_salted")
    assert(p.contains("BroadcastHashJoin"), p)
    // the fact may hash-exchange only for the post-join nation agg —
    // never on the (custkey, salt) join key itself
    assert(!p.contains("Exchange hashpartitioning(o_custkey"),
      s"salting must not add a fact shuffle keyed on the join key:\n$p")
    assert(p.contains("xxhash64"),
      s"the salt must be the deterministic xxhash64 tag:\n$p")
  }

  test("q_sketch_countmin builds the 256-cell sketch in one map-side-combined pass") {
    val p = plan("q_sketch_countmin")
    assert(p.contains("Generate explode"),
      s"the d-row fan-out must be a row-local Generate:\n$p")
    assert(p.contains("partial_count"),
      s"sketch counters must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the fixed-size sketch must broadcast onto the probes:\n$p")
  }

  test("q_graph_triangles reuses the cached edge set and never cross-joins") {
    val p = plan("q_graph_triangles")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"degrees, orientation, and the closing join must all read the " +
        s"registry-checkpointed edge table:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the census must not reach back to the warehouse tables:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the wedge and closing joins are equi-joins — no product:\n$p")
  }

  test("q_sample_reservoir ranks via the salted two-level window") {
    val p = plan("q_sample_reservoir")
    assert("Window".r.findAllIn(p).size >= 2,
      s"bottom-k-by-hash must run the two-level salted rank, not one " +
        s"window task per language:\n$p")
  }

  test("q_agg_mode: counts-then-argmax, never a window") {
    val p = plan("q_agg_mode")
    assert(p.contains("partial_count"),
      s"the (group, value) counts must combine map-side:\n$p")
    assert(!p.contains("Window"),
      s"the deterministic mode is two aggs over the counts frame, " +
        s"no window:\n$p")
  }

  test("q_window_navigation: one user-keyed exchange feeds the frames") {
    val p = plan("q_window_navigation")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"all navigation frames must share one user_id partitioning:\n$p")
  }

  test("q_join_asof_nearest: backward + forward compose without any product join") {
    val p = plan("q_join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the nearest pick is a click-grain equi-join over the two " +
        s"as-of results:\n$p")
  }

  test("q_dsv2_agg_pushdown answers entirely from footer metadata") {
    val p = plan("q_dsv2_agg_pushdown")
    assert(p.contains("METADATA-ONLY"),
      s"count/min/max must come from the MetadataAggScan, not a data " +
        s"scan:\n$p")
  }

  test("q_join_null_safe plans <=> as a hash join key, not a nested loop") {
    val p = plan("q_join_null_safe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"EqualNullSafe must stay an equi-join key:\n$p")
  }

  test("q_window_time_range runs one user-keyed window with a RANGE frame") {
    val p = plan("q_window_time_range")
    assert(p.contains("RangeFrame, -3600000000"),
      s"the 1h frame must be a value-based RANGE frame:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"one user_id exchange serves the window:\n$p")
  }

  test("q_profile_equidepth bins via broadcast cutpoints, never a global sort of the fact") {
    val p = plan("q_profile_equidepth")
    // histQuantiles' full-driver arm replays the ranks over one bounded
    // collect of the value-grain histogram, so the 1-row cutpoints come
    // back as a local relation; no window runs over raw fact rows
    assert(p.contains("LocalTableScan"),
      s"the cutpoints must be a driver-built local relation:\n$p")
    // the only parquet scans belong to the final binning pass — pruned
    // to the value column; a window over the raw fact would need a wider
    // scan than this
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty &&
      scans.forall(_.contains("ReadSchema: struct<o_totalprice:double>")),
      s"every fact scan must be the pruned binning pass:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row cutpoints must broadcast back onto the fact:\n$p")
  }

  test("histQuantiles' distributed arm reads the materialized histogram") {
    // histDriverMaxRows = 0 forces the distributed rank/bucket machinery:
    // the value-grain histogram is materialized with a lineage cut (the
    // corpus pass runs ONCE), so its plan reads a concrete RDD scan and
    // no fact scan at all
    val orders = graft.warehouse.Tables.table(spark, sfDir, "orders")
      .select("o_totalprice")
    val named = Seq(0.25 -> "c1", 0.5 -> "c2", 0.75 -> "c3")
    val cuts = Relational.histQuantiles(orders, "o_totalprice", Nil, named,
      histDriverMaxRows = 0)
    val p = cuts.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"the value histogram must be a materialized (checkpointed) scan:\n$p")
    assert(!p.contains("FileScan parquet"),
      s"the cutpoint plan must not rescan the fact:\n$p")
    assertSameRows(cuts,
      Relational.histQuantiles(orders, "o_totalprice", Nil, named))
  }

  test("q_agg_argmax is one mergeable struct-max agg, not a per-group window") {
    val p = plan("q_agg_argmax")
    assert(p.contains("partial_max"),
      s"the struct argmax must combine map-side:\n$p")
    assert(!p.contains("Window"),
      s"the mergeable agg replaces the oracle's row_number window:\n$p")
  }

  test("q_join_incremental: the split predicates push into all eight scans") {
    val p = plan("q_join_incremental")
    // four partial joins = 4 orders scans + 4 lineitem scans, each with
    // its hash-split predicate pushed to parquet (the whole point: a
    // delta term scans only its slice)
    assert(!p.contains("CartesianProduct"), p)
    assert("PushedFilters: \\[[^\\]]*o_orderkey".r.findAllIn(p).size +
      "PushedFilters: \\[[^\\]]*l_orderkey".r.findAllIn(p).size >= 2 ||
      p.contains("%"), s"split predicates should reach the scans:\n$p")
  }

  test("q_graph_clustering and q_graph_edge_jaccard reuse the cached graph artifacts") {
    for (key <- Seq("q_graph_clustering", "q_graph_edge_jaccard")) {
      val p = plan(key)
      // the registry artifacts are eager localCheckpoints (LogicalRDD
      // scans) so iterative rounds re-analyze a one-node plan, not the
      // artifact's build tree — the plan must read those materialized
      // scans, never rebuild the graph from parquet
      assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
        s"$key must derive from the registry-checkpointed " +
          s"edge/orientation/triangle artifacts, not rebuild the graph:\n$p")
      assert(!p.contains("Scan parquet"),
        s"$key must not reach back to the warehouse tables:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$key: everything is an equi-join over cached frames:\n$p")
    }
  }

  test("q_graph_kcore peels via semi joins over the cached edges, lineage cut per round") {
    val p = plan("q_graph_kcore")
    assert(p.contains("LeftSemi"),
      s"induced-subgraph restriction must be semi joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the checkpoint cut means the FINAL plan starts from a materialized
    // survivor set, not a 4-round-deep join tree
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"per-round localCheckpoint must cut the unrolled lineage:\n$p")
  }

  test("q_trend_movers reduces to rollup grain before the lag window") {
    val p = plan("q_trend_movers")
    assert(p.contains("partial_sum"),
      s"the (supplier, year) rollup must combine map-side:\n$p")
    // the window must sit ABOVE the aggregate in the plan (printed
    // top-down: Window appears before HashAggregate's final instance)
    assert(p.indexOf("Window") < p.indexOf("partial_sum"),
      s"the lag must run over the rollup, never raw lineitems:\n$p")
  }

  test("q_dsv2_limit_pushdown truncates the scan to a covering batch prefix") {
    val p = plan("q_dsv2_limit_pushdown")
    assert(p.contains("limit=120"),
      s"the scan description must show the pushed limit:\n$p")
  }

  test("the triangle-family degree attach is join-strategy-adaptive, never an unconditional |V| broadcast") {
    // the degree table is NODE-grain — billions of rows on a 100 TB
    // graph — so orientEdges (feeding q_graph_triangles/_clustering)
    // and the edge-jaccard attaches must route it through the measured
    // BroadcastMaxNodes gate: broadcast below, shuffle join above.
    // autoBroadcastJoinThreshold is disabled so the plan reflects the
    // dispatch's HINT, not the planner's own small-table opinion.
    import spark.implicits._
    val edges = (0L until 40).flatMap(a => Seq((a, (a + 1) % 40), (a, (a + 3) % 40)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .toDF("a", "b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smallP = Graph.orientEdges(edges)
        .queryExecution.executedPlan.toString
      assert(smallP.contains("BroadcastHashJoin"),
        s"below the gate the degree table must broadcast:\n$smallP")
      val largeP = Graph.orientEdges(edges, broadcastMaxNodes = 0L)
        .queryExecution.executedPlan.toString
      assert(!largeP.contains("BroadcastHashJoin"),
        s"above the gate the degree attach must be a shuffle join " +
          s"(an unconditional broadcast OOMs at 100 TB):\n$largeP")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("no exact Percentile aggregate in any quantile key's plan") {
    // Spark's Percentile buffers the group's whole value column in ONE
    // in-memory agg buffer (OpenHashMap) — executor OOM at 100 TB. All
    // quantile keys go through Relational.histQuantiles (value-grain
    // histogram + streaming-frame rank scan) or approx_percentile; the
    // exact aggregate must never reappear in these plans.
    val quantileKeys = Seq("q_agg_percentile", "q_agg_mad",
      "q_agg_trimmed_mean", "q_agg_approx_percentile",
      "q_profile_equidepth", "q_events_conversion_lag")
    for (k <- quantileKeys) {
      val p = plan(k)
      val exact = "(?<!approx_)percentile\\(".r.findFirstIn(p)
      assert(exact.isEmpty,
        s"$k plans the unbounded exact Percentile aggregate:\n$p")
    }
  }

  test("q_text_entropy collapses per-char rows through a partial agg before the shuffle") {
    val p = plan("q_text_entropy")
    // the per-char explode is the only corpus-sized frame; it must
    // combine map-side on (doc_id, ch) so the exchange carries distinct
    // chars per doc, never raw exploded rows
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"the scan must prune to (doc_id, text):\n$p")
  }

  test("q_sample_temperature never shuffles the corpus") {
    val p = plan("q_sample_temperature")
    // sources-sized weight frame + 1-row total broadcast onto a narrow
    // scan; the admission is a per-row predicate — any hashpartitioning
    // of the docs scan would mean the filter got planned as a shuffle
    val docScanSide = p.split("BroadcastExchange").head
    assert(!docScanSide.contains("Exchange hashpartitioning(doc_id"),
      s"the admission filter must not shuffle the corpus:\n$p")
    assert(p.contains("BroadcastExchange"), s"weights must broadcast:\n$p")
  }

  test("q_sql_merge_partial keeps the single full-outer key shuffle of q_upsert") {
    val p = plan("q_sql_merge_partial")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"the merge must be one key-shuffled full-outer join:\n$p")
    assert(p.contains("FullOuter"), s"full-outer join missing:\n$p")
  }

  test("q_events_sessionize runs lag, cumsum, and the session agg on ONE user shuffle") {
    val p = plan("q_events_sessionize")
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L]+)"
      .r.findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toList
    assert(exchanges == List("user_id"),
      s"expected exactly one user_id exchange, got $exchanges:\n$p")
  }

  test("q_timeseries_resample shares one (type, bar) shuffle across both windows and the agg") {
    val p = plan("q_timeseries_resample")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n:\n$p")
  }

  test("q_similarity_range never shuffles the corpus — broadcast queries only") {
    val p = plan("q_similarity_range")
    assert(!p.contains("Exchange hashpartitioning"),
      s"range search must be one broadcast corpus pass:\n$p")
    assert(p.contains("BroadcastExchange"), s"query batch must broadcast:\n$p")
  }

  test("q_scd2_build runs change detection, versioning, and interval close on ONE user shuffle") {
    val p = plan("q_scd2_build")
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L]+)"
      .r.findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toList
    assert(exchanges == List("user_id"),
      s"expected exactly one user_id exchange, got $exchanges:\n$p")
  }

  test("q_privacy_kanon is one map-side-combinable hash agg") {
    val p = plan("q_privacy_kanon")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n:\n$p")
    assert(p.contains("partial_count"), s"partial agg missing:\n$p")
  }

  test("q_timeseries_twap shares one (type, day) shuffle between lead and agg") {
    val p = plan("q_timeseries_twap")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n:\n$p")
  }

  test("q_scd2_lookup reduces to the asof union+window — one user shuffle, no range join") {
    val p = plan("q_scd2_lookup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"point-in-time lookup must not range-join:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L]+)"
      .r.findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toList
    assert(exchanges.distinct == List("user_id"),
      s"expected only user_id exchanges, got $exchanges:\n$p")
  }

  test("q_text_gopher_rules is a pure per-row map: pruned 2-column scan, no hash shuffle") {
    val p = plan("q_text_gopher_rules")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"gopher gate must scan exactly (doc_id, text):\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a per-row rule gate must not shuffle (output range sort only):\n$p")
    assert(!p.contains("Window"), s"no corpus window in a row-local gate:\n$p")
  }

  test("q_similarity_knn_join_hier meets in a hash join on the cell — never nested-loop") {
    val p = plan("q_similarity_knn_join_hier")
    // the two-level assignment is either visible as the codegen'd
    // hier_cells call or already collapsed into the registry's cached
    // relation, depending on suite ordering — both are the designed shape
    assert(p.contains("hier_cells") || p.contains("InMemoryTableScan"),
      s"assignment must run through the codegen expression (or its cache):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"corpus×corpus candidates must meet on the cell key, not a loop join:\n$p")
  }

  test("q_select_semdedup audits with a map-side partial agg, never a corpus loop join") {
    val p = plan("q_select_semdedup")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-source audit must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"label join must be keyed:\n$p")
  }

  test("whole-stage codegen covers the scalar pipelines") {
    // codegen stage ids only appear in the AQE *final* plan — execute first
    // (collect() on THIS df — count() would spawn a separate execution and
    // leave this plan unfinalized)
    val df = SparkEntry.queries("q_case_when")(spark, sfDir)
    df.collect()
    // codegen'd operators print with the "*(id)" prefix in the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"scalar pipeline fell out of codegen:\n$p")
  }
}
