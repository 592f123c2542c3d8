package graft

import SparkTestBase.sf0001

/** Plan-shape assertions (SURVEY §5.4): lock in the §4 claims that
  * Catalyst produces the physical shapes the 100-TB design relies on —
  * broadcast for dim joins, pushed filters at the parquet scan, pruned
  * read schemas, partial+final hash aggregation, and sort+limit fusion.
  *
  * These are the distributed plans, so the spec runs in a session with
  * the small-plan rule excluded; the last test pins the one-partition
  * plan the rule gives the same rows in the engine session.
  */
class PlanShapeSpec extends GraftSuite {
  override lazy val spark: org.apache.spark.sql.SparkSession = distributedPlans

  private def plan(name: String): String =
    q(name, sf0001).queryExecution.executedPlan.toString

  test("under the small-plan rule the pinned rows plan no exchange") {
    val rows = Seq("q_agg_argmax", "q_agg_bitmap", "q_agg_corrmat",
      "q_agg_group", "q_dedup_minhash", "q_filter_pred", "q_graph_triangles",
      "q_join_asof_native", "q_join_broadcast", "q_join_inner",
      "q_join_lateral", "q_join_pit", "q_join_range_native", "q_pipe_chunk",
      "q_pipe_profile", "q_pipe_profile_approx", "q_scan_project",
      "q_sim_ann_lsh", "q_sim_ann_pq", "q_sim_cosine_topk", "q_sim_knn_join",
      "q_sort_multi", "q_topk_global", "q_win_anomaly",
      "q_win_session_native", "q_win_topk_group", "q_text_bpe_serve")
    val shuffled = rows.filter { name =>
      val df = SparkEntry.queries(name)(SparkTestBase.spark, sf0001)
      df.collect()
      df.queryExecution.executedPlan.toString.contains("Exchange")
    }
    ops.Tables.resetDerived(SparkTestBase.spark)
    assert(shuffled.isEmpty, s"planned an exchange under the rule: $shuffled")
  }

  test("q_join_broadcast plans a BroadcastHashJoin (hint honored)") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_filter_pred pushes predicates to the parquet scan") {
    val p = plan("q_filter_pred")
    // node toString elides long filter lists — assert on the visible
    // prefix, which already proves predicates reached the reader
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("IsNotNull(l_quantity)"), "numeric pred must reach the reader")
  }

  test("q_scan_project prunes the read schema to referenced columns") {
    val p = plan("q_scan_project")
    // lineitem has 11 columns; the query touches 6 — the scan must not
    // read the rest (l_tax is the canary).
    assert(!p.contains("l_tax"), "unreferenced column read from parquet")
    assert(p.contains("PushedFilters: ["))
  }

  test("q_scan_dsv2: DSv2 filter pushdown prunes partitions and columns") {
    val p = plan("q_scan_dsv2")
    // The id-range filter keeps exactly slices 2..7 of 16 (step 6250,
    // bounds [12500, 50000)) — the scan description reports it.
    assert(p.contains("partitions=6/16"),
      s"filter bounds must prune input partitions:\n$p")
    assert(p.contains("bounds=[12500,50000)"), s"pushed bounds wrong:\n$p")
    // id is needed by the residual filter, tag+val by the aggregate;
    // pruning is still exercised end-to-end by the reader-factory
    // column dispatch (SourcesSpec covers the narrow projection).
    val rows = q("q_scan_dsv2", sf0001).collect()
    assert(rows.map(_.getLong(1)).sum === 37500L,
      "partition pruning must not drop qualifying rows")
  }

  test("q_scan_dsv2_agg: aggregation is pushed into the source as partials") {
    val p = plan("q_scan_dsv2_agg")
    // The builder must have swapped in the pre-aggregated scan, with
    // the pushed function list and the SAME partition pruning as the
    // row-scan row (exactFilters consumes the bounds, it must not
    // lose them).
    assert(p.contains("SeqAggScan"),
      s"aggregation must be pushed into the source:\n$p")
    assert(p.contains("PushedAggregates=[count,min,max]"),
      s"pushed function list wrong:\n$p")
    assert(p.contains("partitions=6/16") && p.contains("bounds=[12500,50000)"),
      s"consumed filters must still prune partitions:\n$p")
    // Partial contract: a final merge aggregate still runs above the
    // scan (count partials SUM); the result must equal the raw-scan
    // sibling's group counts.
    val agg = q("q_scan_dsv2_agg", sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = q("q_scan_dsv2", sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === raw, "pushed-aggregate counts must equal the row scan's")
  }

  test("under the small-plan rule the DSv2 rows keep their pruning and pushed aggregates in one partition") {
    val one = Seq("q_scan_dsv2", "q_scan_dsv2_agg").map { name =>
      val df = SparkEntry.queries(name)(SparkTestBase.spark, sf0001)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    one.foreach { p =>
      assert(p.contains("partitions=6/16") && p.contains("bounds=[12500,50000)"), p)
      assert(!p.contains("Exchange"), s"planned an exchange under the rule:\n$p")
    }
    assert(one(1).contains("PushedAggregates=[count,min,max]"), one(1))
  }

  test("q_sql_recursive plans a real UnionLoop (recursive CTE), not a hand-unroll") {
    val p = plan("q_sql_recursive")
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE must lower to a UnionLoop iteration:\n$p")
    assert(p.contains("UnionLoopRef"),
      "the recursive self-reference must appear as UnionLoopRef")
    // Six depths exist in the sf0.001 ancestor chain (10 suppliers →
    // ceil(log2(9)) rounds); the row count is one per depth level.
    val rows = q("q_sql_recursive", sf0001).collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to rows.length),
      "depth column must be the contiguous recursion levels")
    // Every (child, ancestor) pair is unique by DAG construction, so
    // level sizes must strictly shrink after the full-population start.
    val sizes = rows.map(_.getLong(1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b },
      s"ancestor-chain level sizes must be non-increasing: ${sizes.toSeq}")
  }

  test("q_pipe_profile profiles every column off ONE scan via Expand") {
    val p = plan("q_pipe_profile")
    assert(p.contains("Expand"), "multi-distinct must plan through Expand")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1, s"single-scan profile, found $scans scans:\n$p")
  }

  test("q_pipe_profile_approx sketches cardinality with NO Expand") {
    // The whole point of the sketch twin: HLL++ partials are plain
    // commutative aggregates, so the exact form's Expand (input ×
    // distinct-column count) must be gone while the scan stays single.
    val p = plan("q_pipe_profile_approx")
    assert(!p.contains("Expand"),
      s"sketch profile must not multiply the input through Expand:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1, s"single-scan profile, found $scans scans:\n$p")
  }

  test("q_agg_corrmat fans out pairs via Generate off ONE scan") {
    val p = plan("q_agg_corrmat")
    assert(p.contains("Generate"), "pair fan-out must be a per-row Generate")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"single-scan corr matrix, found $scans scans:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "pair aggregation must combine map-side (partial+final)")
  }

  test("q_agg_group aggregates partial then final (map-side combine)") {
    val occurrences = "HashAggregate".r.findAllIn(plan("q_agg_group")).size
    assert(occurrences >= 2, s"expected partial+final HashAggregate, saw $occurrences")
  }

  test("q_topk_global fuses sort+limit into TakeOrderedAndProject") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_sort_multi fuses sort+limit into TakeOrderedAndProject") {
    assert(plan("q_sort_multi").contains("TakeOrderedAndProject"))
  }

  test("q_sim_cosine_topk broadcasts the query vector, never shuffles the corpus side") {
    val p = plan("q_sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_dedup_minhash generates candidates via bucket join, not a cartesian product") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"),
      "LSH candidate generation must stay a keyed bucket join")
  }

  test("q_win_topk_group prunes to top-k per group BEFORE the shuffle (WindowGroupLimit)") {
    val p = plan("q_win_topk_group")
    // Spark's InferWindowGroupLimit turns the rn<=k filter into a
    // Partial WindowGroupLimit below the Exchange: each map task ships
    // at most k rows per group instead of the whole group — the
    // difference between shuffling 100 TB and shuffling k·|groups|.
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "partial (pre-shuffle) + final stages expected")
  }

  test("q_sim_knn_join broadcasts the query batch and heap-prunes per query pre-shuffle") {
    val p = plan("q_sim_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch must broadcast, corpus must not shuffle for the join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must prune before the ranking shuffle (map-side heap)")
  }

  test("q_sim_ann_lsh probes buckets via broadcast hash join, codegen'd signatures") {
    val p = plan("q_sim_ann_lsh")
    // Candidate lookup must be an equi-join on the bucket id with the
    // 7-row probe side broadcast — never a pairwise/nested-loop scan.
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucket probing must stay an equi-join")
    // Signature bits run through the native float_dot expression
    // (whole-stage codegen), not interpreted HOFs.
    assert(p.contains("float_dot"), "signatures must use the codegen'd kernel")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_join_inner keys both sides on the equi-join columns") {
    val p = plan("q_join_inner")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("q_agg_bitmap counts distinct without an Expand rewrite") {
    val p = plan("q_agg_bitmap")
    // count(DISTINCT) plans through an Expand; the bitmap path must
    // stay plain partial+final hash aggregation over bitmap buffers.
    assert(!p.contains("Expand"), s"bitmap distinct must not Expand:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q_agg_argmax is a single partial-aggregable max, not a window") {
    val p = plan("q_agg_argmax")
    assert(!p.contains("Window"), "argmax must not plan a window")
    assert(p.contains("partial_max"), s"expected map-side partial max:\n$p")
  }

  test("q_pipe_chunk expands rows with a generator, no shuffle before it") {
    val p = plan("q_pipe_chunk")
    assert(p.contains("Generate"), "sequence explode must plan as Generate")
    // the only Exchange allowed is the final presentation sort
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"chunk expansion must not shuffle:\n$p")
  }

  test("q_join_lateral decorrelates to a ranked-window join, never per-row re-execution") {
    val p = plan("q_join_lateral")
    assert(p.contains("WindowGroupLimit"),
      s"lateral LIMIT must become a pre-shuffle group limit:\n$p")
    assert(p.contains("Join"), "lateral must decorrelate into a join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_sim_ann_pq broadcasts codebook and ADC lookups, never shuffles full vectors for the joins") {
    val p = plan("q_sim_ann_pq")
    assert(p.contains("BroadcastHashJoin"), s"codebook join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("float_dot"), "subspace dots must use the codegen'd kernel")
  }

  test("q_graph_pagerank_part: rank join keyed (never broadcast), edges exchange-free off bucket layout") {
    import spark.implicits._
    // One rankStep as the loop runs it: bucketed edges vs a
    // checkpointed rank table (what each iteration's localCheckpoint
    // hands the next round).
    val edges = ops.GraphOps.tradeEdgesBkt(spark, sf0001)
    val r = edges.select($"src".as("node")).distinct()
      .withColumn("r", org.apache.spark.sql.functions.lit(0.01))
      .localCheckpoint()
    val step = ops.GraphOps.rankStep(edges, r, 100L, broadcastRank = false)
    step.collect() // finalize AQE so the pin is the runtime plan
    val p = step.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ShuffledHashJoin"), s"rank join must stay keyed:\n$p")
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      s"AQE must not flip the hinted rank join back to broadcast:\n$p")
    assert(p.contains("Bucketed: true"),
      s"edges must scan their bucket layout:\n$p")
    // The |E|-sized edges side must plan NO exchange — the only two
    // allowed are the rank side and the dst aggregate.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"only the rank side + dst agg may exchange (saw $exchanges):\n$p")
  }

  test("q_graph_ppr round: broadcast relax join, ONE keyed exchange, " +
      "no shuffle join, no dropped hint (r14 verdict #1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // One pprStep as the loop runs it (the per-round ck hides the
    // body from the declared query's plan — pin the builder).
    val edges = (1 to 50).map(i => (s"n$i", s"n${i % 7}", 3L))
      .toDF("src", "dst", "d").localCheckpoint()
    val seed = Seq("n1").toDF("node").localCheckpoint()
    val r = seed.select($"node", lit(1.0).as("r")).localCheckpoint()
    val (step, warns) = tools.HintAudit.capture {
      val st = ops.GraphOps.pprStep(edges, r, seed)
      st.collect() // finalize AQE so the pin is the runtime plan
      st
    }
    // The r14 defect signature: broadcast(full_outer teleport join)
    // is silently rejected and every round plans a shuffle join of
    // the rank table against one row. The union-teleport shape must
    // plan hint-drop-free.
    assert(warns.isEmpty, s"teleport must not cost a dropped hint: $warns")
    val p = step.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"relax join must broadcast the sparse rank table:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join anywhere in the round:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"only the keyed teleport+contribution aggregate may exchange " +
        s"(saw $exchanges):\n$p")
  }

  test("HintAudit catches a planted broadcast(full_outer) — the gate " +
      "class that finds documented-plan != executed-plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val a = Seq((1, "x")).toDF("k", "va")
    val b = Seq((1, "y")).toDF("k", "vb")
    val (_, warns) = tools.HintAudit.capture {
      a.join(broadcast(b), Seq("k"), "full_outer")
        .queryExecution.executedPlan.toString
    }
    assert(warns.nonEmpty,
      "Spark rejects broadcast on full outer joins; the capture must " +
        "surface the HintErrorLogger WARN (PlanAudit exits 1 on it)")
    assert(warns.exists(_.toLowerCase.contains("not supported")),
      warns.toString)
  }

  test("q_graph_triangles: wedge and closing joins stay keyed equi-joins") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration must never degrade to a pairwise scan")
  }

  test("q_graph_jaccard: pair generation keyed on the shared customer, degree joins broadcast") {
    // The distributed plan: under the size gate the fixture row runs in
    // one partition with keyed joins instead (GateSpec pins that plan).
    resetMemos()
    val p = SparkEntry.queries("q_graph_jaccard")(distributedLoops, sf0001)
      .queryExecution.executedPlan.toString
    resetMemos()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"),
      s"the |S|-sized degree tables must broadcast:\n$p")
  }

  test("q_win_anomaly runs as ONE keyed window pass") {
    val p = plan("q_win_anomaly")
    assert("Window".r.findAllIn(p).size >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"all three frame aggregates must share the user-keyed shuffle:\n$p")
  }

  test("q_join_pit: point-in-time bound stays a residual on the customer equi-join") {
    val p = plan("q_join_pit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the time bound must ride the equi-join as a residual, not force a theta scan")
  }

  test("q_win_session_native lowers to SessionizeExec behind one keyed exchange") {
    val p = plan("q_win_session_native")
    assert(p.contains("Sessionize "),
      s"the custom strategy must plan the native operator:\n$p")
    assert(!p.contains("Window"),
      "the native pass replaces BOTH window functions")
    // ONE exchange total: the exec reports its child's partitioning,
    // and HashPartitioning(user_id) satisfies the rollup's
    // ClusteredDistribution(user_id, session_id) — so the final agg
    // reuses the sessionize shuffle instead of re-shuffling.
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("native sessionize equals the two-window form row for row") {
    val a = q("q_win_session_native", sf0001).collect().map(_.toString)
    val b = q("q_win_sessionid", sf0001).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }

  test("SessionizeExec participates in WholeStageCodegen (integral key)") {
    // Materialize first: under AQE the codegen stages only appear in
    // the FINAL plan. The assertion matters because a codegen compile
    // failure silently falls back to the interpreted path — equality
    // tests would still pass while the fused pipeline is lost.
    val df = q("q_win_session_native", sf0001)
    df.collect() // df.count() would materialize a DIFFERENT QueryExecution
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("Sessionize "))
    assert(line.exists(_.contains("*(")),
      s"Sessionize must carry a codegen-stage star:\n$p")
  }

  test("sessionize codegen and interpreted paths agree (codegen off)") {
    val a = q("q_win_session_native", sf0001).collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val b =
      try q("q_win_session_native", sf0001).collect().map(_.toString)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(a.toSeq === b.toSeq)
  }

  test("AsofJoinExec participates in WholeStageCodegen (integral key)") {
    val df = q("q_join_asof_native", sf0001)
    df.collect() // same AQE final-plan caveat as the Sessionize pin
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("AsofJoin "))
    assert(line.exists(_.contains("*(")),
      s"AsofJoin must carry a codegen-stage star:\n$p")
  }

  test("as-of codegen and interpreted paths agree (codegen off)") {
    val a = q("q_join_asof_native", sf0001).collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val b =
      try q("q_join_asof_native", sf0001).collect().map(_.toString)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(a.toSeq === b.toSeq)
  }

  test("RangeJoinExec participates in WholeStageCodegen (integral key)") {
    val df = q("q_join_range_native", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("RangeJoin "))
    assert(line.exists(_.contains("*(")),
      s"RangeJoin must carry a codegen-stage star:\n$p")
  }

  test("range-join codegen and interpreted paths agree (codegen off)") {
    val a = q("q_join_range_native", sf0001).collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val b =
      try q("q_join_range_native", sf0001).collect().map(_.toString)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(a.toSeq === b.toSeq)
  }

  test("q_join_asof_native lowers to AsofJoin: no window, no union-tag, sort-merge shape") {
    val p = plan("q_join_asof_native")
    assert(p.contains("AsofJoin "),
      s"the custom strategy must plan the native as-of operator:\n$p")
    assert(!p.contains("Window") && !p.contains("Union"),
      "the native merge replaces the union-tag + last() window emulation")
    // EnsureRequirements must plan exactly ONE sort per side (the
    // merge's (key, time, tie) order) plus the query's final orderBy —
    // a double-paid sort here silently doubles the dominant cost.
    assert("Sort ".r.findAllIn(p).size === 3, s"expected 3 sorts:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p)
  }

  test("native as-of join equals the window emulation row for row") {
    val a = q("q_join_asof_native", sf0001).collect().map(_.toString)
    val b = q("q_join_asof", sf0001).collect().map(_.toString)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  test("q_join_range_native lowers to RangeJoin: no bucket explode, sort-merge shape") {
    val p = plan("q_join_range_native")
    assert(p.contains("RangeJoin "),
      s"the custom strategy must plan the native range join:\n$p")
    assert(!p.contains("Generate"),
      "the sliding-buffer merge replaces the bucket-explode emulation")
    // One sort per side + the final orderBy; and the per-user rollup
    // must REUSE the join's hash partitioning (the exec reports its
    // left child's partitioning) — only the two merge exchanges, no
    // third one feeding the aggregate.
    assert("Sort ".r.findAllIn(p).size === 3, s"expected 3 sorts:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p)
  }

  test("native range join equals the bucketed emulation row for row") {
    val a = q("q_join_range_native", sf0001).collect().map(_.toString)
    val b = q("q_join_range", sf0001).collect().map(_.toString)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  // ---- STRING keys through the native trio (round 7) -------------------
  //
  // String doc/user ids are the likeliest key shape in an LLM data
  // pipeline. Each operator is checked three ways: (1) the codegen
  // stage star fires for a STRING key (PlanUtil.keyCodegen's
  // UTF8String path), (2) codegen and the interpreted generic-key
  // merge agree, (3) the result equals the LONG-key run mapped through
  // the injective key transform — key equality is all that matters to
  // the semantics, so an injective re-keying must not change anything.

  import org.apache.spark.sql.functions._

  /** events with an injectively string-ified user id. */
  private def strEvents = {
    val s = spark
    import s.implicits._
    ops.Tables.t(spark, sf0001, "events")
      .select(format_string("user_%06d", $"user_id").as("uid"),
        $"user_id", $"ts", $"event_id", $"value")
  }

  private def codegenOff[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("string-key sessionize: codegen star, interpreted agreement, long-key equivalence") {
    def run() = plans.Sessionize(
      strEvents, "uid", "ts", "event_id", 12L * 3600 * 1000000)
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("Sessionize "))
      .exists(_.contains("*(")),
      s"string-key Sessionize must codegen:\n$p")
    val key = df.select(col("event_id"), col("session_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(key.toSeq === codegenOff(run().select(col("event_id"),
      col("session_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted).toSeq)
    val longKeyed = plans.Sessionize(
      ops.Tables.t(spark, sf0001, "events"), "user_id", "ts", "event_id",
      12L * 3600 * 1000000)
      .select(col("event_id"), col("session_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(key.toSeq === longKeyed.toSeq)
  }

  /** An attribute-disjoint string-keyed right side: every third event,
    * renamed — the sparse lookup stream both joins scan against. */
  private def strRight = {
    val s = spark
    import s.implicits._
    ops.Tables.fresh(spark, sf0001, "events")
      .where($"event_id" % 3 === 0)
      .select(format_string("user_%06d", $"user_id").as("r_uid"),
        $"user_id".as("r_user"), $"ts".as("r_ts"),
        $"event_id".as("r_eid"), $"value".as("r_val"))
  }

  test("string-key as-of join: codegen star, interpreted agreement, long-key equivalence") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("r_eid"), col("r_val")).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sorted.toSeq
    def run() = plans.AsofJoin(strEvents, strRight,
      "uid", "ts", "event_id", "r_uid", "r_ts", "r_eid")
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("AsofJoin "))
      .exists(_.contains("*(")),
      s"string-key AsofJoin must codegen:\n$p")
    val got = pairs(df)
    assert(got === codegenOff(pairs(run())))
    assert(got === pairs(plans.AsofJoin(strEvents, strRight,
      "user_id", "ts", "event_id", "r_user", "r_ts", "r_eid")))
  }

  test("string-key range join: codegen star, interpreted agreement, long-key equivalence") {
    val band = 30L * 60 * 1000000
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("r_eid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def run() = plans.RangeJoin(strEvents, strRight,
      "uid", "ts", "event_id", "r_uid", "r_ts", "r_eid", band)
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("RangeJoin "))
      .exists(_.contains("*(")),
      s"string-key RangeJoin must codegen:\n$p")
    val got = pairs(df)
    assert(got.nonEmpty, "fixture must produce in-band pairs")
    assert(got === codegenOff(pairs(run())))
    assert(got === pairs(plans.RangeJoin(strEvents, strRight,
      "user_id", "ts", "event_id", "r_user", "r_ts", "r_eid", band)))
  }

  // ---- COMPOSITE (struct) keys through the native trio (round 8) -------
  //
  // Multi-column ids — (user_id, device_id)-style session keys — pack
  // into ONE struct column and ride the same three checks as the
  // string keys: (1) the codegen star fires for a struct-of-
  // (integral, string) key (PlanUtil.keyCodegen's field-wise
  // fragments), (2) codegen agrees with the interpreted generic-key
  // merge (GenericMergeKeys via the struct's interpreted ordering),
  // (3) the result equals the LONG-key run — the struct below is an
  // injective re-keying of user_id (second field alone determines
  // it), so semantics must be unchanged.

  /** events keyed by a 2-field struct (string bucket, long id) that is
    * injective in user_id. */
  private def structEvents = {
    val s = spark
    import s.implicits._
    ops.Tables.t(spark, sf0001, "events")
      .select(struct(format_string("b%d", $"user_id" % 3).as("bucket"),
          $"user_id".as("uid")).as("ck"),
        $"user_id", $"ts", $"event_id", $"value")
  }

  private def structRight = {
    val s = spark
    import s.implicits._
    ops.Tables.fresh(spark, sf0001, "events")
      .where($"event_id" % 3 === 0)
      .select(struct(format_string("b%d", $"user_id" % 3).as("bucket"),
          $"user_id".as("uid")).as("r_ck"),
        $"user_id".as("r_user"), $"ts".as("r_ts"),
        $"event_id".as("r_eid"), $"value".as("r_val"))
  }

  test("struct-key sessionize: codegen star, interpreted agreement, long-key equivalence") {
    def run() = plans.Sessionize(
      structEvents, "ck", "ts", "event_id", 12L * 3600 * 1000000)
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("Sessionize "))
      .exists(_.contains("*(")),
      s"struct-key Sessionize must codegen:\n$p")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select(col("event_id"), col("session_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = key(df)
    assert(got === codegenOff(key(run())))
    assert(got === key(plans.Sessionize(
      ops.Tables.t(spark, sf0001, "events"), "user_id", "ts", "event_id",
      12L * 3600 * 1000000)))
  }

  test("struct-key as-of join: codegen star, interpreted agreement, long-key equivalence") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("r_eid"), col("r_val")).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sorted.toSeq
    def run() = plans.AsofJoin(structEvents, structRight,
      "ck", "ts", "event_id", "r_ck", "r_ts", "r_eid")
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("AsofJoin "))
      .exists(_.contains("*(")),
      s"struct-key AsofJoin must codegen:\n$p")
    val got = pairs(df)
    assert(got === codegenOff(pairs(run())))
    assert(got === pairs(plans.AsofJoin(strEvents, strRight,
      "user_id", "ts", "event_id", "r_user", "r_ts", "r_eid")))
  }

  test("struct-key range join: codegen star, interpreted agreement, long-key equivalence") {
    val band = 30L * 60 * 1000000
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("r_eid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def run() = plans.RangeJoin(structEvents, structRight,
      "ck", "ts", "event_id", "r_ck", "r_ts", "r_eid", band)
    val df = run()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("RangeJoin "))
      .exists(_.contains("*(")),
      s"struct-key RangeJoin must codegen:\n$p")
    val got = pairs(df)
    assert(got.nonEmpty, "fixture must produce in-band pairs")
    assert(got === codegenOff(pairs(run())))
    assert(got === pairs(plans.RangeJoin(
      ops.Tables.t(spark, sf0001, "events"),
      ops.Tables.fresh(spark, sf0001, "events")
        .where(col("event_id") % 3 === 0)
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("event_id").as("r_eid"), col("value").as("r_val")),
      "user_id", "ts", "event_id", "r_user", "r_ts", "r_eid", band)))
  }

  test("q_text_bm25_serve: join-free bucket-pruned scan of the postings index") {
    val df = q("q_text_bm25_serve", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_bm25_idx_"),
      s"serve must scan the persisted postings table:\n$p")
    // The term IN filter must prune BUCKETS (the inverted-index
    // lookup) — not just rows after a full scan.
    assert(p.contains("SelectedBucketsCount"),
      s"term filter must prune postings buckets:\n$p")
    // Join-free: idf and the length normalizer were denormalized at
    // build time, so the serve plan is scan → score → aggregate →
    // top-k with no join of any kind.
    assert(!p.contains("Join"), s"serve plan must be join-free:\n$p")
  }

  test("q_text_bpe_serve: tokenizes from the frozen vocab, zero training work") {
    val df = q("q_text_bpe_serve", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_bpe_vocab_"),
      s"serve must scan the persisted vocabulary table:\n$p")
    // The merge-training loop's symbol-string machinery must not
    // appear — the vocab stores the per-word token count precomputed.
    assert(!p.contains("symstr"),
      s"training work leaked into the serve plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized table must broadcast:\n$p")
  }

  test("q_sim_ann_serve: probe scans the persisted index, zero assignment work") {
    val df = q("q_sim_ann_serve", sf0001)
    df.collect() // materialize so AQE finalizes the executed plan
    val p = df.queryExecution.executedPlan.toString
    // The serve plan must read the MATERIALIZED index table...
    assert(p.contains("graft_ann_ivf_"),
      s"probe must scan the persisted index table:\n$p")
    // ...and the probe batch must arrive from OUTSIDE it (r14): probes
    // read the base embeddings table, so the only index access is the
    // partition-pruned candidate join — the r13 shape selected probes
    // by filtering the index itself, which read every cell's files.
    assert(p.contains("embeddings.parquet"),
      s"probe batch must come from outside the index:\n$p")
    // ...and rebuild nothing: the build pass's corpus-wide centroid
    // assignment (its cdot column / per-vector argmax) exists only at
    // write time. The serve plan's own dots are (a) the 5-probe × 8-
    // centroid ROUTING (qdot — per-query work every IVF serve pays,
    // bounded by the batch) and (b) the query·candidate score; both
    // carry the probe vector qe, the corpus-assignment dot does not
    // exist. AQE's toString prints Final+Initial sections, so check
    // SHAPES, not occurrences.
    assert(!p.contains("cdot"),
      s"corpus assignment work leaked into the serve plan:\n$p")
    val dots = p.linesIterator.filter(_.contains("float_dot")).toSeq
    assert(dots.nonEmpty && dots.forall(_.contains("qe#")),
      s"every serve-plan dot must involve the probe vector qe:\n$p")
    // Cell partition pruning: the probe side's partition filter is the
    // dynamic subquery over the query batch's cells.
    assert(p.contains("dynamicpruning"),
      s"probe must prune index partitions by the batch's cells:\n$p")
  }

  test("q_sim_ann_ivfpq: serve scans CODES only (no vectors), prunes " +
      "partitions, rebuilds nothing") {
    val df = q("q_sim_ann_ivfpq", sf0001)
    df.collect() // materialize so AQE finalizes the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_ann_ivfpq_"),
      s"serve must scan the persisted composed index:\n$p")
    // THE IVF+PQ memory story, pinned at the plan level: the index
    // scan reads (vec_id, m, code, cell) and NOTHING else — no
    // embedding column ever leaves the pruned partition, candidate
    // scoring is pure ADC lookup sums.
    val idxScans = p.linesIterator
      .filter(_.contains("graft_ann_ivfpq_")).toSeq
    assert(idxScans.nonEmpty &&
      idxScans.forall(!_.contains("embedding")),
      s"the codes-only index scan must not read vectors:\n$p")
    // Routing + qd table dots all carry probe-side vectors; the
    // build pass's corpus assignment (cdot) must not exist at serve.
    assert(!p.contains("cdot"),
      s"corpus assignment work leaked into the serve plan:\n$p")
    // Cell partition pruning over the batch's routed cells.
    assert(p.contains("dynamicpruning"),
      s"serve must prune index partitions by the batch's cells:\n$p")
  }
}
