package graft.tools



/** Dev-only audit: prints one line per declared query flagging the
  * physical-plan patterns that become bottlenecks at cluster scale —
  * CartesianProduct, BroadcastNestedLoopJoin, and a Window with no
  * PARTITION BY (all-data-to-one-task).
  *
  * Since round 15 the sweep also captures REJECTED join hints
  * (HintErrorLogger WARNs via [[HintAudit]]) — a hint the engine
  * drops means the documented plan is not the executed plan (the r14
  * q_graph_ppr full-outer-broadcast defect); ANY dropped hint is a
  * HARD failure, no whitelist.
  *
  * GlobalWindow is a HARD failure (exit 1): since round 7 the two
  * contractual total orders (q_win_ntile, q_pipe_curriculum) compute
  * exact ranks via DistRank's two-pass distributed form, so no
  * shipped plan may funnel all rows through one task. Any new flag
  * is a regression.
  *
  * Expected soft flags (audited 300 queries at round 14; everything
  * else is clean) — BNLJ with a deliberately tiny broadcast side:
  *    q_join_cross (5x6 cartesian semantics), q_join_fuzzy (20-row
  *    distinct dim), q_join_skew_salt (dim x salt replication),
  *    q_sim_cosine_topk / q_sim_knn_join / q_sim_ann_ivf /
  *    q_sim_pairs / q_sim_range / q_sim_mmr (1-20 row query batch,
  *    centroid set, or top-8 shortlist vs streamed corpus),
  *    q_text_tfidf / q_text_pmi / q_text_jsd / q_text_bm25 /
  *    q_pipe_oversample / q_pipe_drift / q_pipe_benford /
  *    q_pipe_tokenbudget / q_pipe_curriculum / q_pipe_zorder /
  *    q_graph_pagerank (1-row scalar totals, vocab grids, or
  *    |V|-sized rank tables), q_sim_kmeans / q_dedup_semdedup (8-row
  *    centroid/prototype batch), q_sim_recall (two 10-row top-k
  *    sets), q_dedup_ngram (broadcast block table for triangle
  *    blocking; the pair join itself is keyed), q_win_ntile
  *    (DistRank's ≤32-row offset triangle + 1-row total),
  *    q_pipe_temperature (|langs|-row rate table).
  *
  * Round-11 additions, same deliberately-tiny-broadcast class (each
  * side documented at the query site): q_agg_chisq / q_agg_mutualinfo
  * (grand total), q_text_kneserney (|bigram types| scalar),
  * q_pipe_targetenc (global
  * prior), q_graph_hits (per-half-round L1 normalizer),
  * q_pipe_survival (≤31-row day-table triangles — the DistRank
  * offset-triangle pattern), q_sink_dsv2 (1-row manifest totals),
  * q_sim_pca (1-row norm/sign scalars against the d-row vector).
  *
  * Since round 13 the expected-BNLJ list is a GATE, not prose:
  * [[BnljWhitelist]] below is the machine-checked enumeration — a
  * BNLJ flag on any query not listed there exits 1 (and so does a
  * stale whitelist entry that no longer flags), so a new accidental
  * nested-loop join fails the audit instead of hiding in a longer
  * soft-flag listing. Adding a query to the list is a code change
  * that must carry a tiny-broadcast justification at the query site.
  * r12 additions to the class: q_pipe_freshness (1-row corpus
  * high-water mark), q_sim_hardneg (≤20-row query batch),
  * q_sim_hybrid (1-row corpus stats + query-term scalar),
  * q_text_dsir (1-row normalizer totals). r13: q_sim_maxsim (4-row
  * query-token-subvector batch vs the streamed corpus). r14:
  * q_sim_ann_serve (5-probe × 8-centroid serve-time routing),
  * q_sim_serve_recall (the serve path's routing + 5-probe
  * brute-force ground truth), q_sim_ann_incr / q_sim_ann_nprobe
  * (batch-assignment / probe-routing centroid batches and the
  * 5-probe ground-truth scan), q_graph_modularity /
  * q_text_bm25_incr (1-row sufficient-statistic combines),
  * q_text_unigram_serve / q_text_unigram_ppl (the broadcast 1-row
  * piece→cost dictionary map; q_text_unigram_lm's own 1-row
  * normalizer combines plan BNLJ-free off the checkpointed census).
  * r15: q_sim_ann_ivfpq / q_sim_ivfpq_recall (probe routing +
  * brute-force ground-truth batches, the ann-serve class),
  * q_graph_louvain (the 1-row |E| scalar + modularityQ's 1-row
  * combines), q_text_vocab_drift (two 1-row dictionary maps + three
  * 1-row overlap scalars). r15 optimization round REMOVED q_pipe_elo:
  * its per-round normalizer crossJoin now sits behind the round's
  * lazy checkpoint (the audited final plan reads the checkpointed
  * rating RDD), so the row no longer flags — the stale-entry gate
  * caught the leftover entry, exactly as designed.
  */
object PlanAudit {

  /** Every query allowed to plan a BroadcastNestedLoopJoin — all in
    * the deliberately-tiny-broadcast class (1-row scalar totals,
    * ≤32-row grids/batches/triangles), each documented at its query
    * site. (Counts are printed by the audit run itself — a
    * hand-written number here went stale two rounds running.) */
  val BnljWhitelist: Set[String] = Set(
    "q_agg_chisq", "q_agg_mutualinfo", "q_dedup_ngram",
    "q_dedup_semdedup", "q_graph_hits", "q_graph_modularity",
    "q_graph_louvain", "q_graph_louvain_l2", "q_join_cross",
    "q_join_fuzzy",
    "q_join_skew_salt", "q_pipe_benford", "q_pipe_curriculum",
    "q_pipe_drift", "q_pipe_freshness",
    "q_pipe_oversample", "q_pipe_survival", "q_pipe_targetenc",
    "q_pipe_temperature", "q_pipe_tokenbudget", "q_pipe_zorder",
    "q_sim_ann_incr", "q_sim_ann_ivf", "q_sim_ann_ivfpq",
    "q_sim_ann_nprobe", "q_sim_ann_serve", "q_sim_ivfpq_nprobe",
    "q_sim_ivfpq_recall", "q_sim_ivfpq_refine", "q_sim_ivfpq_res",
    "q_sim_cosine_topk", "q_sim_hardneg",
    "q_sim_hybrid", "q_sim_kmeans", "q_sim_knn_join", "q_sim_maxsim",
    "q_sim_mmr",
    "q_sim_pairs", "q_sim_pca", "q_sim_range", "q_sim_recall",
    "q_sim_serve_recall",
    "q_sink_dsv2", "q_text_bm25", "q_text_bm25_incr", "q_text_dsir",
    "q_text_jsd",
    "q_text_kneserney", "q_text_pmi", "q_text_tfidf",
    "q_text_unigram_ppl", "q_text_unigram_serve", "q_text_vocab_drift",
    "q_win_ntile")

  /** Single-task window detector, shared with DistRankSpec so the
    * audit gate and the spec can never disagree on what "global
    * window" means: a partitioned Window prints
    * `Window [fns], [partCols], [order]`; global = only one trailing
    * group AND it is an ORDER spec (contains ASC/DESC) — a
    * partition-only window (no order) also has one group but no sort
    * direction in it. */
  def hasGlobalWindow(plan: String): Boolean =
    plan.linesIterator.exists { l =>
      val t = l.trim.stripPrefix("+- ").stripPrefix(":- ")
      t.startsWith("Window [") && {
        val groups = "\\], \\[".r.findAllIn(t).size
        groups < 2 && (t.contains(" ASC") || t.contains(" DESC"))
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // The audit reads the distributed plans, the ones that run at
    // scale: the small-plan rule, which runs a fixture-sized plan in
    // one partition, is excluded.
    val spark = graft.EngineSession.builder("local[8]", "8")
      .config("spark.sql.optimizer.excludedRules", "graft.plans.SmallPlanRule")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var globalWindows = List.empty[String]
    var errored = List.empty[String]
    var bnljFlagged = Set.empty[String]
    var cartesians = List.empty[String]
    var droppedHints = List.empty[(String, String)]
    var audited = 0
    var clean = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // Plan construction runs inside the hint-warning capture: a
        // join-strategy hint Spark REJECTS (e.g. broadcast on a full
        // outer join) leaves no trace in the executed plan — the only
        // mechanical signal is the HintErrorLogger WARN, and a
        // dropped hint means the documented plan is not the executed
        // plan (the r14 q_graph_ppr defect class). No whitelist: the
        // engine has no legitimate rejected hint.
        val (p, hintWarns) = HintAudit.capture(
          fn(spark, sfDir).queryExecution.executedPlan.toString)
        val flags = Seq(
          "CartesianProduct" -> p.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> p.contains("BroadcastNestedLoopJoin"),
          "GlobalWindow" -> hasGlobalWindow(p),
          "DroppedHint" -> hintWarns.nonEmpty,
        ).collect { case (f, true) => f }
        if (flags.contains("GlobalWindow")) globalWindows ::= name
        if (flags.contains("CartesianProduct")) cartesians ::= name
        if (flags.contains("BroadcastNestedLoopJoin")) bnljFlagged += name
        if (hintWarns.nonEmpty)
          droppedHints ::= (name, hintWarns.head.take(120))
        audited += 1
        if (flags.isEmpty) clean += 1
        println(s"[audit] $name: ${if (flags.isEmpty) "clean" else flags.mkString(",")}")
      } catch { case e: Throwable =>
        // An erroring query's plan was NEVER checked — that must fail
        // the gate too, or a broken query silently bypasses the audit.
        errored ::= name
        println(s"[audit] $name: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
    // Counts computed at runtime — never hand-written (they rotted in
    // prose two rounds running).
    println(s"[audit] audited $audited queries: $clean clean, " +
      s"${bnljFlagged.size} BNLJ-flagged (whitelist ${BnljWhitelist.size}), " +
      s"${droppedHints.size} dropped-hint, ${errored.size} errored")
    // The BNLJ gate cuts both ways: an unlisted flag is a new
    // accidental nested-loop join; a listed query that stopped
    // flagging means the whitelist is stale and must shrink (so the
    // enumeration can never silently rot into prose again).
    val bnljNew = (bnljFlagged -- BnljWhitelist).toList
    val bnljStale = (BnljWhitelist -- bnljFlagged -- errored).toList
    if (globalWindows.nonEmpty || errored.nonEmpty || cartesians.nonEmpty ||
        bnljNew.nonEmpty || bnljStale.nonEmpty || droppedHints.nonEmpty) {
      if (droppedHints.nonEmpty) System.err.println(
        s"[audit] FAIL: join hints REJECTED by the engine (documented " +
          s"plan != executed plan) in " +
          droppedHints.sortBy(_._1).map { case (n, w) => s"$n ($w)" }
            .mkString("; "))
      if (globalWindows.nonEmpty) System.err.println(
        s"[audit] FAIL: global (single-task) window in ${globalWindows.sorted.mkString(", ")}")
      if (errored.nonEmpty) System.err.println(
        s"[audit] FAIL: unauditable (errored) queries: ${errored.sorted.mkString(", ")}")
      if (cartesians.nonEmpty) System.err.println(
        s"[audit] FAIL: CartesianProduct in ${cartesians.sorted.mkString(", ")}")
      if (bnljNew.nonEmpty) System.err.println(
        s"[audit] FAIL: unlisted BroadcastNestedLoopJoin in ${bnljNew.sorted.mkString(", ")}")
      if (bnljStale.nonEmpty) System.err.println(
        s"[audit] FAIL: stale BNLJ whitelist entries (no longer flag): ${bnljStale.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
