package graft

import ops.Tables
import SparkTestBase.sf0001

/** The sweep Bench and Verify share ([[Runner.sweep]]): its memo
  * release law, and that sharing a memo inside a family returns the
  * rows each member returns on its own. */
class RunnerSpec extends GraftSuite {
  test("a sweep keeps a family's memos and blocks until the family ends") {
    resetMemos()
    val sc = spark.sparkContext
    def persistent = sc.getPersistentRDDs.keySet.toSet
    def ccMemo: AnyRef = Tables.derived(spark, sf0001, "cc_labels_star")(
      sys.error("cc_labels_star is not memoized"))
    // Observed inside the sweep, asserted after it: the sweep reports a
    // throwing action as a failed step instead of rethrowing.
    var builtMemo, starMemo: AnyRef = null
    var builtRdds, starRdds, graphRdds, joinRdds = Set.empty[Int]
    var joinKeys = Set("not observed")
    val took = Runner.sweep(spark, sf0001,
      Seq("q_join_interval", "q_graph_cc_star", "q_graph_cc"), "runner-spec") {
      case ("q_graph_cc", df) =>
        df.count()
        builtMemo = ccMemo; builtRdds = persistent
      case ("q_graph_cc_star", df) =>
        starMemo = ccMemo; starRdds = persistent
        df.count()
        graphRdds = persistent
      case (_, df) =>
        joinKeys = Tables.derivedKeys(spark); joinRdds = persistent
        df.count()
    }
    assert(took.keySet ==
      Set(Runner.MemoStep, "q_graph_cc", "q_graph_cc_star", "q_join_interval"))
    assert((starMemo ne null) && (starMemo eq builtMemo),
      "q_graph_cc_star rebuilt the cc_labels_star memo")
    assert(builtRdds.nonEmpty && builtRdds.subsetOf(starRdds),
      "the graph family's blocks dropped before q_graph_cc_star")
    assert(joinKeys == Set.empty[String], "memos outlived their family")
    assert((graphRdds intersect joinRdds).isEmpty,
      "graph blocks outlived their family")
    assert(Tables.derivedKeys(spark).isEmpty && persistent.isEmpty,
      "the sweep left memos or blocks behind")
  }

  test("a member's rows match whether another member built the memo or not") {
    val groups = Seq(
      Seq("q_graph_cc", "q_graph_cc_star"),
      Seq("q_graph_lpa", "q_graph_modularity"),
      Seq("q_graph_louvain", "q_graph_louvain_contract", "q_graph_louvain_l2"),
      Seq("q_text_charlm", "q_text_lmbucket"),
      Seq("q_dedup_substr_cut", "q_dedup_substr_exact"),
      Seq("q_sim_cluster", "q_sim_nndescent"),
      Seq("q_pipe_auc", "q_pipe_calibration", "q_pipe_ndcg"))
    def rows(name: String) =
      q(name, sf0001).collect().map(_.toString).sorted.toSeq
    for (group <- groups; member <- group) {
      resetMemos()
      val alone = rows(member)
      for (builder <- group if builder != member) {
        resetMemos()
        q(builder, sf0001).count()
        assert(rows(member) == alone, s"$member after $builder built the memo")
      }
    }
    resetMemos()
  }
}
