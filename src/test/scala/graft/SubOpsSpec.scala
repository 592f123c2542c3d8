package graft

import SparkTestBase.{microDir, sf0001}

/** §2.11 subquery family: decorrelation plan shapes (the 100-TB claim
  * is that ANSI subqueries cost exactly one keyed/broadcast join, never
  * a per-row re-execution) plus the COUNT empty-group corner on the
  * micro-fixture.
  */
class SubOpsSpec extends GraftSuite {

  /** The distributed plan: the plan pins run where the small-plan rule
    * does not fire (the last test pins the one-partition plan). */
  private def plan(name: String): String =
    SparkEntry.queries(name)(distributedPlans, sf0001).queryExecution.executedPlan.toString

  test("q_sub_in rewrites IN to a broadcast LeftSemi join") {
    val p = plan("q_sub_in")
    assert(p.contains("LeftSemi"), "IN subquery must become a semi join")
    assert(p.contains("BroadcastHashJoin"), "filtered dim side must broadcast")
  }

  test("q_sub_exists decorrelates EXISTS to a LeftSemi join") {
    assert(plan("q_sub_exists").contains("LeftSemi"))
  }

  test("q_sub_notin rewrites NOT IN (non-null key) to a LeftAnti join") {
    assert(plan("q_sub_notin").contains("LeftAnti"))
  }

  test("q_sub_scalar decorrelates to outer join + aggregate, no residual subquery") {
    val p = plan("q_sub_scalar")
    assert(p.contains("LeftOuter"),
      "scalar COUNT must become an outer join against a pre-aggregate")
    assert(!p.contains("scalar-subquery"),
      "no scalar subquery may survive to execution")
  }

  test("q_sub_mincost decorrelates the correlated MIN to an aggregate + join") {
    val p = plan("q_sub_mincost")
    assert(!p.contains("scalar-subquery"),
      "no correlated scalar may survive to execution")
    assert(p.contains("HashAggregate"),
      "the per-part MIN must run as one keyed aggregate over the cost table")
  }

  test("q_sub_scalaragg decorrelates the arithmetic scalar AVG to one keyed aggregate") {
    val p = plan("q_sub_scalaragg")
    assert(!p.contains("scalar-subquery"),
      "the 0.2*AVG correlated scalar must not survive to execution")
    assert(p.contains("HashAggregate"),
      "the per-part AVG must run as one keyed aggregate over lineitem")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_sub_scalar reads an orderless customer as 0, not NULL") {
    // micro-fixture: customer 4 has no orders; counts are 1→2, 2→1,
    // 3→0, 4→0 and all are ≤ 3 so every customer must appear.
    val rows = q("q_sub_scalar", microDir).collect()
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("q_win_nth navigates to first/last/second order per customer (micro)") {
    // customer 1 has orders 1 (100.0) then 2 (200.0); customer 2 has
    // only order 3 (300.0) so its second_price must be NULL.
    val rows = q("q_win_nth", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(rows === Seq(
      (1L, 1L, 100.0, 200.0, Some(200.0)),
      (1L, 2L, 100.0, 200.0, Some(200.0)),
      (2L, 3L, 300.0, 300.0, None)))
  }

  test("q_sub_avgfilter plans a scalar broadcast + anti join, no residual subquery") {
    val p = plan("q_sub_avgfilter")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become an anti join")
    assert(!p.toLowerCase.contains("exists-subquery"),
      "no correlated subquery may survive to execution")
  }

  test("q_sub_decorr turns EXISTS + NOT EXISTS into one semi and one anti join") {
    val p = plan("q_sub_decorr")
    assert(p.contains("LeftSemi"), "EXISTS must become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become an anti join")
    assert(!p.toLowerCase.contains("exists-subquery"),
      "no correlated subquery may survive to execution")
  }

  test("q_text_heavy recounts candidates via a broadcast join, never a full re-group") {
    val p = plan("q_text_heavy")
    assert(p.contains("BroadcastHashJoin"),
      "verify pass must broadcast the <= k candidates")
  }

  test("q_stream_enrich broadcasts the static dim side") {
    val p = plan("q_stream_enrich")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_sub_notin keeps every customer when the subquery is empty on no urgent orders") {
    // micro-fixture has exactly one 1-URGENT order (customer 1), so
    // quiet customers are 2, 3, 4 → segments AUTOMOBILE×2, BUILDING×1.
    val rows = q("q_sub_notin", microDir).collect()
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("AUTOMOBILE" -> 2L, "BUILDING" -> 1L))
  }

  test("under the small-plan rule the plan-pinned rows plan no exchange") {
    // q_sub_notin keeps its broadcast: Spark plans a null-aware anti
    // join only as a broadcast hash join.
    val rows = Seq("q_sub_in", "q_sub_exists", "q_sub_scalar", "q_sub_mincost",
      "q_sub_scalaragg", "q_sub_avgfilter", "q_sub_decorr", "q_text_heavy",
      "q_stream_enrich")
    val shuffled = rows.filter { name =>
      val df = q(name, sf0001)
      df.collect()
      df.queryExecution.executedPlan.toString.contains("Exchange")
    }
    assert(shuffled.isEmpty, s"planned an exchange under the rule: $shuffled")
  }
}
