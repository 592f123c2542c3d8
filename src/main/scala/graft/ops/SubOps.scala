package graft.ops

import Tables.Q

/** §2.11 Subqueries — IN / EXISTS / NOT IN / correlated scalar, the
  * declarative face of the semi/anti/outer-join family (§2.3). The
  * reference's MapReduce idiom for these is a reduce-side existence
  * check on the joined key; here the queries are written as ANSI
  * subqueries and Catalyst's RewritePredicateSubquery +
  * decorrelation rules turn them into the SAME physical joins a
  * hand-written plan would use — asserted in SubOpsSpec.
  *
  * Scale notes (100 TB):
  *  - IN/EXISTS/NOT IN decorrelate to LeftSemi/LeftAnti joins keyed on
  *    the correlation column — one keyed shuffle, or zero when the
  *    subquery side fits the broadcast threshold (customer/orders dims
  *    here; asserted in SubOpsSpec). Never a per-row re-execution.
  *  - The correlated scalar COUNT decorrelates to an aggregate +
  *    left outer join; the empty-group corner (no matching orders must
  *    read as 0, not NULL) is the classic decorrelation bug — the
  *    sf0.1 fixture contains a zero-order customer, so the DuckDB
  *    differential exercises it for real.
  *  - NOT IN is only a plain anti join because o_custkey is non-null;
  *    over a nullable key it becomes a null-aware anti join, which
  *    Spark executes as a broadcast-only plan — worth knowing before
  *    writing NOT IN over nullable columns at 100 TB.
  */
object SubOps {

  val queries: Map[String, Q] = Map(
    // Uncorrelated IN: orders from BUILDING-segment customers.
    // Subquery side is a filtered dim → broadcast semi join.
    "q_sub_in" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM parquet.`$d/orders.parquet`
        WHERE o_custkey IN (SELECT c_custkey FROM parquet.`$d/customer.parquet`
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    }),

    // Correlated EXISTS: customers with at least one urgent order,
    // counted per segment. Decorrelates to a semi join on custkey.
    "q_sub_exists" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_mktsegment, count(*) AS n_customers
        FROM parquet.`$d/customer.parquet` c
        WHERE EXISTS (SELECT 1 FROM parquet.`$d/orders.parquet` o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    }),

    // NOT IN over a non-null key: customers with no urgent order →
    // anti join on custkey.
    "q_sub_notin" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_mktsegment, count(*) AS n_quiet
        FROM parquet.`$d/customer.parquet`
        WHERE c_custkey NOT IN (SELECT o_custkey FROM parquet.`$d/orders.parquet`
                                WHERE o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    }),

    // Correlated scalar COUNT: per-customer order count as a scalar
    // subquery, keeping only quiet customers (≤ 3 orders). A customer
    // with NO orders must surface as n_orders = 0 — the decorrelated
    // outer-join aggregate must coalesce the empty group to 0.
    "q_sub_scalar" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_custkey, n_orders FROM (
          SELECT c_custkey,
                 (SELECT count(*) FROM parquet.`$d/orders.parquet` o
                  WHERE o.o_custkey = c.c_custkey) AS n_orders
          FROM parquet.`$d/customer.parquet` c)
        WHERE n_orders <= 3
        ORDER BY c_custkey
      """)
    }),

    // TPC-H-Q22-shaped composition: an uncorrelated scalar aggregate
    // subquery (the positive-balance average) feeding a filter, then a
    // correlated NOT EXISTS — scalar-broadcast + anti join, the
    // "compare to a global statistic, then exclude by existence"
    // pattern. The scalar side is one row and broadcasts; the anti
    // join keys on custkey.
    "q_sub_avgfilter" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_mktsegment, count(*) AS n_cust,
               ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM parquet.`$d/customer.parquet` c
        WHERE c_acctbal > (SELECT AVG(c_acctbal)
                           FROM parquet.`$d/customer.parquet`
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM parquet.`$d/orders.parquet` o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    }),

    // TPC-H-Q21-shaped composition: a correlated EXISTS and a
    // correlated NOT EXISTS over the SAME fact, both keyed on the
    // outer line's orderkey (the NOT EXISTS additionally references
    // the outer order's date). "Suppliers who were the only late
    // shipper in a multi-supplier finished order" — Catalyst must
    // decorrelate BOTH predicates into one semi and one anti join on
    // l_orderkey; at 100 TB that is two keyed shuffles of the fact,
    // never a per-row rescan. The outer fact⋈orders join shares the
    // same key, so the exchanges line up.
    "q_sub_decorr" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT s_name, count(*) AS n_waiting
        FROM parquet.`$d/supplier.parquet`,
             parquet.`$d/lineitem.parquet` l1,
             parquet.`$d/orders.parquet`
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM parquet.`$d/lineitem.parquet` l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM parquet.`$d/lineitem.parquet` l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY s_name
        ORDER BY n_waiting DESC, s_name
        LIMIT 20
      """)
    }),

    // TPC-H-Q2-shaped correlated min: for each size-9 part, the
    // supplier(s) achieving the minimum observed unit cost (derived
    // from lineitem — the fixture has no partsupp table). The
    // correlated scalar MIN over the cost CTE must decorrelate to a
    // per-part min aggregate + equi join — ONE keyed pass over the
    // cost table, never a re-scan per outer row (pinned in
    // SubOpsSpec). Unit costs floor-rounded to 4 decimals BEFORE the
    // min so cross-engine ties resolve identically; rounded-value
    // ties legitimately emit multiple suppliers.
    "q_sub_mincost" -> ((s, d) => {
      Tables.sql(s, d, s"""
        WITH cost AS (
          SELECT l_partkey AS pk, l_suppkey AS suppkey,
                 FLOOR(min(l_extendedprice / l_quantity) * 1e4 + 0.5) / 1e4
                   AS unit_cost
          FROM parquet.`$d/lineitem.parquet`
          GROUP BY l_partkey, l_suppkey)
        SELECT p.p_partkey, c.suppkey, c.unit_cost
        FROM parquet.`$d/part.parquet` p JOIN cost c ON c.pk = p.p_partkey
        WHERE p.p_size = 9
          AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                             WHERE c2.pk = p.p_partkey)
        ORDER BY p.p_partkey, c.suppkey
        LIMIT 20
      """)
    }),

    // TPC-H-Q17-shaped correlated scalar AGGREGATE feeding an
    // ARITHMETIC predicate: small-order revenue leak per brand —
    // lineitems whose quantity is below 20% of their part's average
    // quantity. This is the decorrelation corner the other q_sub rows
    // don't hit: the correlated scalar is multiplied by a constant
    // before the comparison (not an equality), so Catalyst must pull
    // the per-part AVG out as ONE keyed aggregate over lineitem and
    // join it back (pinned in SubOpsSpec) — a per-row re-execution of
    // the inner AVG would rescan the fact once per outer row. At
    // 100 TB: two scans of lineitem (outer + aggregate), both keyed on
    // partkey, exchanges line up; part is a broadcast dim. avg_yearly
    // = small-order revenue / 7 (Q17's annualization), floor-cent.
    "q_sub_scalaragg" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT p.p_brand, count(*) AS n_small,
               FLOOR(SUM(l.l_extendedprice) / 7.0 * 1e2 + 0.5) / 1e2
                 AS avg_yearly
        FROM parquet.`$d/lineitem.parquet` l,
             parquet.`$d/part.parquet` p
        WHERE p.p_partkey = l.l_partkey
          AND p.p_size <= 5
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM parquet.`$d/lineitem.parquet` l2
                              WHERE l2.l_partkey = p.p_partkey)
        GROUP BY p.p_brand
        ORDER BY p.p_brand
      """)
    }),

    // LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    // declarative form of "top-2 orders per customer". Catalyst's
    // lateral decorrelation rewrites it into the ranked-window join
    // the hand-written q_win_topk_group plan uses (never a per-row
    // re-execution of the inner query); DuckDB executes the identical
    // LATERAL natively, so the differential crosses two independent
    // decorrelation implementations.
    "q_join_lateral" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM parquet.`$d/customer.parquet`,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM parquet.`$d/orders.parquet`
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
      """)
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_sub_in" -> """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q_sub_exists" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_sub_notin" -> """
      SELECT c_mktsegment, count(*) AS n_quiet
      FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_sub_scalar" -> """
      SELECT c_custkey, n_orders FROM (
        SELECT c_custkey,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c)
      WHERE n_orders <= 3
      ORDER BY c_custkey""",

    "q_sub_mincost" -> """
      WITH cost AS (
        SELECT l_partkey AS pk, l_suppkey AS suppkey,
               FLOOR(min(l_extendedprice / l_quantity) * 1e4 + 0.5) / 1e4
                 AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
      SELECT p.p_partkey, c.suppkey, c.unit_cost
      FROM part p JOIN cost c ON c.pk = p.p_partkey
      WHERE p.p_size = 9
        AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                           WHERE c2.pk = p.p_partkey)
      ORDER BY p.p_partkey, c.suppkey
      LIMIT 20""",

    "q_sub_scalaragg" -> """
      SELECT p.p_brand, count(*) AS n_small,
             FLOOR(SUM(l.l_extendedprice) / 7.0 * 1e2 + 0.5) / 1e2
               AS avg_yearly
      FROM lineitem l, part p
      WHERE p.p_partkey = l.l_partkey
        AND p.p_size <= 5
        AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p.p_partkey)
      GROUP BY p.p_brand
      ORDER BY p.p_brand""",

    "q_sub_avgfilter" -> """
      SELECT c_mktsegment, count(*) AS n_cust,
             ROUND(SUM(c_acctbal), 2) AS total_bal
      FROM customer c
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_sub_decorr" -> """
      SELECT s_name, count(*) AS n_waiting
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name
      ORDER BY n_waiting DESC, s_name
      LIMIT 20""",

    "q_join_lateral" -> """
      SELECT c_custkey, o_orderkey, o_totalprice
      FROM customer,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
      WHERE c_mktsegment = 'BUILDING'
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
  )
}
