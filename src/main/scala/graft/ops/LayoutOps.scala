package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}
import graft.functions.ZOrder

/** §2.15 (round-5 additions): physical-layout and table-maintenance
  * operators — the storage-engine side of a 100 TB deployment that the
  * query surface alone doesn't exercise.
  *
  * Scale notes (100 TB):
  *  - `q_pipe_zorder` plans the WRITE-TIME clustering a multi-dim scan
  *    workload needs: rows map to Morton tiles, each output file covers
  *    a small rectangle in both clustering dims, so parquet min-max
  *    stats prune ~1/k² of files for a 2-D range predicate (vs ~1/k
  *    for a lexicographic sort). The tile computation is a pure
  *    codegen'd per-row expression (functions/ZOrder.scala) — the only
  *    shuffle is the per-file stats rollup, which at write time is the
  *    `repartitionByRange(zval)` the writer would do anyway.
  *  - `q_join_bucket` is the co-located join: both sides pre-bucketed
  *    on the join key at write time, so the join itself needs ZERO
  *    exchange — the scan's bucket layout IS the join partitioning.
  *    On a 1000-executor cluster this converts the nightly fact⋈fact
  *    join from the largest shuffle in the plan into a local merge per
  *    bucket. The no-Exchange plan shape is pinned in LayoutOpsSpec.
  *  - `q_pipe_snapshot_diff` is the keyed snapshot diff behind
  *    incremental publication and change auditing: ONE full-outer
  *    keyed shuffle classifies every row as added / removed / changed
  *    / unchanged — never a row-by-row driver loop. At 100 TB both
  *    snapshots hash-partition on the key and the compare is local;
  *    with pre-bucketed snapshots (see `q_join_bucket`) even that
  *    shuffle disappears.
  */
object LayoutOps {

  /** Tie-proof cent rounding (see SURVEY §2 determinism rules). */
  private def r2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5) / 100

  /** One lock object per table name (JVM-wide): sessions of one
    * context share the catalog and warehouse, so the check-then-write
    * below must be serialized per table or two threads declaring the
    * same table concurrently both pass the exists check and race
    * their CREATEs (second one fails TABLE_ALREADY_EXISTS, or worse
    * interleaves file writes). Keying by name alone over-serializes
    * across distinct warehouses — harmless, this is a once-per-table
    * setup path. Concurrency pinned in LayoutOpsSpec. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write a managed table once per (session, name), idempotent even
    * across JVMs sharing a persistent warehouse dir: a fresh session's
    * in-memory catalog forgets the table while its files persist, so
    * before writing we clear any stale location a prior JVM left
    * behind (catalog-miss + location-exists would otherwise fail
    * `saveAsTable` with LOCATION_ALREADY_EXISTS). Restart-with-dirty-
    * warehouse behavior is pinned in LayoutOpsSpec. */
  private[graft] def ensureTable(s: org.apache.spark.sql.SparkSession,
      name: String)(write: => Unit): Unit =
    tableLocks.computeIfAbsent(name, _ => new Object).synchronized {
      if (!s.catalog.tableExists(name)) {
        val loc = new org.apache.hadoop.fs.Path(
          org.apache.spark.sql.graftbridge.Bridge.defaultTablePath(s, name))
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        write
      }
    }

  /** q_sql_cbo's catalog tag / table setup / SQL text, shared with
    * the LayoutOpsSpec plan pin so the spec drives the EXACT declared
    * query. Setup writes managed copies of nation/customer/orders and
    * ANALYZEs them inside the same once-per-JVM ensureTable memo. */
  private[graft] def cboTag(d: String): String =
    d.replaceAll("[^A-Za-z0-9_]", "_")

  private[graft] def cboSetup(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val tag = cboTag(d)
    Seq("nation", "customer", "orders").foreach { tb =>
      val name = s"graft_cbo_${tb}_$tag"
      ensureTable(s, name) {
        Tables.t(s, d, tb).write.mode("overwrite").saveAsTable(name)
        s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }
  }

  /** Deliberately worst-first syntactic order: the two large tables
    * join before the selective nation filter can shrink anything —
    * the shape CostBasedJoinReorder exists to fix. */
  private[graft] def cboSql(tag: String): String = s"""
    SELECT n_name, count(*) AS n_orders,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
    FROM graft_cbo_orders_$tag o
    JOIN graft_cbo_customer_$tag c ON o.o_custkey = c.c_custkey
    JOIN graft_cbo_nation_$tag n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7')
    GROUP BY n_name
    ORDER BY n_name"""

  val queries: Map[String, Q] = Map(
    // Z-order layout planning over lineitem's (partkey, suppkey):
    // scale each key to a 6-bit bucket, interleave to a 12-bit Morton
    // value, and group into 64 would-be files of one 64-tile each.
    // The per-file bounding rectangles PROVE the skipping property:
    // every file spans at most 8 buckets in EACH dimension (asserted
    // in LayoutOpsSpec), so a predicate on either key — or both —
    // prunes most files by footer stats alone.
    "q_pipe_zorder" -> ((s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val ext = li.agg(max($"l_partkey").as("pmax"), max($"l_suppkey").as("smax"))
      li.crossJoin(broadcast(ext))
        .select(
          floor($"l_partkey" * 64.0 / ($"pmax" + 1)).cast("long").as("pb"),
          floor($"l_suppkey" * 64.0 / ($"smax" + 1)).cast("long").as("sb"))
        .withColumn("file_id", shiftright(ZOrder.zval($"pb", $"sb", 6), 6))
        .groupBy($"file_id").agg(
          count(lit(1)).as("n"),
          min($"pb").as("pb_min"), max($"pb").as("pb_max"),
          min($"sb").as("sb_min"), max($"sb").as("sb_max"))
        .orderBy($"file_id")
    }),

    // Co-located bucketed join: orders and customer are written ONCE
    // per (session, fixture dir) as 8-bucket tables on the join key,
    // then joined with a merge hint — the bucketed scans already
    // satisfy the join's distribution, so EnsureRequirements inserts
    // no Exchange on either side (pinned in LayoutOpsSpec). Table
    // names are dir-scoped like q_sql_q3's views so two fixture dirs
    // can't alias one table.
    "q_join_bucket" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val ot = s"graft_orders_bkt_$tag"
      val ct = s"graft_customer_bkt_$tag"
      ensureTable(s, ot) {
        t(s, d, "orders").write.bucketBy(8, "o_custkey")
          .sortBy("o_custkey").mode("overwrite").saveAsTable(ot)
      }
      ensureTable(s, ct) {
        t(s, d, "customer").write.bucketBy(8, "c_custkey")
          .sortBy("c_custkey").mode("overwrite").saveAsTable(ct)
      }
      s.table(ot).hint("merge")
        .join(s.table(ct), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n_orders"),
          r2(sum($"o_totalprice")).as("sum_price"))
        .orderBy($"c_mktsegment")
    }),

    // Dynamic partition pruning as a first-class query: the fact
    // (orders) is written ONCE per (session, dir) as a table
    // PARTITIONED on o_orderstatus; the status predicate lives only on
    // a tiny file-backed dim (status → label), so static pruning can't
    // see it — at runtime DPP pushes the dim's broadcast result into
    // the fact scan's partition filters (dynamicpruningexpression,
    // pinned in LayoutOpsSpec). This is THE 100 TB star-join shape:
    // a date/status-partitioned fact never scans partitions the dim
    // filter excludes. The dim must be a FILE source — a filtered
    // LocalRelation constant-folds away before DPP's selective-
    // predicate check (see SinksSpec).
    // HIVE-PARTITIONED LAYOUT + STATIC partition pruning — the most
    // common 100 TB layout idiom (date/lang/source directory
    // partitioning) and the STATIC complement to q_join_dpp's RUNTIME
    // pruning: the filter is a literal, so Catalyst prunes partitions
    // at PLANNING time — non-matching directories are never even
    // listed, the strongest possible pushdown (DPP needs a join to
    // discover the same thing at runtime). The corpus is written ONCE
    // per (session, dir) partitioned by lang (the ensureTable memo,
    // same as the bucket tables); the read filters two of five
    // languages, and LayoutOpsSpec pins PartitionFilters on the scan
    // with partition count 2 — a plan that lists all five directories
    // would be wrong even though its rows agree.
    "q_scan_hivepart" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val pt = s"graft_docs_bylang_$tag"
      ensureTable(s, pt) {
        t(s, d, "documents").write.partitionBy("lang")
          .mode("overwrite").saveAsTable(pt)
      }
      s.table(pt).where($"lang".isin("en", "fr"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang", $"source")
    }),

    "q_join_dpp" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val ft = s"graft_orders_part_$tag"
      val dt = s"graft_status_dim_$tag"
      ensureTable(s, ft) {
        t(s, d, "orders").write.partitionBy("o_orderstatus")
          .mode("overwrite").saveAsTable(ft)
      }
      ensureTable(s, dt) {
        Seq(("O", "open"), ("F", "finished"), ("P", "pending"))
          .toDF("st", "label").write.mode("overwrite").saveAsTable(dt)
      }
      s.table(ft)
        .join(s.table(dt).where($"label" =!= "finished"),
          $"o_orderstatus" === $"st")
        .groupBy($"o_orderpriority").agg(
          count(lit(1)).as("n_orders"),
          r2(sum($"o_totalprice")).as("sum_price"))
        .orderBy($"o_orderpriority")
    }),

    // Runtime bloom-filter join pruning — the ROW-level complement to
    // q_join_dpp's partition-level pruning: the selective predicate
    // lives on the small (creation) side, and InjectRuntimeFilter
    // builds a bloom filter over its join keys that lands on the big
    // (application) side as a might_contain(bloom) predicate
    // BEFORE that side's shuffle — fact rows that cannot join are
    // dropped at the scan instead of being exchanged. At 100 TB this
    // turns the fact's full-width shuffle into a shuffle of roughly
    // the matching fraction; it fires precisely when the fact is NOT
    // partitioned on the filter column (where DPP is helpless).
    // The 10 GB application-side threshold exists to keep tiny scans
    // from paying filter-build cost — the fixtures sit far below it,
    // so the query pins the production shape in a CHILD session
    // (shared SparkContext, own conf): threshold floored, broadcast
    // disabled (the bloom path targets shuffle joins — a broadcast
    // join already has the keys on every executor). Injection is
    // pinned in LayoutOpsSpec; the oracle is the plain join (pruning
    // must not change results).
    "q_join_bloom" -> ((s0, d) => {
      val s = Tables.childSession(s0, "bloom")(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        ("spark.sql.optimizer.runtime.bloomFilter" +
          ".applicationSideScanSizeThreshold") -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      import s.implicits._
      t(s, d, "lineitem")
        .join(t(s, d, "orders").where($"o_orderpriority" === "1-URGENT"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(
          count(lit(1)).as("n_items"),
          r2(sum($"l_extendedprice")).as("sum_price"))
        .orderBy($"l_returnflag")
    }),

    // COST-BASED join reorder — the statistics leg of the layout
    // family: every other join row trusts Catalyst's HEURISTIC order
    // (syntactic, filter-pushdown-informed), which at 100 TB breaks
    // exactly when the written order joins the two big tables first.
    // This row feeds the optimizer real catalog statistics (ANALYZE
    // TABLE ... FOR ALL COLUMNS — row counts + per-column NDV/min/max
    // histograms) and enables CBO + joinReorder in a child session,
    // then runs a 3-table star join DELIBERATELY written worst-first:
    // orders ⋈ customer before the 2-of-25-nation filter. With stats,
    // CostBasedJoinReorder moves the filtered nation dim against
    // customer FIRST (shrinking the fact's build side ~12×) — the
    // stats-vs-heuristic order difference is pinned in LayoutOpsSpec;
    // the oracle is the plain join (reorder must not change results).
    // Tables are the ensureTable-memoized managed copies; ANALYZE
    // rides the same once-per-JVM memo (stats live in the shared
    // catalog, so every later session sees them). The child session
    // also excludes the small-plan rule, whose join hints would
    // pre-empt the reorder at fixture scale.
    "q_sql_cbo" -> ((s0, d) => {
      val s = Tables.childSession(s0, "cbo")(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.optimizer.excludedRules" -> "graft.plans.SmallPlanRule")
      cboSetup(s, d)
      s.sql(cboSql(cboTag(d)))
    }),

    // AQE runtime skew-split join — the RUNTIME complement to
    // q_join_skew_salt's static salting: OptimizeSkewedJoin sees the
    // actual per-partition map output sizes after the shuffle and
    // splits any partition over factor×median into advisory-sized
    // sub-reads, each re-joining against the full matching build
    // partition. Where salting must guess the hot keys at plan time,
    // AQE needs no key knowledge — it fixes whatever skew the data
    // turns out to have, which at 100 TB is the only strategy that
    // survives a drifting key distribution. Declared in a child
    // session flooring the size thresholds (the fixture's partitions
    // are far below the 256 MB production advisory — identical move
    // to q_join_bloom's threshold floor) with broadcast disabled (the
    // split targets shuffle joins) and coalescing off (coalescing
    // re-merges what the split divides at fixture sizes). The query
    // ends in a GLOBAL aggregate deliberately: AQE refuses a split
    // that would force an extra downstream shuffle, so a groupBy on
    // the join key would silently disable it — documented trap. The
    // split firing (skew=true) is pinned on controlled synthetic skew
    // in AdaptiveSpec; the oracle is the plain join — the runtime
    // re-plan must not change results.
    "q_join_skew_aqe" -> ((s0, d) => {
      val s = Tables.childSession(s0, "skewaqe")(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
          -> "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      import s.implicits._
      t(s, d, "events")
        .join(t(s, d, "customer"), $"user_id" === $"c_custkey")
        .agg(count(lit(1)).as("n_events"),
          r2(sum($"value")).as("sum_value"))
    }),

    // File-compaction planning — the layout family's maintenance leg
    // next to Z-order and bucketing: model documents' physical layout
    // as (source, hash-shard) micro-files, then bin consecutive files
    // into ~8 KiB compaction groups by cumulative size (bin = bytes
    // BEFORE the file DIV target — first-fit in file order, exact
    // integer arithmetic). Per-bin rollup reports what each compacted
    // output would contain. At 100 TB this is the small-files
    // maintenance pass every streaming-ingest table needs; the plan is
    // one keyed agg + a PARTITIONED window (per source — never
    // global) + one keyed rollup, all partition-parallel. Real byte
    // sizes come from the fixture's n_chars, so both engines bin the
    // identical numbers.
    "q_pipe_compact" -> ((s, d) => {
      import s.implicits._
      val target = 8192L
      val files = t(s, d, "documents")
        .groupBy($"source",
          (Tables.h60($"doc_id".cast("string")) % 16).as("file_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("bytes"))
      val w = Window.partitionBy($"source").orderBy($"file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum", coalesce(sum($"bytes").over(w), lit(0L)))
        .withColumn("bin", expr(s"cum DIV $target"))
        .groupBy($"source", $"bin").agg(
          count(lit(1)).as("n_files"),
          sum($"n_docs").as("n_docs"),
          sum($"bytes").as("bin_bytes"),
          min($"file_id").as("first_file"),
          max($"file_id").as("last_file"))
        .orderBy($"source", $"bin")
    }),

    // Keyed snapshot diff: reconstruct "yesterday's" orders snapshot
    // deterministically from the current one (5% of keys not yet
    // inserted → ADDED today; 5% carried keys that no longer exist →
    // REMOVED; open-status rows repriced in place → CHANGED), then
    // classify via ONE full-outer join on the key and report per-class
    // counts plus the total absolute price drift. The synthetic
    // old-snapshot derivation uses the repo's cross-engine md5-60bit
    // hash so both engines rebuild the identical snapshot.
    "q_pipe_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "orders")
        .withColumn("hb", Tables.h60($"o_orderkey".cast("string")) % 20)
      val old = base.where($"hb" =!= 0).select(
        when($"hb" === 1, $"o_orderkey" + 10000000L)
          .otherwise($"o_orderkey").as("k"),
        when($"o_orderstatus" === "O", floor($"o_totalprice" * 95 + 0.5) / 100)
          .otherwise($"o_totalprice").as("price_old"))
      val now = t(s, d, "orders")
        .select($"o_orderkey".as("k"), $"o_totalprice".as("price_new"))
      old.join(now, Seq("k"), "full_outer")
        .withColumn("class",
          when($"price_old".isNull, "added")
            .when($"price_new".isNull, "removed")
            .when($"price_old" =!= $"price_new", "changed")
            .otherwise("unchanged"))
        .groupBy($"class").agg(
          count(lit(1)).as("n"),
          r2(sum(coalesce(abs($"price_new" - $"price_old"), lit(0.0))))
            .as("price_delta"))
        .orderBy($"class")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_pipe_zorder" -> """
      WITH ext AS (
        SELECT max(l_partkey) AS pmax, max(l_suppkey) AS smax FROM lineitem),
      b AS (
        SELECT CAST(FLOOR(l_partkey * 64.0 / (pmax + 1)) AS BIGINT) AS pb,
               CAST(FLOOR(l_suppkey * 64.0 / (smax + 1)) AS BIGINT) AS sb
        FROM lineitem CROSS JOIN ext),
      z AS (
        SELECT pb, sb,
               ((pb >> 0) & 1) * 1    + ((sb >> 0) & 1) * 2
             + ((pb >> 1) & 1) * 4    + ((sb >> 1) & 1) * 8
             + ((pb >> 2) & 1) * 16   + ((sb >> 2) & 1) * 32
             + ((pb >> 3) & 1) * 64   + ((sb >> 3) & 1) * 128
             + ((pb >> 4) & 1) * 256  + ((sb >> 4) & 1) * 512
             + ((pb >> 5) & 1) * 1024 + ((sb >> 5) & 1) * 2048 AS zv
        FROM b)
      SELECT zv >> 6 AS file_id, count(*) AS n,
             min(pb) AS pb_min, max(pb) AS pb_max,
             min(sb) AS sb_min, max(sb) AS sb_max
      FROM z
      GROUP BY 1
      ORDER BY file_id""",

    "q_join_bucket" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Pruning must not change results: the oracle is the PLAIN join
    // over the raw parquet, no partitioned table involved.
    // Partitioned layout must not change results: plain filter + agg
    // over the raw parquet.
    "q_scan_hivepart" -> """
      SELECT lang, source, count(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE lang IN ('en', 'fr')
      GROUP BY lang, source
      ORDER BY lang, source""",

    "q_join_dpp" -> """
      WITH dim(st, label) AS
        (VALUES ('O','open'), ('F','finished'), ('P','pending'))
      SELECT o_orderpriority, count(*) AS n_orders,
             FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
      FROM orders JOIN dim ON o_orderstatus = st
      WHERE label <> 'finished'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Pruning must not change results: the plain filtered join.
    "q_join_bloom" -> """
      SELECT l_returnflag, count(*) AS n_items,
             FLOOR(SUM(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // Reorder must not change results: the plain 3-table join.
    "q_sql_cbo" -> """
      SELECT n_name, count(*) AS n_orders,
             FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY n_name
      ORDER BY n_name""",

    // The plain join — the runtime skew split must be result-invariant.
    "q_join_skew_aqe" -> """
      SELECT count(*) AS n_events,
             FLOOR(SUM(value) * 100 + 0.5) / 100 AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey""",

    "q_pipe_compact" -> """
      WITH f AS (
        SELECT source,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 16 AS file_id,
               count(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY 1, 2),
      c AS (
        SELECT *, COALESCE(SUM(bytes) OVER (PARTITION BY source
                 ORDER BY file_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
        FROM f)
      SELECT source, CAST(cum // 8192 AS BIGINT) AS bin, count(*) AS n_files,
             CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
             min(file_id) AS first_file, max(file_id) AS last_file
      FROM c
      GROUP BY source, bin
      ORDER BY source, bin""",

    "q_pipe_snapshot_diff" -> """
      WITH b AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
                 AS BIGINT) % 20 AS hb
        FROM orders),
      old AS (
        SELECT CASE WHEN hb = 1 THEN o_orderkey + 10000000
                    ELSE o_orderkey END AS k,
               CASE WHEN o_orderstatus = 'O'
                    THEN FLOOR(o_totalprice * 95 + 0.5) / 100
                    ELSE o_totalprice END AS price_old
        FROM b WHERE hb <> 0),
      now_s AS (
        SELECT o_orderkey AS k, o_totalprice AS price_new FROM orders)
      SELECT CASE WHEN price_old IS NULL THEN 'added'
                  WHEN price_new IS NULL THEN 'removed'
                  WHEN price_old <> price_new THEN 'changed'
                  ELSE 'unchanged' END AS class,
             count(*) AS n,
             FLOOR(SUM(COALESCE(ABS(price_new - price_old), 0)) * 100 + 0.5)
               / 100 AS price_delta
      FROM old FULL OUTER JOIN now_s USING (k)
      GROUP BY 1
      ORDER BY class""",
  )
}
