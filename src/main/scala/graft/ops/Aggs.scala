package graft.ops

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.4 Aggregation — the Reducer/Combiner surface of the reference
  * re-expressed as Spark grouped aggregation (SURVEY §2.4).
  *
  * Every groupBy here plans as HashAggregateExec partial → exchange →
  * final, i.e. the map-side Combiner the reference hand-writes is
  * automatic. At 100 TB the shuffle carries only one row per group per
  * partition — the right shape for a 1000-executor cluster.
  */
object Aggs {

  /** Geometric mean as a typed Aggregator (custom-Reducer surface).
    * Sum-of-logs buffer: associative + commutative, merge-friendly,
    * so partial aggregation still applies across executors.
    */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1L)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0L) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val queries: Map[String, Q] = Map(
    "q_agg_global" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(avg($"l_quantity"), 2).as("avg_qty"),
        round(min($"l_extendedprice"), 2).as("min_price"),
        round(max($"l_extendedprice"), 2).as("max_price"))
    }),

    // LISTAGG WITHIN GROUP (SQL:2023, new in Spark 4) — ordered string
    // aggregation, the report-rendering surface ports keep tripping
    // on: per market segment, the lexicographically-ordered roster of
    // BUILDING-segment-beating customer names. The WITHIN GROUP order
    // is part of the RESULT, not a hint — an unordered collect would
    // be nondeterministic across partitions; listagg's sort happens
    // inside the aggregate buffer per group (keyed, partial-merge
    // capable), never a global sort. Roster bounded by the HAVING-
    // style filter to keep row width sane at scale (the production
    // guard for a group-sized string).
    "q_agg_listagg" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .where($"c_acctbal" > 4000)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)")
            .as("roster"))
        .orderBy($"c_mktsegment")
    }),

    // EXACT DECIMAL aggregation — the financial-correctness surface:
    // every other money column here rides doubles disciplined by the
    // repo's floor-cent snapping; this row instead casts to
    // DECIMAL(18,2) at the scan and lets Tungsten's decimal aggregate
    // carry EXACT cents end-to-end — sum order, partial aggregation,
    // and engine choice provably cannot move a cent, which is the
    // property a billing pipeline needs stated, not approximated.
    // At 100 TB decimal sums stay partial-aggregable (128-bit
    // accumulators); the cost vs doubles is the documented trade.
    "q_agg_decimal" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select($"o_orderpriority",
          $"o_totalprice".cast("decimal(18,2)").as("p"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          // The AGGREGATION stays exact decimal — Tungsten 128-bit
          // partials, no cent can move regardless of sum order. Only
          // the FINAL output representation is cast to DOUBLE: every
          // value is a whole number of cents < 2^53 (max sum ≈ 7.6e10
          // cents), so the cast is value-exact, and the differential
          // hash then compares IEEE doubles identically on both
          // engines instead of engine-specific DECIMAL renderings
          // (r11 verdict: values+types were byte-identical, only the
          // hash's DECIMAL canonicalization split).
          sum($"p").cast("double").as("sum_price"),
          min($"p").cast("double").as("min_price"),
          max($"p").cast("double").as("max_price"))
        .orderBy($"o_orderpriority")
    }),

    "q_agg_group" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
            .as("sum_disc_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")
            * (lit(1) + $"l_tax")), 2).as("sum_charge"),
          round(avg($"l_quantity"), 2).as("avg_qty"),
          round(avg($"l_extendedprice"), 2).as("avg_price"),
          round(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    "q_agg_having" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "nation"), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_cust"),
             round(avg($"c_acctbal"), 2).as("avg_bal"))
        .filter($"n_cust" > 55 && $"avg_bal" > 0)
        .orderBy($"n_name")
    }),

    "q_agg_distinct" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderstatus")
        .agg(countDistinct($"o_custkey").as("nd_cust"),
             sum_distinct($"o_custkey").as("sd_cust"))
        .orderBy($"o_orderstatus")
    }),

    // HLL++ sketch — no DuckDB oracle (sketch families differ);
    // exactness asserted ±5% in OpsSpec instead (SURVEY §2.4).
    "q_agg_approx" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders").agg(
        approx_count_distinct($"o_custkey").as("approx_nd_cust"))
    }),

    "q_agg_rollup" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "nation"), $"c_nationkey" === $"n_nationkey")
        .join(t(s, d, "region"), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"),
             grouping($"r_name").cast("int").as("g_r"),
             grouping($"n_name").cast("int").as("g_n"))
        .orderBy($"g_r", $"g_n", $"r_name".asc_nulls_first,
                 $"n_name".asc_nulls_first)
    }),

    "q_agg_cube" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy($"l_returnflag".asc_nulls_first,
                 $"l_linestatus".asc_nulls_first)
    }),

    // Deliberately enters via spark.sql — exercises the SQL
    // parse→analyze path (SURVEY §3.2 EP1 note). Its parquet reads
    // resolve to the session's cached tables (`Tables.sql`).
    "q_agg_gsets" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT c_mktsegment, n_name, count(*) AS n
        FROM parquet.`$d/customer.parquet` c
          JOIN parquet.`$d/nation.parquet` n ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST
      """)
    }),

    // Gini coefficient of order value per priority class — the
    // inequality/concentration metric (is revenue dominated by a few
    // whale orders?). Rank-weighted form over the sorted sequence:
    // G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. One rank window per group
    // (same secondary-sort shape as q_win_rank) + one keyed agg.
    "q_agg_gini" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"c_seg").orderBy($"x", $"okey")
      val r = t(s, d, "orders")
        .select($"o_orderkey".as("okey"), $"o_totalprice".as("x"),
          $"o_orderpriority".as("c_seg"))
        .withColumn("i", row_number().over(w))
      r.groupBy($"c_seg")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"i" * $"x").as("six"))
        .select($"c_seg".as("priority"), $"n".as("n_orders"),
          (floor((lit(2.0) * $"six" / ($"n" * $"sx")
            - ($"n" + lit(1.0)) / $"n") * 1e4 + 0.5) / 1e4).as("gini"))
        .orderBy($"priority")
    }),

    // TPC-H-Q13-shaped "group by an aggregate": per-customer order
    // counts, then the distribution of those counts (how many
    // customers placed k orders). Two chained keyed aggregations —
    // the second groups the FIRST's output, so its input is already
    // |customers|-sized, not |orders|-sized.
    "q_agg_countdist" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "orders"), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey").agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count").agg(count(lit(1)).as("n_customers"))
        .orderBy($"n_customers".desc, $"c_count".desc)
    }),

    // Higher central moments — skewness and excess kurtosis — derived
    // from raw power sums with the SAME spelled-out formula in both
    // engines (built-in skewness/kurtosis differ cross-engine in
    // sample-vs-population convention, so neither is used). One pass,
    // four partial-aggregable SUMs per group — the moment-sketch shape
    // that survives any partitioning.
    // Linear-regression aggregates: per event type, the OLS trend of
    // event value over time (slope per hour, intercept at the month
    // origin, fit quality) — the per-entity trend-feature extractor
    // (is a metric drifting up?) and the one aggregate family
    // (regr_*) nothing else exercises. x is hours since 2024-01-01
    // so the regressor is well-scaled (0..720, exact µs integers
    // divided by a constant) — never regress on raw epoch micros,
    // where the variance computation cancels catastrophically. All
    // regr_* are partial-aggregable (sums of x, y, xy, x², y²), so
    // the plan is one map-side-combined keyed agg — scales like any
    // sum. Outputs floor-rounded; r2 at 1e6 (its magnitude here is
    // 1e-4 — exact-input doubles agree far tighter cross-engine).
    "q_agg_regr" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .withColumn("x",
          (expr("unix_micros(ts)") - 1704067200000000L) / 3.6e9)
        .groupBy($"event_type")
        .agg(
          expr("regr_count(value, x)").cast("long").as("n"),
          (floor(expr("regr_slope(value, x)") * 1e4 + 0.5) / 1e4)
            .as("slope"),
          (floor(expr("regr_intercept(value, x)") * 1e4 + 0.5) / 1e4)
            .as("icept"),
          (floor(expr("regr_r2(value, x)") * 1e6 + 0.5) / 1e6).as("r2"))
        .orderBy($"event_type")
    }),

    "q_agg_moments" -> ((s, d) => {
      import s.implicits._
      val x = $"l_quantity"
      val base = t(s, d, "lineitem").groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      val m = $"s1" / $"n"
      val skew = ($"s3" / $"n" - lit(3) * m * ($"s2" / $"n") + lit(2) * m * m * m) /
        pow($"s2" / $"n" - m * m, 1.5)
      val kurt = ($"s4" / $"n" - lit(4) * m * ($"s3" / $"n") +
        lit(6) * m * m * ($"s2" / $"n") - lit(3) * m * m * m * m) /
        pow($"s2" / $"n" - m * m, 2) - 3
      base.select($"l_returnflag".as("flag"), $"n",
          (floor(skew * 1e4 + 0.5) / 1e4).as("skewness"),
          (floor(kurt * 1e4 + 0.5) / 1e4).as("ex_kurtosis"))
        .orderBy($"flag")
    }),

    "q_agg_stats" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(stddev_samp($"l_quantity"), 2).as("sd_qty"),
          round(var_samp($"l_quantity"), 2).as("var_qty"),
          round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qe"),
          round(covar_samp($"l_quantity", $"l_extendedprice"), 2)
            .as("covar_qe"))
        .orderBy($"l_returnflag")
    }),

    // CORRELATION MATRIX in ONE scan — the feature-redundancy screen
    // run before training on tabular features: Pearson r (and sample
    // covariance) for every unordered pair of the four lineitem
    // measures. The pair fan-out is a per-row Generate (explode of a
    // 6-struct literal array), so the table is READ ONCE and each row
    // contributes its 6 pair observations map-side; the only shuffle
    // is the 6-key partial+final hash agg. The k-scans alternative
    // reads the corpus C(k,2) times — at 100 TB the difference between
    // one pass and six. Generate + single-scan pinned in
    // PlanShapeSpec. corr/covar round at the shared floor grid (the
    // ratio is numerically stable; q_agg_stats set the precedent).
    "q_agg_corrmat" -> ((s, d) => {
      import s.implicits._
      val cols = Seq("quantity", "extendedprice", "discount", "tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield struct(
        lit(cols(i) + "~" + cols(j)).as("pair"),
        col("l_" + cols(i)).as("x"), col("l_" + cols(j)).as("y"))
      t(s, d, "lineitem")
        .select(explode(array(pairs: _*)).as("p"))
        .select($"p.pair".as("pair"), $"p.x".as("x"), $"p.y".as("y"))
        .groupBy($"pair")
        .agg(count(lit(1)).as("n"),
          (floor(corr($"x", $"y") * 1e4 + 0.5) / 1e4).as("corr_xy"),
          (floor(covar_samp($"x", $"y") * 100 + 0.5) / 100).as("covar_xy"))
        .orderBy($"pair")
    }),

    "q_agg_collect" -> ((s, d) => {
      import s.implicits._
      // collect_set order is nondeterministic; sort_array canonicalizes.
      // Serialized to a string because the driver's pandas-based hash
      // compare cannot hash array cells (round-1 failure).
      t(s, d, "documents")
        .groupBy($"lang")
        .agg(array_join(sort_array(collect_set($"source")), "|")
          .as("sources"))
        .orderBy($"lang")
    }),

    "q_udaf_typed" -> ((s, d) => {
      import s.implicits._
      val gm = udaf(GeoMean)
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(round(gm($"l_extendedprice"), 2).as("geomean_price"))
        .orderBy($"l_returnflag")
    }),

    // Boolean aggregates: ALL/ANY per group — quorum checks
    // ("every order shipped?", "any urgent?") without count detours.
    // Partial-aggregable like any AND/OR fold.
    "q_agg_bool" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders").groupBy($"o_orderpriority").agg(
          expr("bool_and(o_totalprice > 1000)").as("all_above_1k"),
          expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
          expr("bool_and(o_custkey IS NOT NULL)").as("all_keyed"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // Deterministic MODE per group: most frequent l_quantity, ties to
    // the smallest value. Spark's built-in `mode()` (and DuckDB's) is
    // explicitly nondeterministic on ties, so the engine's mode is the
    // count + row_number composition — two keyed shuffles, both
    // partial-aggregable, and the tie rule is part of the result.
    "q_agg_mode" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_returnflag").orderBy($"n".desc, $"l_quantity")
      t(s, d, "lineitem")
        .groupBy($"l_returnflag", $"l_quantity")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"l_returnflag",
          round($"l_quantity", 2).as("mode_qty"), $"n")
        .orderBy($"l_returnflag")
    }),

    // Mergeable-sketch surface beyond approx_count_distinct's opaque
    // HLL++: explicit Apache DataSketches HLL objects. Per-group
    // sketches are built independently (the pre-aggregated sketch
    // TABLE a warehouse stores) then union-merged — register-wise max,
    // so merging per-group sketches is lossless vs sketching the whole
    // column (asserted exactly equal in OpsSpec). no-oracle: sketch
    // internals aren't reproducible in DuckDB; rows-only + ±5% spec.
    "q_agg_hll" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders").groupBy($"o_orderstatus")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
        .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as long)")
          .as("est_custkeys"))
    }),

    // EXACT distinct counting that stays partial-aggregable: custkeys
    // set bits in per-bucket roaring-style bitmaps (Spark's bitmap_*
    // aggregates), bucket bitmaps OR-merge map-side, and the final
    // count is a sum of popcounts. At 100 TB this replaces the
    // expand/rewrite shuffle of count(DISTINCT) with fixed-width
    // bitmap buffers per (group, bucket) — the same trade a bitmap
    // index materializes — while staying exact, unlike HLL.
    "q_agg_bitmap" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderstatus",
          expr("bitmap_bucket_number(o_custkey)").as("b"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
          .as("bm"))
        .groupBy($"o_orderstatus")
        .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_custkeys"))
        .orderBy($"o_orderstatus")
    }),

    // Single-pass deterministic ARGMAX: the top-balance customer per
    // segment via max(struct(bal, -key)) — struct ordering makes the
    // tie rule (smallest key) part of the aggregate, so no window/
    // second shuffle is needed and the agg stays partial-aggregable.
    // The built-in max_by is nondeterministic on ties; this is not.
    "q_agg_argmax" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .groupBy($"c_mktsegment")
        .agg(max(struct($"c_acctbal".as("bal"), (-$"c_custkey").as("nk")))
          .as("mx"))
        .select($"c_mktsegment", $"mx.bal".as("top_bal"),
          (-$"mx.nk").as("top_custkey"))
        .orderBy($"c_mktsegment")
    }),

    // Equi-width histogram: bucket = floor(qty/5). The bucketing is a
    // per-row projection, so this is a plain one-shuffle groupBy —
    // the distributed histogram pattern that replaces collecting
    // values to a driver. min/max per bucket are exact (order-free).
    "q_agg_histogram" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy(floor($"l_quantity" / 5).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min($"l_quantity"), 2).as("min_qty"),
          round(max($"l_quantity"), 2).as("max_qty"))
        .orderBy($"bucket")
    }),

    // COUNT-MIN SKETCH point queries (Cormode & Muthukrishnan 2005),
    // FULLY ORACLED — unlike HLL (q_agg_hll), a CM sketch is
    // deterministic given its hash family, and ours is the repo-wide
    // salted h60, so DuckDB rebuilds the BIT-IDENTICAL sketch and the
    // differential covers the whole estimate path, not just a law.
    // Shape: the d×w counter grid (d=4, w=512) is a keyed
    // partial-aggregable count — at 100 TB the stream collapses
    // map-side to ≤ d·w counters per partition, the mergeable
    // fixed-memory alternative when the exact token census
    // (q_text_wordcount) is too wide to shuffle. Each token is hashed
    // ONCE (salted h60), and the d rows take four DISJOINT 9-bit
    // slices of the 60-bit digest — independent under md5 uniformity,
    // and 4× cheaper than four per-salt digests (measured 2.1 s →
    // 0.9 s at sf0.1: the md5 over every token occurrence IS the
    // cost). Probes: the 10 exactly-most-frequent tokens
    // (deterministic tie-break), each estimated as min over its d
    // counters. The sketch never underestimates (est ≥ true for every
    // probe — asserted in OpsSpec) and overestimates by at most the
    // collision mass in the lightest of d rows.
    "q_agg_countmin" -> ((s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("tok"))
      val hashed = toks
        .withColumn("h", Tables.h60(concat(lit("cm:"), $"tok")))
      val sketch = hashed
        .select($"h", explode(expr("sequence(0, 3)")).as("i"))
        .groupBy($"i", expr("shiftright(h, i * 9) & 511").as("b"))
        .agg(count(lit(1)).as("c"))
      val probes = toks.groupBy($"tok").agg(count(lit(1)).as("n_true"))
        .orderBy($"n_true".desc, $"tok").limit(10)
      sketch
        .join(broadcast(probes
          .withColumn("h", Tables.h60(concat(lit("cm:"), $"tok")))
          .select($"tok", $"n_true", explode(expr("sequence(0, 3)")).as("i"),
            $"h")
          .withColumn("b", expr("shiftright(h, i * 9) & 511"))), Seq("i", "b"))
        .groupBy($"tok", $"n_true").agg(min($"c").as("n_est"))
        .orderBy($"n_true".desc, $"tok")
    }),

    // OHLC DOWNSAMPLING — first/high/low/last per (user, day) over
    // the event series: the standard time-bucket downsample (finance
    // bars; a metrics pipeline reads the same shape as "daily open/
    // peak/trough/close per counter", and "latest snapshot per key
    // per day" is the close column alone). ONE partial-aggregable
    // pass: min_by/max_by carry (value, ts) pairs through the map-side
    // combine, so no window and no per-bucket sort anywhere — at
    // 100 TB this is a plain keyed agg on (user, day), nothing else.
    // Deterministic because events.ts is globally unique (asserted in
    // PipeOpsSpec); values compare raw (selection only, no float
    // arithmetic to drift).
    "q_agg_ohlc" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy($"user_id", to_date($"ts").as("day"))
        .agg(min_by($"value", $"ts").as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", $"ts").as("close"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"day")
    }),

    // BLOOM-FILTER MEMBERSHIP (Bloom 1970), FULLY ORACLED — the same
    // determinism argument as q_agg_countmin: given the hash family
    // (salted h60, k = 4 functions as four DISJOINT 12-bit slices of
    // ONE digest — the hash-once move), the m = 4096-bit filter is a
    // pure function of the member set, so DuckDB rebuilds it
    // BIT-IDENTICALLY and the differential covers build + probe +
    // the actual false positives, not just a rate law. The filter is
    // represented as the DISTINCT set-bit-position table (≤ m rows):
    // the member stream collapses map-side to ≤ m positions per
    // partition, and two filters MERGE as a union of bit sets — the
    // mergeable membership sketch that backs semi-join pruning when
    // the build side is too big to broadcast raw (q_join_bloom is
    // Spark's built-in consumer of the idea; this row is the sketch
    // itself under test). Semantics: members = customers with a
    // > 490000 order (~18% of customers at every SF); probes = EVERY
    // customer; output (c_custkey, truly_member, bloom_hit) — no
    // false negative is possible (OpsSpec law), false positives
    // appear as truly_member=false / bloom_hit=true rows (m = 4096 is
    // sized so the sf0.01 differential EXERCISES them; production
    // sizes m ≈ 10·n bits for ~1% fp, and the m=16384 headroom swap
    // changes nothing else).
    "q_agg_bloom" -> ((s, d) => {
      import s.implicits._
      val members = t(s, d, "orders").where($"o_totalprice" > 490000)
        .select($"o_custkey".cast("long").as("k")).distinct()
      val bits = members
        .withColumn("h", Tables.h60(concat(lit("bf:"), $"k".cast("string"))))
        .select(explode(expr("sequence(0, 3)")).as("i"), $"h")
        .select(expr("shiftright(h, i * 12) & 4095").as("pos"))
        .distinct()
      val probes = t(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"))
      // Each probe's 4 hash slots checked against the bit set: a slot
      // matches at most one (distinct) bit row, so k_hit counts slots
      // found and membership is k_hit = 4 — duplicate positions
      // within one probe stay correct by construction.
      val hits = probes
        .withColumn("h",
          Tables.h60(concat(lit("bf:"), $"c_custkey".cast("string"))))
        .select($"c_custkey", explode(expr("sequence(0, 3)")).as("i"), $"h")
        .withColumn("pos", expr("shiftright(h, i * 12) & 4095"))
        .join(broadcast(bits), Seq("pos"))
        .groupBy($"c_custkey").agg(count(lit(1)).as("k_hit"))
      probes
        .join(hits, Seq("c_custkey"), "left")
        .join(members.withColumn("m", lit(true))
          .select($"k".as("c_custkey"), $"m"), Seq("c_custkey"), "left")
        .select($"c_custkey",
          coalesce($"m", lit(false)).as("truly_member"),
          coalesce($"k_hit" === 4, lit(false)).as("bloom_hit"))
        .orderBy($"c_custkey")
    }),
  )

  val oracle: Map[String, String] = Map(
    // Rebuilds the IDENTICAL d=4 / w=512 sketch — hash once per token
    // occurrence, four disjoint 9-bit slices of the 60-bit digest as
    // the row buckets, every counter bit-equal to Spark's — then
    // probes it the same way.
    "q_agg_countmin" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      hashed AS (
        SELECT CAST('0x' || substring(md5('cm:' || tok), 1, 15) AS BIGINT)
                 AS h
        FROM toks),
      sk AS MATERIALIZED (
        SELECT i, (h >> (i * 9)) & 511 AS b, count(*) AS c
        FROM hashed
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
        GROUP BY 1, 2),
      probes AS MATERIALIZED (
        SELECT tok, count(*) AS n_true,
               CAST('0x' || substring(md5('cm:' || tok), 1, 15) AS BIGINT)
                 AS h
        FROM toks
        GROUP BY tok ORDER BY n_true DESC, tok LIMIT 10),
      pb AS (
        SELECT p.tok, p.n_true, s.i, (p.h >> (s.i * 9)) & 511 AS b
        FROM probes p
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s)
      SELECT p.tok, p.n_true, MIN(k.c) AS n_est
      FROM pb p JOIN sk k ON p.i = k.i AND p.b = k.b
      GROUP BY p.tok, p.n_true
      ORDER BY n_true DESC, tok""",

    "q_agg_ohlc" -> """
      SELECT user_id, CAST(ts AS DATE) AS day,
             arg_min(value, ts) AS open,
             MAX(value) AS high, MIN(value) AS low,
             arg_max(value, ts) AS close,
             count(*) AS n_events
      FROM events
      GROUP BY 1, 2
      ORDER BY user_id, day""",

    // Rebuilds the IDENTICAL m=4096 / k=4 Bloom filter — hash once
    // per member, four disjoint 12-bit slices as the bit positions,
    // the filter as the distinct-positions table — then probes every
    // customer the same way. bloom_hit must agree bit-for-bit, false
    // positives included.
    "q_agg_bloom" -> """
      WITH members AS MATERIALIZED (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
        FROM orders WHERE o_totalprice > 490000),
      bits AS MATERIALIZED (
        SELECT DISTINCT
               (CAST('0x' || substring(md5('bf:' || CAST(k AS VARCHAR)),
                  1, 15) AS BIGINT) >> (i * 12)) & 4095 AS pos
        FROM members
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
      probes AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer),
      pb AS (
        SELECT p.c_custkey,
               (CAST('0x' || substring(
                  md5('bf:' || CAST(p.c_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) >> (s.i * 12)) & 4095 AS pos
        FROM probes p
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s),
      hits AS (
        SELECT pb.c_custkey, count(*) AS k_hit
        FROM pb JOIN bits USING (pos) GROUP BY pb.c_custkey)
      SELECT p.c_custkey,
             (m.k IS NOT NULL) AS truly_member,
             COALESCE(h.k_hit = 4, FALSE) AS bloom_hit
      FROM probes p
      LEFT JOIN hits h ON p.c_custkey = h.c_custkey
      LEFT JOIN members m ON p.c_custkey = m.k
      ORDER BY p.c_custkey""",

    "q_agg_regr" -> """
      WITH e AS (
        SELECT event_type, value,
               (epoch_us(ts) - 1704067200000000) / 3.6e9 AS x
        FROM events)
      SELECT event_type,
             CAST(regr_count(value, x) AS BIGINT) AS n,
             FLOOR(regr_slope(value, x) * 1e4 + 0.5) / 1e4 AS slope,
             FLOOR(regr_intercept(value, x) * 1e4 + 0.5) / 1e4 AS icept,
             FLOOR(regr_r2(value, x) * 1e6 + 0.5) / 1e6 AS r2
      FROM e
      GROUP BY event_type
      ORDER BY event_type""",

    // The bitmap path must agree with the plain exact distinct.
    "q_agg_bitmap" -> """
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custkeys
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q_agg_argmax" -> """
      SELECT c_mktsegment, top_bal, top_custkey FROM (
        SELECT c_mktsegment, c_acctbal AS top_bal, c_custkey AS top_custkey,
               row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer)
      WHERE rn = 1
      ORDER BY c_mktsegment""",

    "q_agg_mode" -> """
      SELECT l_returnflag, mode_qty, n FROM (
        SELECT l_returnflag, ROUND(l_quantity, 2) AS mode_qty, n,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY n DESC, l_quantity) AS rn
        FROM (SELECT l_returnflag, l_quantity, count(*) AS n
              FROM lineitem GROUP BY l_returnflag, l_quantity))
      WHERE rn = 1
      ORDER BY l_returnflag""",

    "q_agg_global" -> """
      SELECT count(*) AS n,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(AVG(l_quantity), 2) AS avg_qty,
             ROUND(MIN(l_extendedprice), 2) AS min_price,
             ROUND(MAX(l_extendedprice), 2) AS max_price
      FROM lineitem""",

    "q_agg_listagg" -> """
      SELECT c_mktsegment, count(*) AS n_customers,
             string_agg(c_name, ',' ORDER BY c_name) AS roster
      FROM customer
      WHERE c_acctbal > 4000
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Exact decimal aggregation on both sides; the FINAL columns are
    // cast to DOUBLE (value-exact: whole cents < 2^53) so the hash
    // compares IEEE doubles, not engine-specific DECIMAL renderings.
    "q_agg_decimal" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q_agg_group" -> """
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             ROUND(AVG(l_quantity), 2) AS avg_qty,
             ROUND(AVG(l_extendedprice), 2) AS avg_price,
             ROUND(AVG(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q_agg_having" -> """
      SELECT n_name, count(*) AS n_cust,
             ROUND(AVG(c_acctbal), 2) AS avg_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      HAVING count(*) > 55 AND ROUND(AVG(c_acctbal), 2) > 0
      ORDER BY n_name""",

    "q_agg_distinct" -> """
      SELECT o_orderstatus,
             count(DISTINCT o_custkey) AS nd_cust,
             CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sd_cust
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q_agg_rollup" -> """
      SELECT r_name, n_name, count(*) AS n_cust,
             CAST(GROUPING(r_name) AS INT) AS g_r,
             CAST(GROUPING(n_name) AS INT) AS g_n
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""",

    "q_agg_cube" -> """
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_agg_gsets" -> """
      SELECT c_mktsegment, n_name, count(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
      ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""",

    "q_agg_gini" -> """
      WITH r AS (
        SELECT c_seg, x,
               row_number() OVER (PARTITION BY c_seg ORDER BY x, okey) AS i
        FROM (SELECT o_orderkey AS okey, o_totalprice AS x,
                     o_orderpriority AS c_seg FROM orders)),
      g AS (SELECT c_seg, count(*) AS n, SUM(x) AS sx, SUM(i * x) AS six
            FROM r GROUP BY c_seg)
      SELECT c_seg AS priority, CAST(n AS BIGINT) AS n_orders,
             FLOOR((2.0 * six / (n * sx) - (n + 1.0) / n) * 1e4 + 0.5)
               / 1e4 AS gini
      FROM g
      ORDER BY priority""",

    "q_agg_countdist" -> """
      WITH co AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      SELECT c_count, count(*) AS n_customers
      FROM co
      GROUP BY c_count
      ORDER BY n_customers DESC, c_count DESC""",

    "q_agg_moments" -> """
      WITH s AS (
        SELECT l_returnflag AS flag, count(*) AS n,
               SUM(l_quantity) AS s1,
               SUM(l_quantity * l_quantity) AS s2,
               SUM(l_quantity * l_quantity * l_quantity) AS s3,
               SUM(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
        FROM lineitem GROUP BY l_returnflag)
      SELECT flag, n,
             FLOOR((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                   / POWER(s2/n - (s1/n)*(s1/n), 1.5) * 1e4 + 0.5) / 1e4
               AS skewness,
             FLOOR(((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                     - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                   / POWER(s2/n - (s1/n)*(s1/n), 2) - 3) * 1e4 + 0.5) / 1e4
               AS ex_kurtosis
      FROM s
      ORDER BY flag""",

    "q_agg_stats" -> """
      SELECT l_returnflag,
             ROUND(stddev_samp(l_quantity), 2) AS sd_qty,
             ROUND(var_samp(l_quantity), 2) AS var_qty,
             ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qe,
             ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qe
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // The oracle reads the table once per pair — it need not be
    // single-pass, only equal to the one-scan Generate form.
    "q_agg_corrmat" -> """
      WITH p AS (
        SELECT 'quantity~extendedprice' AS pair,
               l_quantity AS x, l_extendedprice AS y FROM lineitem
        UNION ALL SELECT 'quantity~discount', l_quantity, l_discount
        FROM lineitem
        UNION ALL SELECT 'quantity~tax', l_quantity, l_tax FROM lineitem
        UNION ALL SELECT 'extendedprice~discount', l_extendedprice,
               l_discount FROM lineitem
        UNION ALL SELECT 'extendedprice~tax', l_extendedprice, l_tax
        FROM lineitem
        UNION ALL SELECT 'discount~tax', l_discount, l_tax FROM lineitem)
      SELECT pair, count(*) AS n,
             FLOOR(corr(x, y) * 1e4 + 0.5) / 1e4 AS corr_xy,
             FLOOR(covar_samp(x, y) * 100 + 0.5) / 100 AS covar_xy
      FROM p
      GROUP BY pair
      ORDER BY pair""",

    "q_agg_collect" -> """
      SELECT lang,
             array_to_string(list_sort(list(DISTINCT source)), '|') AS sources
      FROM documents
      GROUP BY lang
      ORDER BY lang""",

    "q_udaf_typed" -> """
      SELECT l_returnflag,
             ROUND(EXP(SUM(LN(l_extendedprice)) / count(*)), 2) AS geomean_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q_agg_bool" -> """
      SELECT o_orderpriority,
             bool_and(o_totalprice > 1000) AS all_above_1k,
             bool_or(o_orderstatus = 'P') AS any_pending,
             bool_and(o_custkey IS NOT NULL) AS all_keyed,
             count(*) AS n
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q_agg_histogram" -> """
      SELECT CAST(FLOOR(l_quantity / 5) AS INT) AS bucket,
             count(*) AS n,
             ROUND(MIN(l_quantity), 2) AS min_qty,
             ROUND(MAX(l_quantity), 2) AS max_qty
      FROM lineitem
      GROUP BY bucket
      ORDER BY bucket""",
  )
}
