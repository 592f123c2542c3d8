package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.5 Window functions — the reference's secondary-sort /
  * composite-key surface (SURVEY §2.5): rank families, neighbor
  * access (lag/lead), sliding and running frames.
  *
  * Scale notes: every window partitions by a real key (segment,
  * customer, user), so the single shuffle is keyed and parallel —
  * the classic MR secondary sort with the sort pushed inside the
  * partition. The one TOTAL order (`q_win_ntile`) does not use a
  * global window at all: it computes its exact ranks with the
  * distributed rank ([[DistRank]]) — range buckets, local rank,
  * broadcast prefix-sum offsets — so no query in this file
  * funnels all rows through one task at any scale.
  */
object Windows {

  val queries: Map[String, Q] = Map(
    // Batch sessionization with STABLE session ids: a 12 h inactivity
    // gap starts a new session; the id is the running count of
    // session-starts in the user's (ts, event_id) order, so ids are
    // deterministic and joinable (unlike streaming session windows,
    // which only expose [start, end)). The mark + running-sum are ONE
    // keyed window pass (two functions, same frame), the rollup reuses
    // the (user_id) partitioning — one shuffle total. This is the
    // feature-engineering sessionize that q_stream_session's
    // watermarked form can't serve in backfill (ids must be replayable
    // against history). Gap arithmetic in whole µs — bit-identical
    // cross-engine; duration floors to whole seconds via the shared
    // floor form (DuckDB's double→BIGINT cast ROUNDS, so never cast
    // directly).
    "q_win_sessionid" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val gapUs = 12L * 3600 * 1000000
      val marked = t(s, d, "events")
        .select($"user_id", $"event_id", $"ts")
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("new_sess",
          when(lag($"us", 1).over(w).isNull ||
            $"us" - lag($"us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum($"new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      marked.groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("start_ts"), max($"ts").as("end_ts"),
          floor((max($"us") - min($"us")) / 1e6).cast("long").as("dur_s"))
        .orderBy($"user_id", $"session_id")
    }),

    // Relative-standing functions: percent_rank and cume_dist per
    // segment over a UNIQUE composite order key (acctbal, custkey) —
    // with ties broken in the sort, both functions reduce to exact
    // rank arithmetic and are bit-identical cross-engine. The
    // percentile-normalization pass behind score calibration and
    // "top X% of customers" cuts. One keyed window shuffle.
    "q_win_cume" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"c_acctbal", $"c_custkey")
      t(s, d, "customer")
        .select($"c_mktsegment", $"c_custkey",
          (floor(percent_rank().over(w) * 1e4 + 0.5) / 1e4).as("pr"),
          (floor(cume_dist().over(w) * 1e4 + 0.5) / 1e4).as("cd"))
        .orderBy($"c_mktsegment", $"pr", $"c_custkey")
    }),

    // The SAME sessionization computed by the engine's own native
    // physical operator (plans/Sessionize.scala: custom LogicalPlan →
    // SparkStrategy → SparkPlan via SparkSessionExtensions) instead of
    // the two-window-function emulation above: one clustered+sorted
    // pass with O(1) state per partition — no window frame buffering,
    // no second pass. Same rollup, same oracle SQL; PlanShapeSpec pins
    // row-for-row equality with q_win_sessionid AND the single-
    // exchange plan shape.
    "q_win_session_native" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"user_id", $"event_id", $"ts")
      graft.plans.Sessionize(ev, "user_id", "ts", "event_id",
          12L * 3600 * 1000000)
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("start_ts"), max($"ts").as("end_ts"),
          floor((max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)")))
            / 1e6).cast("long").as("dur_s"))
        .orderBy($"user_id", $"session_id")
    }),

    // Inter-arrival gap profile: time since the user's PREVIOUS event,
    // attributed to the current event's type — median and p95 in
    // seconds (the dwell-time / time-to-purchase readout). One lag
    // pass on the user-keyed secondary sort, then exact interpolated
    // percentiles over whole-µs integer gaps (bit-identical inputs
    // cross-engine). At unbounded group cardinality the exact
    // percentile becomes approx_percentile's mergeable sketch — the
    // same trade every exact-quantile row here documents.
    "q_win_gap" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .select($"event_type", $"user_id", $"ts", $"event_id")
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
        .where($"gap_us".isNotNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_gaps"),
          (floor(expr("percentile(gap_us, 0.5D)") / 1e6 * 1e4 + 0.5) / 1e4)
            .as("p50_s"),
          (floor(expr("percentile(gap_us, 0.95D)") / 1e6 * 1e4 + 0.5) / 1e4)
            .as("p95_s"))
        .orderBy($"event_type")
    }),

    // Time-series gap fill + forward fill (LOCF): regularize each
    // user's hourly activity onto a dense hourly grid over their
    // observed [first, last] span, carrying the last observed hourly
    // sum into missing hours and flagging the synthesized rows — the
    // resampling pass every feature/training pipeline runs before
    // fixed-step models. The grid is data-generated (per-key sequence
    // + explode — never a driver loop), the fill is one keyed LOCF
    // window (`last(_, ignoreNulls)` over the running frame), and the
    // left join back to observations is keyed on (user, hour) — every
    // stage partitions by user_id, so 100 TB of keys spread across
    // executors with one shuffle each for the agg, join, and window.
    // Span hours per key bound the expansion (a key's grid is its own
    // observed range, not a global calendar).
    "q_win_fill" -> ((s, d) => {
      import s.implicits._
      val hourly = t(s, d, "events")
        .where($"user_id" < 50)
        .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
        .agg((floor(sum($"value") * 100 + 0.5) / 100).as("v"))
      val grid = hourly.groupBy($"user_id")
        .agg(min($"h").as("lo"), max($"h").as("hi"))
        .select($"user_id",
          explode(sequence($"lo", $"hi", expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy($"user_id").orderBy($"h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("filled", $"v".isNull)
        .withColumn("value", last($"v", ignoreNulls = true).over(w))
        .select($"user_id", $"h", $"value", $"filled")
        .orderBy($"user_id", $"h")
    }),

    // LINEAR INTERPOLATION of missing series values — the numeric
    // gap-repair q_win_fill's LOCF cannot do: 'error' events are read
    // as MISSING observations in each user's value series, and each
    // missing point is reconstructed as the time-weighted blend of
    // its nearest known neighbors, v_prev + (v_next − v_prev)·(t −
    // t_prev)/(t_next − t_prev). Boundary gaps (no known neighbor on
    // one side) stay null — interpolation honestly refuses to
    // extrapolate, and the n_missing/n_interp split reports exactly
    // how many gaps were repairable. Two keyed window passes
    // (forward last-known, backward first-known, both ignoreNulls
    // running frames) — partitioned by user like every window here,
    // never global. Time enters as EXACT integer epoch-µs on both
    // engines; the lerp is the only float step and its operands and
    // operation order are identical, with the r4 floor on the
    // aggregate.
    "q_win_interp" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"user_id", $"ts", unix_micros($"ts").as("tm"),
          when($"event_type" =!= "error", $"value").as("v"))
      val wf = Window.partitionBy($"user_id").orderBy($"ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wb = Window.partitionBy($"user_id").orderBy($"ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev
        .withColumn("vp", last($"v", ignoreNulls = true).over(wf))
        .withColumn("tp",
          last(when($"v".isNotNull, $"tm"), ignoreNulls = true).over(wf))
        .withColumn("vn", first($"v", ignoreNulls = true).over(wb))
        .withColumn("tn",
          first(when($"v".isNotNull, $"tm"), ignoreNulls = true).over(wb))
        .where($"v".isNull)
        .withColumn("vi",
          when($"vp".isNotNull && $"vn".isNotNull && $"tn" =!= $"tp",
            $"vp" + ($"vn" - $"vp")
              * (($"tm" - $"tp").cast("double") / ($"tn" - $"tp"))))
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_missing"),
          count($"vi").as("n_interp"),
          (floor(avg($"vi") * 1e4 + 0.5) / 1e4).as("avg_interp"))
        .orderBy($"user_id")
    }),

    // EXACT finite-window EWMA — the exponentially-weighted smoothing
    // pass behind activity scores and rate-limit baselines, computed
    // EXACTLY instead of via the recursive form (which a shuffle
    // engine cannot express without a sequential scan): each event's
    // smoothed value is the weight-2^-j blend of its last ≤10
    // observations, ewma_t = Σ_j w_j·v_{t-j} / Σ_j w_j with
    // w_j = 2^(9-j). The trailing terms are ten lag() references over
    // ONE keyed window (one shuffle, one sort — Spark evaluates all
    // ten in a single window pass), so the plan is exactly
    // q_win_lag's shape, not ten. Arithmetic is EXACT END TO END:
    // values enter as integer cents, weights are integer powers of
    // two, numerator/denominator are BIGINT sums — the only float op
    // is the final single division, identical operand-for-operand in
    // both engines (the cross-engine float-sum-order trap has no
    // surface to bite). At 100 TB this is one window shuffle keyed on
    // user — the same story as every window in this file; the decay
    // horizon (10 taps) bounds per-row work, not data volume.
    // HOUR-OF-DAY SEASONALITY profile — the decomposition partner of
    // q_win_autocorr (ACF says "is there memory", this says "what is
    // the daily shape"): per (type, hour) the seasonal INDEX =
    // hour-mean / type-mean (1.0 = flat), plus each type's peak hour.
    // This is the profile a capacity planner or anomaly threshold
    // multiplies in before alerting. Two keyed aggregations (hour
    // grid, type totals) + a broadcast-back — no window at all; at
    // 100 TB the (type, hour) grid is |types|·24 rows off one
    // map-side-combinable pass.
    "q_win_seasonal" -> ((s, d) => {
      import s.implicits._
      val byHour = t(s, d, "events")
        .groupBy($"event_type", hour($"ts").as("hr"))
        .agg(count(lit(1)).as("n"), sum($"value").as("sv"))
      val byType = byHour.groupBy($"event_type")
        .agg(sum($"n").as("tn"), sum($"sv").as("tsv"))
      val idx = byHour.join(broadcast(byType), "event_type")
        .select($"event_type", $"hr", $"n",
          (($"sv" / $"n") / ($"tsv" / $"tn")).as("sidx"))
      val peak = idx.groupBy($"event_type")
        .agg(max(struct((floor($"sidx" * 1e4 + 0.5) / 1e4).as("s"),
          (-$"hr").cast("double").as("nh"))).as("pk"))
        .select($"event_type", (-$"pk.nh").cast("int").as("peak_hr"))
      idx.join(broadcast(peak), "event_type")
        .select($"event_type", $"hr", $"n",
          (floor($"sidx" * 1e4 + 0.5) / 1e4).as("seasonal_idx"),
          $"peak_hr")
        .orderBy($"event_type", $"hr")
    }),

    // AUTOCORRELATION function (lags 1–3) per event type — the
    // seasonality/memory diagnostic run before any forecasting or
    // anomaly threshold is trusted: ACF(k) = Σ(xᵢ−μ)(xᵢ₊ₖ−μ) / Σ(xᵢ−μ)²
    // over the (ts, event_id)-ordered series. ONE keyed window pass
    // emits the three leads and the partition mean (same frame
    // reuse), then a keyed rollup divides exact double sums — no
    // second scan, no self-join. Denominator is the full variance sum
    // (the standard estimator), numerators skip the tail rows whose
    // lead is undefined.
    "q_win_autocorr" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      val wp = Window.partitionBy($"event_type")
      val b = t(s, d, "events")
        .select($"event_type", $"ts", $"event_id", $"value")
        .withColumn("v1", lead($"value", 1).over(w))
        .withColumn("v2", lead($"value", 2).over(w))
        .withColumn("v3", lead($"value", 3).over(w))
        .withColumn("mu", avg($"value").over(wp))
      def acf(vk: org.apache.spark.sql.Column) =
        floor(sum(when(vk.isNotNull, ($"value" - $"mu") * (vk - $"mu")))
          / sum(($"value" - $"mu") * ($"value" - $"mu")) * 1e4 + 0.5) / 1e4
      b.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          acf($"v1").as("acf1"), acf($"v2").as("acf2"),
          acf($"v3").as("acf3"))
        .orderBy($"event_type")
    }),

    "q_win_ewma" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val taps = 10
      val base = t(s, d, "events")
        .where($"user_id" < 100)
        .select($"user_id", $"event_id", $"ts",
          floor($"value" * 100 + 0.5).cast("long").as("vi"))
      val terms = (0 until taps).map { j =>
        val v = if (j == 0) $"vi" else lag($"vi", j).over(w)
        val wt = 1L << (taps - 1 - j)
        (coalesce(v, lit(0L)) * wt,
          when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
      }
      base
        .withColumn("num", terms.map(_._1).reduce(_ + _))
        .withColumn("den", terms.map(_._2).reduce(_ + _) * 100)
        .select($"user_id", $"event_id",
          (floor($"num".cast("double") / $"den" * 1e4 + 0.5) / 1e4)
            .as("ewma"))
        .orderBy($"user_id", $"event_id")
    }),

    // Rolling z-score spike detection: each event scored against the
    // mean/std of its user's previous ≤10 events (a trailing frame
    // that EXCLUDES the current row — scoring a point against a
    // window containing itself is the classic self-leak). Variance is
    // spelled-out power sums over the frame (cross-engine-identical
    // algebra; built-in stddev conventions drift), scored only when
    // the frame holds ≥ 5 points. Top-20 spikes by z. One keyed
    // window pass — the same secondary-sort shuffle as every window
    // here; the frame is O(1) state per row at any scale.
    "q_win_anomaly" -> ((s, d) => {
      import s.implicits._
      val fr = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-10, -1)
      val w = t(s, d, "events")
        .select($"event_id", $"user_id", $"value",
          count(lit(1)).over(fr).as("n"),
          sum($"value").over(fr).as("s1"),
          sum($"value" * $"value").over(fr).as("s2"))
        .where($"n" >= 5 && ($"s2" - $"s1" * $"s1" / $"n") > 0)
      w.select($"event_id", $"user_id", $"value",
          (floor(($"value" - $"s1" / $"n")
            / sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1))
            * 1e4 + 0.5) / 1e4).as("z"))
        .orderBy($"z".desc, $"event_id")
        .limit(20)
    }),

    // TIME-WEIGHTED AVERAGE (TWAP) per user — the right mean for
    // irregularly-sampled state series (a sensor reading or a price
    // holds UNTIL the next observation; the unweighted mean
    // over-counts bursts): each event's weight is its holding time
    // (µs until the user's next event), the final observation carries
    // no interval and drops out, twavg = Σ value·hold / Σ hold. One
    // keyed window pass (lead on the same (ts, event_id) secondary
    // sort every window row uses) + one keyed agg. Determinism is
    // exact-integer: cents × whole µs sum as BIGINTs (headroom:
    // 5·10⁴ cents × 2.6·10⁹ µs/month × 10⁶ events ≈ 10²⁰ overflows —
    // so cents×SECONDS, 5·10⁴·2.6·10⁶·10⁶ ≈ 10¹⁷, inside BIGINT),
    // one final double division on the 1e-4 grid.
    "q_win_twavg" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .select($"user_id", $"ts", $"event_id",
          floor($"value" * 100 + 0.5).cast("long").as("cents"),
          (expr("unix_micros(ts)") / lit(1000000L)).cast("long").as("sec"))
        .withColumn("hold", lead($"sec", 1).over(w) - $"sec")
        .where($"hold".isNotNull && $"hold" > 0)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum($"hold").as("held_s"),
          (floor(sum($"cents" * $"hold") / sum($"hold") / 100.0 * 1e4 + 0.5)
            / 1e4).as("twavg"))
        .orderBy($"user_id")
    }),

    // CUSUM changepoint detection (Page 1954) — the sequential drift
    // detector every data-quality monitor runs per key: the one-sided
    // CUSUM s_i = max(0, s_{i-1} + (x_i − μ)) peaks where the series'
    // level shifts. The recursion is window-expressible EXACTLY:
    // s_i = cum_i − min(0, min_{j≤i} cum_j) with cum the running sum
    // of deviations — a running sum and a running min, one keyed
    // window pass. Determinism is ARITHMETIC, not luck: values snap
    // to a half-up cent grid, then every deviation is scaled by the
    // user's event count so μ never becomes a float — dev = cents·n −
    // Σcents is exact BIGINT, and the whole CUSUM stays integer until
    // one final division (overflow headroom: cents·n ≈ 5·10¹⁰ at a
    // million events/user, cum ≈ 5·10¹⁶ — inside BIGINT). Output: per
    // user, the peak CUSUM (per-event-normalized) and the EARLIEST
    // event where it peaks — the changepoint. Per-user partitions,
    // never global.
    "q_win_cusum" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"user_id", $"ts", $"event_id",
          floor($"value" * 100 + 0.5).cast("long").as("cents"))
      val st = ev.groupBy($"user_id")
        .agg(sum($"cents").as("sc"), count(lit(1)).as("n"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cu = ev.join(st, "user_id")
        .withColumn("cum", sum($"cents" * $"n" - $"sc").over(run))
        .withColumn("cusum", $"cum" - least(min($"cum").over(run), lit(0L)))
      cu.withColumn("mx", max($"cusum").over(Window.partitionBy($"user_id")))
        .where($"cusum" === $"mx")
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"user_id",
          (floor($"mx" / ($"n" * 100.0) * 1e4 + 0.5) / 1e4).as("max_cusum"),
          $"event_id".as("cp_event"))
        .orderBy($"user_id")
    }),

    // Cohort retention curve: each user's activity days expressed as
    // offsets from their first-seen day, active-user counts per
    // offset — the product-analytics retention matrix collapsed to
    // its diagonal (one cohort in this fixture's 30-day span). Two
    // keyed aggs on user_id plus a broadcastable cohort table; whole-
    // microsecond day indexing is bit-identical cross-engine.
    "q_win_retention" -> ((s, d) => {
      import s.implicits._
      val ud = t(s, d, "events")
        .select($"user_id",
          floor(expr("unix_micros(ts)") / 86400000000L).cast("long")
            .as("day"))
        .distinct()
      val cohort = ud.groupBy($"user_id").agg(min($"day").as("cday"))
      ud.join(broadcast(cohort), "user_id")
        .groupBy(($"day" - $"cday").as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy($"day_offset")
    }),

    // Longest consecutive-day activity streak per user — classic
    // gaps-and-islands: distinct active days, then (day − row_number)
    // is constant exactly along a consecutive run, so grouping on it
    // labels islands with no self-join. One window pass + two keyed
    // aggs, all partitioned on user_id.
    "q_win_streak" -> ((s, d) => {
      import s.implicits._
      val days = t(s, d, "events")
        .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      days.withColumn("grp", date_sub($"day", row_number().over(w)))
        .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
        .groupBy($"user_id")
        .agg(max($"len").as("max_streak"), count(lit(1)).as("n_streaks"))
        .orderBy($"user_id")
    }),

    "q_win_rank" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"c_acctbal".desc, $"c_custkey")
      t(s, d, "customer")
        .select($"c_mktsegment", $"c_custkey", $"c_acctbal",
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter($"rk" <= 5)
        .orderBy($"c_mktsegment", $"rn")
    }),

    // Per-group top-k via row_number filter — Spark rewrites this to a
    // per-partition top-k (WindowGroupLimit) rather than a full sort.
    "q_win_topk_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          row_number().over(w).as("rn"))
        .filter($"rn" <= 3)
        .orderBy($"o_custkey", $"rn")
    }),

    // Neighbor access. Seconds are compared at whole-second epoch on
    // both engines (events.ts is ns-origin; SURVEY §7.3 risk 2).
    "q_win_lag" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .withColumn("es", unix_timestamp($"ts"))
        .select($"user_id", $"event_id",
          ($"es" - lag($"es", 1).over(w)).as("secs_since_prev"),
          lead($"event_type", 1).over(w).as("next_type"))
        .orderBy($"user_id", $"event_id")
    }),

    // 4-row moving average: the avg of ≤4 two-decimal values is an
    // exact 4-decimal value → .xx5 rounding ties are real; use the
    // bit-identical floor form on both engines.
    "q_win_frame_rows" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(-3, Window.currentRow)
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          (floor(avg($"o_totalprice").over(w) * 100 + 0.5) / 100)
            .as("mavg_price"))
        .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
    }),

    // Time-based RANGE frame: trailing-hour event count per user,
    // reduced to each user's peak (the "burst detection" primitive).
    // Ordering key is whole epoch seconds (truncation in both
    // engines), so RANGE peers are identical cross-engine.
    "q_win_range_time" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".cast("long"))
        .rangeBetween(-3599, Window.currentRow)
      t(s, d, "events")
        .withColumn("trail", count(lit(1)).over(w))
        .groupBy($"user_id").agg(max($"trail").as("peak_1h"))
        .orderBy($"user_id")
    }),

    // MAXIMUM DRAWDOWN per user — the running-max-then-gap composition
    // (finance's drawdown; a training pipeline reads the same shape as
    // "worst regression from best-so-far" over a metric series): one
    // keyed running MAX window over the event series, relative gap
    // per row, keyed max per user. The window's default RANGE frame is
    // safe because events.ts is globally unique (asserted per fixture
    // in PipeOpsSpec — the q_pipe_cdc ordering contract); gaps round
    // to the 1e-4 grid BEFORE the outer max (identical operand
    // doubles both engines, so the division is bit-equal). Fixture
    // values are strictly positive (0.01 min), so runmax never
    // divides by zero.
    "q_win_drawdown" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      t(s, d, "events")
        .withColumn("runmax", max($"value").over(w))
        .withColumn("dd",
          floor(($"runmax" - $"value") / $"runmax" * 1e4 + 0.5) / 1e4)
        .groupBy($"user_id")
        .agg(max($"dd").as("max_drawdown"),
          (floor(max($"runmax") * 100 + 0.5) / 100).as("peak"))
        .orderBy($"user_id")
    }),

    // ROLLING MEDIAN (the Hampel-style robust smoother) — the 5-row
    // trailing EXACT median of each user's value series, reduced to a
    // per-user spike audit (value > 2× its rolling median) plus the
    // peak smoothed level. Exact percentile as a WINDOW aggregate:
    // Spark's percentile(value, 0.5) and DuckDB's quantile_cont both
    // use the R-7 position (n−1)/2 over the ≤5-row frame, and the
    // median is rounded to the 1e-4 grid BEFORE the spike compare and
    // the max, so the one place their interpolation arithmetic could
    // differ in the last ulp (lower+(upper−lower)·f vs lerp) is
    // absorbed: frame values sit on the cent grid, so the true median
    // is a multiple of 0.005 and floor(m·1e4 + 0.5) has margin 0.5
    // from every boundary. Frames are ≤5 rows (O(1) per-row work);
    // the only shuffle keys on user_id.
    "q_win_median" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-4, Window.currentRow)
      t(s, d, "events")
        .withColumn("med5",
          floor(expr("percentile(value, 0.5)").over(w) * 1e4 + 0.5) / 1e4)
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_events"),
          sum(when($"value" > $"med5" * 2.0, 1L).otherwise(0L))
            .as("n_spikes"),
          max($"med5").as("peak_med"))
        .orderBy($"user_id")
    }),

    // BOLLINGER-BAND BREACHES — the rolling mean ± 2σ envelope
    // (finance's volatility band; a metrics pipeline reads the same
    // shape as "alert when a series leaves its recent normal range"):
    // 8-row trailing moments per user, breach when (v − m)² exceeds
    // 4·var. Variance comes from EXPLICIT window moments (avg(v),
    // avg(v²)) rather than the stddev builtin: the two engines'
    // stddev algorithms (Welford vs textbook) differ at ~1e-13
    // relative, enough to flip a rounded comparison once in ~10⁶
    // rows, while plain frame averages differ only by summation order
    // (~1e-16) — the breach test then rounds ONE side-by-side
    // difference to the 1e-4 grid, making the gate bit-stable. One
    // shuffle keyed on user_id; frames are O(1).
    "q_win_bollinger" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-7, Window.currentRow)
      t(s, d, "events")
        .withColumn("m1", avg($"value").over(w))
        .withColumn("m2", avg($"value" * $"value").over(w))
        .withColumn("dev2",
          floor((($"value" - $"m1") * ($"value" - $"m1")
            - lit(4.0) * ($"m2" - $"m1" * $"m1")) * 1e4 + 0.5))
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_events"),
          sum(when($"dev2" > 0, 1L).otherwise(0L)).as("n_breach"),
          (floor(max($"m2" - $"m1" * $"m1") * 100 + 0.5) / 100)
            .as("peak_var"))
        .orderBy($"user_id")
    }),

    "q_win_running" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          (floor(sum($"o_totalprice").over(w) * 100 + 0.5) / 100)
            .as("running_rev"))
        .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
    }),

    // Value-navigation family: first/last/nth over the full partition
    // frame — "compare each order to the customer's first, latest and
    // second order" without a self-join. One keyed shuffle.
    "q_win_nth" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey",
          first($"o_totalprice").over(w).as("first_price"),
          last($"o_totalprice").over(w).as("last_price"),
          nth_value($"o_totalprice", 2).over(w).as("second_price"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // Global quartile/percentile assignment over ALL customers — the
    // percentile-normalization shape every "top X% by balance" cut
    // needs. NOT a global window (all rows in one task): the exact
    // ranks come from DistRank's distributed form — range buckets on
    // acctbal, per-bucket local rank on (acctbal, custkey),
    // broadcast prefix-sum offsets — and ntile/percent_rank/cume_dist
    // are then pure rank arithmetic, bit-identical to the window
    // functions because the composite sort key is tie-free.
    "q_win_ntile" -> ((s, d) => {
      import s.implicits._
      DistRank.withGlobalRank(
          t(s, d, "customer").select($"c_custkey", $"c_acctbal"),
          32, $"c_acctbal", $"c_custkey")
        .select($"c_custkey",
          DistRank.ntile(4).as("quartile"),
          round(DistRank.percentRank(), 4).as("pct_rank"),
          round(DistRank.cumeDist(), 4).as("cdist"))
        .orderBy($"c_custkey")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_win_seasonal" -> """
      WITH byHour AS (
        SELECT event_type, CAST(hour(ts) AS INT) AS hr,
               count(*) AS n, SUM(value) AS sv
        FROM events GROUP BY event_type, hr),
      byType AS (
        SELECT event_type, SUM(n) AS tn, SUM(sv) AS tsv
        FROM byHour GROUP BY event_type),
      idx AS (
        SELECT h.event_type, hr, n,
               FLOOR(((sv / n) / (tsv / tn)) * 1e4 + 0.5) / 1e4 AS s
        FROM byHour h JOIN byType USING (event_type)),
      peak AS (
        SELECT event_type, MIN(hr) AS peak_hr FROM idx i
        WHERE s = (SELECT MAX(s) FROM idx j
                   WHERE j.event_type = i.event_type)
        GROUP BY event_type)
      SELECT i.event_type, i.hr, i.n, i.s AS seasonal_idx, p.peak_hr
      FROM idx i JOIN peak p USING (event_type)
      ORDER BY i.event_type, i.hr""",

    "q_win_autocorr" -> """
      WITH b AS (
        SELECT event_type, value,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2,
               lead(value, 3) OVER w AS v3,
               AVG(value) OVER (PARTITION BY event_type) AS mu
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             FLOOR(SUM((value - mu) * (v1 - mu)) FILTER (v1 IS NOT NULL)
               / SUM((value - mu) * (value - mu)) * 1e4 + 0.5) / 1e4 AS acf1,
             FLOOR(SUM((value - mu) * (v2 - mu)) FILTER (v2 IS NOT NULL)
               / SUM((value - mu) * (value - mu)) * 1e4 + 0.5) / 1e4 AS acf2,
             FLOOR(SUM((value - mu) * (v3 - mu)) FILTER (v3 IS NOT NULL)
               / SUM((value - mu) * (value - mu)) * 1e4 + 0.5) / 1e4 AS acf3
      FROM b GROUP BY event_type ORDER BY event_type""",

    "q_win_twavg" -> """
      WITH e AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               epoch_us(ts) // 1000000 AS sec
        FROM events),
      h AS (
        SELECT user_id, cents,
               lead(sec) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) - sec AS hold
        FROM e)
      SELECT user_id, count(*) AS n_intervals,
             CAST(SUM(hold) AS BIGINT) AS held_s,
             FLOOR(CAST(SUM(cents * hold) AS DOUBLE) / SUM(hold) / 100.0
               * 1e4 + 0.5) / 1e4 AS twavg
      FROM h
      WHERE hold IS NOT NULL AND hold > 0
      GROUP BY user_id
      ORDER BY user_id""",

    "q_win_cusum" -> """
      WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
      st AS (
        SELECT user_id, CAST(SUM(cents) AS BIGINT) AS sc,
               count(*) AS n
        FROM ev GROUP BY user_id),
      cu AS (
        SELECT ev.user_id, ts, event_id, n,
               SUM(cents * n - sc) OVER w AS cum
        FROM ev JOIN st ON ev.user_id = st.user_id
        WINDOW w AS (PARTITION BY ev.user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)),
      cs AS (
        SELECT user_id, ts, event_id, n,
               cum - LEAST(MIN(cum) OVER w, 0) AS cusum
        FROM cu
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)),
      mx AS (
        SELECT user_id, ts, event_id, n, cusum,
               MAX(cusum) OVER (PARTITION BY user_id) AS mx
        FROM cs)
      SELECT user_id,
             FLOOR(mx / (n * 100.0) * 1e4 + 0.5) / 1e4 AS max_cusum,
             event_id AS cp_event
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn
            FROM mx WHERE cusum = mx)
      WHERE rn = 1
      ORDER BY user_id""",

    "q_win_sessionid" -> """
      WITH m AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                        > 43200000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      x AS (
        SELECT user_id, ts, us,
               SUM(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM m)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(ts) AS start_ts, max(ts) AS end_ts,
             CAST(FLOOR((max(us) - min(us)) / 1e6) AS BIGINT) AS dur_s
      FROM x
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    // identical semantics via the native operator — same oracle text
    "q_win_session_native" -> """
      WITH m AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                        > 43200000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      x AS (
        SELECT user_id, ts, us,
               SUM(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM m)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(ts) AS start_ts, max(ts) AS end_ts,
             CAST(FLOOR((max(us) - min(us)) / 1e6) AS BIGINT) AS dur_s
      FROM x
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    "q_win_cume" -> """
      SELECT c_mktsegment, c_custkey,
             FLOOR(percent_rank() OVER w * 1e4 + 0.5) / 1e4 AS pr,
             FLOOR(cume_dist() OVER w * 1e4 + 0.5) / 1e4 AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_mktsegment, pr, c_custkey""",

    // DuckDB's generate_series + IGNORE NULLS last_value rebuild the
    // identical dense grid and LOCF.
    "q_win_fill" -> """
      WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               FLOOR(SUM(value) * 100 + 0.5) / 100 AS v
        FROM events WHERE user_id < 50 GROUP BY 1, 2),
      spans AS (SELECT user_id, min(h) AS lo, max(h) AS hi
                FROM hourly GROUP BY 1),
      grid AS (SELECT user_id,
                      unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
               FROM spans)
      SELECT g.user_id, g.h,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
             v IS NULL AS filled
      FROM grid g LEFT JOIN hourly hh
        ON g.user_id = hh.user_id AND g.h = hh.h
      ORDER BY g.user_id, g.h""",

    // Identical ten-tap integer algebra: cents × power-of-two weights
    // summed in BIGINT, one final double division.
    "q_win_ewma" -> """
      WITH v AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vi
        FROM events WHERE user_id < 100),
      l AS (
        SELECT user_id, event_id,
               vi AS v0,
               lag(vi, 1) OVER w AS v1, lag(vi, 2) OVER w AS v2,
               lag(vi, 3) OVER w AS v3, lag(vi, 4) OVER w AS v4,
               lag(vi, 5) OVER w AS v5, lag(vi, 6) OVER w AS v6,
               lag(vi, 7) OVER w AS v7, lag(vi, 8) OVER w AS v8,
               lag(vi, 9) OVER w AS v9
        FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id,
             FLOOR(CAST(
                 COALESCE(v0, 0) * 512 + COALESCE(v1, 0) * 256
               + COALESCE(v2, 0) * 128 + COALESCE(v3, 0) * 64
               + COALESCE(v4, 0) * 32  + COALESCE(v5, 0) * 16
               + COALESCE(v6, 0) * 8   + COALESCE(v7, 0) * 4
               + COALESCE(v8, 0) * 2   + COALESCE(v9, 0)
               AS DOUBLE) / ((
                 CASE WHEN v0 IS NULL THEN 0 ELSE 512 END
               + CASE WHEN v1 IS NULL THEN 0 ELSE 256 END
               + CASE WHEN v2 IS NULL THEN 0 ELSE 128 END
               + CASE WHEN v3 IS NULL THEN 0 ELSE 64 END
               + CASE WHEN v4 IS NULL THEN 0 ELSE 32 END
               + CASE WHEN v5 IS NULL THEN 0 ELSE 16 END
               + CASE WHEN v6 IS NULL THEN 0 ELSE 8 END
               + CASE WHEN v7 IS NULL THEN 0 ELSE 4 END
               + CASE WHEN v8 IS NULL THEN 0 ELSE 2 END
               + CASE WHEN v9 IS NULL THEN 0 ELSE 1 END) * 100)
               * 1e4 + 0.5) / 1e4 AS ewma
      FROM l
      ORDER BY user_id, event_id""",

    // Identical neighbor windows (IGNORE NULLS running frames) and
    // identical lerp expression over exact epoch-µs integers.
    "q_win_interp" -> """
      WITH ev AS (
        SELECT user_id, ts, epoch_us(ts) AS tm,
               CASE WHEN event_type <> 'error' THEN value END AS v
        FROM events),
      nb AS (
        SELECT user_id, tm, v,
               last_value(v IGNORE NULLS) OVER wf AS vp,
               last_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS)
                 OVER wf AS tp,
               first_value(v IGNORE NULLS) OVER wb AS vn,
               first_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS)
                 OVER wb AS tn
        FROM ev
        WINDOW wf AS (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wb AS (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      gaps AS (
        SELECT user_id,
               CASE WHEN vp IS NOT NULL AND vn IS NOT NULL AND tn <> tp
                 THEN vp + (vn - vp) * (CAST(tm - tp AS DOUBLE) / (tn - tp))
               END AS vi
        FROM nb WHERE v IS NULL)
      SELECT user_id, count(*) AS n_missing, count(vi) AS n_interp,
             FLOOR(AVG(vi) * 1e4 + 0.5) / 1e4 AS avg_interp
      FROM gaps
      GROUP BY user_id
      ORDER BY user_id""",

    "q_win_gap" -> """
      WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_gaps,
             FLOOR(median(gap_us) / 1e6 * 1e4 + 0.5) / 1e4 AS p50_s,
             FLOOR(quantile_cont(gap_us, 0.95) / 1e6 * 1e4 + 0.5) / 1e4
               AS p95_s
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type""",

    "q_win_anomaly" -> """
      WITH w AS (
        SELECT event_id, user_id, value,
               count(*)         OVER fr AS n,
               SUM(value)       OVER fr AS s1,
               SUM(value*value) OVER fr AS s2
        FROM events
        WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, value,
             FLOOR((value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))
               * 1e4 + 0.5) / 1e4 AS z
      FROM w
      WHERE n >= 5 AND (s2 - s1*s1/n) > 0
      ORDER BY z DESC, event_id
      LIMIT 20""",

    "q_win_retention" -> """
      WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        FROM events),
      cohort AS (SELECT user_id, MIN(day) AS cday FROM ud
                 GROUP BY user_id)
      SELECT CAST(u.day - c.cday AS BIGINT) AS day_offset,
             count(*) AS n_active
      FROM ud u JOIN cohort c ON u.user_id = c.user_id
      GROUP BY 1
      ORDER BY 1""",

    "q_win_streak" -> """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events),
      isl AS (
        SELECT user_id, day,
               CAST(day - CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY day) AS INT) AS DATE) AS grp
        FROM days),
      streaks AS (
        SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, grp)
      SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM streaks
      GROUP BY user_id
      ORDER BY user_id""",

    "q_win_rank" -> """
      SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER w AS rn,
               rank() OVER w AS rk,
               dense_rank() OVER w AS drk
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey)
      ) WHERE rk <= 5
      ORDER BY c_mktsegment, rn""",

    "q_win_topk_group" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      ) WHERE rn <= 3
      ORDER BY o_custkey, rn""",

    "q_win_lag" -> """
      SELECT user_id, event_id,
             es - lag(es, 1) OVER w AS secs_since_prev,
             lead(event_type, 1) OVER w AS next_type
      FROM (SELECT user_id, event_id, ts, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",

    "q_win_frame_rows" -> """
      SELECT o_custkey, o_orderkey, o_orderdate,
             FLOOR(AVG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) * 100 + 0.5)
               / 100 AS mavg_price
      FROM orders
      ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q_win_range_time" -> """
      WITH x AS (
        SELECT user_id,
               count(*) OVER (PARTITION BY user_id
                 ORDER BY (epoch_us(ts) // 1000000)
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS trail
        FROM events)
      SELECT user_id, max(trail) AS peak_1h
      FROM x GROUP BY user_id
      ORDER BY user_id""",

    "q_win_drawdown" -> """
      WITH r AS (
        SELECT user_id, value,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts)
                 AS runmax
        FROM events),
      d AS (
        SELECT user_id,
               FLOOR((runmax - value) / runmax * 1e4 + 0.5) / 1e4 AS dd,
               runmax
        FROM r)
      SELECT user_id, MAX(dd) AS max_drawdown,
             FLOOR(MAX(runmax) * 100 + 0.5) / 100 AS peak
      FROM d GROUP BY user_id
      ORDER BY user_id""",

    "q_win_median" -> """
      WITH m AS (
        SELECT user_id, value,
               FLOOR(quantile_cont(value, 0.5) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 1e4 + 0.5)
                 / 1e4 AS med5
        FROM events)
      SELECT user_id, count(*) AS n_events,
             CAST(SUM(CASE WHEN value > med5 * 2.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_spikes,
             MAX(med5) AS peak_med
      FROM m GROUP BY user_id
      ORDER BY user_id""",

    "q_win_bollinger" -> """
      WITH b AS (
        SELECT user_id, value,
               AVG(value) OVER w AS m1,
               AVG(value * value) OVER w AS m2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
      dv AS (
        SELECT user_id, m1, m2,
               FLOOR(((value - m1) * (value - m1)
                      - 4.0 * (m2 - m1 * m1)) * 1e4 + 0.5) AS dev2
        FROM b)
      SELECT user_id, count(*) AS n_events,
             CAST(SUM(CASE WHEN dev2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breach,
             FLOOR(MAX(m2 - m1 * m1) * 100 + 0.5) / 100 AS peak_var
      FROM dv GROUP BY user_id
      ORDER BY user_id""",

    "q_win_running" -> """
      SELECT o_custkey, o_orderkey, o_orderdate,
             FLOOR(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
               + 0.5) / 100 AS running_rev
      FROM orders
      ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q_win_nth" -> """
      SELECT o_custkey, o_orderkey,
             first_value(o_totalprice) OVER w AS first_price,
             last_value(o_totalprice) OVER w AS last_price,
             nth_value(o_totalprice, 2) OVER w AS second_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey""",

    "q_win_ntile" -> """
      SELECT c_custkey,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             ROUND(percent_rank() OVER w, 4) AS pct_rank,
             ROUND(cume_dist() OVER w, 4) AS cdist
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""",
  )
}
