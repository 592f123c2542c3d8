package graft.ops

import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.7 event-time semantics over `events` (SURVEY §2.7). Written with
  * the operators whose semantics are identical in batch and Structured
  * Streaming (`window`, `session_window`, `withWatermark`); the oracle
  * exercises them in batch, the streaming-only behaviors (watermark
  * late-drop, incremental session merge) are covered by MemoryStream
  * tests in StreamySpec.
  *
  * Scale notes (100 TB): every query shuffles once, keyed on the
  * (window, key) grouping — partial+final HashAggregate. Tumbling and
  * sliding windows are stateless per-row expansions (a sliding event
  * belongs to exactly windowLength/slide windows); session windows
  * shuffle on user_id and merge per key. In a live stream the
  * 10-minute watermark bounds all state.
  */
object Streamy {

  val queries: Map[String, Q] = Map(
    // Behavioral sequence mining: event-type trigrams along each
    // user's time-ordered stream, top-20 global patterns — the
    // session-path feature a recommender/abuse pipeline extracts.
    // One window pass partitioned on user_id (the same secondary-sort
    // shape as q_win_lag), then a keyed count; `||` concat is
    // null-strict so each stream's last two events drop naturally.
    "q_stream_seq" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("e2", lead($"event_type", 1).over(w))
        .withColumn("e3", lead($"event_type", 2).over(w))
        .where($"e2".isNotNull && $"e3".isNotNull)
        .select(concat($"event_type", lit(">"), $"e2", lit(">"), $"e3")
          .as("trigram"))
        .groupBy($"trigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"trigram")
        .limit(20)
    }),

    // Conversion funnel (the CEP "A then B within t" pattern): for
    // each purchase, the user's most recent prior-or-equal signup
    // (same one-window-pass as-of emulation as q_join_asof), counted
    // as converted when the delay is ≤ 1 hour; daily totals. In a
    // live stream the same semantics run as the bounded-state
    // stream-stream interval join of q_stream_join — the 1-hour bound
    // IS what caps the join state.
    "q_stream_funnel" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .filter($"event_type".isin("purchase", "signup"))
        .select($"event_id", $"ts", $"user_id", $"event_type")
        .withColumn("tag", when($"event_type" === "signup", 0).otherwise(1))
        .withColumn("sts", when($"event_type" === "signup", $"ts"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"tag", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_signup", last($"sts", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .groupBy(date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when($"last_signup".isNotNull &&
            expr("unix_micros(ts) - unix_micros(last_signup)") <= 3600000000L,
            1L).otherwise(0L)).as("n_converted"))
        .orderBy($"day")
    }),

    // 1-hour tumbling windows per event_type. Identical code streams
    // with `.withWatermark("ts", "10 minutes")` prepended.
    "q_stream_tumble" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
        .select($"w.start".as("window_start"), $"event_type",
          $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    }),

    // Trending items: per tumbling 6-hour window, the top-3 event
    // types by count — the windowed-agg + per-window rank composition
    // every "what's hot right now" dashboard runs. Batch-checked here;
    // the same plan streams by ranking each window on watermark close
    // (or via the partial top-k WindowGroupLimit path for k≪types).
    // The rank shuffle keys on the window, so state is one window's
    // type counts — bounded regardless of stream length.
    "q_stream_trend" -> ((s, d) => {
      import s.implicits._
      val counts = t(s, d, "events")
        .groupBy(window($"ts", "6 hours").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy($"w").orderBy($"n".desc, $"event_type")
      counts.withColumn("rk", row_number().over(rk))
        .where($"rk" <= 3)
        .select($"w.start".as("window_start"), $"rk", $"event_type", $"n")
        .orderBy($"window_start", $"rk")
    }),

    // Sliding 1h windows every 15 min: each event lands in 4 windows.
    "q_stream_slide" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("window_start"), $"n")
        .orderBy($"window_start")
    }),

    // Session windows per user, 30-minute gap. A new session starts
    // when an event arrives >= 30 min after the previous one (Spark's
    // session interval is [start, last_ts + gap), end-exclusive).
    "q_stream_session" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
             round(sum($"value"), 2).as("sum_value"))
        .select($"user_id", $"w.start".as("session_start"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }),

    // ARBITRARY STATEFUL processing as a declared row: the same
    // 30-minute-gap sessionization as q_stream_session, but through
    // `flatMapGroupsWithState` — the surface for logic session_window
    // can't express (custom merge rules, early emission, side effects
    // on close). Batch mode calls the state function once per key with
    // all its events (flushAtEnd emits the final open session), so the
    // output is the complete gaps-and-islands sessionization the
    // DuckDB oracle replays; the STREAMING semantics this row can't
    // show in batch — cross-batch state merge, EventTimeTimeout close,
    // state eviction on emit — are pinned under MemoryStream in
    // StreamySpec on the identical function. At 100 TB: one shuffle
    // keyed on user_id; live state is one (start,last,n) triple per
    // open key, bounded by the watermark.
    "q_stream_custom_state" -> ((s, d) => {
      import s.implicits._
      val evs = t(s, d, "events").select($"user_id", $"ts")
        .as[graft.streaming.SessEvent]
      graft.streaming.CustomSessions.sessionize(evs, flushAtEnd = true)
        .toDF()
        .orderBy($"user_id", $"session_start")
    }),

    // The ARBITRARY-STATE API v2 surface — `transformWithState`
    // (Spark 4.x StatefulProcessor, the successor to
    // flatMapGroupsWithState with TYPED named state handles +
    // declarative TTL): per-user high-water marks — emit exactly the
    // events that set a new per-user max value, running max in a
    // ValueState[Double] (`streaming/HighWater.scala`). Batch calls
    // the processor once per key (empty state) so the output is the
    // running-max SQL the oracle replays; cross-batch persistence is
    // MemoryStream-pinned. One shuffle keyed on user_id; live state
    // is one double per user.
    // transformWithState requires the RocksDB state store provider
    // (the HDFS-backed default can't serve the new API — batch runs
    // fail CANNOT_LOAD_STATE_STORE) → the [[rocksdb]] child session.
    "q_stream_tws" -> ((s0, d) => {
      val s = rocksdb(s0)
      import s.implicits._
      val evs = t(s, d, "events")
        .select($"user_id", $"event_id", $"ts", $"value")
        .as[graft.streaming.HwEvent]
      graft.streaming.HighWater.marks(evs).toDF()
        .orderBy($"user_id", $"event_id")
    }),

    // The transformWithState MULTI-STATE + TIMER surface — ListState
    // (last-3 events, trimmed to O(3) per key) and MapState (lifetime
    // per-type counts, point-updated per row) living side by side
    // under one key, the v2 API's main selling point over
    // flatMapGroupsWithState's single tuple blob
    // (streaming/TrailState.scala). Batch invokes each key once and
    // emits the summary inline; the timer path (flush-on-inactivity
    // via one re-armed event-time timer per key) is streaming-only
    // and pinned cross-batch in StreamySpec. Same RocksDB child
    // session as q_stream_tws. One shuffle keyed on user_id.
    "q_stream_tws_list" -> ((s0, d) => {
      val s = rocksdb(s0)
      import s.implicits._
      val evs = t(s, d, "events")
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .as[graft.streaming.TrailEvent]
      graft.streaming.TrailState.summaries(evs).toDF()
        .select($"user_id", $"n_events", $"n_types", $"top_type",
          $"top_n", (floor($"last3_sum" * 1e4 + 0.5) / 1e4).as("last3_sum"))
        .orderBy($"user_id")
    }),

    // Stream-stream interval join (attribution): each purchase joins
    // to same-user clicks within the preceding 30 minutes, rolled up
    // per purchase day. The identical plan streams with a watermark on
    // both sides — the time-range predicate is exactly what bounds the
    // join state Spark keeps per key (≤ 30 min of clicks per user).
    // avg delay = exact BIGINT sums divided once in double, identical
    // operand order in both engines (no per-row float accumulation).
    "q_stream_join" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("cts"))
      val purchases = ev.where($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("pid"))
      purchases.join(clicks, $"cu" === $"pu" &&
          $"cts" >= $"pts" - expr("INTERVAL 30 MINUTES") && $"cts" <= $"pts")
        .groupBy(to_date($"pts").as("day"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct($"pid").as("n_purchases"),
             (floor(sum(unix_micros($"pts") - unix_micros($"cts"))
               / count(lit(1)) / 1e6 * 100 + 0.5) / 100).as("avg_delay_s"))
        .orderBy($"day")
    }),

    // Stream-stream LEFT OUTER interval join — the attribution shape
    // every click→purchase pipeline actually ships: purchases with NO
    // prior same-user click inside 30 minutes still emit, null-padded
    // ("organic" conversions). In a live stream this is the semantics
    // batch can't fake: the null-padded row can only be EMITTED once
    // the click-side watermark passes the purchase's join window (no
    // more matching clicks can arrive) — StreamySpec pins exactly that
    // late-emission behavior on two MemoryStreams; the batch form here
    // is the plain LEFT JOIN the oracle replays. State bound is the
    // same as the inner variant: the interval predicate caps retained
    // clicks at 30 min per user; outer adds only the per-row "emitted
    // yet?" bit. Daily rollup: attributed vs organic purchases and the
    // raw matched-pair count.
    "q_stream_join_outer" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("cts"))
      val purchases = ev.where($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("pid"))
      purchases.join(clicks, $"cu" === $"pu" &&
          $"cts" >= $"pts" - expr("INTERVAL 30 MINUTES") && $"cts" <= $"pts",
          "left")
        .groupBy(to_date($"pts").as("day"))
        .agg(countDistinct($"pid").as("n_purchases"),
             countDistinct(when($"cu".isNotNull, $"pid")).as("n_attributed"),
             countDistinct(when($"cu".isNull, $"pid")).as("n_organic"),
             sum(when($"cu".isNotNull, 1L).otherwise(0L)).as("n_pairs"))
        .orderBy($"day")
    }),

    // Stream-stream FULL OUTER interval join — completes the outer
    // matrix next to q_stream_join_outer's left form: purchases with
    // no prior click AND clicks that converted nothing both emit,
    // null-padded on the missing side. Streaming semantics: EACH
    // side's null-padded rows wait for the OTHER side's watermark to
    // close their join window (StreamySpec pins both directions on
    // MemoryStreams); state stays interval-bounded (≤ 30 min of
    // clicks per user) exactly as the inner/left variants. Day rolls
    // up from whichever side is present; n_unmatched_clicks counts
    // click rows that attributed no purchase at all.
    "q_stream_join_full" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("cts"))
      val purchases = ev.where($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("pid"))
      purchases.join(clicks, $"cu" === $"pu" &&
          $"cts" >= $"pts" - expr("INTERVAL 30 MINUTES") && $"cts" <= $"pts",
          "full")
        .groupBy(coalesce(to_date($"pts"), to_date($"cts")).as("day"))
        .agg(countDistinct($"pid").as("n_purchases"),
             countDistinct(when($"cu".isNotNull, $"pid")).as("n_attributed"),
             sum(when($"pu".isNull, 1L).otherwise(0L))
               .as("n_unmatched_clicks"),
             sum(when($"pu".isNotNull && $"cu".isNotNull, 1L).otherwise(0L))
               .as("n_pairs"))
        .orderBy($"day")
    }),

    // Stream-static enrichment: the event stream joins a static dim
    // (customer) that Spark re-broadcasts per micro-batch — no state,
    // no watermark needed on the static side — then aggregates into
    // 6-hour tumbling windows per market segment. The identical plan
    // streams unchanged; StreamySpec runs the stream-static join shape
    // against MemoryStream.
    "q_stream_enrich" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .join(broadcast(t(s, d, "customer")
          .select($"c_custkey", $"c_mktsegment")),
          $"user_id" === $"c_custkey")
        .groupBy(window($"ts", "6 hours").as("w"), $"c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
        .select($"w.start".as("window_start"), $"c_mktsegment",
          $"n", $"sum_value")
        .orderBy($"window_start", $"c_mktsegment")
    }),

    // Event dedup/throttle: at most one event per (user, type, day),
    // keeping the earliest by (ts, event_id) — the batch-deterministic
    // form of streaming dedup. The streaming analogue is
    // `dropDuplicatesWithinWatermark` (first-ARRIVAL survivor, state
    // bounded by the watermark — asserted in StreamySpec); batch picks
    // the first-EVENT-TIME survivor via an explicit window order so
    // the oracle is reproducible. One shuffle on the dedup key.
    "q_stream_dedup" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"event_type", $"day")
        .orderBy($"ts", $"event_id")
      t(s, d, "events")
        .withColumn("day", to_date($"ts"))
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"user_id", $"event_type", $"day", $"event_id")
        .orderBy($"user_id", $"event_type", $"day")
    }),

    // Watermark/late-data surface: in batch `withWatermark` is a no-op
    // (this row is rows-only checked); the 10-minute late-drop
    // behavior itself is asserted with MemoryStream in StreamySpec.
    "q_stream_late" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("window_start"), $"n")
        .orderBy($"window_start")
    }),

    // The exactly-once SINK surface as a declared, oracled row: a REAL
    // Structured Streaming run (file source → update-mode keyed agg →
    // foreachBatch), not the batch-equivalence form the other §2.7
    // rows use. foreachBatch writes each micro-batch's updated
    // (event_type, n) rows to a path KEYED BY BATCH ID, so a replayed
    // batch (failure between sink write and checkpoint commit — the
    // at-least-once window) OVERWRITES its own previous output instead
    // of duplicating it; the terminal merge keeps each key's
    // latest-batch row. Final state = the exact batch group-by, which
    // is the oracle. At 100 TB the same pattern is the idempotent
    // MERGE a production foreachBatch does into a transactional table,
    // with the landing directory streaming files in; state is bounded
    // by |distinct keys| and the update log by keys × batches.
    // StreamySpec drives the same sink shape through a multi-batch
    // MemoryStream replay; here AvailableNow drains the fixture and
    // terminates. Fresh checkpoint/sink dirs per call (under the
    // per-JVM temp warehouse, deleted on exit) — deliberately NOT
    // memoized: re-invocations re-run the stream end-to-end.
    "q_stream_sink" -> (sinkRun _),

    // The same end-to-end stream on the ROCKSDB state store provider —
    // the off-heap, incrementally-checkpointed state path a production
    // deployment runs once aggregation state outgrows the JVM heap
    // (100 TB streams: state is bounded by |keys|, but |keys| can be
    // billions — RocksDB spills to local disk and checkpoints
    // incrementally instead of snapshotting the full map). Declared in
    // the [[rocksdb]] child session so the provider choice can't leak
    // into other queries; the oracle equality proves
    // the provider swap is semantics-free. The provider actually being
    // RocksDB for this conf is asserted via query progress in
    // StreamySpec.
    "q_stream_rocksdb" -> ((s0, d) => sinkRun(rocksdb(s0), d)),
  )

  /** The one child session (shared context, own conf) of the rows
    * that run on the RocksDB state store provider: q_stream_tws,
    * q_stream_tws_list and q_stream_rocksdb. None of them sets a
    * query name or a temp view, and q_stream_rocksdb's checkpoint
    * directory is fresh per call, so they share it safely. */
  private def rocksdb(s0: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    Tables.childSession(s0, "rocksdb")(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider"))

  /** The q_stream_sink pipeline (real AvailableNow run: file source →
    * update-mode keyed count → foreachBatch overwrite-by-batchId →
    * last-writer-wins merge), shared so provider variants declare the
    * identical semantics. */
  private def sinkRun(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val work = java.nio.file.Files.createTempDirectory(
      graft.TempWarehouse.path, "stream_sink")
    val sink = work.resolve("updates").toString
    val stream = Tables.stream(s, d, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$sink/batch_id=$id")
        ()
      }
      .start()
    stream.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"batch_id".desc)
    s.read.parquet(sink)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"event_type", $"n")
      .orderBy($"event_type")
  }

  val oracle: Map[String, String] = Map(
    // time_bucket's default origin (2000-01-03) is hour-aligned, so
    // 1-hour buckets coincide with Spark's epoch-aligned windows.
    "q_stream_seq" -> """
      WITH o AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_type || '>' || e2 || '>' || e3 AS trigram,
             count(*) AS n
      FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY trigram
      ORDER BY n DESC, trigram
      LIMIT 20""",

    // DuckDB's native ASOF join independently cross-checks the window
    // emulation, delay filter included.
    "q_stream_funnel" -> """
      WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      s AS (SELECT * FROM events WHERE event_type = 'signup'),
      m AS (SELECT p.event_id, p.ts AS pts, s.ts AS sts
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND p.ts >= s.ts)
      SELECT CAST(date_trunc('day', pts) AS TIMESTAMP) AS day,
             count(*) AS n_purchases,
             CAST(SUM(CASE WHEN sts IS NOT NULL
                  AND epoch_us(pts) - epoch_us(sts) <= 3600000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      FROM m
      GROUP BY 1
      ORDER BY 1""",

    "q_stream_trend" -> """
      WITH w AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY window_start, event_type),
      r AS (SELECT window_start, event_type, n,
                   row_number() OVER (PARTITION BY window_start
                                      ORDER BY n DESC, event_type) AS rk
            FROM w)
      SELECT window_start, CAST(rk AS INT) AS rk, event_type,
             CAST(n AS BIGINT) AS n
      FROM r WHERE rk <= 3
      ORDER BY window_start, rk""",

    "q_stream_tumble" -> """
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, count(*) AS n, ROUND(SUM(value), 2) AS sum_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type""",

    // Each event belongs to the 4 sliding windows whose starts are
    // its 15-min bucket minus {0,1,2,3} slides.
    "q_stream_slide" -> """
      SELECT window_start, count(*) AS n FROM (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - m * INTERVAL '15 minutes' AS window_start
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m))
      GROUP BY window_start
      ORDER BY window_start""",

    // 6-hour buckets stay aligned with Spark's epoch-origin windows:
    // both origins are midnight UTC and 6 h divides a day.
    "q_stream_enrich" -> """
      SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
             c_mktsegment, count(*) AS n, ROUND(SUM(value), 2) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY window_start, c_mktsegment
      ORDER BY window_start, c_mktsegment""",

    "q_stream_join" -> """
      WITH c AS (SELECT user_id AS cu, ts AS cts FROM events
                 WHERE event_type = 'click'),
           p AS (SELECT user_id AS pu, ts AS pts, event_id AS pid
                 FROM events WHERE event_type = 'purchase')
      SELECT CAST(pts AS DATE) AS day,
             count(*) AS n_pairs,
             count(DISTINCT pid) AS n_purchases,
             FLOOR(SUM(epoch_us(pts) - epoch_us(cts))
               / count(*) / 1e6 * 100 + 0.5) / 100 AS avg_delay_s
      FROM p JOIN c ON cu = pu
        AND cts >= pts - INTERVAL 30 MINUTE AND cts <= pts
      GROUP BY day
      ORDER BY day""",

    "q_stream_join_outer" -> """
      WITH c AS (SELECT user_id AS cu, ts AS cts FROM events
                 WHERE event_type = 'click'),
           p AS (SELECT user_id AS pu, ts AS pts, event_id AS pid
                 FROM events WHERE event_type = 'purchase')
      SELECT CAST(pts AS DATE) AS day,
             count(DISTINCT pid) AS n_purchases,
             count(DISTINCT CASE WHEN cu IS NOT NULL THEN pid END)
               AS n_attributed,
             count(DISTINCT CASE WHEN cu IS NULL THEN pid END) AS n_organic,
             CAST(SUM(CASE WHEN cu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs
      FROM p LEFT JOIN c ON cu = pu
        AND cts >= pts - INTERVAL 30 MINUTE AND cts <= pts
      GROUP BY day
      ORDER BY day""",

    "q_stream_join_full" -> """
      WITH c AS (SELECT user_id AS cu, ts AS cts FROM events
                 WHERE event_type = 'click'),
           p AS (SELECT user_id AS pu, ts AS pts, event_id AS pid
                 FROM events WHERE event_type = 'purchase')
      SELECT COALESCE(CAST(pts AS DATE), CAST(cts AS DATE)) AS day,
             count(DISTINCT pid) AS n_purchases,
             count(DISTINCT CASE WHEN cu IS NOT NULL THEN pid END)
               AS n_attributed,
             CAST(SUM(CASE WHEN pu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_clicks,
             CAST(SUM(CASE WHEN pu IS NOT NULL AND cu IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      FROM p FULL JOIN c ON cu = pu
        AND cts >= pts - INTERVAL 30 MINUTE AND cts <= pts
      GROUP BY day
      ORDER BY day""",

    "q_stream_tws_list" -> """
      WITH c AS (SELECT user_id, event_type, count(*) AS n
                 FROM events GROUP BY user_id, event_type),
      top AS (SELECT user_id, event_type AS top_type, n AS top_n,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY n DESC, event_type) AS rn
              FROM c),
      tot AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
                     CAST(count(*) AS INT) AS n_types
              FROM c GROUP BY user_id),
      l3 AS (SELECT user_id, value,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM events),
      s3 AS (SELECT user_id, FLOOR(SUM(value) * 1e4 + 0.5) / 1e4
               AS last3_sum
             FROM l3 WHERE rn <= 3 GROUP BY user_id)
      SELECT user_id, n_events, n_types, top_type, top_n, last3_sum
      FROM tot JOIN (SELECT user_id, top_type, top_n FROM top WHERE rn = 1)
        USING (user_id) JOIN s3 USING (user_id)
      ORDER BY user_id""",

    "q_stream_dedup" -> """
      SELECT user_id, event_type, day, event_id FROM (
        SELECT user_id, event_type, CAST(ts AS DATE) AS day, event_id,
               row_number() OVER (PARTITION BY user_id, event_type,
                 CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
        FROM events)
      WHERE rn = 1
      ORDER BY user_id, event_type, day""",

    // The streamed update-log merge must land on exactly the batch
    // group-by — that equality IS the exactly-once claim.
    "q_stream_sink" -> """
      SELECT event_type, count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    // Provider swap must be semantics-free: identical oracle.
    "q_stream_rocksdb" -> """
      SELECT event_type, count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    // Gaps-and-islands: new-session flag on gap >= 30 min (matching
    // Spark's end-exclusive [start, last+gap) session interval),
    // running sum → session id → group.
    "q_stream_session" -> """
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
      sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, MIN(ts) AS session_start,
             count(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
      FROM sess
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    // Running-max filter: a row survives iff it strictly exceeds every
    // earlier same-user value (first row per user always survives).
    "q_stream_tws" -> """
      WITH m AS (
        SELECT user_id, event_id, ts, value,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        FROM events)
      SELECT user_id, event_id, ts, value
      FROM m WHERE prior IS NULL OR value > prior
      ORDER BY user_id, event_id""",

    // Same gaps-and-islands recursion, no value column — the batch
    // form of the flatMapGroupsWithState sessionizer is definitionally
    // this SQL (strict-< gap extension ≡ >= starts a new session).
    "q_stream_custom_state" -> """
      WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
      sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, MIN(ts) AS session_start,
             count(*) AS n_events
      FROM sess
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
  )
}
