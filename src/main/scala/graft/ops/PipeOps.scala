package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.10 (round-3 additions): pipeline-infrastructure operators a
  * 100 TB training-data build needs around the core engine —
  * reproducible sampling/splits, text canonicalization before dedup,
  * exact quantiles, skew-mitigated joins, and pivot/struct shaping.
  *
  * Scale notes (100 TB):
  *  - Sampling/splits are PER-ROW hash decisions (md5-60bit of the
  *    stable key) — no shuffle, no driver state, and the assignment is
  *    reproducible across runs/engines/cluster sizes, which is the
  *    property a training pipeline actually needs (re-running the
  *    split tomorrow on 3× the cluster must not move documents
  *    between train and test).
  *  - The stratified sample bounds output per stratum via a window
  *    top-k; the shuffle key is the stratum. With few huge strata,
  *    pre-thin each partition to its local top-k (partial top-k is
  *    already what TakeOrderedAndProject does globally) or salt.
  *  - `q_join_skew_salt` is the canonical hot-key treatment: the
  *    probe side salts each ROW (hash of its unique id mod S) while
  *    the build side replicates S ways, so one hot key fans across S
  *    reducers instead of one straggler. S follows cluster width;
  *    results are S-invariant (asserted by the plain-join oracle).
  *  - Exact interpolated percentiles sort within each group — fine on
  *    bounded groups; at unbounded cardinality switch to
  *    approx_percentile (t-digest-style mergeable sketch), the same
  *    trade q_agg_approx documents for distinct counts.
  */
object PipeOps {

  /** Shared cross-engine md5-60bit hash — see Tables.h60. */
  private def h60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Tables.h60(c)

  /** Tie-proof 4-decimal rounding (BUILD_NOTES: Spark HALF_UP vs
    * DuckDB binary round diverge on .xxxx5; floor form is identical
    * IEEE math in both engines). */
  private def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 1e4 + 0.5) / 1e4

  private val SaltBuckets = 8

  /** GK sketch accuracy for `q_agg_quantile_approx`: rank error
    * ≤ 1/QuantileAcc of the group size (so ±0.01% ranks) at O(acc)
    * sketch entries per group — small enough to combine map-side,
    * tight enough that OpsSpec's rank-law assertion is meaningful. */
  private[graft] val QuantileAcc = 10000

  val queries: Map[String, Q] = Map(
    // Token-budget mixture planning: given a 1M-token training budget,
    // how much of each source to take. Per-source token counts are
    // temperature-reweighted with α = 0.5 (weight ∝ √tokens — the
    // standard down-weighting of huge sources so small sources aren't
    // drowned), then the budget splits by weight and `epochs` says how
    // many passes over each source that plan implies (> 1 ⇒ the plan
    // repeats the source). This is the PLANNING step ahead of
    // q_pipe_mix's row-level gating. One tokenize+count scan collapses
    // the corpus to |S| rows; the budget arithmetic is driver-trivial
    // and shuffle-free after that — at 100 TB the cost IS the scan.
    "q_pipe_tokenbudget" -> ((s, d) => {
      import s.implicits._
      val per = t(s, d, "documents")
        .select($"source", size(split($"text", " ")).cast("long").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("tokens"))
      val tot = per.agg(sum($"tokens").as("total"),
        sum(sqrt($"tokens")).as("sumrt"))
      // planned_tokens derives from the ROUNDED weight (a multiple of
      // 1e-4), not the raw sqrt ratio: the raw ratio floored at an
      // integer boundary could flip on a last-ulp Spark-vs-DuckDB
      // difference in the summation-order-dependent sumrt, whereas
      // weight*1e6 sits ~1e2 away from the nearest .5 tie.
      per.crossJoin(broadcast(tot))
        .select($"source", $"tokens",
          (floor($"tokens" * 1.0 / $"total" * 1e4 + 0.5) / 1e4).as("share"),
          (floor(sqrt($"tokens") / $"sumrt" * 1e4 + 0.5) / 1e4).as("weight"))
        .withColumn("planned_tokens",
          floor($"weight" * 1e6 + 0.5).cast("long"))
        .withColumn("epochs",
          floor($"planned_tokens" * 1.0 / $"tokens" * 1e4 + 0.5) / 1e4)
        .orderBy($"source")
    }),

    // Reproducible train/val/test split: bucket = md5-60bit(doc_id)
    // mod 100, 80/10/10. Per-row decision — no shuffle until the
    // audit aggregation, and stable under any repartitioning.
    "q_sample_hash" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("bucket", h60($"doc_id".cast("string")) % 100)
        .withColumn("split",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "val").otherwise("test"))
        .groupBy($"lang", $"split").agg(
          count(lit(1)).as("n_docs"),
          round(avg($"n_chars"), 2).as("avg_chars"))
        .orderBy($"lang", $"split")
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    // each doc draws a deterministic hash uniform u ∈ (0, 1] and is
    // ranked by ln(u)/w with w = n_chars — the exponential-sort trick
    // whose top-k is EXACTLY a weight-proportional without-replacement
    // sample (P(doc first) = w/Σw, recursively). The importance-
    // sampling step of corpus curation: upweight long/high-quality
    // docs without the with-replacement duplicate problem of
    // q_pipe_oversample. Deterministic u (the q_pipe_dpnoise hash-
    // uniform pattern) makes the draw reproducible AND oracle-
    // recomputable; the SORT key is floor-rounded to 1e-9 in both
    // engines so ordering never hinges on ln's last ulp (the accepted
    // repo-wide ln caveat), with doc_id as the total-order tiebreak.
    // Scale: a pure map expression + global top-k —
    // TakeOrderedAndProject's per-partition heaps ship k rows per
    // task, never a global sort. The weight-law (heavier docs win at
    // equal uniforms; selection invariant under corpus order) is
    // pinned in PipeOpsSpec.
    "q_sample_weighted" -> ((s, d) => {
      import s.implicits._
      // +1 keeps u strictly positive (h60 = 0 would put ln at -inf).
      val u = (h60($"doc_id".cast("string")) + 1).cast("double") /
        1.152921504606846976e18
      t(s, d, "documents")
        // w > 0 is the Efraimidis–Spirakis precondition (w = 0 rows
        // have zero selection probability anyway) — enforced rather
        // than assumed, identically in the oracle: ln(u)/0 = -inf,
        // where Spark's long-valued floor saturates to Long.MinValue
        // while DuckDB's FLOOR keeps -inf, so an unguarded zero-weight
        // row would diverge the engines besides being meaningless.
        .where($"n_chars" > 0)
        .select($"doc_id", $"lang", $"n_chars",
          (floor(log(u) / $"n_chars" * 1e9 + 0.5) / 1e9).as("skey"))
        .orderBy($"skey".desc, $"doc_id")
        .limit(32)
    }),

    // Deterministic stratified sample: 20 docs per language, chosen
    // by hash order (not "first 20 in storage order", which changes
    // with file layout). Window top-k per stratum.
    "q_sample_stratified" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy(h60($"doc_id".cast("string")), $"doc_id")
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w)).where($"rn" <= 20)
        .select($"doc_id", $"lang")
        .orderBy($"lang", $"doc_id")
    }),

    // Canonicalize-then-dedup audit: lowercase, strip non-alnum,
    // collapse whitespace — the normalization every dedup pass runs
    // first so near-identical texts ("Fast key!" vs "fast key")
    // collapse to one exact key. Reports per-lang unique/dupe counts.
    "q_text_normalize" -> ((s, d) => {
      import s.implicits._
      val norm = trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " "))
      t(s, d, "documents").withColumn("norm", norm)
        .groupBy($"lang").agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"norm").as("n_unique"),
          (count(lit(1)) - countDistinct($"norm")).as("n_dupes"))
        .orderBy($"lang")
    }),

    // Train/eval contamination audit (decontamination): a test-split
    // doc whose fingerprint also occurs in the train split is leaked
    // eval data. The fingerprint is the md5-60bit of the first 8
    // normalized tokens — the cheap prefix screen real pipelines run
    // before n-gram overlap (whole-text hashing finds only verbatim
    // copies: 500/500 unique on this corpus). Split assignment uses
    // the same cross-engine hash, so the audit is reproducible under
    // any repartitioning; the probe is a keyed join on the 60-bit
    // fingerprint (train side de-duplicated first), the shape that
    // scales to a full-corpus decontamination pass.
    "q_pipe_contamination" -> ((s, d) => {
      import s.implicits._
      val norm = trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " "))
      val base = t(s, d, "documents")
        .withColumn("bucket", h60($"doc_id".cast("string")) % 100)
        .withColumn("fp", h60(array_join(slice(split(norm, " "), 1, 8), " ")))
      val trainFps = base.where($"bucket" < 80).select($"fp").distinct()
      base.where($"bucket" >= 90)
        .join(trainFps.withColumn("leak", lit(1)), Seq("fp"), "left")
        .groupBy($"lang").agg(
          count(lit(1)).as("n_test"),
          sum(when($"leak".isNotNull, 1L).otherwise(0L)).as("n_leaked"))
        .orderBy($"lang")
    }),

    // Exact interpolated percentiles per group (linear interpolation
    // at p*(n-1) — same definition as DuckDB quantile_cont).
    "q_agg_quantile" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem").groupBy($"l_returnflag").agg(
          r4(percentile($"l_extendedprice", lit(0.5))).as("p50"),
          r4(percentile($"l_extendedprice", lit(0.9))).as("p90"))
        .orderBy($"l_returnflag")
    }),

    // DATA FRESHNESS / STALENESS REPORT — the per-source SLA table an
    // ingest dashboard publishes: for each event source, how long ago
    // did it last deliver (staleness vs the corpus high-water mark)
    // and how old is its average event? All arithmetic is whole-epoch-
    // second INTEGER math (the q_win_lag truncation convention), so
    // every column is exact; the high-water mark is a 1-row broadcast
    // and the rollup is one keyed aggregate — scan cost = total cost
    // at any corpus size.
    "q_pipe_freshness" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"event_type", unix_timestamp($"ts").as("es"))
      val ref = ev.agg(max($"es").as("now_s"))
      ev.crossJoin(broadcast(ref))
        .groupBy($"event_type").agg(
          count(lit(1)).as("n_events"),
          (max($"now_s") - max($"es")).as("staleness_sec"),
          floor(sum($"now_s" - $"es") * 1.0 / count(lit(1)))
            .cast("long").as("avg_age_sec"))
        .orderBy($"event_type")
    }),

    // WEIGHTED quantiles — "the median dollar, not the median row":
    // each price weighted by its shipped quantity, the quantile that
    // answers "at what price does half the VOLUME sit?" (every
    // revenue/latency-budget report wants this, and no builtin does
    // weighted). Engine: pre-aggregate weight per (group, price) —
    // ties collapse so the cumulative scan has no peer ambiguity —
    // then one keyed cumulative-sum window and min(price) at each
    // threshold crossing. Exactness: quantities are integral, so the
    // cumulative weights and the ·/2 threshold are exact doubles; the
    // crossing comparison never sits on a rounding boundary. At
    // 100 TB: the (group, price) pre-agg combines map-side and is the
    // only shuffle; the window is keyed by group, never global.
    "q_agg_weighted_quantile" -> ((s, d) => {
      import s.implicits._
      val wp = t(s, d, "lineitem")
        .groupBy($"l_returnflag", $"l_extendedprice".as("price"))
        .agg(sum($"l_quantity").as("w"))
      val cum = Window.partitionBy($"l_returnflag").orderBy($"price")
      val all = Window.partitionBy($"l_returnflag")
      wp.withColumn("cw", sum($"w").over(cum))
        .withColumn("tot", sum($"w").over(all))
        .groupBy($"l_returnflag").agg(
          min(when($"cw" >= $"tot" / 2, $"price")).as("wmedian"),
          min(when($"cw" >= $"tot" * 0.9, $"price")).as("wp90"),
          max($"tot").cast("long").as("total_weight"))
        .orderBy($"l_returnflag")
    }),

    // DISCRETE percentiles via the ANSI WITHIN GROUP ordered-set
    // syntax, contrasted with the continuous form in one row:
    // percentile_disc returns an ACTUAL element of the group (the
    // smallest value whose cumulative share ≥ p) — the semantics a
    // latency-SLA report needs ("a real request took this long"),
    // immune to interpolation-arithmetic drift by construction, which
    // is also why the disc columns need no rounding. The cont median
    // sits beside it to pin the semantic difference (on an even group
    // it interpolates; quantities are integral so midpoints are exact
    // halves). Same single keyed aggregate shape as q_agg_quantile.
    "q_agg_percentile_disc" -> ((s, d) => {
      Tables.sql(s, d, s"""
        SELECT l_returnflag,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
                 AS med_disc,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
                 AS p90_disc,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)
                 AS med_cont
        FROM parquet.`$d/lineitem.parquet`
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),

    // The MERGEABLE-SKETCH twin of q_agg_quantile — the documented
    // unbounded-cardinality path (see the object scaladoc): exact
    // interpolated percentiles buffer each group's values, so a group
    // with 10^10 rows spills its sort; approx_percentile keeps a
    // bounded Greenwald-Khanna sketch per group that combines
    // map-side like any partial aggregate, making group cardinality
    // AND group size irrelevant to memory. Rank error is ≤ 1/accuracy
    // by the GK bound — the accuracy knob trades sketch bytes for
    // rank precision. Sketch internals are engine-specific (DuckDB
    // has no GK twin) → declared no-oracle, like q_agg_approx /
    // q_agg_hll for distinct counts; the GK rank-error law vs the
    // exact percentiles is asserted per group in OpsSpec instead.
    "q_agg_quantile_approx" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem").groupBy($"l_returnflag").agg(
          approx_percentile($"l_extendedprice", lit(0.5), lit(QuantileAcc))
            .as("p50"),
          approx_percentile($"l_extendedprice", lit(0.9), lit(QuantileAcc))
            .as("p90"))
        .orderBy($"l_returnflag")
    }),

    // Skew-mitigated repartition join: events.user_id is a hot-key
    // domain (15 users at sf0.001 — a plain shuffle join runs on ~15
    // straggler tasks no matter how wide the cluster). Probe rows salt
    // by hash(event_id) mod S; the dim side replicates S ways; the
    // join key becomes (key, salt). Result is identical to the plain
    // join — the oracle IS the plain join.
    "q_join_skew_salt" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .withColumn("salt", pmod(hash($"event_id"), lit(SaltBuckets)))
      val salts = s.range(SaltBuckets).select($"id".cast("int").as("salt_d"))
      val dim = t(s, d, "customer")
        .select($"c_custkey", $"c_mktsegment")
        .crossJoin(salts)
      ev.join(dim,
          $"user_id" === $"c_custkey" && $"salt" === $"salt_d")
        .groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n_events"),
          (floor(sum($"value") * 100 + 0.5) / 100).as("sum_value"))
        .orderBy($"c_mktsegment")
    }),

    // Pivot: order counts per market segment × order status. The
    // Spark side is a real RelationalGroupedDataset.pivot (one
    // shuffle, pivot columns resolved at plan time via the explicit
    // value list — never the two-pass distinct scan).
    "q_agg_pivot" -> ((s, d) => {
      import s.implicits._
      val j = t(s, d, "orders").join(
        broadcast(t(s, d, "customer").select($"c_custkey", $"c_mktsegment")),
        $"o_custkey" === $"c_custkey")
      j.groupBy($"c_mktsegment")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select($"c_mktsegment",
          coalesce($"F", lit(0L)).as("n_f"),
          coalesce($"O", lit(0L)).as("n_o"),
          coalesce($"P", lit(0L)).as("n_p"))
        .orderBy($"c_mktsegment")
    }),

    // SCD-1 upsert (MERGE without a table format): a deterministic
    // change-batch (every 7th customer re-priced +10%, three inserts)
    // merges into the dim via ONE full-outer join on the key,
    // change-side wins per column — the canonical one-shuffle merge
    // when the store is plain parquet. Output is the post-merge audit.
    // At 100 TB: both sides hash-partition on the key; with a bucketed
    // base table the shuffle drops to the (small) change side only.
    "q_pipe_upsert" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "customer")
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      val changes = base.where($"c_custkey" % 7 === 0)
        .select($"c_custkey",
          $"c_mktsegment",
          (floor($"c_acctbal" * 1.1 * 100 + 0.5) / 100).as("c_acctbal"))
        .unionByName(Seq(
          (-1L, "NEW", 0.0), (-2L, "NEW", 10.5), (-3L, "NEW", 99.99))
          .toDF("c_custkey", "c_mktsegment", "c_acctbal"))
        .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
          $"c_acctbal".as("bal"))
      base.join(changes, $"c_custkey" === $"k", "full_outer")
        .select(coalesce($"k", $"c_custkey").as("key"),
          coalesce($"seg", $"c_mktsegment").as("seg"),
          coalesce($"bal", $"c_acctbal").as("bal"))
        .groupBy($"seg").agg(count(lit(1)).as("n"),
          (floor(sum($"bal") * 100 + 0.5) / 100).as("sum_bal"))
        .orderBy($"seg")
    }),

    // Deterministic source-weighted mixture — the data-mixing step of
    // an LLM training build: each source gets a sampling rate (here by
    // source index mod 4: 100/50/25/10 %), and a row is kept iff its
    // domain-separated hash lands under the rate. Per-row decision, no
    // shuffle until the audit agg, reproducible across runs and
    // cluster widths — rerunning the mix never swaps documents.
    "q_pipe_mix" -> ((s, d) => {
      import s.implicits._
      val srcnum = substring($"source", 4, 10).cast("int")
      val rate = when(srcnum % 4 === 0, 100)
        .when(srcnum % 4 === 1, 50)
        .when(srcnum % 4 === 2, 25).otherwise(10)
      t(s, d, "documents")
        .withColumn("kept",
          h60(concat(lit("mix:"), $"doc_id".cast("string"))) % 100 < rate)
        .groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_chars").otherwise(0L)).as("chars_kept"))
        .orderBy($"source")
    }),

    // SINGLE-SCAN COLUMN PROFILE — the Deequ-style first query run
    // against any new dataset before anything else is built on it:
    // THE PREPROCESSING FUNNEL REPORT — the per-stage attrition
    // accounting every production training-data pipeline publishes
    // next to its dataset card (how many docs/tokens survived each
    // gate?), as ONE lazy DAG over four chained stages: raw →
    // prefix-FINGERPRINT dedup (min-doc_id survivor per md5 of the
    // first 8 tokens — the cheap CCNet-style first-pass content
    // fingerprint run before any MinHash machinery; the fixture
    // carries 24 such shared-prefix near-dups) → Gopher-style length
    // gates (30 ≤ words ≤ 90, dropping both tails) → per-language
    // TOKEN BUDGET (keep docs in doc_id order while the language's
    // cumulative tokens stay ≤ 50% of its post-gate total — the
    // integer cap broadcasts back, the q_pipe_temperature move).
    // Stages compose the operators declared individually elsewhere
    // (q_dedup_exact / q_text_quality / q_pipe_tokenbudget) — this
    // row proves the COMPOSITION end-to-end under one differential.
    // Scale: fingerprint window keys on fp (unbounded groups, fine);
    // the per-lang cumsum is ONE partition per language — at 100 TB
    // the budget applies per (lang, shard) or through DistRank's
    // distributed ranking (the q_pipe_curriculum engine), documented
    // trade. Output: (stage_id, stage, n_docs, n_tokens), 4 rows.
    "q_pipe_prepfunnel" -> ((s, d) => {
      import s.implicits._
      // Every stage downstream of the scan needs only (doc_id, lang,
      // ntok, fp) — ck that NARROW projection once (the token array
      // never leaves the scan), then ck the deduped survivor table:
      // un-checkpointed, the four stage censuses + caps/budget joins
      // each replayed the tokenize + fingerprint-window chain
      // (5 documents scans -> 1, one window pass instead of four).
      val docs = Tables.ck(t(s, d, "documents")
        .select($"doc_id", $"lang", split($"text", " ").as("w"))
        .select($"doc_id", $"lang", size($"w").cast("long").as("ntok"),
          md5(concat_ws(" ", slice($"w", 1, 8))).as("fp")))
      val s1 = Tables.ck(docs
        .withColumn("rn",
          row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
        .where($"rn" === 1).drop("fp", "rn"))
      val s2 = s1.where($"ntok".between(30, 90))
      val caps = s2.groupBy($"lang")
        .agg(floor(sum($"ntok") * 0.5).as("cap"))
      val s3 = s2
        .withColumn("cum",
          sum($"ntok").over(Window.partitionBy($"lang").orderBy($"doc_id")))
        .join(broadcast(caps), Seq("lang"))
        .where($"cum" <= $"cap")
      def st(df: org.apache.spark.sql.DataFrame, id: Int, nm: String) =
        df.agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
          .select(lit(id).as("stage_id"), lit(nm).as("stage"),
            $"n_docs", $"n_tokens")
      st(docs, 0, "raw")
        .unionByName(st(s1, 1, "fingerprint_dedup"))
        .unionByName(st(s2, 2, "quality_rules"))
        .unionByName(st(s3, 3, "token_budget"))
        .orderBy($"stage_id")
    }),

    // per-column non-null and exact distinct counts (completeness +
    // cardinality), every column in ONE scan. Multi-column DISTINCT
    // aggregates plan through Expand — the input multiplies by the
    // distinct-column count into partial-aggregable streams, so the
    // corpus is still read once and nothing driver-side touches data;
    // the wide one-row aggregate then unpivots via stack() into the
    // narrow (col_name, …) report. At 100 TB the exact distincts swap
    // for HLL sketches per column — the q_agg_hll mergeable-sketch
    // twin, documented trade — cutting Expand's multiplication too.
    "q_pipe_profile" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").agg(
          count(lit(1)).as("n"),
          count($"doc_id").as("nn1"), countDistinct($"doc_id").as("nd1"),
          count($"lang").as("nn2"), countDistinct($"lang").as("nd2"),
          count($"source").as("nn3"), countDistinct($"source").as("nd3"),
          count($"n_chars").as("nn4"), countDistinct($"n_chars").as("nd4"),
          count($"text").as("nn5"), countDistinct($"text").as("nd5"))
        .select($"n", expr("""stack(5,
            'doc_id',  nn1, nd1,
            'lang',    nn2, nd2,
            'n_chars', nn4, nd4,
            'source',  nn3, nd3,
            'text',    nn5, nd5) AS (col_name, n_nonnull, n_distinct)"""))
        .select($"col_name", $"n", $"n_nonnull", $"n_distinct")
        .orderBy($"col_name")
    }),

    // SKETCH TWIN of q_pipe_profile — the 100 TB shape that row
    // documents, declared: per-column cardinality via
    // approx_count_distinct (HyperLogLog++, rsd 2%) instead of exact
    // countDistinct. The exact form plans through Expand — the input
    // multiplies by the distinct-column count into 5 parallel streams
    // — while the sketches are plain commutative partial aggregates:
    // ONE un-multiplied scan, map-side-combined |sketch|-sized
    // partials, mergeable across partitions/days exactly like
    // q_agg_hll. rsd is 2%, not tighter: Spark sizes the register
    // array as rsd shrinks (1% measured 3.3 s vs 2%'s 0.85 s at
    // sf0.1 — the per-partition merge of 5 large dense sketches, not
    // the scan, dominates), and a profile needs magnitude, not the
    // third digit. PlanShapeSpec pins the plan difference (exact
    // plans Expand, approx plans none); the completeness columns (n,
    // n_nonnull) stay exact. NO-ORACLE BY DESIGN (the q_agg_approx /
    // q_agg_hll precedent): DuckDB's approx_distinct is a different
    // HLL implementation, so cross-engine equality is undefined —
    // OpsSpec instead pins each sketch within ±5% of the exact
    // per-column cardinality on the fixture (deterministic given the
    // data — HLL has no runtime randomness) and the exact columns
    // against q_pipe_profile itself.
    "q_pipe_profile_approx" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").agg(
          count(lit(1)).as("n"),
          count($"doc_id").as("nn1"),
          approx_count_distinct($"doc_id", 0.02).as("nd1"),
          count($"lang").as("nn2"),
          approx_count_distinct($"lang", 0.02).as("nd2"),
          count($"source").as("nn3"),
          approx_count_distinct($"source", 0.02).as("nd3"),
          count($"n_chars").as("nn4"),
          approx_count_distinct($"n_chars", 0.02).as("nd4"),
          count($"text").as("nn5"),
          approx_count_distinct($"text", 0.02).as("nd5"))
        .select($"n", expr("""stack(5,
            'doc_id',  nn1, nd1,
            'lang',    nn2, nd2,
            'n_chars', nn4, nd4,
            'source',  nn3, nd3,
            'text',    nn5, nd5) AS (col_name, n_nonnull, n_distinct_approx)"""))
        .select($"col_name", $"n", $"n_nonnull", $"n_distinct_approx")
        .orderBy($"col_name")
    }),

    // CDC CHANGELOG COMPACTION — materialize the current snapshot of
    // a keyed changelog (the Debezium/CDF apply shape, batch form):
    // the event stream is read as ordered ops on user_id — any
    // non-'error' event upserts the user's value, 'error' is the
    // DELETE TOMBSTONE — and last-writer-wins per key, tombstoned
    // keys dropped from the snapshot. The ordering key is the
    // globally-unique event ts — PipeOpsSpec asserts uniqueness at
    // every fixture SF, because max_by vs DuckDB arg_max tie-break
    // differently on duplicates and a regenerated fixture must fail
    // the spec, not flake the differential.
    //
    // The scale point is HOW last-writer-wins runs: max_by/arg_max is
    // a commutative, partial-aggregable aggregate — map-side combine
    // reduces each partition to one candidate per key before the
    // shuffle, and NOTHING is sorted. The window alternative
    // (row_number DESC, the q_dedup_exact survivor shape) must
    // shuffle and sort EVERY changelog row per key before discarding
    // all but one — the compaction equivalence of the two forms is
    // pinned as a law in PipeOpsSpec, and the agg form is what a
    // 100 TB changelog wants.
    "q_pipe_cdc" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_ops"),
          max_by($"event_type", $"ts").as("last_op"),
          (floor(max_by($"value", $"ts") * 100 + 0.5) / 100)
            .as("last_value"))
        .where($"last_op" =!= "error")
        .select($"user_id", $"n_ops", $"last_op", $"last_value")
        .orderBy($"user_id")
    }),

    // TEMPERATURE-scaled language resampling (α = 0.5) — the
    // multilingual data-mixing move q_pipe_mix's FIXED per-source
    // rates cannot express: the per-language rate is DERIVED FROM THE
    // CORPUS ITSELF, r_l = (n_min/n_l)^(1-α) = sqrt(n_min/n_l), so
    // the rarest language keeps everything and dominant languages are
    // downsampled toward the α-tempered distribution (the standard
    // move for balancing multilingual pretraining without starving
    // low-resource languages). Two corpus passes, both
    // partial-aggregable: one |langs|-key count, then the keep filter
    // against the broadcast |langs|-sized rate table — per-row
    // hash-gated like every mix/split row, so reruns never swap
    // documents and the decision needs no shuffle.
    //
    // Cross-engine exactness: the rate is computed as
    // floor(sqrt(n_min/n_l)·1e6) — an integer ppm threshold. sqrt is
    // IEEE-correctly-rounded in BOTH engines (unlike pow, which is
    // only ulp-accurate and why α is fixed at 0.5 here), so the
    // threshold integers — and therefore every keep decision — are
    // bit-identical, with no float tolerance anywhere in the row.
    "q_pipe_temperature" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val cnt = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      val nmin = cnt.agg(min($"n_docs").as("n_min"))
      val rates = cnt.crossJoin(broadcast(nmin))
        .withColumn("sample_ppm",
          floor(sqrt($"n_min".cast("double") / $"n_docs") * 1e6)
            .cast("long"))
      val kept = docs
        .join(broadcast(rates.select($"lang", $"sample_ppm")), "lang")
        .where(h60(concat(lit("temp:"), $"doc_id".cast("string")))
          % 1000000 < $"sample_ppm")
        .groupBy($"lang").agg(count(lit(1)).as("n_kept"),
          sum($"n_chars").as("chars_kept"))
      rates.join(kept, Seq("lang"), "left")
        .select($"lang", $"n_docs", $"sample_ppm",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"chars_kept", lit(0L)).as("chars_kept"))
        .orderBy($"lang")
    }),

    // Benford's-law first-digit audit over order values — the classic
    // fabricated-data / generator-quality check: observed first-digit
    // shares vs log10(1+1/d), with absolute deviation per digit (the
    // fixture's uniform-ish price generator honestly FAILS Benford —
    // that is the audit's finding, not a bug). Map-only digit
    // extraction + one 9-key agg. NOTE: the double is floored BEFORE
    // the integer cast on both sides — DuckDB's double→BIGINT cast
    // rounds where Spark's truncates, a silent cross-engine trap.
    "q_pipe_benford" -> ((s, d) => {
      import s.implicits._
      val c = t(s, d, "orders").where($"o_totalprice" >= 1)
        .select(substring(floor($"o_totalprice").cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val tot = c.agg(sum($"n").as("tot"))
      c.crossJoin(broadcast(tot))
        .select($"digit", $"n",
          (floor($"n" * 1.0 / $"tot" * 1e4 + 0.5) / 1e4).as("observed"),
          (floor(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0))
            * 1e4 + 0.5) / 1e4).as("benford"),
          (floor(abs($"n" * 1.0 / $"tot"
            - log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)))
            * 1e4 + 0.5) / 1e4).as("abs_dev"))
        .orderBy($"digit")
    }),

    // Output-shard balance audit: docs hashed into 16 shards with the
    // domain-separated cross-engine hash, then one row of balance
    // stats (max/mean skew ratio). This is the write-side health check
    // before a 100-TB job commits: a skew ratio near 1 means every
    // output file is the same size; the hash assignment is the same
    // partitioning a custom shard-by-key writer would use, and it is
    // reproducible across engines and runs.
    "q_pipe_shard" -> ((s, d) => {
      import s.implicits._
      val per = t(s, d, "documents")
        .select((h60(concat(lit("shard:"), $"doc_id".cast("string")))
          % 16).as("shard"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n"))
      per.agg(
          count(lit(1)).as("n_shards"),
          min($"n").as("min_rows"),
          max($"n").as("max_rows"),
          (floor(max($"n") * 1.0 / (sum($"n") * 1.0 / count(lit(1)))
            * 1e4 + 0.5) / 1e4).as("skew_ratio"))
    }),

    // Incremental-ETL merge: the day's new partition is aggregated
    // alone and MERGED with the pre-aggregated history — never a
    // recompute over all history. Works because count/sum are
    // mergeable partials (the same property the engine's partial+final
    // HashAggregates rely on); the differential proves merged ==
    // direct. At 100 TB this is the difference between a daily job
    // reading one day and one reading three years.
    "q_pipe_incremental" -> ((s, d) => {
      import s.implicits._
      val cut = lit("2024-01-20").cast("timestamp")
      val ev = t(s, d, "events")
      def part(p: org.apache.spark.sql.Column) = ev.where(p)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("sv"))
      part($"ts" < cut).unionByName(part($"ts" >= cut))
        .groupBy($"event_type")
        .agg(sum($"n").as("n_events"), round(sum($"sv"), 2).as("sum_value"))
        .orderBy($"event_type")
    }),

    // Distribution-drift audit (PSI — population stability index):
    // each language's n_chars distribution against the 'en' reference,
    // over fixed-width 200-char buckets with +1 smoothing across the
    // observed bucket grid (so an empty bucket on either side never
    // yields ln(0)). PSI ≥ 0.2 is the conventional retrain/alarm
    // threshold. Single pass to bucket counts; the per-lang share
    // table is tiny and the reference side broadcasts — the same
    // audit at 100 TB is one partial-aggregable count pass.
    "q_pipe_drift" -> ((s, d) => {
      import s.implicits._
      val b = t(s, d, "documents")
        .select($"lang", floor($"n_chars" / 200).cast("long").as("bucket"))
      // ONE corpus scan: the grid axes' distinct sets are exactly the
      // grouped count table's key projections (groupBy preserves the
      // key set), so both crossJoin sides and the left join read the
      // ck'd grid-sized c0 instead of each replaying the scan (3
      // documents scans -> 1).
      val c0 = Tables.ck(
        b.groupBy($"lang", $"bucket").agg(count(lit(1)).as("c0")))
      val grid = c0.select($"lang").distinct()
        .crossJoin(c0.select($"bucket").distinct())
      val cnt = grid.join(c0, Seq("lang", "bucket"), "left")
        .select($"lang", $"bucket", coalesce($"c0", lit(0L)).as("c"))
      val tot = cnt.groupBy($"lang")
        .agg(sum($"c").as("t"), count(lit(1)).as("nb"))
      val sh = cnt.join(tot, "lang")
        .select($"lang", $"bucket", (($"c" + 1.0) / ($"t" + $"nb")).as("p"))
      val ref = sh.where($"lang" === "en").select($"bucket", $"p".as("pref"))
      sh.where($"lang" =!= "en").join(broadcast(ref), "bucket")
        .groupBy($"lang")
        .agg((floor(sum(($"p" - $"pref") * log($"p" / $"pref"))
          * 1e4 + 0.5) / 1e4).as("psi"))
        .orderBy($"lang")
    }),

    // SCD-2 timeline construction: turn a change log (purchase events
    // as value changes) into effective-dated intervals
    // [valid_from, valid_to) with an open NULL end for the current
    // state — the warehouse pattern that makes any point-in-time
    // reconstruction a BETWEEN lookup (and the table q_join_pit-style
    // backfills join against). One lead() pass on the user-keyed
    // secondary sort; no self-join, no shuffle beyond the window's.
    "q_pipe_scd2" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .where($"event_type" === "purchase" && $"user_id" < 20)
        .select($"user_id", $"event_id", round($"value", 2).as("value"),
          $"ts".as("valid_from"),
          lead($"ts", 1).over(w).as("valid_to"))
        .orderBy($"user_id", $"valid_from", $"event_id")
    }),

    // Daily conversion rate with 95% Wilson score bounds: per day,
    // the fraction of active users with ≥1 purchase, plus the
    // interval a decision should actually read (the Wilson score is
    // well-behaved at small n and extreme p̂ where the naive normal
    // interval collapses). Constants are spelled literals (z=1.959964,
    // z²=3.84399184…) identical in both engines. Two keyed aggs — the
    // per-(day,user) collapse then the per-day rate; both partial-
    // aggregable, day cardinality is bounded by the calendar.
    "q_pipe_wilson" -> ((s, d) => {
      import s.implicits._
      val z = 1.959964; val z2 = z * z
      val u = t(s, d, "events")
        .select(floor(expr("unix_micros(ts)") / 86400000000L).cast("long")
          .as("day"), $"user_id",
          when($"event_type" === "purchase", 1).otherwise(0).as("cv"))
        .groupBy($"day", $"user_id").agg(max($"cv").as("conv"))
      val st = u.groupBy($"day")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"conv").cast("double").as("k"))
      val p = $"k" / $"n"
      def wilson(sign: Double) =
        (p + lit(z2 / 2) / $"n" + lit(sign * z) *
          sqrt(p * (lit(1) - p) / $"n" + lit(z2 / 4) / ($"n" * $"n"))) /
          (lit(1) + lit(z2) / $"n")
      st.select($"day", $"n".cast("long").as("n_users"),
          $"k".cast("long").as("n_converted"),
          (floor(p * 1e4 + 0.5) / 1e4).as("p_hat"),
          (floor(wilson(-1) * 1e4 + 0.5) / 1e4).as("wilson_lo"),
          (floor(wilson(1) * 1e4 + 0.5) / 1e4).as("wilson_hi"))
        .orderBy($"day")
    }),

    // A/B experiment readout: Welch's t-statistic on event value
    // between a deterministic 50/50 user split (md5-60bit parity —
    // the same reproducible-assignment primitive as q_sample_hash, so
    // re-running on a different cluster never moves a user between
    // arms). Variance comes from spelled-out power sums, not the
    // built-in (sample/population conventions drift cross-engine —
    // q_agg_moments' lesson). The fixture is an A/A test by
    // construction, so honest t-stats hover near 0. One partial-
    // aggregable pass to 10 stat rows; the arm join is trivial.
    // PREFERENCE-PAIR MINING — the DPO/RLHF data-construction shape:
    // within each (user, day) context, pair the best and worst
    // purchase by value as (chosen, rejected) with the value margin —
    // the exact contrastive-pair extraction a preference-tuning
    // pipeline runs over response ratings. ONE keyed window pass
    // ordered (value, event_id): rejected = rank 1, chosen = rank n
    // (ties broken by event_id, so both engines pick identical rows);
    // groups need ≥ 2 events and a STRICT margin (an all-equal context
    // teaches nothing and is dropped). Per-(user, day) partitions —
    // never global; at 100 TB the window keys on the context id
    // exactly like every q_win_* row.
    "q_pipe_prefpairs" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"day")
        .orderBy($"value", $"event_id")
      val ev = t(s, d, "events")
        .where($"event_type" === "purchase")
        .select($"user_id", to_date($"ts").as("day"), $"event_id", $"value")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"user_id", $"day")))
      ev.groupBy($"user_id", $"day")
        .agg(
          min(when($"rn" === $"n", $"event_id")).as("chosen_id"),
          min(when($"rn" === $"n", $"value")).as("cv"),
          min(when($"rn" === 1, $"event_id")).as("rejected_id"),
          min(when($"rn" === 1, $"value")).as("rv"),
          max($"n").as("n_events"))
        .where($"n_events" >= 2 && $"cv" > $"rv")
        .select($"user_id", $"day", $"chosen_id", $"rejected_id",
          (floor(($"cv" - $"rv") * 100 + 0.5) / 100).as("margin"))
        .orderBy($"user_id", $"day")
    }),

    // Bradley–Terry ratings from pairwise preferences — the model an
    // RLHF/reward-model pipeline fits over its comparison data (Elo is
    // the online approximation of the same likelihood). Comparisons:
    // same-(user, day) event pairs of different types, higher value
    // wins, ties dropped. Fit: 3 rounds of the MM update
    // r_i ← w_i / Σ_j n_ij/(r_i + r_j) (Hunter 2004), mean-normalized
    // per round — deterministic given the start (all-1s) and round
    // count. Scale shape: the pair extraction is ONE keyed self-join
    // on (user, day); everything after aggregates to |types|- and
    // |types|²-sized tables, localCheckpointed ONCE so the iteration
    // lineage (which references the pair table 2^rounds times via the
    // r_i/r_j joins) re-reads metadata-scale rows, never re-runs the
    // event join — the bpetrain lazy-checkpoint discipline.
    "q_pipe_elo" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"user_id", to_date($"ts").as("day"),
          $"event_type", $"value")
      val a = ev.select($"user_id", $"day",
        $"event_type".as("ta"), $"value".as("va"))
      val b = ev.select($"user_id", $"day",
        $"event_type".as("tb"), $"value".as("vb"))
      val cmp = a.join(b, Seq("user_id", "day"))
        .where($"ta" < $"tb" && $"va" =!= $"vb")
        .select(when($"va" > $"vb", $"ta").otherwise($"tb").as("winner"),
                when($"va" > $"vb", $"tb").otherwise($"ta").as("loser"))
      // ONE aggregation of the event join, checkpointed once; wins /
      // symmetric counts / match totals all derive from the |types|²
      // pair table (re-aggregating cmp for each would re-run the
      // event self-join per derived table — measured 4.3 s → 3.0 s
      // steady-state at sf0.1).
      val pairsDir = Tables.ck(cmp
        .groupBy($"winner".as("i"), $"loser".as("j"))
        .agg(count(lit(1)).as("n")))
      val wins = pairsDir.groupBy($"i".as("t"))
        .agg(sum($"n").as("n_wins"))
      val sym = pairsDir.unionByName(
          pairsDir.select($"j".as("i"), $"i".as("j"), $"n"))
        .groupBy($"i", $"j").agg(sum($"n").as("n"))
      val nm = sym.groupBy($"i".as("t"))
        .agg(sum($"n").as("n_matches"))
      var r = nm.select($"t", lit(1.0).as("r"))
      for (_ <- 1 to 3) {
        val den = sym
          .join(broadcast(r.select($"t".as("i"), $"r".as("ri"))), "i")
          .join(broadcast(r.select($"t".as("j"), $"r".as("rj"))), "j")
          .groupBy($"i".as("t")).agg(sum($"n" / ($"ri" + $"rj")).as("den"))
        val u = wins.join(den, "t")
          .select($"t", ($"n_wins" / $"den").as("r"))
        val norm = u.agg(count(lit(1)).cast("double").as("k"),
          sum($"r").as("sr"))
        // Lazy-checkpoint EACH round's rating table, not just the
        // pair table: r is referenced twice by the next round's den
        // joins (ri, rj) and once more by norm, so an un-checkpointed
        // r replays its whole lineage per reference — doubling per
        // round, ~8 replays of round 1 by round 3. The tables are
        // |types|-sized; the ck costs one tiny block per round and
        // cut the isolated row 3.90 -> 1.42 s (min-of-3, sf0.1).
        r = u.crossJoin(broadcast(norm))
          .select($"t", ($"r" * $"k" / $"sr").as("r"))
          .transform(Tables.ck)
      }
      // The MM recursion runs on the ≥1-win subgraph (Hunter-2004
      // convergence assumes every fitted item has ≥1 win); winless
      // participants with n_matches > 0 are NOT silently dropped from
      // the output — they surface with n_wins=0 and a NULL rating via
      // the left-joins below (r12 advice).
      nm.join(wins, Seq("t"), "left").join(r, Seq("t"), "left")
        .select($"t".as("event_type"),
          coalesce($"n_wins", lit(0L)).as("n_wins"), $"n_matches",
          (floor($"r" * 1e4 + 0.5) / 1e4).as("bt_rating"))
        .orderBy($"bt_rating".desc_nulls_last, $"event_type")
    }),

    "q_pipe_abtest" -> ((s, d) => {
      import s.implicits._
      val st = t(s, d, "events")
        .select($"event_type", $"value",
          (h60($"user_id".cast("string")) % 2).as("grp"))
        .groupBy($"event_type", $"grp")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"value").as("s1"), sum($"value" * $"value").as("s2"))
        .select($"event_type", $"grp", $"n", ($"s1" / $"n").as("mean"),
          (($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1.0)).as("vr"))
      val tr = st.where($"grp" === 1)
        .select($"event_type", $"n".as("nt"), $"mean".as("mt"), $"vr".as("vt"))
      val ct = st.where($"grp" === 0)
        .select($"event_type", $"n".as("nc"), $"mean".as("mc"), $"vr".as("vc"))
      tr.join(ct, "event_type")
        .select($"event_type",
          $"nt".cast("long").as("n_treat"), $"nc".cast("long").as("n_ctrl"),
          (floor(($"mt" - $"mc") / sqrt($"vt" / $"nt" + $"vc" / $"nc")
            * 1e4 + 0.5) / 1e4).as("t_stat"))
        .orderBy($"event_type")
    }),

    // KAPLAN–MEIER SURVIVAL — the churn/retention estimator that
    // handles CENSORING correctly (a user still active at corpus end
    // is not a death, and dropping them biases every naive retention
    // curve): death = the last event before the user's first >30 h
    // inactivity gap, lifetime = whole days since first event,
    // gap-free users censored at their last event. S(t) =
    // Π_{death days ≤ t} (1 − d/n_risk) with n_risk = users whose
    // lifetime ≥ t. Shape: one keyed window pass (per-user lead) +
    // one groupBy collapses 100k events to ≤|days| rows; the
    // cumulative product and the reverse-cumulative risk count run as
    // TRIANGLE SELF-JOINS over that ≤31-row table (the DistRank
    // offset-triangle move) — NO global window anywhere, so the
    // PlanAudit single-task rule holds at any corpus size.
    "q_pipe_survival" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val g = t(s, d, "events")
        .select($"user_id", $"ts", $"event_id")
        .withColumn("nxt", lead($"ts", 1).over(w))
      val life = g.groupBy($"user_id")
        .agg(min($"ts").as("birth"),
          min(when(unix_micros($"nxt") - unix_micros($"ts")
            > 30L * 3600 * 1000000, $"ts")).as("death_ts"),
          max($"ts").as("last_ts"))
        .select(
          floor((unix_micros(coalesce($"death_ts", $"last_ts"))
            - unix_micros($"birth")) / 86400000000L).cast("long").as("t"),
          when($"death_ts".isNotNull, 1L).otherwise(0L).as("died"))
      val agg = Tables.ck(life.groupBy($"t")
        .agg(sum($"died").as("d"), count(lit(1)).as("c")))
      val risk = agg.as("a").join(broadcast(agg.as("b")),
          col("b.t") >= col("a.t"))
        .groupBy(col("a.t").as("t"), col("a.d").as("d"))
        .agg(sum(col("b.c")).as("n_risk"))
      val deaths = Tables.ck(risk.where($"d" > 0))
      // Zero-factor guard (latent cross-engine divergence found at
      // sf0.001): at a time where EVERY at-risk user dies (d = n_risk)
      // the KM factor is exactly 0 and survival is exactly 0 from then
      // on — but ln(0) ERRORS in DuckDB while Spark's log(0) is NULL
      // and sum() silently skips it (a wrong nonzero product). Both
      // sides now flag the all-die factor and emit exact 0.0; where no
      // such factor exists (every gated SF today) the guarded sum has
      // the identical inputs, so results are bit-identical.
      deaths.as("a").join(broadcast(deaths.as("b")),
          col("b.t") <= col("a.t"))
        .groupBy(col("a.t").as("t"), col("a.n_risk").as("n_risk"),
          col("a.d").as("n_deaths"))
        .agg((floor(
          when(max(when(col("b.d") === col("b.n_risk"), 1).otherwise(0))
            === 1, lit(0.0))
          .otherwise(exp(sum(when(col("b.d") =!= col("b.n_risk"),
            log(lit(1.0) - col("b.d") * 1.0 / col("b.n_risk"))))))
          * 1e4 + 0.5) / 1e4).as("survival"))
        .orderBy($"t")
    }),

    // K-FOLD TARGET ENCODING — the feature-engineering op whose whole
    // design is a LEAKAGE story (the q_pipe_groupsplit concern, one
    // level deeper): encoding a categorical by the target mean leaks
    // the row's own label into its feature, so each fold's encoding
    // uses ONLY the complement's statistics —
    //   enc(c, f) = (sum(c) − sum(c, f) + m·prior) / (n(c) − n(c, f) + m)
    // with additive smoothing m = 10 toward the global prior (the
    // standard high-cardinality regularizer). Folds are the
    // reproducible hash assignment the sampling family uses. Output is
    // the (category × fold) encoding table — |C|·K rows that BROADCAST
    // to the per-row join-back at any scale; computing it is two
    // map-side-combinable count passes over one scan.
    "q_pipe_targetenc" -> ((s, d) => {
      import s.implicits._
      val k = 5
      val ev = t(s, d, "events")
        .select($"event_type", $"value",
          (h60($"event_id".cast("string")) % k).as("fold"))
      val byFold = ev.groupBy($"event_type", $"fold")
        .agg(count(lit(1)).as("fn"), sum($"value").as("fs"))
      val byType = byFold.groupBy($"event_type")
        .agg(sum($"fn").as("tn"), sum($"fs").as("ts"))
      val prior = ev.agg((sum($"value") / count(lit(1))).as("prior"))
      byFold.join(broadcast(byType), "event_type")
        .crossJoin(broadcast(prior))
        .select($"event_type", $"fold", $"fn".as("n_in_fold"),
          (floor((($"ts" - $"fs" + lit(10.0) * $"prior")
            / ($"tn" - $"fn" + lit(10.0))) * 1e4 + 0.5) / 1e4).as("enc"))
        .orderBy($"event_type", $"fold")
    }),

    // POISSON BOOTSTRAP confidence intervals — the one-pass
    // distributed CI estimator (each replicate weights every row by an
    // independent Poisson(1) draw — the streaming-friendly limit of
    // multinomial resampling, and the production standard because it
    // needs NO second pass and NO global n upfront). Replicate draws
    // are DERIVED, not random: u = (h60(event_id:r) mod 1e6)/1e6 is an
    // exact 1e-6-grid value on both engines, mapped through the
    // Poisson(1) inverse CDF (capped at 5 — the tail mass above is
    // 6e-4, documented bias ≪ CI width), so every replicate is
    // reproducible across runs, engines, and cluster sizes — the same
    // property the sampling family guarantees. Per type: the point
    // mean plus the [p05, p95] band of R = 20 replicate means. ONE
    // scan fans out R weighted copies per row (an in-row explode);
    // everything aggregates map-side per (type, r) — at 100 TB the
    // cost is R× the base aggregation, zero extra passes.
    "q_pipe_bootstrap" -> ((s, d) => {
      import s.implicits._
      val R = 20
      val rep = t(s, d, "events")
        .select($"event_type", $"event_id", $"value")
        .withColumn("r", explode(expr(s"sequence(1, $R)")))
        .withColumn("u",
          (h60(concat($"event_id".cast("string"), lit(":"),
            $"r".cast("string"))) % 1000000L) / 1e6)
        .withColumn("wt",
          when($"u" < 0.367879, 0).when($"u" < 0.735759, 1)
            .when($"u" < 0.919699, 2).when($"u" < 0.981012, 3)
            .when($"u" < 0.996340, 4).otherwise(5))
      val reps = rep.groupBy($"event_type", $"r")
        .agg((sum($"wt" * $"value") / sum($"wt")).as("m"))
      val base = t(s, d, "events").groupBy($"event_type")
        .agg(count(lit(1)).as("n"), r4(avg($"value")).as("mean_raw"))
      base.join(reps.groupBy($"event_type")
          .agg(r4(percentile($"m", lit(0.05))).as("ci_lo"),
            r4(percentile($"m", lit(0.95))).as("ci_hi")),
        "event_type")
        .select($"event_type", $"n", $"mean_raw", $"ci_lo", $"ci_hi")
        .orderBy($"event_type")
    }),

    // CHI-SQUARE independence audit — "does event mix depend on the
    // day of week?": observed (type × dow) counts vs independence
    // expectations e = row·col/N; the output is each type's
    // CONTRIBUTION to the global statistic (they sum to it), which is
    // where an investigation looks first. Day-of-week is computed
    // Sunday=0 on BOTH engines (Spark dayofweek is Sunday=1, DuckDB's
    // Sunday=0 — the −1 is the portability shim). Counts are exact
    // integers; the statistic is |types×7| tiny rows of double math
    // after two metadata-scale margin aggregations — at 100 TB the
    // one real pass is the (type, dow) count, map-side combinable.
    "q_agg_chisq" -> ((s, d) => {
      import s.implicits._
      // ck: the |types×7| contingency grid feeds rt, ct, tt AND the
      // cell join — un-checkpointed, each reference replayed the
      // events scan + count pass (4 scans -> 1).
      val o = Tables.ck(t(s, d, "events")
        .groupBy($"event_type", (dayofweek($"ts") - 1).as("dow"))
        .agg(count(lit(1)).as("obs")))
      val rt = o.groupBy($"event_type").agg(sum($"obs").as("rtot"))
      val ct = o.groupBy($"dow").agg(sum($"obs").as("ctot"))
      val tt = o.agg(sum($"obs").as("n"))
      o.join(broadcast(rt), "event_type").join(broadcast(ct), "dow")
        .crossJoin(broadcast(tt))
        .withColumn("e", $"rtot" * $"ctot" * 1.0 / $"n")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_cells"),
          (floor(sum(($"obs" - $"e") * ($"obs" - $"e") / $"e")
            * 1e4 + 0.5) / 1e4).as("chisq"))
        .orderBy($"event_type")
    }),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV drift (binned) — the
    // distribution-shift test next to PSI (q_pipe_drift): PSI sums
    // weighted log-ratios (sensitive everywhere but unbounded), KS is
    // the max ECDF gap (bounded [0,1], the standard "did the
    // distribution move" yes/no). Samples: each type's values in the
    // FIRST vs SECOND half of the time range (the deploy-boundary
    // drift question). Exact KS needs a global sort; the scalable form
    // bins values to a 64-cell grid over the global [min, max] (bin
    // width = the resolution knob, documented) and takes the max gap
    // of the BINNED ECDFs — cumulative counts stay exact integers via
    // a triangle join over the 64-row grid (the whitelisted DistRank
    // offset-triangle pattern), so the only doubles are the final two
    // divisions per bin. One count pass; everything after is
    // |types|·64 rows.
    "q_pipe_ks" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"event_type", $"ts", $"value")
      val rng = ev.agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"),
        min($"value").as("mn"), max($"value").as("mx"))
      val binned = ev.crossJoin(broadcast(rng))
        .select($"event_type",
          when(unix_micros($"ts") * 2 < $"t0" + $"t1", 0).otherwise(1)
            .as("half"),
          // Degenerate range (constant column): mx = mn would put NaN
          // through floor/cast with engine-specific results — pin
          // everything to bin 0 instead (KS is then exactly 0).
          when($"mx" > $"mn",
            least(lit(63), floor(($"value" - $"mn") / ($"mx" - $"mn") * 64)
              .cast("int"))).otherwise(0).as("bin"))
      // DENSIFY to the full (type × half × 64-bin) grid with zero
      // counts BEFORE the cumulative — without it a bin occupied in
      // only one half drops out of the ECDF join and a fully-shifted
      // distribution (zero shared bins) would vanish entirely.
      val raw = binned.groupBy($"event_type", $"half", $"bin")
        .agg(count(lit(1)).as("c"))
      val grid = raw.select($"event_type").distinct()
        .crossJoin(broadcast(
          Seq(0, 1).toDF("half")
            .crossJoin((0 until 64).toDF("bin"))))
      val cnt = Tables.ck(grid
        .join(raw, Seq("event_type", "half", "bin"), "left")
        .select($"event_type", $"half", $"bin",
          coalesce($"c", lit(0L)).as("c")))
      val tot = cnt.groupBy($"event_type", $"half").agg(sum($"c").as("n"))
      // Cumulative counts per (type, half) via the 64-row triangle.
      val cum = cnt.as("a").join(broadcast(cnt.as("b")),
          col("a.event_type") === col("b.event_type") &&
            col("a.half") === col("b.half") &&
            col("b.bin") <= col("a.bin"))
        .groupBy(col("a.event_type").as("event_type"),
          col("a.half").as("half"), col("a.bin").as("bin"))
        .agg(sum(col("b.c")).as("cum"))
      val e0 = cum.where($"half" === 0)
        .join(tot.where($"half" === 0).select($"event_type", $"n"),
          "event_type")
        .select($"event_type", $"bin", ($"cum" * 1.0 / $"n").as("f0"))
      val e1 = cum.where($"half" === 1)
        .join(tot.where($"half" === 1).select($"event_type", $"n"),
          "event_type")
        .select($"event_type", $"bin", ($"cum" * 1.0 / $"n").as("f1"))
      // Empty-half sentinel (r12 advice): a type whose events all fall
      // in ONE time half has n = 0 for the other — f-division NULLs
      // out and the max gap would silently go NULL. A fully one-sided
      // distribution IS maximal drift: score it ks = 1.0 explicitly.
      val halves = tot.groupBy($"event_type").agg(
        sum(when($"half" === 0, $"n").otherwise(0L)).as("n0"),
        sum(when($"half" === 1, $"n").otherwise(0L)).as("n1"))
      e0.join(e1, Seq("event_type", "bin"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_bins"),
          (floor(max(abs($"f0" - $"f1")) * 1e4 + 0.5) / 1e4).as("ks0"))
        .join(broadcast(halves), "event_type")
        .select($"event_type", $"n_bins",
          when($"n0" === 0 || $"n1" === 0, 1.0).otherwise($"ks0").as("ks"))
        .orderBy($"event_type")
    }),

    // MUTUAL INFORMATION — the information-theoretic twin of
    // q_agg_chisq (same margins, different question: HOW MANY NATS
    // does knowing the day of week tell you about the event mix —
    // the feature-selection ranking statistic): I = Σ p_ij ·
    // ln(p_ij/(p_i·p_j)), plus each type's share of the global
    // uncertainty coefficient U = I/H(X). All cells observed ⇒ no 0·ln0
    // guard needed on the fixture grid; the general guard is the
    // CASE in both texts. One count pass; the grid math is |types×7|
    // rows.
    "q_agg_mutualinfo" -> ((s, d) => {
      import s.implicits._
      // ck: the |types×7| contingency grid feeds rt, ct, tt AND the
      // cell join — un-checkpointed, each reference replayed the
      // events scan + count pass (4 scans -> 1).
      val o = Tables.ck(t(s, d, "events")
        .groupBy($"event_type", (dayofweek($"ts") - 1).as("dow"))
        .agg(count(lit(1)).as("obs")))
      val rt = o.groupBy($"event_type").agg(sum($"obs").as("rtot"))
      val ct = o.groupBy($"dow").agg(sum($"obs").as("ctot"))
      val tt = o.agg(sum($"obs").as("n"))
      val cells = o.join(broadcast(rt), "event_type")
        .join(broadcast(ct), "dow").crossJoin(broadcast(tt))
        .select($"event_type", $"obs", $"rtot", $"ctot", $"n",
          when($"obs" > 0, ($"obs" * 1.0 / $"n")
            * log(($"obs" * 1.0 / $"n")
              / (($"rtot" * 1.0 / $"n") * ($"ctot" * 1.0 / $"n"))))
            .otherwise(0.0).as("term"))
      // Normalizer = the FULL row entropy H(X) = -Σ_i p_i·ln p_i
      // (one broadcast scalar, r12 advice) — so uncertainty_coef is
      // each type's share of the standard global uncertainty
      // coefficient U(Y|X) = I/H(X) (the shares sum to U, each ≥ 0,
      // Σ ≤ 1). Degenerate corpus (one type holds all rows) ⇒ H = 0
      // ⇒ NULL, guarded identically in both engines.
      val hx = rt.crossJoin(broadcast(tt))
        .agg(sum(-($"rtot" * 1.0 / $"n") * log($"rtot" * 1.0 / $"n"))
          .as("hx"))
      cells.groupBy($"event_type")
        .agg(sum($"term").as("mi_raw"))
        .crossJoin(broadcast(hx))
        .select($"event_type",
          (floor($"mi_raw" * 1e6 + 0.5) / 1e6).as("mi_nats"),
          when($"hx" > 0,
            floor(($"mi_raw" / $"hx") * 1e4 + 0.5) / 1e4)
            .as("uncertainty_coef"))
        .orderBy($"event_type")
    }),

    // WINSORIZED + TRIMMED means — the robust-location pair next to
    // the median/MAD audit: per event type, exact p05/p95 fences, then
    // (a) winsorized mean (values CLAMPED to the fences — keeps n) and
    // (b) trimmed mean (fence-outside values DROPPED). The difference
    // between plain and winsorized mean is the outlier-mass gauge a
    // metrics pipeline alerts on. Two passes: exact per-group
    // percentiles (broadcast back, the q_pipe_outlier shape), then one
    // scan computing all three means; fences compare on raw doubles
    // but both engines clamp with the IDENTICAL percentile value, so
    // membership can't diverge. At 100 TB: swap exact percentile for
    // the GK sketch per the q_agg_approx trade.
    "q_agg_winsorized" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"event_type", $"value")
      val fences = ev.groupBy($"event_type").agg(
        percentile($"value", lit(0.05)).as("lo"),
        percentile($"value", lit(0.95)).as("hi"))
      ev.join(broadcast(fences), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          r4(avg($"value")).as("mean_raw"),
          r4(avg(greatest($"lo", least($"hi", $"value"))))
            .as("mean_winsor"),
          r4(avg(when($"value" >= $"lo" && $"value" <= $"hi", $"value")))
            .as("mean_trim"),
          sum(when($"value" < $"lo" || $"value" > $"hi", 1L)
            .otherwise(0L)).as("n_clamped"))
        .orderBy($"event_type")
    }),

    // THEIL–SEN robust trend — the slope estimator a drift monitor
    // wants where OLS gets dragged by the outliers it should survive:
    // per event type, the MEDIAN of pairwise slopes (Δvalue per hour)
    // over BANDED pairs (each event against its next 20 by time).
    // Full Theil–Sen is O(n²) pairs; the band is the standard
    // scalable variant (kth-nearest pairing) and the knob is in the
    // code. Shape: ONE keyed window pass emitting 20 lead probes per
    // row (no self-join — the pair fan-out is an in-row array explode),
    // then an exact per-type median; same-timestamp pairs are excluded
    // (slope undefined). At 100 TB: the window shuffles once on the
    // type key, the explode is per-row, and the exact median swaps for
    // the GK sketch the moment groups stop fitting a partition (the
    // q_agg_approx trade).
    "q_agg_theilsen" -> ((s, d) => {
      import s.implicits._
      val band = 20
      val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      val ev = t(s, d, "events")
        .select($"event_type", $"event_id", $"ts",
          unix_micros($"ts").as("tu"), $"value")
      // Keep the slope arithmetic IDENTICAL to the oracle's:
      // (v2 - v) * 3.6e9 / (t2 - t), one multiply then one divide.
      // ONE lead per band offset (a struct of both columns) instead
      // of two independent column leads: the physical Window operator
      // then carries two IDENTICAL lead(struct, k) expressions per
      // offset (see plans/r15/q_agg_theilsen_{before,after}.txt)
      // where it previously carried two DIFFERENT ones — measured
      // 2.98 -> 1.52 s on the isolated row (min-of-3, sf0.1).
      val probes = (1 to band).map { k =>
        val nx = lead(struct($"value", $"tu"), k).over(w)
        val (v2, t2) = (nx.getField("value"), nx.getField("tu"))
        when(t2 > $"tu", (v2 - $"value") * 3.6e9 / (t2 - $"tu"))
      }
      ev.withColumn("sl", array(probes: _*))
        .select($"event_type", explode($"sl").as("slope"))
        .where($"slope".isNotNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
          (floor(median($"slope") * 1e4 + 0.5) / 1e4)
            .as("slope_med_per_hr"))
        .orderBy($"event_type")
    }),

    // Robust outlier audit (Iglewicz–Hoaglin modified z-score): per
    // event type, median and MAD of `value`, and the count of events
    // whose 0.6745·|x−med|/MAD exceeds 3.5 — the data-quality gate
    // that, unlike mean/stddev z-scores, is not dragged by the very
    // outliers it hunts. Two exact-median passes + one broadcast-back
    // scoring pass; the per-type stat table is group-cardinality-sized.
    // At 100 TB with unbounded groups, swap the exact medians for
    // approx_percentile's mergeable sketch (same trade q_agg_approx
    // documents); the threshold margin (≥ 8.8e-5 at sf0.1) makes the
    // flag decision float-safe cross-engine.
    "q_pipe_outlier" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"event_type", $"value")
      val med = ev.groupBy($"event_type").agg(median($"value").as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy($"event_type", $"med")
        .agg(median(abs($"value" - $"med")).as("mad"))
      ev.join(broadcast(mad), "event_type")
        .groupBy($"event_type", $"med", $"mad")
        .agg(
          count(when(lit(0.6745) * abs($"value" - $"med") / $"mad" > 3.5, 1))
            .as("n_outlier"),
          count(lit(1)).as("n"))
        .select($"event_type", $"n_outlier", $"n",
          (floor($"med" * 1e4 + 0.5) / 1e4).as("med"),
          (floor($"mad" * 1e4 + 0.5) / 1e4).as("mad"))
        .orderBy($"event_type")
    }),

    // Time-decay weighted engagement (half-life-style feature
    // engineering): each user's events weighted by exp(-age/7d)
    // against that user's newest event. Two partial-aggregable passes:
    // the per-user max-ts table broadcasts back, the exp() weighting
    // is map-side. Whole-microsecond age arithmetic (events.ts is
    // µs-truncated identically in both engines) keeps the exponent
    // bit-identical cross-engine.
    "q_pipe_decay" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"user_id", $"ts", $"value")
      val mx = ev.groupBy($"user_id").agg(max($"ts").as("tmax"))
      ev.join(broadcast(mx), "user_id")
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_events"),
          (floor(sum($"value" * exp(expr(
            "-(unix_micros(tmax) - unix_micros(ts)) / 86400000000.0 / 7")))
            * 1e4 + 0.5) / 1e4).as("decayed"))
        .orderBy($"user_id")
    }),

    // Laplace noise-release MECHANISM for corpus statistics — the
    // noise-calibration half of a differential-privacy pipeline:
    // per-language counts plus their Laplace(1/ε) perturbation (ε=1)
    // via the inverse-CDF transform of a uniform draw. The draw here
    // is DETERMINISTIC — the key's md5-60bit hash scaled to (0,1) —
    // which is what makes the mechanism differentially TESTABLE (the
    // DuckDB oracle re-derives the identical draw) and reproducible.
    // To be clear about what this is NOT: a key-derived draw is
    // public, so this row as declared carries NO privacy guarantee —
    // a real DP release draws from a SECRET fresh salt per release
    // epoch (swap the hash input for `concat(secret_salt, lang)`) and
    // publishes ONLY noisy_n, never the exact n this audit view keeps
    // for the differential. One keyed count + a map-only noise
    // expression; noise is per RELEASED row, so the mechanism is
    // scale-invariant at 100 TB.
    "q_pipe_dpnoise" -> ((s, d) => {
      import s.implicits._
      val eps = 1.0
      val u = h60($"lang").cast("double") / 1.152921504606846976e18
      val lap = -(lit(1.0) / eps) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      t(s, d, "documents").groupBy($"lang").agg(count(lit(1)).as("n"))
        .select($"lang", $"n", r4($"n" + lap).as("noisy_n"))
        .orderBy($"lang")
    }),

    // Dataset manifest — the reproducibility record a training run
    // pins before reading a corpus: per source, the row count and two
    // order-independent content folds of each row's md5-60bit hash
    // over a canonical rendering of the fingerprinted fields. The
    // rendering is INJECTIVE on the field tuple: each present field
    // is length-prefixed (so "a:b"|c can't collide with a|"b:c" — a
    // bare delimiter join would let distinct tuples render
    // identically) and NULL renders as a tag ("N") disjoint from the
    // value tag ("V…"), identically in both engines (concat_ws would
    // silently SKIP nulls while the oracle's || propagates them —
    // the fields are non-null by fixture contract, but the rendering
    // must not depend on that).
    // Folds: BIT_XOR (partition-order-invariant, overflow-free)
    // catches any single-row drift but cancels PAIRED duplicates
    // ({A,A,B} vs {D,D,B} xor-collide at equal counts), so a second
    // fold — modular SUM of hashes in exact decimal(38) arithmetic,
    // overflow-safe to ~1e38 (>> any 100 TB row count × 2^60) —
    // breaks the pair-cancellation: together with n_docs the pair
    // (xor, sum mod p) makes silent drift, partial loss, and
    // duplicate-ingest all practically detectable (still a hash
    // fingerprint, not a cryptographic multiset proof). Both folds
    // combine map-side in ONE keyed agg, so at 100 TB the manifest
    // costs a single scan. One-row-change sensitivity of both folds
    // is pinned in PipeOpsSpec.
    "q_pipe_manifest" -> ((s, d) => {
      import s.implicits._
      def f(c: org.apache.spark.sql.Column) = {
        val sc = c.cast("string")
        when(sc.isNull, lit("N")).otherwise(
          concat(lit("V"), length(sc).cast("string"), lit(":"), sc))
      }
      t(s, d, "documents")
        .select($"source", h60(concat_ws("|",
          f($"doc_id"), f($"lang"), f($"n_chars"))).as("sig"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(sig)").as("content_sig"),
          (sum($"sig".cast("decimal(38,0)")) % 1000000007L)
            .cast("long").as("content_sum"))
        .orderBy($"source")
    }),

    // k-anonymity audit — before releasing records keyed by
    // quasi-identifiers, check that no identifier combination is
    // rarer than k (a group of 1 IS an identification). Reports, per
    // compliance side (violating / satisfying k=5), how many identity
    // groups and rows sit there and the extremal group sizes — the
    // release gate a governance pipeline evaluates per export. Two
    // keyed aggregates (rows → groups → 2 buckets), both
    // partial-aggregable; at 100 TB the first groupBy is the only
    // data-sized shuffle.
    "q_pipe_kanon" -> ((s, d) => {
      import s.implicits._
      // Quasi-identifiers: nation × segment × coarse balance band —
      // fine enough that real small groups exist, the case the audit
      // is for (exact integer banding, identical in the oracle).
      t(s, d, "customer")
        .groupBy($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("gsize"))
        .groupBy(($"gsize" < 5).as("violates_k5"))
        .agg(count(lit(1)).as("n_groups"),
          sum($"gsize").cast("long").as("n_rows"),
          min($"gsize").as("min_size"), max($"gsize").as("max_size"))
        .orderBy($"violates_k5")
    }),

    // PII masking + pseudonymization — the data-governance pass a
    // training pipeline runs before text leaves the trust boundary.
    // `mask()` is the codegen'd structural redaction (upper→X,
    // lower→x, digit→n, punctuation kept — shape survives, identity
    // doesn't); the pseudonym is the domain-separated md5-60bit keyed
    // hash, stable across runs so downstream joins still line up.
    // Both are per-row map-only ops: zero shuffles before the audit
    // aggregate, which checks every segment collapsed to ONE shape
    // while pseudonyms stayed distinct.
    "q_pipe_redact" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .withColumn("masked", mask($"c_name"))
        .withColumn("pseudonym",
          h60(concat(lit("pseud:"), $"c_name")))
        .groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n"),
          countDistinct($"masked").as("n_shapes"),
          countDistinct($"pseudonym").as("n_pseudonyms"),
          min($"masked").as("min_shape"))
        .orderBy($"c_mktsegment")
    }),

    // Epoch oversampling (Llama-style source re-weighting): low-volume
    // languages repeat up to a capped factor so the mixture approaches
    // the largest stratum. The replication is MATERIALIZED on the
    // Spark side — explode(sequence(1, factor)), a zero-shuffle
    // per-row generator with fan-out bounded by the cap, never a skew
    // amplifier — while the oracle derives the same totals
    // arithmetically, cross-checking that replication is exact. The
    // per-lang factor table is tiny and broadcasts; at 100 TB the
    // upsample happens on the write path with no extra shuffle.
    "q_pipe_oversample" -> ((s, d) => {
      import s.implicits._
      // ck: the |langs|-row count table feeds mx AND fac — unchecked,
      // each reference replayed the documents scan (2 scans -> 1).
      val counts = Tables.ck(t(s, d, "documents").groupBy($"lang")
        .agg(count(lit(1)).as("n_orig")))
      val mx = counts.agg(max($"n_orig").as("mx"))
      val fac = counts.crossJoin(broadcast(mx))
        .withColumn("factor",
          least(ceil($"mx" / $"n_orig".cast("double")).cast("long"), lit(4L)))
        .select($"lang", $"n_orig", $"factor")
      t(s, d, "documents").join(broadcast(fac), "lang")
        .select($"lang", $"n_chars",
          explode(expr("sequence(1, factor)")).as("rep"))
        .groupBy($"lang").agg(
          count(lit(1)).as("n_after"),
          sum($"n_chars").as("chars_after"))
        .join(broadcast(fac), "lang")
        .select($"lang", $"n_orig", $"factor", $"n_after", $"chars_after")
        .orderBy($"lang")
    }),

    // Unpivot (melt) — the inverse reshaping of q_agg_pivot: three
    // measure columns become (measure, val) rows, then a per-flag ×
    // measure summary. Spark's native unpivot is a zero-shuffle
    // row-expansion (like explode); the only shuffle is the audit agg.
    "q_agg_unpivot" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .unpivot(Array($"l_returnflag"),
          Array($"l_quantity", $"l_discount", $"l_tax"), "measure", "val")
        .groupBy($"l_returnflag", $"measure").agg(
          count(lit(1)).as("n"),
          (floor(sum($"val") * 100 + 0.5) / 100).as("sum_val"))
        .orderBy($"l_returnflag", $"measure")
    }),

    // Data-quality expectations (the Deequ/constraint-suite shape):
    // each table is profiled in ONE pass — range violations, null
    // counts, and FK orphans come out as conditional sums / one anti
    // join, never one job per constraint. Two rows are hard
    // constraints expected to hold (0 violations) and two are profile
    // counts expected non-zero, so the audit is non-vacuous in both
    // directions.
    "q_pipe_expect" -> ((s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val range = li.agg(
          sum(when($"l_quantity" < 0 || $"l_quantity" > 60, 1L)
            .otherwise(0L)).as("n"),
          sum(when($"l_extendedprice" <= 0, 1L).otherwise(0L)).as("p"),
          sum(when($"l_quantity" > 45, 1L).otherwise(0L)).as("hi"),
          sum(when($"l_discount" > 0.05, 1L).otherwise(0L)).as("disc"))
      val fk = t(s, d, "orders")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_custkey_orphans").as("check_name"), $"n")
      range.select(lit("lineitem_qty_in_range_viol").as("check_name"),
          $"n")
        .unionByName(range.select(
          lit("lineitem_price_positive_viol").as("check_name"), $"p".as("n")))
        .unionByName(range.select(
          lit("profile_qty_above_45").as("check_name"), $"hi".as("n")))
        .unionByName(range.select(
          lit("profile_disc_above_5pct").as("check_name"), $"disc".as("n")))
        .unionByName(fk)
        .orderBy($"check_name")
    }),

    // Sequence packing — the step that turns a filtered corpus into
    // fixed-width training rows: documents are laid out in a
    // deterministic hash order per lang, token counts accumulate, and
    // each doc is assigned to the 2048-token bin where it STARTS
    // (concat-then-chunk packing, so docs may straddle bins). One
    // window per lang partition + one audit agg; the layout order is
    // hash-derived, never storage order, so re-packing on a different
    // cluster width yields identical bins.
    "q_pipe_pack" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy($"h", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select($"doc_id", $"lang",
          size(split($"text", " ")).as("n_tok"),
          h60($"doc_id".cast("string")).as("h"))
        .withColumn("cum", sum($"n_tok").over(w))
        .withColumn("bin",
          floor(($"cum" - $"n_tok") / 2048.0).cast("long"))
        .groupBy($"lang", $"bin").agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"))
        .orderBy($"lang", $"bin")
    }),

    // Overlapping chunking (RAG/context-window prep): each doc's token
    // stream becomes windows of ≤64 tokens at stride 48. The expansion
    // is `explode(sequence(...))` — a zero-shuffle per-row generator,
    // the same shape at 100 TB (chunk count is data-derived, never a
    // driver-side loop). Bounded here to doc_id < 100 to keep the
    // differential output small; the plan is identical unbounded.
    "q_pipe_chunk" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").where($"doc_id" < 100)
        .select($"doc_id", split($"text", " ").as("w"))
        .withColumn("n_tok", size($"w"))
        .select($"doc_id", $"w", $"n_tok",
          explode(sequence(lit(0),
            floor(($"n_tok" - 1) / 48.0).cast("int"))).as("ci"))
        .select($"doc_id",
          $"ci".cast("long").as("chunk_id"),
          ($"ci" * 48).cast("long").as("start"),
          least($"n_tok" - $"ci" * 48, lit(64)).cast("long").as("chunk_tokens"),
          element_at($"w", $"ci" * 48 + 1).as("first_token"))
        .orderBy($"doc_id", $"chunk_id")
    }),

    // Nested-type grouping key: group by a struct column (year,
    // quarter) — exercises struct construction, struct equality in
    // the shuffle/agg key, and field extraction from the key.
    "q_expr_struct" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy(struct(
          year($"o_orderdate").as("y"),
          quarter($"o_orderdate").as("q")).as("yq"))
        .agg(count(lit(1)).as("n"),
          (floor(sum($"o_totalprice") * 100 + 0.5) / 100).as("sum_price"))
        .select($"yq.y".as("y"), $"yq.q".as("q"), $"n", $"sum_price")
        .orderBy($"y", $"q")
    }),

    // Pareto frontier for data selection: per language, the documents
    // not dominated on (token count, lexical richness) — the skyline
    // that bounds the quality/quantity trade-off when picking what to
    // keep. NOT the O(n²) NOT-EXISTS the semantics suggest: per
    // (lang, rich) group keep the max token count, then ONE window
    // pass ordered by rich DESC gives each group the best token count
    // among all strictly-richer docs; a doc is on the front iff no
    // strictly-richer doc has >= tokens and no equal-rich doc has more.
    // At 100 TB: one keyed agg + a window over |distinct rich| rows
    // per lang (bounded by the 1e4 rounding grid), then a broadcast
    // join back — the corpus itself never self-joins.
    "q_pipe_pareto" -> ((s, d) => {
      import s.implicits._
      val toks = split($"text", " ")
      // The grid value is carried as the INTEGER 1e4-scaled richness
      // (richi) — group/join keys should never be floating-point, even
      // when both sides derive from the same expression: integer keys
      // hash/compare exactly and survive any future re-derivation of
      // one side. The displayed `rich` divides back out at the end
      // (exact: richi is an integer ≤ 1e4, same IEEE division as the
      // oracle's FLOOR(...)/1e4).
      val per = t(s, d, "documents").select($"doc_id", $"lang",
        size(toks).cast("long").as("tokens"),
        floor(size(array_distinct(toks)).cast("double") / size(toks)
          * 1e4 + 0.5).cast("long").as("richi"))
      val w = Window.partitionBy($"lang").orderBy($"richi".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val grp = per.groupBy($"lang", $"richi")
        .agg(max($"tokens").as("gmax"))
        .withColumn("prior", max($"gmax").over(w))
      per.join(grp, Seq("lang", "richi"))
        .where($"gmax" <= $"tokens" && coalesce($"prior", lit(-1L)) < $"tokens")
        .select($"lang", $"doc_id", $"tokens", ($"richi" / 1e4).as("rich"))
        .orderBy($"lang", $"doc_id")
    }),

    // Curriculum planning: score each document's difficulty as mean
    // token surprisal (-ln corpus frequency), cut the corpus into 4
    // difficulty quartiles, and report each stage's size and range —
    // the ordering pass of curriculum training. The frequency table
    // collapses to |vocab| rows and BROADCASTS; per-doc scoring is
    // map-side. The quartile cut is EXACT but never a global window:
    // DistRank's distributed rank (range buckets on difficulty,
    // local rank on (difficulty, doc_id), broadcast offsets) plus pure
    // ntile arithmetic — the same assignment the window function
    // makes, with every stage partition-parallel at 100 TB.
    "q_pipe_curriculum" -> ((s, d) => {
      import s.implicits._
      val scored = curriculumScores(s, d)
      DistRank.withGlobalRank(scored, 32, $"difficulty", $"doc_id")
        .withColumn("quartile", DistRank.ntile(4))
        .groupBy($"quartile").agg(
          count(lit(1)).as("n_docs"),
          min($"difficulty").as("min_difficulty"),
          max($"difficulty").as("max_difficulty"),
          (floor(avg($"tokens") * 100 + 0.5) / 100).as("avg_tokens"))
        .orderBy($"quartile")
    }),

    // ROC AUC of the quality classifier (q_text_classify's scored
    // table, via the shared TextOps.classifyScored) per language,
    // against a deterministic reference label (n_chars ≥ 300 — the
    // fixture median, so both classes are populated in every lang at
    // every SF; a production run joins real human labels instead,
    // changing ONE input table). Computed as the Mann-Whitney rank
    // statistic with MIDRANK tie correction: AUC = (Σ ranks⁺ −
    // n⁺(n⁺+1)/2) / (n⁺·n⁻) — ONE keyed window pass (rank + peer
    // count over (lang, score)) and one keyed aggregate, never the
    // O(n²) pairwise compare. Midranks make the statistic
    // permutation-independent, so ties on the 1e-6 score grid are
    // cross-engine exact by construction (ranks and tie counts are
    // integers; midranks are exact half-integers — the sum is exact
    // < 2^53). The n⁺(n⁺+1)/2 correction multiplies in DOUBLE (cast
    // before the product, mirrored textually in the oracle): BIGINT
    // would wrap silently past ~3e9 positives per group while
    // DuckDB's HUGEINT would not — the double path keeps both engines
    // on the identical one-rounding computation at any scale.
    // Degenerate one-class groups emit NULL, mirrored in the
    // oracle. At 100 TB: the scan is classify's; the window keys on
    // lang — a single giant group switches to DistRank's two-pass
    // rank, the documented q_pipe_curriculum move.
    "q_pipe_auc" -> ((s, d) => {
      import s.implicits._
      val lab = t(s, d, "documents").select($"doc_id",
        when($"n_chars" >= 300, 1).otherwise(0).as("label"))
      val sc = TextOps.classifyScored(s, d).join(lab, "doc_id")
      val wr = Window.partitionBy($"lang").orderBy($"score")
      val wt = Window.partitionBy($"lang", $"score")
      sc.withColumn("ar",
          rank().over(wr) + (count(lit(1)).over(wt) - lit(1)) / 2.0)
        .groupBy($"lang").agg(
          sum($"label").as("n_pos"),
          sum(lit(1) - $"label").as("n_neg"),
          sum(when($"label" === 1, $"ar")).as("rpos"))
        .select($"lang", $"n_pos", $"n_neg",
          when($"n_pos" === 0 || $"n_neg" === 0, lit(null).cast("double"))
            .otherwise(r4(($"rpos"
                - $"n_pos".cast("double") * ($"n_pos" + lit(1)) / 2.0)
              / ($"n_pos".cast("double") * $"n_neg"))).as("auc"))
        .orderBy($"lang")
    }),

    // RELIABILITY DIAGRAM — per-bin calibration of the classifier
    // score against the same deterministic label: decile confidence
    // bins (score sits on the 1e-6 grid, so bin = min(⌊10·s⌋, 9) is
    // exact — no boundary ambiguity), per-bin count, mean confidence,
    // empirical accuracy, and the |confidence − accuracy| gap whose
    // n-weighted sum is the ECE. ONE scan + one 10-key aggregate; the
    // bin key has 10 values, so partial aggregation collapses
    // everything map-side — the cheapest possible shuffle at any
    // corpus size.
    "q_pipe_calibration" -> ((s, d) => {
      import s.implicits._
      val lab = t(s, d, "documents").select($"doc_id",
        when($"n_chars" >= 300, 1).otherwise(0).as("label"))
      TextOps.classifyScored(s, d).join(lab, "doc_id")
        .withColumn("bin", least(floor($"score" * 10), lit(9.0)).cast("int"))
        .groupBy($"bin").agg(
          count(lit(1)).as("n_docs"),
          r4(avg($"score")).as("confidence"),
          r4(avg($"label")).as("accuracy"))
        .withColumn("gap", r4(abs($"confidence" - $"accuracy")))
        .orderBy($"bin")
    }),

    // NDCG@10 of the classifier-score ranking per language, graded by
    // a deterministic relevance band (rel = min(3, ⌊n_chars/150⌋) —
    // the "true quality grade" a rater table supplies in production):
    // DCG over the top-10 of the score ranking (row_number with
    // doc_id tiebreak, so the permutation is cross-engine identical)
    // normalized by the IDEAL ranking's DCG over the same grades.
    // Gains 2^rel − 1 ∈ {0,1,3,7} are exact; log2 is written as
    // ln(r+1)/ln(2) in BOTH engines so the algebra is textually
    // identical. Each ranking is its own window followed by a REAL
    // `Filter(rn <= 10)` directly above it — the shape
    // InferWindowGroupLimit actually rewrites (a rank predicate
    // buried inside an aggregate CASE does NOT fire it), so each
    // window keeps a map-side per-lang top-10 heap and never
    // materializes full partitions at scale. The two ≤10-row-per-lang
    // aggregates then join on lang (every lang has a rank-1 row, so
    // the inner join is total).
    "q_pipe_ndcg" -> ((s, d) => {
      import s.implicits._
      val rel = t(s, d, "documents").select($"doc_id",
        least(lit(3.0), floor($"n_chars" / 150)).as("rel"))
      val sc = TextOps.classifyScored(s, d).join(rel, "doc_id")
        .withColumn("gain", pow(lit(2.0), $"rel") - 1.0)
      val ws = Window.partitionBy($"lang").orderBy($"score".desc, $"doc_id")
      val wi = Window.partitionBy($"lang").orderBy($"rel".desc, $"doc_id")
      val dcg = sc.withColumn("rn", row_number().over(ws))
        .where($"rn" <= 10)
        .groupBy($"lang").agg(
          sum($"gain" / (log($"rn" + 1) / log(lit(2.0)))).as("dcg"))
      val idcg = sc.withColumn("irn", row_number().over(wi))
        .where($"irn" <= 10)
        .groupBy($"lang").agg(
          sum($"gain" / (log($"irn" + 1) / log(lit(2.0)))).as("idcg"))
      dcg.join(idcg, "lang")
        .select($"lang", r4($"dcg").as("dcg10"),
          r4($"dcg" / $"idcg").as("ndcg10"))
        .orderBy($"lang")
    }),
  )

  /** q_pipe_curriculum's difficulty-scoring stage (per-doc mean token
    * surprisal, 1e-4 grid), exposed so LayoutOpsSpec can drive the
    * documented 100 TB quartile swap — exact DistRank ntile →
    * approx_percentile's mergeable GK sketch — through the REAL stage
    * logic and pin the GK rank bound + gap-confined bucket flips. */
  private[graft] def curriculumScores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val tk = t(s, d, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    // ck: freq is the |vocab|-sized distinct-token table (Heaps' law)
    // and feeds BOTH the tot scalar and the scoring join's broadcast —
    // un-checkpointed, each broadcast build replayed the full
    // tokenize+count pass (3 corpus scans; now 2 — the freq build and
    // the probe side, which is the floor for this computation).
    val freq = Tables.ck(tk.groupBy($"tok").agg(count(lit(1)).as("nu")))
    val tot = freq.agg(sum($"nu").as("n_total"))
    tk.join(broadcast(freq), "tok")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id").agg(
        (floor(avg(-log($"nu" / $"n_total")) * 1e4 + 0.5) / 1e4)
          .as("difficulty"),
        count(lit(1)).as("tokens"))
  }

  val oracle: Map[String, String] = Map(
    "q_pipe_tokenbudget" -> """
      WITH per AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS total,
               SUM(sqrt(tokens)) AS sumrt
        FROM per),
      w AS (
        SELECT source, tokens,
               FLOOR(tokens * 1.0 / total * 1e4 + 0.5) / 1e4 AS share,
               FLOOR(sqrt(tokens) / sumrt * 1e4 + 0.5) / 1e4 AS weight
        FROM per CROSS JOIN tot)
      SELECT source, tokens, share, weight,
             CAST(FLOOR(weight * 1e6 + 0.5) AS BIGINT) AS planned_tokens,
             FLOOR(CAST(FLOOR(weight * 1e6 + 0.5) AS BIGINT)
               * 1.0 / tokens * 1e4 + 0.5) / 1e4 AS epochs
      FROM w
      ORDER BY source""",

    "q_sample_hash" -> """
      WITH b AS (
        SELECT lang, n_chars,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 100 AS bucket
        FROM documents)
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs,
             ROUND(AVG(n_chars), 2) AS avg_chars
      FROM b
      GROUP BY lang, split
      ORDER BY lang, split""",

    // Identical exponential-sort algebra over the identical hash
    // uniform; the sort key is floor-rounded to 1e-9 in both engines
    // before ordering (ln last-ulp caveat), doc_id breaks ties, and
    // the identical w > 0 precondition guard.
    "q_sample_weighted" -> """
      SELECT doc_id, lang, n_chars,
             FLOOR(LN((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 15) AS BIGINT) + 1) / 1152921504606846976.0)
               / n_chars * 1e9 + 0.5) / 1e9 AS skey
      FROM documents
      WHERE n_chars > 0
      ORDER BY skey DESC, doc_id
      LIMIT 32""",

    "q_pipe_contamination" -> """
      WITH b AS (
        SELECT lang,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 100 AS bucket,
               CAST('0x' || substring(md5(array_to_string(list_slice(
                 string_split(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
                 1, 8), ' ')), 1, 15) AS BIGINT) AS fp
        FROM documents),
      tr AS (SELECT DISTINCT fp FROM b WHERE bucket < 80)
      SELECT te.lang, count(*) AS n_test,
             CAST(SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_leaked
      FROM (SELECT * FROM b WHERE bucket >= 90) te
      LEFT JOIN tr ON te.fp = tr.fp
      GROUP BY te.lang
      ORDER BY te.lang""",

    "q_sample_stratified" -> """
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT), doc_id) AS rn
        FROM documents)
      WHERE rn <= 20
      ORDER BY lang, doc_id""",

    "q_text_normalize" -> """
      WITH n AS (
        SELECT lang,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents)
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT norm) AS n_unique,
             count(*) - count(DISTINCT norm) AS n_dupes
      FROM n GROUP BY lang ORDER BY lang""",

    "q_agg_quantile" -> """
      SELECT l_returnflag,
             FLOOR(quantile_cont(l_extendedprice, 0.5) * 1e4 + 0.5) / 1e4 AS p50,
             FLOOR(quantile_cont(l_extendedprice, 0.9) * 1e4 + 0.5) / 1e4 AS p90
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // Whole-second epoch truncation (the q_win_lag convention) keeps
    // every freshness column exact integer math.
    "q_pipe_freshness" -> """
      WITH ev AS (
        SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events),
      ref AS (SELECT MAX(es) AS now_s FROM ev),
      f AS (
        SELECT event_type, count(*) AS n_events, MAX(es) AS last_s,
               SUM((SELECT now_s FROM ref) - es) AS age_sum
        FROM ev GROUP BY event_type)
      SELECT event_type, n_events,
             CAST((SELECT now_s FROM ref) - last_s AS BIGINT)
               AS staleness_sec,
             CAST(FLOOR(age_sum * 1.0 / n_events) AS BIGINT)
               AS avg_age_sec
      FROM f ORDER BY event_type""",

    // Identical pre-agg + cumulative-crossing algebra; integral
    // weights keep every comparison exact.
    "q_agg_weighted_quantile" -> """
      WITH wp AS (
        SELECT l_returnflag, l_extendedprice AS price,
               SUM(l_quantity) AS w
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT l_returnflag, price,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price)
                 AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM wp)
      SELECT l_returnflag,
             MIN(CASE WHEN cw >= tot / 2 THEN price END) AS wmedian,
             MIN(CASE WHEN cw >= tot * 0.9 THEN price END) AS wp90,
             CAST(MAX(tot) AS BIGINT) AS total_weight
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Disc percentiles select actual elements — no rounding needed;
    // the cont median on integral quantities is an exact half.
    "q_agg_percentile_disc" -> """
      SELECT l_returnflag,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
               AS med_disc,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
               AS p90_disc,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)
               AS med_cont
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // The plain join — salting must be result-invariant.
    "q_join_skew_salt" -> """
      SELECT c_mktsegment, count(*) AS n_events,
             FLOOR(SUM(value) * 100 + 0.5) / 100 AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_agg_pivot" -> """
      SELECT c_mktsegment,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_agg_unpivot" -> """
      WITH m AS (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
          FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      SELECT l_returnflag, measure, count(*) AS n,
             FLOOR(SUM(val) * 100 + 0.5) / 100 AS sum_val
      FROM m
      GROUP BY l_returnflag, measure
      ORDER BY l_returnflag, measure""",

    "q_pipe_upsert" -> """
      WITH changes AS (
        SELECT c_custkey, c_mktsegment,
               FLOOR(c_acctbal * 1.1 * 100 + 0.5) / 100 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'NEW', 0.0),
                              (CAST(-2 AS BIGINT), 'NEW', 10.5),
                              (CAST(-3 AS BIGINT), 'NEW', 99.99))
          AS v(c_custkey, c_mktsegment, c_acctbal)),
      merged AS (
        SELECT COALESCE(ch.c_custkey, c.c_custkey) AS key,
               COALESCE(ch.c_mktsegment, c.c_mktsegment) AS seg,
               COALESCE(ch.c_acctbal, c.c_acctbal) AS bal
        FROM customer c FULL OUTER JOIN changes ch
          ON c.c_custkey = ch.c_custkey)
      SELECT seg, count(*) AS n,
             FLOOR(SUM(bal) * 100 + 0.5) / 100 AS sum_bal
      FROM merged GROUP BY seg ORDER BY seg""",

    // One UNION ALL branch per profiled column — the oracle need not
    // be single-pass, only equal.
    // The identical four-stage funnel in SQL; sums cast to BIGINT
    // (DuckDB widens sum(int) to HUGEINT).
    "q_pipe_prepfunnel" -> """
      WITH docs AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                 AS fp
        FROM documents),
      s1 AS MATERIALIZED (
        SELECT * FROM docs
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
      s2 AS MATERIALIZED (SELECT * FROM s1 WHERE ntok BETWEEN 30 AND 90),
      caps AS (
        SELECT lang, FLOOR(SUM(ntok) * 0.5) AS cap FROM s2 GROUP BY lang),
      s3 AS (
        SELECT s2.*,
               SUM(ntok) OVER (PARTITION BY s2.lang ORDER BY doc_id) AS cum,
               cap
        FROM s2 JOIN caps USING (lang)
        QUALIFY cum <= cap)
      SELECT * FROM (
        SELECT 0 AS stage_id, 'raw' AS stage,
               count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM docs
        UNION ALL
        SELECT 1, 'fingerprint_dedup', count(*), CAST(SUM(ntok) AS BIGINT)
        FROM s1
        UNION ALL
        SELECT 2, 'quality_rules', count(*), CAST(SUM(ntok) AS BIGINT)
        FROM s2
        UNION ALL
        SELECT 3, 'token_budget', count(*), CAST(SUM(ntok) AS BIGINT)
        FROM s3)
      ORDER BY stage_id""",

    "q_pipe_profile" -> """
      SELECT col_name, n, n_nonnull, n_distinct FROM (
        SELECT 'doc_id' AS col_name, count(*) AS n,
               count(doc_id) AS n_nonnull,
               count(DISTINCT doc_id) AS n_distinct FROM documents
        UNION ALL
        SELECT 'lang', count(*), count(lang), count(DISTINCT lang)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars)
        FROM documents
        UNION ALL
        SELECT 'source', count(*), count(source), count(DISTINCT source)
        FROM documents
        UNION ALL
        SELECT 'text', count(*), count(text), count(DISTINCT text)
        FROM documents)
      ORDER BY col_name""",

    // arg_max is DuckDB's max_by; ts is globally unique, so
    // last-writer-wins is deterministic with no tiebreak column.
    "q_pipe_cdc" -> """
      SELECT user_id, count(*) AS n_ops,
             arg_max(event_type, ts) AS last_op,
             FLOOR(arg_max(value, ts) * 100 + 0.5) / 100 AS last_value
      FROM events
      GROUP BY user_id
      HAVING arg_max(event_type, ts) <> 'error'
      ORDER BY user_id""",

    // Identical α=0.5 rate algebra; integer ppm thresholds make every
    // keep decision exact (correctly-rounded sqrt in both engines).
    "q_pipe_temperature" -> """
      WITH cnt AS (SELECT lang, count(*) AS n_docs
                   FROM documents GROUP BY lang),
      nmin AS (SELECT min(n_docs) AS n_min FROM cnt),
      rates AS (
        SELECT lang, n_docs,
               CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE) / n_docs) * 1e6)
                 AS BIGINT) AS sample_ppm
        FROM cnt, nmin),
      kept AS (
        SELECT d.lang, count(*) AS n_kept,
               CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE CAST('0x' || substring(md5('temp:' ||
                CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              % 1000000 < r.sample_ppm
        GROUP BY d.lang)
      SELECT r.lang, r.n_docs, r.sample_ppm,
             COALESCE(k.n_kept, 0) AS n_kept,
             COALESCE(k.chars_kept, 0) AS chars_kept
      FROM rates r LEFT JOIN kept k ON r.lang = k.lang
      ORDER BY r.lang""",

    "q_pipe_mix" -> """
      WITH b AS (
        SELECT source, n_chars,
               CASE CAST(substring(source, 4) AS INT) % 4
                 WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25
                 ELSE 10 END AS rate,
               CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)),
                 1, 15) AS BIGINT) % 100 AS h
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN h < rate THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept
      FROM b
      GROUP BY source
      ORDER BY source""",

    // FLOOR before the BIGINT cast — DuckDB's double→int cast rounds,
    // Spark's truncates.
    "q_pipe_benford" -> """
      WITH d AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1),
      c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      t AS (SELECT SUM(n) AS tot FROM c)
      SELECT digit, CAST(n AS BIGINT) AS n,
             FLOOR(n * 1.0 / tot * 1e4 + 0.5) / 1e4 AS observed,
             FLOOR(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e4 + 0.5) / 1e4
               AS benford,
             FLOOR(abs(n * 1.0 / tot - ln(1.0 + 1.0 / digit) / ln(10.0))
               * 1e4 + 0.5) / 1e4 AS abs_dev
      FROM c, t
      ORDER BY digit""",

    "q_pipe_shard" -> """
      WITH s AS (
        SELECT CAST('0x' || substring(md5('shard:'
                 || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16
                 AS shard
        FROM documents),
      per AS (SELECT shard, count(*) AS n FROM s GROUP BY shard)
      SELECT CAST(count(*) AS BIGINT) AS n_shards,
             CAST(MIN(n) AS BIGINT) AS min_rows,
             CAST(MAX(n) AS BIGINT) AS max_rows,
             FLOOR(MAX(n) * 1.0 / (SUM(n) * 1.0 / count(*)) * 1e4 + 0.5)
               / 1e4 AS skew_ratio
      FROM per""",

    // The oracle merges the same two partials — both engines prove
    // partial-aggregate mergeability on the identical split.
    "q_pipe_incremental" -> """
      WITH old AS (
        SELECT event_type, count(*) AS n, SUM(value) AS sv
        FROM events WHERE ts < TIMESTAMP '2024-01-20'
        GROUP BY event_type),
      new AS (
        SELECT event_type, count(*) AS n, SUM(value) AS sv
        FROM events WHERE ts >= TIMESTAMP '2024-01-20'
        GROUP BY event_type),
      u AS (SELECT * FROM old UNION ALL SELECT * FROM new)
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
             ROUND(SUM(sv), 2) AS sum_value
      FROM u
      GROUP BY event_type
      ORDER BY event_type""",

    "q_pipe_drift" -> """
      WITH b AS (SELECT lang, CAST(floor(n_chars / 200) AS BIGINT) AS bucket
                 FROM documents),
      grid AS (SELECT l.lang, g.bucket
               FROM (SELECT DISTINCT lang FROM b) l
               CROSS JOIN (SELECT DISTINCT bucket FROM b) g),
      cnt AS (SELECT g.lang, g.bucket, count(b.lang) AS c
              FROM grid g LEFT JOIN b
                ON b.lang = g.lang AND b.bucket = g.bucket
              GROUP BY g.lang, g.bucket),
      tot AS (SELECT lang, SUM(c) AS t, count(*) AS nb FROM cnt
              GROUP BY lang),
      sh AS (SELECT c.lang, c.bucket, (c.c + 1.0) / (t.t + t.nb) AS p
             FROM cnt c JOIN tot t ON c.lang = t.lang),
      ref AS (SELECT bucket, p AS pref FROM sh WHERE lang = 'en')
      SELECT s.lang,
             FLOOR(SUM((s.p - r.pref) * ln(s.p / r.pref)) * 1e4 + 0.5)
               / 1e4 AS psi
      FROM sh s JOIN ref r ON s.bucket = r.bucket
      WHERE s.lang <> 'en'
      GROUP BY s.lang
      ORDER BY s.lang""",

    "q_pipe_scd2" -> """
      WITH chg AS (
        SELECT user_id, ts, event_id, value
        FROM events WHERE event_type = 'purchase' AND user_id < 20)
      SELECT user_id, event_id, ROUND(value, 2) AS value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM chg
      ORDER BY user_id, valid_from, event_id""",

    "q_pipe_wilson" -> """
      WITH u AS (
        SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
               user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
        FROM events GROUP BY day, user_id),
      s AS (SELECT day, CAST(count(*) AS DOUBLE) AS n,
                   CAST(SUM(conv) AS DOUBLE) AS k
            FROM u GROUP BY day)
      SELECT day, CAST(n AS BIGINT) AS n_users, CAST(k AS BIGINT) AS n_converted,
             FLOOR((k/n) * 1e4 + 0.5) / 1e4 AS p_hat,
             FLOOR(((k/n + (1.959964*1.959964)/2/n
                     - 1.959964 * sqrt((k/n)*(1-k/n)/n
                                       + (1.959964*1.959964)/4/(n*n)))
                    / (1 + (1.959964*1.959964)/n)) * 1e4 + 0.5) / 1e4
               AS wilson_lo,
             FLOOR(((k/n + (1.959964*1.959964)/2/n
                     + 1.959964 * sqrt((k/n)*(1-k/n)/n
                                       + (1.959964*1.959964)/4/(n*n)))
                    / (1 + (1.959964*1.959964)/n)) * 1e4 + 0.5) / 1e4
               AS wilson_hi
      FROM s ORDER BY day""",

    "q_pipe_prefpairs" -> """
      WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_id, value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS n
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, day,
             MIN(CASE WHEN rn = n THEN event_id END) AS chosen_id,
             MIN(CASE WHEN rn = 1 THEN event_id END) AS rejected_id,
             FLOOR((MIN(CASE WHEN rn = n THEN value END)
               - MIN(CASE WHEN rn = 1 THEN value END)) * 100 + 0.5) / 100
               AS margin
      FROM p
      GROUP BY user_id, day
      HAVING MAX(n) >= 2
         AND MIN(CASE WHEN rn = n THEN value END)
           > MIN(CASE WHEN rn = 1 THEN value END)
      ORDER BY user_id, day""",

    "q_pipe_elo" -> eloSql(3),

    "q_agg_theilsen" -> theilsenSql(20),

    // Same estimator; DuckDB can use windows over the tiny day table
    // (single-node — the triangle-join constraint is Spark-side).
    "q_pipe_survival" -> """
      WITH g AS (
        SELECT user_id, ts, event_id,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS nxt
        FROM events),
      life AS (
        SELECT user_id,
               CAST(FLOOR((epoch_us(COALESCE(
                 MIN(CASE WHEN epoch_us(nxt) - epoch_us(ts) > 108000000000
                          THEN ts END),
                 MAX(ts))) - epoch_us(MIN(ts))) / 86400000000.0) AS BIGINT)
                 AS t,
               CASE WHEN MIN(CASE WHEN epoch_us(nxt) - epoch_us(ts)
                                       > 108000000000
                                  THEN ts END) IS NOT NULL
                    THEN 1 ELSE 0 END AS died
        FROM g GROUP BY user_id),
      agg AS (SELECT t, CAST(SUM(died) AS BIGINT) AS d,
                     CAST(count(*) AS BIGINT) AS c
              FROM life GROUP BY t),
      risk AS (
        SELECT a.t, a.d, CAST(SUM(b.c) AS BIGINT) AS n_risk
        FROM agg a JOIN agg b ON b.t >= a.t
        GROUP BY a.t, a.d),
      deaths AS (SELECT * FROM risk WHERE d > 0)
      SELECT a.t, a.n_risk, a.d AS n_deaths,
             FLOOR(CASE WHEN MAX(CASE WHEN b.d = b.n_risk
                                      THEN 1 ELSE 0 END) = 1
                        THEN 0.0
                        ELSE EXP(SUM(CASE WHEN b.d <> b.n_risk
                                          THEN LN(1.0 - b.d * 1.0 / b.n_risk)
                                     END))
                   END * 1e4 + 0.5) / 1e4 AS survival
      FROM deaths a JOIN deaths b ON b.t <= a.t
      GROUP BY a.t, a.n_risk, a.d
      ORDER BY a.t""",

    "q_pipe_targetenc" -> """
      WITH ev AS (
        SELECT event_type, value,
               CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 5 AS fold
        FROM events),
      byFold AS (
        SELECT event_type, fold, count(*) AS fn, SUM(value) AS fs
        FROM ev GROUP BY event_type, fold),
      byType AS (
        SELECT event_type, SUM(fn) AS tn, SUM(fs) AS ts
        FROM byFold GROUP BY event_type),
      prior AS (SELECT SUM(value) / count(*) AS prior FROM ev)
      SELECT f.event_type, f.fold, f.fn AS n_in_fold,
             FLOOR(((ts - fs + 10.0 * prior) / (tn - fn + 10.0))
               * 1e4 + 0.5) / 1e4 AS enc
      FROM byFold f JOIN byType USING (event_type) CROSS JOIN prior
      ORDER BY f.event_type, f.fold""",

    "q_pipe_bootstrap" -> """
      WITH rep AS (
        SELECT event_type, r,
               (CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)
                  || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT)
                 % 1000000) / 1e6 AS u,
               value
        FROM events CROSS JOIN generate_series(1, 20) t(r)),
      wts AS (
        SELECT event_type, r, value,
               CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
                    WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
                    WHEN u < 0.996340 THEN 4 ELSE 5 END AS wt
        FROM rep),
      reps AS (
        SELECT event_type, r, SUM(wt * value) / SUM(wt) AS m
        FROM wts GROUP BY event_type, r),
      base AS (
        SELECT event_type, count(*) AS n,
               FLOOR(AVG(value) * 1e4 + 0.5) / 1e4 AS mean_raw
        FROM events GROUP BY event_type)
      SELECT b.event_type, b.n, b.mean_raw,
             FLOOR(quantile_cont(m, 0.05) * 1e4 + 0.5) / 1e4 AS ci_lo,
             FLOOR(quantile_cont(m, 0.95) * 1e4 + 0.5) / 1e4 AS ci_hi
      FROM base b JOIN reps USING (event_type)
      GROUP BY b.event_type, b.n, b.mean_raw
      ORDER BY b.event_type""",

    "q_agg_chisq" -> """
      WITH o AS (
        SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
               count(*) AS obs
        FROM events GROUP BY event_type, dow),
      rt AS (SELECT event_type, SUM(obs) AS rtot FROM o GROUP BY event_type),
      ct AS (SELECT dow, SUM(obs) AS ctot FROM o GROUP BY dow),
      tt AS (SELECT SUM(obs) AS n FROM o)
      SELECT o.event_type,
             CAST(count(*) AS BIGINT) AS n_cells,
             FLOOR(SUM((obs - rtot * ctot * 1.0 / n)
               * (obs - rtot * ctot * 1.0 / n) / (rtot * ctot * 1.0 / n))
               * 1e4 + 0.5) / 1e4 AS chisq
      FROM o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tt
      GROUP BY o.event_type
      ORDER BY o.event_type""",

    "q_pipe_ks" -> """
      WITH rng AS (
        SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1,
               MIN(value) AS mn, MAX(value) AS mx
        FROM events),
      binned AS (
        SELECT event_type,
               CASE WHEN epoch_us(ts) * 2 < t0 + t1 THEN 0 ELSE 1 END
                 AS half,
               CASE WHEN mx > mn
                    THEN LEAST(63, CAST(FLOOR((value - mn) / (mx - mn) * 64)
                                        AS INT))
                    ELSE 0 END AS bin
        FROM events CROSS JOIN rng),
      raw AS (SELECT event_type, half, bin, count(*) AS c
              FROM binned GROUP BY event_type, half, bin),
      grid AS (
        SELECT t.event_type, h.half, b.bin
        FROM (SELECT DISTINCT event_type FROM raw) t
        CROSS JOIN (SELECT unnest([0, 1]) AS half) h
        CROSS JOIN (SELECT unnest(range(0, 64)) AS bin) b),
      cnt AS (
        SELECT g.event_type, g.half, g.bin, COALESCE(r.c, 0) AS c
        FROM grid g LEFT JOIN raw r
          ON g.event_type = r.event_type AND g.half = r.half
         AND g.bin = r.bin),
      tot AS (SELECT event_type, half, SUM(c) AS n
              FROM cnt GROUP BY event_type, half),
      cum AS (
        SELECT a.event_type, a.half, a.bin, SUM(b.c) AS cum
        FROM cnt a JOIN cnt b
          ON a.event_type = b.event_type AND a.half = b.half
         AND b.bin <= a.bin
        GROUP BY a.event_type, a.half, a.bin),
      e0 AS (SELECT c.event_type, bin, cum * 1.0 / n AS f0
             FROM cum c JOIN tot t
               ON c.event_type = t.event_type AND t.half = 0
             WHERE c.half = 0),
      e1 AS (SELECT c.event_type, bin, cum * 1.0 / n AS f1
             FROM cum c JOIN tot t
               ON c.event_type = t.event_type AND t.half = 1
             WHERE c.half = 1),
      halves AS (
        SELECT event_type,
               SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS n0,
               SUM(CASE WHEN half = 1 THEN n ELSE 0 END) AS n1
        FROM tot GROUP BY event_type)
      SELECT event_type, count(*) AS n_bins,
             CASE WHEN MIN(n0) = 0 OR MIN(n1) = 0 THEN 1.0
                  ELSE FLOOR(MAX(ABS(f0 - f1)) * 1e4 + 0.5) / 1e4
             END AS ks
      FROM e0 JOIN e1 USING (event_type, bin)
              JOIN halves USING (event_type)
      GROUP BY event_type
      ORDER BY event_type""",

    "q_agg_mutualinfo" -> """
      WITH o AS (
        SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
               count(*) AS obs
        FROM events GROUP BY event_type, dow),
      rt AS (SELECT event_type, SUM(obs) AS rtot FROM o GROUP BY event_type),
      ct AS (SELECT dow, SUM(obs) AS ctot FROM o GROUP BY dow),
      tt AS (SELECT SUM(obs) AS n FROM o),
      cells AS (
        SELECT o.event_type, rtot, n,
               CASE WHEN obs > 0 THEN (obs * 1.0 / n)
                 * LN((obs * 1.0 / n)
                   / ((rtot * 1.0 / n) * (ctot * 1.0 / n)))
                 ELSE 0.0 END AS term
        FROM o JOIN rt USING (event_type) JOIN ct USING (dow)
        CROSS JOIN tt),
      hx AS (SELECT SUM(-(rtot * 1.0 / n) * LN(rtot * 1.0 / n)) AS hx
             FROM rt CROSS JOIN tt)
      SELECT event_type,
             FLOOR(SUM(term) * 1e6 + 0.5) / 1e6 AS mi_nats,
             CASE WHEN MIN(hx) > 0
                  THEN FLOOR((SUM(term) / MIN(hx)) * 1e4 + 0.5) / 1e4
             END AS uncertainty_coef
      FROM cells CROSS JOIN hx
      GROUP BY event_type
      ORDER BY event_type""",

    "q_agg_winsorized" -> """
      WITH f AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type)
      SELECT e.event_type, count(*) AS n,
             FLOOR(AVG(value) * 1e4 + 0.5) / 1e4 AS mean_raw,
             FLOOR(AVG(GREATEST(lo, LEAST(hi, value))) * 1e4 + 0.5) / 1e4
               AS mean_winsor,
             FLOOR(AVG(CASE WHEN value >= lo AND value <= hi
                            THEN value END) * 1e4 + 0.5) / 1e4 AS mean_trim,
             CAST(SUM(CASE WHEN value < lo OR value > hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
      FROM events e JOIN f ON e.event_type = f.event_type
      GROUP BY e.event_type
      ORDER BY e.event_type""",

    "q_pipe_abtest" -> """
      WITH b AS (
        SELECT event_type, value,
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 2 AS grp
        FROM events),
      st AS (
        SELECT event_type, grp, CAST(count(*) AS DOUBLE) AS n,
               SUM(value) AS s1, SUM(value * value) AS s2
        FROM b GROUP BY event_type, grp),
      m AS (SELECT event_type, grp, n, s1 / n AS mean,
                   (s2 - s1 * s1 / n) / (n - 1.0) AS vr
            FROM st)
      SELECT t.event_type,
             CAST(t.n AS BIGINT) AS n_treat, CAST(c.n AS BIGINT) AS n_ctrl,
             FLOOR((t.mean - c.mean) / sqrt(t.vr / t.n + c.vr / c.n)
               * 1e4 + 0.5) / 1e4 AS t_stat
      FROM m t JOIN m c
        ON t.event_type = c.event_type AND t.grp = 1 AND c.grp = 0
      ORDER BY t.event_type""",

    "q_pipe_outlier" -> """
      WITH med AS (SELECT event_type, median(value) AS med
                   FROM events GROUP BY event_type),
      mad AS (SELECT e.event_type, med, median(abs(value - med)) AS mad
              FROM events e JOIN med USING (event_type)
              GROUP BY e.event_type, med)
      SELECT e.event_type,
             CAST(count(*) FILTER
               (WHERE 0.6745 * abs(value - med) / mad > 3.5) AS BIGINT)
               AS n_outlier,
             CAST(count(*) AS BIGINT) AS n,
             FLOOR(med * 1e4 + 0.5) / 1e4 AS med,
             FLOOR(mad * 1e4 + 0.5) / 1e4 AS mad
      FROM events e JOIN mad USING (event_type)
      GROUP BY e.event_type, med, mad
      ORDER BY e.event_type""",

    "q_pipe_decay" -> """
      WITH mx AS (SELECT user_id, max(ts) AS tmax FROM events
                  GROUP BY user_id)
      SELECT e.user_id, count(*) AS n_events,
             FLOOR(SUM(e.value * exp(-(epoch_us(tmax) - epoch_us(e.ts))
                   / 86400000000.0 / 7)) * 1e4 + 0.5) / 1e4 AS decayed
      FROM events e JOIN mx ON e.user_id = mx.user_id
      GROUP BY e.user_id
      ORDER BY e.user_id""",

    // The identical injective rendering (null tag / length-prefixed
    // value tag) and the identical two folds; the modular sum runs in
    // HUGEINT here vs decimal(38,0) in Spark — both exact integer
    // arithmetic, so the BIGINT results agree.
    "q_pipe_manifest" -> """
      WITH r AS (
        SELECT source, CAST('0x' || substring(md5(
            (CASE WHEN doc_id IS NULL THEN 'N'
                  ELSE 'V' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                       || ':' || CAST(doc_id AS VARCHAR) END)
            || '|' ||
            (CASE WHEN lang IS NULL THEN 'N'
                  ELSE 'V' || CAST(length(lang) AS VARCHAR)
                       || ':' || lang END)
            || '|' ||
            (CASE WHEN n_chars IS NULL THEN 'N'
                  ELSE 'V' || CAST(length(CAST(n_chars AS VARCHAR)) AS VARCHAR)
                       || ':' || CAST(n_chars AS VARCHAR) END)
          ), 1, 15) AS BIGINT) AS sig
        FROM documents)
      SELECT source, count(*) AS n_docs,
             bit_xor(sig) AS content_sig,
             CAST(SUM(CAST(sig AS HUGEINT)) % 1000000007 AS BIGINT)
               AS content_sum
      FROM r
      GROUP BY source
      ORDER BY source""",

    "q_pipe_kanon" -> """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS gsize
        FROM customer GROUP BY 1, 2, 3)
      SELECT gsize < 5 AS violates_k5, count(*) AS n_groups,
             CAST(SUM(gsize) AS BIGINT) AS n_rows,
             min(gsize) AS min_size, max(gsize) AS max_size
      FROM g
      GROUP BY 1
      ORDER BY violates_k5""",

    // Identical inverse-CDF algebra over the identical hash-derived
    // uniform. sign/abs/floor are exact IEEE ops; LN is NOT
    // correctly-rounded by spec (Spark fdlibm vs DuckDB libm can
    // differ by 1 ulp), the same accepted ln+floor exposure as
    // benford/psi/curriculum — a 4-decimal flip needs the product to
    // land within ~1e-9 of a boundary (BUILD_NOTES).
    "q_pipe_dpnoise" -> """
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      u AS (
        SELECT lang, n,
               CAST(CAST('0x' || substring(md5(lang), 1, 15) AS BIGINT)
                 AS DOUBLE) / 1152921504606846976.0 AS u
        FROM c)
      SELECT lang, n,
             FLOOR((n + -(1.0 / 1.0) * SIGN(u - 0.5)
                    * LN(1 - 2 * ABS(u - 0.5))) * 1e4 + 0.5) / 1e4
               AS noisy_n
      FROM u
      ORDER BY lang""",

    // Spark mask() reproduced as a regexp_replace chain (same three
    // character classes, everything else untouched).
    "q_pipe_redact" -> """
      WITH m AS (
        SELECT c_mktsegment,
               regexp_replace(regexp_replace(regexp_replace(c_name,
                 '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                 AS masked,
               CAST('0x' || substring(md5('pseud:' || c_name), 1, 15)
                 AS BIGINT) AS pseudonym
        FROM customer)
      SELECT c_mktsegment, count(*) AS n,
             count(DISTINCT masked) AS n_shapes,
             count(DISTINCT pseudonym) AS n_pseudonyms,
             min(masked) AS min_shape
      FROM m
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // n_after/chars_after derived arithmetically here vs materialized
    // row replication on the Spark side — the differential proves the
    // explode-based upsample is exact.
    "q_pipe_oversample" -> """
      WITH counts AS (
        SELECT lang, count(*) AS n_orig,
               CAST(SUM(n_chars) AS BIGINT) AS chars_orig
        FROM documents GROUP BY lang),
      tgt AS (SELECT max(n_orig) AS mx FROM counts),
      fac AS (
        SELECT lang, n_orig, chars_orig,
               LEAST(CAST(ceil(mx * 1.0 / n_orig) AS BIGINT), 4) AS factor
        FROM counts, tgt)
      SELECT lang, n_orig, factor,
             CAST(n_orig * factor AS BIGINT) AS n_after,
             CAST(chars_orig * factor AS BIGINT) AS chars_after
      FROM fac
      ORDER BY lang""",

    "q_pipe_expect" -> """
      WITH r AS (
        SELECT
          CAST(SUM(CASE WHEN l_quantity < 0 OR l_quantity > 60
            THEN 1 ELSE 0 END) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS p,
          CAST(SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
            AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS disc
        FROM lineitem),
      fk AS (
        SELECT count(*) AS n FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
      SELECT check_name, n FROM (
        SELECT 'lineitem_qty_in_range_viol' AS check_name, n FROM r
        UNION ALL
        SELECT 'lineitem_price_positive_viol', p FROM r
        UNION ALL
        SELECT 'profile_qty_above_45', hi FROM r
        UNION ALL
        SELECT 'profile_disc_above_5pct', disc FROM r
        UNION ALL
        SELECT 'orders_custkey_orphans', n FROM fk)
      ORDER BY check_name""",

    "q_pipe_pack" -> """
      WITH b AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tok,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS h
        FROM documents),
      c AS (
        SELECT lang, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM b)
      SELECT lang, CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS bin,
             count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM c
      GROUP BY lang, bin
      ORDER BY lang, bin""",

    "q_pipe_chunk" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id < 100),
      e AS (
        SELECT doc_id, w, n_tok,
               unnest(generate_series(0,
                 CAST(FLOOR((n_tok - 1) / 48.0) AS BIGINT))) AS ci
        FROM d)
      SELECT doc_id, ci AS chunk_id, ci * 48 AS start,
             LEAST(n_tok - ci * 48, 64) AS chunk_tokens,
             w[CAST(ci * 48 + 1 AS INT)] AS first_token
      FROM e
      ORDER BY doc_id, chunk_id""",

    "q_expr_struct" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(quarter(o_orderdate) AS INT) AS q,
             count(*) AS n,
             FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
      FROM orders
      GROUP BY y, q
      ORDER BY y, q""",

    // The oracle states the DEFINITION (no dominating doc exists);
    // the Spark plan computes the same front without a self-join.
    "q_pipe_pareto" -> """
      WITH per AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
               FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 1e4 + 0.5) / 1e4 AS rich
        FROM documents)
      SELECT lang, doc_id, tokens, rich
      FROM per p
      WHERE NOT EXISTS (
        SELECT 1 FROM per q
        WHERE q.lang = p.lang AND q.doc_id <> p.doc_id
          AND q.tokens >= p.tokens AND q.rich >= p.rich
          AND (q.tokens > p.tokens OR q.rich > p.rich))
      ORDER BY lang, doc_id""",

    "q_pipe_curriculum" -> """
      WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      freq AS (SELECT tok, count(*) AS nu FROM tk GROUP BY tok),
      tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n_total FROM freq),
      scored AS (
        SELECT doc_id,
               FLOOR(AVG(-ln(nu * 1.0 / n_total)) * 1e4 + 0.5) / 1e4
                 AS difficulty,
               CAST(count(*) AS BIGINT) AS tokens
        FROM tk JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY doc_id),
      q AS (
        SELECT *, ntile(4) OVER (ORDER BY difficulty, doc_id) AS quartile
        FROM scored)
      SELECT quartile, count(*) AS n_docs,
             min(difficulty) AS min_difficulty,
             max(difficulty) AS max_difficulty,
             FLOOR(AVG(tokens) * 100 + 0.5) / 100 AS avg_tokens
      FROM q
      GROUP BY quartile
      ORDER BY quartile""",

    // Classifier-evaluation rows: all three compose over the SAME
    // scored-table CTE prefix the q_text_classify oracle uses
    // (TextOps.classifyScoredSql — `sc` is (doc_id, lang, score)),
    // so the model/hash/sigmoid algebra can never drift between the
    // inference row and its evaluation.
    "q_pipe_auc" -> (graft.ops.TextOps.classifyScoredSql + """,
      lab AS (SELECT doc_id,
                     CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
              FROM documents),
      mid AS (
        SELECT sc.lang, label,
               rank() OVER (PARTITION BY sc.lang ORDER BY score)
                 + (count(*) OVER (PARTITION BY sc.lang, score) - 1) / 2.0
                 AS ar
        FROM sc JOIN lab USING (doc_id))
      SELECT lang, CAST(SUM(label) AS BIGINT) AS n_pos,
             CAST(SUM(1 - label) AS BIGINT) AS n_neg,
             CASE WHEN SUM(label) = 0 OR SUM(1 - label) = 0 THEN NULL
                  ELSE FLOOR((SUM(CASE WHEN label = 1 THEN ar END)
                              - CAST(SUM(label) AS DOUBLE)
                                * (SUM(label) + 1) / 2.0)
                             / (CAST(SUM(label) AS DOUBLE) * SUM(1 - label))
                             * 1e4 + 0.5)
                       / 1e4
             END AS auc
      FROM mid GROUP BY lang ORDER BY lang"""),

    "q_pipe_calibration" -> (graft.ops.TextOps.classifyScoredSql + """,
      lab AS (SELECT doc_id,
                     CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
              FROM documents),
      b AS (
        SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin,
               count(*) AS n_docs,
               FLOOR(AVG(score) * 1e4 + 0.5) / 1e4 AS confidence,
               FLOOR(AVG(label) * 1e4 + 0.5) / 1e4 AS accuracy
        FROM sc JOIN lab USING (doc_id)
        GROUP BY 1)
      SELECT bin, n_docs, confidence, accuracy,
             FLOOR(ABS(confidence - accuracy) * 1e4 + 0.5) / 1e4 AS gap
      FROM b ORDER BY bin"""),

    "q_pipe_ndcg" -> (graft.ops.TextOps.classifyScoredSql + """,
      rel AS (SELECT doc_id,
                     LEAST(3.0, FLOOR(n_chars / 150.0)) AS rel
              FROM documents),
      g AS (
        SELECT sc.lang, rel,
               row_number() OVER (PARTITION BY sc.lang
                                  ORDER BY score DESC, doc_id) AS rn,
               row_number() OVER (PARTITION BY sc.lang
                                  ORDER BY rel DESC, doc_id) AS irn,
               pow(2.0, rel) - 1.0 AS gain
        FROM sc JOIN rel USING (doc_id)),
      a AS (
        SELECT lang,
               SUM(CASE WHEN rn <= 10
                        THEN gain / (ln(rn + 1) / ln(2.0)) END) AS dcg,
               SUM(CASE WHEN irn <= 10
                        THEN gain / (ln(irn + 1) / ln(2.0)) END) AS idcg
        FROM g GROUP BY lang)
      SELECT lang, FLOOR(dcg * 1e4 + 0.5) / 1e4 AS dcg10,
             FLOOR(dcg / idcg * 1e4 + 0.5) / 1e4 AS ndcg10
      FROM a ORDER BY lang"""),
  )

  /** The q_agg_theilsen oracle: the SAME banded lead probes generated
    * to `band` columns (identical slope arithmetic — one multiply,
    * one divide), unnested and medianed. */
  private def theilsenSql(band: Int): String = {
    val leads = (1 to band).map { k =>
      s"""CASE WHEN lead(tu, $k) OVER w > tu
              THEN (lead(value, $k) OVER w - value) * 3.6e9
                   / (lead(tu, $k) OVER w - tu) END"""
    }.mkString(",\n               ")
    s"""
      WITH base AS (
        SELECT event_type, event_id, ts, epoch_us(ts) AS tu, value
        FROM events),
      probes AS (
        SELECT event_type,
               [$leads] AS sl
        FROM base
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      sls AS (
        SELECT event_type, unnest(sl) AS slope FROM probes)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             FLOOR(median(slope) * 1e4 + 0.5) / 1e4 AS slope_med_per_hr
      FROM sls WHERE slope IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""
  }

  /** The q_pipe_elo oracle: the SAME MM recursion unrolled to `iters`
    * CTE stages (the simhashSql move — generated with the same
    * structure as the Spark loop, so iteration count and
    * normalization can't drift between engines). */
  private def eloSql(iters: Int): String = {
    val head = """
      WITH cmp AS (
        SELECT CASE WHEN a.value > b.value THEN a.event_type
                    ELSE b.event_type END AS winner,
               CASE WHEN a.value > b.value THEN b.event_type
                    ELSE a.event_type END AS loser
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND CAST(a.ts AS DATE) = CAST(b.ts AS DATE)
         AND a.event_type < b.event_type AND a.value <> b.value),
      wins AS (SELECT winner AS t, CAST(count(*) AS BIGINT) AS n_wins
               FROM cmp GROUP BY winner),
      pairs AS (SELECT winner AS i, loser AS j, count(*) AS n
                FROM cmp GROUP BY winner, loser),
      sym AS (SELECT i, j, SUM(n) AS n FROM (
                SELECT i, j, n FROM pairs
                UNION ALL SELECT j, i, n FROM pairs) GROUP BY i, j),
      nm AS (SELECT i AS t, CAST(SUM(n) AS BIGINT) AS n_matches
             FROM sym GROUP BY i),
      r0 AS (SELECT t, 1.0 AS r FROM nm)"""
    val steps = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s""",
      d$k AS (SELECT s.i AS t, SUM(s.n / (ri.r + rj.r)) AS den
              FROM sym s JOIN $p ri ON s.i = ri.t
                         JOIN $p rj ON s.j = rj.t
              GROUP BY s.i),
      u$k AS (SELECT w.t, w.n_wins / d$k.den AS r
              FROM wins w JOIN d$k ON w.t = d$k.t),
      r$k AS (SELECT t, r * (SELECT count(*) FROM u$k)
                        / (SELECT SUM(r) FROM u$k) AS r FROM u$k)"""
    }.mkString
    head + steps + s"""
      SELECT nm.t AS event_type,
             CAST(COALESCE(w.n_wins, 0) AS BIGINT) AS n_wins,
             nm.n_matches,
             FLOOR(r.r * 1e4 + 0.5) / 1e4 AS bt_rating
      FROM nm LEFT JOIN wins w ON nm.t = w.t
              LEFT JOIN r$iters r ON nm.t = r.t
      ORDER BY bt_rating DESC NULLS LAST, event_type"""
  }
}
