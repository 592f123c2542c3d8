package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.8 text-analysis + dedup extensions over `documents` — the
  * LLM-training-data-pipeline surface mandated by BASELINE.json:6
  * (SURVEY §2.8): wordcount (the MapReduce flagship), bigrams
  * (Generator/UDTF surface), tf-idf, lexicon sentiment, per-language
  * stats, exact dedup, and MinHash+LSH near-dup detection.
  *
  * Scale notes (100 TB):
  *  - Tokenization is `split` + `explode`/`posexplode` — codegen'd,
  *    embarrassingly parallel, no driver-side state.
  *  - Every aggregation is a hash-agg with map-side partial; the only
  *    shuffles are on (token)/(lang,…) keys, which Catalyst plans as
  *    partial+final HashAggregate.
  *  - `q_dedup_exact` uses window row_number (deterministic survivor
  *    — min doc_id), NOT dropDuplicates (nondet survivor). Shuffles
  *    once on the dedup key: scale-safe.
  *  - `q_dedup_minhash` is the bucketed LSH shape: signatures via
  *    fixed-seed xxhash64 (no nondeterminism), candidates come from a
  *    band-bucket self-JOIN (never an all-pairs crossJoin), then exact
  *    Jaccard verifies candidates only. At cluster scale, hot buckets
  *    (a band value shared by millions of docs) are the known risk —
  *    mitigate with bucket-size caps / salting before the pair join;
  *    at fixture scale buckets are bounded by per-language doc counts.
  */
object TextOps {

  /** MinHash bands: b=16 bands of r=1 row each. r=1 keeps recall at
    * threshold 0.6 effectively 1 ((1-s)^16 ≤ 4.3e-7 per pair at
    * s=0.6) so the exact-Jaccard-verified output equals the oracle's
    * brute-force answer; production at lower-overlap corpora would
    * trade r up for precision. Deterministic: xxhash64 with the band
    * index as an explicit seed column. */
  private val NumBands = 16

  /** Per-doc character-bigram LM scores `(doc_id, lang, score)` —
    * score = count-weighted mean ln P(c2|c1) under the corpus bigram
    * model — memoized per (session, dir) and shared by
    * `q_text_charlm` (per-language stats) and `q_text_lmbucket`
    * (CCNet-style tercile split).
    *
    * Occurrences collapse to per-doc bigram COUNTS first (one explode
    * + one keyed agg); the model derives from the counts and the
    * score is the count-weighted mean — so the corpus is tokenized
    * once, not once per pass, and the scoring join carries |distinct
    * bigrams per doc| rows, not |chars|. Per-doc counts come straight
    * from the codegen'd kernel (one JVM pass per document, one row
    * per DISTINCT bigram) — the declarative per-character explode +
    * re-aggregate walked an interpreted HOF over |chars| rows. The
    * count table feeds BOTH the model build and the scoring join (a
    * diamond); column pruning specializes the two branches so
    * Catalyst can't ReusedExchange them — materialize the shared
    * stage once. The model (≤ |alphabet|² rows) broadcasts, so at
    * 100 TB the score pass is map-side only. */
  private[graft] def lmScores(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "charlm_scores") {
      import s.implicits._
      val bgc = t(s, d, "documents")
        .select($"doc_id", $"lang", lower($"text").as("t"))
        .select($"doc_id", $"lang",
          explode(expr("char_bigram_counts(t)")).as("e"))
        .select($"doc_id", $"lang", $"e.bg".as("bg"), $"e.c".as("c"))
        .transform(Tables.ck)
      val model = bgc.groupBy($"bg").agg(sum($"c").as("n_bg"))
        .withColumn("c1", substring($"bg", 1, 1))
      val prefix = model.groupBy($"c1").agg(sum($"n_bg").as("n_c1"))
      val probs = model.join(prefix, "c1").select($"bg", $"n_bg", $"n_c1")
      bgc.join(broadcast(probs), "bg")
        .groupBy($"doc_id", $"lang")
        .agg((sum($"c" * log($"n_bg" / $"n_c1")) / sum($"c")).as("score"))
        .transform(Tables.ck)
    }

  val queries: Map[String, Q] = Map(
    // Per-source Jensen–Shannon divergence from the corpus unigram
    // distribution — the data-mixing diagnostic ("which sources are
    // vocabulary outliers?") run before setting mixture weights. JSD
    // = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2, P = the source's
    // token distribution, Q = the whole corpus's; symmetric, bounded
    // [0, ln 2], defined even where the source misses tokens (the
    // p = 0 grid rows still contribute ½·q·ln 2 via M). The grid is
    // (sources × vocabulary) — both sides are COLLAPSED distributions
    // (the corpus pass happens once, map-side combinable), so at
    // 100 TB the expensive thing stays the one tokenize+count scan;
    // the divergence math runs on |S|·|V| tiny rows with both
    // distribution tables broadcast.
    "q_text_jsd" -> ((s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select($"source", explode(split($"text", " ")).as("tok"))
      val srcTok = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
      val srcTot = toks.groupBy($"source").agg(count(lit(1)).as("st"))
      val corTok = toks.groupBy($"tok").agg(count(lit(1)).as("qc"))
      val corTot = toks.agg(count(lit(1)).as("ct"))
      srcTot.crossJoin(broadcast(corTok))
        .join(srcTok, Seq("source", "tok"), "left")
        .crossJoin(broadcast(corTot))
        .select($"source",
          (coalesce($"c", lit(0L)).cast("double") / $"st").as("p"),
          ($"qc".cast("double") / $"ct").as("q"))
        .withColumn("m", ($"p" + $"q") / 2)
        .withColumn("term",
          when($"p" > 0, $"p" * log($"p" / $"m") / 2).otherwise(0.0)
            + $"q" * log($"q" / $"m") / 2)
        .groupBy($"source")
        .agg(sum(when($"p" === 0, 1L).otherwise(0L)).as("n_missing"),
          (floor(sum($"term") * 1e4 + 0.5) / 1e4).as("jsd"))
        .orderBy($"source")
    }),

    // THE MapReduce flagship: tokenize → explode → count → top-20.
    "q_text_wordcount" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token")
        .limit(20)
    }),

    // Bigrams per language, top-10 per lang. posexplode + lead() is
    // the Generator + secondary-sort surface; `concat` (null-strict in
    // Spark) drops each doc's final token pairing naturally.
    "q_text_ngram" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents").select($"doc_id", $"lang",
        posexplode(split($"text", " ")).as(Seq("pos", "token")))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val bi = tk.withColumn("nxt", lead($"token", 1).over(w))
        .where($"nxt".isNotNull)
        .select($"lang", concat($"token", lit(" "), $"nxt").as("bigram"))
      val cnt = bi.groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
      val rw = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")
      cnt.withColumn("rn", row_number().over(rw)).where($"rn" <= 10)
        .select($"lang", $"bigram", $"n")
        .orderBy($"lang", $"n".desc, $"bigram")
    }),

    // N-GRAM DIVERSITY AUDIT — the mode-collapse / template-spam
    // detector a generated-data pipeline runs before training on its
    // own outputs: per-language bigram type-token ratio (distinct
    // bigrams / total — collapses toward 0 when the corpus repeats
    // itself) and the top bigram's share of all occurrences (spikes
    // when one template dominates). Same zip_with bigram explode as
    // the classifier features; one (lang, bigram) keyed count (the
    // wordcount shuffle shape, partial-aggregable) then a |langs|-row
    // re-agg — at 100 TB the bigram count table is the only shuffle
    // and it combines map-side.
    "q_text_diversity" -> ((s, d) => {
      import s.implicits._
      val bi = t(s, d, "documents")
        .select($"lang", split($"text", " ").as("w"))
        .select($"lang", explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
      bi.groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
        .groupBy($"lang").agg(
          sum($"n").as("n_bigrams"),
          count(lit(1)).as("n_types"),
          (floor(count(lit(1)).cast("double") / sum($"n") * 1e4 + 0.5)
            / 1e4).as("ttr"),
          (floor(max($"n").cast("double") / sum($"n") * 1e4 + 0.5)
            / 1e4).as("top_share"))
        .orderBy($"lang")
    }),

    // RAKE KEYPHRASE EXTRACTION (Rose et al. 2010) — the classic
    // unsupervised keyword pass a document-understanding pipeline
    // runs before indexing/labeling: candidate phrases are MAXIMAL
    // RUNS of non-stopwords (phrase id = running stopword count, one
    // keyed window), word score = deg/freq over the language's
    // phrase-words (deg = Σ length of containing phrases, self
    // included — RAKE's co-occurrence degree), phrase score = Σ its
    // words' scores; top-3 phrases per language. Stoplist = the
    // canonical 8-word list q_text_gopher pins. Everything is keyed
    // (doc windows, (lang, tok) stats join, per-lang top-k via
    // WindowGroupLimit); scores round to 1e-4 BEFORE ranking and ties
    // break on the phrase text, so the ranking permutation is
    // cross-engine exact.
    "q_text_rake" -> ((s, d) => {
      import s.implicits._
      val stop = Seq("the", "be", "to", "of", "and", "that", "have",
        "with")
      val wseg = Window.partitionBy($"doc_id").orderBy($"pos")
      val wlen = Window.partitionBy($"doc_id", $"pid")
      val seg = t(s, d, "documents")
        .select($"doc_id", $"lang",
          posexplode(split($"text", " ")).as(Seq("pos", "tok")))
        .withColumn("is_stop", $"tok".isInCollection(stop))
        .withColumn("pid",
          sum(when($"is_stop", 1).otherwise(0)).over(wseg))
        .where(!$"is_stop")
        .withColumn("plen", count(lit(1)).over(wlen))
      val ws = seg.groupBy($"lang", $"tok")
        .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      val psc = seg
        .join(ws.select($"lang", $"tok",
          ($"deg" * 1.0 / $"freq").as("wscore")), Seq("lang", "tok"))
        .groupBy($"doc_id", $"lang", $"pid").agg(
          expr("array_join(transform(sort_array(collect_list(" +
            "struct(pos, tok))), x -> x.tok), ' ')").as("phrase"),
          count(lit(1)).as("n_words"),
          (floor(sum($"wscore") * 1e4 + 0.5) / 1e4).as("score"))
      val ded = psc.groupBy($"lang", $"phrase")
        .agg(max($"score").as("score"), max($"n_words").as("n_words"))
      val rk = Window.partitionBy($"lang")
        .orderBy($"score".desc, $"phrase")
      ded.withColumn("rn", row_number().over(rk)).where($"rn" <= 3)
        .select($"lang", $"phrase", $"score", $"n_words")
        .orderBy($"lang", $"score".desc, $"phrase")
    }),

    // GOPHER QUALITY RULES (Rae et al. 2021, table A1) — the published
    // heuristic filter battery as ONE named row, because "we filter
    // like Gopher" is a claim a pipeline should be able to point at:
    // word count ∈ [50, 100k], mean word length ∈ [3, 10], ≥ 80% of
    // words contain an alphabetic char, symbol-to-word ratio (#, …)
    // ≤ 0.1, and ≥ 2 distinct stopwords from the canonical 8-word
    // list. Per-language rollup of per-rule failure counts + the
    // all-rules pass count — the report a corpus curation review
    // reads. Pure per-row expression work (split + HOFs + regexp, all
    // codegen) and one keyed rollup: scan cost = total cost at 100 TB.
    "q_text_gopher" -> ((s, d) => {
      import s.implicits._
      val stop = "array('the','be','to','of','and','that','have','with')"
      val per = t(s, d, "documents")
        .select($"lang", $"text", split($"text", " ").as("w"))
        .select($"lang",
          size($"w").as("nw"),
          (expr("size(filter(w, x -> x rlike '[A-Za-z]'))") * 1.0
            / size($"w")).as("alpha_frac"),
          ((length($"text") - (size($"w") - 1)) * 1.0 / size($"w"))
            .as("mean_wlen"),
          (expr("size(regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0))")
            * 1.0 / size($"w")).as("sym_ratio"),
          expr(s"size(array_intersect(array_distinct(w), $stop))")
            .as("n_stop"))
      per.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"nw" < 50 || $"nw" > 100000, 1L).otherwise(0L))
            .as("fail_wordcount"),
          sum(when($"mean_wlen" < 3.0 || $"mean_wlen" > 10.0, 1L)
            .otherwise(0L)).as("fail_wordlen"),
          sum(when($"alpha_frac" < 0.8, 1L).otherwise(0L))
            .as("fail_alpha"),
          sum(when($"sym_ratio" > 0.1, 1L).otherwise(0L))
            .as("fail_symbol"),
          sum(when($"n_stop" < 2, 1L).otherwise(0L)).as("fail_stopword"),
          sum(when($"nw" >= 50 && $"nw" <= 100000
            && $"mean_wlen" >= 3.0 && $"mean_wlen" <= 10.0
            && $"alpha_frac" >= 0.8 && $"sym_ratio" <= 0.1
            && $"n_stop" >= 2, 1L).otherwise(0L)).as("n_pass_all"))
        .orderBy($"lang")
    }),

    // KNESER–NEY bigram LM scoring — the word-level upgrade of the
    // charlm filter, i.e. the CCNet-style "score every document under
    // a smoothed LM" gate with the smoothing real LMs use: absolute
    // discount D = 0.75 with CONTINUATION-count backoff,
    //   P(w2|w1) = (max(c₁₂ − D, 0) + D · N₁₊(w1·) · Pcont(w2)) / c₁,
    //   Pcont(w2) = N₁₊(·w2) / |bigram types|
    // (Kneser & Ney 1995 — Pcont ranks words by how many CONTEXTS
    // they follow, not raw frequency, which is what fixes the
    // "San Francisco" problem plain backoff has). Train + score on
    // the same corpus (no OOV ⇒ every P > 0); per-doc score = count-
    // weighted mean ln P over its bigrams; per-lang rollup. Scale
    // shape = charlm's: one tokenize+count scan is the expensive
    // thing; the model tables are |types|-sized and broadcast to the
    // scoring join (swap to a keyed join when the vocab outgrows the
    // broadcast ceiling — the knob is one hint).
    "q_text_kneserney" -> ((s, d) => {
      import s.implicits._
      val pairs = t(s, d, "documents")
        .select($"doc_id", $"lang", split($"text", " ").as("w"))
        .where(size($"w") >= 2)
        .select($"doc_id", $"lang", explode(expr(
          "transform(sequence(0, size(w) - 2)," +
            " i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("p"))
        .select($"doc_id", $"lang", $"p.w1", $"p.w2")
      val dbg = Tables.ck(pairs
        .groupBy($"doc_id", $"lang", $"w1", $"w2")
        .agg(count(lit(1)).as("c")))
      // ck: cb feeds lft, rgt, tt AND the probs join — unchecked,
      // each reference replays the (w1, w2) aggregate over the per-doc
      // count table (the elo discipline; isolated min-of-3
      // 1.21 -> 1.05 s, plan 28 -> 20 Exchange).
      val cb = Tables.ck(dbg.groupBy($"w1", $"w2").agg(sum($"c").as("c12")))
      val lft = cb.groupBy($"w1")
        .agg(sum($"c12").as("c1"), count(lit(1)).as("n1l"))
      val rgt = cb.groupBy($"w2").agg(count(lit(1)).as("n1r"))
      val tt = cb.agg(count(lit(1)).as("tt"))
      val probs = cb.join(lft, "w1").join(rgt, "w2")
        .crossJoin(broadcast(tt))
        .select($"w1", $"w2",
          ((greatest($"c12" - 0.75, lit(0.0))
            + lit(0.75) * $"n1l" * $"n1r" / $"tt") / $"c1").as("p"))
      dbg.join(broadcast(probs), Seq("w1", "w2"))
        .groupBy($"doc_id", $"lang")
        .agg((sum($"c" * log($"p")) / sum($"c")).as("score"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          (floor(avg($"score") * 1e4 + 0.5) / 1e4).as("avg_kn"),
          (floor(min($"score") * 1e4 + 0.5) / 1e4).as("min_kn"),
          (floor(max($"score") * 1e4 + 0.5) / 1e4).as("max_kn"))
        .orderBy($"lang")
    }),

    // READABILITY scoring — the Flesch-family quality gate a pretrain
    // corpus pipeline runs next to stopword/length filters: per doc,
    // syllables ≈ vowel groups ([aeiouy]+ runs, the standard cheap
    // heuristic), polysyllabic = words with ≥ 3 groups, and Flesch
    // Reading Ease with PSEUDO-SENTENCES of 15 words (the fixture
    // corpus carries no sentence punctuation — the convention is
    // documented and shared with the oracle verbatim). Everything is
    // per-row expression work (regexp + array HOFs inside codegen —
    // no explode, no shuffle until the per-lang rollup), so the scan
    // cost IS the cost at 100 TB.
    "q_text_readability" -> ((s, d) => {
      import s.implicits._
      val r4 = (c: org.apache.spark.sql.Column) =>
        floor(c * 1e4 + 0.5) / 1e4
      val per = t(s, d, "documents")
        .select($"lang",
          size(split($"text", " ")).cast("double").as("words"),
          expr("size(regexp_extract_all(text, '[aeiouy]+', 0))")
            .cast("double").as("syll"),
          expr("""size(filter(transform(split(text, ' '),
                 w -> size(regexp_extract_all(w, '[aeiouy]+', 0))),
                 c -> c >= 3))""").cast("double").as("poly"))
        .where($"words" > 0)
        .withColumn("sents", ceil($"words" / 15.0).cast("double"))
        .withColumn("fre",
          lit(206.835) - lit(1.015) * ($"words" / $"sents")
            - lit(84.6) * ($"syll" / $"words"))
      per.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          r4(avg($"words")).as("avg_words"),
          r4(avg($"syll" / $"words")).as("avg_syll_per_word"),
          r4(avg($"poly" / $"words")).as("pct_poly"),
          r4(avg($"fre")).as("avg_fre"))
        .orderBy($"lang")
    }),

    // ROUGE-2 overlap scoring — the n-gram-overlap EVAL metric every
    // summarization/RAG training pipeline computes between reference
    // and candidate texts: per pair, distinct-bigram overlap →
    // precision (vs candidate), recall (vs reference), F1. The pair
    // list here is the banded same-lang (cand − ref ≤ 3) stand-in for
    // what production supplies externally (eval manifests, or minhash
    // candidates — the q_dedup_minhash path); the OP is the metric
    // computation: per-row array algebra (array_distinct +
    // array_intersect on each pair's own bigram sets), no shuffle
    // beyond the banded join, so it scales as the pair list does.
    // Floor-4dp rounding (tie-proof, SURVEY determinism rules).
    "q_text_rouge" -> ((s, d) => {
      import s.implicits._
      val r4 = (c: org.apache.spark.sql.Column) =>
        floor(c * 1e4 + 0.5) / 1e4
      val bg = t(s, d, "documents").where($"doc_id" < 300)
        .select($"doc_id", $"lang", split($"text", " ").as("w"))
        .where(size($"w") >= 2)
        .select($"doc_id", $"lang", array_distinct(expr(
          "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
          .as("bgs"))
      val a = bg.select($"doc_id".as("ref_id"), $"lang",
        $"bgs".as("ref_bgs"))
      val b = bg.select($"doc_id".as("cand_id"), $"lang".as("lang_b"),
        $"bgs".as("cand_bgs"))
      val p = a.join(b, $"lang" === $"lang_b" &&
          $"cand_id" > $"ref_id" && $"cand_id" <= $"ref_id" + 3)
        .withColumn("overlap",
          size(array_intersect($"ref_bgs", $"cand_bgs")).cast("long"))
        .withColumn("prec", $"overlap" / size($"cand_bgs"))
        .withColumn("rec", $"overlap" / size($"ref_bgs"))
      p.select($"ref_id", $"cand_id", $"overlap",
          r4($"prec").as("rouge2_p"), r4($"rec").as("rouge2_r"),
          r4(when($"prec" + $"rec" > 0,
              lit(2) * $"prec" * $"rec" / ($"prec" + $"rec"))
            .otherwise(lit(0.0))).as("rouge2_f1"))
        .orderBy($"ref_id", $"cand_id")
    }),

    // Character-bigram LM quality score (KenLM-style filter,
    // simplified): model P(c2|c1) from corpus bigram counts, each doc
    // scored by mean ln-probability of its bigrams, per-lang stats.
    // Two corpus passes; the model (≤ |alphabet|² rows) broadcasts to
    // the scoring join, so at 100 TB the score pass is map-side only —
    // the canonical shape for model-based quality filtering.
    "q_text_charlm" -> ((s, d) => {
      import s.implicits._
      lmScores(s, d).groupBy($"lang").agg(
          count(lit(1)).as("n_docs"),
          (floor(avg($"score") * 10000 + 0.5) / 10000).as("avg_lm"),
          (floor(min($"score") * 10000 + 0.5) / 10000).as("min_lm"),
          (floor(max($"score") * 10000 + 0.5) / 10000).as("max_lm"))
        .orderBy($"lang")
    }),

    // CCNet-style LM-score bucketing (Wenzek et al., LREC 2020,
    // simplified): split each language's documents into head / middle
    // / tail TERCILES of the shared charlm score ([[lmScores]]) —
    // head = most-fluent third, the slice a quality-filtered pretrain
    // mix keeps, tail = the candidate discard. Per-language cutoffs,
    // not global: fluency scores are not comparable across languages
    // (alphabet priors differ), which is the whole reason CCNet
    // buckets per language.
    //
    // Scale shape: cutoffs are a per-language EXACT percentile over
    // the r4-ROUNDED score (rounded first so the cutoff comparison
    // can never hinge on ln()'s last ulp; interpolation arithmetic is
    // then identical on identical 1e-4-grid inputs in both engines),
    // producing a |langs|×2 table that broadcasts back for a map-side
    // bucket assignment — the aggregate-broadcast-compare shape of
    // q_pipe_temperature. At unbounded per-language cardinality the
    // exact percentile swaps for approx_percentile's mergeable GK
    // sketch — the documented q_agg_quantile / q_agg_quantile_approx
    // trade, verbatim.
    "q_text_lmbucket" -> ((s, d) => {
      import s.implicits._
      val sr = lmScores(s, d)
        .select($"doc_id", $"lang",
          (floor($"score" * 1e4 + 0.5) / 1e4).as("sr"))
      // The cutoffs themselves are ALSO snapped to the 1e-4 grid:
      // Spark's percentile interpolates as a*(1-f)+b*f where DuckDB's
      // quantile_cont lerps a+(b-a)*f — algebraically equal but not
      // bit-equal, so an un-snapped cutoff could differ in the last
      // ulp and flip an `sr <= cutoff` tie. Snapped, every boundary
      // compare is between exact grid values (and the snap cannot
      // itself flip: interpolated grid values land at thirds of a
      // grid step, never at the round-half boundary).
      val cut = sr.groupBy($"lang").agg(
        (floor(percentile($"sr", lit(1.0 / 3)) * 1e4 + 0.5) / 1e4).as("c33"),
        (floor(percentile($"sr", lit(2.0 / 3)) * 1e4 + 0.5) / 1e4).as("c67"))
      sr.join(broadcast(cut), "lang")
        .withColumn("bucket",
          when($"sr" <= $"c33", "tail")
            .when($"sr" <= $"c67", "middle").otherwise("head"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          (floor(avg($"sr") * 1e4 + 0.5) / 1e4).as("avg_lm"))
        .orderBy($"lang", $"bucket")
    }),

    // tf-idf, corpus restricted to doc_id < 50 (bounded at every sf).
    // score = tf * ln(N/df); ranked on the ROUNDED score so a last-ulp
    // ln() difference between engines cannot flip the top-5 cutoff.
    "q_text_tfidf" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").where($"doc_id" < 50)
      val tf = docs
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
      val n = docs.agg(countDistinct($"doc_id").as("n_docs"))
      val scored = tf.join(dfc, "term").crossJoin(broadcast(n))
        .withColumn("score", floor($"tf" *
          log($"n_docs".cast("double") / $"df".cast("double"))
          * 1e4 + 0.5) / 1e4)
      val rw = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      scored.withColumn("rn", row_number().over(rw)).where($"rn" <= 5)
        .select($"doc_id", $"term", $"score")
        .orderBy($"doc_id", $"score".desc, $"term")
    }),

    // Lexicon sentiment (EDBT'16 topic, PAPERS.md:4): fixed pos/neg
    // token lists, per-doc score = (pos-neg)/n_tokens, averaged per
    // language. Pure higher-order functions — no explode, no UDF.
    "q_text_sentiment" -> ((s, d) => {
      import s.implicits._
      val sent = t(s, d, "documents").select($"lang",
        ((expr("size(filter(split(text,' '), x -> x IN ('fast','small')))")
            .cast("double")
          - expr("size(filter(split(text,' '), x -> x IN ('slow','dup')))"))
          / size(split($"text", " "))).as("sent"))
      sent.groupBy($"lang").agg(round(avg($"sent"), 4).as("avg_sent"))
        .orderBy($"lang")
    }),

    "q_text_lang_stats" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").groupBy($"lang").agg(
          count(lit(1)).as("n_docs"),
          round(avg($"n_chars"), 2).as("avg_chars"),
          max($"n_chars").as("max_chars"),
          countDistinct($"source").as("n_sources"))
        .orderBy($"lang")
    }),

    // Inverted index — the other canonical MapReduce workload (SURVEY
    // §0.3): token → sorted posting list of doc_ids + document
    // frequency. One explode + distinct + one keyed agg; the posting
    // list is serialized (driver compare can't hash arrays). At
    // 100 TB posting lists for stopword-class tokens are the skew
    // risk — production shards them (token, bucket); here df is
    // bounded by the doc_id < 50 slice.
    "q_text_invindex" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").where($"doc_id" < 50)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .distinct()
        .groupBy($"token").agg(
          countDistinct($"doc_id").as("df"),
          expr("concat_ws(',', transform(sort_array(collect_set(doc_id))," +
            " x -> cast(x as string)))").as("postings"))
        .orderBy($"token")
    }),

    // Heavy-hitter vocabulary (θ = 1%) via sketch-then-verify: pass 1
    // runs the Misra-Gries mergeable sketch (k = 128, so k+1 > 1/θ and
    // the candidate set provably contains every θ-heavy word no matter
    // how rows are partitioned); pass 2 exactly recounts only the ≤ k
    // candidates (broadcast semi join) and applies the threshold. The
    // output is therefore EXACT — the sketch only bounds what pass 2
    // must count, which is what makes heavy-hitters tractable when the
    // key domain (a 100-TB corpus vocabulary) can't be fully grouped.
    "q_text_heavy" -> ((s, d) => {
      import s.implicits._
      val mg = udaf(new graft.functions.MisraGries(128))
      val toks = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("w"))
      val sketch = toks.agg(mg($"w").as("cands"), count(lit(1)).as("tot"))
      val cands = sketch.select(explode(split($"cands", "\u0001")).as("w"),
        $"tot")
      toks.join(broadcast(cands), Seq("w"))
        .groupBy($"w", $"tot").agg(count(lit(1)).as("n"))
        .where($"n" >= ceil($"tot" * 0.01))
        .select($"w", $"n")
        .orderBy($"w")
    }),

    // Zipf-law audit via the regression-aggregate family: fit
    // ln(freq) ~ ln(rank) per language over the token frequency table
    // (natural corpora slope ≈ -1; a synthetic or deduplicated corpus
    // shows it differently). regr_slope/regr_r2 are single-pass
    // partial-aggregable sums — the distributed least-squares shape.
    // Outputs floor-r4: the regression value itself is sums-of-
    // products whose summation order differs across engines by ulps.
    "q_text_zipf" -> ((s, d) => {
      import s.implicits._
      val cnt = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("tok"))
        .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"lang").orderBy($"n".desc, $"tok")
      cnt.withColumn("rank", row_number().over(w))
        .select($"lang", log($"rank".cast("double")).as("x"),
          log($"n".cast("double")).as("y"))
        .groupBy($"lang").agg(
          count(lit(1)).as("n_types"),
          (floor(expr("regr_slope(y, x)") * 1e4 + 0.5) / 1e4).as("slope"),
          (floor(expr("regr_r2(y, x)") * 1e4 + 0.5) / 1e4).as("r2"))
        .orderBy($"lang")
    }),

    // PMI collocation mining: which adjacent token pairs co-occur more
    // than their unigram frequencies predict — the classic statistic
    // for phrase/collocation extraction before tokenizer training.
    // PMI = ln(P(ab) / (P(a)·P(b))) over the corpus bigram stream;
    // pairs seen < 25 times are dropped (PMI is noise at low counts).
    // Three keyed aggs + two broadcast joins of the (small) unigram
    // table — at 100 TB the unigram model broadcasts and the bigram
    // scoring stays map-side, the same shape as q_text_charlm. Ranked
    // on floor-r4 PMI so a last-ulp ln() diff can't flip the cutoff.
    "q_text_pmi" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents").select($"doc_id",
        posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      val uni = tk.groupBy($"tok").agg(count(lit(1)).as("nu"))
      // every doc emits len-1 bigrams, so the bigram denominator is
      // n_total - n_docs — no third corpus pass needed
      val nTok = uni.agg(sum($"nu").as("n_total")).crossJoin(
          t(s, d, "documents").agg(count(lit(1)).as("n_docs")))
        .select($"n_total", ($"n_total" - $"n_docs").as("b_total"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val bi = tk.withColumn("nxt", lead($"tok", 1).over(w))
        .where($"nxt".isNotNull)
        .groupBy($"tok", $"nxt").agg(count(lit(1)).as("nb"))
        .where($"nb" >= 25)
      bi.join(broadcast(uni.withColumnRenamed("tok", "t1")
            .withColumnRenamed("nu", "nu1")), $"tok" === $"t1")
        .join(broadcast(uni.withColumnRenamed("tok", "t2")
            .withColumnRenamed("nu", "nu2")), $"nxt" === $"t2")
        .crossJoin(broadcast(nTok))
        .select($"tok", $"nxt", $"nb",
          (floor(log(($"nb" / $"b_total".cast("double")) /
            (($"nu1" / $"n_total".cast("double")) *
             ($"nu2" / $"n_total".cast("double")))) * 1e4 + 0.5) / 1e4)
            .as("pmi"))
        .orderBy($"pmi".desc, $"tok", $"nxt")
        .limit(20)
    }),

    // BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query-term
    // set — the search/retrieval scoring stage of a RAG pipeline.
    // The tf table is filtered to the query terms BEFORE any join, so
    // everything downstream of the corpus-wide doc-length pass is
    // query-sized; df and the scalar (N, avgdl) stats broadcast.
    // Within-document repetition audit (the published LLM-data
    // cleaning rule family: flag docs whose repeated-n-gram fraction
    // is high — loops, boilerplate, degenerate generations). Distinct
    // from the cross-document dedup family: this measures each doc
    // against ITSELF. rep = 1 − distinct_bigrams/total_bigrams per
    // doc; per-lang mean/max and a count of docs over the 0.1 flag
    // line. Bigrams come from one zip_with over the token array (no
    // join, no shuffle until the per-doc count) — at 100 TB this is a
    // map-side pass plus two keyed partial-aggregable aggregates.
    "q_text_repetition" -> ((s, d) => {
      import s.implicits._
      val per = t(s, d, "documents")
        .select($"doc_id", $"lang", split($"text", " ").as("ws"))
        .select($"doc_id", $"lang", explode(expr(
          "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("g"))
        .groupBy($"doc_id", $"lang")
        .agg((lit(1.0) - countDistinct($"g") * lit(1.0) / count(lit(1)))
          .as("rep"))
      per.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          (floor(avg($"rep") * 1e4 + 0.5) / 1e4).as("avg_rep"),
          (floor(max($"rep") * 1e4 + 0.5) / 1e4).as("max_rep"),
          count(when($"rep" > 0.1, 1)).as("n_flagged"))
        .orderBy($"lang")
    }),

    // Feature-hashing vectorizer (the hashing trick): tokens hash to
    // a fixed 256-bucket space via the repo's cross-engine md5-60bit
    // formula — the vectorizer that needs NO vocabulary pass, no
    // dictionary broadcast, and a fixed-width output schema at any
    // corpus size (the reason HashingTF exists next to CountVectorizer).
    // Reports the top-10 buckets by total term frequency with their
    // distinct-term (collision) counts — the audit that sizes 2^k
    // against the vocabulary. One map-side hash + one keyed count.
    "q_text_hashtf" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(split($"text", " ")).as("term"))
        .select((Tables.h60($"term") % 256).as("bucket"), $"term")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("tf"),
          countDistinct($"term").as("n_terms"))
        .orderBy($"tf".desc, $"bucket")
        .limit(10)
    }),

    // INVERTED-INDEX BUILD/SERVE SPLIT — the lexical twin of
    // q_sim_ann_serve's composition row: q_text_bm25/q_text_invindex
    // recompute their index inside the query; a real search stack
    // builds ONCE and serves many queries. [[bm25Index]] persists the
    // postings as a managed table BUCKETED BY term with idf and the
    // doc-length normalizer DENORMALIZED onto each posting row
    // (impact-style postings), so the serve path is JOIN-FREE: one
    // bucket-pruned scan of the query terms' postings (the IN filter
    // both prunes buckets — SelectedBucketsCount in the plan — and
    // pushes to parquet), per-row score arithmetic, one keyed
    // aggregate, top-20. Per-term contributions round to integer
    // MICRO-nats before the per-doc sum (the q_sim_hybrid move:
    // order-free BIGINT, a plain double sum could flip a rank
    // cross-engine). At 10^9 docs: queries never touch the corpus —
    // only their terms' posting buckets; build cost is paid once at
    // write. PlanShapeSpec pins the join-free bucket-pruned plan;
    // OpsSpec pins score parity with q_text_bm25 on the same terms.
    "q_text_bm25_serve" -> ((s, d) => {
      import s.implicits._
      bm25Index(s, d)
        .where($"term".isin("fast", "small", "data"))
        .select($"doc_id",
          round($"idf" * $"tf" * 2.2
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"norm"))
            * 1e6).cast("long").as("c_micro"))
        .groupBy($"doc_id").agg(sum($"c_micro").as("sc"))
        .select($"doc_id",
          (floor($"sc" / 1e6 * 1e4 + 0.5) / 1e4).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    }),

    // INCREMENTAL POSTINGS MAINTENANCE — the nightly index-refresh
    // shape next to q_dedup_incremental's batch dedup: a persisted
    // BASE postings table ([[bm25BasePostings]]: raw (term, doc, tf)
    // rows for the corpus MINUS the incoming batch, built once) is
    // merged with the new batch's postings (tokenize the BATCH only),
    // and the global statistics are REFRESHED from the merged postings
    // — df per term = posting count, doc length = Σ tf per doc (every
    // occurrence lands in exactly one term's tf), avgdl/n from the
    // refreshed lengths — then served with q_text_bm25_serve's exact
    // micro-nat algebra. Why this beats a rebuild at 100 TB: the
    // rebuild's dominant cost is re-TOKENIZING the full corpus text;
    // the refresh tokenizes only the batch and pays keyed aggregates
    // over the (much smaller) postings for the stat refresh — the
    // standard Lucene-segment/serving-index economics. Correctness is
    // the equality-to-full-rebuild law made literal: base ∪ batch =
    // exactly the full corpus postings (disjoint doc sets), refreshed
    // stats = full stats, so the oracle IS the from-scratch
    // recomputation, and OpsSpec additionally pins merged-serve ≡
    // q_text_bm25_serve row-for-row.
    "q_text_bm25_incr" -> ((s, d) => {
      import s.implicits._
      val batch = t(s, d, "documents").where($"doc_id" % 5 === 0)
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      // Referenced three times below (lengths, query-term filter via
      // tf, df via tf) — materialize the merge once.
      val merged = bm25BasePostings(s, d).unionByName(batch)
        .transform(Tables.ck)
      val dl = merged.groupBy($"doc_id").agg(sum($"tf").as("len"))
      val stats = dl.agg(count(lit(1)).as("n"), avg($"len" * 1.0).as("avgdl"))
      val tf = merged.where($"term".isin("fast", "small", "data"))
      val dfp = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfp), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select($"doc_id",
          round(log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
            * $"tf" * 2.2
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"len" / $"avgdl"))
            * 1e6).cast("long").as("c_micro"))
        .groupBy($"doc_id").agg(sum($"c_micro").as("sc"))
        .select($"doc_id",
          (floor($"sc" / 1e6 * 1e4 + 0.5) / 1e4).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    }),

    "q_text_bm25" -> ((s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      // Doc lengths map-side (size(split) ≡ exploded row count): the
      // explode+groupBy form re-tokenized the corpus a second time
      // just to count rows per doc — the q_sim_hybrid move.
      val dl = t(s, d, "documents").select($"doc_id",
        size(split($"text", " ")).cast("long").as("len"))
      val stats = dl.agg(count(lit(1)).as("n"),
        avg($"len" * 1.0).as("avgdl"))
      val tf = tok.where($"term".isin("fast", "small", "data"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfp = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfp), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy($"doc_id")
        .agg(sum(log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
          * $"tf" * 2.2
          / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"len" / $"avgdl")))
          .as("score"))
        .select($"doc_id", (floor($"score" * 1e4 + 0.5) / 1e4).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    }),

    // Vocabulary-coverage curve point: the fraction of all token
    // occurrences covered by each language's top-10 vocabulary — the
    // measurement behind tokenizer vocab-size decisions (head coverage
    // vs tail). Rank window over the count table (vocabulary-sized,
    // not corpus-sized) + one keyed agg.
    "q_text_coverage" -> ((s, d) => {
      import s.implicits._
      val cnt = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("token"))
        .groupBy($"lang", $"token").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"lang").orderBy($"c".desc, $"token")
      cnt.withColumn("rn", row_number().over(w))
        .groupBy($"lang").agg(
          sum($"c").as("total"),
          sum(when($"rn" <= 10, $"c").otherwise(0L)).as("top10"))
        .select($"lang", $"total".as("n_tokens"),
          (floor($"top10" * 1.0 / $"total" * 1e4 + 0.5) / 1e4)
            .as("coverage_top10"))
        .orderBy($"lang")
    }),

    // Shannon entropy of each language's token distribution — the
    // corpus-diversity metric a data-mixing pipeline tracks (a
    // near-duplicated crawl slice shows as an entropy drop). Two
    // partial-aggregable passes: token counts, then -Σ p·ln(p) per
    // lang; the per-lang totals join is on the 5-key lang column.
    "q_text_entropy" -> ((s, d) => {
      import s.implicits._
      val cnt = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("token"))
        .groupBy($"lang", $"token").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy($"lang").agg(sum($"c").as("t"))
      cnt.join(tot, "lang")
        .groupBy($"lang", $"t")
        .agg(count(lit(1)).as("n_distinct"),
          (floor(-sum(($"c" / $"t".cast("double"))
            * log($"c" / $"t".cast("double"))) * 1e4 + 0.5) / 1e4)
            .as("entropy"))
        .select($"lang", $"t".as("n_tokens"), $"n_distinct", $"entropy")
        .orderBy($"lang")
    }),

    // One BPE merge iteration — the tokenizer-training primitive: count
    // within-word adjacent character pairs weighted by word frequency,
    // emit the top-10 merge candidates per language. Collapsing to the
    // (lang, word) vocabulary FIRST is what makes this scale: pair
    // extraction runs over distinct words (bounded by vocabulary size,
    // ~Heaps' law), not over every token occurrence in the corpus, and
    // both aggregations are partial-aggregable hash-aggs.
    "q_text_bpe" -> ((s, d) => {
      import s.implicits._
      val words = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where(length($"word") >= 2)
        .groupBy($"lang", $"word").agg(count(lit(1)).as("wc"))
      val pairs = words
        .select($"lang", $"wc", explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy($"lang", $"pair").agg(sum($"wc").as("n"))
      val w = Window.partitionBy($"lang").orderBy($"n".desc, $"pair")
      pairs.withColumn("rn", row_number().over(w)).where($"rn" <= 10)
        .select($"lang", $"pair", $"n")
        .orderBy($"lang", $"n".desc, $"pair")
    }),

    // C4-STYLE BOILERPLATE REMOVAL — the cross-document repeated-span
    // scrub (C4 drops any ≥3-sentence line seen ≥3× in the corpus;
    // RefinedWeb/Gopher run the same pass on nav/footer lines): each
    // doc splits into non-overlapping 3-token chunks, a chunk TEXT
    // occurring in ≥ 3 DISTINCT docs is boilerplate, and every doc is
    // REASSEMBLED from its surviving chunks in order — the output is
    // the cleaned corpus plus per-doc drop accounting, not just a
    // report. Chunking is a zero-shuffle per-row generator
    // (posexplode of a slice-transform — the ordinal IS the chunk
    // id); the corpus-frequency pass is one partial-aggregable keyed
    // agg on the chunk KEY; the mark join is keyed the same way; and
    // reassembly sorts only WITHIN each doc (collect_list bounded by
    // doc length, array_sort on (cid, chunk) structs — never a global
    // or per-partition order dependence). Both chunk-keyed shuffles
    // carry an 8-byte xxhash64 of the chunk (the q_dedup_ngram move),
    // not the chunk text: the frequency agg ships only (key, doc_id),
    // and the mark join ships the text strictly as PAYLOAD (reassembly
    // needs it) while hashing its key. Collision note: a cross-chunk
    // xxhash64 collision could only over-mark a chunk as boilerplate
    // (merging two chunks' doc counts) — ~2^-64 per pair, negligible
    // at any corpus size — and the DuckDB oracle keys on the RAW chunk
    // text, so the fixture differential also guards the hashed path.
    "q_text_boilerplate" -> ((s, d) => {
      import s.implicits._
      val ch = t(s, d, "documents")
        .withColumn("w", split($"text", " "))
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, cast(ceil(size(w) / 3.0) as int) - 1), " +
            "i -> array_join(slice(w, i * 3 + 1, 3), ' '))"))
          .as(Seq("cid", "chunk")))
        .withColumn("ck", xxhash64($"chunk"))
      val bp = ch.groupBy($"ck")
        .agg(countDistinct($"doc_id").as("nd"))
        .where($"nd" >= 3).select($"ck", lit(1).as("hit"))
      ch.join(bp, Seq("ck"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN hit IS NULL " +
              "THEN struct(cid, chunk) END)), x -> x.chunk)"), " ")
            .as("clean_text"))
        .orderBy($"doc_id")
    }),

    // Exact dedup on (lang, source) keeping min doc_id — window
    // row_number, NOT dropDuplicates (nondeterministic survivor).
    "q_dedup_exact" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang", $"source").orderBy($"doc_id")
      t(s, d, "documents").select($"doc_id", $"lang", $"source")
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    }),

    // MinHash + LSH near-dup: shingle → signature → band buckets →
    // candidate pairs via bucket join → exact-Jaccard verify ≥ 0.6.
    // Sets are 3-token shingles, not unigrams: on a small shared
    // vocabulary, unigram Jaccard marks 75% of same-language pairs as
    // "near-dups" (measured at sf0.01), which makes LSH prune nothing;
    // shingles keep only genuinely duplicated passages. The verified
    // output is exact, so the oracle brute-forces shingle Jaccard
    // within (lang) blocks and must match row-for-row.
    "q_dedup_minhash" -> ((s, d) => {
      import s.implicits._
      minhashPairsDf(s, d).orderBy($"doc_a", $"doc_b")
    }),

    // LSH S-CURVE CALIBRATION TABLE — the tuning artifact a dedup
    // deployment publishes before touching the (bands, rows) dial
    // (Leskovec/Rajaraman/Ullman ch.3 S-curve; the parameterization
    // FineWeb/SlimPajama-style pipelines sweep): over every same-lang
    // doc pair sharing ≥ 1 shingle (the inverted-index sparse join —
    // keyed on (lang, shingle-hash), never all-pairs; heavy-hitter
    // shingles are this row's hot-bucket analog of the banded
    // family's BucketCap), bin the EXACT shingle Jaccard into
    // deciles and report, per bin: pair count, mean Jaccard, and the
    // predicted detection probability 1 − (1 − s^r)^b at the SAME
    // 16-hash budget for r=1/b=16 (the shipped config), r=2/b=8,
    // r=4/b=4 — what tightening rows costs in low-s recall vs buys
    // in candidate precision (measured sf0.01: the 0-bin holds ~all
    // mass at det_r1 ≈ its mean-s tail while det_r4 crushes it
    // ~0, and every bin ≥ 0.6 predicts ≈ 1 at r=1 — the recall
    // claim q_dedup_minhash's NumBands scaladoc makes, now a table).
    // Cross-engine numeric discipline: Jaccard rounds to integer
    // micro-units FIRST (mj), bins are integer division on mj, the
    // powers are explicit squaring chains ((x²)²)² — never pow(),
    // whose libm rounding differs across engines — and per-pair
    // predictions round to micro-units BEFORE the per-bin sum, so
    // every cross-engine aggregate is an exact integer sum. The
    // EMPIRICAL detection rate (engine minhash signatures) is
    // deliberately not a column — band hashes aren't reproducible in
    // the oracle's SQL dialect — it is spec-verified instead
    // (OpsSpec: driver recount + sig-based empirical-vs-predicted).
    "q_dedup_lsh_curve" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents")
        .select($"doc_id", $"lang", split($"text", " ").as("w"))
        .where(size($"w") >= 3)
        .select($"doc_id", $"lang",
          array_distinct(expr("shingle_hash(w, 3)")).as("tok"))
      // Each inv row carries its doc's shingle count: nt is
      // functionally dependent on doc_id, so max(nt) per pair IS the
      // doc's size — the two former |docs|-row `sizes` joins each
      // replayed the tokenize+shingle pass to build their broadcast
      // side; folding nt into the pair join (+8 bytes/row on an
      // exchange the join pays anyway) leaves tk with ONE consumer
      // whose self-join sides share a ReusedExchange.
      val inv = tk.select($"doc_id", $"lang",
        size($"tok").cast("long").as("nt"), explode($"tok").as("h"))
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.lang") === col("b.lang") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("common"),
          max(col("a.nt")).as("na"), max(col("b.nt")).as("nb"))
      pairs
        .withColumn("mj", floor($"common".cast("double")
          / ($"na" + $"nb" - $"common").cast("double") * 1e6 + 0.5)
          .cast("long"))
        .withColumn("s6", $"mj".cast("double") / 1e6)
        .withColumn("x", lit(1.0) - $"s6")
        .withColumn("x2", $"x" * $"x")
        .withColumn("x4", $"x2" * $"x2")
        .withColumn("x8", $"x4" * $"x4")
        .withColumn("x16", $"x8" * $"x8")
        .withColumn("y", lit(1.0) - $"s6" * $"s6")
        .withColumn("y2", $"y" * $"y")
        .withColumn("y4", $"y2" * $"y2")
        .withColumn("y8", $"y4" * $"y4")
        .withColumn("z", lit(1.0) - ($"s6" * $"s6") * ($"s6" * $"s6"))
        .withColumn("z2", $"z" * $"z")
        .withColumn("z4", $"z2" * $"z2")
        .withColumn("p1",
          floor((lit(1.0) - $"x16") * 1e6 + 0.5).cast("long"))
        .withColumn("p2",
          floor((lit(1.0) - $"y8") * 1e6 + 0.5).cast("long"))
        .withColumn("p4",
          floor((lit(1.0) - $"z4") * 1e6 + 0.5).cast("long"))
        .groupBy(floor($"mj" / 100000.0).cast("long").as("jacc_bin"))
        .agg(count(lit(1)).as("n_pairs"),
          sum($"mj").as("smj"), sum($"p1").as("sp1"),
          sum($"p2").as("sp2"), sum($"p4").as("sp4"))
        .select($"jacc_bin", $"n_pairs",
          (floor($"smj".cast("double") / $"n_pairs" + 0.5) / 1e6)
            .as("mean_jaccard"),
          (floor($"sp1".cast("double") / $"n_pairs" + 0.5) / 1e6)
            .as("det_r1_b16"),
          (floor($"sp2".cast("double") / $"n_pairs" + 0.5) / 1e6)
            .as("det_r2_b8"),
          (floor($"sp4".cast("double") / $"n_pairs" + 0.5) / 1e6)
            .as("det_r4_b4"))
        .orderBy($"jacc_bin")
    }),

    // END-TO-END FUZZY DEDUP — the composition every production corpus
    // dedup terminates in (SlimPajama / RefinedWeb shape): the
    // VERIFIED near-dup pair graph (the exact q_dedup_minhash output,
    // shared memo) collapsed to connected components, keep-lowest-id
    // survivor per cluster, per-cluster size census. Pairs alone don't
    // dedup a corpus: A~B and B~C must drop B AND C even when A~C
    // never verified — that transitive collapse is this row. The CC
    // engine is the SAME large-star/small-star kernel as q_graph_cc
    // ([[GraphOps.ccStar]]: O(log |V|) rounds, linear edges, no
    // broadcast requirement — converged labels are provably the
    // component minima, so the survivor IS the label); unlike
    // q_dedup_cluster's label-blocked union-find, minhash components
    // can span language-internal blocks of unbounded size, which is
    // exactly the unblocked-CC regime ccStar exists for. At 100 TB:
    // the pair graph is near-dup-sized (≪ corpus), each star round is
    // one keyed agg + one same-key join, and the census is one keyed
    // count. Output: one row per multi-member cluster — survivor
    // (= min doc_id), member count, dropped count.
    "q_dedup_minhash_cluster" -> ((s, d) => {
      import s.implicits._
      minhashCcLabels(s, d)
        .groupBy($"lab").agg(count(lit(1)).as("n_members"))
        .select($"lab".as("survivor"), $"n_members",
          ($"n_members" - 1).as("n_dropped"))
        .orderBy($"survivor")
    }),

    // POST-DEDUP CORPUS MATERIALIZATION AUDIT — the actual output an
    // ingest pipeline writes after q_dedup_minhash_cluster names the
    // survivors (r14 verdict missing #3): drop every non-survivor
    // cluster member from `documents` (untouched singletons keep
    // themselves — they never enter the pair graph, so absence from
    // the labeling means KEEP), and census per language what the cut
    // cost — kept/dropped documents and kept/dropped whitespace-token
    // mass, the number a pretraining-mix owner reads before signing
    // off the dedup. One keyed left join of the corpus against the
    // shared component labeling ([[minhashCcLabels]] — the same memo
    // the cluster row censuses, so survivor semantics can't drift)
    // plus one partial-aggregable per-lang census; at 100 TB the
    // dropped set is near-dup-sized (≪ corpus) and broadcastable,
    // and the corpus-side scan touches (doc_id, lang, token count)
    // only. Oracle composes the cluster row's exact closure with the
    // same LEFT JOIN census.
    "q_dedup_apply" -> ((s, d) => {
      import s.implicits._
      val dropped = minhashCcLabels(s, d)
        .where($"node" =!= $"lab")
        .select($"node".as("doc_id"), lit(1).as("dr"))
      t(s, d, "documents")
        .select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("ntok"))
        .join(broadcast(dropped), Seq("doc_id"), "left")
        .groupBy($"lang").agg(
          sum(when($"dr".isNull, 1L).otherwise(0L)).as("kept_docs"),
          sum(when($"dr".isNotNull, 1L).otherwise(0L)).as("dropped_docs"),
          sum(when($"dr".isNull, $"ntok").otherwise(0L)).as("kept_tokens"),
          sum(when($"dr".isNotNull, $"ntok").otherwise(0L))
            .as("dropped_tokens"))
        .orderBy($"lang")
    }),

    // INCREMENTAL near-dup dedup — the production shape corpus-level
    // self-dedup (q_dedup_minhash) never exercises: an incoming batch
    // (doc_id ≡ 0 mod 3, ~1/3 of the corpus — stand-in for "today's
    // crawl") is LSH-probed against the EXISTING corpus (the other
    // 2/3), and each new doc with a verified shingle-Jaccard ≥ 0.6
    // match in the corpus is dropped before ingest. Per language:
    // batch size, dropped, kept. The asymmetry is the point — the
    // corpus side's band index is what a deployment keeps
    // MATERIALIZED between batches, so a batch costs
    // O(|batch| signatures + probe join), never a corpus re-pairing;
    // candidates still come only from shared band buckets with the
    // q_dedup_minhash hot-bucket cap on the corpus side, and
    // verification touches candidates only. Batch docs with < 3
    // tokens cannot match (no shingles) and are kept — identical
    // semantics in the oracle, which brute-forces the batch⋈corpus
    // Jaccard within language blocks.
    "q_dedup_incremental" -> ((s, d) => incrementalDedup(s, d, BucketCap)),

    // EXACT set-containment near-dup join via PREFIX FILTERING
    // (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity Search",
    // WWW 2007 — the AllPairs family, re-expressed on DataFrames) —
    // the asymmetric measure MinHash-LSH is structurally bad at: a
    // short doc pasted inside a long one has containment
    // |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so its band-collision
    // probability vanishes exactly when the signal is strongest.
    // Prefix filtering is EXACT, not probabilistic: if the smaller
    // doc's ⌊(1−t)·|A|⌋+1 RAREST shingles all miss B, the remaining
    // ones number < t·|A|, so containment < t — no candidate is ever
    // lost (the bound holds for ANY prefix of that size; ranking by
    // ascending document frequency is purely the optimization that
    // makes prefix postings short). Candidates come only from
    // (lang, rare-shingle) postings matches, the verify touches
    // candidates only, and every join/agg is keyed — at 100 TB the
    // known residual is a hot shingle whose full postings list is
    // long; prefixes reference it only from docs where it ranks among
    // the rarest fifth, and the production extensions (positional +
    // length filters, PPJoin) are the published answer. Output: one
    // row per pair at containment ≥ 0.8, oriented contained → container
    // (C(small→large) ≥ C(large→small), so this is the max-containment
    // direction; ties orient by doc_id).
    "q_dedup_containment" -> ((s, d) => containmentPairs(s, d)),

    // Skip-gram co-occurrence extraction: unordered token pairs within
    // a ±3-position window, the pair-counting pass that feeds word2vec
    // /GloVe-style embedding training (q_text_pmi is the ADJACENT-only
    // collocation statistic; this is the windowed context matrix).
    // The positional self-join keys on doc_id with a band residual on
    // position, so each doc joins only against itself and the fan-out
    // is ≤ window-size per token — fully partition-parallel at 100 TB,
    // with the top-k cut the only global step.
    "q_text_cooccur" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents").select($"doc_id",
        posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      val a = tk.toDF("doc_a", "pa", "ta")
      val b = tk.toDF("doc_b", "pb", "tb")
      a.join(b, $"doc_a" === $"doc_b" &&
          $"pb" >= $"pa" + 1 && $"pb" <= $"pa" + 3)
        .select(least($"ta", $"tb").as("w1"), greatest($"ta", $"tb").as("w2"))
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w1", $"w2")
        .limit(30)
    }),

    // BPE MERGE TRAINING (Sennrich et al., ACL 2016) — the actual
    // iterative tokenizer-training loop, not just q_text_bpe's
    // first-round pair census: 12 rounds of (count adjacent symbol
    // pairs weighted by word frequency → pick the most frequent pair,
    // ties to the lexicographically smallest → merge every
    // greedy-leftmost occurrence corpus-wide), emitting the learned
    // merge table (round, pair_a, pair_b, n) — the artifact a
    // tokenizer ships. ONE lazy plan, zero per-round driver actions
    // (the q_graph_kcore move): each round's winning pair is a 1-row
    // broadcast that the merge step left-joins in. The merge itself
    // is DECLARATIVE: symbols live in a '||'-joined string bounded by
    // '||', so replacing '|a||b|' with '|ab|' consumes one bar from
    // each double boundary and leaves one for the neighbor — plain
    // left-to-right non-overlapping replace() IS greedy-leftmost BPE
    // merging ('aaa' + (a,a) → 'aa','a' — verified equivalent to the
    // reference fold, and the differential would catch any engine
    // replace() divergence). At 100 TB the pair census is a keyed
    // partial-aggregable agg over the distinct-WORD table (vocabulary
    // scale, not corpus scale — the standard BPE trick) and the merge
    // is a map-side string op; rounds scale the plan linearly —
    // the per-round lazy localCheckpoint makes that LITERAL (without
    // it the unroll re-derives the census up to 2^rounds times).
    "q_text_bpetrain" -> ((s, d) => bpeTrain(s, d, 12)),

    // BPE TOKENIZER APPLICATION — the inference half of q_text_bpetrain:
    // the final per-word symbol table (the artifact a trained tokenizer
    // serializes) applied corpus-wide, emitting the top-30 learned-
    // vocabulary usage census (symbol, frequency-weighted count). The
    // production shape is one broadcast join of text words against the
    // vocabulary-scale symbol table — map-side tokenization, no
    // shuffle beyond the census agg; here the apply rides the training
    // loop's checkpointed final table directly. OpsSpec law: the census
    // conserves total character mass (every input char lands in exactly
    // one emitted symbol), and symbols are exactly the chars plus the
    // learned merges.
    "q_text_bpeapply" -> ((s, d) => bpeApply(s, d, 12)),

    // FROZEN-TOKENIZER SERVE — the third build/serve split next to
    // q_sim_ann_serve and q_text_bm25_serve, for the artifact every
    // training pipeline actually freezes: the tokenizer. The trained
    // word→token-count vocabulary ([[bpeVocab]]: bpeCurDf's final
    // symbol table with the per-word count precomputed) is persisted
    // ONCE as a managed table; the declared query tokenizes an
    // incoming batch (doc_id < 300 — production swaps in the new
    // ingest slice) by joining the broadcast-sized frozen vocab, with
    // CHAR-FALLBACK for OOV words (len(word) tokens — the byte/char
    // fallback real BPE serving uses). Per lang: word/token/OOV
    // census + fertility. The serve plan performs ZERO training work
    // (no symstr machinery — PlanShapeSpec-pinned); at 100 TB the
    // batch is the only corpus-scale scan and the vocab broadcast is
    // vocabulary-sized.
    "q_text_bpe_serve" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").where($"doc_id" < 300)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where($"word" =!= "")
        .join(broadcast(bpeVocab(s, d)), Seq("word"), "left")
        .select($"lang",
          coalesce($"nsym", length($"word")).as("ntok"),
          $"nsym".isNull.cast("long").as("oov"))
        .groupBy($"lang").agg(
          count(lit(1)).as("n_words"),
          sum($"ntok").as("n_tokens"),
          sum($"oov").as("oov_words"),
          (floor(sum($"ntok") * 1.0 / count(lit(1)) * 1e4 + 0.5) / 1e4)
            .as("fertility"))
        .orderBy($"lang")
    }),

    // TOKENIZER FERTILITY per language — tokens-per-word under the
    // TRAINED BPE table, the standard tokenizer-fairness diagnostic
    // (a vocabulary fit on one language's merges over-fragments the
    // others; fertility is the number multilingual tokenizer papers
    // report per language). Composition row: the per-word symbol
    // count comes from the SAME trained table as q_text_bpeapply
    // (shared derived memo — one training pass feeds all three BPE
    // rows), broadcast back onto the (lang, word) stream — vocabulary-
    // scale broadcast, corpus-scale map side, one keyed agg.
    "q_text_fertility" -> ((s, d) => {
      import s.implicits._
      val wsym = bpeCurDf(s, d, 12)
        .select($"word",
          (size(split($"symstr", "\\|\\|")) - 2).as("nsym"))
      t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where(length($"word") >= 2)
        .join(broadcast(wsym), "word")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"), sum($"nsym").as("n_tokens"),
          (floor(sum($"nsym") / count(lit(1)) * 1e4 + 0.5) / 1e4)
            .as("fertility"))
        .orderBy($"lang")
    }),

    // UNIGRAM-LM TOKENIZER TRAINING (Kudo, ACL 2018 — the
    // SentencePiece unigram model, the second published tokenizer
    // family next to the BPE trilogy): seed vocabulary = all
    // substrings (len ≤ 4) of the vocabulary-collapsed word table
    // with frequency-derived costs, then 2 EM rounds of (E: VITERBI
    // segmentation of every word under the current piece costs — a
    // shortest-path DP over the word's position DAG, run LOCALLY per
    // word as one map-side expression, since words are independent
    // and length-bounded; piece-usage census from the argmin paths;
    // M: piece cost = −ln(usage share), integer micro-nats). Output:
    // the trained vocabulary's top-30 pieces by weighted usage with
    // their final costs — the artifact a unigram tokenizer ships.
    // Determinism: costs round to the micro-nat grid per piece BEFORE
    // any DP sum, so dp values are exact BIGINT and the tight-edge
    // test (dp[j] + cost = dp[i]) is exact equality; path ties break
    // to the smallest predecessor (longest piece), mirrored in the
    // oracle. At 100 TB everything runs on the DISTINCT-WORD table
    // (Heaps' law — the q_text_bpetrain trade): the corpus pays one
    // tokenize + word census; each EM round is two keyed shuffles
    // (per-word edge gather, piece census) with the piece-cost table
    // broadcast. See [[unigramLm]]; OpsSpec pins a full driver-side
    // EM recount, the char-mass conservation law, and the
    // word-length-≤-8 fixture bound (readable failure on
    // regeneration).
    "q_text_unigram_lm" -> ((s, d) => unigramLm(s, d, UlmEmRounds)),

    // FROZEN UNIGRAM-TOKENIZER SERVE — the FOURTH build/serve split
    // (ANN, BM25, BPE, and now the unigram LM): the final piece-cost
    // table of a training run over the corpus EXCLUDING the incoming
    // batch (doc_id ≥ 300 — the production timeline: the tokenizer
    // was frozen before today's data arrived) is persisted ONCE
    // ([[ulmVocab]]); the declared query tokenizes the batch
    // (doc_id < 300) under the frozen costs, with CHAR-FALLBACK for
    // words the frozen vocabulary cannot segment (a genuinely
    // possible OOV — unlike batch ⊂ training-corpus setups where
    // every word provably keeps its own training path). The serve
    // segmentation is FULLY MAP-SIDE: the vocabulary broadcasts as a
    // 1-row piece→cost MAP (the dictionary shape real tokenizer
    // serving uses), edges/DP/walk are per-word expressions, and the
    // only shuffles are the batch word census and the per-lang
    // rollup. Per lang: word/token/OOV census + fertility (the
    // q_text_bpe_serve columns, so the two frozen tokenizers are
    // directly comparable). The oracle RETRAINS the filtered chain —
    // frozen-vs-fresh drift fails the differential.
    "q_text_unigram_serve" -> ((s, d) => {
      import s.implicits._
      val bt = t(s, d, "documents").where($"doc_id" < 300)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where($"word" =!= "")
        .groupBy($"lang", $"word").agg(count(lit(1)).as("wc"))
      val vm = ulmVocab(s, d)
        .agg(map_from_entries(collect_list(struct($"piece", $"cm")))
          .as("vm"))
      bt.crossJoin(broadcast(vm))
        .withColumn("es", expr(UlmServeEdgesSql))
        .withColumn("dp", expr(UlmDpSql))
        .withColumn("reached",
          expr(s"element_at(dp, length(word) + 1) < ${UlmSentinel}L"))
        .select($"lang", $"wc",
          when($"reached", expr(s"size(($UlmWalkSql))"))
            .otherwise(length($"word")).as("ntok"),
          (!$"reached").cast("long").as("oov"))
        .groupBy($"lang").agg(
          sum($"wc").as("n_words"),
          sum($"wc" * $"ntok").as("n_tokens"),
          sum($"wc" * $"oov").as("oov_words"),
          (floor(sum($"wc" * $"ntok") * 1.0 / sum($"wc") * 1e4 + 0.5)
            / 1e4).as("fertility"))
        .orderBy($"lang")
    }),

    // HELD-OUT PERPLEXITY of the frozen unigram LM — the tokenizer/LM
    // quality number papers actually report, and a TRUE held-out eval
    // by construction: the vocabulary was trained on doc_id ≥ 300
    // ([[ulmVocab]]) and is evaluated on doc_id < 300, which the
    // training never saw. Per word the negative log-likelihood is the
    // Viterbi minimum (the standard Viterbi approximation to the
    // unigram marginal), already an exact micro-nat BIGINT from the
    // dp table; per lang: word/OOV census, token count, the EXACT
    // integer NLL total, and per-token perplexity
    // exp(nats/token) — the only floating step, last. OOV words are
    // excluded from the likelihood (reported in n_oov) — charging
    // them would need an explicit smoothing model; the census makes
    // the exclusion auditable. Same fully-map-side serve shape as
    // q_text_unigram_serve (broadcast dictionary, per-word
    // expressions, two shuffles).
    "q_text_unigram_ppl" -> ((s, d) => {
      import s.implicits._
      val bt = t(s, d, "documents").where($"doc_id" < 300)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where($"word" =!= "")
        .groupBy($"lang", $"word").agg(count(lit(1)).as("wc"))
      val vm = ulmVocab(s, d)
        .agg(map_from_entries(collect_list(struct($"piece", $"cm")))
          .as("vm"))
      bt.crossJoin(broadcast(vm))
        .withColumn("es", expr(UlmServeEdgesSql))
        .withColumn("dp", expr(UlmDpSql))
        .withColumn("nll", expr("element_at(dp, length(word) + 1)"))
        .withColumn("reached", $"nll" < UlmSentinel)
        .withColumn("ntok",
          when($"reached", expr(s"size(($UlmWalkSql))")).otherwise(lit(0)))
        .groupBy($"lang").agg(
          sum($"wc").as("n_words"),
          sum(when($"reached", lit(0L)).otherwise($"wc")).as("n_oov"),
          sum(when($"reached", $"wc" * $"ntok").otherwise(lit(0L)))
            .as("n_tokens"),
          sum(when($"reached", $"wc" * $"nll").otherwise(lit(0L)))
            .as("nll_micro"))
        .select($"lang", $"n_words", $"n_oov", $"n_tokens", $"nll_micro",
          (floor(exp($"nll_micro" / 1e6 / $"n_tokens") * 1e4 + 0.5) / 1e4)
            .as("ppl"))
        .orderBy($"lang")
    }),

    // TOKENIZER VOCABULARY DRIFT AUDIT — the retrain-decision number
    // (r14 verdict missing #5): with a frozen tokenizer artifact
    // persisted ([[ulmVocab]], trained corpus-MINUS-batch) and
    // today's data in hand, should you retrain? This row compares the
    // FROZEN vocabulary against a RETRAIN on corpus+batch
    // ([[ulmRetrainVocab]]) on the three axes that decide: symbol
    // overlap (how much of the vocabulary survives a retrain —
    // retraining invalidates every downstream artifact keyed on piece
    // ids), per-lang OOV delta on the batch (what the frozen vocab
    // cannot segment that a retrain could), and per-lang fertility
    // delta (tokens/word — the compression a retrain buys). Both
    // vocabularies serve the SAME batch through the identical
    // map-side dictionary path as q_text_unigram_serve; the overlap
    // legs are three 1-row scalars on the whitelisted tiny-broadcast
    // cross join. Self-drift is zero by construction (the OpsSpec
    // law: frozen-vs-frozen yields delta 0 and overlap = |vocab|).
    // At 100 TB: two vocabulary-scale broadcasts over one batch scan
    // + the keyed 5-row census join — the retrain leg's EM is the
    // only training-scale work, which is exactly the cost the audit
    // exists to decide on.
    "q_text_vocab_drift" -> ((s, d) =>
      vocabDrift(s, d, ulmVocab(s, d), ulmRetrainVocab(s, d))),

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023, NeurIPS, arXiv:2302.03169), the published answer to "pick
    // the raw-web documents that look most like a trusted target
    // corpus": hashed uni+bigram bag-of-ngrams models for the target
    // (source = src0, the trusted-domain stand-in) and the raw pool,
    // per-doc importance weight log p(feat)/q(feat), then GUMBEL
    // TOP-K resampling of the raw pool. Every piece is deterministic
    // and cross-engine exact: features hash through the salted h60
    // (DuckDB rebuilds them bit-identically), per-bucket log-ratios
    // and Gumbel perturbations round to integer MICRO-nats before any
    // sum (the q_pipe_temperature integer-gate move — exact
    // order-independent BIGINT arithmetic, no float-summation drift),
    // and the Gumbel noise is the hash of the doc id, not a PRNG.
    "q_text_dsir" -> ((s, d) => dsirSelect(s, d)),

    // FASTTEXT-SHAPED QUALITY-CLASSIFIER INFERENCE — the single most
    // common production curation op (CCNet/LLaMA-style "keep what a
    // linear classifier scores wiki-like"): hashed word+bigram
    // features (the hashing trick, B = 4096 buckets — NO vocabulary
    // pass, fixed-width model at any corpus size), a bucket→weight
    // MODEL TABLE broadcast to a map-side join, mean-pooled logit per
    // doc (fastText's pooling), sigmoid score, per-lang keep/drop
    // audit at the 0.5 gate. Weights here derive deterministically
    // from the bucket id (a Knuth-hash ramp in [-1, 1]) so the oracle
    // can regenerate the identical model — swapping in real learned
    // weights changes ONE table, nothing in the plan. At 100 TB:
    // tokenize+hash is the scan, the model is 4096 rows broadcast,
    // the only shuffle is the per-doc logit rollup — map-side partial
    // aggregation carries (sum, count) per doc.
    "q_text_classify" -> ((s, d) => {
      import s.implicits._
      classifyScored(s, d).groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"score" >= 0.5, 1L).otherwise(0L)).as("n_keep"),
          (floor(avg($"score") * 1e4 + 0.5) / 1e4).as("avg_score"),
          (floor(min($"score") * 1e4 + 0.5) / 1e4).as("min_score"))
        .orderBy($"lang")
    }),
  )

  /** Per-doc classifier score table (doc_id, lang, score) —
    * q_text_classify's inference body, extracted so the evaluation
    * rows (q_pipe_auc / q_pipe_calibration / q_pipe_ndcg in PipeOps)
    * compose over the SAME scored table the keep/drop audit reads.
    * Score = sigmoid of the mean-pooled hashed-ngram logit, floored
    * to the 1e-6 grid (cross-engine exact — see the q_text_classify
    * entry for the model/hash details). MEMOIZED + checkpointed
    * (Tables.derived): four declared rows consume it (classify + the
    * three q_pipe_ evaluation rows), and the scored table is tiny
    * (one row per doc) while the tokenize+hash scan behind it is the
    * whole cost — the q_text_charlm memo trade. A `Runner.sweep`
    * keeps it alive across the three q_pipe_ rows; q_text_classify,
    * in another family, builds its own. */
  private[graft] def classifyScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "classify_scored") {
      classifyScoredPlan(s, d).transform(Tables.ck)
    }

  /** q_text_bm25_serve's persisted postings index: one row per
    * (term, doc) with tf, the term's idf, and the doc's length
    * normalizer len/avgdl DENORMALIZED on (computed once at build —
    * exactly the denormalize-at-write trade q_scan_nested makes for
    * documents), written ONCE per (warehouse, dir) as a managed
    * table BUCKETED BY term. Bucketing is the inverted-index layout:
    * a query's terms hash to a few buckets, so the serve scan reads
    * only those buckets' files and never shuffles postings. Doubles
    * (idf, norm) round-trip parquet exactly; the oracle recomputes
    * them from the raw corpus with operation-identical algebra, so
    * index-vs-fresh drift fails the differential. avgdl is exact
    * cross-engine: doc lengths are integers, so the double sum
    * behind AVG is order-independent below 2^53. */
  private[graft] def bm25Index(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_bm25_idx_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      val tok = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      // Doc lengths map-side — the q_sim_hybrid move (this is the
      // one-time index build, but the saved corpus re-tokenize is
      // free here too).
      val dl = t(s, d, "documents").select($"doc_id",
        size(split($"text", " ")).cast("long").as("len"))
      val stats = dl.agg(count(lit(1)).as("n"),
        avg($"len" * 1.0).as("avgdl"))
      val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfp = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfp), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select($"term", $"doc_id", $"tf",
          log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0).as("idf"),
          ($"len" / $"avgdl").as("norm"))
        .write.bucketBy(8, "term").mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** Max piece length of the unigram-LM seed vocabulary. */
  private[graft] val UlmPieceLen = 4

  /** Viterbi unroll depth = max word length the DP reaches. The
    * fixture's longest word is 8 chars on every SF; a regenerated
    * longer word would leave its end position unreached (the word
    * silently vanishing from the census), so OpsSpec asserts the
    * bound with a readable failure — the butterfly-cap pattern. */
  private[graft] val UlmMaxWordLen = 8

  /** EM rounds for q_text_unigram_lm — fixed so the oracle's
    * generated CTE chain unrolls the identical computation. */
  private[graft] val UlmEmRounds = 2

  /** q_text_unigram_lm body — see the queries-map entry for the
    * algorithm. `rounds` parameterized for the spec's driver recount.
    *
    * Checkpoint discipline (the bpetrain lesson): the word table, the
    * edge table, each DP round, and each census are lazily
    * checkpointed — every DP round reads the previous round twice
    * (relax join + carry-over union) and the backtrack re-reads the
    * converged dp on both endpoints, so an unchecked unroll doubles
    * per stage. Zero driver actions in the whole loop. */
  private[graft] def unigramLm(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (usage, cost) = unigramTrain(s, d, rounds, 0L)
    usage.join(broadcast(cost), Seq("piece"))
      .select($"piece", $"usage", $"cm".as("cost_micro"))
      .orderBy($"usage".desc, $"piece")
      .limit(30)
  }

  /** The unigram-LM training loop, returning the final (usage, cost)
    * pair. `minDoc` restricts the TRAINING corpus to doc_id ≥ minDoc
    * (0 = everything): q_text_unigram_lm trains on the full corpus;
    * q_text_unigram_serve's frozen artifact trains on the corpus
    * MINUS the incoming batch — the production timeline (the
    * tokenizer was frozen before today's data arrived), and what
    * makes serve-side OOV a real possibility rather than a dead
    * branch. */
  private[graft] def unigramTrain(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int, minDoc: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val words = t(s, d, "documents").where($"doc_id" >= minDoc)
      .select(explode(split($"text", " ")).as("word"))
      .where($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .transform(Tables.ck)
    // Seed: every substring occurrence (len ≤ UlmPieceLen), weighted
    // by word frequency; cost = −ln(share) in integer micro-nats.
    val occ = words.select($"word", $"wc", explode(expr(
      s"flatten(transform(sequence(1, length(word)), i -> " +
        s"transform(sequence(1, least($UlmPieceLen, length(word) - i + 1)), " +
        s"l -> substring(word, i, l))))")).as("piece"))
    val seedTot = occ.agg(sum($"wc").as("tot"))
    var cost = occ.groupBy($"piece").agg(sum($"wc").as("n"))
      .crossJoin(broadcast(seedTot))
      .select($"piece", round(-log($"n" / $"tot") * 1e6).cast("long").as("cm"))
      .transform(Tables.ck)
    // Segmentation DAG, built once: edge (j → i) carries the piece
    // word[j+1 .. i] (1-based substring), i − j ≤ UlmPieceLen.
    val edges = words.select($"word", $"wc", explode(expr(
      s"flatten(transform(sequence(0, length(word) - 1), j -> " +
        s"transform(sequence(j + 1, least(j + $UlmPieceLen, length(word))), " +
        s"i -> struct(j AS j, i AS i, " +
        s"substring(word, j + 1, i - j) AS piece))))")).as("e"))
      .select($"word", $"wc", $"e.j".as("j"), $"e.i".as("i"),
        $"e.piece".as("piece"))
      .transform(Tables.ck)
    var usage: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to rounds) {
      // E-step. Words are INDEPENDENT and bounded ([[UlmMaxWordLen]]
      // chars), so each word's Viterbi DP + backtrack is LOCAL work:
      // gather the word's costed edges into one row (edges inner-join
      // the current vocabulary — a pruned piece's edges drop, but
      // every word's previous Viterbi path stays feasible since its
      // pieces all have usage ≥ wc > 0), then run the whole DP and
      // the argmin walk as ONE map-side expression. Per round that is
      // two keyed shuffles total (the per-word gather and the piece
      // census) — never a per-DP-round distributed step; the
      // shuffled-relaxation form (the q_graph_sssp kernel) is only
      // warranted when a single DP instance outgrows a task, which a
      // ≤ UlmMaxWordLen-char word never does. Measured 4.8 s → 1.3 s
      // at sf0.1 over the 16-shuffled-rounds-per-EM-round shape.
      val seg = edges.join(broadcast(cost), Seq("piece"))
        .groupBy($"word", $"wc")
        .agg(collect_list(struct($"j", $"i", $"cm", $"piece")).as("es"))
        .withColumn("dp", expr(UlmDpSql))
        .select($"wc", explode(expr(UlmWalkSql)).as("piece"))
      usage = seg.groupBy($"piece").agg(sum($"wc").as("usage"))
        .transform(Tables.ck)
      // M-step: refreshed costs, −ln(share) on the micro-nat grid.
      val tot = usage.agg(sum($"usage").as("tot"))
      cost = usage.crossJoin(broadcast(tot))
        .select($"piece",
          round(-log($"usage" / $"tot") * 1e6).cast("long").as("cm"))
        .transform(Tables.ck)
    }
    (usage, cost)
  }

  /** q_text_unigram_serve's frozen tokenizer artifact: the final
    * piece-cost table of a unigram training run over the corpus
    * EXCLUDING the serve batch (doc_id ≥ 300), persisted ONCE per
    * (warehouse, dir). */
  private[graft] def ulmVocab(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val name = "graft_ulm_vocab_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      unigramTrain(s, d, UlmEmRounds, 300L)._2
        .write.mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** q_text_vocab_drift's retrained-on-corpus+batch vocabulary: the
    * identical EM chain as [[ulmVocab]] with the doc filter open
    * (minDoc = 0 — today's batch included), memoized per (session,
    * dir). Deliberately NOT persisted as a table: the retrain is the
    * candidate the audit evaluates, not an artifact anything serves
    * from yet. */
  private def ulmRetrainVocab(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "ulm_vocab_retrain") {
      unigramTrain(s, d, UlmEmRounds, 0L)._2.transform(Tables.ck)
    }

  /** q_text_vocab_drift's comparison kernel over two piece-cost
    * vocabularies: serve the doc_id < 300 batch under each (the
    * q_text_unigram_serve map-side dictionary path, verbatim), join
    * the per-lang censuses, and append the vocabulary-level overlap
    * scalars. Extracted so the self-drift-is-zero law can run it
    * frozen-vs-frozen. */
  private[graft] def vocabDrift(s: org.apache.spark.sql.SparkSession,
      d: String, frozen: org.apache.spark.sql.DataFrame,
      retrain: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    def serveCensus(vocab: org.apache.spark.sql.DataFrame, tag: String) = {
      val bt = t(s, d, "documents").where($"doc_id" < 300)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .where($"word" =!= "")
        .groupBy($"lang", $"word").agg(count(lit(1)).as("wc"))
      val vm = vocab
        .agg(map_from_entries(collect_list(struct($"piece", $"cm")))
          .as("vm"))
      bt.crossJoin(broadcast(vm))
        .withColumn("es", expr(UlmServeEdgesSql))
        .withColumn("dp", expr(UlmDpSql))
        .withColumn("reached",
          expr(s"element_at(dp, length(word) + 1) < ${UlmSentinel}L"))
        .select($"lang", $"wc",
          when($"reached", expr(s"size(($UlmWalkSql))"))
            .otherwise(length($"word")).as("ntok"),
          (!$"reached").cast("long").as("oov"))
        .groupBy($"lang").agg(
          sum($"wc").as(s"n_words_$tag"),
          sum($"wc" * $"oov").as(s"oov_$tag"),
          (floor(sum($"wc" * $"ntok") * 1.0 / sum($"wc") * 1e4 + 0.5)
            / 1e4).as(s"fert_$tag"))
    }
    // Shared-piece COST drift in exact micro-nats — the axis that
    // moves even when membership and segmentations are stable (the
    // fixture's vocabulary is saturated: both trainings keep the
    // same piece set, so membership overlap alone would be a
    // permanently-degenerate output; the usage-share shift the batch
    // causes is the real, always-present signal).
    val shared = frozen.select($"piece", $"cm".as("cmf"))
      .join(retrain.select($"piece", $"cm".as("cmr")), "piece")
      .agg(count(lit(1)).as("shared_pieces"),
        max(abs($"cmf" - $"cmr")).as("max_cost_shift_micro"),
        sum(abs($"cmf" - $"cmr")).as("total_cost_shift_micro"))
    val nf = frozen.agg(count(lit(1)).as("frozen_pieces"))
    val nr = retrain.agg(count(lit(1)).as("retrain_pieces"))
    serveCensus(frozen, "frozen")
      .join(serveCensus(retrain, "retrain"), "lang")
      .crossJoin(broadcast(nf)).crossJoin(broadcast(nr))
      .crossJoin(broadcast(shared))
      .select($"lang", $"n_words_frozen".as("n_words"),
        $"oov_frozen", $"oov_retrain", $"fert_frozen", $"fert_retrain",
        (floor(($"fert_retrain" - $"fert_frozen") * 1e4 + 0.5) / 1e4)
          .as("fert_delta"),
        $"frozen_pieces", $"retrain_pieces", $"shared_pieces",
        $"max_cost_shift_micro", $"total_cost_shift_micro")
      .orderBy($"lang")
  }

  /** Unreachable-position sentinel for the expression-level DP: real
    * path costs stay ≤ ~10^9 micro-nats (≤ 8 edges × ≤ ~30 nats), so
    * reached ⟺ dp < sentinel, a sentinel path can never tie a real
    * one, and sentinel + cm cannot overflow. */
  private[graft] val UlmSentinel = 1000000000000000L

  /** The per-word Viterbi table as one expression: dp[p+1] = min cost
    * to reach position p (exact BIGINT — costs are micro-nat
    * integers), built left to right over the word's gathered edge
    * list `es`. Unreachable positions (possible after M-step pruning
    * strands a mid-piece position, or under a frozen vocabulary that
    * never saw the word) carry the [[UlmSentinel]]. */
  private val UlmDpSql: String = s"""
    aggregate(
      sequence(1, length(word)),
      array(cast(0 as bigint)),
      (dp, k) -> concat(dp, array(coalesce(
        array_min(transform(
          filter(es, e -> e.i = k),
          e -> element_at(dp, e.j + 1) + e.cm)),
        cast($UlmSentinel as bigint)))))"""

  /** q_text_unigram_serve's edge builder: the word's segmentation
    * edges COSTED BY MAP LOOKUP against the broadcast 1-row
    * piece→cost dictionary `vm` (pieces outside the frozen
    * vocabulary drop) — the fully map-side serve shape, no per-word
    * gather shuffle. */
  private val UlmServeEdgesSql: String = s"""
    filter(
      flatten(transform(sequence(0, length(word) - 1), j ->
        transform(sequence(j + 1, least(j + $UlmPieceLen, length(word))),
          i -> named_struct('j', j, 'i', i,
            'cm', element_at(vm, substring(word, j + 1, i - j)),
            'piece', substring(word, j + 1, i - j))))),
      e -> e.cm is not null)"""

  /** The argmin backtrack as one expression: from pos = len(word),
    * repeatedly take the TIGHT edge (dp[j] + cm = dp[i], exact BIGINT
    * equality) with the smallest predecessor j (= longest piece —
    * the deterministic tie-break the oracle mirrors), accumulating
    * pieces until position 0. The single-element transform binds the
    * chosen edge once (SQL lambdas have no let). */
  private val UlmWalkSql: String = """
    aggregate(
      sequence(1, length(word)),
      named_struct('pos', length(word),
                   'ps', cast(array() as array<string>)),
      (acc, k) -> if(acc.pos <= 0, acc,
        element_at(transform(
          array(element_at(array_sort(transform(
            filter(es, e -> e.i = acc.pos
              and element_at(dp, e.j + 1) + e.cm
                  = element_at(dp, acc.pos + 1)),
            e -> named_struct('j', e.j, 'piece', e.piece))), 1)),
          b -> named_struct('pos', b.j,
                            'ps', concat(acc.ps, array(b.piece)))), 1))
    ).ps"""

  /** q_text_bm25_incr's persisted BASE postings: raw (term, doc_id,
    * tf) rows for the corpus EXCLUDING the incoming batch (doc_id ≡ 0
    * mod 5 — stand-in for "tonight's ingest"), written ONCE per
    * (warehouse, dir). Deliberately RAW — no denormalized idf/norm
    * (those are the statistics an append invalidates; q_text_bm25_incr
    * refreshes them from the merged postings, which is the whole
    * point of the row). tf per (term, doc) is append-stable: a new
    * doc's rows never change an old doc's. */
  private[graft] def bm25BasePostings(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_bm25_base_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      t(s, d, "documents").where($"doc_id" % 5 =!= 0)
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  private def classifyScoredPlan(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val B = 4096
    // The weight "table" is a pure function of the bucket id
    // (wt = ((bucket·2654435761) mod 2001 − 1000)/1000), so it is
    // computed INLINE on each feature row — the same integer ops and
    // the same double division the former 4096-row broadcast-joined
    // range table evaluated, hence bit-identical wt per occurrence
    // (and the map-side summation order is unchanged: a broadcast
    // probe preserves streamed-side order). Drops the broadcast build
    // + per-occurrence hash probe from the hot scan; the oracle keeps
    // its textual range-table form.
    val feats = t(s, d, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
      .select($"doc_id", $"lang",
        explode(concat($"w", expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> concat(a, '_', b))"))).as("term"))
      .select($"doc_id", $"lang",
        (Tables.h60($"term") % B).as("bucket"))
    feats
      .select($"doc_id", $"lang",
        ((($"bucket" * 2654435761L) % 2001L - 1000L).cast("double")
          / 1000.0).as("wt"))
      .groupBy($"doc_id", $"lang")
      .agg((sum($"wt") / count(lit(1))).as("m"))
      .select($"doc_id", $"lang",
        (floor((lit(1.0) / (lit(1.0) + exp(-($"m" * 8.0 + 0.1))))
          * 1e6 + 0.5) / 1e6).as("score"))
  }

  /** DuckDB regeneration of [[classifyScored]] as a shared CTE prefix
    * (`w`/`feats`/`sc`; `sc` is the (doc_id, lang, score) table) —
    * the q_text_classify oracle and the q_pipe_{auc,calibration,ndcg}
    * oracles all read `sc`, so the model/hash/sigmoid algebra can
    * never drift between the inference row and its evaluation rows. */
  private[graft] val classifyScoredSql: String = """
      WITH w AS (
        SELECT i AS bucket,
               ((i * 2654435761 % 2001) - 1000) / 1000.0 AS wt
        FROM range(0, 4096) t(i)),
      feats AS (
        SELECT doc_id, lang,
               CAST('0x' || substring(md5(term), 1, 15) AS BIGINT)
                 % 4096 AS bucket
        FROM (
          SELECT doc_id, lang,
                 unnest(list_concat(ws,
                   list_transform(range(1, len(ws)),
                     i -> ws[i] || '_' || ws[i + 1]))) AS term
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
                FROM documents))),
      sc AS (
        SELECT doc_id, lang,
               FLOOR((1.0 / (1.0 + exp(-(SUM(wt) / count(*) * 8.0 + 0.1))))
                 * 1e6 + 0.5) / 1e6 AS score
        FROM feats JOIN w USING (bucket)
        GROUP BY doc_id, lang)"""

  /** The maximum docs a single LSH bucket may contribute to the pair
    * join. A band value shared by k docs produces k²/2 candidate
    * pairs — ONE boilerplate passage shared by a million documents
    * would otherwise materialize 5·10^11 pairs on one reducer. The cap
    * bounds every bucket's pair fan-out at Cap²/2; recall only drops
    * for pairs whose EVERY shared band is hot, which at b=16 r=1 means
    * 16 independent hot collisions. 1000 is far above any fixture
    * bucket (max observed: cluster-size ~tens), so the differential
    * output is unchanged — the cap's bite is asserted separately in
    * ShinglesSpec with cap=1. */
  private val BucketCap = 1000

  /** q_dedup_minhash body, parameterized by the hot-bucket cap so the
    * pruning mechanism itself is testable. */
  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String, bucketCap: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    minhashPairsRaw(s, d, bucketCap).orderBy($"doc_a", $"doc_b")
  }

  /** The verified near-dup pair graph at the production cap, memoized
    * + materialized per (session, dir): q_dedup_minhash emits it
    * ordered, and q_dedup_minhash_cluster feeds the SAME pair set into
    * connected components — one LSH+verify pass serves both rows when
    * they run in one family (a `Runner.sweep` keeps the memo alive
    * until the q_dedup_ family ends), and the two differentials check
    * the shared pass from two independent oracles (pair-exact and
    * closure-exact). */
  private[graft] def minhashPairsDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "minhash_pairs") {
      minhashPairsRaw(s, d, BucketCap).transform(Tables.ck)
    }

  /** The CONVERGED component labels `(node, lab)` of the verified
    * near-dup pair graph, memoized per (session, dir): survivor =
    * component minimum = `lab`. Both terminal dedup rows are
    * projections of this ONE labeling — q_dedup_minhash_cluster's
    * cluster census and q_dedup_apply's per-lang corpus cut — so a
    * multi-query harness runs the ccStar loop once (the ccStarLabels
    * sharing pattern) and the two oracles re-derive the closure
    * independently, differentially checking the share. */
  private[ops] def minhashCcLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "minhash_cc_labels") {
      import s.implicits._
      GraphOps.ccStar(minhashPairsDf(s, d)
        .select($"doc_a".as("u"), $"doc_b".as("v")))._1
        .transform(Tables.ck)
    }

  private def minhashPairsRaw(s: org.apache.spark.sql.SparkSession,
      d: String, bucketCap: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val words = t(s, d, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
    // Shingles are hashed to 64-bit longs immediately: signature
    // minhashing and the exact-verify intersections only need set
    // identity, and primitive long arrays keep the verify join's
    // shuffle payload ~10× smaller than shingle strings. The
    // hashing runs in the native codegen'd `shingle_hash` kernel
    // (graft.functions.Shingles) — the HOF form it replaces was
    // interpreted and cost ~1.5 s per self-join side at sf0.1.
    // tok feeds the signature pass AND both sides of the verify join
    // (a 3-way diamond). Deliberately NOT materialized: checkpointing
    // 500k shingle arrays costs more than re-running the codegen'd
    // kernel per branch (measured 0.9 s → 1.4 s warm at sf0.1) —
    // the opposite trade from q_text_charlm, whose count stage is
    // small relative to its recompute.
    val tk = words.where(size($"w") >= 3)
      .select($"doc_id", $"lang",
        expr("shingle_hash(w, 3)").as("tok"))
    val sig = tk.select($"doc_id", $"lang",
      expr(s"minhash_sig(tok, $NumBands)").as("sig"))
    // Hot-bucket cap: the size window shuffles on the SAME key the
    // candidate self-join uses, so the join reuses its partitioning.
    val bw = Window.partitionBy($"lang", $"band", $"hval")
    val bands = sig.select($"doc_id", $"lang",
        posexplode($"sig").as(Seq("band", "hval")))
      .withColumn("bsz", count(lit(1)).over(bw))
      .where($"bsz" <= bucketCap)
      .drop("bsz")
    val cand = bands.as("a").join(bands.as("b"),
        $"a.lang" === $"b.lang" && $"a.band" === $"b.band" &&
        $"a.hval" === $"b.hval" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    val ta = tk.select($"doc_id".as("doc_a"), $"tok".as("tok_a"))
    val tb = tk.select($"doc_id".as("doc_b"), $"tok".as("tok_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("inter",
        expr("sorted_intersect_count(tok_a, tok_b)").cast("double"))
      .withColumn("jac",
        $"inter" / (size($"tok_a") + size($"tok_b") - $"inter"))
      .where($"jac" >= 0.6)
      .select($"doc_a", $"doc_b", round($"jac", 4).as("jaccard"))
  }

  /** q_dedup_containment body — exact prefix-filter containment
    * self-join (see the queries-map entry for the algorithm and the
    * exactness argument). Threshold t = 0.8 over 3-token shingle
    * sets; sets are hashed to sorted long arrays by the same
    * `shingle_hash` kernel as q_dedup_minhash (set sizes and
    * intersections are hash-invariant w.h.p. at 64 bits, the
    * q_dedup_ngram adjudication), while the ORACLE brute-forces raw
    * shingle strings within (lang) blocks — so the candidate
    * machinery itself is under differential test. */
  private[graft] def containmentPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val T = 0.8
    val tk = t(s, d, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id", $"lang", expr("shingle_hash(w, 3)").as("tok"))
    // Exploded postings (doc, lang, sz, shingle-hash). The shingle
    // table feeds the df count, the prefix ranking, AND the postings
    // side of the candidate join — like minhashPairs' tok diamond,
    // deliberately NOT materialized (the codegen'd kernel re-run is
    // cheaper than checkpointing |shingle| rows).
    val post = tk.withColumn("sz", size($"tok"))
      .select($"doc_id", $"lang", $"sz", explode($"tok").as("sh"))
    // Per-(lang, shingle) document frequency — ranking rare-first is
    // what keeps prefix postings short; correctness needs no order at
    // all (any ⌊(1−t)·sz⌋+1 missing shingles bound the overlap).
    // The prefix length is computed in EXACT integer arithmetic:
    // ⌊(1−t)·sz⌋+1 = sz − ⌈t·sz⌉ + 1 = sz − ⌈4·sz/5⌉ + 1 at t = 4/5.
    // (The float form floor(sz · (1−0.8)) evaluates 1−0.8 to
    // 0.19999…96, so sz ≡ 0 (mod 5) lost one prefix slot — an
    // exactness hole the brute-force oracle would eventually expose.)
    val dfq = post.groupBy($"lang", $"sh").agg(count(lit(1)).as("df"))
    val prefix = post.join(dfq, Seq("lang", "sh"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"sh")))
      .where($"rnk" <= expr("sz - ((sz * 4 + 4) div 5) + 1"))
      .select($"doc_id", $"lang", $"sz", $"sh")
    // Candidates: the SMALLER doc's prefix against ANY doc's postings
    // (ties orient by doc_id, so each unordered pair is generated in
    // exactly one direction — the direction whose containment is max).
    val cand = prefix.as("a").join(post.as("b"),
        $"a.lang" === $"b.lang" && $"a.sh" === $"b.sh" &&
          ($"a.sz" < $"b.sz" ||
            ($"a.sz" === $"b.sz" && $"a.doc_id" < $"b.doc_id")))
      .select($"a.doc_id".as("doc_in"), $"b.doc_id".as("doc_of"))
      .distinct()
    val ta = tk.select($"doc_id".as("doc_in"), $"tok".as("tok_a"))
    val tb = tk.select($"doc_id".as("doc_of"), $"tok".as("tok_b"))
    cand.join(ta, "doc_in").join(tb, "doc_of")
      .withColumn("inter",
        expr("sorted_intersect_count(tok_a, tok_b)").cast("double"))
      .withColumn("cont", $"inter" / least(size($"tok_a"), size($"tok_b")))
      .where($"cont" >= T)
      .select($"doc_in", $"doc_of", round($"cont", 4).as("containment"))
      .orderBy($"doc_in", $"doc_of")
  }

  /** q_text_bpetrain body (see the queries-map entry). `rounds`
    * parameterized so the spec can check merge-table prefix stability
    * (training R rounds then R+1 must agree on the first R merges —
    * the loop is greedy, later rounds can't rewrite history).
    *
    * Each round ends in a LAZY localCheckpoint — the lpaLabels fix
    * applied here too: round r consumes `cur_{r-1}` TWICE (the pair
    * census feeding `best_r`, and the merge rewrite), so an unchecked
    * R-round unroll re-derives the corpus-scale word census up to 2^R
    * times. Checkpointing `cur` (and the 1-row `best`) makes each
    * round's cost linear in rounds with zero driver actions.
    *
    * Empty-census guard: if a round finds NO mergeable pair (corpus
    * fully merged), `best` is empty — the merge step is a LEFT join
    * against the 1-row broadcast, so an empty round leaves the symbol
    * table UNCHANGED (identity merge) and simply emits no merge row
    * for that round, instead of silently emptying `cur`. The oracle
    * mirrors this with LEFT JOIN ON TRUE. */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    bpeMergesDf(s, d, rounds).orderBy($"round")
  }

  /** The loop's two deliverables under the shared derived-plan memo
    * (the lmScores move): q_text_bpetrain wants the merge table,
    * q_text_bpeapply the final symbol table — ONE training pass feeds
    * both when they run in one sweep (a `Runner.sweep` keeps the
    * q_text_ family's memos alive), instead of each re-materializing
    * 12 rounds of checkpoints. Whichever deliverable is asked first
    * seeds the other's memo from the same loop. */
  private def bpeMergesDf(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, s"bpe_merges_$rounds") {
      val (cur, merges) = bpeLoop(s, d, rounds)
      Tables.derived(s, d, s"bpe_cur_$rounds")(cur)
      merges.reduce(_ unionByName _)
    }

  /** q_text_bpe_serve's persisted tokenizer artifact: the trained
    * word → token-count vocabulary (bpeCurDf's final symbol table
    * with the per-word symbol count precomputed at freeze time),
    * written ONCE per (warehouse, dir) as a managed table. Serving
    * joins this broadcast-sized table — the training loop never runs
    * in the serve path. */
  private[graft] def bpeVocab(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_bpe_vocab_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      bpeCurDf(s, d, 12)
        .select($"word",
          (size(split($"symstr", "\\|\\|")) - 2).as("nsym"))
        .write.mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  private def bpeCurDf(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, s"bpe_cur_$rounds") {
      val (cur, merges) = bpeLoop(s, d, rounds)
      Tables.derived(s, d, s"bpe_merges_$rounds")(
        merges.reduce(_ unionByName _))
      cur
    }

  /** The shared BPE merge-training loop: returns the FINAL per-word
    * symbol table (word, wc, symstr) and the per-round 1-row merge
    * winners. bpeTrain emits the merge table; bpeApply (tokenizer
    * INFERENCE) emits the final symbols applied corpus-wide. */
  private def bpeLoop(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): (org.apache.spark.sql.DataFrame,
        Vector[org.apache.spark.sql.DataFrame]) = {
    import s.implicits._
    val words = t(s, d, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .where(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
    var cur = words.select($"word", $"wc",
      concat(lit("||"), array_join(split($"word", ""), "||"), lit("||"))
        .as("symstr"))
      .transform(Tables.ck)
    var merges = Vector.empty[org.apache.spark.sql.DataFrame]
    (1 to rounds).foreach { r =>
      val best = cur
        .select($"wc", split($"symstr", "\\|\\|").as("sy"))
        .select($"wc", explode(expr(
          "filter(transform(sequence(1, size(sy) - 1)," +
            " i -> struct(element_at(sy, i) AS pa," +
            " element_at(sy, i + 1) AS pb))," +
            " p -> p.pa <> '' AND p.pb <> '')")).as("p"))
        .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
        .agg(sum($"wc").as("n"))
        .orderBy($"n".desc, $"pa", $"pb").limit(1)
        .transform(Tables.ck)
      merges :+= best.select(lit(r).as("round"),
        $"pa".as("pair_a"), $"pb".as("pair_b"), $"n")
      cur = cur.join(broadcast(best), lit(true), "left")
        .select($"word", $"wc", expr(
          "CASE WHEN pa IS NULL THEN symstr ELSE" +
            " replace(symstr, concat('|', pa, '||', pb, '|')," +
            " concat('|', pa, pb, '|')) END").as("symstr"))
        .transform(Tables.ck)
    }
    (cur, merges)
  }

  /** q_text_bpeapply body: the trained symbol table applied as a
    * TOKENIZER — the learned-vocabulary usage histogram (top 30
    * symbols by frequency-weighted occurrence). In production the
    * final (word, symstr) table is the tokenizer artifact: applying
    * it to new text is one broadcast join on word (vocabulary-scale,
    * the standard BPE serving shape); here the corpus IS the training
    * corpus, so the weighted explode over the final table gives the
    * exact vocabulary census without touching documents again. */
  private[graft] def bpeApply(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    bpeCurDf(s, d, rounds)
      .select($"wc", explode(split($"symstr", "\\|\\|")).as("sym"))
      .where($"sym" =!= "")
      .groupBy($"sym").agg(sum($"wc").as("n"))
      .orderBy($"n".desc, $"sym")
      .limit(30)
  }

  /** q_text_dsir body (see the queries-map entry for the method and
    * determinism argument). B = 1024 feature buckets, K = 100 docs
    * resampled. 100 TB shape: bucket stats are partial-aggregable
    * keyed counts collapsing to ≤ B rows; the B-row log-ratio table
    * BROADCASTS back onto the per-doc features (B is the knob — the
    * paper uses 10k; a cluster run raises it, and the table stays
    * broadcast-sized up to millions of buckets); the per-doc weight
    * is one keyed agg; selection is a global top-K (TakeOrdered, no
    * full sort). The corpus-total scalar rides the whitelisted
    * tiny-broadcast cross join. */
  private[graft] def dsirSelect(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val K = 100
    val docs = t(s, d, "documents")
      .select($"doc_id", $"lang", $"source")
    val lam = dsirWeights(s, d)
    // Gumbel top-K over the raw pool: g = -ln(-ln(u)) with u the
    // doc-id hash scaled to (0,1) — reproducible noise, micro-rounded
    // like the ratios so the sort key is an exact BIGINT.
    docs.where($"source" =!= "src0").select($"doc_id", $"lang")
      .join(lam, Seq("doc_id"))
      .withColumn("u",
        (pmod(Tables.h60(concat(lit("dsirg:"), $"doc_id".cast("string"))),
          lit(1000000L)).cast("double") + 0.5) / 1e6)
      .withColumn("gkey",
        $"lam_micro" + round(-log(-log($"u")) * 1e6).cast("long"))
      .orderBy($"gkey".desc, $"doc_id")
      .limit(K)
      .select($"doc_id", $"lang", round($"lam_micro" / 1e6, 6).as("logw"))
      .orderBy($"doc_id")
  }

  /** q_text_dsir's importance-weight stage, exposed for the OpsSpec
    * separation law (mean λ over target docs must exceed mean λ over
    * the raw pool — the model must recognize what it was fit on).
    * Returns (doc_id, lam_micro) for EVERY doc, target included. */
  private[graft] def dsirWeights(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val B = 1024L
    val docs = t(s, d, "documents")
      .select($"doc_id", $"lang", $"source", split($"text", " ").as("w"))
    // Hashed uni+bigram features. Bigrams via the zero-shuffle array
    // transform (index lambda + element_at), not a per-doc window —
    // no shuffle before the feature counts.
    val uni = docs.select($"doc_id", $"source", explode($"w").as("g"))
    val bi = docs.select($"doc_id", $"source",
      explode(expr(
        "transform(slice(w, 1, size(w) - 1)," +
          " (x, i) -> concat(x, ' ', element_at(w, i + 2)))")).as("g"))
    val grams = uni.unionByName(bi)
      .withColumn("b", pmod(Tables.h60(concat(lit("dsir:"), $"g")), lit(B)))
    // ONE tokenize+hash pass: `source` is functionally dependent on
    // doc_id, so keying the per-doc feature counts on (doc_id, source,
    // b) leaves them identical — and the bucket stats then derive
    // FROM the (ck'd, ≤ |docs|·B-row) feature table by an exact
    // integer re-aggregation instead of a SECOND explode+md5 scan of
    // the corpus (the grams table was referenced by stats AND feat;
    // un-memoized, each reference replayed the full gram pass).
    val feat = Tables.ck(grams.groupBy($"doc_id", $"source", $"b")
      .agg(count(lit(1)).as("c")))
    // Per-bucket occurrence counts under target and raw — ≤ B rows.
    val stats = feat.groupBy($"b").agg(
      sum(when($"source" === "src0", $"c").otherwise(0L)).as("tc"),
      sum(when($"source" =!= "src0", $"c").otherwise(0L)).as("rc"))
    val tot = stats.agg(sum($"tc").as("tt"), sum($"rc").as("rt"))
    // Laplace-smoothed per-bucket log-ratio in integer micro-nats.
    // The ONLY transcendental step — rounded to the 1e-6 grid before
    // any summation, so the engines' last-ulp ln() differences cannot
    // accumulate (a flip needs ln() to land within an ulp of a
    // half-micro-nat boundary; the differential would catch it).
    val ratio = stats.crossJoin(broadcast(tot))
      .withColumn("r_micro", round(
        (log(($"tc" + 1.0) / ($"tt" + B.toDouble)) -
          log(($"rc" + 1.0) / ($"rt" + B.toDouble))) * 1e6).cast("long"))
      .select($"b", $"r_micro")
    // λ in micro-nats: exact BIGINT dot product, order-independent.
    feat.join(broadcast(ratio), Seq("b"))
      .groupBy($"doc_id").agg(sum($"c" * $"r_micro").as("lam_micro"))
  }

  /** q_dedup_incremental body, parameterized by the corpus-side
    * hot-bucket cap (same role as in [[minhashPairs]]). The batch
    * predicate is `doc_id % 3 == 0`; everything else is the corpus. */
  private[graft] def incrementalDedup(s: org.apache.spark.sql.SparkSession,
      d: String, bucketCap: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val isNew = col("doc_id") % 3 === 0
    val words = t(s, d, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
    val tk = words.where(size($"w") >= 3)
      .select($"doc_id", $"lang", expr("shingle_hash(w, 3)").as("tok"))
    val sig = tk.select($"doc_id", $"lang",
      expr(s"minhash_sig(tok, $NumBands)").as("sig"))
    val bands = sig.select($"doc_id", $"lang",
      posexplode($"sig").as(Seq("band", "hval")))
    // Cap the CORPUS side per bucket (the side that grows without
    // bound as the corpus accretes); the batch side is the probe.
    val bw = Window.partitionBy($"lang", $"band", $"hval")
    val corpusBands = bands.where(!isNew)
      .withColumn("bsz", count(lit(1)).over(bw))
      .where($"bsz" <= bucketCap)
      .select($"doc_id".as("old_id"), $"lang", $"band", $"hval")
    val batchBands = bands.where(isNew)
      .select($"doc_id".as("new_id"), $"lang", $"band", $"hval")
    val cand = batchBands.join(corpusBands, Seq("lang", "band", "hval"))
      .select($"new_id", $"old_id").distinct()
    val ta = tk.select($"doc_id".as("new_id"), $"tok".as("tok_a"))
    val tb = tk.select($"doc_id".as("old_id"), $"tok".as("tok_b"))
    val dropped = cand.join(ta, "new_id").join(tb, "old_id")
      .withColumn("inter",
        expr("sorted_intersect_count(tok_a, tok_b)").cast("double"))
      .where($"inter" / (size($"tok_a") + size($"tok_b") - $"inter")
        >= 0.6)
      .select($"new_id").distinct()
      .withColumn("is_dup", lit(1L))
    t(s, d, "documents").where(isNew)
      .select($"doc_id".as("new_id"), $"lang")
      .join(dropped, Seq("new_id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_batch"),
        count($"is_dup").as("n_dropped"),
        (count(lit(1)) - count($"is_dup")).as("n_kept"))
      .orderBy($"lang")
  }

  /** The shared `scored` CTE chain of [[lmScores]] — ONE source of
    * truth for the per-doc charlm score on the oracle side, used by
    * both q_text_charlm and q_text_lmbucket so the two differentials
    * pin the same model algebra. */
  private val charlmScoredCtes = """
      WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
      bgc AS (
        SELECT doc_id, lang, bg, count(*) AS c FROM (
          SELECT doc_id, lang, substring(t, i, 2) AS bg FROM (
            SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i FROM d))
        GROUP BY doc_id, lang, bg),
      model AS (
        SELECT bg, CAST(SUM(c) AS BIGINT) AS n_bg FROM bgc GROUP BY bg),
      pref AS (
        SELECT substring(bg, 1, 1) AS c1, CAST(SUM(n_bg) AS BIGINT) AS n_c1
        FROM model GROUP BY c1),
      scored AS (
        SELECT o.doc_id, o.lang,
               SUM(o.c * ln(CAST(m.n_bg AS DOUBLE) / p.n_c1))
                 / CAST(SUM(o.c) AS BIGINT) AS score
        FROM bgc o
        JOIN model m ON o.bg = m.bg
        JOIN pref p ON substring(o.bg, 1, 1) = p.c1
        GROUP BY o.doc_id, o.lang)"""

  /** q_text_bpetrain oracle: the identical 12 rounds as MATERIALIZED
    * CTEs — same pair census (positions via generate_subscripts +
    * i/i+1 self-join on the word key), same (n DESC, pa, pb) argmax,
    * same double-bar replace() merge. The merge step LEFT JOINs the
    * 1-row winner (identity when a round's census is empty), exactly
    * mirroring the engine's empty-census guard. */
  private def bpeChainSql(rounds: Int): String = {
    val round = (r: Int) => s""",
      e$r AS (
        SELECT word, wc, unnest(sy) AS sym,
               generate_subscripts(sy, 1) AS i
        FROM (SELECT word, wc, string_split(symstr, '||') AS sy
              FROM s${r - 1})),
      p$r AS MATERIALIZED (
        SELECT a.sym AS pa, b.sym AS pb, CAST(SUM(a.wc) AS BIGINT) AS n
        FROM e$r a JOIN e$r b ON a.word = b.word AND b.i = a.i + 1
        WHERE a.sym <> '' AND b.sym <> ''
        GROUP BY 1, 2),
      b$r AS MATERIALIZED (
        SELECT pa, pb, n FROM p$r ORDER BY n DESC, pa, pb LIMIT 1),
      s$r AS MATERIALIZED (
        SELECT word, wc,
               CASE WHEN pa IS NULL THEN symstr
                    ELSE replace(symstr, '|' || pa || '||' || pb || '|',
                      '|' || pa || pb || '|') END AS symstr
        FROM s${r - 1} LEFT JOIN b$r ON TRUE)"""
    """
      WITH w AS MATERIALIZED (
        SELECT word, count(*) AS wc FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) >= 2 GROUP BY word),
      s0 AS MATERIALIZED (
        SELECT word, wc,
               '||' || array_to_string(string_split(word, ''), '||')
                 || '||' AS symstr
        FROM w)""" +
      (1 to rounds).map(round).mkString
  }

  private val bpeTrainSql =
    bpeChainSql(12) + """
      SELECT * FROM (""" +
      (1 to 12).map(r =>
        s"SELECT $r AS round, pa AS pair_a, pb AS pair_b, n FROM b$r")
        .mkString("\n        UNION ALL ") + """)
      ORDER BY round"""

  /** q_text_bpeapply oracle: the identical chain, then the weighted
    * symbol census over the FINAL table s12. */
  private val bpeApplySql =
    bpeChainSql(12) + """
      SELECT sym, CAST(SUM(wc) AS BIGINT) AS n FROM (
        SELECT wc, unnest(string_split(symstr, '||')) AS sym FROM s12)
      WHERE sym <> ''
      GROUP BY sym
      ORDER BY n DESC, sym
      LIMIT 30"""

  /** Segmentation-edge CTE template: all (j → i) piece edges of the
    * words in `src` (a table with a `word` column). */
  private def ulmEdgesCte(name: String, src: String): String = s""",
      $name AS MATERIALIZED (
        SELECT word, CAST(j.j AS INT) AS j, CAST(i.i AS INT) AS i,
               substring(word, CAST(j.j AS INT) + 1,
                         CAST(i.i - j.j AS INT)) AS piece
        FROM $src,
             LATERAL (SELECT unnest(range(0, len(word))) AS j) j,
             LATERAL (SELECT unnest(range(j.j + 1,
               least(j.j + $UlmPieceLen, len(word)) + 1)) AS i) i)"""

  /** Viterbi DP + argmin backtrack CTE chain over a costed edge table
    * `ec` for the words in `wordsSrc`: [[UlmMaxWordLen]] relaxation
    * CTEs (reached positions only — an unreachable position is simply
    * absent), the exact tight-edge/smallest-predecessor chooser, the
    * walk, and the pooled pick rows `pks<tag>` (word, piece — one row
    * per path step). MATERIALIZED on every multiply-referenced table. */
  private def ulmDpWalkCtes(tag: String, ec: String,
      wordsSrc: String): String = {
    val L = UlmMaxWordLen
    def dpCte(k: Int) = s""",
      dp${tag}_$k AS MATERIALIZED (
        SELECT word, pos, MIN(dp) AS dp FROM (
          SELECT e.word, e.i AS pos, p.dp + e.cm AS dp
          FROM $ec e JOIN dp${tag}_${k - 1} p
            ON e.word = p.word AND e.j = p.pos
          UNION ALL SELECT word, pos, dp FROM dp${tag}_${k - 1})
        GROUP BY word, pos)"""
    def walkCte(k: Int) = s""",
      pk${tag}_$k AS MATERIALIZED (
        SELECT c.word, c.piece, c.j
        FROM wk${tag}_${k - 1} w JOIN chosen$tag c
          ON c.word = w.word AND c.i = w.pos),
      wk${tag}_$k AS (SELECT word, j AS pos FROM pk${tag}_$k WHERE j > 0)"""
    s""",
      dp${tag}_0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS dp
                     FROM $wordsSrc)""" +
      (1 to L).map(dpCte).mkString + s""",
      tight$tag AS (
        SELECT e.word, e.j, e.i, e.piece FROM $ec e
        JOIN dp${tag}_$L a ON a.word = e.word AND a.pos = e.j
        JOIN dp${tag}_$L b ON b.word = e.word AND b.pos = e.i
        WHERE a.dp + e.cm = b.dp),
      chosen$tag AS MATERIALIZED (
        SELECT word, j, i, piece FROM (
          SELECT word, j, i, piece,
                 row_number() OVER (PARTITION BY word, i ORDER BY j) AS rn
          FROM tight$tag) WHERE rn = 1),
      wk${tag}_0 AS (SELECT word, len(word) AS pos FROM $wordsSrc)""" +
      (1 to L).map(walkCte).mkString + s""",
      pks$tag AS (
        """ + (1 to L).map(k => s"SELECT word, piece FROM pk${tag}_$k")
      .mkString("\n        UNION ALL ") + ")"
  }

  /** The unigram-LM TRAINING chain as generated CTEs (the
    * kcore/pagerank/sssp move, at tokenizer scale): word census
    * (optionally doc-filtered — the serve oracle retrains on the
    * corpus minus the batch), seed costs, then per EM round the
    * costed edges, the [[ulmDpWalkCtes]] Viterbi chain, the usage
    * census, and refreshed costs — every formula generated from one
    * template so Spark's loop and the oracle can't drift. Ends at
    * `usage<rounds>` / `c<rounds>`. */
  private def ulmTrainCtes(rounds: Int, docWhere: String,
      p: String = ""): String = {
    // `p` prefixes every CTE name (and the dp tags) so TWO training
    // chains can share one statement — q_text_vocab_drift trains the
    // frozen (doc-filtered) and retrained (full) vocabularies side by
    // side. p = "" reproduces the historical names byte-for-byte.
    // NOTE: no leading WITH — callers prepend it (and a comma when
    // chaining a second instance).
    def emRound(r: Int) = s""",
      ${p}ec$r AS MATERIALIZED (
        SELECT e.word, e.j, e.i, e.piece, c.cm
        FROM ${p}edges e JOIN ${p}c${r - 1} c USING (piece))""" +
      ulmDpWalkCtes(p + r.toString, s"${p}ec$r", s"${p}wt") + s""",
      ${p}usage$r AS MATERIALIZED (
        SELECT pp.piece, SUM(w.wc) AS usage
        FROM pks$p$r pp JOIN ${p}wt w USING (word)
        GROUP BY pp.piece),
      ${p}c$r AS (
        SELECT piece,
               CAST(round(-ln(usage / (SELECT SUM(usage) FROM ${p}usage$r))
                 * 1e6) AS BIGINT) AS cm
        FROM ${p}usage$r)"""
    s"""
      ${p}wt AS (
        SELECT w AS word, count(*) AS wc FROM (
          SELECT unnest(string_split(text, ' ')) AS w
          FROM documents $docWhere)
        WHERE w <> '' GROUP BY w),
      ${p}occ AS (
        SELECT word, wc,
               substring(word, CAST(i.i AS INT), CAST(l.l AS INT)) AS piece
        FROM ${p}wt,
             LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) i,
             LATERAL (SELECT unnest(range(1,
               least($UlmPieceLen, len(word) - i.i + 1) + 1)) AS l) l),
      ${p}c0 AS (
        SELECT piece,
               CAST(round(-ln(SUM(wc) / (SELECT SUM(wc) FROM ${p}occ)) * 1e6)
                 AS BIGINT) AS cm
        FROM ${p}occ GROUP BY piece)""" + ulmEdgesCte(s"${p}edges", s"${p}wt") +
      (1 to rounds).map(emRound).mkString
  }

  private def unigramLmSql(rounds: Int): String =
    "\n      WITH" + ulmTrainCtes(rounds, "") + s"""
      SELECT u.piece, CAST(u.usage AS BIGINT) AS usage,
             c.cm AS cost_micro
      FROM usage$rounds u JOIN c$rounds c USING (piece)
      ORDER BY usage DESC, piece
      LIMIT 30"""

  /** Shared frozen-vocab serve chain: RETRAIN the frozen artifact
    * (corpus minus the batch — frozen-vs-fresh drift fails the
    * differential, the bpe_serve convention), then segment the batch
    * words under the final costs with the same Viterbi chain. Ends
    * with `nt` (word → token count; reached words only — an
    * unreachable word has no walk rows, so it is simply absent).
    * q_text_unigram_serve and q_text_unigram_ppl share it verbatim. */
  private def ulmServeChain(rounds: Int): String =
    "\n      WITH" + ulmTrainCtes(rounds, "WHERE doc_id >= 300") + s""",
      bt AS (
        SELECT lang, w AS word, count(*) AS wc FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id < 300)
        WHERE w <> '' GROUP BY lang, w),
      bw AS (SELECT DISTINCT word FROM bt)""" +
      ulmEdgesCte("edgesb", "bw") + s""",
      ecs AS MATERIALIZED (
        SELECT e.word, e.j, e.i, e.piece, c.cm
        FROM edgesb e JOIN c$rounds c USING (piece))""" +
      ulmDpWalkCtes("s", "ecs", "bw") + s""",
      nt AS (SELECT word, CAST(count(*) AS INT) AS ntok
             FROM pkss GROUP BY word)"""

  /** q_text_unigram_serve oracle: the shared chain + the census with
    * char fallback for unreachable (OOV) words. */
  private def unigramServeSql(rounds: Int): String =
    ulmServeChain(rounds) + """
      SELECT b.lang, CAST(SUM(b.wc) AS BIGINT) AS n_words,
             CAST(SUM(b.wc * COALESCE(nt.ntok, len(b.word))) AS BIGINT)
               AS n_tokens,
             CAST(SUM(CASE WHEN nt.ntok IS NULL THEN b.wc ELSE 0 END)
               AS BIGINT) AS oov_words,
             FLOOR(SUM(b.wc * COALESCE(nt.ntok, len(b.word))) * 1.0
               / SUM(b.wc) * 1e4 + 0.5) / 1e4 AS fertility
      FROM bt b LEFT JOIN nt USING (word)
      GROUP BY b.lang
      ORDER BY b.lang"""

  /** q_text_unigram_ppl oracle: the shared chain + per-word Viterbi
    * NLL (the dp value at the word's end position) rolled up to the
    * per-lang exact micro-nat total and the per-token perplexity. */
  private def unigramPplSql(rounds: Int): String =
    ulmServeChain(rounds) + s""",
      wn AS (SELECT d.word, d.dp AS nll
             FROM dps_$UlmMaxWordLen d JOIN bw ON d.word = bw.word
             WHERE d.pos = len(d.word)),
      roll AS (
        SELECT b.lang, CAST(SUM(b.wc) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN w.nll IS NULL THEN b.wc ELSE 0 END)
                 AS BIGINT) AS n_oov,
               CAST(SUM(CASE WHEN w.nll IS NULL THEN 0
                 ELSE b.wc * nt.ntok END) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN w.nll IS NULL THEN 0
                 ELSE b.wc * w.nll END) AS BIGINT) AS nll_micro
        FROM bt b LEFT JOIN wn w USING (word) LEFT JOIN nt USING (word)
        GROUP BY b.lang)
      SELECT lang, n_words, n_oov, n_tokens, nll_micro,
             FLOOR(exp(nll_micro / 1e6 / n_tokens) * 1e4 + 0.5) / 1e4
               AS ppl
      FROM roll
      ORDER BY lang"""

  /** q_text_vocab_drift oracle: BOTH vocabularies retrained from raw
    * text in one statement (frozen = the doc_id ≥ 300 chain, retrain
    * = the full chain; CTE name prefixes f_/r_ via [[ulmTrainCtes]]),
    * the batch segmented under each with the shared Viterbi chain,
    * per-lang censuses joined, overlap scalars appended. */
  private def vocabDriftSql(rounds: Int): String =
    "\n      WITH" + ulmTrainCtes(rounds, "WHERE doc_id >= 300", "f_") +
      "," + ulmTrainCtes(rounds, "", "r_") + s""",
      bt AS (
        SELECT lang, w AS word, count(*) AS wc FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id < 300)
        WHERE w <> '' GROUP BY lang, w),
      bw AS (SELECT DISTINCT word FROM bt)""" +
      ulmEdgesCte("edgesb", "bw") + s""",
      ecf AS MATERIALIZED (
        SELECT e.word, e.j, e.i, e.piece, c.cm
        FROM edgesb e JOIN f_c$rounds c USING (piece))""" +
      ulmDpWalkCtes("fb", "ecf", "bw") + s""",
      ntf AS (SELECT word, CAST(count(*) AS INT) AS ntok
              FROM pksfb GROUP BY word),
      ecr AS MATERIALIZED (
        SELECT e.word, e.j, e.i, e.piece, c.cm
        FROM edgesb e JOIN r_c$rounds c USING (piece))""" +
      ulmDpWalkCtes("rb", "ecr", "bw") + s""",
      ntr AS (SELECT word, CAST(count(*) AS INT) AS ntok
              FROM pksrb GROUP BY word),
      cnf AS (
        SELECT b.lang, CAST(SUM(b.wc) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN nt.ntok IS NULL THEN b.wc ELSE 0 END)
                 AS BIGINT) AS oov_frozen,
               FLOOR(SUM(b.wc * COALESCE(nt.ntok, len(b.word))) * 1.0
                 / SUM(b.wc) * 1e4 + 0.5) / 1e4 AS fert_frozen
        FROM bt b LEFT JOIN ntf nt USING (word) GROUP BY b.lang),
      cnr AS (
        SELECT b.lang,
               CAST(SUM(CASE WHEN nt.ntok IS NULL THEN b.wc ELSE 0 END)
                 AS BIGINT) AS oov_retrain,
               FLOOR(SUM(b.wc * COALESCE(nt.ntok, len(b.word))) * 1.0
                 / SUM(b.wc) * 1e4 + 0.5) / 1e4 AS fert_retrain
        FROM bt b LEFT JOIN ntr nt USING (word) GROUP BY b.lang),
      nfp AS (SELECT CAST(count(*) AS BIGINT) AS frozen_pieces
              FROM f_c$rounds),
      nrp AS (SELECT CAST(count(*) AS BIGINT) AS retrain_pieces
              FROM r_c$rounds),
      ovp AS (SELECT CAST(count(*) AS BIGINT) AS shared_pieces,
                     CAST(MAX(ABS(f.cm - r.cm)) AS BIGINT)
                       AS max_cost_shift_micro,
                     CAST(SUM(ABS(f.cm - r.cm)) AS BIGINT)
                       AS total_cost_shift_micro
              FROM f_c$rounds f JOIN r_c$rounds r USING (piece))
      SELECT a.lang, a.n_words, a.oov_frozen, b.oov_retrain,
             a.fert_frozen, b.fert_retrain,
             FLOOR((b.fert_retrain - a.fert_frozen) * 1e4 + 0.5) / 1e4
               AS fert_delta,
             frozen_pieces, retrain_pieces, shared_pieces,
             max_cost_shift_micro, total_cost_shift_micro
      FROM cnf a JOIN cnr b USING (lang)
      CROSS JOIN nfp CROSS JOIN nrp CROSS JOIN ovp
      ORDER BY a.lang"""

  /** Full-corpus BM25 recomputed from raw text with the serve path's
    * exact algebra (denormalized idf/norm, micro-nat contributions) —
    * shared by q_text_bm25_serve (persisted-vs-fresh drift check) and
    * q_text_bm25_incr (merged-vs-rebuilt equality check). */
  private val bm25ServeSql: String = """
      WITH tok AS (
        SELECT doc_id, u.w AS term FROM documents,
               UNNEST(string_split(text, ' ')) AS u(w)),
      dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
      stats AS (SELECT count(*) AS n, AVG(len * 1.0) AS avgdl FROM dl),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('fast', 'small', 'data')
             GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      post AS (
        SELECT tf.doc_id, tf.tf,
               ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf,
               len / avgdl AS norm
        FROM tf JOIN df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats),
      sc AS (
        SELECT doc_id,
               CAST(SUM(CAST(round(idf * tf * 2.2
                 / (tf + 1.2 * (0.25 + 0.75 * norm)) * 1e6) AS BIGINT))
                 AS BIGINT) AS sc
        FROM post GROUP BY doc_id)
      SELECT doc_id, FLOOR(sc / 1e6 * 1e4 + 0.5) / 1e4 AS bm25
      FROM sc
      ORDER BY bm25 DESC, doc_id
      LIMIT 20"""

  val oracle: Map[String, String] = Map(
    "q_text_bpetrain" -> bpeTrainSql,
    "q_text_bpeapply" -> bpeApplySql,

    // The serve oracle RETRAINS the tokenizer (the full 12-round
    // chain) and re-derives the vocabulary — frozen-vs-fresh drift
    // fails the differential — then tokenizes the same batch with the
    // same char-fallback.
    "q_text_bpe_serve" -> (bpeChainSql(12) + """
      , vocab AS (
        SELECT word, len(string_split(symstr, '||')) - 2 AS nsym
        FROM s12),
      batch AS (
        SELECT lang, u.w AS word
        FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
        WHERE doc_id < 300 AND u.w <> '')
      SELECT lang, count(*) AS n_words,
             CAST(SUM(COALESCE(nsym, len(word))) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN nsym IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS oov_words,
             FLOOR(SUM(COALESCE(nsym, len(word))) * 1.0 / count(*)
               * 1e4 + 0.5) / 1e4 AS fertility
      FROM batch LEFT JOIN vocab USING (word)
      GROUP BY lang
      ORDER BY lang"""),
    "q_text_fertility" -> (bpeChainSql(12) + """
      , wsym AS (
        SELECT word, len(string_split(symstr, '||')) - 2 AS nsym
        FROM s12)
      SELECT lang, count(*) AS n_words,
             CAST(SUM(nsym) AS BIGINT) AS n_tokens,
             FLOOR(SUM(nsym) * 1.0 / count(*) * 1e4 + 0.5) / 1e4
               AS fertility
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      JOIN wsym USING (word)
      GROUP BY lang
      ORDER BY lang"""),
    "q_text_jsd" -> """
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      src_tok AS (SELECT source, tok, count(*) AS c FROM toks
                  GROUP BY source, tok),
      src_tot AS (SELECT source, count(*) AS st FROM toks GROUP BY source),
      cor_tok AS (SELECT tok, count(*) AS qc FROM toks GROUP BY tok),
      cor_tot AS (SELECT count(*) AS ct FROM toks),
      grid AS (
        SELECT s.source,
               COALESCE(k.c, 0) * 1.0 / s.st AS p,
               v.qc * 1.0 / t.ct AS q
        FROM src_tot s CROSS JOIN cor_tok v
        LEFT JOIN src_tok k ON k.source = s.source AND k.tok = v.tok
        CROSS JOIN cor_tot t)
      SELECT source,
             CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
             FLOOR(SUM(
               CASE WHEN p > 0 THEN p * LN(p / ((p + q) / 2)) / 2
                    ELSE 0 END
               + q * LN(q / ((p + q) / 2)) / 2) * 1e4 + 0.5) / 1e4 AS jsd
      FROM grid
      GROUP BY source
      ORDER BY source""",

    "q_text_wordcount" -> """
      SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
      ORDER BY n DESC, token
      LIMIT 20""",

    // Same rule battery; list HOFs / regexp mirror the Spark exprs.
    "q_text_gopher" -> """
      WITH per AS (
        SELECT lang,
               len(string_split(text, ' ')) AS nw,
               len(list_filter(string_split(text, ' '),
                   x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                 / len(string_split(text, ' ')) AS alpha_frac,
               (strlen(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                 / len(string_split(text, ' ')) AS mean_wlen,
               len(regexp_extract_all(text, '#|\.\.\.')) * 1.0
                 / len(string_split(text, ' ')) AS sym_ratio,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                   ['the','be','to','of','and','that','have','with']))
                 AS n_stop
        FROM documents)
      SELECT lang, count(*) AS n_docs,
             CAST(SUM(CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_wordcount,
             CAST(SUM(CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0
               THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
             CAST(SUM(CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_alpha,
             CAST(SUM(CASE WHEN sym_ratio > 0.1 THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_symbol,
             CAST(SUM(CASE WHEN n_stop < 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_stopword,
             CAST(SUM(CASE WHEN nw >= 50 AND nw <= 100000
               AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
               AND alpha_frac >= 0.8 AND sym_ratio <= 0.1
               AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
      FROM per
      GROUP BY lang
      ORDER BY lang""",

    // Identical KN formula over the same count tables; arithmetic
    // written in the same association order so both engines produce
    // bit-identical doubles into the 4dp floor.
    "q_text_kneserney" -> """
      WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
      pairs AS (
        SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
        FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      dbg AS (
        SELECT doc_id, lang, w1, w2, count(*) AS c
        FROM pairs GROUP BY doc_id, lang, w1, w2),
      cb AS (SELECT w1, w2, SUM(c) AS c12 FROM dbg GROUP BY w1, w2),
      lft AS (SELECT w1, SUM(c12) AS c1, count(*) AS n1l
              FROM cb GROUP BY w1),
      rgt AS (SELECT w2, count(*) AS n1r FROM cb GROUP BY w2),
      tt AS (SELECT count(*) AS tt FROM cb),
      probs AS (
        SELECT cb.w1, cb.w2,
               (GREATEST(c12 - 0.75, 0.0)
                + 0.75 * n1l * n1r / tt.tt) / c1 AS p
        FROM cb JOIN lft ON cb.w1 = lft.w1
                JOIN rgt ON cb.w2 = rgt.w2
                CROSS JOIN tt),
      ds AS (
        SELECT d.doc_id, d.lang,
               SUM(d.c * ln(p.p)) / SUM(d.c) AS score
        FROM dbg d JOIN probs p ON d.w1 = p.w1 AND d.w2 = p.w2
        GROUP BY d.doc_id, d.lang)
      SELECT lang, count(*) AS n_docs,
             FLOOR(AVG(score) * 1e4 + 0.5) / 1e4 AS avg_kn,
             FLOOR(MIN(score) * 1e4 + 0.5) / 1e4 AS min_kn,
             FLOOR(MAX(score) * 1e4 + 0.5) / 1e4 AS max_kn
      FROM ds
      GROUP BY lang
      ORDER BY lang""",

    // Same vowel-group syllable heuristic + 15-word pseudo-sentence
    // convention; list HOFs mirror Spark's transform/filter.
    "q_text_readability" -> """
      WITH per AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS DOUBLE)
                 AS syll,
               CAST(len(list_filter(
                 list_transform(string_split(text, ' '),
                   w -> len(regexp_extract_all(w, '[aeiouy]+'))),
                 c -> c >= 3)) AS DOUBLE) AS poly
        FROM documents),
      f AS (
        SELECT lang, words, syll, poly,
               CAST(CEIL(words / 15.0) AS DOUBLE) AS sents
        FROM per WHERE words > 0)
      SELECT lang, count(*) AS n_docs,
             FLOOR(AVG(words) * 1e4 + 0.5) / 1e4 AS avg_words,
             FLOOR(AVG(syll / words) * 1e4 + 0.5) / 1e4 AS avg_syll_per_word,
             FLOOR(AVG(poly / words) * 1e4 + 0.5) / 1e4 AS pct_poly,
             FLOOR(AVG(206.835 - 1.015 * (words / sents)
               - 84.6 * (syll / words)) * 1e4 + 0.5) / 1e4 AS avg_fre
      FROM f
      GROUP BY lang
      ORDER BY lang""",

    // Distinct-bigram ROUGE-2 on the same banded pair list; list
    // comprehension mirrors Spark's transform(sequence(...)).
    "q_text_rouge" -> """
      WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 300),
      bg AS (
        SELECT doc_id, lang,
               list_distinct([w[i] || ' ' || w[i+1]
                              for i in range(1, len(w))]) AS bgs
        FROM tok WHERE len(w) >= 2),
      p AS (
        SELECT a.doc_id AS ref_id, b.doc_id AS cand_id,
               CAST(len(list_intersect(a.bgs, b.bgs)) AS BIGINT) AS overlap,
               len(list_intersect(a.bgs, b.bgs)) * 1.0 / len(b.bgs) AS prec,
               len(list_intersect(a.bgs, b.bgs)) * 1.0 / len(a.bgs) AS rec
        FROM bg a JOIN bg b
          ON a.lang = b.lang AND b.doc_id > a.doc_id
         AND b.doc_id <= a.doc_id + 3)
      SELECT ref_id, cand_id, overlap,
             FLOOR(prec * 1e4 + 0.5) / 1e4 AS rouge2_p,
             FLOOR(rec * 1e4 + 0.5) / 1e4 AS rouge2_r,
             FLOOR(CASE WHEN prec + rec > 0
                        THEN 2 * prec * rec / (prec + rec)
                        ELSE 0.0 END * 1e4 + 0.5) / 1e4 AS rouge2_f1
      FROM p
      ORDER BY ref_id, cand_id""",

    "q_text_repetition" -> """
      WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                   FROM documents),
      bi AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
             FROM tok, UNNEST(generate_series(1, len(ws)-1)) AS t(i)),
      per AS (SELECT doc_id, lang,
                     1.0 - count(DISTINCT g) * 1.0 / count(*) AS rep
              FROM bi GROUP BY doc_id, lang)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             FLOOR(avg(rep) * 1e4 + 0.5) / 1e4 AS avg_rep,
             FLOOR(max(rep) * 1e4 + 0.5) / 1e4 AS max_rep,
             CAST(count(*) FILTER (WHERE rep > 0.1) AS BIGINT) AS n_flagged
      FROM per GROUP BY lang
      ORDER BY lang""",

    "q_text_hashtf" -> """
      WITH tok AS (SELECT u.w AS term FROM documents,
                   UNNEST(string_split(text, ' ')) AS u(w)),
      b AS (SELECT CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) % 256
              AS bucket, term
            FROM tok)
      SELECT bucket, CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT term) AS BIGINT) AS n_terms
      FROM b GROUP BY bucket
      ORDER BY tf DESC, bucket
      LIMIT 10""",

    "q_text_bm25" -> """
      WITH tok AS (
        SELECT doc_id, u.w AS term FROM documents,
               UNNEST(string_split(text, ' ')) AS u(w)),
      dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
      stats AS (SELECT count(*) AS n, AVG(len * 1.0) AS avgdl FROM dl),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('fast', 'small', 'data')
             GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      sc AS (
        SELECT tf.doc_id,
               SUM(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                   tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * len / avgdl)))
                 AS score
        FROM tf JOIN df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id)
      SELECT doc_id, FLOOR(score * 1e4 + 0.5) / 1e4 AS bm25
      FROM sc
      ORDER BY bm25 DESC, doc_id
      LIMIT 20""",

    // The serve oracle recomputes the WHOLE index (idf, norm) from
    // the raw corpus with the build's algebra — persisted-vs-fresh
    // drift fails the differential — then scores with the identical
    // per-contribution micro-nat rounding.
    "q_text_bm25_serve" -> bm25ServeSql,

    // THE SAME full-corpus recomputation is the incremental row's
    // oracle on purpose: base-postings ∪ batch-postings with
    // refreshed idf/norm must equal the from-scratch index exactly —
    // the merged-index-≡-rebuilt-index law IS the differential.
    "q_text_bm25_incr" -> bm25ServeSql,

    "q_text_unigram_lm" -> unigramLmSql(UlmEmRounds),
    "q_text_unigram_serve" -> unigramServeSql(UlmEmRounds),
    "q_text_unigram_ppl" -> unigramPplSql(UlmEmRounds),
    "q_text_vocab_drift" -> vocabDriftSql(UlmEmRounds),

    "q_text_coverage" -> """
      WITH cnt AS (
        SELECT lang, u.w AS token, count(*) AS c
        FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
        GROUP BY lang, u.w),
      rk AS (SELECT lang, c,
                    row_number() OVER (PARTITION BY lang
                                       ORDER BY c DESC, token) AS rn
             FROM cnt),
      agg AS (SELECT lang, SUM(c) AS total,
                     SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS top10
              FROM rk GROUP BY lang)
      SELECT lang, CAST(total AS BIGINT) AS n_tokens,
             FLOOR(top10 * 1.0 / total * 1e4 + 0.5) / 1e4
               AS coverage_top10
      FROM agg
      ORDER BY lang""",

    "q_text_entropy" -> """
      WITH tok AS (
        SELECT lang, u.w AS token FROM documents,
               UNNEST(string_split(text, ' ')) AS u(w)),
      cnt AS (SELECT lang, token, count(*) AS c FROM tok
              GROUP BY lang, token),
      tot AS (SELECT lang, SUM(c) AS t FROM cnt GROUP BY lang)
      SELECT c.lang, CAST(t.t AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             FLOOR(-SUM((c.c / CAST(t.t AS DOUBLE))
                   * ln(c.c / CAST(t.t AS DOUBLE))) * 1e4 + 0.5) / 1e4
               AS entropy
      FROM cnt c JOIN tot t ON c.lang = t.lang
      GROUP BY c.lang, t.t
      ORDER BY c.lang""",

    // DuckDB SUM(BIGINT) yields HUGEINT (pandas → float64) — CAST back
    // to BIGINT or the dtype skews against Spark's int64.
    "q_text_bpe" -> """
      WITH words AS (
        SELECT lang, w AS word, count(*) AS wc
        FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
        WHERE strlen(w) >= 2
        GROUP BY lang, w),
      pairs AS (
        SELECT lang, substr(word, CAST(i AS INT), 2) AS pair,
               SUM(wc) AS n
        FROM words, UNNEST(generate_series(1, strlen(word) - 1)) AS g(i)
        GROUP BY lang, substr(word, CAST(i AS INT), 2))
      SELECT lang, pair, CAST(n AS BIGINT) AS n
      FROM (SELECT lang, pair, n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, pair) AS rn
            FROM pairs)
      WHERE rn <= 10
      ORDER BY lang, n DESC, pair""",

    // `||` (null-propagating), NOT concat (DuckDB concat ignores NULLs
    // and would fabricate a dangling 'token ' bigram per document).
    "q_text_ngram" -> """
      WITH tk AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      bi AS (
        SELECT lang,
               token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM tk),
      cnt AS (
        SELECT lang, bigram, count(*) AS n FROM bi
        WHERE bigram IS NOT NULL GROUP BY lang, bigram)
      SELECT lang, bigram, n FROM (
        SELECT lang, bigram, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
        FROM cnt)
      WHERE rn <= 10
      ORDER BY lang, n DESC, bigram""",

    "q_text_diversity" -> """
      WITH tk AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      bi AS (
        SELECT lang,
               token || ' ' || lead(token)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM tk),
      cnt AS (
        SELECT lang, bigram, count(*) AS n FROM bi
        WHERE bigram IS NOT NULL GROUP BY lang, bigram)
      SELECT lang, CAST(SUM(n) AS BIGINT) AS n_bigrams,
             count(*) AS n_types,
             FLOOR(count(*) * 1.0 / SUM(n) * 1e4 + 0.5) / 1e4 AS ttr,
             FLOOR(MAX(n) * 1.0 / SUM(n) * 1e4 + 0.5) / 1e4 AS top_share
      FROM cnt GROUP BY lang ORDER BY lang""",

    "q_text_rake" -> """
      WITH tk AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      st AS (
        SELECT *, tok IN ('the','be','to','of','and','that','have',
                          'with') AS is_stop
        FROM tk),
      sg AS (
        SELECT doc_id, lang, tok, pos, is_stop,
               SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        FROM st),
      seg AS (
        SELECT doc_id, lang, tok, pos, pid,
               COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
        FROM sg WHERE NOT is_stop),
      ws AS (
        SELECT lang, tok, COUNT(*) AS freq, SUM(plen) AS deg
        FROM seg GROUP BY lang, tok),
      psc AS (
        SELECT s.doc_id, s.lang, s.pid,
               string_agg(s.tok, ' ' ORDER BY s.pos) AS phrase,
               COUNT(*) AS n_words,
               FLOOR(SUM(w.deg * 1.0 / w.freq) * 1e4 + 0.5) / 1e4
                 AS score
        FROM seg s JOIN ws w ON w.lang = s.lang AND w.tok = s.tok
        GROUP BY s.doc_id, s.lang, s.pid),
      ded AS (
        SELECT lang, phrase, MAX(score) AS score,
               MAX(n_words) AS n_words
        FROM psc GROUP BY lang, phrase),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY score DESC, phrase) AS rn
        FROM ded)
      SELECT lang, phrase, score, CAST(n_words AS BIGINT) AS n_words
      FROM rk WHERE rn <= 3
      ORDER BY lang, score DESC, phrase""",

    "q_text_charlm" -> s"""
      $charlmScoredCtes
      SELECT lang, count(*) AS n_docs,
             FLOOR(AVG(score) * 10000 + 0.5) / 10000 AS avg_lm,
             FLOOR(MIN(score) * 10000 + 0.5) / 10000 AS min_lm,
             FLOOR(MAX(score) * 10000 + 0.5) / 10000 AS max_lm
      FROM scored
      GROUP BY lang
      ORDER BY lang""",

    // The r4 rounding happens BEFORE the percentile on both sides, so
    // the tercile cutoffs interpolate identical 1e-4-grid inputs; the
    // CUTOFFS are then snapped to the same grid too (as in the query),
    // so boundary compares are between exact grid values in both
    // engines.
    "q_text_lmbucket" -> s"""
      $charlmScoredCtes,
      sr AS (SELECT doc_id, lang,
                    FLOOR(score * 1e4 + 0.5) / 1e4 AS sr FROM scored),
      cut AS (SELECT lang,
                     FLOOR(quantile_cont(sr, 1.0/3) * 1e4 + 0.5) / 1e4 AS c33,
                     FLOOR(quantile_cont(sr, 2.0/3) * 1e4 + 0.5) / 1e4 AS c67
              FROM sr GROUP BY lang)
      SELECT s.lang,
             CASE WHEN s.sr <= c.c33 THEN 'tail'
                  WHEN s.sr <= c.c67 THEN 'middle'
                  ELSE 'head' END AS bucket,
             count(*) AS n_docs,
             FLOOR(AVG(s.sr) * 1e4 + 0.5) / 1e4 AS avg_lm
      FROM sr s JOIN cut c ON s.lang = c.lang
      GROUP BY 1, 2
      ORDER BY s.lang, bucket""",

    "q_text_tfidf" -> """
      WITH docs AS (SELECT * FROM documents WHERE doc_id < 50),
      tfc AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs)
        GROUP BY doc_id, term),
      dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term),
      nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
      scored AS (
        SELECT t.doc_id, t.term,
               FLOOR(t.tf * LN(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))
                 * 1e4 + 0.5) / 1e4 AS score
        FROM tfc t JOIN dfc d USING (term) CROSS JOIN nn n)
      SELECT doc_id, term, score FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        FROM scored)
      WHERE rn <= 5
      ORDER BY doc_id, score DESC, term""",

    "q_text_sentiment" -> """
      SELECT lang, ROUND(AVG(sent), 4) AS avg_sent FROM (
        SELECT lang,
               (CAST(len(list_filter(string_split(text, ' '), x -> x IN ('fast','small'))) AS DOUBLE)
                - len(list_filter(string_split(text, ' '), x -> x IN ('slow','dup'))))
               / len(string_split(text, ' ')) AS sent
        FROM documents)
      GROUP BY lang
      ORDER BY lang""",

    "q_text_lang_stats" -> """
      SELECT lang, count(*) AS n_docs,
             ROUND(AVG(n_chars), 2) AS avg_chars,
             MAX(n_chars) AS max_chars,
             count(DISTINCT source) AS n_sources
      FROM documents
      GROUP BY lang
      ORDER BY lang""",

    "q_text_invindex" -> """
      WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 50)
      SELECT token, count(DISTINCT doc_id) AS df,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings
      FROM dt
      GROUP BY token
      ORDER BY token""",

    "q_text_heavy" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      tot AS (SELECT count(*) AS tot FROM toks)
      SELECT w, count(*) AS n
      FROM toks CROSS JOIN tot
      GROUP BY w, tot
      HAVING count(*) >= CEIL(tot * 0.01)
      ORDER BY w""",

    "q_text_zipf" -> """
      WITH cnt AS (
        SELECT lang, tok, count(*) AS n FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        GROUP BY lang, tok),
      ranked AS (
        SELECT lang,
               LN(CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY n DESC, tok) AS DOUBLE)) AS x,
               LN(CAST(n AS DOUBLE)) AS y
        FROM cnt)
      SELECT lang, count(*) AS n_types,
             FLOOR(regr_slope(y, x) * 1e4 + 0.5) / 1e4 AS slope,
             FLOOR(regr_r2(y, x) * 1e4 + 0.5) / 1e4 AS r2
      FROM ranked
      GROUP BY lang
      ORDER BY lang""",

    "q_text_pmi" -> """
      WITH tk AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      uni AS (SELECT tok, count(*) AS nu FROM tk GROUP BY tok),
      tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n_total,
                     CAST(SUM(nu) AS BIGINT)
                       - (SELECT count(*) FROM documents) AS b_total
              FROM uni),
      bi AS (
        SELECT tok, nxt, count(*) AS nb FROM (
          SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM tk)
        WHERE nxt IS NOT NULL
        GROUP BY tok, nxt
        HAVING count(*) >= 25)
      SELECT b.tok, b.nxt, b.nb,
             FLOOR(LN((b.nb / CAST(t.b_total AS DOUBLE)) /
               ((u1.nu / CAST(t.n_total AS DOUBLE)) *
                (u2.nu / CAST(t.n_total AS DOUBLE)))) * 1e4 + 0.5) / 1e4
               AS pmi
      FROM bi b
        JOIN uni u1 ON b.tok = u1.tok
        JOIN uni u2 ON b.nxt = u2.tok
        CROSS JOIN tot t
      ORDER BY pmi DESC, b.tok, b.nxt
      LIMIT 20""",

    "q_dedup_exact" -> """
      SELECT doc_id, lang, source FROM documents
      QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
      ORDER BY doc_id""",

    // Same chunking (1-based inclusive list slice = Spark's
    // slice(w, i*3+1, 3)), same ≥3-distinct-doc threshold; string_agg
    // skips the NULL (dropped) chunks and orders by chunk id, and the
    // all-dropped doc coalesces to '' to match Spark's array_join.
    "q_text_boilerplate" -> """
      WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
      t1 AS (SELECT doc_id, w,
                    unnest(range(0, CAST(ceil(len(w) / 3.0) AS INT)))
                      AS cid
             FROM t0),
      ch AS (SELECT doc_id, cid,
                    array_to_string(w[cid * 3 + 1 : cid * 3 + 3], ' ')
                      AS chunk
             FROM t1),
      bp AS (SELECT chunk FROM ch
             GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3)
      SELECT ch.doc_id, count(*) AS n_chunks,
             CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dropped,
             COALESCE(string_agg(CASE WHEN b.chunk IS NULL THEN ch.chunk END,
               ' ' ORDER BY cid), '') AS clean_text
      FROM ch LEFT JOIN bp b ON ch.chunk = b.chunk
      GROUP BY ch.doc_id
      ORDER BY ch.doc_id""",

    // Brute-force exact shingle-set Jaccard within (lang) blocks — the
    // LSH path's verified output must equal this or the LSH missed a
    // pair. `||` propagates NULL, so each doc's last two positions
    // produce no shingle (same as the Spark side's sequence bound).
    "q_dedup_minhash" -> """
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang)
      SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
               / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) AS jac
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      WHERE jac >= 0.6
      ORDER BY doc_a, doc_b""",

    // The same brute-force shingle-set derivation kept down to
    // common ≥ 1, then the identical micro-unit Jaccard, integer
    // binning, squaring-chain S-curve predictions, and exact integer
    // per-bin sums.
    "q_dedup_lsh_curve" -> """
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang),
      pr AS (
        SELECT len(list_intersect(a.tok, b.tok)) AS common,
               len(a.tok) AS na, len(b.tok) AS nb
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.tok, b.tok)) >= 1),
      sc AS (
        SELECT CAST(FLOOR(CAST(common AS DOUBLE)
                 / CAST(na + nb - common AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS mj
        FROM pr),
      s1 AS (
        SELECT mj, mj / 1e6 AS s6,
               1.0 - mj / 1e6 AS x,
               1.0 - (mj / 1e6) * (mj / 1e6) AS y,
               1.0 - ((mj / 1e6) * (mj / 1e6)) * ((mj / 1e6) * (mj / 1e6))
                 AS z
        FROM sc),
      s2 AS (SELECT mj, x * x AS x2, y * y AS y2, z * z AS z2 FROM s1),
      s3 AS (SELECT mj, x2 * x2 AS x4, y2 * y2 AS y4, z2 * z2 AS z4
             FROM s2),
      s4 AS (SELECT mj, x4 * x4 AS x8, y4 * y4 AS y8, z4 FROM s3),
      s5 AS (SELECT mj, x8 * x8 AS x16, y8, z4 FROM s4),
      sp AS (
        SELECT CAST(FLOOR(mj / 100000.0) AS BIGINT) AS jacc_bin, mj,
               CAST(FLOOR((1.0 - x16) * 1e6 + 0.5) AS BIGINT) AS p1,
               CAST(FLOOR((1.0 - y8) * 1e6 + 0.5) AS BIGINT) AS p2,
               CAST(FLOOR((1.0 - z4) * 1e6 + 0.5) AS BIGINT) AS p4
        FROM s5)
      SELECT jacc_bin, CAST(count(*) AS BIGINT) AS n_pairs,
             FLOOR(CAST(SUM(mj) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS mean_jaccard,
             FLOOR(CAST(SUM(p1) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS det_r1_b16,
             FLOOR(CAST(SUM(p2) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS det_r2_b8,
             FLOOR(CAST(SUM(p4) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS det_r4_b4
      FROM sp
      GROUP BY jacc_bin
      ORDER BY jacc_bin""",

    // The same brute-force pair derivation, then the EXACT transitive
    // closure (the q_graph_cc oracle shape) — cluster membership,
    // survivor = component minimum, census re-derived independently of
    // the engine's large-star/small-star loop.
    "q_dedup_minhash_cluster" -> """
      WITH RECURSIVE tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang),
      pr AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / (len(a.tok) + len(b.tok)
                 - len(list_intersect(a.tok, b.tok))) >= 0.6),
      edges AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
      reach(id, m) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.m FROM reach r JOIN edges e ON e.u = r.id),
      comp AS (SELECT id, MIN(m) AS lab FROM reach GROUP BY id)
      SELECT lab AS survivor, count(*) AS n_members,
             count(*) - 1 AS n_dropped
      FROM comp GROUP BY lab
      ORDER BY survivor""",

    // The cluster row's exact closure composed with the corpus cut:
    // non-survivors (id <> component minimum) drop; docs absent from
    // the closure are untouched singletons and keep.
    "q_dedup_apply" -> """
      WITH RECURSIVE tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang),
      pr AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / (len(a.tok) + len(b.tok)
                 - len(list_intersect(a.tok, b.tok))) >= 0.6),
      edges AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
      reach(id, m) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.m FROM reach r JOIN edges e ON e.u = r.id),
      comp AS (SELECT id, MIN(m) AS lab FROM reach GROUP BY id),
      dropped AS (SELECT id FROM comp WHERE id <> lab)
      SELECT d.lang,
             CAST(SUM(CASE WHEN dr.id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS kept_docs,
             CAST(SUM(CASE WHEN dr.id IS NULL THEN 0 ELSE 1 END)
               AS BIGINT) AS dropped_docs,
             CAST(SUM(CASE WHEN dr.id IS NULL
               THEN len(string_split(d.text, ' ')) ELSE 0 END)
               AS BIGINT) AS kept_tokens,
             CAST(SUM(CASE WHEN dr.id IS NULL
               THEN 0 ELSE len(string_split(d.text, ' ')) END)
               AS BIGINT) AS dropped_tokens
      FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.id
      GROUP BY d.lang
      ORDER BY d.lang""",

    // Brute-force exact shingle-set CONTAINMENT within (lang) blocks:
    // inter / min(|A|,|B|), pair oriented contained → container
    // (smaller set first; ties by doc_id). The Spark side's
    // prefix-filter candidate generation must lose no pair — that
    // exactness claim IS what this differential checks.
    "q_dedup_containment" -> """
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang)
      SELECT doc_in, doc_of, ROUND(cont, 4) AS containment FROM (
        SELECT CASE WHEN len(a.tok) < len(b.tok)
                      OR (len(a.tok) = len(b.tok) AND a.doc_id < b.doc_id)
                    THEN a.doc_id ELSE b.doc_id END AS doc_in,
               CASE WHEN len(a.tok) < len(b.tok)
                      OR (len(a.tok) = len(b.tok) AND a.doc_id < b.doc_id)
                    THEN b.doc_id ELSE a.doc_id END AS doc_of,
               CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / LEAST(len(a.tok), len(b.tok)) AS cont
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      WHERE cont >= 0.8
      ORDER BY doc_in, doc_of""",

    // The identical DSIR pipeline in SQL: same salted-h60 feature
    // buckets, same integer micro-nat ratio/Gumbel rounding, same
    // Gumbel-top-K — every arithmetic step is exact BIGINT after the
    // per-value ln() rounding, so the selection is bit-reproducible.
    "q_text_dsir" -> """
      WITH tok AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      grams AS (
        SELECT doc_id, source,
               CAST('0x' || substring(md5('dsir:' || g), 1, 15) AS BIGINT)
                 % 1024 AS b
        FROM (
          SELECT doc_id, source, t AS g FROM tok
          UNION ALL
          SELECT doc_id, source, g FROM (
            SELECT doc_id, source,
                   t || ' ' || lead(t, 1)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM tok) WHERE g IS NOT NULL)),
      stats AS (
        SELECT b,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS rc
        FROM grams GROUP BY b),
      tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM stats),
      ratio AS (
        SELECT b,
               CAST(ROUND((ln((tc + 1.0) / (tt + 1024.0))
                         - ln((rc + 1.0) / (rt + 1024.0))) * 1e6)
                 AS BIGINT) AS r_micro
        FROM stats, tot),
      feat AS (SELECT doc_id, b, COUNT(*) AS c FROM grams GROUP BY 1, 2),
      lam AS (
        SELECT f.doc_id, SUM(f.c * r.r_micro) AS lam_micro
        FROM feat f JOIN ratio r USING (b) GROUP BY 1),
      scored AS (
        SELECT d.doc_id, d.lang, l.lam_micro,
               l.lam_micro + CAST(ROUND(-ln(-ln(
                 (CAST(CAST('0x' || substring(
                    md5('dsirg:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1e6))
                 * 1e6) AS BIGINT) AS gkey
        FROM documents d JOIN lam l USING (doc_id)
        WHERE d.source <> 'src0')
      SELECT doc_id, lang, ROUND(lam_micro / 1e6, 6) AS logw
      FROM (SELECT * FROM scored ORDER BY gkey DESC, doc_id LIMIT 100)
      ORDER BY doc_id""",

    // Classifier oracle: regenerate the identical bucket→weight model
    // from the Knuth-hash ramp, identical hash/pool/sigmoid algebra
    // (the shared [[classifyScoredSql]] CTE prefix).
    "q_text_classify" -> (classifyScoredSql + """
      SELECT lang, count(*) AS n_docs,
             CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             FLOOR(AVG(score) * 1e4 + 0.5) / 1e4 AS avg_score,
             FLOOR(MIN(score) * 1e4 + 0.5) / 1e4 AS min_score
      FROM sc GROUP BY lang ORDER BY lang"""),

    // Brute-force batch⋈corpus shingle Jaccard within language
    // blocks — the LSH probe's recall is effectively 1 at ≥ 0.6
    // (b=16 r=1, the q_dedup_minhash argument), so the exact compare
    // must match row-for-row.
    "q_dedup_incremental" -> """
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id, lang,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      tk AS (
        SELECT doc_id, lang, list(DISTINCT shingle) AS tok
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id, lang),
      dups AS (
        SELECT DISTINCT n.doc_id AS new_id
        FROM tk n JOIN tk o
          ON n.lang = o.lang
         AND n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
        WHERE CAST(len(list_intersect(n.tok, o.tok)) AS DOUBLE)
              / (len(n.tok) + len(o.tok)
                 - len(list_intersect(n.tok, o.tok))) >= 0.6)
      SELECT d.lang, count(*) AS n_batch,
             count(dp.new_id) AS n_dropped,
             count(*) - count(dp.new_id) AS n_kept
      FROM documents d LEFT JOIN dups dp ON d.doc_id = dp.new_id
      WHERE d.doc_id % 3 = 0
      GROUP BY d.lang
      ORDER BY d.lang""",

    "q_text_cooccur" -> """
      WITH tk AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      SELECT least(a.tok, b.tok) AS w1,
             greatest(a.tok, b.tok) AS w2,
             count(*) AS n
      FROM tk a JOIN tk b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
      GROUP BY 1, 2
      ORDER BY n DESC, w1, w2
      LIMIT 30""",
  )
}
