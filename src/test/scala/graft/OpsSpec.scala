package graft

import org.apache.spark.sql.Row
import SparkTestBase.{microDir, sf0001}

/** Operator edge-case tests on the handcrafted micro-fixture
  * (SURVEY §5.2) plus invariants the DuckDB oracle can't express
  * (the ±5% HLL bound for the no-oracle q_agg_approx row).
  */
class OpsSpec extends GraftSuite {

  test("q_join_left counts 0 for a customer with no orders") {
    val rows = q("q_join_left", microDir).collect()
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("q_join_anti returns exactly the never-sold parts") {
    val keys = q("q_join_anti", microDir).collect().map(_.getLong(0)).toSeq
    assert(keys === Seq(3L))
  }

  test("q_join_outer_full manufactures nulls on both sides") {
    val rows = q("q_join_outer_full", microDir).collect()
    // user 99 has events but no customer row → null c_name
    val u99 = rows.find(_.getLong(0) == 99L).get
    assert(u99.isNullAt(1) && u99.getLong(2) == 1L)
    // customer 1 has no events → null n_events
    val c1 = rows.find(_.getLong(0) == 1L).get
    assert(c1.getString(1) == "Alice" && c1.isNullAt(2))
  }

  test("q_join_asof matches a purchase to its most recent prior signup, null if none") {
    val rows = q("q_join_asof", microDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows === Map(2L -> Some(1L), 5L -> None))
  }

  test("q_join_asof_native matches prior signup, null without one (micro)") {
    val rows = q("q_join_asof_native", microDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows === Map(2L -> Some(1L), 5L -> None))
  }

  test("q_win_lag yields null for each partition's first event") {
    val rows = q("q_win_lag", microDir).collect()
    val first7 = rows.filter(_.getLong(0) == 7L).head
    assert(first7.isNullAt(2), "first event of a user has no previous gap")
    val second7 = rows.filter(_.getLong(0) == 7L)(1)
    assert(second7.getLong(2) == 10L)
  }

  test("q_dedup_exact keeps the minimum doc_id per (lang, source)") {
    val ids = q("q_dedup_exact", microDir).collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(0L, 2L), "survivor must be min doc_id, deterministic")
  }

  test("q_dedup_minhash finds the exact-duplicate pair with jaccard 1.0") {
    val rows = q("q_dedup_minhash", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows === Seq((0L, 1L, 1.0)))
  }

  test("q_dedup_containment: prefix filter loses no pair vs all-pairs brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The exactness claim under independent test: regenerate the SAME
    // verified output with candidates = EVERY within-lang pair (no
    // prefix pruning at all) and require row-for-row agreement — any
    // pair the rare-shingle prefix join failed to surface would be
    // missing from the declared query but present here.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id", $"lang", expr("shingle_hash(w, 3)").as("tok"),
        size(expr("shingle_hash(w, 3)")).as("sz"))
    val brute = docs.as("a").join(docs.as("b"),
        $"a.lang" === $"b.lang" &&
          ($"a.sz" < $"b.sz" ||
            ($"a.sz" === $"b.sz" && $"a.doc_id" < $"b.doc_id")))
      .select($"a.doc_id".as("doc_in"), $"b.doc_id".as("doc_of"),
        expr("sorted_intersect_count(a.tok, b.tok)").cast("double")
          .as("inter"),
        least($"a.sz", $"b.sz").as("mn"))
      .withColumn("cont", $"inter" / $"mn")
      .where($"cont" >= 0.8)
      .select($"doc_in", $"doc_of", round($"cont", 4).as("containment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val got = q("q_dedup_containment", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
    assert(got.nonEmpty, "fixture must exercise the ≥0.8 band")
    // Orientation law: the emitted direction is the max-containment
    // one, contained → container, so containment ≤ 1 and ≥ threshold.
    assert(got.forall { case (_, _, c) => c >= 0.8 && c <= 1.0 })
  }

  test("q_text_dsir: importance model separates target from raw; selection is biased toward it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // DSIR's core semantic claim, as a law: the bag-of-hashed-ngrams
    // importance model fit on the target domain must assign HIGHER
    // mean weight to target docs than to the raw pool (it recognizes
    // what it was fit on), and the Gumbel-top-K selection must in
    // turn be biased toward high-weight raw docs.
    val lam = graft.ops.TextOps.dsirWeights(spark, sf0001)
    val src = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"source")
    val means = lam.join(src, "doc_id")
      .groupBy($"source" === "src0").agg(avg($"lam_micro").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"target mean λ ${means(true)} must exceed raw mean ${means(false)}")
    // Selected docs: all from the raw pool, distinct, and their mean
    // logw strictly above the full raw pool's mean (sf0.001 margin
    // measured ≈ 14 nats — assert half of it to absorb fixture drift).
    val sel = q("q_text_dsir", sf0001).collect()
    assert(sel.map(_.getLong(0)).distinct.length === sel.length)
    val selAvg = sel.map(_.getDouble(2)).sum / sel.length
    val poolAvg = means(false) / 1e6
    assert(selAvg > poolAvg + 7.0,
      s"selected mean $selAvg must clear pool mean $poolAvg by ≥ 7 nats")
  }

  test("q_stream_session splits on the 30-minute gap, merges within it") {
    val rows = q("q_stream_session", microDir).collect()
      .filter(_.getLong(0) == 7L)
      .map(r => (r.getTimestamp(1).toString, r.getLong(2)))
    assert(rows === Seq(("2024-01-01 10:00:00.0", 2L),
                        ("2024-01-01 10:40:00.0", 2L)))
  }

  test("q_sim_cosine_topk ranks by dot product on unit vectors") {
    val rows = q("q_sim_cosine_topk", microDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(rows === Seq(1L -> 0.6, 2L -> 0.0))
  }

  test("q_text_wordcount counts and orders (n desc, token)") {
    val top = q("q_text_wordcount", microDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(top.take(3) === Seq("fast" -> 2L, "fox" -> 2L, "the" -> 2L))
    assert(top.map(_._2) === top.map(_._2).sorted.reverse)
  }

  test("q_agg_countmin never underestimates and stays within the sketch's mass bound") {
    // The CM guarantees, on the real fixture: est ≥ true for every
    // probe (min over counters that each saw every occurrence), and
    // est ≤ total stream mass (a counter can't exceed N). The exact
    // estimate VALUES are covered by the DuckDB differential — the
    // sketch is deterministic — so this law only pins the inequality
    // structure that must survive any fixture regeneration.
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, split}
    val n = ops.Tables.t(spark, sf0001, "documents")
      .select(explode(split($"text", " "))).count()
    val rows = q("q_agg_countmin", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 10)
    rows.foreach { case (tok, t, e) =>
      assert(e >= t, s"$tok: estimate $e under true count $t")
      assert(e <= n, s"$tok: estimate $e exceeds stream mass $n")
    }
  }

  test("q_agg_approx HLL++ estimate is within ±5% of the exact count") {
    import spark.implicits._
    val approx = q("q_agg_approx", sf0001).collect()(0).getLong(0)
    val exact = ops.Tables.t(spark, sf0001, "orders")
      .select($"o_custkey").distinct().count()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("q_pipe_profile_approx matches the exact profile within the sketch bound") {
    // The no-oracle law for the sketch twin: exact columns (n,
    // n_nonnull) must EQUAL q_pipe_profile's, and each per-column
    // HLL++ cardinality must land within ±5% of the exact distinct
    // (rsd 1% makes the bound loose — the q_agg_approx precedent).
    val exact = q("q_pipe_profile", sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = q("q_pipe_profile_approx", sf0001).collect()
    assert(approx.map(_.getString(0)).toSet === exact.keySet)
    approx.foreach { r =>
      val (n, nn, nd) = exact(r.getString(0))
      assert(r.getLong(1) === n && r.getLong(2) === nn,
        s"exact completeness columns must match for ${r.getString(0)}")
      val est = r.getLong(3)
      assert(math.abs(est - nd).toDouble / nd <= 0.05,
        s"${r.getString(0)}: approx=$est exact=$nd")
    }
  }

  test("q_text_lmbucket terciles through approx_percentile honor the GK rank bound") {
    // Pins the documented unbounded-cardinality cutover: the same
    // per-language tercile cutoffs computed via approx_percentile's
    // mergeable GK sketch (accuracy 1000) must (a) satisfy the GK
    // rank-error law per language — at most n/accuracy ranks from the
    // target — and (b) flip a document's bucket ONLY when its score
    // lies in the gap between the exact and approx cutoff for that
    // tercile; any flip outside a gap would mean the sketch path
    // changed the assignment logic, not just the cutoff estimate.
    import spark.implicits._
    import org.apache.spark.sql.functions.{floor => ffloor, expr => fexpr, col => fcol}
    val acc = 1000
    val srDf = ops.TextOps.lmScores(spark, sf0001)
      .select($"doc_id", $"lang",
        (ffloor($"score" * 1e4 + 0.5) / 1e4).as("sr"))
    // The cutover path itself: the GK sketch through the per-language
    // aggregate, exactly where the exact percentile sits in the query.
    val ap = srDf.groupBy($"lang")
      .agg(fexpr(s"approx_percentile(sr, array(1.0d/3, 2.0d/3), $acc)").as("a"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getSeq[Double](1)(0), r.getSeq[Double](1)(1))).toMap
    val byLang = srDf.collect()
      .map(r => (r.getString(1), r.getDouble(2))).groupBy(_._1)
      .map { case (l, xs) => l -> xs.map(_._2).sorted }
    assert(byLang.nonEmpty && byLang.keySet === ap.keySet)
    byLang.foreach { case (lang, xs) =>
      val n = xs.length
      val (a33, a67) = ap(lang)
      Seq(1.0 / 3 -> a33, 2.0 / 3 -> a67).foreach { case (p, ca) =>
        // GK rank law: the returned value's rank window must overlap
        // [p·n − n/acc, p·n + n/acc] (±1 for rank-definition slack).
        val below = xs.count(_ < ca)
        val atOrBelow = xs.count(_ <= ca)
        val tol = n.toDouble / acc + 1
        assert(below <= p * n + tol && atOrBelow >= p * n - tol,
          s"$lang p=$p: rank window [$below, $atOrBelow] vs target ${p * n} ± $tol")
      }
      // Exact cutoffs as the declared query computes them (snapped),
      // recounted driver-side with the same interpolation algebra.
      def exactCut(p: Double): Double = {
        val pos = p * (n - 1)
        val (lo, f) = (pos.toInt, pos - pos.toInt)
        val c = xs(lo) * (1 - f) + xs(math.min(lo + 1, n - 1)) * f
        math.floor(c * 1e4 + 0.5) / 1e4
      }
      val (e33, e67) = (exactCut(1.0 / 3), exactCut(2.0 / 3))
      def bucket(s: Double, c1: Double, c2: Double): String =
        if (s <= c1) "tail" else if (s <= c2) "middle" else "head"
      xs.foreach { s =>
        val (be, ba) = (bucket(s, e33, e67), bucket(s, a33, a67))
        if (be != ba) {
          val inGap33 = s > math.min(e33, a33) && s <= math.max(e33, a33)
          val inGap67 = s > math.min(e67, a67) && s <= math.max(e67, a67)
          assert(inGap33 || inGap67,
            s"$lang: flip at sr=$s outside both cutoff gaps " +
              s"(exact=($e33,$e67) approx=($a33,$a67))")
        }
      }
    }
  }

  test("q_win_rank rank values never exceed group size and start at 1") {
    val rows = q("q_win_rank", sf0001).collect()
    assert(rows.nonEmpty)
    val bySegment = rows.groupBy(_.getString(0))
    bySegment.foreach { case (_, rs) =>
      val rns = rs.map(_.getInt(3)).sorted.toSeq // col 3 = rn
      assert(rns === (1 to rns.size).toSeq, "row_number must be dense from 1")
    }
  }

  test("q_topk_global equals the prefix of the full sort") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val topk = q("q_topk_global", sf0001).collect().toSeq
    val full = ops.Tables.t(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(10).collect().toSeq
    assert(topk === full)
  }

  test("q_sim_pairs canonicalizes label pairs (lo <= hi) and bounds sims") {
    val rows = q("q_sim_pairs", microDir).collect()
    assert(rows.nonEmpty, "micro vectors contain a pair above threshold")
    rows.foreach { r =>
      assert(r.getInt(0) <= r.getInt(1))
      val avg = r.getDouble(3)
      assert(avg >= 0.35 && avg <= 1.0)
    }
  }

  test("q_text_rouge: metric laws — bounds, F1 harmonic identity, self-score 1.0") {
    val rows = q("q_text_rouge", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, rc, f1) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p >= 0 && p <= 1 && rc >= 0 && rc <= 1 && f1 >= 0 && f1 <= 1)
      // F1 is the harmonic mean of the ROUNDED-INDEPENDENTLY p/r, so
      // allow the 4dp grid slack; zero overlap must mean all-zero.
      if (r.getLong(2) == 0L) assert(p == 0 && rc == 0 && f1 == 0)
      else assert(math.abs(f1 - 2 * p * rc / (p + rc)) < 2e-4)
    }
    // Identity law straight through the array algebra the query uses:
    // a text scored against itself is exactly (1, 1, 1).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val self = Seq((1L, "a b c a b"), (2L, "a b c a b")).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", array_distinct(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("bgs"))
    val pair = self.as("a").join(self.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select(size(array_intersect($"a.bgs", $"b.bgs")).as("ov"),
        size($"a.bgs").as("na"), size($"b.bgs").as("nb"))
      .collect()(0)
    assert(pair.getInt(0) === pair.getInt(1) && pair.getInt(0) === pair.getInt(2))
  }

  test("q_graph_hits: L1 normalization and side split hold") {
    val rows = q("q_graph_hits", sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val (auths, hubs) = rows.partition(_._1 == "auth")
    assert(auths.length === 10 && hubs.length === 10)
    // Sides are disjoint node namespaces on the bipartite trade graph.
    assert(auths.forall(_._2.startsWith("s")) && hubs.forall(_._2.startsWith("c")))
    // Scores are a probability-like L1 distribution: top-10 mass ≤ 1,
    // positive, and each side internally sorted descending.
    Seq(auths, hubs).foreach { side =>
      assert(side.forall(_._3 > 0.0))
      assert(side.map(_._3).sum <= 1.0 + 1e-4)
      assert(side.map(_._3).toSeq === side.map(_._3).sortBy(-_).toSeq)
    }
  }

  test("q_graph_scc: pointer doubling equals the hand-traced rho decomposition") {
    // sf0.001 has suppliers 0..9; succ(k) = (k²+1) mod 10 traces to
    // ONE 6-cycle 0→1→2→5→6→7→0 with tails {3, 4, 8, 9} — so the SCC
    // histogram is exactly 4 singletons (min id 3) + one size-6 SCC
    // canonicalized to 0.
    val rows = q("q_graph_scc", SparkTestBase.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 4L, 3L), (6L, 1L, 0L)))
    // Conservation law: SCC sizes partition the vertex set.
    val nodes = rows.map { case (sz, n, _) => sz * n }.sum
    assert(nodes === 10L, "SCC sizes must partition the vertex set")
  }

  test("q_win_seasonal: indices average to ~1 under count weights; peak is argmax") {
    val rows = q("q_win_seasonal", sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    rows.groupBy(_._1).foreach { case (_, hrs) =>
      // Count-weighted mean of hour indices is exactly 1 (definition).
      val n = hrs.map(_._3).sum.toDouble
      val wmean = hrs.map { case (_, _, c, s, _) => c * s }.sum / n
      assert(math.abs(wmean - 1.0) < 1e-3, s"weighted mean drifted: $wmean")
      // Declared peak hour carries the max index (ties → min hour).
      val best = hrs.maxBy { case (_, hr, _, s, _) => (s, -hr) }
      assert(hrs.head._5 === best._2, s"peak ${hrs.head._5} != argmax ${best._2}")
    }
  }

  test("q_win_autocorr: perfectly alternating series has ACF(1) = -1, ACF(2) = +1") {
    // ±1 alternation is the textbook identity: lag-1 products are all
    // -1·(+1), lag-2 all +1·(+1) around mean 0 — an end-to-end pin of
    // the whole numerator/denominator plumbing through the operator.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_acf").toString
    def tsAt(i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d")
    (0 until 40).map(i => (i.toLong, tsAt(i), 1L, "alt",
        if (i % 2 == 0) 1.0 else -1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = q("q_win_autocorr", dir).collect()(0)
    // Finite-sample ACF is (n-k)/n scaled here only through the tail
    // drop; with mean exactly 0 the sums are integers: acf1 = -39/40,
    // acf2 = 38/40.
    assert(r.getDouble(2) === math.floor(-39.0 / 40 * 1e4 + 0.5) / 1e4)
    assert(r.getDouble(3) === math.floor(38.0 / 40 * 1e4 + 0.5) / 1e4)
  }

  test("q_pipe_survival: KM curve is a monotone product and respects censoring") {
    val rows = q("q_pipe_survival", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // Survival starts ≤ 1, never increases, stays positive while
    // anyone remains at risk, and the risk set shrinks with t.
    assert(rows.head._4 <= 1.0 + 1e-9)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4 + 1e-9, s"survival rose: $a -> $b")
      assert(b._2 <= a._2, "risk set must shrink with t")
    }
    rows.foreach { case (_, nRisk, d, sv) =>
      assert(d >= 1L && d <= nRisk)
      assert(sv >= 0.0 && sv <= 1.0)
    }
    // Zero-factor guard: from the first time where EVERY at-risk user
    // dies (d = n_risk, KM factor exactly 0), survival is exactly 0 —
    // the case where DuckDB's ln(0) would error and Spark's NULL log
    // would silently drop the factor; both sides now special-case it.
    rows.collectFirst { case (t, nRisk, d, _) if d == nRisk => t }
      .foreach { tZero =>
        rows.filter(_._1 >= tZero)
          .foreach { case (t, _, _, sv) =>
            assert(sv == 0.0, s"survival at t=$t past all-die time " +
              s"$tZero must be exactly 0, got $sv")
          }
      }
  }

  test("q_pipe_ks: detects an injected distribution shift, stays ~0 without one") {
    // Engineered drift: type "stable" draws the same ramp in both time
    // halves (KS ≈ 0); type "shifted" jumps from low values to high
    // values at the midpoint (KS ≈ 1 — ECDFs barely overlap).
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ks").toString
    def tsAt(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-0$day%d 10:${i / 60}%02d:${i % 60}%02d")
    val rows =
      (0 until 200).map(i => (i.toLong, tsAt(1 + (i % 2) * 8, i), 1L,
        "stable", (i % 100).toDouble, "{}")) ++
      (0 until 200).map(i => (1000L + i, tsAt(1 + (i % 2) * 8, i), 1L,
        "shifted", if (i % 2 == 0) (i % 50).toDouble
                   else 60.0 + (i % 40), "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = q("q_pipe_ks", dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("stable") < 0.1, s"no-drift type must score ~0: $got")
    assert(got("shifted") > 0.9, s"full shift must score ~1: $got")
  }

  test("q_pipe_targetenc: own-fold leakage is provably excluded") {
    // Micro dataset engineered so fold membership is transparent:
    // if the encoding included the row's own fold, enc would move
    // with the fold's own values; with the complement-only formula it
    // must equal (sum_others + 10*prior)/(n_others + 10) exactly.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_te").toString
    def tsAt(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${i}%02d")
    // 30 rows, one type; value = 100 marks fold-f rows found below.
    val rows = (0 until 30).map(i => (i.toLong, tsAt(i), 1L, "only",
      i.toDouble, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val folds = ops.Tables.t(s, dir, "events")
      .select($"event_id", $"value",
        (ops.Tables.h60($"event_id".cast("string")) % 5).as("fold"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val total = folds.map(_._2).sum
    val prior = total / folds.length
    val got = q("q_pipe_targetenc", dir).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    folds.groupBy(_._3).foreach { case (f, rs) =>
      val (n, enc) = got(f)
      assert(n === rs.length.toLong)
      val expect = (total - rs.map(_._2).sum + 10.0 * prior) /
        (folds.length - rs.length + 10.0)
      assert(math.abs(enc - math.floor(expect * 1e4 + 0.5) / 1e4) < 1e-9,
        s"fold $f: got $enc expected $expect")
    }
  }

  test("q_pipe_bootstrap: CI brackets the mean and weights follow Poisson(1) mass") {
    q("q_pipe_bootstrap", sf0001).collect().foreach { r =>
      val (mean, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi, "interval must be ordered")
      // A 90% bootstrap band around the plug-in mean at n≈200 is
      // narrow but must contain the point estimate.
      assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] excludes mean $mean")
      assert(hi > lo, "20 distinct replicates cannot produce a 0-width band")
    }
    // The hash-derived weights must reproduce Poisson(1) frequencies:
    // ~36.8% zeros across (row, replicate) draws.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{explode, expr, concat, lit, avg}
    val frac0 = ops.Tables.t(s, SparkTestBase.sf0001, "events")
      .select($"event_id")
      .withColumn("r", explode(expr("sequence(1, 20)")))
      .select((ops.Tables.h60(concat($"event_id".cast("string"), lit(":"),
        $"r".cast("string"))) % 1000000L < 367879L).cast("long").as("z"))
      .agg(avg($"z")).collect()(0).getDouble(0)
    assert(math.abs(frac0 - 0.3679) < 0.01, s"zero-weight mass drifted: $frac0")
  }

  test("q_agg_mutualinfo: concentration orders MI and the uncertainty coefficient") {
    // Engineered fixture: "flat" fires once per day, "spike" fires
    // only on one day — the day-concentrated type must carry more
    // information about dow than the uniform one.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mi").toString
    // days 2024-01-01 (Mon) .. 01-07 (Sun): "flat" fires once daily,
    // "spike" fires 7 times on the 3rd only.
    val rows = (0 until 7).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-0${i + 1} 10:00:00"),
        1L, "flat", 1.0, "{}")) ++
      (0 until 7).map(i =>
        (100L + i, java.sql.Timestamp.valueOf("2024-01-03 11:00:00"),
          1L, "spike", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = q("q_agg_mutualinfo", dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // With only two types the margins entangle (the spike day's
    // column total inflates flat's surprise too), so the defensible
    // law is ORDER, not magnitude: the concentrated type carries
    // strictly more information and a higher share of its own row
    // entropy, and both are valid nats/coefficients.
    assert(got("spike")._1 > got("flat")._1, s"order violated: $got")
    assert(got("spike")._2 > got("flat")._2, s"coef order violated: $got")
    got.values.foreach { case (mi, uc) =>
      assert(mi >= 0.0 && uc >= 0.0 && uc <= 1.0 + 1e-9)
    }
  }

  test("q_agg_chisq: contributions are non-negative and sum to the global statistic") {
    val rows = q("q_agg_chisq", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 7L)
      assert(r.getDouble(2) >= 0.0)
    }
  }

  test("q_agg_winsorized: fences pull the mean toward the middle, never past the trim") {
    q("q_agg_winsorized", sf0001).collect().foreach { r =>
      val (n, raw, win, trim, clamped) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))
      // ~10% of mass sits outside the p05/p95 fences (interpolated
      // fences make it inexact; rounding slack on the comparison).
      assert(clamped >= 0 && clamped <= n / 5)
      // Winsorizing bounds the estimate between raw and fully-trimmed
      // is NOT a theorem, but all three must sit inside the fence
      // span, and winsor/trim must move the same direction from raw
      // whenever anything was clamped at all on a skewed tail.
      assert(win >= math.min(raw, trim) - 0.5 && win <= math.max(raw, trim) + 0.5,
        s"winsor mean wildly off: raw=$raw win=$win trim=$trim")
    }
  }

  test("q_sim_pca recovers a rank-1 direction exactly, eigenvalue = centered SS") {
    // Vectors c·e3 with c = 1..4: after centering the data is exactly
    // rank-1 along dim 3, so the top component is e3 (sign convention
    // makes it +1), every other loading is 0, and the eigenvalue is
    // the centered sum of squares 2·1.5² + 2·0.5² = 5.00.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    (1 to 4).map(c => (c.toLong,
        Array(0f, 0f, c.toFloat, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = q("q_sim_pca", dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length === 4)
    assert(rows.head === ((3, 1.0, 5.00)), s"top component wrong: ${rows.head}")
    rows.tail.foreach { case (_, loading, eig) =>
      assert(loading === 0.0 && eig === 5.00)
    }
  }

  test("q_sim_norms: 3-4-5 identity and fixture dim uniformity") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    // The audit's norm expression on the Pythagorean vector is exact.
    val n = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("embedding")
      .select(expr("sqrt(float_dot(embedding, embedding))"))
      .collect()(0).getDouble(0)
    assert(n === 5.0)
    q("q_sim_norms", sf0001).collect().foreach { r =>
      assert(r.getInt(2) === r.getInt(3), "fixture dims must be uniform")
      assert(r.getDouble(5) > 0.0, "norms are positive")
      assert(r.getDouble(5) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(6))
    }
  }

  test("q_text_gopher: each rule fires on a doc engineered to fail exactly it") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gq").toString
    val goodBody = ("the words of and that have with " +
      Seq.fill(48)("solid").mkString(" "))       // 55 words, all rules pass
    val docs = Seq(
      (1L, goodBody, "xx", "s", 1L),
      (2L, "the of tiny", "xx", "s", 1L),        // wordcount fail (3 < 50)
      (3L, goodBody + " " + Seq.fill(8)("####...####").mkString(" "),
        "xx", "s", 1L),                          // symbol-ratio fail (alpha still ≥ 0.8)
      (4L, ("the of " + Seq.fill(53)("12345").mkString(" ")),
        "xx", "s", 1L),                          // alpha-fraction fail
      (5L, goodBody.replace("the ", "aa ").replace("of ", "bb ")
        .replace("and ", "cc ").replace("that ", "dd ")
        .replace("have ", "ee ").replace("with ", "ff ")
        .replace("words ", "gg "), "xx", "s", 1L)) // stopword fail
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = q("q_text_gopher", dir).collect()(0)
    assert(r.getLong(1) === 5L)
    assert(r.getLong(2) === 1L, s"wordcount: $r")   // doc 2
    assert(r.getLong(4) === 1L, s"alpha: $r")       // doc 4 only
    assert(r.getLong(5) === 1L, s"symbol: $r")      // doc 3 only
    assert(r.getLong(6) === 1L, s"stopword: $r")    // doc 5 only
    assert(r.getLong(7) === 1L, s"only the good doc passes all: $r")
  }

  test("q_text_kneserney matches the hand-computed two-word model") {
    // Corpus: "a b a b" and "b a" → c(a,b)=2, c(b,a)=2, T=2 types,
    // N₁₊(a·)=N₁₊(b·)=1, c₁(a)=c₁(b)=2, Pcont(a)=Pcont(b)=1/2, so
    // EVERY bigram has P = (2−0.75 + 0.75·1·0.5)/2 = 0.8125 and both
    // docs score exactly ln 0.8125 ≈ −0.20764 → 4dp floor −0.2076.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kn").toString
    Seq((1L, "a b a b", "xx", "src", 7L), (2L, "b a", "xx", "src", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = q("q_text_kneserney", dir).collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "xx" && r(0).getLong(1) === 2L)
    assert(r(0).getDouble(2) === -0.2076 && r(0).getDouble(3) === -0.2076
      && r(0).getDouble(4) === -0.2076,
      s"hand-computed KN score drifted: ${r(0)}")
  }

  test("q_text_readability: syllable heuristic and FRE formula on known words") {
    // Hand check of the vowel-group heuristic via the same expression
    // the query uses: "table" → 2 groups (a, e), "query" → 2 (ue, y),
    // "spark" → 1 (a), "aeiou" → 1 (one run).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val counts = Seq("table", "query", "spark", "aeiou", "xyz").toDF("w")
      .select(expr("size(regexp_extract_all(w, '[aeiouy]+', 0))"))
      .collect().map(_.getInt(0)).toSeq
    assert(counts === Seq(2, 2, 1, 1, 1), s"vowel groups: $counts")
    // Aggregate sanity at sf0.001: ratios bounded, FRE within the
    // formula's reachable band for ≥1-syllable-per-word text.
    q("q_text_readability", sf0001).collect().foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(3) >= 1.0, "every fixture word has ≥1 vowel group")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) <= 206.835 - 1.015 - 84.6 + 1e-6,
        "FRE cannot exceed the all-monosyllable bound")
    }
  }

  test("q_agg_theilsen: median slope shrugs off the outlier that drags the mean") {
    // End-to-end robustness law through the declared operator: an
    // exactly-linear series (value = 2·hours) with ONE corrupted point
    // still reports slope 2.0/hr — the estimator's whole reason to
    // exist — while >20% of the pairwise slopes are distorted.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ts").toString
    def tsAt(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + h}%02d:00:00")
    val rows = (0 until 10).map { i =>
      val v = if (i == 5) 2.0 * i + 1000.0 else 2.0 * i
      (i.toLong, tsAt(i), 1L, "linear", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = q("q_agg_theilsen", dir).collect()
    assert(got.length === 1)
    // 10 points, band 20 ⇒ all 45 pairs; 9 involve the outlier.
    assert(got(0).getLong(1) === 45L)
    assert(got(0).getDouble(2) === 2.0, s"robust slope, got ${got(0).getDouble(2)}")
  }

  test("q_pipe_elo: MM normalization and ordering laws") {
    val rows = q("q_pipe_elo", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length >= 2)
    // Ratings are positive and mean-normalized to 1 each round (the
    // rounding grid allows 5e-5 per entry).
    rows.foreach { case (_, w, n, rt) =>
      assert(rt > 0.0); assert(w <= n)
    }
    val mean = rows.map(_._4).sum / rows.length
    assert(math.abs(mean - 1.0) < 1e-3, s"mean-normalization drift: $mean")
    // With the fixture's near-balanced pair design, the BT order must
    // agree with raw win fraction (the sanity check a rating system
    // owes its users when schedules are balanced).
    val byRating = rows.sortBy { case (t, _, _, rt) => (-rt, t) }.map(_._1)
    val byWinFrac = rows.sortBy { case (t, w, n, _) =>
      (-(w.toDouble / n), t) }.map(_._1)
    assert(byRating.toSeq === byWinFrac.toSeq)
    // Output is sorted by rating descending (contract order).
    assert(rows.map(_._4).toSeq === rows.map(_._4).sortBy(-_).toSeq)
  }

  test("q_text_sentiment scores stay within [-1, 1]") {
    q("q_text_sentiment", sf0001).collect().foreach { r =>
      val v = r.getDouble(1)
      assert(v >= -1.0 && v <= 1.0)
    }
  }

  test("q_text_fingerprint gives identical fingerprints to identical texts") {
    val rows = q("q_text_fingerprint", microDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(0L) === rows(1L), "doc 0 and 1 share the same text")
    assert(rows(0L) !== rows(2L), "different text, different fingerprint")
  }

  test("q_text_charlm scores match a hand-computed bigram model") {
    val s = spark
    import s.implicits._
    // corpus bigrams: "aaa" → {aa, aa}, "aab" → {aa, ab}
    // model: P(a→a) = 3/4, P(a→b) = 1/4
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    Seq((1L, "a", "aaa", "src0", 3L), (2L, "b", "aab", "src0", 3L))
      .toDF("doc_id", "lang", "text", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def f4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val sA = math.log(0.75)                      // both bigrams P=3/4
    val sB = (math.log(0.75) + math.log(0.25)) / 2
    val rows = q("q_text_charlm", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows === Seq(("a", 1L, f4(sA), f4(sA), f4(sA)),
                        ("b", 1L, f4(sB), f4(sB), f4(sB))))
  }

  test("q_dedup_simhash pairs identical docs at hamming 0") {
    val rows = q("q_dedup_simhash", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows === Seq((0L, 1L, 0)))
  }

  test("q_text_langid predicts via marker tokens") {
    val rows = q("q_text_langid", microDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq(("en", "en", 2L), ("fr", "fr", 1L)))
  }

  test("q_text_tokens counts words and BPE-ish subwords per lang") {
    val rows = q("q_text_tokens", microDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(("en", 6L, 6L), ("fr", 4L, 4L)))
  }

  test("q_sim_ann_ivf probes only the query's cell") {
    // micro vectors are mutually near-orthogonal and all serve as
    // centroids, so each lands in its own cell and the query cell
    // holds no other vector — the probe must come back empty rather
    // than fall back to scanning the corpus.
    assert(q("q_sim_ann_ivf", microDir).collect().isEmpty)
  }

  test("q_text_invindex posts each token to its sorted doc list (micro)") {
    // docs 0 and 1 share "the fast fox"; doc 2 is the french text.
    val rows = q("q_text_invindex", microDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rows("fast") === ((2L, "0,1")))
    assert(rows("the") === ((2L, "0,1")))
    assert(rows("chat") === ((1L, "2")))
    assert(rows.size === 7) // the,fast,fox + le,chat,lent,slow
  }

  test("q_agg_unpivot emits one (flag, measure) row per combination (micro)") {
    val rows = q("q_agg_unpivot", microDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // micro lineitem: one row per flag A/N/R, three measures each
    assert(rows.size === 9)
    assert(rows.forall(_._3 === 1L))
    assert(rows.map(_._2).distinct.sorted ===
      Seq("l_discount", "l_quantity", "l_tax"))
  }

  test("q_agg_mode picks the most frequent value, ties to the smallest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mode").toString
    // 5.0 and 3.0 both appear twice: the tie must resolve to 3.0
    // (full lineitem schema so the Tables.conform drift guard passes)
    val ship = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    Seq(5.0, 5.0, 3.0, 3.0, 7.0).zipWithIndex
      .map { case (qty, i) =>
        (i.toLong, 1L, 1L, i + 1, qty, 100.0, 0.0, 0.0, "A", "F", ship)
      }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.col("l_shipdate").cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = q("q_agg_mode", dir).collect()
    assert(r.length === 1)
    assert(r(0).getDouble(1) === 3.0 && r(0).getLong(2) === 2L)
  }

  test("q_text_zipf: frequency falls with rank (negative slope, sane r2)") {
    val rows = q("q_text_zipf", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, slope, r2) =>
      assert(slope < 0, s"$lang: zipf slope must be negative, got $slope")
      assert(r2 >= 0 && r2 <= 1, s"$lang: r2 out of range: $r2")
    }
  }

  test("q_join_fuzzy: length-band blocking is lossless for threshold 1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // pairs from the blocked query vs an unblocked brute-force join
    val blocked = q("q_join_fuzzy", sf0001).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val src = ops.Tables.t(spark, sf0001, "documents")
      .select($"source").distinct()
    val brute = src.select($"source".as("a"))
      .join(src.select($"source".as("b")), expr("a < b"))
      .where(levenshtein($"a", $"b") <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked === brute,
      "the |len diff| <= 1 band must never prune a distance-1 pair")
  }

  test("q_agg_hll: union of per-group sketches equals the direct sketch, both within ±5%") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val est = q("q_agg_hll", sf0001).collect()(0).getLong(0)
    val orders = ops.Tables.t(spark, sf0001, "orders")
    val exact = orders.select(countDistinct($"o_custkey")).collect()(0).getLong(0)
    assert(math.abs(est - exact) <= 0.05 * exact,
      s"HLL estimate $est vs exact $exact outside 5%")
    // merging per-group sketches is register-wise max — lossless vs
    // sketching the column directly
    val direct = orders
      .agg(expr("cast(hll_sketch_estimate(hll_sketch_agg(o_custkey)) as long)"))
      .collect()(0).getLong(0)
    assert(est === direct, "sketch merge must be lossless")
  }

  test("q_agg_argmax resolves the micro fixture's balance tie to the smaller custkey") {
    // micro customers 2 and 3 both hold 200.0 in AUTOMOBILE
    val rows = q("q_agg_argmax", microDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows === Seq(("AUTOMOBILE", 200.0, 2L), ("BUILDING", 100.0, 1L)))
  }

  test("q_agg_bitmap equals plain count(DISTINCT) per group") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bm = q("q_agg_bitmap", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = ops.Tables.t(spark, sf0001, "orders")
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey").as("n"))
      .orderBy($"o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bm === exact)
  }

  test("q_sim_ann_pq returns a deterministic descending top-10 without the query") {
    import spark.implicits._
    val rows = q("q_sim_ann_pq", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length === 10)
    assert(!rows.map(_._1).contains(0L), "query vector must be excluded")
    assert(rows.map(_._1).distinct.length === 10)
    val sims = rows.map(_._2)
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
      "ADC scores must be non-increasing")
    // quantized scores collide often; within a tie vec_id must ascend
    assert(rows.zip(rows.tail).forall { case ((ia, sa), (ib, sb)) =>
      sa > sb || ia < ib })
  }

  test("q_text_bpe counts within-word pairs weighted by word frequency (micro)") {
    // en vocabulary: the/fast/fox, each appearing in both duplicate
    // docs (wc=2). Pairs th,he,fa,as,st,fo,ox — all with n=2, so the
    // top-10 is all 7 pairs ordered alphabetically.
    val en = q("q_text_bpe", microDir).collect()
      .filter(_.getString(0) == "en")
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(en === Seq("as", "fa", "fo", "he", "ox", "st", "th").map(_ -> 2L))
  }

  test("q_dedup_substr marks only cross-doc duplicated windows") {
    val rows = q("q_dedup_substr", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "sf0.001 must contain duplicated spans")
    assert(rows.forall { case (id, nw, nd, frac) =>
      id < 1000 && nd >= 1 && nd <= nw &&
        math.abs(frac - math.floor(nd.toDouble / nw * 1e4 + 0.5) / 1e4) < 1e-12
    })
  }

  test("q_pipe_oversample: factor law and exact materialized replication") {
    val rows = q("q_pipe_oversample", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val mx = rows.map(_._2).max
    rows.foreach { case (lang, n, factor, after) =>
      assert(factor === math.min(math.ceil(mx.toDouble / n).toLong, 4L),
        s"factor law broken for $lang")
      assert(after === n * factor,
        s"explode replication must be exact for $lang")
    }
  }

  test("q_join_star broadcasts every dim and aggregates once") {
    // The distributed plan, where the small-plan rule does not fire.
    val dist = SparkEntry.queries("q_join_star")(distributedPlans, sf0001)
    val p = dist.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "region/nation, supplier, and the factored dims must broadcast")
    // Under the rule the same row runs in one partition, no exchange.
    val df = q("q_join_star", sf0001)
    df.collect()
    val p1 = df.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), p1)
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.nonEmpty && rows.length <= 10,
      "at most the 10 ASIA/EUROPE nations")
    val revs = rows.map(_._2)
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b },
      "revenue must be non-increasing")
  }

  test("q_sim_centroid computes per-label centroids and dot spreads (micro)") {
    // label 0: one vector (1,0,0,0) → centroid is itself, dot 1.0.
    // label 1: (0.6,0.8,0,0) and (0,1,0,0) → centroid (0.3,0.9,0,0),
    // dots 0.9 and 0.9 → avg = min = max = 0.9.
    val rows = q("q_sim_centroid", microDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows === Seq((0, 1L, 1.0, 1.0, 1.0), (1, 2L, 0.9, 0.9, 0.9)))
  }

  test("q_pipe_redact leaves no letters or digits in any masked shape") {
    val rows = q("q_pipe_redact", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, shapes, pseuds, shape) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(!shape.exists(c => c.isDigit || (c.isLetter && c != 'X' &&
        c != 'x' && c != 'n')), s"unmasked chars in $shape")
      assert(pseuds === n, "keyed pseudonyms must stay distinct per row")
      assert(shapes >= 1 && shapes <= n)
    }
  }

  test("q_agg_moments matches Spark's built-in population skewness/kurtosis") {
    import org.apache.spark.sql.functions.{skewness, kurtosis, floor => ffloor, col, lit}
    val ours = q("q_agg_moments", sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = ops.Tables.t(spark, sf0001, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg((ffloor(skewness(col("l_quantity")) * 1e4 + lit(0.5)) / 1e4).as("sk"),
           (ffloor(kurtosis(col("l_quantity")) * 1e4 + lit(0.5)) / 1e4).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ours.keySet === ref.keySet)
    ours.foreach { case (flag, (sk, ku)) =>
      assert(math.abs(sk - ref(flag)._1) <= 1e-4, s"skewness($flag)")
      assert(math.abs(ku - ref(flag)._2) <= 1e-4, s"kurtosis($flag)")
    }
  }

  test("q_pipe_decay weights each event by exp(-age/7d) against the user's newest") {
    // micro user 99: one event, age 0 → decayed = value = 5.0 exactly.
    // micro user 7: ages 2460s/2450s/60s/0s with values 1..4.
    val rows = q("q_pipe_decay", microDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows(99L) === ((1L, 5.0)))
    val expect7 = Seq((2460L, 1.0), (2450L, 2.0), (60L, 3.0), (0L, 4.0))
      .map { case (age, v) => v * math.exp(-age * 1e6 / 86400000000.0 / 7) }.sum
    assert(rows(7L)._1 === 4L)
    assert(rows(7L)._2 === math.floor(expect7 * 1e4 + 0.5) / 1e4)
  }

  test("q_sim_recall reports a consistent overlap and both sides' mean sim") {
    val r = q("q_sim_recall", sf0001).collect().head
    val (hits, recall, bf, ann) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(hits >= 0 && hits <= 10)
    assert(recall === hits / 10.0)
    assert(bf >= -1.0 && bf <= 1.0 && ann >= -1.0 && ann <= 1.0)
    // Dominance of the brute-force mean only holds element-wise when
    // the ANN side returned a FULL 10 rows (a 3-candidate ANN mean can
    // legitimately beat a 10-row brute-force mean).
    val annRows = SparkEntry.queries("q_sim_ann_lsh")(spark, sf0001).count()
    if (annRows == 10)
      assert(bf >= ann,
        "brute-force top-10 mean sim must dominate a full ANN top-10")
  }

  test("q_graph_pagerank matches an independent in-memory reference") {
    import org.apache.spark.sql.functions.{concat, lit, col}
    val e0 = ops.Tables.t(spark, sf0001, "orders")
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("s"),
              concat(lit("s"), col("l_suppkey").cast("string")).as("d"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val edges = e0 ++ e0.map(p => (p._2, p._1))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val n = deg.size
    var r = deg.map { case (k, _) => k -> 1.0 / n }
    for (_ <- 1 to 5) {
      r = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> (0.15 / n + 0.85 *
          es.map { case (src, _) => r(src) / deg(src) }.sum)
      }
    }
    val expect = r.toSeq
      .map { case (k, v) => (k, math.floor(v * 1e6 + 0.5) / 1e6) }
      .sortBy { case (k, v) => (-v, k) }.take(20)
    val got = q("q_graph_pagerank", sf0001).collect()
      .map(row => (row.getString(0), row.getDouble(1))).toSeq
    assert(got === expect)
  }

  test("q_win_fill densifies the hourly grid and forward-fills gaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fill").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 7: two events in hour 0, one in hour 3 → grid 0..3 with
    // hours 1,2 synthesized carrying hour 0's sum
    Seq(
      (1L, ts("2024-01-01 00:10:00"), 7L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 00:40:00"), 7L, "click", 1.5, "{}"),
      (3L, ts("2024-01-01 03:20:00"), 7L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = q("q_win_fill", dir).collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      (7L, ts("2024-01-01 00:00:00"), 3.5, false),
      (7L, ts("2024-01-01 01:00:00"), 3.5, true),
      (7L, ts("2024-01-01 02:00:00"), 3.5, true),
      (7L, ts("2024-01-01 03:00:00"), 4.0, false)))
  }

  test("pagerank early-exits after one round on a regular (fixpoint) graph") {
    // On a d-regular symmetric graph the uniform distribution IS the
    // PageRank fixpoint: round 1 reproduces 1/n exactly, its L1 delta
    // is 0 < tol, and the loop must stop without burning the remaining
    // rounds. 4-cycle: every node has degree 2.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"))
      .toDF("src", "dst").withColumn("d", lit(2L))
    val init = edges.select(col("src").as("node")).distinct()
      .withColumn("r", lit(0.25))
    val (ranks, iters) = ops.GraphOps.pagerank(edges, init, 4L, 5, 1e-6)
    assert(iters === 1, "a converged graph must stop after one round")
    val got = ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 0.25, "b" -> 0.25, "c" -> 0.25, "d" -> 0.25))
  }

  test("q_graph_triangles matches an in-memory brute-force count") {
    import org.apache.spark.sql.functions.col
    val edges: Set[(Long, Long)] = ops.Tables.t(spark, sf0001, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values
      .flatMap { g =>
        val ps = g.map(_._2).toSeq
        ps.flatMap(a => ps.filter(a < _).map(b => (a, b)))
      }.toSet
    val bySrc = edges.toSeq.groupBy(_._1)
    val tris = edges.toSeq.flatMap { case (a, b) =>
      bySrc.getOrElse(b, Nil).collect {
        case (_, c) if edges((a, c)) => Seq(a, b, c)
      }
    }
    val expect = tris.flatten.groupBy(identity)
      .map { case (p, xs) => (p, xs.size.toLong) }.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(10)
    val got = q("q_graph_triangles", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tris.nonEmpty && got === expect)
  }

  test("q_graph_jaccard matches an in-memory neighbor-set recount") {
    import org.apache.spark.sql.functions.col
    val e = ops.Tables.t(spark, sf0001, "orders")
      .filter(col("o_totalprice") > 300000)
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySup = e.groupBy(_._2).map { case (s0, v) => s0 -> v.map(_._1).toSet }
    val sups = bySup.keys.toSeq.sorted
    val expect = sups.flatMap(a => sups.filter(a < _).map { b =>
      val common = (bySup(a) & bySup(b)).size
      (a, b, common.toLong, math.floor(common.toDouble /
        (bySup(a).size + bySup(b).size - common) * 1e4 + 0.5) / 1e4)
    }).filter(_._3 > 0)
      .sortBy { case (a, b, _, j) => (-j, a, b) }.take(10)
    val got = q("q_graph_jaccard", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === expect)
  }

  test("q_graph_cc matches a driver-side union-find over the same edges") {
    import org.apache.spark.sql.functions.col
    val edges = ops.Tables.t(spark, sf0001, "orders")
      .filter(col("o_totalprice") > 450000)
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey") && col("l_quantity") >= 47)
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct().collect()
      .map(r => (s"c${r.getLong(0)}", s"s${r.getLong(1)}"))
    assert(edges.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x0: String): String = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val members = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    // canonical root = component MIN id (string order), as both the
    // query's min-label fixpoint and the oracle's MIN(m) define it
    val byComp = members.groupBy(find).map { case (_, ms) =>
      (ms.min, ms.length.toLong)
    }
    val expect = byComp.toSeq.sortBy { case (l, n) => (-n, l) }
    val got = q("q_graph_cc", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expect)
    assert(got.map(_._2).sum === members.length.toLong)
  }

  test("q_graph_kcore matches a driver-side peel and 12 rounds suffice at sf0.1") {
    import org.apache.spark.sql.functions.col
    // Driver-side converge-to-fixpoint 2-core peel over the same edges.
    val e0 = ops.Tables.t(spark, sf0001, "orders")
      .filter(col("o_totalprice") > 450000)
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey") && col("l_quantity") >= 47)
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct().collect()
      .map(r => (s"c${r.getLong(0)}", s"s${r.getLong(1)}"))
    var es = (e0 ++ e0.map(_.swap)).toSet
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (n, xs) => n -> xs.size }
      val keep = deg.collect { case (n, c) if c >= 2 => n }.toSet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      changed = next != es
      es = next
    }
    val expect = es.groupBy(_._1)
      .map { case (n, xs) => (n, xs.size.toLong) }.toSeq.sortBy(_._1)
    val got = q("q_graph_kcore", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expect)
    assert(got.forall(_._2 >= 2), "every 2-core member needs in-core degree >= 2")
    // Fixed-round sufficiency where it's sharpest: the LARGEST fixture
    // (measured peel depth 11) — round 13 must change nothing vs 12.
    // Peeling is monotone, so equality here proves the declared 12 is
    // at (or past) the fixpoint for every smaller fixture too.
    val sf01 = "/root/testdata/sf0.1"
    if (new java.io.File(sf01).isDirectory) {
      val big = ops.Tables.t(spark, sf01, "orders")
        .filter(col("o_totalprice") > 450000)
        .join(ops.Tables.t(spark, sf01, "lineitem"),
          col("o_orderkey") === col("l_orderkey") && col("l_quantity") >= 47)
        .select(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("c"),
            col("o_custkey").cast("string")).as("src"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("s"),
            col("l_suppkey").cast("string")).as("dst"))
        .distinct()
      val sym = big.unionByName(
        big.select(col("dst").as("src"), col("src").as("dst")))
      def core(r: Int): Set[(String, String)] =
        ops.GraphOps.kcoreEdges(sym, 2, r).collect()
          .map(x => (x.getString(0), x.getString(1))).toSet
      assert(core(12) === core(13),
        "12 peel rounds must reach the sf0.1 fixpoint")
    }
  }

  test("q_graph_cc_star is the size distribution of q_graph_cc's census") {
    // The two declared CC rows are projections of ONE memoized
    // converged labeling (GraphOps.ccStarLabels); this pins that the
    // size-distribution row is exactly the census re-aggregated, so
    // the sharing can never drift the outputs apart.
    val census = q("q_graph_cc", sf0001).collect().map(_.getLong(1))
    val expect = census.groupBy(identity)
      .map { case (n, xs) => (n, xs.length.toLong) }.toSeq.sortBy(_._1)
    val got = q("q_graph_cc_star", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect)
  }

  test("q_agg_bloom: zero false negatives, bounded false-positive rate") {
    // The Bloom guarantee as laws: a member can NEVER miss (its k
    // positions were all set during the build), and at the fixture's
    // load factor (n=27 members into m=4096 bits at sf0.001) the fp
    // rate stays far under 5%. The exact fp ROWS are covered by the
    // DuckDB differential; these laws pin the semantics the
    // differential can't express (no-miss ∀ member). microDir has NO
    // qualifying order — the EMPTY-filter edge: zero bits set, every
    // probe must come back negative.
    for (dir <- Seq(sf0001, microDir)) {
      val rows = q("q_agg_bloom", dir).collect()
        .map(r => (r.getBoolean(1), r.getBoolean(2)))
      assert(rows.nonEmpty)
      assert(rows.forall { case (member, hit) => !member || hit },
        "a true member must never miss the filter")
      val nonMembers = rows.count(!_._1)
      val fps = rows.count { case (m, h) => !m && h }
      assert(nonMembers > 0, "fixture must exercise non-members")
      assert(fps.toDouble / nonMembers < 0.05,
        s"fp rate $fps/$nonMembers exceeds the sized-for bound")
    }
  }

  test("q_graph_lpa strictly refines connected components on the fixture graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Refinement law on the fixture: every LPA community must lie
    // INSIDE one connected component (LPA labels only ever travel
    // along edges, so a community spanning two components is
    // impossible — a violation means the vote join corrupted node
    // identity). Checked per NODE, not per census row.
    val lpaNodes = {
      val e0 = spark.sql(
        s"""SELECT DISTINCT concat('c', o_custkey) AS src,
                            concat('s', l_suppkey) AS dst
            FROM parquet.`$sf0001/orders.parquet` o
            JOIN parquet.`$sf0001/lineitem.parquet` l
              ON o_orderkey = l_orderkey
            WHERE o_totalprice > 450000 AND l_quantity >= 47""")
      val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
      ops.GraphOps.lpaLabels(edges, 8)
    }
    // CC labels over the same edge set via the star engine.
    val e0 = spark.sql(
      s"""SELECT DISTINCT concat('c', o_custkey) AS u,
                          concat('s', l_suppkey) AS v
          FROM parquet.`$sf0001/orders.parquet` o
          JOIN parquet.`$sf0001/lineitem.parquet` l
            ON o_orderkey = l_orderkey
          WHERE o_totalprice > 450000 AND l_quantity >= 47""")
    val cc = ops.GraphOps.ccStar(e0)._1.toDF("node", "comp")
    val spans = lpaNodes.join(cc, "node")
      .groupBy($"lbl").agg(countDistinct($"comp").as("ncomp"))
      .where($"ncomp" > 1).count()
    assert(spans === 0L, "an LPA community must never span two components")
    // And LPA is strictly finer than CC on this graph (real
    // sub-component structure, not a relabeled CC).
    val nLpa = lpaNodes.select($"lbl").distinct().count()
    val nCc = cc.select($"comp").distinct().count()
    assert(nLpa > nCc, s"expected finer communities: lpa=$nLpa cc=$nCc")
  }

  test("q_text_bpetrain: greedy merge table is prefix-stable and strictly ordered") {
    // Greedy BPE can't rewrite history: training R+1 rounds must agree
    // with training R rounds on the first R merges (any disagreement
    // means a round's merge leaked into an earlier round's census).
    val m4 = graft.ops.TextOps.bpeTrain(spark, sf0001, 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val m5 = graft.ops.TextOps.bpeTrain(spark, sf0001, 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m5.take(4).toSeq === m4.toSeq, "merge-table prefix must be stable")
    // Counts never increase round over round: a merge can only remove
    // occurrences of OTHER pairs, and the argmax is over what's left.
    m5.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4, s"round ${b._1} count ${b._4} exceeds ${a._4}")
    }
    // Later rounds may merge MULTI-character symbols (the thing the
    // one-shot q_text_bpe census can't learn) — at sf0.001 round 5
    // within the first five merges already does on this fixture; pin
    // loosely: at least the table is non-trivial.
    assert(m5.map(t => (t._2, t._3)).distinct.length === 5,
      "five distinct learned merges")
  }

  test("q_text_bpeapply: census symbols are chars or learned merges, counts bounded") {
    // The tokenizer-inference census is only allowed to contain the
    // alphabet the training loop produced: single chars, or exactly a
    // merge round's pa+pb (each round mints ONE new symbol). And a
    // learned symbol's final count can never exceed its count at merge
    // time — later merges only CONSUME occurrences (by folding them
    // into bigger symbols), never create them.
    // Two rounds can mint the SAME string via different splits
    // ((a,bc) and (ab,c) both yield "abc"); every final occurrence
    // traces to exactly one creation event, so the bound sums per key.
    val merges = graft.ops.TextOps.bpeTrain(spark, sf0001, 12).collect()
      .map(r => (r.getString(1) + r.getString(2), r.getLong(3)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val census = graft.ops.TextOps.bpeApply(spark, sf0001, 12).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(census.nonEmpty && census.length <= 30)
    // Ordered by (n desc, sym) — the top-k contract.
    census.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1),
        s"census order violated at $a, $b")
    }
    census.foreach { case (sym, n) =>
      assert(n > 0)
      if (sym.length > 1) {
        assert(merges.contains(sym),
          s"multi-char symbol '$sym' is not a learned merge")
        assert(n <= merges(sym),
          s"'$sym' final count $n exceeds merge-time count ${merges(sym)}")
      }
    }
  }

  test("q_win_twavg: bounded by min/max value and exact on a hand fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Convexity: a time-weighted average must sit inside the user's
    // snapped value range.
    val bounds = ops.Tables.t(spark, sf0001, "events")
      .groupBy($"user_id").agg(
        (floor(min($"value") * 100 + 0.5) / 100).as("lo"),
        (floor(max($"value") * 100 + 0.5) / 100).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val rows = q("q_win_twavg", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (u, tw) = (r.getLong(0), r.getDouble(3))
      val (lo, hi) = bounds(u)
      assert(tw >= lo - 1e-4 && tw <= hi + 1e-4,
        s"user $u: twavg $tw outside [$lo, $hi]")
      assert(r.getLong(2) > 0)
    }
    // Hand fixture on the micro events (user 7: values 1,2,3,4 held
    // 10 s / 2390 s / 60 s, last event zero-weight):
    // twavg = (1·10 + 2·2390 + 3·60) / 2460 = 4970/2460.
    val micro = q("q_win_twavg", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = math.floor(497000.0 / 2460 / 100.0 * 1e4 + 0.5) / 1e4
    assert(micro.toSeq === Seq((7L, 3L, 2460L, expect)),
      s"micro twavg mismatch: ${micro.toSeq} vs $expect")
  }

  test("q_sim_hardneg: negatives differ in label, margin is the snapped gap") {
    import spark.implicits._
    val labels = ops.Tables.t(spark, sf0001, "embeddings")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = q("q_sim_hardneg", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, neg, pos) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(labels(neg) !== labels(qid),
        s"query $qid: hard negative $neg shares its label")
      assert(labels(pos) === labels(qid),
        s"query $qid: top positive $pos has a different label")
      val expect =
        math.floor((r.getDouble(4) - r.getDouble(2)) * 1e4 + 0.5) / 1e4
      assert(r.getDouble(5) === expect, s"query $qid margin mismatch")
    }
  }

  test("q_text_fertility: bounded per language and conserves the corpus census") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = q("q_text_fertility", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nw, nt, f) =>
      assert(nt >= nw, s"$lang: fewer tokens than words")
      assert(f >= 1.0 && f < 30.0, s"$lang: implausible fertility $f")
      val expect = math.floor(nt.toDouble / nw * 1e4 + 0.5) / 1e4
      assert(f === expect, s"$lang: fertility $f != $expect")
    }
    // Conservation: the per-lang census sums to the corpus word count
    // (every ≥2-char word tokenizes to ≥1 symbol, exactly once).
    val corpusWords = ops.Tables.t(spark, sf0001, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .where(length($"w") >= 2).count()
    assert(rows.map(_._2).sum === corpusWords)
  }

  test("round-10 operators on the micro fixture: edge semantics") {
    // prefpairs: every micro context has exactly one purchase — no
    // pair may be invented from a singleton context.
    assert(q("q_pipe_prefpairs", microDir).count() === 0L)
    // cusum: a single-event user has dev ≡ 0, so its peak CUSUM is 0
    // (kept, not dropped) and the changepoint is its only event.
    val cu = q("q_win_cusum", microDir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(cu.keySet === Set(7L, 99L))
    assert(cu(99L) === ((0.0, 5L)))
    // theta grid on countable rows: supplier balances {150, 50} vs
    // customer balances {100, 200, 200, 50} → exactly the pairs
    // 150>100 and 150>50, avg gap (50+100)/2 = 75.
    val tg = ops.Joins.thetaGrid(spark, microDir, 4, 4).collect()(0)
    assert(tg.getLong(0) === 2L && tg.getDouble(1) === 75.0)
    // decimal aggregation: exact decimal partials INTERNALLY, DOUBLE
    // in the output (r11/r12): the driver hash canonicalizes DECIMAL
    // values per-engine even at identical widths and values, so the
    // FINAL money columns are cast to double — value-exact because
    // every value is a whole number of cents < 2^53. The pin: output
    // type is double AND the cents are exact.
    val decDf = q("q_agg_decimal", microDir)
    assert(decDf.schema("sum_price").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val dec = decDf.collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(dec("1-URGENT") === 100.0)
    assert(dec("2-HIGH") === 200.0)
    assert(dec("5-LOW") === 300.0)
  }

  test("q_join_theta_grid is grid-invariant: (1,1) ≡ (4,4) ≡ (8,2)") {
    // The 1-Bucket-Theta property: every pair meets in exactly one
    // cell, so the aggregate cannot depend on the tiling — (1,1) is
    // the plain cross product, the others are genuinely partitioned.
    val shapes = Seq((1, 1), (4, 4), (8, 2))
    val results = shapes.map { case (r, c) =>
      val row = graft.ops.Joins.thetaGrid(spark, sf0001, r, c).collect()(0)
      (row.getLong(0), row.getDouble(1))
    }
    assert(results(0)._1 > 0, "fixture must produce qualifying pairs")
    assert(results.distinct.size === 1,
      s"grid shape changed the result: ${shapes.zip(results)}")
  }

  test("q_sim_hybrid: RRF is exactly the rank formula, ordered, ranks bounded") {
    val rows = q("q_sim_hybrid", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { case (id, rrf, lr, vr) =>
      assert(lr.isDefined || vr.isDefined, s"doc $id retrieved by neither leg")
      Seq(lr, vr).flatten.foreach(r => assert(r >= 1 && r <= 20))
      val expect = math.floor(
        (lr.map(r => 1.0 / (r + 60)).getOrElse(0.0)
          + vr.map(r => 1.0 / (r + 60)).getOrElse(0.0)) * 1e6 + 0.5) / 1e6
      assert(math.abs(rrf - expect) < 1e-12, s"doc $id: rrf $rrf != $expect")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1),
        s"fusion order violated at $a, $b")
    }
    // Each leg contributes at most one doc per rank: ranks are unique.
    Seq(rows.flatMap(_._3), rows.flatMap(_._4)).foreach(rs =>
      assert(rs.distinct.length === rs.length, "duplicate rank in a leg"))
  }

  test("q_win_cusum window algebra equals the Page recursion, per user") {
    // The query computes s_i = cum_i − min(0, min cum_j) with windows;
    // the DEFINITION is the recursion s_i = max(0, s_{i-1} + dev_i).
    // Recompute the recursion driver-side on the same snapped cents
    // and check peak value and earliest-argmax event both match.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = q("q_win_cusum", sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val ev = ops.Tables.t(spark, sf0001, "events")
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(got.keySet === ev.keySet)
    ev.foreach { case (u, rows) =>
      // ts sorts at full microsecond precision (getTime drops micros).
      val xs = rows.sortBy(r =>
        (r._2.toInstant.getEpochSecond, r._2.getNanos, r._3))
      val n = xs.length.toLong
      val sc = xs.map(_._4).sum
      var s = 0L
      var best = 0L
      var bestEv = xs.head._3
      xs.foreach { case (_, _, eid, c) =>
        s = math.max(0L, s + (c * n - sc))
        if (s > best) { best = s; bestEv = eid }
      }
      val (gotMax, gotEv) = got(u)
      val expect = math.floor(best / (n * 100.0) * 1e4 + 0.5) / 1e4
      assert(math.abs(gotMax - expect) < 1e-9,
        s"user $u: cusum $gotMax != recursion $expect")
      if (best > 0)
        assert(gotEv === bestEv, s"user $u: changepoint $gotEv != $bestEv")
    }
  }

  test("q_pipe_prefpairs: chosen strictly beats rejected within its context") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = q("q_pipe_prefpairs", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val vals = ops.Tables.t(spark, sf0001, "events")
      .where($"event_type" === "purchase")
      .select($"event_id", $"value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (u, chosen, rejected, margin) =>
      assert(chosen != rejected, s"user $u: degenerate pair")
      assert(vals(chosen) > vals(rejected),
        s"user $u: chosen ${vals(chosen)} !> rejected ${vals(rejected)}")
      assert(margin > 0.0)
      val expect =
        math.floor((vals(chosen) - vals(rejected)) * 100 + 0.5) / 100
      assert(math.abs(margin - expect) < 1e-9)
    }
  }

  test("q_multimodal_dedup cap=1 prunes every shared-chunk block (mechanism)") {
    // A pair needs ≥ 3 shared (offset, hash) blocks, and every shared
    // block holds ≥ 2 payloads — so with cap=1 every candidate source
    // is pruned and the join MUST emit nothing. This is the knob that
    // bounds a boilerplate header shared by millions of assets.
    assert(graft.ops.ExtOps.mmChunkPairs(spark, sf0001, 1).count() === 0L)
    // And the declared cap (1000) is far above any fixture block, so
    // the capped join equals the uncapped definition the oracle states.
    val capped = graft.ops.ExtOps.mmChunkPairs(spark, sf0001, 1000).collect()
    val uncapped =
      graft.ops.ExtOps.mmChunkPairs(spark, sf0001, Int.MaxValue).collect()
    assert(capped.map(_.toString).toSeq === uncapped.map(_.toString).toSeq)
  }

  test("q_multimodal_dedup: pairs share aligned chunks, scores bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = q("q_multimodal_dedup", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "fixture must contain aligned-chunk near-dups")
    val nch = ops.Tables.t(spark, sf0001, "documents")
      .select($"doc_id", ceil(length($"text") / 32.0).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (a, b, shared, frac) =>
      assert(a < b, "pairs must be emitted in one orientation")
      assert(shared >= 3 && shared <= math.min(nch(a), nch(b)),
        s"($a,$b): $shared shared vs chunks ${nch(a)}/${nch(b)}")
      assert(frac > 0.0 && frac <= 1.0)
      // frac is exactly shared / min(chunks), half-up on the 1e-4 grid.
      val expect =
        math.floor(shared.toDouble / math.min(nch(a), nch(b)) * 1e4 + 0.5) / 1e4
      assert(math.abs(frac - expect) < 1e-9, s"($a,$b): frac $frac != $expect")
    }
  }

  test("q_agg_ohlc: bar invariants hold and the census conserves events") {
    import spark.implicits._
    val rows = q("q_agg_ohlc", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h && l <= c && c <= h,
        s"bar invariant violated: open=$o high=$h low=$l close=$c")
      assert(r.getLong(6) >= 1L)
    }
    val total = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(rows.map(_.getLong(6)).sum === total,
      "every event must land in exactly one (user, day) bar")
  }

  test("q_win_drawdown: bounded in [0,1]; peak equals the user's max value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = q("q_win_drawdown", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // <= 1.0, not < 1.0: the query's half-up 1e-4 grid rounds any
    // ratio >= 0.99995 to exactly 1.0, so a fixture with a large
    // peak-to-trough ratio legitimately touches the bound.
    assert(rows.forall { case (_, dd, _) => dd >= 0.0 && dd <= 1.0 },
      "drawdown is a fraction of a positive running peak")
    // The final running max IS the user's overall max.
    val peaks = spark.read.parquet(s"$sf0001/events.parquet")
      .groupBy($"user_id")
      .agg((floor(max($"value") * 100 + 0.5) / 100).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (u, _, peak) => assert(peak === peaks(u)) }
  }

  test("q_sim_cluster: census conserves vectors; clusters sit inside kNN components") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Conservation: every vector lands in exactly one cluster.
    val census = q("q_sim_cluster", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(census.map(_._2).sum === total,
      "cluster census must conserve the vector count")
    // Containment: a cluster label only ever travels along kNN-graph
    // edges, so no LPA cluster may span two connected components of
    // the SAME graph the query built.
    val edges = ops.SimOps.simKnnEdges(spark, sf0001)
    val cc = ops.GraphOps
      .ccStar(edges.where($"src" < $"dst")
        .select($"src".cast("string").as("u"), $"dst".cast("string").as("v")))
      ._1.toDF("node", "comp")
    val lab = ops.GraphOps.lpaLabels(edges, 4)
      .select($"node".cast("string").as("node"), $"lbl")
    val spans = lab.join(cc, "node")
      .groupBy($"lbl").agg(countDistinct($"comp").as("nc"))
      .where($"nc" > 1).count()
    assert(spans === 0L, "an LPA cluster must never span two components")
  }

  test("q_text_bpe_serve: frozen-vocab tokenization matches a driver recount") {
    import org.apache.spark.sql.functions._
    // Recount from the SAME frozen artifact the query serves from —
    // this checks the serve-side join/fallback/census logic
    // independently of the SQL oracle's full retrain.
    val vocab = ops.TextOps.bpeVocab(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val batch = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") < 300)
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val expect = batch.groupBy(_._1).map { case (lang, ws) =>
      val ntok = ws.map { case (_, w) => vocab.getOrElse(w, w.length) }
      lang -> (ws.length.toLong, ntok.map(_.toLong).sum,
        ws.count { case (_, w) => !vocab.contains(w) }.toLong)
    }
    val got = q("q_text_bpe_serve", sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expect, "per-lang word/token/OOV census must match")
    // OOV fallback is genuinely exercised: 1-char words are outside
    // the trained vocab (training keeps len >= 2).
    assert(got.values.map(_._3).sum > 0, "batch must contain OOV words")
  }

  test("q_sim_maxsim: dominates the aligned full-vector dot; matches a recount") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def subdot(a: Array[Float], b: Array[Float], t: Int): Double = {
      var s = 0.0; var i = t * 16
      while (i < (t + 1) * 16) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qe = vecs(0L)
    // Driver recount of the full MaxSim census: per doc, Σ over query
    // tokens of the max over that DOC's tokens (q-slice tq · d-slice
    // td), r4 per dot.
    val perDoc = vecs.collect { case (v, ev) if v != 0L =>
      v -> r4((0 until 4).map { tq =>
        (0 until 4).map { td =>
          var s = 0.0; var i = 0
          while (i < 16) {
            s += ev(td * 16 + i).toDouble * qe(tq * 16 + i).toDouble
            i += 1
          }
          r4(s)
        }.max
      }.sum)
    }
    val got = q("q_sim_maxsim", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expectTop = perDoc.toSeq.sortBy { case (v, m) => (-m, v) }.take(10)
    assert(got === expectTop, s"got $got\nexpected $expectTop")
    // Structural bound: each per-query-token max dominates its
    // ALIGNED slice dot, so MaxSim ≥ the full-vector dot (as the sum
    // of aligned r4 slice dots).
    got.foreach { case (v, m) =>
      val aligned = r4((0 until 4).map(t => r4(subdot(vecs(v), qe, t))).sum)
      assert(m >= aligned - 1e-9,
        s"doc $v: maxsim $m below its aligned-slice sum $aligned")
    }
  }

  test("q_text_bm25_serve: the materialized index serves q_text_bm25's ranking") {
    // Same query terms, same k — the persisted-index path must
    // reproduce the recompute-everything row. Scores may differ only
    // by the serve path's per-contribution micro-nat rounding
    // (≤ 3·5e-7 before the shared 1e-4 floor), so doc order and
    // floored scores are equal on the fixture.
    val fresh = q("q_text_bm25", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = q("q_text_bm25_serve", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.map(_._1) === fresh.map(_._1),
      "served ranking must equal the fresh BM25 ranking")
    served.zip(fresh).foreach { case ((_, sv), (_, fv)) =>
      assert(math.abs(sv - fv) <= 1e-4 + 1e-12,
        s"served score drifted: $sv vs $fv")
    }
  }

  test("q_graph_butterfly: matches an exact driver-side motif recount") {
    import org.apache.spark.sql.functions._
    // Independent exact recount: collect the bipartite edge list,
    // count shared suppliers per customer pair... no — per SUPPLIER
    // pair via each customer's supplier set, then m·(m−1)/2 per pair
    // credited to both corners.
    val edges = ops.Tables.t(spark, sf0001, "orders")
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val m = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((_, sups) <- byCust; i <- sups.indices; j <- (i + 1) until sups.size)
      m((sups(i), sups(j))) += 1
    val part = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    for (((a, b), cnt) <- m if cnt >= 2; s <- Seq(a, b)) {
      val (p, bf) = part(s)
      part(s) = (p + 1, bf + cnt * (cnt - 1) / 2)
    }
    val expect = part.toSeq
      .sortBy { case (s, (_, bf)) => (-bf, s) }.take(10)
      .map { case (s, (p, bf)) => (s, p, bf) }
    val got = q("q_graph_butterfly", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
    assert(got.exists(_._3 > 0), "fixture must contain butterflies")
  }

  test("q_graph_betweenness: matches exact driver-side Brandes on the fixture") {
    import org.apache.spark.sql.functions._
    // Exact Brandes (double-precision dependency accumulation) from
    // the SAME 4 hash-chosen pivots, over the collected fixture graph
    // — an independent implementation of the estimator the query
    // computes in micro-units.
    val edges = ops.GraphOps.tradeEdges(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val nodes = adj.keys.toSeq.sorted
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val pivots = nodes.sortBy(n => (h60(n), n)).take(4)
    val delta = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    for (s <- pivots) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sig = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
      var frontier = Seq(s)
      val order = scala.collection.mutable.ArrayBuffer(s)
      while (frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet.empty[String]
        for (u <- frontier; v <- adj(u)) {
          if (!dist.contains(v)) { dist(v) = dist(u) + 1; next += v }
          if (dist(v) == dist(u) + 1) sig(v) += sig(u)
        }
        frontier = next.toSeq
        order ++= frontier
      }
      // Depth-sufficiency half of the law: the query unrolls 4 BFS
      // hops — a regenerated deeper fixture must fail HERE.
      assert(dist.values.max <= 4, s"pivot $s eccentricity exceeds 4 hops")
      val dep = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj(w) if dist.get(v).contains(dist(w) - 1))
        dep(v) += sig(v).toDouble / sig(w) * (1.0 + dep(w))
      for ((v, dv) <- dep if v != s) delta(v) += dv
    }
    val n = nodes.size
    val exact = delta.toSeq
      .map { case (v, dv) => v -> n / 8.0 * dv }
      .sortBy { case (v, b) => (-b, v) }.take(20)
    val got = q("q_graph_betweenness", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got.length === 20)
    // The query's micro-unit rounding perturbs each value by well
    // under 1e-2 at fixture scale; names may swap only across a
    // near-tie, so compare values positionally with that tolerance
    // and the sets of names for agreement.
    got.zip(exact).foreach { case ((_, gb), (_, eb)) =>
      assert(math.abs(gb - eb) < 0.05, s"betweenness drifted: $gb vs $eb")
    }
    assert(got.map(_._1).toSet === exact.map(_._1).toSet,
      "top-20 membership must match the exact recount")
  }

  test("q_dedup_substr_exact: matches brute force; windowed marks are a subset") {
    import org.apache.spark.sql.functions._
    // Brute-force ground truth at sf0.001, driver-side on raw text:
    // stride-1 30-char windows occurring >= 2 times anywhere mark
    // covered characters; maximal runs are the expected spans. This
    // is exact by the coverage equivalence (see substrExactSpans) and
    // shares NOTHING with the query's doubling-class construction.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val winCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - 30)
      winCount.updateWith(t.substring(i, i + 30))(c => Some(c.getOrElse(0) + 1))
    val covered: Map[Long, Set[Int]] = docs.map { case (id, t) =>
      id -> (0 to t.length - 30).iterator
        .filter(i => winCount(t.substring(i, i + 30)) >= 2)
        .flatMap(i => i until i + 30).toSet
    }
    def runs(s: Set[Int]): Seq[(Int, Int)] = { // (1-based start, len)
      val sorted = s.toSeq.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- sorted) out.lastOption match {
        case Some((st, ln)) if st - 1 + ln == p => out(out.size - 1) = (st, ln + 1)
        case _ => out += ((p + 1, 1))
      }
      out.toSeq
    }
    val expected = covered.toSeq.filter(_._2.nonEmpty)
      .flatMap { case (id, s) => runs(s).map { case (st, ln) => (id, st.toLong, ln.toLong) } }
      .sorted
    val got = q("q_dedup_substr_exact", sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).toSeq.sorted
    assert(got === expected, "spans must equal the brute-force maximal runs")
    assert(got.nonEmpty, "fixture must contain duplicated spans")
    // Subset law vs the windowed sibling: its stride-grid windows
    // (duplicated across >= 2 DISTINCT docs — strictly stronger than
    // the exact row's >= 2 occurrences) may only ever mark characters
    // the exact row also marks.
    val strideCount = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, t) <- docs if id < 1000 && t.length >= 30;
         k <- 0 to (t.length - 30) / 10)
      strideCount.updateWith(t.substring(k * 10, k * 10 + 30))(
        ds => Some(ds.getOrElse(Set.empty) + id))
    for ((id, t) <- docs if id < 1000 && t.length >= 30;
         k <- 0 to (t.length - 30) / 10
         if strideCount(t.substring(k * 10, k * 10 + 30)).size >= 2;
         p <- k * 10 until k * 10 + 30)
      assert(covered(id).contains(p),
        s"windowed mark (doc $id, char $p) missing from exact coverage")
  }

  test("substrExactSpans: merge/gap/within-doc boundaries on a handcrafted corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Handcrafted corpus pinning the exact span-coalescing boundaries
    // the fixture can't guarantee to hit:
    //  - docs 0/1 share a 40-char block at different offsets
    //    (misaligned vs any stride grid — the windowed sibling's miss
    //    case) → ONE maximal span of exactly 40 chars in each;
    //  - doc 2 contains the SAME 30-char block twice WITHIN one doc,
    //    separated by 31 unique chars (gap > 30 ⇒ two separate spans
    //    — the published tool's within-doc repeat semantics);
    //  - doc 3 is all-unique → no spans;
    //  - docs 4/5 differ only in é vs è at the middle of 43 chars, so
    //    every 30-char window covers it: no spans, as long as ascii()
    //    gives each char its own code point (a first-UTF-8-byte
    //    ascii() maps both to 195 and would report a 43-char span).
    val cp = Seq("é", "è", "あ").toDF("c").select(ascii($"c"))
      .as[Int].collect().toSeq
    assert(cp === Seq(233, 232, 12354), "ascii() must return code points")
    val A = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMN" // 40 shared chars
    val d0 = "Q" * 7 + A + "R" * 9
    val d1 = "S" * 13 + A + "T" * 5
    val B = A.take(30)
    val d2 = B + "u0v1w2x3y4z5u6v7w8x9y0z1u2v3w4x" + B // 31-char gap
    val C = "mnopqrstuvwxyz012345あ"
    val docs = Seq(
      (0L, d0), (1L, d1), (2L, d2),
      (3L, "9876543210fedcba!@#$%^&*()ZYXWVUTSRQPONMLKJIHG"),
      (4L, C + "é" + C.reverse), (5L, C + "è" + C.reverse))
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = ops.ExtOps.substrExactSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).sorted.toSeq
    // d0: A occupies 1-based [8, 47]; d1: [14, 53]; d2: B at [1, 30]
    // and again at [62, 91] — two spans (gap 31 > 30 keeps them
    // apart); d3, d4, d5: nothing.
    assert(spans === Seq(
      (0L, 8L, 40L), (1L, 14L, 40L),
      (2L, 1L, 30L), (2L, 62L, 30L)),
      s"got: $spans")
  }

  test("q_dedup_substr_cut: clean text is exactly the uncovered characters") {
    import org.apache.spark.sql.functions._
    // Independent reconstruction: brute-force covered sets (stride-1
    // windows occurring >= 2 times corpus-wide), clean text = the
    // complement characters in order.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val winCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - 30)
      winCount.updateWith(t.substring(i, i + 30))(c => Some(c.getOrElse(0) + 1))
    val expect = docs.toSeq.filter(_._1 < 40).flatMap { case (id, t) =>
      val covered = (0 to t.length - 30)
        .filter(i => winCount(t.substring(i, i + 30)) >= 2)
        .flatMap(i => i until i + 30).toSet
      val clean = t.indices.filterNot(covered).map(t.charAt).mkString
      // docs with no spans, or fully covered, emit no row
      if (covered.isEmpty || clean.isEmpty) None
      else Some(id -> (t.length.toLong, clean.length.toLong, clean))
    }.toMap
    val got = q("q_dedup_substr_cut", sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
          r.getString(4))).toMap
    assert(got === expect,
      s"surgery drifted from the brute-force reconstruction")
    assert(got.nonEmpty, "fixture must contain cut documents")
  }

  test("q_sim_nndescent: one round strictly improves recall@3 over the cell pass") {
    import org.apache.spark.sql.functions._
    // Ground truth: brute-force top-3 per vector on the SAME rounded
    // sim + vb tie-break, recomputed driver-side from the raw vectors.
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sim(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      math.floor(s * 1e4 + 0.5) / 1e4
    }
    val truth: Map[Long, Set[Long]] = vecs.map { case (v, ev) =>
      v -> vecs.keysIterator.filter(_ != v).toSeq
        .sortBy(u => (-sim(ev, vecs(u)), u)).take(3).toSet
    }
    def recall(edges: Map[Long, Set[Long]]): Int =
      truth.iterator.map { case (v, t) =>
        (edges.getOrElse(v, Set.empty) & t).size }.sum
    val base = ops.SimOps.cellKnn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val refined = q("q_sim_nndescent", sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val (rb, rr) = (recall(base), recall(refined))
    // Measured on this fixture: 87 → 267 of 1500. The strict
    // inequality is the round's whole claim (Dong et al.'s
    // convergence, observable after one round) — if a regenerated
    // fixture ever lands geometrically degenerate, this fails the
    // spec, not the differential.
    assert(rr > rb, s"refined recall@3 ($rr) must beat cell-pass ($rb)")
  }

  test("ccStar labels a 12-node path n00 in log rounds") {
    // A 12-node path has diameter 11, where one-hop label propagation
    // needs ~11 rounds; the star scheme must contract it to its
    // minimum in O(log) rounds. Known answer: one component, label
    // n00 on all 12 nodes. ccStar takes the directed edge half (it
    // canonicalizes internally).
    import spark.implicits._
    val (starLab, starRounds) = ops.GraphOps.ccStar(
      (0 until 11).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("u", "v"))
    val star = starLab.collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    assert(star === (0 until 12).map(i => (f"n$i%02d", "n00")),
      s"all labels must reach n00: $star")
    assert(starRounds <= 8,
      s"large/small-star must converge in O(log) rounds, took $starRounds")
  }

  test("q_join_interval first-cell rule equals naive grid join + distinct") {
    // The law behind the dedup-free grid join: counting a pair only
    // in cell max(startCell(a), startCell(b)) yields exactly the
    // per-pair-once census a naive all-shared-cells join needs a
    // distinct to reach. Runs against the SHARED candidate builder
    // the query itself uses (ops.Joins.intervalCandidates), so the
    // law covers the shipped grid parameters, at sf0.001.
    import org.apache.spark.sql.functions._
    val shared = ops.Joins.intervalCandidates(spark, sf0001)
    // The documented ≤2-cells-per-row explode bound requires the cell
    // width to dominate the max synthetic interval length (29 days).
    assert(ops.Joins.IntervalCellDays >= 29)
    val firstCell = shared
      .where(col("cell") === greatest(col("ca0"), col("cb0")))
      .groupBy(col("sk")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = shared.select(col("sk"), col("ida"), col("idb")).distinct()
      .groupBy(col("sk")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(firstCell === naive)
    assert(firstCell.nonEmpty && firstCell.values.sum > 0)
  }

  test("q_text_lmbucket partitions each language and orders bucket means") {
    import spark.implicits._
    val rows = q("q_text_lmbucket", sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val perLang = rows.groupBy(_._1)
    val docs = ops.Tables.t(spark, sf0001, "documents")
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, bs) =>
      // The buckets partition the language's documents...
      assert(bs.map(_._3).sum === docs(lang), s"lang=$lang")
      // ...and their means are ordered tail ≤ middle ≤ head (the
      // cutoffs are score terciles, so this must hold by construction).
      val m = bs.map(b => b._2 -> b._4).toMap
      for (t <- m.get("tail"); mid <- m.get("middle")) assert(t <= mid)
      for (mid <- m.get("middle"); h <- m.get("head")) assert(mid <= h)
    }
    assert(perLang.nonEmpty)
  }

  test("q_win_interp matches a driver-side lerp recount; boundaries refuse") {
    // Recompute the whole interpolation at sf0.001 on the driver:
    // per-user ts-ordered scan, nearest known neighbors, exact lerp.
    import spark.implicits._
    val ev = ops.Tables.t(spark, sf0001, "events")
      .select($"user_id", $"ts", $"event_type", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000,
        r.getString(2), r.getDouble(3)))
    val expect = ev.groupBy(_._1).map { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      val vis = sorted.indices.filter(i => sorted(i)._3 == "error").map { i =>
        val prev = (i - 1 to 0 by -1).find(j => sorted(j)._3 != "error")
        val next = (i + 1 until sorted.length).find(j => sorted(j)._3 != "error")
        (prev, next) match {
          case (Some(p), Some(n)) =>
            val (tp, vp) = (sorted(p)._2, sorted(p)._4)
            val (tn, vn) = (sorted(n)._2, sorted(n)._4)
            Some(vp + (vn - vp) * ((sorted(i)._2 - tp).toDouble / (tn - tp)))
          case _ => None
        }
      }
      val interp = vis.flatten
      (u, (vis.length.toLong, interp.length.toLong,
        if (interp.isEmpty) None else Some(interp.sum / interp.length)))
    }
    val got = q("q_win_interp", sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got.keySet === expect.map(_._1).toSet)
    expect.foreach { case (u, (nm, ni, avg)) =>
      val (gm, gi, gavg) = got(u)
      assert(gm === nm && gi === ni, s"user $u counts")
      (avg, gavg) match {
        case (Some(a), Some(g)) =>
          // r4-floored on the query side; driver sums in ts order, so
          // allow one grid step of reassociation slack.
          assert(math.abs(g - a) < 2e-4, s"user $u avg: $g vs $a")
        case (None, None) =>
        case other => fail(s"user $u avg mismatch: $other")
      }
    }
    // The boundary-refusal law must actually bite somewhere: at least
    // one user has an unrepairable gap (missing at series edge).
    assert(expect.exists { case (_, (nm, ni, _)) => nm > ni })
  }

  test("ccStar handles multi-component graphs and isolated stars") {
    // Three components with different shapes: a triangle + pendant, a
    // 2-node edge, and a 5-cycle — labels must be each component's
    // lexicographic min, sizes 4/2/5.
    import spark.implicits._
    val e0 = Seq(
      ("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("t3", "t4"),
      ("e9", "e8"),
      ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c5"), ("c5", "c1"))
      .toDF("u", "v")
    val (lab, _) = ops.GraphOps.ccStar(e0)
    val sizes = lab.groupBy($"lab").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(sizes.toSeq === Seq(("c1", 5L), ("e8", 2L), ("t1", 4L)))
  }

  test("q_dedup_semdedup matches a driver-side prototype-blocked recount") {
    // Full recount of the SemDeDup pipeline: nearest-prototype
    // assignment (1e-6 rounded dot, cid tie-break), in-cell pair scan
    // at the 1e-4 rounded 0.4 threshold, keep-lowest-id survivors.
    import spark.implicits._
    val e = ops.Tables.t(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = e.filter(_._1 < 8).sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.iterator.zip(b.iterator)
        .map { case (x, y) => x.toDouble * y.toDouble }.sum
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val asn = e.map { case (id, v) =>
      val (_, cid) = cents.map { case (c, cv) => (r6(dot(v, cv)), -c) }.max
      (-cid, id, v)
    }
    val expect = asn.groupBy(_._1).map { case (cid, xs) =>
      val dropped = (for {
        (_, va, ea) <- xs; (_, vb, eb) <- xs
        if va < vb && r4(dot(ea, eb)) >= 0.4
      } yield vb).toSet
      (cid.toInt, xs.length.toLong, dropped.size.toLong)
    }.toSeq.sortBy(_._1)
    val got = q("q_dedup_semdedup", sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    assert(got.map(_._2).sum === e.length.toLong,
      "every vector must land in exactly one prototype cell")
  }

  test("q_dedup_incremental matches a driver-side batch-vs-corpus Jaccard recount") {
    import org.apache.spark.sql.functions.col
    val docs = ops.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(text: String): Set[String] = {
      val w = text.split(" ")
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val byLang = docs.groupBy(_._2)
    val dropped = byLang.values.flatten.collect {
      case (id, lang, text) if id % 3 == 0 =>
        val sNew = shingles(text)
        val isDup = sNew.nonEmpty && byLang(lang).exists {
          case (oid, _, otext) if oid % 3 != 0 =>
            val sOld = shingles(otext)
            val inter = (sNew & sOld).size.toDouble
            sOld.nonEmpty &&
              inter / (sNew.size + sOld.size - inter) >= 0.6
          case _ => false
        }
        (id, lang, isDup)
    }.toSeq
    val expect = dropped.groupBy(_._2).map { case (lang, xs) =>
      (lang, xs.size.toLong, xs.count(_._3).toLong,
        (xs.size - xs.count(_._3)).toLong)
    }.toSeq.sortBy(_._1)
    assert(expect.map(_._3).sum >= 1,
      "fixture must contain at least one cross-batch near-dup")
    val got = q("q_dedup_incremental", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
  }

  test("q_pipe_groupsplit: no near-dup cluster (hence no pair) spans two splits") {
    import org.apache.spark.sql.functions.{coalesce, col, when}
    val s = spark
    import s.implicits._
    val members = ops.ExtOps.clusterMembers(spark, sf0001)
    val labeled = ops.Tables.t(spark, sf0001, "embeddings")
      .select($"vec_id")
      .join(members, Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"cluster", $"vec_id").as("cluster"))
      .withColumn("bucket", ops.Tables.h60($"cluster".cast("string")) % 100)
      .withColumn("split", when($"bucket" < 80, "train")
        .when($"bucket" < 90, "val").otherwise("test"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // The leakage guarantee, member-level: one split per cluster.
    labeled.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length === 1,
        s"cluster $c spans splits ${ms.map(_._3).distinct.toSeq}")
    }
    assert(labeled.groupBy(_._2).exists(_._2.length > 1),
      "fixture must contain at least one multi-member cluster")
    // And the declared rollup is exactly this assignment aggregated.
    val got = q("q_pipe_groupsplit", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = labeled.groupBy(_._3).map { case (sp, ms) =>
      (sp, ms.length.toLong, ms.map(_._2).distinct.length.toLong)
    }.toSeq.sortBy(_._1)
    assert(got === expect)
  }

  test("q_agg_quantile_approx: GK rank-error law per group vs the exact data") {
    import org.apache.spark.sql.functions.col
    // The sketch guarantees RANK error ≤ eps·n (eps = 1/accuracy),
    // not value error — so the law is on ranks: the returned value's
    // rank interval [#(< v)+1, #(<= v)] must overlap the target rank
    // q·n within eps·n (±1 for the discrete boundary).
    val vals = ops.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val got = q("q_agg_quantile_approx", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty && got.map(_._1).toSet === vals.keySet)
    val eps = 1.0 / ops.PipeOps.QuantileAcc
    got.foreach { case (flag, p50, p90) =>
      val xs = vals(flag); val n = xs.length
      def check(v: Double, q0: Double): Unit = {
        val lo = xs.count(_ < v) + 1
        val hi = xs.count(_ <= v)
        assert(hi >= lo, s"$flag q=$q0: returned $v is not a data value")
        val (tLo, tHi) = (q0 * n - eps * n - 1, q0 * n + eps * n + 1)
        assert(lo <= tHi && hi >= tLo,
          s"$flag q=$q0: rank [$lo,$hi] outside target [$tLo,$tHi] (n=$n)")
      }
      check(p50, 0.5); check(p90, 0.9)
    }
  }

  test("q_graph_pagerank_part agrees row-for-row with the broadcast strategy") {
    // The co-partitioned rank join must be semantics-free: same
    // ranks, same order, same rounding as q_graph_pagerank — the
    // strategy only changes where edge and rank rows meet.
    val a = q("q_graph_pagerank", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = q("q_graph_pagerank_part", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("capNeighbors: cap law at 1 and 2, identity above max degree, hash-deterministic") {
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (c, v) => c -> v.map(_._2).toSet }
    // Both paths: one partition under the small-plan rule, and the
    // distributed plan in a session where the rule does not fire.
    for ((ss, fires) <- Seq(spark -> true, distributedLoops -> false)) {
      import ss.implicits._
      // Customer 10 is a 4-supplier hub; the others are small.
      val in = ops.Tables.ck(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
          (20L, 1L), (20L, 5L), (30L, 9L))
        .toDF("c", "sup"))
      val full = lists(in)
      val (_, decided) = loopGates(ops.GraphOps.capNeighbors(in, 1).collect())
      assert(decided.nonEmpty && decided.forall(_.fired == fires), decided)
      def capped(cap: Int) = lists(ops.GraphOps.capNeighbors(in, cap))
      // cap=1: every list shrinks to one supplier → pairing yields none.
      val one = capped(1)
      assert(one.values.forall(_.size == 1) && one.keySet === full.keySet)
      // cap=2: the hub is cut to exactly 2, small lists untouched.
      val two = capped(2)
      assert(two(10L).size === 2 && two(10L).subsetOf(full(10L)))
      assert(two(20L) === full(20L) && two(30L) === full(30L))
      // cap above the max degree is the identity — the default regime
      // the declared query runs in at fixture scale.
      assert(capped(100) === full)
      // Hash-order selection is content-keyed: rerun agrees exactly.
      assert(capped(2) === two)
    }
  }

  test("bfsFrontiers counts the hop frontiers of a star-plus-chain graph") {
    import spark.implicits._
    // Star-plus-chain: hop 1 = the 4 spokes, hop 2 = {x2} (the chain
    // continues, a/b/c dead-end back into visited h), hop 3 = {x3} —
    // asymmetric enough that a wrong anti join changes a count.
    val edges0 = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("h", "x1"),
        ("x1", "x2"), ("x2", "x3"))
      .toDF("src", "dst")
    val edges = edges0.unionByName(
      edges0.select($"dst".as("src"), $"src".as("dst")))
    val seed = Seq("h").toDF("node")
    val got = ops.GraphOps.bfsFrontiers(edges, seed, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got === Seq((1, 4L), (2, 1L), (3, 1L)))
  }

  test("q_win_anomaly scores against a frame that excludes the current row") {
    import org.apache.spark.sql.functions.col
    val hist = ops.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (u, v) => u -> v.sortBy(x => (x._2.getTime, x._3)) }
    val got = q("q_win_anomaly", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.length === 20 && got.forall(_._3 > 0))
    got.foreach { case (eid, uid, z) =>
      val seq = hist(uid)
      val i = seq.indexWhere(_._3 == eid)
      val frame = seq.slice(math.max(0, i - 10), i).map(_._4)
      val n = frame.length
      assert(n >= 5, s"event $eid frame too small")
      val m = frame.sum / n
      val v = (frame.map(x => x * x).sum - frame.sum * frame.sum / n) / (n - 1)
      val zr = math.floor((seq(i)._4 - m) / math.sqrt(v) * 1e4 + 0.5) / 1e4
      assert(math.abs(zr - z) < 1e-9, s"event $eid z recount")
    }
  }

  test("q_graph_bfs frontiers are disjoint and bounded by the bipartite sides") {
    import org.apache.spark.sql.functions.col
    val rows = q("q_graph_bfs", sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(rows.keySet === Set(1, 2, 3))
    val nCust = ops.Tables.t(spark, sf0001, "orders")
      .select(col("o_custkey")).distinct().count()
    val nSupp = ops.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_suppkey")).distinct().count()
    // the graph is bipartite: odd hops from a supplier seed land on
    // customers, even hops on suppliers (and vice versa); every
    // frontier is bounded by one side
    assert(rows(1) <= math.max(nCust, nSupp))
    assert(rows(2) <= math.max(nCust, nSupp))
    assert(rows.values.forall(_ >= 0))
    assert(rows(1) > 0, "the max-degree seed must reach someone")
  }

  test("q_graph_degreedist buckets partition the node set with consistent bounds") {
    import org.apache.spark.sql.functions.col
    val rows = q("q_graph_degreedist", sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nNodes = ops.Tables.t(spark, sf0001, "orders")
      .join(ops.Tables.t(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .select(col("o_custkey")).distinct().count() +
      ops.Tables.t(spark, sf0001, "lineitem")
        .select(col("l_suppkey")).distinct().count()
    assert(rows.map(_._2).sum === nNodes,
      "magnitude buckets must partition all graph nodes")
    rows.foreach { case (mag, _, lo, hi) =>
      assert(lo.toString.length === mag && hi.toString.length === mag && lo <= hi)
    }
  }

  test("q_win_cume: pr spans [0,1], cd ends at 1, both monotone within segment") {
    val rows = q("q_win_cume", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.values.foreach { seg =>
      val prs = seg.map(_._2); val cds = seg.map(_._3)
      assert(prs.head === 0.0 && prs.last === 1.0)
      assert(cds.last === 1.0)
      assert(prs.zip(prs.tail).forall { case (a, b) => a <= b })
      assert(cds.zip(cds.tail).forall { case (a, b) => a <= b })
      assert(seg.forall { case (_, p, c) => p < c + 1e-9 },
        "percent_rank sits strictly below cume_dist on unique keys")
    }
  }

  test("q_stream_trend emits exactly top-3 types per window, counts consistent") {
    import org.apache.spark.sql.functions.col
    val rows = q("q_stream_trend", sf0001).collect()
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val byWin = rows.groupBy(_._1)
    assert(byWin.nonEmpty)
    byWin.values.foreach { w =>
      // a sparse window may hold fewer than 3 types; ranks must be a
      // dense prefix 1..k with k <= 3
      assert(w.map(_._2).sorted.toSeq === (1 to w.length) && w.length <= 3)
      val ns = w.sortBy(_._2).map(_._4)
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        "rank order must follow descending counts")
    }
    val total = ops.Tables.t(spark, sf0001, "events").count()
    assert(rows.map(_._4).sum <= total)
  }

  test("q_win_gap matches an in-memory inter-arrival recount") {
    import org.apache.spark.sql.functions.col
    val evs = ops.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), org.apache.spark.sql.functions.expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gaps = evs.groupBy(_._1).values.flatMap { v =>
      val s = v.sortBy(x => (x._2, x._3))
      s.sliding(2).collect { case Array(a, b) => (b._4, b._2 - a._2) }
    }.toSeq
    def pct(xs: Seq[Long], p: Double): Double = {
      val s = xs.sorted.map(_.toDouble); val pos = (s.length - 1) * p
      val lo = s(pos.toInt)
      if (pos.toInt == s.length - 1) lo
      else lo + (s(pos.toInt + 1) - lo) * (pos - pos.toInt)
    }
    val expect = gaps.groupBy(_._1).map { case (et, v) =>
      val xs = v.map(_._2)
      (et, xs.length.toLong,
        math.floor(pct(xs, 0.5) / 1e6 * 1e4 + 0.5) / 1e4,
        math.floor(pct(xs, 0.95) / 1e6 * 1e4 + 0.5) / 1e4)
    }.toSeq.sortBy(_._1)
    val got = q("q_win_gap", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got === expect)
  }

  test("q_pipe_drift: PSI is non-negative and zero for an identical distribution") {
    // micro: en and fr docs all land in bucket 0, so after smoothing
    // both shares are exactly 1 → PSI must be exactly 0.
    val micro = q("q_pipe_drift", microDir).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(micro === Seq(("fr", 0.0)))
    val real = q("q_pipe_drift", sf0001).collect().map(_.getDouble(1))
    assert(real.nonEmpty && real.forall(_ >= 0.0),
      "every PSI term (p-q)ln(p/q) is non-negative")
  }

  test("q_text_entropy equals ln(k) for uniform k-token distributions (micro)") {
    // en: 6 tokens, 3 distinct, uniform → ln 3; fr: 4 distinct uniform → ln 4.
    val rows = q("q_text_entropy", microDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(rows === Seq(("en", 6L, 3L, r4(math.log(3))),
                        ("fr", 4L, 4L, r4(math.log(4)))))
  }

  test("q_stream_funnel counts a purchase converted only within the 1h window (micro)") {
    // user 7 purchases 10s after signup (converted); user 99 purchases
    // with no signup at all (not converted). Same day.
    val rows = q("q_stream_funnel", microDir).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows === Seq(("2024-01-01 00:00:00.0", 2L, 1L)))
  }

  test("q_sim_kmeans on a corpus of its own centroids is a fixed point (micro)") {
    // micro vec_ids 0..2 all serve as centroids; each unit vector's
    // best centroid is itself, so every cluster has one member and
    // new·old = 1.0 exactly.
    val rows = q("q_sim_kmeans", microDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows === Seq((0, 1L, 1.0), (1, 1L, 1.0), (2, 1L, 1.0)))
  }

  test("q_join_nullsafe keeps NULL-keyed rows a plain equi join would drop") {
    import org.apache.spark.sql.functions.{expr, count, lit}
    val total = ops.Tables.t(spark, sf0001, "orders").count()
    val rows = q("q_join_nullsafe", sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.values.sum === total,
      "every order must survive the null-safe join")
    assert(rows.keySet === Set("finished", "open", "pending-unknown"))
    assert(rows("pending-unknown") > 0, "the NULL bucket must be non-empty")
  }

  test("q_pipe_incremental merge equals the direct full aggregate") {
    import org.apache.spark.sql.functions.{count, lit, round, sum, col}
    val merged = q("q_pipe_incremental", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = ops.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(merged === direct)
  }

  test("q_stream_seq extracts each user's ordered event-type trigrams (micro)") {
    // user 7: signup→purchase→click→view yields exactly two trigrams;
    // user 99's single event yields none.
    val rows = q("q_stream_seq", microDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows === Seq(("purchase>click>view", 1L),
                        ("signup>purchase>click", 1L)))
  }

  test("q_agg_countdist partitions every customer into exactly one count bucket") {
    val rows = q("q_agg_countdist", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val customers = ops.Tables.t(spark, sf0001, "customer").count()
    assert(rows.map(_._2).sum === customers,
      "bucket sizes must sum to the customer count")
    assert(rows.map(_._1).distinct.length === rows.length, "buckets unique")
  }

  test("q_agg_gini matches the rank-weighted formula computed in memory") {
    import org.apache.spark.sql.functions.col
    val vals = ops.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val expect = vals.groupBy(_._1).map { case (p, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3)).map(_._2)
      val n = sorted.length
      val six = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      p -> math.floor((2.0 * six / (n * sorted.sum) - (n + 1.0) / n)
        * 1e4 + 0.5) / 1e4
    }
    val got = q("q_agg_gini", sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got === expect)
  }

  test("q_text_coverage is exactly 1.0 when the vocabulary fits in the top-10 (micro)") {
    val rows = q("q_text_coverage", microDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows === Seq(("en", 6L, 1.0), ("fr", 4L, 1.0)))
  }

  test("q_pipe_shard reports a consistent balance audit") {
    val r = q("q_pipe_shard", sf0001).collect().head
    val (ns, mn, mx, skew) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(ns >= 1 && ns <= 16)
    assert(mn >= 1 && mn <= mx)
    assert(skew >= 1.0, "max/mean ratio is at least 1")
  }

  test("q_win_retention: offset 0 counts every user exactly once (micro)") {
    // Both micro users are active only on their own first day.
    val rows = q("q_win_retention", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows === Seq((0L, 2L)))
  }

  test("q_win_streak labels islands without a self-join (micro)") {
    // user 7's events all fall on 2024-01-01 → one streak of length 1;
    // user 99 likewise.
    val rows = q("q_win_streak", microDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows === Seq((7L, 1L, 1L), (99L, 1L, 1L)))
  }

  test("q_pipe_benford shares sum to 1 and reference probs match log10(1+1/d)") {
    val rows = q("q_pipe_benford", sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet.subsetOf((1 to 9).toSet))
    rows.foreach { case (d, _, _, benford) =>
      val expect = math.floor(math.log(1.0 + 1.0 / d) / math.log(10.0)
        * 1e4 + 0.5) / 1e4
      assert(benford === expect, s"reference prob for digit $d")
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) <= 2e-3,
      "observed shares must sum to ~1 (rounding slack)")
  }

  test("q_text_repetition: zero for an all-distinct doc, high for a looped doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // micro corpus: one doc with no repeated bigram, one 50% loop
    val docs = Seq(
      (1L, "a b c d e", "xx", "src0", 9L),       // 4 distinct bigrams -> rep 0
      (2L, "a b a b a b a b", "yy", "src0", 15L) // 7 bigrams, 2 distinct
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_rep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = q("q_text_repetition", tmp).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .sortBy(_._1)
    val expHi = math.floor((1.0 - 2.0 / 7.0) * 1e4 + 0.5) / 1e4
    assert(got === Seq(("xx", 0.0, 0.0, 0L), ("yy", expHi, expHi, 1L)))
  }

  test("q_text_hashtf: bucket tf sums bound the corpus and hashing is stable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = q("q_text_hashtf", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 10)
    val totTok = ops.Tables.t(spark, sf0001, "documents")
      .select(sum(size(split($"text", " ")).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_._2).sum <= totTok, "top-10 bucket tf can't exceed the corpus")
    rows.foreach { case (b, tf, nt) =>
      assert(b >= 0 && b < 256 && nt >= 1 && tf >= nt)
    }
    // determinism: same corpus, same buckets on a second run
    val again = q("q_text_hashtf", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("q_text_bm25 matches a hand-computed score on the micro corpus") {
    // Corpus: docs 0,1 = "the fast fox" (len 3), doc 2 = 4 tokens;
    // only 'fast' of the query terms occurs → df=2, N=3, avgdl=10/3.
    // Docs 0 and 1 tie exactly; doc 2 scores 0 (no terms).
    val rows = q("q_text_bm25", microDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    val expect = math.floor(idf * 1 * 2.2
      / (1 + 1.2 * (0.25 + 0.75 * 3 / (10.0 / 3))) * 1e4 + 0.5) / 1e4
    assert(rows === Seq((0L, expect), (1L, expect)))
  }

  test("q_join_pit never counts an order from after the event (no future leak)") {
    import org.apache.spark.sql.functions.col
    val rows = q("q_join_pit", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent recount of the PIT pairs
    val ev = ops.Tables.t(spark, sf0001, "events")
      .filter(col("event_type") === "purchase" && col("event_id") % 7 === 0)
      .select(col("event_id"), col("ts"), col("user_id"))
    val pairs = ev.join(ops.Tables.t(spark, sf0001, "orders"),
        col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts"))
      .groupBy(col("event_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (eid, n) =>
      assert(n === pairs.getOrElse(eid, 0L), s"event $eid prior-order count")
    }
  }

  test("empty-input grouping yields an empty result, not a crash") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // documents filtered to nothing → wordcount pipeline on empty input
    val empty = ops.Tables.t(spark, microDir, "documents")
      .where($"doc_id" < 0)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").count()
    assert(empty.collect().isEmpty)
  }

  test("q_win_sessionid splits on a >12h gap, ids restart per user") {
    import spark.implicits._
    // user 1: two events 1h apart, then one 13h later (new session);
    // user 2: a lone event. ts written as raw nanos (conform truncates).
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    Seq(
      (1L, ns("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01 01:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ns("2024-01-01 14:00:00"), 1L, "click", 1.0, "{}"),
      (4L, ns("2024-01-01 05:00:00"), 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = q("q_win_sessionid", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(got === Seq((1L, 1L, 2L, 3600L), (1L, 2L, 1L, 0L),
                       (2L, 1L, 1L, 0L)))
  }

  test("q_text_jsd matches the hand-computed divergence on a 2-source corpus") {
    import spark.implicits._
    // src A = "a a", src B = "b b": corpus q = (1/2, 1/2); each source
    // misses one token (n_missing = 1) and by symmetry has equal JSD.
    val dir = java.nio.file.Files.createTempDirectory("graft_jsd").toString
    Seq((1L, "a a", "en", "A", 3L), (2L, "b b", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val exp = {
      // present token: p=1, q=1/2, m=3/4; absent token: p=0, q=1/2, m=1/4
      val j = 0.5 * math.log(4.0 / 3) + 0.25 * math.log(2.0 / 3) +
        0.25 * math.log(2)
      math.floor(j * 1e4 + 0.5) / 1e4
    }
    val got = q("q_text_jsd", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got === Seq(("A", 1L, exp), ("B", 1L, exp)))
  }

  test("q_sim_range returns exactly the >=threshold slice, consistent with top-k") {
    val range = q("q_sim_range", sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(range.nonEmpty)
    range.values.foreach(sim => assert(sim >= 0.2))
    // every top-k hit at or above the threshold must be in the range set
    q("q_sim_cosine_topk", sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .filter(_._2 >= 0.2)
      .foreach { case (id, sim) =>
        assert(range.get(id).contains(sim), s"vec $id missing from range")
      }
  }

  test("native sessionize matches the window form when ts has NULLs") {
    import spark.implicits._
    // Window semantics: a null-ts row (sorted NULLS FIRST… here mid-
    // stream via event order) joins the current session; the row AFTER
    // it starts a new one (lag(us) IS NULL). The native operator must
    // reproduce that, not overflow a sentinel subtraction.
    def ns(s: String): Option[Long] =
      Some(java.sql.Timestamp.valueOf(s).getTime * 1000000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_sessnull").toString
    Seq(
      (1L, None: Option[Long], 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-01 01:00:00"), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val native = q("q_win_session_native", dir).collect().map(_.toString)
    val window = q("q_win_sessionid", dir).collect().map(_.toString)
    assert(native.toSeq === window.toSeq)
  }

  test("native as-of join accepts INT keys, rejects unorderable keys driver-side") {
    import spark.implicits._
    // INT keys ride the integral fast path (generalized from the old
    // LONG-only contract): same-key equal-time rows match.
    val l = Seq((1, 1L, new java.sql.Timestamp(0))).toDF("k", "tie", "t")
    val r = Seq((1, 2L, new java.sql.Timestamp(0))).toDF("k2", "tie2", "t2")
    val m = plans.AsofJoin(l, r, "k", "t", "tie", "k2", "t2", "tie2").collect()
    assert(m.length === 1 && !m.head.isNullAt(3))
    // a MAP key has no total order — clear driver-side error, not a
    // task failure
    val lm = Seq((Map("a" -> 1), 1L, new java.sql.Timestamp(0)))
      .toDF("k", "tie", "t")
    val rm = Seq((Map("a" -> 1), 2L, new java.sql.Timestamp(0)))
      .toDF("k2", "tie2", "t2")
    val e = intercept[IllegalArgumentException] {
      plans.AsofJoin(lm, rm, "k", "t", "tie", "k2", "t2", "tie2")
    }
    assert(e.getMessage.contains("no total order"))
  }

  test("q_join_range_native pairs micro events inside the 5-minute band only") {
    // user 7: 10:00:00→10:00:10 (10 s ✓) and 10:40:00→10:41:00 (60 s ✓)
    // are in-band; the 40-min gap pair is not. user 99's lone event
    // pairs with nothing.
    val rows = q("q_join_range_native", microDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(7L -> 2L))
  }

  test("native binary joins survive plan canonicalization with a cached DataFrame") {
    import spark.implicits._
    // Regression: a constructor-body disjointness require re-fired
    // during canonicalization (exprIds renumbered from 0 on BOTH
    // children -> spurious overlap), so the mere presence of ANY
    // cached DataFrame — CacheManager canonicalizes every fragment on
    // lookup — crashed every native-join query. Checks live in apply()
    // now; this pins it.
    val unrelated = Seq((1L, 2L)).toDF("a", "b").cache()
    try {
      unrelated.count()
      assert(q("q_join_asof_native", microDir).collect().nonEmpty)
      assert(q("q_join_range_native", microDir).collect().nonEmpty)
    } finally unrelated.unpersist()
  }

  test("graph derived-table cache builds cleanly on a COLD session") {
    // Regression: derived() once nested computeIfAbsent calls on one
    // ConcurrentHashMap (tradeDeg -> tradeEdges -> base tables), which
    // threw IllegalStateException("Recursive update") whenever the
    // nested keys hash-collided into an in-flight bin — deterministic
    // on a cold cache at sf0.001. A fresh session has a fresh cache.
    val s2 = spark.newSession()
    assert(SparkEntry.queries("q_graph_degreedist")(s2, sf0001).count() > 0)
  }

  test("q_agg_regr recovers an exact linear trend (slope 2, intercept 5, r2 1)") {
    import spark.implicits._
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_regr").toString
    // value = 2 * hours_since_2024-01-01 + 5, at hours 0/1/2/3
    Seq(
      (1L, ns("2024-01-01 00:00:00"), 1L, "click", 5.0, "{}"),
      (2L, ns("2024-01-01 01:00:00"), 1L, "click", 7.0, "{}"),
      (3L, ns("2024-01-01 02:00:00"), 1L, "click", 9.0, "{}"),
      (4L, ns("2024-01-01 03:00:00"), 1L, "click", 11.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val r = q("q_agg_regr", dir).collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "click" && r(0).getLong(1) === 4L)
    assert(r(0).getDouble(2) === 2.0 && r(0).getDouble(3) === 5.0)
    assert(r(0).getDouble(4) === 1.0)
  }

  test("q_expr_map: element_at is NULL on a missing key, keys sorted") {
    val rows = q("q_expr_map", microDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // user 7: one each of click/purchase/signup/view
    val u7 = rows(7L)
    assert(u7.getInt(1) === 4 && u7.getLong(2) === 1L && u7.getLong(3) === 1L)
    assert(u7.getString(4) === "click,purchase,signup,view")
    // user 99: a single purchase — the 'click' lookup must be NULL
    val u99 = rows(99L)
    assert(u99.getInt(1) === 1 && u99.isNullAt(2) && u99.getLong(3) === 1L)
    assert(u99.getString(4) === "purchase")
  }

  test("q_sql_q3 (SQL text) equals the equivalent DataFrame pipeline") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = ops.Tables.t(spark, sf0001, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .join(ops.Tables.t(spark, sf0001, "orders"), $"c_custkey" === $"o_custkey")
      .join(ops.Tables.t(spark, sf0001, "lineitem"), $"l_orderkey" === $"o_orderkey")
      .where($"o_orderdate" < lit("1998-06-30").cast("timestamp") &&
        $"l_shipdate" > lit("1996-06-30").cast("timestamp"))
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg((floor(sum($"l_extendedprice" * (lit(1) - $"l_discount")) * 100
        + 0.5) / 100).as("revenue"))
      .select($"o_orderkey", $"revenue", $"o_orderdate")
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
    assert(q("q_sql_q3", sf0001).collect() === df.collect())
  }

  test("q_win_median: constant series is its own median; planted outlier spikes once") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_med").toString
    def ns(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000000L
    // user 1: constant 5.0 → every rolling median is 5.0, zero spikes.
    // user 2: flat 1.0 with one 100.0 at position 5 — the median
    // absorbs the outlier (robustness, the row's whole point) so every
    // med5 stays 1.0 and exactly the outlier row trips the spike gate.
    val rows = (1 to 6).map(i =>
        (i.toLong, ns(f"2024-01-01 10:0$i%d:00"), 1L, "e", 5.0, "{}")) ++
      (1 to 6).map(i =>
        (10L + i, ns(f"2024-01-01 10:0$i%d:00"), 2L, "e",
          if (i == 5) 100.0 else 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q_win_median", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array((1L, 6L, 0L, 5.0), (2L, 6L, 1L, 1.0)))
  }

  test("q_sql_pipe: pipe lowering matches the nested SQL form row-for-row") {
    ops.Tables.t(spark, sf0001, "lineitem")
      .createOrReplaceTempView("graft_pipe_li")
    val nested = spark.sql("""
      SELECT l_returnflag, count(*) AS n_items,
             FLOOR(SUM(l_extendedprice) * 100 + 0.5) / 100 AS rev
      FROM graft_pipe_li
      WHERE l_quantity >= 30
      GROUP BY l_returnflag
      HAVING count(*) > 100
      ORDER BY l_returnflag""").collect()
    assert(q("q_sql_pipe", sf0001).collect() === nested)
    assert(nested.nonEmpty, "the HAVING gate must keep at least one group")
  }

  test("q_expr_collate: case-insensitive groups partition the corpus") {
    val rows = q("q_expr_collate", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docs = ops.Tables.t(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("lang")).collect()
      .map(_.getString(0))
    // the case mix must not split groups: exactly the 5 languages
    assert(rows.length === docs.distinct.length)
    assert(rows.map(_._2).sum === docs.length, "counts partition the corpus")
    // the collated 'EN' probe counts every en-family row, either case
    val en = docs.count(_ == "en").toLong
    assert(rows.map(_._3).sum === en, "collated equality must be ci")
    rows.foreach { case (rep, _, _) =>
      assert(rep === rep.toUpperCase,
        "min(raw) representative is the uppercase variant")
    }
  }

  test("q_graph_randomwalk conserves walkers: every node's walk survives all steps") {
    import org.apache.spark.sql.functions.col
    val nV = ops.GraphOps.tradeDeg(spark, sf0001).count()
    // deg ≥ 1 everywhere and idx = h60 mod deg + 1 hits exactly one
    // neighbor, so each step moves EVERY walker exactly once.
    (1 to 3).foreach { k =>
      val walks = ops.GraphOps.randomWalks(spark, sf0001, k)
      assert(walks.count() === nV, s"step $k must conserve all $nV walkers")
      assert(walks.select(col("walker")).distinct().count() === nV,
        s"step $k: one walk per origin")
    }
    val top = q("q_graph_randomwalk", sf0001).collect()
    assert(top.nonEmpty && top.map(_.getLong(1)).sum <= nV,
      "top-20 census cannot exceed the walker population")
  }

  test("q_agg_percentile_disc returns actual group elements; cont may interpolate") {
    val rows = q("q_agg_percentile_disc", sf0001).collect()
    val qtys = ops.Tables.t(spark, sf0001, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_quantity"))
      .collect().groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getDouble(1)).toSet }
    rows.foreach { r =>
      val (flag, disc50, disc90) =
        (r.getString(0), r.getDouble(1), r.getDouble(2))
      assert(qtys(flag).contains(disc50),
        s"$flag: med_disc $disc50 must be an actual group element")
      assert(qtys(flag).contains(disc90),
        s"$flag: p90_disc $disc90 must be an actual group element")
    }
  }

  test("q_sim_quantize: per-dim MSE bounded by the half-step square") {
    import org.apache.spark.sql.functions._
    val steps = ops.Tables.t(spark, sf0001, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(((max(col("x")) - min(col("x"))) / 256.0).as("step"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val rows = q("q_sim_quantize", sf0001).collect()
    assert(rows.length === steps.size, "one audit row per dimension")
    rows.foreach { r =>
      val (dim, nTop, mse) = (r.getInt(0), r.getLong(2), r.getDouble(3))
      val half = steps(dim) / 2.0
      // midpoint reconstruction error is ≤ half a quantization step
      // per value, so the mean square is ≤ (step/2)²
      assert(mse <= half * half + 1e-12,
        s"dim $dim: mse $mse exceeds half-step bound ${half * half}")
      assert(nTop >= 1, s"dim $dim: the max element must saturate code 255")
    }
  }

  test("q_agg_weighted_quantile matches a driver-side weighted-median recount") {
    import org.apache.spark.sql.functions.col
    val rows = ops.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val out = q("q_agg_weighted_quantile", sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    rows.groupBy(_._1).foreach { case (flag, g) =>
      // collapse ties per price, then scan the price-sorted cumsum
      val byPrice = g.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      def crossing(p: Double): Double = {
        var cw = 0.0
        byPrice.find { case (_, w) => cw += w; cw >= tot * p }.get._1
      }
      val (med, p90, w) = out(flag)
      assert(w === tot.toLong, s"$flag total weight")
      assert(med === crossing(0.5), s"$flag weighted median")
      assert(p90 === crossing(0.9), s"$flag weighted p90")
      assert(med <= p90, s"$flag quantiles must be monotone")
    }
  }

  test("q_text_rake scores a hand-computed phrase set exactly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rake").toString
    // Phrases: "quick fox jumps" (len 3) and "quick fox" (len 2).
    // freq: quick 2, fox 2, jumps 1; deg: quick 5, fox 5, jumps 3;
    // word scores 2.5, 2.5, 3.0 → phrase scores 8.0 and 5.0.
    Seq((1L, "the quick fox jumps with the quick fox", "en", "s0", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q_text_rake", dir).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq === Seq(("quick fox jumps", 8.0, 3L),
      ("quick fox", 5.0, 2L)))
  }

  test("q_graph_assortativity matches a driver-side Pearson recount; |r| <= 1") {
    import org.apache.spark.sql.functions.col
    val deg = ops.GraphOps.tradeDeg(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = ops.GraphOps.tradeEdges(spark, sf0001).collect()
      .map(r => (deg(r.getString(0)).toDouble, deg(r.getString(1)).toDouble))
    val n = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    assert(sx === sy, "symmetric edge list: endpoint degree sums agree")
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val r = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx)
      * (n * sxx - sy * sy))
    val row = q("q_graph_assortativity", sf0001).collect()(0)
    assert(row.getLong(0) === pairs.length)
    val out = row.getDouble(1)
    assert(math.abs(out) <= 1.0 + 1e-9)
    assert(math.abs(out - math.floor(r * 1e4 + 0.5) / 1e4) <= 1.01e-4,
      s"recount $r vs $out")
  }

  test("q_text_diversity: template text drops ttr, unique text scores ttr 1 (hand-counted)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_div").toString
    Seq(
      // 'aa': one bigram repeated — top_share must be 1.0, ttr 1/5
      (1L, "x y x y x y", "aa", "s0", 11L),
      // 'bb': every bigram distinct — ttr must be exactly 1.0
      (2L, "a b c d e f", "bb", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q_text_diversity", dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // "x y x y x y": bigrams = xy yx xy yx xy → 5 total, 2 types,
    // top (xy) 3/5
    assert(out("aa") === ((5L, 2L, 0.4, 0.6)))
    assert(out("bb") === ((5L, 5L, 1.0, 0.2)))
  }

  test("q_win_bollinger: constant series never breaches; a full-frame spike does") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_boll").toString
    def ns(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000000L
    // user 1: constant (variance 0, dev2 rounds to 0 — no breach).
    // user 2: spike at position 9, where the trailing frame is FULL
    // (8 rows): one outlier among 7 equals gives (v−m)² = 7·var >
    // 4·var — a strict breach. (At frame size 5 the same shape lands
    // exactly ON the 4σ boundary and must NOT breach — the floor(0.5)
    // = 0 case.)
    val rows = (1 to 10).map(i =>
        (i.toLong, ns(f"2024-01-01 10:$i%02d:00"), 1L, "e", 5.0, "{}")) ++
      (1 to 10).map(i =>
        (20L + i, ns(f"2024-01-01 10:$i%02d:00"), 2L, "e",
          if (i == 9) 100.0 else 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q_win_bollinger", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) === ((1L, 10L, 0L, 0.0)))
    val (u, n, breach, peak) = out(1)
    assert((u, n, breach) === ((2L, 10L, 1L)))
    // var of one 100 among seven 1s: 7·99²/64 = 1071.984375
    assert(peak === 1071.98, s"peak_var $peak")
  }

  test("q_graph_closeness: BFS seed's reach equals the frontier total; harmonic bounded") {
    import org.apache.spark.sql.functions.col
    val bfsTotal = q("q_graph_bfs", sf0001).collect().map(_.getLong(1)).sum
    val seed = ops.GraphOps.tradeDeg(spark, sf0001)
      .orderBy(col("d").desc, col("src")).limit(1)
      .collect()(0).getString(0)
    val rows = q("q_graph_closeness", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length === 4, "exactly the top-4 hub seeds")
    // The top-degree hub is q_graph_bfs's seed: the multi-source pass
    // must reproduce the single-source traversal's reach exactly.
    val top = rows.find(_._1 == seed)
      .getOrElse(fail(s"bfs seed $seed missing from closeness seeds"))
    assert(top._2 === bfsTotal,
      "multi-source reach must equal the single-source frontier total")
    rows.foreach { case (s0, n, h) =>
      // each reached node contributes 1/dist ∈ [1/3, 1]
      assert(h > 0.0 && h <= n.toDouble + 1e-9, s"$s0: harmonic ≤ n_reached")
      assert(h >= n / 3.0 - 1e-9, s"$s0: harmonic ≥ n_reached/3")
    }
  }

  test("q_text_vocab_drift: self-drift is zero; the real retrain " +
      "shifts costs (non-vacuous)") {
    // Frozen-vs-frozen through the SAME kernel must read as zero
    // drift on every axis — the law that pins the comparison's
    // plumbing (a join/rounding bug would show up as phantom drift).
    val frozen = ops.TextOps.ulmVocab(spark, sf0001)
    val self = ops.TextOps.vocabDrift(spark, sf0001, frozen, frozen)
      .collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getAs[Long]("oov_frozen") === r.getAs[Long]("oov_retrain"))
      assert(r.getAs[Double]("fert_delta") === 0.0)
      assert(r.getAs[Long]("shared_pieces") ===
        r.getAs[Long]("frozen_pieces"))
      assert(r.getAs[Long]("max_cost_shift_micro") === 0L)
      assert(r.getAs[Long]("total_cost_shift_micro") === 0L)
    }
    // And the declared frozen-vs-retrain row must carry real signal:
    // the fixture vocabulary is saturated (membership stable), so
    // the batch's usage-share shift is the axis that must be > 0.
    val got = q("q_text_vocab_drift", sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("total_cost_shift_micro") > 0L,
        "adding the batch must shift piece costs")
      assert(r.getAs[Long]("shared_pieces") > 0L)
    }
  }

  test("q_dedup_apply: census conserves the corpus; dropped mass " +
      "equals the cluster row's") {
    import org.apache.spark.sql.functions._
    val docs = ops.Tables.t(spark, sf0001, "documents")
    val rows = q("q_dedup_apply", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // Conservation: every document and every token lands in exactly
    // one of kept/dropped — the census can't lose or invent corpus.
    assert(rows.map(r => r._2 + r._3).sum === docs.count())
    val totTok = docs
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(r => r._4 + r._5).sum === totTok)
    // Composition with the declared cluster row: the docs this row
    // drops are exactly the clusters' non-survivors.
    val clusterDropped = q("q_dedup_minhash_cluster", sf0001).collect()
      .map(_.getLong(2)).sum
    assert(rows.map(_._3).sum === clusterDropped,
      "per-lang dropped docs must sum to the cluster census's n_dropped")
    assert(clusterDropped > 0, "fixture must drop at least one doc")
  }

  test("q_dedup_minhash_cluster: union-find recount + survivor laws") {
    import org.apache.spark.sql.functions._
    // Independent cluster resolution: a driver-side union-find over
    // the engine's verified pair list (the pair list itself is
    // differentially oracled by q_dedup_minhash) — a from-first-
    // principles CC implementation sharing nothing with ccStar.
    val pairs = ops.TextOps.minhashPairsDf(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain verified near-dup pairs")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val members = nodes.groupBy(find)
    // Union always roots at the smaller id, so find(x) IS the cluster
    // minimum — the keep-lowest-id survivor.
    members.foreach { case (lab, ms) =>
      assert(lab === ms.min, "survivor must be the cluster minimum")
    }
    val expect = members.toSeq
      .map { case (lab, ms) => (lab, ms.length.toLong, ms.length - 1L) }
      .sortBy(_._1)
    val got = q("q_dedup_minhash_cluster", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
    // Every dropped doc keeps a cluster-mate at Jaccard ≥ 0.6: every
    // pair-graph node has ≥ 1 verified edge, and edges never leave a
    // cluster — so the drop is justified by a retained near-dup path.
    val survivors = got.map(_._1).toSet
    val dropped = nodes.toSet -- survivors
    assert(dropped.forall(d => pairs.exists(p => p._1 == d || p._2 == d)),
      "every dropped doc must appear in a verified pair")
    assert(got.forall { case (_, n, dr) => dr == n - 1 && n >= 2 },
      "census law: clusters have >= 2 members, drops = members - 1")
  }

  test("q_graph_sssp: Dijkstra recount and round sufficiency") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val edf = ops.GraphOps.tradeEdgesWgt(spark, sf0001)
    val e = edf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val adj = e.groupBy(_._1).map { case (k, vs) => k -> vs.map(v => (v._2, v._3)) }
    // Same seed derivation as the query: max degree, node tie-break
    // (degree over the symmetrized distinct pair list = tradeDeg).
    val seed = adj.toSeq.map { case (n, vs) => (n, vs.length) }
      .sortBy { case (n, dg) => (-dg, n) }.head._1
    // Textbook Dijkstra — a different ALGORITHM than the query's
    // Bellman–Ford rounds, so agreement checks the relaxation loop
    // from outside its own fixed-round frame.
    val dist = scala.collection.mutable.Map(seed -> 0L)
    val done = scala.collection.mutable.Set.empty[String]
    val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
      Ordering.by((t: (Long, String)) => -t._1))
    while (pq.nonEmpty) {
      val (dv, v) = pq.dequeue()
      if (!done(v)) {
        done += v
        for ((w, wt) <- adj.getOrElse(v, Array.empty[(String, Long)]))
          if (dv + wt < dist.getOrElse(w, Long.MaxValue)) {
            dist(w) = dv + wt
            pq.enqueue((dv + wt, w))
          }
      }
    }
    val expect = dist.toSeq.sortBy(_._1)
    val got = q("q_graph_sssp", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expect, "fixed-round Bellman–Ford must equal Dijkstra")
    // Round sufficiency made explicit (the q_graph_kcore discipline):
    // one more round changes nothing on the fixture, so SsspRounds is
    // at the monotone fixpoint — a regenerated deeper graph fails
    // HERE, not as an opaque differential mismatch.
    val seedDf = Seq(seed).toDF("node")
    val r0 = ops.GraphOps.ssspDist(edf, seedDf, ops.GraphOps.SsspRounds)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val r1 = ops.GraphOps.ssspDist(edf, seedDf, ops.GraphOps.SsspRounds + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r0 === r1, s"${ops.GraphOps.SsspRounds} rounds must reach the fixpoint")
  }

  test("q_graph_louvain: micro-graph move recount + Q non-decreasing " +
      "at two SFs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    // Two triangles {a,b,c}/{d,e,f} with bridge c—d and c MIS-labeled
    // into d's community: the sweep must move exactly c (exact gain
    // 2m²ΔQ = 2·7·(2−1) − 3·(4−10+3) = 23 > 0; every other node's
    // best move grades ≤ 0) — lifting Q from 24/196 = 0.122449 to
    // the known two-triangle optimum 70/196 = 0.357143.
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")).toDF("u", "v")
    val undW = und.withColumn("w", lit(1L))
    val bad = Seq(("a", "A"), ("b", "A"), ("c", "D"),
      ("d", "D"), ("e", "D"), ("f", "D")).toDF("node", "lab")
    val swept = ops.GraphOps.louvainSweep(undW, bad).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(swept === Map("a" -> "A", "b" -> "A", "c" -> "A",
      "d" -> "D", "e" -> "D", "f" -> "D"),
      s"exactly c must move: $swept")
    val q0 = ops.GraphOps.modularityQ(und, bad, "bad")
      .collect()(0).getDouble(3)
    val q1 = ops.GraphOps
      .modularityQ(und, ops.GraphOps.louvainSweep(undW, bad), "fix")
      .collect()(0).getDouble(3)
    assert(q0 === 0.122449 && q1 === 0.357143, s"Q $q0 -> $q1")
    // The declared row's improvement claim, MEASURED on the real
    // fixture at both local SFs (synchronous sweeps carry no
    // per-sweep improvement theorem — this is the law that keeps the
    // row honest if a regenerated fixture ever oscillates).
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val rows = q("q_graph_louvain", d).collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
      assert(rows("louvain") >= rows("lpa") && rows("lpa") >= 0.0,
        s"$d: Q must not decrease: $rows")
    }
  }

  test("q_graph_louvain_contract: edge conservation + Q invariant " +
      "under contraction (the Blondel level-recursion identity)") {
    val rows = q("q_graph_louvain_contract", sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (lo, hi, w) =>
      assert(lo <= hi && w > 0, s"canonical pair with positive weight")
    }
    // Conservation: every undirected edge lands in exactly one
    // community pair — Σw must equal the grade row's edge count.
    val grade = q("q_graph_louvain", sf0001).collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getDouble(3)))).toMap
    val m = rows.map(_._3).sum
    assert(m === grade("louvain")._1, "contraction must conserve edges")
    // The phase-2 identity that makes Louvain recursive: Q of the
    // flat partition on G equals Q of the SINGLETON partition on the
    // contracted self-looped G' — recomputed here from this row's
    // own output with the modularityQ algebra (intra = self-loops,
    // d'_c = 2·w(c,c) + Σ inter weights), same rounding.
    val intra = rows.filter(r => r._1 == r._2).map(_._3).sum
    val vol = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    rows.foreach { case (a, b, w) =>
      if (a == b) vol(a) += 2 * w else { vol(a) += w; vol(b) += w }
    }
    val sd2 = vol.values.map(v => BigInt(v) * BigInt(v)).sum
    val q2 = math.floor((4.0 * m * intra - sd2.toDouble)
      / (4.0 * m * m) * 1e6 + 0.5) / 1e6
    assert(q2 === grade("louvain")._2,
      s"contracted-singleton Q $q2 must equal the flat partition's Q")
  }

  test("q_graph_louvain_l2: weighted-sweep driver recount + measured " +
      "Q non-decreasing at two SFs + weighted micro-graph") {
    val s = spark
    import s.implicits._
    // Hand-computed contracted micro — the two-triangle contraction
    // {A self-loop 3, D self-loop 3, A—D w=1}: merging the triangle
    // communities is provably bad (2W²ΔQ = 2·7·1 − 7·7 = −35 < 0),
    // so the weighted sweep from singletons must move nothing.
    val micro = Seq(("A", "A", 3L), ("D", "D", 3L), ("A", "D", 1L))
      .toDF("u", "v", "w")
    val mseed = Seq(("A", "A"), ("D", "D")).toDF("node", "lab")
    val mres = ops.GraphOps.louvainSweep(micro, mseed).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mres === Map("A" -> "A", "D" -> "D"),
      s"merging the triangles must grade negative: $mres")
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val rows = q("q_graph_louvain_l2", d).collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val (nc1, m1, ql1) = rows("louvain")
      val (nc2, m2, ql2) = rows("louvain_l2")
      assert(m1 === m2, s"$d: both grades see the same edge count")
      assert(ql2 >= ql1, s"$d: level 2 must not degrade Q: $rows")
      assert(nc2 <= nc1, s"$d: a local-move sweep from singletons on " +
        s"G' can only merge communities")
      // Full driver recount from the contraction census ALONE (the
      // level-recursion identity): singleton-seeded weighted gains
      // reduce to 2W·k_cb − d_c·d_b (k over non-self edges, d with
      // self-loops at 2w), candidates restricted to c < node (the
      // descOnly symmetry-break), argmax with (gain desc, c)
      // tie-break, move iff > 0; then the exact-integer adoption
      // gate 4W·intra − Σvol², then Q of the adopted partition from
      // gp's own sufficient statistics — must equal the engine's l2
      // grade.
      val gp = q("q_graph_louvain_contract", d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val deg = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      gp.foreach { case (a, b, w) =>
        if (a == b) deg(a) += 2 * w else { deg(a) += w; deg(b) += w }
      }
      val bigW = gp.map(_._3).sum
      val nonself = gp.filter(t => t._1 != t._2)
      val sym = nonself ++ nonself.map(t => (t._2, t._1, t._3))
      val k = sym.groupBy(t => (t._1, t._2))
        .map { case (key, xs) => key -> xs.map(_._3).sum }
      val swept = deg.keys.toSeq.map { n =>
        val cands = k.collect {
          case ((u, c), kw) if u == n && c < n => (c, kw)
        }.toSeq
        if (cands.isEmpty) n -> n
        else {
          val scored = cands.map { case (c, kw) =>
            (c, BigInt(2) * BigInt(bigW) * BigInt(kw)
              - BigInt(deg(n)) * BigInt(deg(c)))
          }.sortWith((x, y) =>
            x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
          val (c, g) = scored.head
          n -> (if (g > 0) c else n)
        }
      }.toMap
      def stats(lab: Map[String, String]): (BigInt, Long, Long) = {
        val intra = gp.filter { case (a, b, _) => lab(a) == lab(b) }
          .map(_._3).sum
        val vol = scala.collection.mutable.Map.empty[String, BigInt]
          .withDefaultValue(BigInt(0))
        deg.foreach { case (c, dg) => vol(lab(c)) += dg }
        val sd2 = vol.values.map(v => v * v).sum
        (BigInt(4) * BigInt(bigW) * BigInt(intra) - sd2,
          intra, vol.size.toLong)
      }
      val ident = deg.keys.map(n => n -> n).toMap
      val (n2s, _, _) = stats(swept)
      val (n1s, _, _) = stats(ident)
      val adopted = if (n2s > n1s) swept else ident
      val (num, intra, ncRe) = stats(adopted)
      val sd2 = BigInt(4) * BigInt(bigW) * BigInt(intra) - num
      val qRe = math.floor((4.0 * bigW * intra - sd2.toDouble)
        / (4.0 * bigW * bigW) * 1e6 + 0.5) / 1e6
      assert(qRe === ql2,
        s"$d: driver weighted-sweep recount Q $qRe must equal the " +
          s"engine's level-2 grade $ql2")
      assert(ncRe === nc2,
        s"$d: merged-community census must match")
      // The adoption gate makes level-2 ≥ level-1 a THEOREM; a
      // rejected level 2 must surface as exactly the level-1 grade.
      if (n2s <= n1s) {
        assert(ql2 === ql1 && nc2 === nc1,
          s"$d: a rejected level 2 must carry the level-1 grade")
      }
    }
  }

  test("q_graph_modularity: hand-computed two-cliques-plus-bridge law") {
    val s = spark
    import s.implicits._
    // Two triangles {a,b,c} and {d,e,f} joined by the bridge c—d:
    // m = 7; with the triangles as communities e_c = 3 each and
    // d_c = 2+2+3 = 7 each, so Q = 2·(3/7 − (7/14)²) = 70/196 =
    // 0.3571428…, half-up on the 1e-6 grid → 0.357143.
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")).toDF("u", "v")
    val labels = Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("d", "d"), ("e", "d"), ("f", "d")).toDF("node", "lab")
    val row = ops.GraphOps.modularityQ(und, labels, "tri").collect()(0)
    assert(row.getString(0) === "tri")
    assert(row.getLong(1) === 2L, "two communities")
    assert(row.getLong(2) === 7L, "seven edges")
    assert(row.getDouble(3) === 0.357143)
    // The all-one-community labeling scores 0 exactly (the modularity
    // null): Σe_c = m and Σd_c² = (2m)².
    val one = labels.select($"node", org.apache.spark.sql.functions.lit("x").as("lab"))
    assert(ops.GraphOps.modularityQ(und, one, "null").collect()(0)
      .getDouble(3) === 0.0)
    // Fixture: both declared rows in range; the CC labeling has every
    // edge intra by definition, so its Q is the connectivity ceiling.
    val fix = q("q_graph_modularity", sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(3)))
    assert(fix.map(_._1).toSeq === Seq("cc", "lpa"))
    fix.foreach { case (m0, qv) =>
      assert(qv >= -1.0 && qv <= 1.0, s"$m0: Q out of range: $qv")
    }
  }

  test("q_sim_serve_recall: driver recount against brute-force top-5") {
    import org.apache.spark.sql.functions._
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def simf(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      math.floor(acc * 1e4 + 0.5) / 1e4
    }
    val byId = emb.toMap
    val bf = (0L until 5L).map { qid =>
      qid -> emb.filter(_._1 != qid)
        .map { case (v, ev) => (v, simf(byId(qid), ev)) }
        .sortBy { case (v, sm) => (-sm, v) }.take(5).map(_._1).toSet
    }.toMap
    val serve = q("q_sim_ann_serve", sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val expect = (0L until 5L).map { qid =>
      val rows = serve.getOrElse(qid, Array.empty)
      val hits = rows.filter(r => bf(qid).contains(r._3))
      val n = hits.length.toLong
      val rr = if (n == 0) 0.0
        else math.floor(1.0 / hits.map(_._2).min * 1e6 + 0.5) / 1e6
      (qid, n, n / 5.0, rr)
    }
    val got = q("q_sim_serve_recall", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got === expect, s"got $got\nexpected $expect")
    // rr and recall cohere: rr = 0 exactly when nothing was retrieved
    // from the true top-5, and recall lives on the k=5 grid.
    got.foreach { case (qid, n, rec, rr) =>
      assert((rr == 0.0) == (n == 0), s"q$qid: rr/recall incoherent")
      assert(rec == n / 5.0 && n >= 0 && n <= 5)
    }
  }

  test("q_sim_ann_ivfpq: full driver recount (cells, codes, ADC) + " +
      "quantization loss bounded by exact serve") {
    import org.apache.spark.sql.functions._
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = emb.toMap
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def sub(v: Array[Float], m: Int) = v.slice(m * 16, m * 16 + 16)
    // Coarse cell: argmax r4 centroid dot, cid tie-break — the
    // annIndex/ivfpqIndex build rule re-derived independently.
    def cellOf(v: Array[Float]): Long = (0 until 8)
      .map(c => (c, r4(dotd(v, byId(c.toLong)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1.toLong
    // PQ code per subspace: argmax r6 subvector dot, cid tie-break.
    def codeOf(v: Array[Float], m: Int): Int = (0 until 8)
      .map(c => (c, r6(dotd(sub(v, m), sub(byId(c.toLong), m)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1
    val expect = (0L until 5L).flatMap { qid =>
      val qv = byId(qid)
      val qcell = cellOf(qv)
      val qd = (0 until 4).map(m => (0 until 8)
        .map(c => c -> r6(dotd(sub(qv, m), sub(byId(c.toLong), m))))
        .toMap)
      emb.filter { case (v, ev) => v != qid && cellOf(ev) == qcell }
        .map { case (v, ev) =>
          val adc = (0 until 4).map(m => qd(m)(codeOf(ev, m))).sum
          (v, math.floor(adc * 10000 + 0.5) / 10000)
        }
        .sortBy { case (v, a) => (-a, v) }.take(5).zipWithIndex
        .map { case ((v, a), i) => (qid, i + 1, v, qcell, a) }
    }
    val got = q("q_sim_ann_ivfpq", sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getAs[Number](3).longValue(), r.getDouble(4))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
    // Quantization loss is one-sided (the q_sim_ivfpq_recall law):
    // serve and ivfpq rank the SAME pruned candidate set, serve by
    // the exact sim the ground truth uses — so per probe the ADC
    // re-ranking can only lose ground-truth hits, never gain them.
    val exact = q("q_sim_serve_recall", sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adcr = q("q_sim_ivfpq_recall", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    adcr.foreach { case (qid, n, rec, rr) =>
      assert(n <= exact(qid),
        s"q$qid: ADC hits $n must not exceed exact-serve hits ${exact(qid)}")
      assert((rr == 0.0) == (n == 0) && rec == n / 5.0)
    }
  }

  test("q_sim_ivfpq_nprobe: probed-cell-population cost recount + " +
      "candidate-superset vs nprobe=1") {
    import org.apache.spark.sql.functions._
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = emb.toMap
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def cellOf(v: Array[Float]): Int = (0 until 8)
      .map(c => (c, r4(dotd(v, byId(c.toLong)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1
    val cells = emb.map { case (v, ev) => v -> cellOf(ev) }.toMap
    val pop = cells.values.groupBy(identity).map { case (c, xs) =>
      c -> xs.size.toLong
    }
    val got = q("q_sim_ivfpq_nprobe", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq === (0L until 5L).toSeq)
    got.foreach { case (qid, nc, h, rec) =>
      // Cost recount: candidates = the two routed cells' populations
      // minus the probe itself (the probe lives in exactly one cell).
      val routed = (0 until 8)
        .map(c => (c, r4(dotd(byId(qid), byId(c.toLong)))))
        .sortBy { case (c, dp) => (-dp, c) }.take(2).map(_._1)
      val expect = routed.map(pop).sum -
        (if (routed.contains(cells(qid))) 1L else 0L)
      assert(nc === expect, s"q$qid: candidate census must equal the " +
        s"probed cells' populations ($expect)")
      // Strict superset of the single-cell candidate set.
      assert(nc >= pop(cells(qid)) - 1, s"q$qid: nprobe=2 must scan at " +
        "least the home cell")
      assert(h >= 0 && h <= 5 && rec == h / 5.0)
    }
  }

  test("q_sim_ivfpq_refine: driver ADC-shortlist recount — refined " +
      "hits ≡ |shortlist ∩ exact top-5|, dominates ADC-only recall") {
    import org.apache.spark.sql.functions._
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = emb.toMap
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def sub(v: Array[Float], m: Int): Array[Float] =
      v.slice(m * 16, m * 16 + 16)
    def cellOf(v: Array[Float]): Int = (0 until 8)
      .map(c => (c, r4(dotd(v, byId(c.toLong)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1
    def codeOf(v: Array[Float], m: Int): Int = (0 until 8)
      .map(c => (c, r6(dotd(sub(v, m), sub(byId(c.toLong), m)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1
    val cells = emb.map { case (v, ev) => v -> cellOf(ev) }.toMap
    val got = q("q_sim_ivfpq_refine", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq === (0L until 5L).toSeq)
    // Sibling output for the dominance theorem: ADC-top-5 ⊆ the
    // shortlist, and under the shared (sim desc, vec_id) total order
    // refined hits = |shortlist ∩ exact-top-5| ≥ ADC-only hits.
    val adcHits = q("q_sim_ivfpq_recall", sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (qid, nresc, h, rec) =>
      val qe = byId(qid)
      val cand = emb.map(_._1)
        .filter(v => v != qid && cells(v) == cells(qid))
      // Full driver ADC recount: each candidate's 4 codes select the
      // probe's precomputed r6 codebook dots; sum on the r4e4 grid.
      val shortlist = cand.map { v =>
        val s = (0 until 4).map(m =>
          r6(dotd(sub(qe, m), sub(byId(codeOf(byId(v), m).toLong), m)))).sum
        v -> (math.floor(s * 10000 + 0.5) / 10000)
      }.sortBy { case (v, s) => (-s, v) }.take(10).map(_._1).toSet
      val top5 = emb.map(_._1).filter(_ != qid)
        .map(v => v -> r4(dotd(byId(v), qe)))
        .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
      assert(nresc === math.min(10, cand.length).toLong,
        s"q$qid: must rescore exactly min(R, |cell|-self) rows")
      assert(h === (shortlist & top5).size.toLong,
        s"q$qid: refined hits must equal |shortlist ∩ exact top-5|")
      assert(h >= adcHits(qid),
        s"q$qid: exact rescoring must dominate ADC-only recall")
      assert(rec == h / 5.0)
    }
  }

  test("q_sim_ivfpq_res: full driver residual-code recount — " +
      "hits equality + delta coherence vs the raw-ADC sibling") {
    import org.apache.spark.sql.functions._
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = emb.toMap
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cellOf(v: Array[Float]): Int = (0 until 8)
      .map(c => (c, r4(dotd(v, byId(c.toLong)))))
      .sortBy { case (c, dp) => (-dp, c) }.head._1
    val cells = emb.map { case (v, ev) => v -> cellOf(ev) }.toMap
    // f32 residuals via exact double-sub-then-round (the engine's
    // zip_with cast chain).
    val rv = emb.map { case (v, ev) =>
      val ce = byId(cells(v).toLong)
      v -> ev.indices.map(i =>
        (ev(i).toDouble - ce(i).toDouble).toFloat).toArray
    }.toMap
    def sub(a: Array[Float], m: Int): Array[Float] =
      a.slice(m * 16, m * 16 + 16)
    // Residual codes: argmin-L2 through the three-dot identity on
    // the r6 grid, cid tie-break.
    def codeOf(v: Long, m: Int): Int = {
      val s = sub(rv(v), m)
      val svv = dotd(s, s)
      (0 until 8).map { j =>
        val c = sub(rv(j.toLong), m)
        (j, r6((svv - 2 * dotd(s, c)) + dotd(c, c)))
      }.sortBy { case (j, dist) => (dist, j) }.head._1
    }
    val got = q("q_sim_ivfpq_res", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(got.map(_._1).toSeq === (0L until 5L).toSeq)
    got.foreach { case (qid, hAdc, hRes, rec, delta) =>
      val qe = byId(qid)
      val qcd = r4(dotd(qe, byId(cells(qid).toLong)))
      val cand = emb.map(_._1)
        .filter(v => v != qid && cells(v) == cells(qid))
      val top5res = cand.map { v =>
        val rsum = (0 until 4).map(m =>
          r6(dotd(sub(qe, m), sub(rv(codeOf(v, m).toLong), m)))).sum
        v -> (math.floor((qcd + rsum) * 10000 + 0.5) / 10000)
      }.sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
      val trueTop5 = emb.map(_._1).filter(_ != qid)
        .map(v => v -> r4(dotd(byId(v), qe)))
        .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
      assert(hRes === (top5res & trueTop5).size.toLong,
        s"q$qid: residual-ADC hits must equal the driver recount")
      assert(delta === hRes - hAdc && rec == hRes / 5.0,
        s"q$qid: delta/recall coherence")
    }
  }

  test("q_join_asof_near: driver recount + superset/agreement " +
      "coherence with q_join_asof_tol + no-tie fixture pin") {
    import org.apache.spark.sql.functions._
    case class E(id: Long, us: Long, uid: Long, typ: String)
    val ev = ops.Tables.t(spark, sf0001, "events")
      .where(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type")).collect()
      .map(r => E(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // Fixture pin for the comment's determinism claim: no two signups
    // of one user share a timestamp (else both engines' forward-ASOF
    // tie-break would be unspecified).
    val sgn = ev.filter(_.typ == "signup")
    assert(sgn.groupBy(e => (e.uid, e.us)).forall(_._2.size == 1),
      "fixture grew (user, ts) signup collisions — revisit tie-breaks")
    val byUser = ev.groupBy(_.uid)
    val tol = 86400L * 1000000L
    val got = q("q_join_asof_near", sf0001).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    val expect = ev.filter(_.typ == "purchase").sortBy(_.id).map { p =>
      val sg = byUser(p.uid).filter(_.typ == "signup")
      val prev = sg.filter(_.us <= p.us)
        .sortBy(e => (e.us, e.id)).lastOption
      val next = sg.filter(_.us > p.us)
        .sortBy(e => (e.us, e.id)).headOption
      val takePrev = prev.isDefined &&
        (next.isEmpty || p.us - prev.get.us <= next.get.us - p.us)
      val cand = if (takePrev) prev else next
      cand match {
        case Some(c) =>
          val dist = math.abs(p.us - c.us)
          if (dist <= tol)
            (p.id, Some(c.id),
              Some(if (takePrev) "prev" else "next"), Some(dist))
          else (p.id, None, None, None)
        case None => (p.id, None, None, None)
      }
    }.toSeq
    assert(got === expect, "nearest as-of must equal the recount")
    // Coherence: anything q_join_asof_tol matches, nearest matches
    // too (its chosen distance is ≤ the backward one); and when the
    // nearest pick is 'prev', it is THE tolerance row's match.
    val tolRow = q("q_join_asof_tol", sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    got.foreach { case (pid, sidOpt, dirOpt, _) =>
      tolRow(pid).foreach { tolSid =>
        assert(sidOpt.isDefined,
          s"$pid: a fresh backward match implies a nearest match")
        if (dirOpt.contains("prev"))
          assert(sidOpt.contains(tolSid),
            s"$pid: a 'prev' nearest pick must be the as-of-tol match")
      }
    }
  }

  test("q_pipe_datacard: cross-row consistency web — the card must " +
      "agree with every constituent row + exact-dup recount") {
    import org.apache.spark.sql.functions._
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val card = q("q_pipe_datacard", d).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
        .toMap
      // Formula-identical constituents: the card's columns must equal
      // the standalone rows cell-for-cell, per language.
      val quality = q("q_text_quality", d).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val gopher = q("q_text_gopher", d).collect()
        .map(r => r.getString(0) -> r.getLong(7)).toMap
      val apply = q("q_dedup_apply", d).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      card.foreach { case (lang, (nd, tm, nx, nnd, ngp, aq)) =>
        assert(aq === quality(lang),
          s"$d/$lang: avg_quality must equal q_text_quality's avg_q")
        assert(ngp === gopher(lang),
          s"$d/$lang: gopher census must equal q_text_gopher's n_pass_all")
        assert(nnd === apply(lang)._2,
          s"$d/$lang: near-dup drops must equal q_dedup_apply's " +
            "dropped_docs")
        assert(nd === apply(lang)._1 + apply(lang)._2,
          s"$d/$lang: doc count must equal kept + dropped")
        assert(nx >= 0 && nx < nd && tm > 0)
      }
      // Exact-dup census recount from the raw corpus.
      val dup = ops.Tables.t(spark, d, "documents")
        .select(col("lang"), col("text")).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.size - 1)
        .toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2.toLong).sum).toMap
      card.foreach { case (lang, (_, _, nx, _, _, _)) =>
        assert(nx === dup.getOrElse(lang, 0L),
          s"$d/$lang: exact-dup census must equal the driver recount")
      }
    }
  }

  test("q_pipe_datacard: a NULL-lang group keeps its card row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Every per-lang aggregate in the card keeps NULL as its own
    // group; the exact-dup census joined back on lang must too.
    // Docs 0/1 and 3/4 are exact duplicates within their lang group.
    val dir = java.nio.file.Files.createTempDirectory("graft_nulllang").toString
    Seq[(Long, String, String)](
        (0L, "the fast fox", "en"), (1L, "the fast fox", "en"),
        (2L, "le chat lent slow", null), (3L, "der hund ist gut", null),
        (4L, "der hund ist gut", null))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val card = q("q_pipe_datacard", dir).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(3)))
      .toMap
    assert(card === Map(Some("en") -> (2L, 1L), None -> (3L, 1L)),
      "(n_docs, n_exact_dupes) per lang")
  }

  test("q_join_asof_tol: driver recount + tolerance-partition " +
      "coherence with q_join_asof") {
    import org.apache.spark.sql.functions._
    // Full-precision micros for ordering/tolerance (the engine
    // compares raw timestamps); second-truncated epoch for age (the
    // engine's cast-to-long output convention).
    case class E(id: Long, us: Long, sec: Long, uid: Long, typ: String)
    val ev = ops.Tables.t(spark, sf0001, "events")
      .where(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), unix_micros(col("ts")),
        col("ts").cast("long"), col("user_id"), col("event_type"))
      .collect()
      .map(r => E(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val byUser = ev.groupBy(_.uid)
    val got = q("q_join_asof_tol", sf0001).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    // Driver recount: most recent signup at or before the purchase
    // (equal-ts signups sort before the purchase in the engine's
    // (ts, tag, id) frame, so <= is the visibility rule; ties on ts
    // take the largest event_id — the last row in frame order),
    // nulled when more than 86 400 000 000 µs old.
    val expect = ev.filter(_.typ == "purchase").sortBy(_.id).map { p =>
      val cand = byUser(p.uid)
        .filter(e => e.typ == "signup" && e.us <= p.us)
      if (cand.isEmpty) (p.id, None, None)
      else {
        val sPick = cand.maxBy(e => (e.us, e.id))
        if (p.us - sPick.us <= 86400L * 1000000L)
          (p.id, Some(sPick.id), Some(p.sec - sPick.sec))
        else (p.id, None, None)
      }
    }.toSeq
    assert(got === expect, "tolerance as-of must equal the recount")
    // Coherence: the tolerance row's matched set is exactly the
    // q_join_asof matches aged ≤ 1 day; age is always in [0, 86400].
    val base = q("q_join_asof", sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    got.foreach { case (pid, sidOpt, ageOpt) =>
      sidOpt.foreach { sid =>
        assert(base(pid).contains(sid),
          s"$pid: a fresh match must be THE as-of match")
      }
      ageOpt.foreach(a => assert(a >= 0 && a <= 86400L))
    }
  }

  test("q_dedup_lsh_curve: driver recount of the full table + " +
      "sig-based empirical detection vs the r=1 prediction") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // Engine kernels produce the shingle sets and signatures; all
    // downstream arithmetic (pairing, micro-unit Jaccard, binning,
    // squaring-chain predictions, per-bin integer sums) recounts
    // driver-side, and the engine's row must match cell-for-cell.
    val docs = ops.Tables.t(spark, sf0001, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id", $"lang",
        array_distinct(expr("shingle_hash(w, 3)")).as("tok"),
        expr("minhash_sig(shingle_hash(w, 3), 16)").as("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Long](2).toSet, r.getSeq[Long](3).toArray))
    def r6l(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    case class P(mj: Long, bands: Int)
    val pairs = for {
      (da, la, ta, sa) <- docs
      (db, lb, tb, sb) <- docs
      if la == lb && da < db && (ta & tb).nonEmpty
    } yield {
      val common = (ta & tb).size
      val mj = r6l(common.toDouble / (ta.size + tb.size - common).toDouble)
      P(mj, sa.zip(sb).count { case (x, y) => x == y })
    }
    val byBin = pairs.groupBy(p => math.floor(p.mj / 100000.0).toLong)
    val expect = byBin.toSeq.sortBy(_._1).map { case (bin, ps) =>
      val n = ps.size
      def mean(v: Seq[Long]) =
        math.floor(v.sum.toDouble / n + 0.5) / 1e6
      def chain(s6: Double, r: Int, b: Int): Long = {
        // ((x²)²)… squaring chain, identical association to the row
        val x = r match {
          case 1 => 1.0 - s6
          case 2 => 1.0 - s6 * s6
          case 4 => 1.0 - (s6 * s6) * (s6 * s6)
        }
        var acc = x
        var sq = b
        while (sq > 1) { acc = acc * acc; sq /= 2 }
        r6l(1.0 - acc)
      }
      (bin, n.toLong, mean(ps.map(_.mj)),
        mean(ps.map(p => chain(p.mj / 1e6, 1, 16))),
        mean(ps.map(p => chain(p.mj / 1e6, 2, 8))),
        mean(ps.map(p => chain(p.mj / 1e6, 4, 4))))
    }
    val got = q("q_dedup_lsh_curve", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === expect, "engine table must equal the driver recount")
    // Empirical S-curve: a pair is DETECTED iff ≥ 1 of its 16 band
    // hashes collide (r=1 banding). The engine's own scaladoc claim —
    // recall effectively 1 at s ≥ 0.6 — must hold measured, and the
    // large low-s bin must sit near its predicted detection rate.
    byBin.foreach { case (bin, ps) =>
      val emp = ps.count(_.bands >= 1).toDouble / ps.size
      val pred = expect.find(_._1 == bin).get._4
      if (ps.forall(_.mj >= 600000)) {
        assert(emp === 1.0,
          s"bin $bin: every s ≥ 0.6 pair must band-collide")
      }
      if (ps.size >= 30) {
        assert(math.abs(emp - pred) <= 0.05,
          s"bin $bin: empirical rate $emp vs predicted $pred")
      }
    }
  }

  test("q_text_bm25_incr: merged index ≡ frozen full index, serve parity") {
    import org.apache.spark.sql.functions._
    // Equality-to-full-rebuild at the SERVE level: the incremental row
    // (base postings ∪ batch, refreshed idf/norm) must reproduce the
    // frozen full index's serve ranking row-for-row.
    val incr = q("q_text_bm25_incr", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val serve = q("q_text_bm25_serve", sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(incr === serve, "merged-index serve must equal frozen-index serve")
    // And at the POSTINGS level: the persisted base is exactly the
    // full index minus the batch docs (so base ∪ batch = full).
    val full = ops.TextOps.bm25Index(spark, sf0001)
      .select(col("term"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val base = ops.TextOps.bm25BasePostings(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(base === full.filter(_._2 % 5 != 0),
      "base postings must be the full postings minus the batch docs")
    assert(full.exists(_._2 % 5 == 0), "batch must be non-empty")
  }

  test("q_graph_butterfly/jaccard: no fixture customer exceeds the neighbor cap") {
    import org.apache.spark.sql.functions._
    // The queries cap per-customer supplier lists (capNeighbors at
    // JaccardCap) while their oracles join the UNCAPPED edge list:
    // the differential is byte-identical only while no customer
    // exceeds the cap. Assert that explicitly, per fixture, with a
    // readable failure — a regenerated hub-heavy fixture fails HERE
    // instead of as an opaque hash mismatch.
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val maxDeg = ops.Tables.t(spark, d, "orders")
        .join(ops.Tables.t(spark, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
        .groupBy(col("c")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
      assert(maxDeg <= ops.GraphOps.JaccardCap,
        s"fixture $d has a customer with $maxDeg distinct suppliers — above " +
          s"capNeighbors' cap ${ops.GraphOps.JaccardCap}; " +
          "q_graph_butterfly/q_graph_jaccard oracles join the uncapped " +
          "list, so either mirror the cap in the oracle SQL or raise the cap")
    }
  }

  test("q_graph_ktruss: driver peel recount + round sufficiency") {
    import org.apache.spark.sql.functions._
    // Independent set-based peel to the exact fixpoint over the
    // collected co-purchase graph.
    val li = ops.Tables.t(spark, sf0001, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
    var edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey"), col("b.l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var changed = true
    while (changed) {
      val adj = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      for ((u, v) <- edges) {
        adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
        adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
      }
      val keep = edges.filter { case (u, v) =>
        (adj(u) & adj(v)).size >= 2
      }
      changed = keep != edges
      edges = keep
    }
    val deg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for ((u, v) <- edges) { deg(u) += 1; deg(v) += 1 }
    val expect = deg.toSeq.sortBy(_._1)
    val got = q("q_graph_ktruss", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
    assert(got.nonEmpty, "the fixture 4-truss must be non-empty")
    // Round sufficiency (the kcore discipline): one more round changes
    // nothing, so the fixed unroll is at the monotone fixpoint.
    val s = spark
    import s.implicits._
    val e0 = edges // already at fixpoint — rebuild from raw for the law
    val raw = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val r5 = ops.GraphOps.ktrussEdges(raw, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r6 = ops.GraphOps.ktrussEdges(raw, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r5 === r6, "5 peel rounds must reach the fixpoint")
    assert(r5 === e0, "engine fixpoint must equal the driver peel")
  }

  test("sssp/ktruss round sufficiency at sf0.01 — the differential's " +
      "own SF (ADVICE r14)") {
    import org.apache.spark.sql.functions._
    // The DuckDB oracle unrolls the IDENTICAL fixed round count, so
    // an under-converged regenerated fixture at the gate SF would
    // pass the differential silently — only this law catches it (the
    // sf0.001 laws alone leave the sf0.01 gate unguarded; the
    // UlmMaxWordLen/JaccardCap two-SF pattern).
    val d = "/root/testdata/sf0.01"
    val edf = ops.GraphOps.tradeEdgesWgt(spark, d)
    val seed = ops.GraphOps.tradeDeg(spark, d)
      .select(col("src").as("node"), col("d").as("dg"))
      .orderBy(col("dg").desc, col("node")).limit(1).select(col("node"))
      .localCheckpoint()
    val r0 = ops.GraphOps.ssspDist(edf, seed, ops.GraphOps.SsspRounds)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val r1 = ops.GraphOps.ssspDist(edf, seed, ops.GraphOps.SsspRounds + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r0 === r1,
      s"${ops.GraphOps.SsspRounds} relaxation rounds must reach the " +
        s"sf0.01 fixpoint (measured need: 5)")
    val li = ops.Tables.t(spark, d, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
    val raw = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val k5 = ops.GraphOps.ktrussEdges(raw, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val k6 = ops.GraphOps.ktrussEdges(raw, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k5 === k6,
      "5 peel rounds must reach the sf0.01 fixpoint (measured need: 3)")
  }

  test("q_graph_ppr: driver recount, mass conservation, seed restart floor") {
    import org.apache.spark.sql.functions._
    // Independent power iteration over the collected graph with the
    // identical update (scale by 0.85, add the restart at the seed).
    val e = ops.GraphOps.tradeEdges(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val deg = e.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val seed = deg.toSeq.sortBy { case (n, d0) => (-d0, n) }.head._1
    var r = Map(seed -> 1.0)
    for (_ <- 1 to 5) {
      val nxt = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      for ((u, v) <- e; ru <- r.get(u)) nxt(v) += ru / deg(u)
      val scaled = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      nxt.foreach { case (n, v) => scaled(n) = 0.85 * v }
      scaled(seed) += 0.15
      r = scaled.toMap
    }
    // Structural laws: total mass exactly 1 (no dangling nodes), and
    // the seed keeps at least its own restart probability.
    assert(math.abs(r.values.sum - 1.0) < 1e-9, "PPR mass must be 1")
    assert(r(seed) >= 0.15 - 1e-12, "seed keeps its restart mass")
    val expect = r.toSeq
      .map { case (n, v) => (n, math.floor(v * 1e6 + 0.5) / 1e6) }
      .sortBy { case (n, v) => (-v, n) }.take(20)
    val got = q("q_graph_ppr", sf0001).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    assert(got.length === 20)
    got.zip(expect).foreach { case ((_, gv), (_, ev)) =>
      assert(math.abs(gv - ev) < 2e-6, s"ppr drifted: $gv vs $ev")
    }
    assert(got.map(_._1).toSet === expect.map(_._1).toSet,
      "top-20 membership must match the recount")
  }

  test("q_text_unigram_ppl: frozen-vocab NLL recount") {
    import org.apache.spark.sql.functions._
    // The Viterbi path's piece costs sum exactly to the dp minimum, so
    // the per-word NLL recounts from the segmentation helper; the
    // per-lang rollup and the final exp mirror the query's algebra on
    // identical exact-integer operands.
    val (_, frozen) =
      ulmDriverTrain(wordCounts(sf0001, col("doc_id") >= 300),
        ops.TextOps.UlmEmRounds)
    val batch = ops.Tables.t(spark, sf0001, "documents")
      .where(col("doc_id") < 300)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = batch.groupBy(_._1).toSeq.map { case (lang, ws) =>
      var nw = 0L; var noov = 0L; var ntok = 0L; var nll = 0L
      for ((_, w, c) <- ws) {
        nw += c
        ulmSegment(w, frozen) match {
          case Some(ps) =>
            ntok += c * ps.length
            nll += c * ps.map(frozen).sum
          case None => noov += c
        }
      }
      (lang, nw, noov, ntok, nll,
        math.floor(math.exp(nll / 1e6 / ntok) * 1e4 + 0.5) / 1e4)
    }.sortBy(_._1)
    val got = q("q_text_unigram_ppl", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
  }

  test("q_sim_ann_nprobe: recall monotone in probe width + cost recount") {
    import org.apache.spark.sql.functions._
    // Candidate-set inclusion ⇒ a ground-truth member in the candidate
    // set always dominates into the serve top-5, so hits can only grow
    // with nprobe — check the dial row against the nprobe=1 eval.
    val one = q("q_sim_serve_recall", sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = q("q_sim_ann_nprobe", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    two.foreach { case (qid, _, h2) =>
      assert(h2 >= one(qid), s"probe $qid: nprobe=2 hits $h2 dropped " +
        s"below nprobe=1's ${one(qid)} — candidate inclusion violated")
    }
    // Cost recount: n_candidates = the two nearest cells' populations
    // minus the probe itself (the probe's own cell is its nearest, so
    // it is always among the two probed partitions).
    val emb = ops.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def simf(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      math.floor(acc * 1e4 + 0.5) / 1e4
    }
    val sizes = ops.SimOps.annIndex(spark, sf0001)
      .select(col("cell")).collect()
      .map(_.getAs[Number](0).longValue)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    two.foreach { case (qid, nc, _) =>
      val top2 = (0L until 8L)
        .sortBy(c => (-simf(emb(qid), emb(c)), c)).take(2)
      assert(nc === top2.map(sizes).sum - 1,
        s"probe $qid: candidate count must equal its two nearest " +
          "cells' populations minus itself")
    }
  }

  test("q_sim_ann_incr: merged index ≡ rebuilt index + serve parity") {
    import org.apache.spark.sql.functions._
    // Serve parity: the merged (base ∪ appended-batch) index must
    // reproduce the full-index serve path row-for-row.
    def rows(name: String) = q(name, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getAs[Number](3).longValue, r.getDouble(4))).toSeq
    assert(rows("q_sim_ann_incr") === rows("q_sim_ann_serve"),
      "merged-index serve must equal full-index serve")
    // Assignment level: the persisted base is exactly the full
    // assignment minus the batch (frozen centroids ⇒ cell assignment
    // is a pure function of the vector).
    val full = ops.SimOps.annIndex(spark, sf0001)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    val base = ops.SimOps.annBaseIndex(spark, sf0001)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    assert(base === full.filter(_._1 % 10 != 9),
      "base index must be the full assignment minus the batch vectors")
    assert(full.exists(_._1 % 10 == 9), "batch must be non-empty")
  }

  /** Viterbi-segment `w` under piece costs `cost` (exact BIGINT DP,
    * smallest-predecessor ties — the engine's tie-break): Some(pieces
    * on the argmin path) or None when the end is unreachable. */
  private def ulmSegment(w: String,
      cost: Map[String, Long]): Option[Seq[String]] = {
    val P = ops.TextOps.UlmPieceLen
    val n = w.length
    val dp = Array.fill(n + 1)(Long.MaxValue)
    dp(0) = 0L
    for (i <- 1 to n; j <- math.max(0, i - P) until i)
      cost.get(w.substring(j, i)).foreach { cm =>
        if (dp(j) != Long.MaxValue && dp(j) + cm < dp(i)) dp(i) = dp(j) + cm
      }
    if (dp(n) == Long.MaxValue) None
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) {
        val j = (math.max(0, pos - P) until pos).find { j0 =>
          cost.get(w.substring(j0, pos)).exists(cm =>
            dp(j0) != Long.MaxValue && dp(j0) + cm == dp(pos))
        }.get
        out += w.substring(j, pos)
        pos = j
      }
      Some(out.toSeq)
    }
  }

  /** Independent driver-side unigram-LM EM (seed → Viterbi E-step →
    * census → M-step) over a word-count map — plain Scala array DP,
    * nothing shared with the engine's expression machinery. Returns
    * (final usage, final cost). */
  private def ulmDriverTrain(wc: Map[String, Long], rounds: Int)
      : (Map[String, Long], Map[String, Long]) = {
    val P = ops.TextOps.UlmPieceLen
    var cost: Map[String, Long] = {
      val occ = wc.toSeq.flatMap { case (w, c) =>
        for (i <- 0 until w.length; l <- 1 to math.min(P, w.length - i))
          yield (w.substring(i, i + l), c)
      }
      val tot = occ.map(_._2).sum.toDouble
      occ.groupBy(_._1).map { case (p, xs) =>
        p -> math.round(-math.log(xs.map(_._2).sum / tot) * 1e6)
      }
    }
    var usage: Map[String, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val u = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, c) <- wc; p <- ulmSegment(w, cost)
        .getOrElse(fail(s"training word $w unsegmentable"))) u(p) += c
      usage = u.toMap
      val tot = usage.values.sum.toDouble
      cost = usage.map { case (p, n0) =>
        p -> math.round(-math.log(n0 / tot) * 1e6)
      }
    }
    (usage, cost)
  }

  private def wordCounts(d: String, pred: org.apache.spark.sql.Column)
      : Map[String, Long] = {
    import org.apache.spark.sql.functions._
    ops.Tables.t(spark, d, "documents").where(pred)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("q_text_unigram_lm: full driver-side EM recount + conservation") {
    import org.apache.spark.sql.functions._
    val wc = wordCounts(sf0001, lit(true))
    val (usage, cost) = ulmDriverTrain(wc, ops.TextOps.UlmEmRounds)
    // Char-mass conservation — the structural law Viterbi segmentation
    // guarantees: every char of every word occurrence lands in exactly
    // one emitted piece.
    val charMass = wc.map { case (w, c) => w.length * c }.sum
    assert(usage.map { case (p, n0) => p.length * n0 }.sum === charMass,
      "piece usage must conserve total word char mass")
    val expect = usage.toSeq.map { case (p, n0) => (p, n0, cost(p)) }
      .sortBy { case (p, n0, _) => (-n0, p) }.take(30)
    val got = q("q_text_unigram_lm", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
  }

  test("q_text_unigram_serve: frozen-vocab recount + census laws") {
    import org.apache.spark.sql.functions._
    // Retrain the frozen artifact driver-side (corpus minus the
    // batch), segment every batch word under the frozen costs with
    // char fallback, and recount the per-lang census.
    val (_, frozen) =
      ulmDriverTrain(wordCounts(sf0001, col("doc_id") >= 300),
        ops.TextOps.UlmEmRounds)
    val batch = ops.Tables.t(spark, sf0001, "documents")
      .where(col("doc_id") < 300)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = batch.groupBy(_._1).toSeq.map { case (lang, ws) =>
      val rows = ws.map { case (_, w, c) =>
        val seg = ulmSegment(w, frozen)
        (c, seg.map(_.length).getOrElse(w.length).toLong,
          if (seg.isEmpty) c else 0L)
      }
      val nw = rows.map(_._1).sum
      val nt = rows.map { case (c, k, _) => c * k }.sum
      (lang, nw, nt, rows.map(_._3).sum,
        math.floor(nt * 1.0 / nw * 1e4 + 0.5) / 1e4)
    }.sortBy(_._1)
    val got = q("q_text_unigram_serve", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got === expect, s"got $got\nexpected $expect")
  }

  test("q_text_unigram_lm law: equals driver EM on random corpora") {
    val s = spark
    import s.implicits._
    // Random small-alphabet corpora through the full declared query —
    // sweeps the count-tie and dp-tie shapes (equal frequencies →
    // equal micro-nat costs → tight-edge ties) the fixture's 31-word
    // vocabulary can't guarantee.
    (0 until 2).foreach { k =>
      val rng = new scala.util.Random(32452843L * (k + 1))
      val alpha = "ab"
      def word() = (0 until (rng.nextInt(6) + 1))
        .map(_ => alpha(rng.nextInt(alpha.length))).mkString
      val docs = (0 until 12).map { i =>
        (i.toLong, (0 until (rng.nextInt(5) + 2)).map(_ => word())
          .mkString(" "), "en", "src0", 1L)
      }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ulm_prop$k").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val wc = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val (usage, cost) = ulmDriverTrain(wc, ops.TextOps.UlmEmRounds)
      val expect = usage.toSeq.map { case (p, n0) => (p, n0, cost(p)) }
        .sortBy { case (p, n0, _) => (-n0, p) }.take(30)
      val got = q("q_text_unigram_lm", dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === expect, s"case $k: got $got\nexpected $expect")
    }
  }

  test("q_text_unigram_serve: OOV char fallback genuinely fires") {
    val s = spark
    import s.implicits._
    // Crafted fixture: training docs (doc_id >= 300) never contain the
    // char 'z', the batch does — the frozen vocabulary cannot segment
    // "zz", so the serve row must take the char-fallback branch.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ulm_oov").toString
    Seq((300L, "ab ab ba", "en", "src0", 8L),
        (301L, "abba baab", "en", "src0", 9L),
        (0L, "ab zz", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val row = q("q_text_unigram_serve", dir).collect()(0)
    assert(row.getString(0) === "en")
    assert(row.getLong(1) === 2L, "two batch word occurrences")
    assert(row.getLong(3) === 1L, "the unseen-char word must be OOV")
    // n_tokens = tokens("ab") + char-fallback(2 for "zz") ≥ 3.
    assert(row.getLong(2) >= 3L && row.getLong(2) <= 4L)
  }

  test("q_text_unigram_lm: fixture word length within the DP unroll") {
    import org.apache.spark.sql.functions._
    // The engine unrolls UlmMaxWordLen DP/backtrack rounds; a longer
    // word's end position would go unreached and the word silently
    // vanish from the census. Pin the fixture bound with a readable
    // failure (the butterfly-cap pattern).
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val maxLen = ops.Tables.t(spark, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(max(length(col("w")))).collect()(0).getInt(0)
      assert(maxLen <= ops.TextOps.UlmMaxWordLen,
        s"fixture $d has a $maxLen-char word, above q_text_unigram_lm's " +
          s"DP unroll depth ${ops.TextOps.UlmMaxWordLen} — raise " +
          "UlmMaxWordLen (and the oracle unroll) to cover it")
    }
  }

  test("substrExactSpans: a doc at the 2^20 gid cap fails loudly") {
    val s = spark
    import s.implicits._
    // The gid encoding doc_id·2^20 + pos aliases across docs once a
    // doc reaches 2^20 chars — the guard must turn that into a loud
    // error at the scan, never silently-merged span classes.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_substr_guard").toString
    val big = "ab" * (1 << 19) // exactly 2^20 chars — at the cap
    Seq((0L, big, "en", "src0", big.length.toLong),
        (1L, "short doc", "en", "src0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      q("q_dedup_substr_exact", dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("2^20")),
      s"guard must name the gid cap; got: ${messages(ex).mkString(" | ")}")
  }
}
