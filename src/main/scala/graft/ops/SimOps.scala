package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.8 similarity-search + multimodal extensions over `embeddings`
  * (SURVEY §2.8). Fixture vectors are unit-L2-normalized (FIXTURES.md,
  * measured), so cosine similarity = dot product; all arithmetic is
  * float→DOUBLE widened before any multiply (exact) in BOTH engines.
  *
  * Scale notes (100 TB):
  *  - `q_sim_cosine_topk` is the brute-force ANN baseline: broadcast
  *    the single query vector, one codegen'd pass over the corpus,
  *    TakeOrderedAndProject top-k — no shuffle of the big side. The
  *    scale path (IVF/LSH bucketing) reuses `q_dedup_minhash`'s
  *    band-bucket join shape on quantized vector prefixes.
  *  - `q_sim_pairs` is deliberately BLOCKED (vec_id < 200) — the pair
  *    join is bounded 200×199/2, never an unbounded crossJoin. At
  *    cluster scale the block becomes an LSH bucket id.
  *  - `q_multimodal_join` models the text↔vector modality join: equi
  *    join on the shared id, dim-side auto-broadcast under AQE.
  */
object SimOps {

  /** Dot product of two (float-typed) vector columns in DOUBLE —
    * the native codegen'd expression (graft.functions.FloatDot), not
    * the interpreted aggregate(zip_with(...)) HOF form. */
  private def dot(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column) =
    graft.functions.FloatDot.dotF(a, b)

  // ---- product quantization (q_sim_ann_pq / q_sim_ann_ivfpq) ---------
  // ONE definition of the PQ geometry and the subspace slicing, shared
  // by the standalone ADC row and the composed IVF+PQ index so the
  // code assignment can never drift between them (the copurchaseEdges
  // discipline): the 64-dim space splits into M=4 subspaces of 16
  // dims; each subspace's 8-entry codebook is the first 8 corpus
  // vectors' subvectors (the deterministic q_sim_ann_ivf centroid
  // convention).
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 8
  // Refine shortlist depth (q_sim_ivfpq_refine): top-R ADC candidates
  // get exact rescoring. Shared with the oracle via string interp.
  private val RefineR = 10

  /** Per-(vector, subspace) PQ subvectors `(vec_id, m, sv)` — M
    * slices of SubDim dims, the q_sim_maxsim slicing expression. */
  private def pqSubs(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), " +
          s"t -> slice(embedding, t * $PqSubDim + 1, $PqSubDim))"))
      .as(Seq("m", "sv")))

  // ---- random-hyperplane LSH (q_sim_ann_lsh) -------------------------
  // H sign bits over deterministic hyperplanes. Components use the
  // repo's cross-engine md5-60bit formula (SURVEY §2.9): uniformly in
  // [-1, 1] with 3 decimal digits, then narrowed to FLOAT so both
  // engines multiply the exact same widened doubles. The same numeric
  // literals are embedded in the Spark expression AND the DuckDB
  // oracle, so equivalence is by construction, not by reproducing
  // hash functions across engines.
  private val LshBits = 6
  private val EmbDim = 64

  private def md560(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private val lshPlanes: Seq[Seq[Float]] =
    (0 until LshBits).map { i =>
      (0 until EmbDim).map { j =>
        ((md560(s"p${i}_$j") % 2001L - 1000L) / 1000.0).toFloat
      }
    }

  /** Spark-side bucket id: sum of sign bits weighted 2^i; every dot is
    * the codegen'd float_dot against a constant-folded literal array. */
  private val lshBucketSpark: String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
      s"${1 << i} * (CASE WHEN float_dot(embedding, $arr) >= 0D THEN 1 ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB-side bucket id — identical component literals, REAL-cast so
    * the FLOAT→DOUBLE widening matches Spark bit for bit. */
  private val lshBucketDuck: String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(f => s"CAST($f AS REAL)").mkString("[", ", ", "]")
      s"${1 << i} * (CASE WHEN list_sum(list_transform(list_zip(embedding, $arr), " +
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) >= 0 THEN 1 ELSE 0 END)"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(
    // Top-10 neighbors of vec_id=0 by cosine (= dot on unit vectors).
    // Ranked on the ROUNDED similarity so a last-ulp summation-order
    // difference between engines cannot flip the cutoff.
    // HYBRID RETRIEVAL — Reciprocal Rank Fusion (Cormack et al.,
    // SIGIR'09) of a lexical BM25 ranking and a dense cosine ranking
    // for one query (doc 0's terms / vec 0's embedding): rrf =
    // Σ 1/(60 + rank) over the rankers that retrieved the doc, top-10.
    // This is the serving-side join every RAG stack runs between its
    // inverted index and its ANN index. Determinism is layered: each
    // BM25 term contribution rounds to integer MICRO-nats BEFORE the
    // per-doc sum (order-free BIGINT — the q_text_dsir move; a plain
    // double sum over ~30 query terms could flip a rank), cosine snaps
    // to the 1e-4 grid, and both rankings come from DistRank's
    // distributed rank (range buckets + broadcast offsets — never a
    // single-task global window) with doc_id tie-breaks. At 100 TB
    // each leg is the corpus scan it always was (postings join /
    // broadcast-query dot scan); the fusion itself joins two ≤ k-row
    // rank tables.
    "q_sim_hybrid" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val qt = docs.where($"doc_id" === 0)
        .select(explode(array_distinct(split($"text", " "))).as("term"))
      val tok = docs
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      // Doc lengths MAP-SIDE (size of the split array ≡ the exploded
      // term count, incl. the empty-string token of an empty text):
      // the explode+groupBy form re-tokenized the whole corpus a
      // second time just to count rows per doc.
      val dl = docs.select($"doc_id",
        size(split($"text", " ")).cast("long").as("len"))
      val stats = dl.agg(count(lit(1)).as("n"), avg($"len" * 1.0).as("avgdl"))
      val tf = tok.join(broadcast(qt), "term").where($"doc_id" =!= 0)
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfp = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val lexScore = tf.join(broadcast(dfp), "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select($"doc_id", round(
          log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * $"tf" * 2.2
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"len" / $"avgdl"))
            * 1e6).cast("long").as("c_micro"))
        .groupBy($"doc_id").agg(sum($"c_micro").as("sc"))
      val lexRank = DistRank.withGlobalRank(lexScore, 8, $"sc".desc, $"doc_id")
        .where(col(DistRank.RankCol) <= 20)
        .select($"doc_id", col(DistRank.RankCol).as("lex_rank"))
      val emb = t(s, d, "embeddings")
      val q0 = emb.where($"vec_id" === 0).select($"embedding".as("qe"))
      val vecScore = emb.where($"vec_id" =!= 0).crossJoin(broadcast(q0))
        .select($"vec_id".as("doc_id"),
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sv"))
      val vecRank = DistRank.withGlobalRank(vecScore, 8, $"sv".desc, $"doc_id")
        .where(col(DistRank.RankCol) <= 20)
        .select($"doc_id", col(DistRank.RankCol).as("vec_rank"))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          (floor((coalesce(lit(1.0) / ($"lex_rank" + 60), lit(0.0))
            + coalesce(lit(1.0) / ($"vec_rank" + 60), lit(0.0))) * 1e6 + 0.5)
            / 1e6).as("rrf"),
          $"lex_rank", $"vec_rank")
        .orderBy($"rrf".desc, $"doc_id")
        .limit(10)
    }),

    "q_sim_cosine_topk" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q0 = emb.where($"vec_id" === 0).select($"embedding".as("qe"))
      emb.where($"vec_id" =!= 0)
        .crossJoin(broadcast(q0))
        .select($"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
        .limit(10)
    }),

    // Range search: ALL vectors within cosine ≥ τ of the query — the
    // other half of the similarity-search API (top-k answers "give me
    // the k best", range answers "give me everything good enough",
    // the dedup/recall-sweep primitive). Same broadcast-query +
    // codegen'd-dot scan as top-k, but the selection is a pushable
    // per-row predicate instead of a global TakeOrdered — at 100 TB
    // the scan parallelizes per-partition with NO top-k heap or final
    // ordering bottleneck beyond the (small) matching set. Threshold
    // compares the ROUNDED sim so a last-ulp summation-order diff
    // can't flip set membership.
    "q_sim_range" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q0 = emb.where($"vec_id" === 0).select($"embedding".as("qe"))
      emb.where($"vec_id" =!= 0)
        .crossJoin(broadcast(q0))
        .select($"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .where($"sim" >= 0.2)
        .orderBy($"sim".desc, $"vec_id")
    }),

    // k-NN JOIN: a BATCH of query vectors (vec_id < 20) each retrieves
    // its top-3 corpus neighbors — the shape of dedup-against-seed-set
    // and eval-set contamination checks, vs the single-query top-k
    // above. The query batch broadcasts (corpus never shuffles for the
    // join); the per-query ranking is a row_number window that Spark's
    // WindowGroupLimit prunes to k per group BEFORE the shuffle — the
    // map-side heap of a distributed k-NN join. Rank on the ROUNDED
    // sim + vec_id so the cutoff is engine-invariant.
    // HARD-NEGATIVE MINING — the contrastive-training data op behind
    // every embedding-model pipeline (in-batch negatives are easy;
    // the informative signal is the nearest vector with a DIFFERENT
    // label): for each of the 20 query vectors, the top-1 most-similar
    // different-label corpus vector plus the same-label top-1 for the
    // margin diagnostic (negative harder than your positive ⇒ the pair
    // the model most needs). Same scale shape as q_sim_knn_join: the
    // 20-row query batch broadcasts (whitelisted tiny side), the
    // corpus scans ONCE through the codegen'd dot kernel, and the
    // per-query argmax is a keyed WindowGroupLimit heap — map-side
    // top-1 per partition, never a global sort. 1e-4-snapped sims +
    // vec_id ties keep both engines' argmax identical.
    "q_sim_hardneg" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val qs = emb.where($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"label".as("qlabel"),
          $"embedding".as("qe"))
      val w = Window.partitionBy($"qid", $"grp")
        .orderBy($"sim".desc, $"vec_id")
      emb.where($"vec_id" >= 20)
        .crossJoin(broadcast(qs))
        .select($"qid", $"qlabel", $"vec_id", $"label",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"),
          when($"label" === $"qlabel", lit("pos")).otherwise(lit("neg"))
            .as("grp"))
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .groupBy($"qid")
        .agg(min(when($"grp" === "neg", $"vec_id")).as("hard_neg"),
          min(when($"grp" === "neg", $"sim")).as("neg_sim"),
          min(when($"grp" === "pos", $"vec_id")).as("top_pos"),
          min(when($"grp" === "pos", $"sim")).as("pos_sim"))
        .withColumn("margin",
          (floor(($"pos_sim" - $"neg_sim") * 1e4 + 0.5) / 1e4))
        .orderBy($"qid")
    }),

    "q_sim_knn_join" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val qs = emb.where($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
      emb.where($"vec_id" >= 20)
        .crossJoin(broadcast(qs))
        .select($"qid", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(w)).where($"rn" <= 3)
        .select($"qid", $"vec_id", $"sim", $"rn")
        .orderBy($"qid", $"rn")
    }),

    // Pair similarity within the vec_id<200 block, counted per
    // (label_lo, label_hi). Threshold 0.35: SURVEY §2.8 wrote 0.8, but
    // the fixture's maximum pair similarity is 0.4372 (measured at
    // sf0.01) — 0.8 would declare a permanently-empty result. 0.35
    // keeps the identical blocked-self-join + threshold semantics and
    // makes the row non-vacuous.
    // PCA TOP COMPONENT via POWER ITERATION — the decorrelation/
    // whitening prep SemDeDup-style embedding pipelines run before
    // clustering: mean-center, form the d×d gram matrix C = Σ(x−µ)(x−µ)'
    // in ONE distributed pass (per-row outer product via double
    // posexplode — d² cells per vector, keyed aggregation), then 5
    // power-iteration rounds v ← C·v/‖C·v‖ entirely on the d²-row C
    // (corpus never rescanned). Sign fixed by the max-|loading|
    // component (deterministic convention); eigenvalue = ‖C·v‖ at the
    // last step (Rayleigh estimate). At 10⁹ vectors the one pass is
    // the cost and C stays d² regardless of n — the textbook
    // distributed-PCA shape (d ≤ a few hundred; past that, switch to
    // randomized sketching, noted here). Output: top-10 |loading|
    // components (selection on the ROUNDED loading — flip-safe).
    "q_sim_pca" -> ((s, d) => {
      import s.implicits._
      val v0 = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding").as(Seq("i0", "xf")))
        .select($"vec_id", ($"i0" + 1).as("i"),
          $"xf".cast("double").as("x"))
      val mu = v0.groupBy($"i").agg((sum($"x") / count(lit(1))).as("mu"))
      val cent = v0.join(broadcast(mu), "i")
        .select($"vec_id", $"i", ($"x" - $"mu").as("x"))
      val c = Tables.ck(cent.as("a")
        .join(cent.as("b"), col("a.vec_id") === col("b.vec_id"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.x") * col("b.x")).as("c")))
      // v carries its index as `vi` so the C-join is never an
      // ambiguous self-reference (v derives from c's lineage).
      var v = c.select($"i").distinct()
        .select($"i".as("vi"), lit(1.0).as("vv"))
      var lambda: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to 5) {
        val u = Tables.ck(c.join(broadcast(v), $"j" === $"vi")
          .groupBy($"i").agg(sum($"c" * $"vv").as("u")))
        lambda = u.agg(sqrt(sum($"u" * $"u")).as("lam"))
        v = u.crossJoin(broadcast(lambda))
          .select($"i".as("vi"), ($"u" / $"lam").as("vv"))
      }
      val sgn = v.orderBy(abs($"vv").desc, $"vi").limit(1)
        .select(when($"vv" >= 0, 1.0).otherwise(-1.0).as("sg"))
      v.crossJoin(broadcast(sgn)).crossJoin(broadcast(lambda))
        .select($"vi".as("i"),
          (floor($"vv" * $"sg" * 1e4 + 0.5) / 1e4).as("loading"),
          (floor($"lam" * 100 + 0.5) / 100).as("eigenvalue"))
        .orderBy(abs($"loading").desc, $"i")
        .limit(10)
    }),

    // Embedding-geometry AUDIT — the check run before any ANN index
    // is built: L2 norms per label (cosine-vs-dot equivalence only
    // holds on unit vectors; a mixed-norm corpus silently breaks IVF
    // /LSH recall), dimension consistency, and the count of vectors
    // off unit norm by > 1% (decided on the ROUNDED norm so a
    // last-ulp summation diff can't flip membership — the q_sim_range
    // rule). Map-only over the corpus + one keyed rollup: at 10⁹
    // vectors this is the cheapest scan in the pipeline.
    "q_sim_norms" -> ((s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"label",
          size($"embedding").as("dim"),
          (floor(sqrt(dot($"embedding", $"embedding")) * 1e4 + 0.5) / 1e4)
            .as("nrm"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          min($"dim").as("min_dim"), max($"dim").as("max_dim"),
          (floor(avg($"nrm") * 1e4 + 0.5) / 1e4).as("avg_norm"),
          (floor(min($"nrm") * 1e4 + 0.5) / 1e4).as("min_norm"),
          (floor(max($"nrm") * 1e4 + 0.5) / 1e4).as("max_norm"),
          sum(when(abs($"nrm" - 1.0) > 0.01, 1L).otherwise(0L))
            .as("n_offunit"))
        .orderBy($"label")
    }),

    // SCALAR QUANTIZATION (SQ8) — the vector-store compression every
    // billion-vector deployment runs before/besides PQ: per-DIMENSION
    // min/max over the corpus → 8-bit code ⌊(x−lo)/(hi−lo)·256⌋
    // (clamped at 255 for x = hi) → midpoint reconstruction
    // lo + (code+½)(hi−lo)/256, with a per-dim audit row (saturated-
    // code count + reconstruction MSE — the table that decides
    // whether 4× compression costs recall). Two scans: the min/max
    // pass collapses to |dim| rows map-side (plain commutative
    // partials) and BROADCASTS back — the code pass is then map-side
    // arithmetic; at 10⁹ vectors nothing but the (vec, dim, x) scan
    // moves. Cross-engine exactness: both engines widen the same f32
    // to the same double, so code = floor of an identical product is
    // bit-equal; only the MSE mean (summation-order-sensitive) rounds
    // (1e-10 grid, ~9 orders above the noise).
    "q_sim_quantize" -> ((s, d) => {
      import s.implicits._
      val px = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"vec_id", $"dim", $"xf".cast("double").as("x"))
      val mm = px.groupBy($"dim").agg(min($"x").as("lo"), max($"x").as("hi"))
      px.join(broadcast(mm), "dim")
        .withColumn("code",
          least(floor(($"x" - $"lo") / ($"hi" - $"lo") * 256).cast("int"),
            lit(255)))
        .withColumn("recon",
          $"lo" + ($"code" + 0.5) * ($"hi" - $"lo") / 256)
        .groupBy($"dim").agg(
          count(lit(1)).as("n_values"),
          sum(when($"code" === 255, 1L).otherwise(0L)).as("n_top"),
          (floor(avg(($"x" - $"recon") * ($"x" - $"recon")) * 1e10 + 0.5)
            / 1e10).as("mse"))
        .orderBy($"dim")
    }),

    "q_sim_pairs" -> ((s, d) => {
      import s.implicits._
      val e = t(s, d, "embeddings").where($"vec_id" < 200)
        .select($"vec_id", $"label", $"embedding")
      val a = e.select($"vec_id".as("vec_a"), $"label".as("label_a"),
        $"embedding".as("emb_a"))
      val b = e.select($"vec_id".as("vec_b"), $"label".as("label_b"),
        $"embedding".as("emb_b"))
      a.join(b, $"vec_a" < $"vec_b")
        .withColumn("sim", floor(dot($"emb_a", $"emb_b") * 1e4 + 0.5) / 1e4)
        .where($"sim" >= 0.35)
        .groupBy(least($"label_a", $"label_b").as("label_lo"),
                 greatest($"label_a", $"label_b").as("label_hi"))
        // floor form: the average of rounded sims can land exactly on
        // a .xxxx5 tie (seen at sf0.1), where cross-engine ROUND
        // semantics diverge; identical double ops are tie-proof.
        .agg(count(lit(1)).as("n"),
             (floor(avg($"sim") * 10000 + 0.5) / 10000).as("avg_sim"))
        .orderBy($"label_lo", $"label_hi")
    }),

    // LSH-bucketed ANN — the second scale path next to q_sim_ann_ivf
    // (the brief names both). Signature = 6 random-hyperplane sign
    // bits (map-only, codegen'd); candidates = the query's bucket plus
    // its 6 Hamming-1 neighbors (multi-probe LSH), so the corpus side
    // is pruned to ~7/64 of the buckets and NEVER pairwise-joined.
    // At 10^9 vectors: signatures are one narrow map pass, the probe
    // set stays 7 rows (broadcast), and the candidate scan reads only
    // the probed buckets (bucket becomes a partition key).
    "q_sim_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val sigs = t(s, d, "embeddings")
        .withColumn("bucket", expr(lshBucketSpark))
      val qrow = sigs.where($"vec_id" === 0)
        .select($"bucket".as("qb"), $"embedding".as("qe"))
      val probes = qrow.select(
        explode(array($"qb" +: (0 until LshBits).map(i =>
          $"qb".bitwiseXOR(lit(1 << i))): _*)).as("pb"), $"qe")
      sigs.where($"vec_id" =!= 0)
        .join(broadcast(probes), $"bucket" === $"pb")
        .select($"vec_id", $"bucket",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
        .limit(10)
    }),

    // Product-quantization ANN (the third scale path next to IVF and
    // LSH): the 64-dim space splits into 4 subspaces of 16 dims; each
    // subspace has an 8-entry codebook (deterministic: the first 8
    // corpus vectors, the same convention q_sim_ann_ivf uses), and a
    // corpus vector is encoded as its 4 argmax-dot codes. Query-time
    // ADC (asymmetric distance computation) scores a vector as the sum
    // of the QUERY's precomputed dot with each assigned centroid — at
    // 10^9 vectors the corpus side stores 4 bytes of codes per vector
    // and scoring is a 4-way lookup-table sum; no full vectors move.
    // Subspace dots are floor-rounded to 6 decimals before the argmax
    // (identical arithmetic both engines) so code assignment is
    // tie-stable; ranking uses the rounded ADC score + vec_id.
    "q_sim_ann_pq" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val subs = pqSubs(emb)
      val cents = subs.where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"), $"sv".as("cv"))
      val scored = subs.join(broadcast(cents), $"m" === $"cm")
        .select($"vec_id", $"m", $"cid",
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("dp"))
      val w = Window.partitionBy($"vec_id", $"m").orderBy($"dp".desc, $"cid")
      val codes = scored
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"vec_id", $"m", $"cid".as("code"))
      val qd = scored.where($"vec_id" === 0)
        .select($"m".as("qm"), $"cid".as("qcid"), $"dp".as("qdp"))
      codes.where($"vec_id" =!= 0)
        .join(broadcast(qd), $"m" === $"qm" && $"code" === $"qcid")
        .groupBy($"vec_id")
        .agg((floor(sum($"qdp") * 10000 + 0.5) / 10000).as("adc_sim"))
        .orderBy($"adc_sim".desc, $"vec_id")
        .limit(10)
    }),

    // ANN recall audit — measure, don't guess: recall@10 of the LSH
    // path against the brute-force baseline, composed from the two
    // declared queries themselves (same closures the driver runs).
    // At scale this is the query a pipeline runs on a sampled query
    // set before trusting an index; cheap because both sides are
    // already top-10 prunes.
    // On THIS corpus the set overlap is genuinely 0 (6 sign bits carry
    // almost no signal over near-orthogonal unit vectors — the honest
    // audit verdict is "don't trust this index here"), so the row also
    // reports both sides' mean top-10 similarity: the sim gap is the
    // non-vacuous quality-loss measurement.
    "q_sim_recall" -> ((s, d) => {
      import s.implicits._
      // ck both 10-row rank tables: each feeds the hit semi-join AND
      // its own avg — un-checkpointed, every reference replayed the
      // leg's full corpus pass (brute-force dot scan / LSH probe).
      val bf = Tables.ck(
        queries("q_sim_cosine_topk")(s, d).select($"vec_id", $"sim"))
      val ann = Tables.ck(
        queries("q_sim_ann_lsh")(s, d).select($"vec_id", $"sim"))
      val hits = bf.join(ann.select($"vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val bfAvg = bf.agg((floor(avg($"sim") * 1e4 + 0.5) / 1e4).as("bf_avg_sim"))
      val annAvg = ann.agg((floor(avg($"sim") * 1e4 + 0.5) / 1e4).as("ann_avg_sim"))
      hits.crossJoin(bfAvg).crossJoin(annAvg)
        .select($"n_hits", ($"n_hits" / 10.0).as("recall_at_10"),
          $"bf_avg_sim", $"ann_avg_sim")
    }),

    // Per-label centroid + dot-to-centroid spread — the k-means E-step
    // / embedding-outlier-audit shape. The centroid is computed
    // positionally (posexplode → avg per (label, pos)): both
    // aggregations are partial-aggregable, and the centroid table
    // (|labels| × 64 rows) broadcasts to the scoring join, so at 10^9
    // vectors the corpus is read twice and never shuffled whole —
    // the explode fans out 64 narrow rows per vector but each carries
    // only (id, label, pos, v). A vector far below its label's
    // avg_dot band is the outlier a cleaning pipeline would drop.
    "q_sim_centroid" -> ((s, d) => {
      import s.implicits._
      val ex = t(s, d, "embeddings")
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"vec_id", $"label", $"pos", $"v".cast("double").as("v"))
      val cent = ex.groupBy($"label", $"pos").agg(avg($"v").as("c"))
      val dots = ex.join(broadcast(cent), Seq("label", "pos"))
        .groupBy($"vec_id", $"label").agg(sum($"v" * $"c").as("dotc"))
      dots.groupBy($"label").agg(
          count(lit(1)).as("n_vectors"),
          (floor(avg($"dotc") * 1e4 + 0.5) / 1e4).as("avg_dot"),
          (floor(min($"dotc") * 1e4 + 0.5) / 1e4).as("min_dot"),
          (floor(max($"dotc") * 1e4 + 0.5) / 1e4).as("max_dot"))
        .orderBy($"label")
    }),

    // One k-means iteration (assign + update + convergence measure):
    // vectors assign to the argmax-dot seed centroid (the first 8
    // corpus vectors — same convention as q_sim_ann_ivf, floor-r6 +
    // cid tiebreak so assignment is tie-stable), new centroids are the
    // positional member means, and `centroid_dot` (new·old) is the
    // convergence signal a driver loop would test. Per-iteration cost
    // at 10^9 vectors: one broadcast scoring pass + one keyed
    // positional aggregate — no all-pairs anything.
    "q_sim_kmeans" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"))
      val w = Window.partitionBy($"vec_id").orderBy($"dp".desc, $"cid")
      val asn = emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"embedding", $"cid",
          (floor(dot($"embedding", $"cv") * 1e6 + 0.5) / 1e6).as("dp"))
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"vec_id", $"cid", $"embedding")
      val newc = asn
        .select($"cid", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos").agg(avg($"v".cast("double")).as("nv"))
      val oldc = cents
        .select($"cid", posexplode($"cv").as(Seq("pos", "ov")))
        .select($"cid", $"pos", $"ov".cast("double").as("ov"))
      val shift = newc.join(oldc, Seq("cid", "pos"))
        .groupBy($"cid").agg(sum($"nv" * $"ov").as("dot_on"))
      asn.groupBy($"cid").agg(count(lit(1)).as("n_members"))
        .join(shift, "cid")
        .select($"cid", $"n_members",
          (floor($"dot_on" * 1e4 + 0.5) / 1e4).as("centroid_dot"))
        .orderBy($"cid")
    }),

    // documents ⋈ embeddings on doc_id = vec_id: one row mixing text
    // metadata with a vector statistic (L2 norm, ≈1.0 by construction).
    "q_multimodal_join" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", $"lang", $"n_chars")
      val emb = t(s, d, "embeddings")
        .select($"vec_id", $"label", $"embedding")
      docs.join(emb, $"doc_id" === $"vec_id")
        .select($"doc_id", $"lang", $"n_chars", $"label",
          (floor(sqrt(dot($"embedding", $"embedding")) * 1e4 + 0.5) / 1e4)
            .as("l2norm"))
        .orderBy($"doc_id")
    }),

    // MMR (maximal marginal relevance) diversified retrieval: from the
    // top-8 cosine shortlist of vec_id=0, greedily pick 3 results
    // maximizing λ·sim(query) − (1−λ)·max-sim-to-already-picked
    // (λ=0.7) — the standard de-redundancy rerank between ANN
    // retrieval and context assembly. The greedy loop runs over the
    // SHORTLIST (k² pair sims, both sides broadcast, every pick a
    // limit-1 over ≤8 rows), never the corpus: at 100 TB the corpus
    // pays exactly one broadcast-query scan (the same as
    // q_sim_cosine_topk) and the rerank cost is independent of corpus
    // size. Every comparison uses floor-r4 sims + vec_id ties so both
    // engines pick identical chains.
    "q_sim_mmr" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q0 = emb.where($"vec_id" === 0).select($"embedding".as("qe"))
      // ck: the 8-row shortlist feeds l, r, p1 and (through pairs/c2/
      // c3/sel) every later greedy step — un-checkpointed, EACH
      // reference replayed the full corpus dot-scan + top-8 sort (the
      // static plan scanned embeddings 28 times); materializing 8
      // rows once makes every replay a cached-RDD read.
      val shortlist = Tables.ck(emb.where($"vec_id" =!= 0)
        .crossJoin(broadcast(q0))
        .select($"vec_id", $"embedding",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .orderBy($"sim".desc, $"vec_id").limit(8))
      val l = shortlist.toDF("vid_a", "emb_a", "sim_a")
      val r = shortlist.toDF("vid_b", "emb_b", "sim_b")
      val pairs = broadcast(l).crossJoin(broadcast(r))
        .where($"vid_a" =!= $"vid_b")
        .select($"vid_a", $"vid_b", $"sim_a",
          (floor(dot($"emb_a", $"emb_b") * 1e4 + 0.5) / 1e4).as("psim"))
      val p1 = shortlist.orderBy($"sim".desc, $"vec_id").limit(1)
        .select($"vec_id".as("s1"), $"sim".as("sim1"))
      val c2 = pairs.join(broadcast(p1), $"vid_b" === $"s1")
        .select($"vid_a", $"sim_a",
          (floor(($"sim_a" * 0.7 - $"psim" * 0.3) * 1e4 + 0.5) / 1e4)
            .as("score"))
      val p2 = c2.orderBy($"score".desc, $"vid_a").limit(1)
        .select($"vid_a".as("s2"), $"sim_a".as("sim2"), $"score".as("score2"))
      val sel = p1.select($"s1".as("sid")).union(p2.select($"s2".as("sid")))
      val c3 = pairs.join(broadcast(sel), $"vid_b" === $"sid")
        .groupBy($"vid_a", $"sim_a").agg(max($"psim").as("div"))
        .join(broadcast(sel.withColumnRenamed("sid", "x")),
          $"vid_a" === $"x", "left_anti")
        .select($"vid_a", $"sim_a",
          (floor(($"sim_a" * 0.7 - $"div" * 0.3) * 1e4 + 0.5) / 1e4)
            .as("score"))
      val p3 = c3.orderBy($"score".desc, $"vid_a").limit(1)
      p1.select(lit(1).as("pick"), $"s1".as("vec_id"),
          $"sim1".as("sim"), $"sim1".as("score"))
        .unionByName(p2.select(lit(2).as("pick"), $"s2".as("vec_id"),
          $"sim2".as("sim"), $"score2".as("score")))
        .unionByName(p3.select(lit(3).as("pick"), $"vid_a".as("vec_id"),
          $"sim_a".as("sim"), $"score".as("score")))
        .orderBy($"pick")
    }),

    // SEMANTIC CLUSTERING via kNN-GRAPH + LABEL PROPAGATION — the
    // label-free clustering pass that balances a pretraining mix or
    // scopes dedup work when no curated grouping exists (SemDeDup's
    // clusters, NN-descent pipelines): every vector's 3 nearest
    // neighbors WITHIN its random-hyperplane LSH cell become graph
    // edges, then 4 deterministic LPA rounds (GraphOps.lpaLabels — the
    // q_graph_lpa engine re-applied to a DIFFERENT graph, proving the
    // kernel composes) label the communities; output the cluster
    // census. Candidates come ONLY from the 2^6-cell LSH partition —
    // keyed self-join, never a cartesian; the cell count is the knob
    // at 10^9 vectors (more bits → smaller cells) with multi-probe
    // (q_sim_ann_lsh) as the recall path; the kNN cut is a per-vector
    // keyed window. Vectors alone in their cell stay singleton
    // clusters (left join, label defaults to own id). NOTE the
    // fixture's `label` column deliberately plays NO role and can't:
    // the fixture embeddings are geometrically unstructured by label
    // (mean within-label dot ≈ across-label ≈ 0, measured), so the
    // OpsSpec laws are STRUCTURAL — the census conserves every
    // vector exactly once, and every cluster sits inside one
    // connected component of the kNN graph (labels only travel along
    // edges).
    "q_sim_cluster" -> ((s, d) => {
      import s.implicits._
      val lab = GraphOps.lpaLabels(simKnnEdges(s, d), 4)
      t(s, d, "embeddings").select($"vec_id")
        .join(lab, $"vec_id" === $"node", "left")
        .select(coalesce($"lbl", $"vec_id").as("cluster"))
        .groupBy($"cluster").agg(count(lit(1)).as("n_vecs"))
        .orderBy($"n_vecs".desc, $"cluster")
    }),

    // LATE-INTERACTION RETRIEVAL (ColBERT MaxSim, Khattab & Zaharia,
    // SIGIR'20): score(q, d) = Σ_{query tokens} max_{doc tokens}
    // (q_t · d_t) — the multi-vector scoring that beats single-vector
    // retrieval by matching token-level structure. Token vectors are
    // a deterministic stand-in (the codec-stub convention): each
    // 64-dim fixture vector slices into 4×16-dim "token" subvectors —
    // the SHAPE (per-query-token max over doc tokens, then sum) is
    // the real operator; a production run swaps real token
    // embeddings into the same plan. Determinism: each subvector dot
    // snaps to the r4 grid BEFORE max (max over grid values — no
    // tie ambiguity in the value) and the final score is a sum of 4
    // grid values (exact). Scale: the 4-row query-token table
    // broadcasts (whitelisted tiny-broadcast class); the corpus
    // explodes ×4 into token rows but never self-joins — one
    // broadcast-scored pass + two keyed aggregates (max per (doc,
    // query-token), sum per doc), then TakeOrdered. The OpsSpec law
    // is the aligned-slice bound: MaxSim ≥ the full-vector dot
    // (Σ of aligned-slice dots), since each max dominates its
    // aligned term.
    "q_sim_maxsim" -> ((s, d) => {
      import s.implicits._
      val sliced = t(s, d, "embeddings").select($"vec_id",
        posexplode(expr(
          "transform(sequence(0, 3), t -> slice(embedding, t * 16 + 1, 16))"))
          .as(Seq("tok", "sub")))
      val qt = sliced.where($"vec_id" === 0)
        .select($"tok".as("tq"), $"sub".as("qv"))
      sliced.where($"vec_id" =!= 0).crossJoin(broadcast(qt))
        .select($"vec_id", $"tq",
          (floor(dot($"sub", $"qv") * 1e4 + 0.5) / 1e4).as("dp"))
        .groupBy($"vec_id", $"tq").agg(max($"dp").as("m"))
        .groupBy($"vec_id")
        .agg((floor(sum($"m") * 1e4 + 0.5) / 1e4).as("maxsim"))
        .orderBy($"maxsim".desc, $"vec_id")
        .limit(10)
    }),

    // ANN INDEX BUILD/SERVE SPLIT — the composition a real vector
    // store runs that q_sim_ann_ivf (which recomputes its index
    // inside the query) deliberately does not: the IVF index
    // (assignment of every vector to its argmax-dot coarse cell) is
    // built ONCE per (warehouse, fixture dir) and PERSISTED as a
    // cell-PARTITIONED managed table ([[annIndex]], the
    // q_join_bucket/q_join_dpp ensureTable idiom); the declared query
    // is the SERVE path only — a ≤5-row probe batch (vec_id < 5, the
    // documented tiny-broadcast query-batch class) joins the index on
    // the cell partition column, so partition pruning (static or
    // dynamic) drops every unprobed cell's files before they are
    // read, and the probe plan performs ZERO assignment work: exactly
    // one float_dot (query·candidate) appears in the executed plan
    // (pinned in PlanShapeSpec, along with the index-table scan). At
    // 10^9 vectors this is the whole point of IVF: build cost is paid
    // once at write time, and each probe batch touches |batch| cells'
    // partitions, not the corpus. Top-5 per query via a rank filter
    // directly above the window (WindowGroupLimit map-side heaps).
    // The probe batch arrives EXTERNALLY (vec_id < 5 read from the
    // base embeddings table — production swaps in the incoming query
    // vectors) and is ROUTED to its cells at serve time: 8 broadcast
    // centroid dots per probe + a 5-row argmax window, the per-query
    // routing every IVF deployment pays — NOT corpus assignment work
    // (the r13 shape selected probes by scanning the index itself, so
    // probe selection read every cell's files; now the index is
    // scanned exactly once, by the partition-pruned candidate join).
    // Routing uses the identical r4 grid + cid tie-break as the index
    // build, so the probe's computed cell provably equals its
    // persisted assignment.
    "q_sim_ann_serve" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val qs = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
        .crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" === 1)
        .select($"q_id", $"cid".as("qcell"), $"qe")
      val idx = annIndex(s, d)
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      idx.join(broadcast(qs), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", $"cell",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 5)
        .select($"q_id", $"rank", $"vec_id", $"cell", $"sim")
        .orderBy($"q_id", $"rank")
    }),

    // INCREMENTAL IVF INDEX MAINTENANCE — q_text_bm25_incr's sibling
    // on the vector side (together they close the nightly
    // index-refresh shape for both index families): a persisted BASE
    // IVF index built on the corpus MINUS an incoming batch
    // (vec_id ≡ 9 mod 10 — the batch; centroids 0-7 are all in the
    // base by construction), the batch assigned to cells at append
    // time (|batch| × 8 broadcast centroid dots — the only new
    // assignment work; the corpus is never reassigned), merged, and
    // served through the identical external-probe path as
    // q_sim_ann_serve. IVF appends are cheap BECAUSE coarse centroids
    // are frozen: cell assignment is a pure function of the vector,
    // so base ∪ assigned-batch ≡ the from-scratch index exactly —
    // the equality-to-full-rebuild law IS the differential (the
    // oracle recomputes the whole index from raw embeddings). At
    // 10^9 vectors: the base table's cell partitions are immutable,
    // the batch appends into its |batch| cells, and a probe's
    // partition pruning is unchanged. OpsSpec pins merged assignment
    // ≡ full annIndex assignment and serve parity with
    // q_sim_ann_serve.
    "q_sim_ann_incr" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      // cid stays LONG like the persisted index's cell column, so the
      // appended batch unions type-exactly onto the base.
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("ce"))
      // Append-time assignment of the BATCH only (same r4 grid + cid
      // tie-break as the base build, so merged ≡ rebuilt provably).
      val wa = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
      val batch = emb.where($"vec_id" % 10 === 9)
        .crossJoin(broadcast(cents))
        .withColumn("cdot",
          floor(dot($"embedding", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wa)).where($"rn" === 1)
        .select($"vec_id", $"label", $"embedding", $"cid".as("cell"))
      val merged = annBaseIndex(s, d)
        .select($"vec_id", $"label", $"embedding", $"cell")
        .unionByName(batch)
      // The q_sim_ann_serve external-probe serve path, on the merged
      // index.
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val qs = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
        .crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" === 1)
        .select($"q_id", $"cid".as("qcell"), $"qe")
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      merged.join(broadcast(qs), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", $"cell",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 5)
        .select($"q_id", $"rank", $"vec_id", $"cell", $"sim")
        .orderBy($"q_id", $"rank")
    }),

    // MULTI-PROBE DIAL-POINT EVAL (nprobe = 2) — the latency/recall
    // table an IVF deployment publishes before picking its probe
    // width, and the knob q_sim_serve_recall's nprobe=1 verdict
    // points at: each probe routes to its TWO nearest cells, and the
    // row reports per probe what that buys — candidates scanned
    // (the cost: partitions read scale with nprobe, never the
    // corpus) against hits into the brute-force top-5 (the recall).
    // Candidate-set inclusion makes the recall PROVABLY monotone in
    // nprobe (a ground-truth member in the candidate set always
    // dominates into the serve top-5) — the OpsSpec law checks it
    // against q_sim_serve_recall per probe; on this near-orthogonal
    // fixture the honest reading is the flat side of the dial
    // (nprobe=1 already hits 24/25 — the second partition roughly
    // doubles scan cost for no recall), which is exactly the
    // decision the table exists to expose.
    "q_sim_ann_nprobe" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val probes = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val qs = probes.crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" <= 2)
        .select($"q_id", $"cid".as("qcell"), $"qe")
      // Candidates from the persisted index's two probed partitions;
      // referenced twice (cost census + top-5) — materialize once.
      val cand = annIndex(s, d)
        .join(broadcast(qs), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .transform(Tables.ck)
      val ncand = cand.groupBy($"q_id")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val top5 = cand.withColumn("rank", row_number().over(w))
        .where($"rank" <= 5).select($"q_id", $"vec_id")
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(probes))
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val hits = top5.join(broadcast(bf), Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("h"))
      ncand.join(broadcast(hits), Seq("q_id"), "left")
        .select($"q_id", $"n_candidates",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall_at_5"))
        .orderBy($"q_id")
    }),

    // RETRIEVAL-QUALITY EVAL OF THE PERSISTED SERVE PATH — recall@5 +
    // reciprocal rank of q_sim_ann_serve's MATERIALIZED-index results
    // against the brute-force top-5 ground truth, per probe (MRR =
    // the mean of rr). The q_sim_recall composition pattern applied
    // to the persisted index: plan pins prove the serve path's SHAPE;
    // this row makes its retrieval QUALITY a declared, oracled
    // output — the eval a vector-store deployment actually publishes
    // before trusting an index. Both sides compose the declared
    // queries' own closures; ground truth is one broadcast-batch
    // corpus scan (the q_sim_knn_join shape) and the comparison joins
    // two ≤5-row-per-probe rank tables. rr = 1/(first serve rank that
    // hits the true top-5), 0 when none does — single-cell IVF probes
    // genuinely miss (the honest verdict at nprobe=1; the knob is
    // probe count).
    "q_sim_serve_recall" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val qs = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(qs)).where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val serve = queries("q_sim_ann_serve")(s, d)
        .select($"q_id", $"rank", $"vec_id")
      val hits = serve.join(bf, Seq("q_id", "vec_id"), "left_semi")
      qs.select($"q_id")
        .join(hits.groupBy($"q_id")
          .agg(count(lit(1)).as("h"), min($"rank").as("first_hit")),
          Seq("q_id"), "left")
        .select($"q_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall_at_5"),
          (floor(coalesce(lit(1.0) / $"first_hit", lit(0.0)) * 1e6 + 0.5)
            / 1e6).as("rr"))
        .orderBy($"q_id")
    }),

    // IVF+PQ COMPOSED SERVE (Jégou et al., TPAMI 2011 — the FAISS
    // IndexIVFPQ production shape, the r14 verdict's #1 missing
    // piece): both halves existed as separate rows — IVF routing
    // with partition pruning (q_sim_ann_serve) and PQ-ADC scoring
    // (q_sim_ann_pq) — and this row is their composition, which is
    // where the memory story actually lives: route each external
    // probe to its coarse cell (8 broadcast centroid dots + argmax,
    // identical r4 grid/tie-break to the index build, so the probed
    // cell provably equals a persisted assignment), prune the
    // PERSISTED codes-only index ([[ivfpqIndex]]) to that cell's
    // partition, and score every candidate as the sum of M=4 ADC
    // lookups against the probe's precomputed 8×4 query-dot table —
    // zero candidate embeddings read, zero assignment work at serve
    // time. At 10^9 vectors the scan per probe is |cell|·4 small
    // ints; the 160-row qd table and the 5-row routing broadcast.
    // Ranking on the r4-rounded ADC sum + vec_id (the q_sim_ann_pq
    // convention). Retrieval-quality cost of the code approximation
    // is the sibling eval row q_sim_ivfpq_recall.
    "q_sim_ann_ivfpq" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val route = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
        .crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" === 1)
        .select($"q_id", $"cid".as("qcell"))
      val cbook = pqSubs(emb).where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"),
          $"sv".as("cv"))
      val qd = pqSubs(emb.where($"vec_id" < 5))
        .join(broadcast(cbook), $"m" === $"cm")
        .select($"vec_id".as("qq"), $"m".as("qm"), $"cid".as("qcid"),
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("qdp"))
      val w = Window.partitionBy($"q_id").orderBy($"adc_sim".desc, $"vec_id")
      ivfpqIndex(s, d).join(broadcast(route), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .join(broadcast(qd),
          $"q_id" === $"qq" && $"m" === $"qm" && $"code" === $"qcid")
        .groupBy($"q_id", $"vec_id", $"cell")
        .agg((floor(sum($"qdp") * 10000 + 0.5) / 10000).as("adc_sim"))
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 5)
        .select($"q_id", $"rank", $"vec_id", $"cell", $"adc_sim")
        .orderBy($"q_id", $"rank")
    }),

    // MULTI-PROBE DIAL-POINT EVAL FOR THE COMPOSED INDEX (nprobe=2
    // over IVF+PQ) — q_sim_ann_nprobe's sibling on the codes-only
    // path: each probe routes to its TWO nearest cells, candidates
    // come from both pruned partitions of the persisted codes table,
    // and the row reports per probe what the second partition buys —
    // distinct candidates scanned (the cost; still 4 small ints per
    // candidate, never a vector) vs ADC-top-5 hits into the
    // brute-force exact top-5. Honesty note the exact-scoring
    // sibling doesn't need: with exact rescoring, recall is PROVABLY
    // monotone in nprobe (candidate-set inclusion — the
    // q_sim_ann_nprobe law); with ADC scoring it is NOT a theorem
    // (an added coarse-coded candidate can out-score and displace a
    // true neighbor), which is precisely why a deployment measures
    // this table instead of assuming the dial only goes up. The
    // spec law is therefore the COST recount (candidates =
    // probed-cell populations, driver-recomputed) plus coherence,
    // not monotonicity.
    "q_sim_ivfpq_nprobe" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val probes = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val route = probes.crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" <= 2)
        .select($"q_id", $"cid".as("qcell"))
      val cbook = pqSubs(emb).where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"),
          $"sv".as("cv"))
      val qd = pqSubs(emb.where($"vec_id" < 5))
        .join(broadcast(cbook), $"m" === $"cm")
        .select($"vec_id".as("qq"), $"m".as("qm"), $"cid".as("qcid"),
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("qdp"))
      // Candidate code rows from the two probed partitions;
      // referenced twice (cost census + ADC scoring) — materialize.
      val cand = ivfpqIndex(s, d)
        .join(broadcast(route), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .transform(Tables.ck)
      val ncand = cand.select($"q_id", $"vec_id").distinct()
        .groupBy($"q_id").agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy($"q_id").orderBy($"adc_sim".desc, $"vec_id")
      val top5 = cand
        .join(broadcast(qd),
          $"q_id" === $"qq" && $"m" === $"qm" && $"code" === $"qcid")
        .groupBy($"q_id", $"vec_id")
        .agg((floor(sum($"qdp") * 10000 + 0.5) / 10000).as("adc_sim"))
        .withColumn("rank", row_number().over(w)).where($"rank" <= 5)
        .select($"q_id", $"vec_id")
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(probes))
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val hits = top5.join(broadcast(bf), Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("h"))
      ncand.join(broadcast(hits), Seq("q_id"), "left")
        .select($"q_id", $"n_candidates",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall_at_5"))
        .orderBy($"q_id")
    }),

    // RETRIEVAL-QUALITY EVAL OF THE COMPOSED IVF+PQ PATH — recall@5 +
    // reciprocal rank of q_sim_ann_ivfpq against the brute-force
    // exact top-5, per probe (the q_sim_serve_recall pattern applied
    // to the codes-only index). This is the second loss dial a
    // FAISS-shaped deployment publishes: q_sim_serve_recall prices
    // the CELL PRUNING (what nprobe=1 misses), this row prices
    // pruning PLUS the 8-entry code approximation (what ADC re-ranks
    // wrongly INSIDE the probed cell) — per probe, hits(ivfpq) ≤
    // hits(exact serve) is a theorem (same candidate set, exact
    // rescoring dominates; the OpsSpec law), so the delta between
    // the two rows isolates the quantization loss.
    "q_sim_ivfpq_recall" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val qs = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(qs)).where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val serve = queries("q_sim_ann_ivfpq")(s, d)
        .select($"q_id", $"rank", $"vec_id")
      val hits = serve.join(bf, Seq("q_id", "vec_id"), "left_semi")
      qs.select($"q_id")
        .join(hits.groupBy($"q_id")
          .agg(count(lit(1)).as("h"), min($"rank").as("first_hit")),
          Seq("q_id"), "left")
        .select($"q_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall_at_5"),
          (floor(coalesce(lit(1.0) / $"first_hit", lit(0.0)) * 1e6 + 0.5)
            / 1e6).as("rr"))
        .orderBy($"q_id")
    }),

    // EXACT RE-RANKING REFINE STAGE OVER THE COMPOSED INDEX — the
    // FAISS IndexRefineFlat production shape (Jégou et al. TPAMI'11
    // §V-E: ADC shortlist, then exact re-ranking of the shortlist
    // only): serve from the codes-only index exactly as
    // q_sim_ann_ivfpq does (nprobe=1 route, ADC lookup sums), keep
    // the top-R=10 ADC candidates per probe, rescore ONLY those with
    // the exact float dot against the probe, re-cut to top-5, and
    // report per probe what the rescoring pass buys: rows rescored
    // (the cost) vs hits into the brute-force exact top-5. Unlike
    // the nprobe dial (NOT monotone under ADC), this dial carries a
    // THEOREM: ADC-top-5 ⊆ ADC-top-10 = shortlist, and under the
    // shared (sim desc, vec_id) total order every true-top-5 member
    // of the shortlist outranks every non-member, so refined hits =
    // |shortlist ∩ exact-top-5| ≥ ADC-only hits (q_sim_ivfpq_recall)
    // — the OpsSpec law asserts BOTH the equality (via a full driver
    // ADC recount) and the dominance (via the sibling row's output).
    // Cost shape at 10^9 vectors: the ADC pass scans the pruned
    // cell's 4-small-int codes untouched; the refine leg joins the
    // ≤R·|probes|-row shortlist (broadcast) against ONE pass over
    // the embeddings scan — the batch-serve amortization of
    // production's R point lookups — and only then touches R=10
    // vectors' worth of floats per probe downstream.
    "q_sim_ivfpq_refine" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val probes = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val route = probes.crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" === 1)
        .select($"q_id", $"cid".as("qcell"))
      val cbook = pqSubs(emb).where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"),
          $"sv".as("cv"))
      val qd = pqSubs(emb.where($"vec_id" < 5))
        .join(broadcast(cbook), $"m" === $"cm")
        .select($"vec_id".as("qq"), $"m".as("qm"), $"cid".as("qcid"),
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("qdp"))
      val wa = Window.partitionBy($"q_id").orderBy($"adc_sim".desc, $"vec_id")
      // ADC shortlist off the persisted codes-only index; referenced
      // twice (cost census + exact rescoring) — materialize.
      val shortlist = ivfpqIndex(s, d)
        .join(broadcast(route), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .join(broadcast(qd),
          $"q_id" === $"qq" && $"m" === $"qm" && $"code" === $"qcid")
        .groupBy($"q_id", $"vec_id")
        .agg((floor(sum($"qdp") * 10000 + 0.5) / 10000).as("adc_sim"))
        .withColumn("rn", row_number().over(wa)).where($"rn" <= RefineR)
        .select($"q_id", $"vec_id")
        .transform(Tables.ck)
      val nresc = shortlist.groupBy($"q_id")
        .agg(count(lit(1)).as("n_rescored"))
      val wr = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val ref5 = emb.join(broadcast(shortlist), "vec_id")
        .join(broadcast(probes), "q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wr)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(probes))
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val hits = ref5.join(broadcast(bf), Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("h"))
      nresc.join(broadcast(hits), Seq("q_id"), "left")
        .select($"q_id", $"n_rescored",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall_at_5"))
        .orderBy($"q_id")
    }),

    // RESIDUAL-ENCODED PQ — the ablation that decides the codebook
    // form (Jégou et al. TPAMI'11 §III: FAISS IndexIVFPQ encodes
    // r = x − c_cell, not x, because within-cell offsets are what the
    // 8-entry codebook must approximate once routing has already
    // spent the coarse geometry): codes are argmin-L2 assignments of
    // residual subvectors against a RESIDUAL codebook (the first-8
    // convention applied to residuals), and MIPS ADC uses the exact
    // bilinear split q·x = q·c_cell + q·r — the first term is the
    // ROUTING dot the probe already paid (r4 grid, reused), the
    // second is 4 lookup sums of RAW query subvectors against the
    // residual codebook. Per probe the row reports raw-ADC hits
    // (the persisted-index sibling, via q_sim_ivfpq_recall) next to
    // residual-ADC hits into the exact top-5 — the measured verdict
    // on whether residual encoding buys recall at the same 4-code
    // budget. The verdict is HONESTLY NEGATIVE here (measured
    // sf0.01: deltas −2/0/−1/−1/−2) and the row documents exactly
    // why: the engine's deterministic first-K codebook convention
    // COLLIDES with the centroid set (vec_id < 8 are the coarse
    // centroids, so several "residual codebook" entries are the
    // near-zero residuals of centroids in their own cells — wasted
    // capacity), which is the ablation-grade argument for why
    // production residual PQ always TRAINS its codebook (k-means on
    // residuals) while raw PQ can sometimes ride untrained
    // conventions. Numeric discipline: residuals materialize as float32
    // via exact double-sub-then-round (both engines produce the
    // identical f32), the L2 assignment runs through the three-dot
    // identity ‖r−c‖² = r·r − 2 r·c + c·c so every inner loop stays
    // on the codegen'd FloatDot path, dist on the r6 grid with cid
    // tie-break. Scale: same shape as the raw family — code
    // assignment is M·K dots per vector map-side, serve scans only
    // the probed cell's 4 small ints, the eval's brute-force leg is
    // the whitelisted ground-truth scan.
    "q_sim_ivfpq_res" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val probes = emb.where($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val wq = Window.partitionBy($"q_id").orderBy($"qdot".desc, $"cid")
      val route = probes.crossJoin(broadcast(cents))
        .withColumn("qdot", floor(dot($"qe", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wq)).where($"rn" === 1)
        .select($"q_id", $"cid".as("qcell"), $"qdot".as("qcd"))
      val wc = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
      val rcells = emb.crossJoin(broadcast(cents))
        .withColumn("cdot", floor(dot($"embedding", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wc)).where($"rn" === 1)
        .select($"vec_id", $"cid".as("cell"),
          zip_with($"embedding", $"ce",
            (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
            .as("rv"))
      val rsubs = rcells.select($"vec_id", $"cell", posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), " +
            s"t -> slice(rv, t * $PqSubDim + 1, $PqSubDim))"))
          .as(Seq("m", "sv")))
        .withColumn("svv", dot($"sv", $"sv"))
      val rcb = rsubs.where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"),
          $"sv".as("cv"), $"svv".as("cvcv"))
      val wp = Window.partitionBy($"vec_id", $"m")
        .orderBy($"dist".asc, $"cid")
      val rcodes = rsubs.join(broadcast(rcb), $"m" === $"cm")
        .select($"vec_id", $"cell", $"m", $"cid",
          (floor((($"svv" - lit(2) * dot($"sv", $"cv")) + $"cvcv")
            * 1e6 + 0.5) / 1e6).as("dist"))
        .withColumn("rn", row_number().over(wp)).where($"rn" === 1)
        .select($"vec_id", $"cell", $"m", $"cid".as("code"))
      val rqd = pqSubs(emb.where($"vec_id" < 5))
        .join(broadcast(rcb), $"m" === $"cm")
        .select($"vec_id".as("qq"), $"m".as("qm"), $"cid".as("qcid"),
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("qdp"))
      val w5 = Window.partitionBy($"q_id").orderBy($"adc_sim".desc, $"vec_id")
      val rtop = rcodes.join(broadcast(route), $"cell" === $"qcell")
        .where($"vec_id" =!= $"q_id")
        .join(broadcast(rqd),
          $"q_id" === $"qq" && $"m" === $"qm" && $"code" === $"qcid")
        .groupBy($"q_id", $"vec_id", $"qcd")
        .agg(sum($"qdp").as("rsum"))
        .select($"q_id", $"vec_id",
          (floor(($"qcd" + $"rsum") * 10000 + 0.5) / 10000).as("adc_sim"))
        .withColumn("rn", row_number().over(w5)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val wb = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val bf = emb.crossJoin(broadcast(probes))
        .where($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (floor(dot($"embedding", $"qe") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(wb)).where($"rn" <= 5)
        .select($"q_id", $"vec_id")
      val rhits = rtop.join(broadcast(bf), Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("rh"))
      queries("q_sim_ivfpq_recall")(s, d)
        .select($"q_id", $"n_hits".as("n_hits_adc"))
        .join(broadcast(rhits), Seq("q_id"), "left")
        .select($"q_id", $"n_hits_adc",
          coalesce($"rh", lit(0L)).as("n_hits_res"),
          (coalesce($"rh", lit(0L)) / 5.0).as("recall_res"),
          (coalesce($"rh", lit(0L)) - $"n_hits_adc").as("delta_hits"))
        .orderBy($"q_id")
    }),

    // ONE NN-DESCENT REFINEMENT ROUND (Dong et al., WWW'11) over the
    // LSH-cell kNN baseline ([[cellKnn]], the exact edges
    // q_sim_cluster builds its graph from): a neighbor of my neighbor
    // is probably my neighbor. The seed graph is cell top-3 ∪ 3
    // HASH-RANDOM edges per vector (h60(vec_id:k) mod |V| — the
    // paper's random initialization, made bit-reproducible the
    // q_graph_randomwalk way). The random edges are load-bearing, not
    // decoration: the same-bucket relation is TRANSITIVE, so 2-hop
    // expansion over pure cell edges can never leave a bucket and the
    // round would be a provable no-op — the random edges are what let
    // neighbor-of-neighbor candidates cross cells (measured on the
    // fixture: recall@3 vs brute force 87/1500 cell-only → 267/1500
    // after one round). Candidates = seed pairs ∪ the 2-hop pairs of
    // the SYMMETRIZED neighbor lists (forward ∪ reverse, the paper's
    // general-neighborhood move), deduped, then scored by one keyed
    // join against the embeddings on each end and re-cut to top-3 per
    // vector with a rank filter directly above the window
    // (WindowGroupLimit). Scale: candidates per vector are bounded by
    // (2·2K)² at K=3 — every join is keyed (vec_id or candidate
    // pair), the corpus never self-joins unblocked, and each extra
    // round is the same shape again. The OpsSpec law is the paper's
    // convergence claim at round granularity: refined recall@3 vs
    // brute-force strictly beats the cell-pass recall@3.
    "q_sim_nndescent" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      // |V| is one scalar for the whole job — resolved driver-side
      // (the q_graph_pagerank move); the oracle's scalar subquery
      // computes the same value.
      val n = emb.count()
      val rnd = emb
        .select($"vec_id", explode(array(lit(1), lit(2), lit(3))).as("k"))
        .select($"vec_id".as("va"),
          (Tables.h60(concat($"vec_id".cast("string"), lit(":"),
            $"k".cast("string"))) % n).as("vb"))
        .where($"vb" =!= $"va")
      val base = cellKnn(s, d).select($"va", $"vb")
        .unionByName(rnd).distinct()
      val sym = base
        .unionByName(base.select($"vb".as("va"), $"va".as("vb")))
        .distinct()
      val cand = sym.as("x")
        .join(sym.as("y"), col("x.vb") === col("y.va"))
        .select(col("x.va").as("va"), col("y.vb").as("vb"))
        .where($"va" =!= $"vb")
        .unionByName(base)
        .distinct()
      val scored = cand
        .join(emb.select($"vec_id".as("va"), $"embedding".as("ea")),
          Seq("va"))
        .join(emb.select($"vec_id".as("vb"), $"embedding".as("eb")),
          Seq("vb"))
        .select($"va", $"vb",
          (floor(dot($"ea", $"eb") * 1e4 + 0.5) / 1e4).as("sim"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy($"va").orderBy($"sim".desc, $"vb")))
        .where($"rank" <= 3)
        .select($"va".as("vec_id"), $"rank", $"vb".as("nbr"), $"sim")
        .orderBy($"vec_id", $"rank")
    }),
  )

  /** q_sim_ann_serve's materialized IVF index: the q_sim_ann_ivf
    * assignment pass (centroids = vec_id < 8, argmax on the r4 dot
    * grid with cid tie-break — grid and tie-break identical so the
    * two rows' cells provably agree) run ONCE per (warehouse,
    * fixture dir) and persisted as a managed table PARTITIONED BY
    * cell. Partitioning, not bucketing, is the serving layout: a
    * probe touches |batch| cells, and partition pruning removes the
    * other cells' files from the scan entirely — the index-side
    * analogue of q_join_dpp. Embeddings round-trip parquet as exact
    * float32, so the DuckDB oracle recomputing the assignment from
    * the raw embeddings table sees bit-identical vectors. */
  private[graft] def annIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_ann_ivf_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("ce"))
      val w = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
      emb.crossJoin(broadcast(cents))
        .withColumn("cdot",
          floor(dot($"embedding", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"vec_id", $"label", $"embedding", $"cid".as("cell"))
        .write.partitionBy("cell").mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** q_sim_ann_incr's persisted BASE IVF index: the annIndex
    * assignment restricted to the corpus MINUS the incoming batch
    * (vec_id ≡ 9 mod 10), written ONCE per (warehouse, dir) as a
    * cell-partitioned managed table. Centroids stay the full
    * vec_id < 8 set (all in the base — 0-7 ≢ 9 mod 10), so append
    * assignment is the same pure function the base build used. */
  private[graft] def annBaseIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_ann_base_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("ce"))
      val w = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
      emb.where($"vec_id" % 10 =!= 9)
        .crossJoin(broadcast(cents))
        .withColumn("cdot",
          floor(dot($"embedding", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"vec_id", $"label", $"embedding", $"cid".as("cell"))
        .write.partitionBy("cell").mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** The COMPOSED IVF+PQ index (the FAISS IndexIVFPQ production
    * shape): per vector, its coarse IVF cell (the identical
    * r4-grid/cid-tie-break assignment as [[annIndex]]) and its M PQ
    * codes (the identical r6-grid/cid-tie-break assignment as
    * q_sim_ann_pq), persisted ONCE per (warehouse, fixture dir) as a
    * managed table `(vec_id, m, code, cell)` PARTITIONED BY cell —
    * the inverted list stores the CODES, not the vectors. That
    * absence is the whole memory story: at 10^9 vectors the serve
    * path scans a pruned cell partition of 4 small ints per vector
    * (≈4 B/vector with byte codes in production) instead of 256 B of
    * float32 — the reason IVF+PQ serves from RAM when IVF-with-
    * vectors cannot — and candidate scoring never touches an
    * embedding at all (ADC lookup sums against the probe's
    * precomputed 8×M table). Embeddings round-trip parquet as exact
    * float32, so the oracle recomputing both assignments from the
    * raw table sees bit-identical vectors. */
  private[graft] def ivfpqIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val name = "graft_ann_ivfpq_" + d.replaceAll("[^A-Za-z0-9_]", "_")
    LayoutOps.ensureTable(s, name) {
      val emb = t(s, d, "embeddings")
      val cents = emb.where($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cid"), $"embedding".as("ce"))
      val wc = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
      val cells = emb.crossJoin(broadcast(cents))
        .withColumn("cdot",
          floor(dot($"embedding", $"ce") * 1e4 + 0.5) / 1e4)
        .withColumn("rn", row_number().over(wc)).where($"rn" === 1)
        .select($"vec_id", $"cid".cast("long").as("cell"))
      val subs = pqSubs(emb)
      val cbook = subs.where($"vec_id" < PqK)
        .select($"vec_id".cast("int").as("cid"), $"m".as("cm"),
          $"sv".as("cv"))
      val wp = Window.partitionBy($"vec_id", $"m")
        .orderBy($"dp".desc, $"cid")
      val codes = subs.join(broadcast(cbook), $"m" === $"cm")
        .select($"vec_id", $"m", $"cid",
          (floor(dot($"sv", $"cv") * 1e6 + 0.5) / 1e6).as("dp"))
        .withColumn("rn", row_number().over(wp)).where($"rn" === 1)
        .select($"vec_id", $"m", $"cid".as("code"))
      codes.join(cells, "vec_id")
        .write.partitionBy("cell").mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** Directed within-LSH-cell 3-NN list (va, vb, sim) — the one
    * candidate pass shared by q_sim_cluster's graph build and
    * q_sim_nndescent's refinement baseline (memoized via
    * Tables.derived so a multi-query run pays the cell self-join
    * once). Pairs come ONLY from a shared 2^6-bit cell — keyed
    * self-join, never a cartesian; the top-3 cut is a per-vector
    * keyed window on the rounded sim with vb tie-break. */
  private[graft] def cellKnn(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "sim_cell_knn") {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .withColumn("bucket", expr(lshBucketSpark))
      val a = emb.select($"bucket", $"vec_id".as("va"), $"embedding".as("ea"))
      val b = emb.select($"bucket", $"vec_id".as("vb"), $"embedding".as("eb"))
      a.join(b, Seq("bucket")).where($"va" =!= $"vb")
        .select($"va", $"vb",
          (floor(dot($"ea", $"eb") * 1e4 + 0.5) / 1e4).as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"va").orderBy($"sim".desc, $"vb")))
        .where($"rn" <= 3)
        .select($"va", $"vb", $"sim")
        .transform(Tables.ck)
    }

  /** q_sim_cluster's symmetric kNN-graph edges (3 NNs per vector
    * within its LSH cell), exposed so the OpsSpec containment law can
    * run connected components over the SAME graph the query labels. */
  private[graft] def simKnnEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val knn = cellKnn(s, d).select($"va".as("src"), $"vb".as("dst"))
    knn.unionByName(knn.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
  }

  // Extracted so q_sim_recall can reuse both sides as CTEs.
  // list_zip structs are unnamed in DuckDB → numeric access p[1]/p[2].
  private val cosineTopkSql = """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5) / 1e4 AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""

  private val annLshSql = s"""
      WITH sigs AS (
        SELECT vec_id, embedding, ($lshBucketDuck) AS bucket FROM embeddings),
      q AS (SELECT bucket AS qb, embedding AS qe FROM sigs WHERE vec_id = 0),
      probes AS (
        SELECT unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
                       xor(qb, 8), xor(qb, 16), xor(qb, 32)]) AS pb, qe
        FROM q)
      SELECT s.vec_id, s.bucket,
             FLOOR((list_sum(list_transform(list_zip(s.embedding, p.qe),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))) * 1e4 + 0.5) / 1e4 AS sim
      FROM sigs s JOIN probes p ON s.bucket = p.pb
      WHERE s.vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""

  /** Shared ann-serve oracle prefix (cents → cells → qs → probed →
    * serve), parameterized by the PROBE WIDTH: qs carries each
    * probe's top-`nprobe` cells. The WHOLE index is recomputed from
    * the raw embeddings table; q_sim_ann_serve / q_sim_ann_incr /
    * q_sim_serve_recall use nprobe = 1 and q_sim_ann_nprobe uses 2,
    * all off this one template so none can drift on the index
    * algebra. */
  private def annServeCtes(nprobe: Int) = s"""
      WITH cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id < 8),
      dots AS (
        SELECT e.vec_id, e.embedding, c.cid,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, c.ce),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS cdot
        FROM embeddings e CROSS JOIN cents c),
      cells AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT vec_id, embedding, cid AS cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cdot DESC, cid) AS rn
          FROM dots) WHERE rn = 1),
      qs AS (
        SELECT vec_id AS q_id, cid AS qcell, qe FROM (
          SELECT vec_id, embedding AS qe, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cdot DESC, cid) AS rn
          FROM dots WHERE vec_id < 5) WHERE rn <= $nprobe),
      probed AS (
        SELECT q.q_id, v.vec_id, v.cell,
               FLOOR((list_sum(list_transform(list_zip(v.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM cells v JOIN qs q ON v.cell = q.qcell
        WHERE v.vec_id <> q.q_id),
      serve AS (
        SELECT q_id, rank, vec_id, cell, sim FROM (
          SELECT q_id, vec_id, cell, sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rank
          FROM probed) WHERE rank <= 5)"""

  /** Shared IVF+PQ oracle prefix: [[annServeCtes]](1)'s routing/cell
    * recompute plus the full PQ code recompute (the q_sim_ann_pq
    * algebra verbatim: r6 subspace grid, cid tie-break) and the ADC
    * serve, ending in the `ivfpq` CTE — q_sim_ann_ivfpq and
    * q_sim_ivfpq_recall both extend it so serve and eval can never
    * drift on the index algebra. The WHOLE persisted index (cells
    * AND codes) is recomputed from the raw embeddings table, so a
    * drift between the persisted artifact and a fresh build fails
    * the differential. */
  private def ivfpqCtes(nprobe: Int): String = annServeCtes(nprobe) + s""",
      subs AS (
        SELECT vec_id, m,
               list_slice(embedding, m * $PqSubDim + 1,
                          m * $PqSubDim + $PqSubDim) AS sv
        FROM embeddings CROSS JOIN
          (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m)),
      cbook AS (
        SELECT vec_id AS cid, m AS cm, sv AS cv FROM subs
        WHERE vec_id < $PqK),
      pqscored AS (
        SELECT s.vec_id, s.m, c.cid,
               FLOOR(list_sum(list_transform(list_zip(s.sv, c.cv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS dp
        FROM subs s JOIN cbook c ON s.m = c.cm),
      codes AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT vec_id, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY dp DESC, cid) AS rn
          FROM pqscored) WHERE rn = 1),
      qd AS (SELECT vec_id AS qq, m AS qm, cid AS qcid, dp AS qdp
             FROM pqscored WHERE vec_id < 5),
      adc AS (
        SELECT q.q_id, v.vec_id, v.cell,
               FLOOR(SUM(d.qdp) * 10000 + 0.5) / 10000 AS adc_sim
        FROM cells v
        JOIN qs q ON v.cell = q.qcell AND v.vec_id <> q.q_id
        JOIN codes co ON co.vec_id = v.vec_id
        JOIN qd d ON d.qq = q.q_id AND d.qm = co.m AND d.qcid = co.code
        GROUP BY q.q_id, v.vec_id, v.cell),
      ivfpq AS (
        SELECT q_id, rank, vec_id, cell, adc_sim FROM (
          SELECT q_id, vec_id, cell, adc_sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY adc_sim DESC, vec_id) AS rank
          FROM adc) WHERE rank <= 5)"""

  /** q_sim_cluster oracle: identical LSH cells (same hyperplane
    * literals), identical within-cell 3-NN cut, then the q_graph_lpa
    * round template — numeric node ids this time — unrolled 4×. */
  private val simClusterSql = {
    val lpaCte = (i: Int) => s""",
      v$i AS MATERIALIZED (
        SELECT node, l, count(*) AS c FROM (
          SELECT e.dst AS node, p.lbl AS l
          FROM edges e JOIN l${i - 1} p ON e.src = p.node
          UNION ALL SELECT node, lbl FROM l${i - 1})
        GROUP BY node, l),
      l$i AS MATERIALIZED (
        SELECT node, l AS lbl FROM v$i
        QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, l) = 1)"""
    s"""
      WITH sigs AS MATERIALIZED (
        SELECT vec_id, embedding, $lshBucketDuck AS bucket
        FROM embeddings),
      cand AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               FLOOR(list_sum(list_transform(
                 list_zip(a.embedding, b.embedding),
                 z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      knn AS (
        SELECT va, vb FROM (
          SELECT va, vb,
                 row_number() OVER (PARTITION BY va
                   ORDER BY sim DESC, vb) AS rn
          FROM cand) WHERE rn <= 3),
      edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT va AS src, vb AS dst FROM knn
          UNION ALL SELECT vb, va FROM knn)),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lbl FROM edges)""" +
      (1 to 4).map(lpaCte).mkString + """
      SELECT cluster, count(*) AS n_vecs FROM (
        SELECT COALESCE(l4.lbl, e.vec_id) AS cluster
        FROM (SELECT vec_id FROM embeddings) e
        LEFT JOIN l4 ON e.vec_id = l4.node)
      GROUP BY cluster
      ORDER BY n_vecs DESC, cluster"""
  }

  val oracle: Map[String, String] = Map(
    "q_sim_cosine_topk" -> cosineTopkSql,

    // Identical widen/floor/clamp/midpoint algebra per dimension; the
    // code is bit-deterministic so only the MSE mean rounds.
    "q_sim_quantize" -> """
      WITH px AS (
        SELECT vec_id, u.i AS dim, CAST(embedding[u.i + 1] AS DOUBLE) AS x
        FROM embeddings,
             LATERAL (SELECT unnest(range(len(embedding))) AS i) u),
      mm AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM px GROUP BY dim),
      qc AS (
        SELECT p.dim, p.x, m.lo, m.hi,
               LEAST(CAST(FLOOR((p.x - m.lo) / (m.hi - m.lo) * 256) AS INT),
                     255) AS code
        FROM px p JOIN mm m USING (dim)),
      qr AS (SELECT dim, x, code,
                    lo + (code + 0.5) * (hi - lo) / 256 AS recon
             FROM qc)
      SELECT dim, count(*) AS n_values,
             CAST(SUM(CASE WHEN code = 255 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top,
             FLOOR(AVG((x - recon) * (x - recon)) * 1e10 + 0.5) / 1e10
               AS mse
      FROM qr GROUP BY dim ORDER BY dim""",

    // Brute-force twin: per (query, pos/neg side), the (sim DESC,
    // vec_id) argmax over the same snapped sims.
    "q_sim_hardneg" -> """
      WITH qs AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, q.qlabel, e.vec_id, e.label,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim,
               CASE WHEN e.label = q.qlabel THEN 'pos' ELSE 'neg' END AS grp
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id >= 20),
      top1 AS (
        SELECT qid, grp, vec_id, sim,
               row_number() OVER (PARTITION BY qid, grp
                 ORDER BY sim DESC, vec_id) AS rn
        FROM scored QUALIFY rn = 1)
      SELECT qid,
             MIN(CASE WHEN grp = 'neg' THEN vec_id END) AS hard_neg,
             MIN(CASE WHEN grp = 'neg' THEN sim END) AS neg_sim,
             MIN(CASE WHEN grp = 'pos' THEN vec_id END) AS top_pos,
             MIN(CASE WHEN grp = 'pos' THEN sim END) AS pos_sim,
             FLOOR((MIN(CASE WHEN grp = 'pos' THEN sim END)
               - MIN(CASE WHEN grp = 'neg' THEN sim END)) * 1e4 + 0.5) / 1e4
               AS margin
      FROM top1
      GROUP BY qid
      ORDER BY qid""",

    // Both legs recomputed with the identical micro-nat / 1e-4 grids
    // and (score DESC, doc_id) tie-breaks, fused by the same RRF.
    "q_sim_hybrid" -> """
      WITH qt AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id = 0),
      tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
      stats AS (SELECT count(*) AS n, avg(len * 1.0) AS avgdl FROM dl),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM tok t JOIN qt ON t.term = qt.term
        WHERE t.doc_id <> 0 GROUP BY 1, 2),
      dfp AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      lex AS (
        SELECT doc_id,
               CAST(SUM(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avgdl))
                 * 1e6) AS BIGINT)) AS BIGINT) AS sc
        FROM tf JOIN dfp USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY doc_id),
      lr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sc DESC, doc_id) AS lex_rank
        FROM lex QUALIFY lex_rank <= 20),
      vec AS (
        SELECT e.vec_id AS doc_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sv
        FROM embeddings e CROSS JOIN
          (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0),
      vr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sv DESC, doc_id) AS vec_rank
        FROM vec QUALIFY vec_rank <= 20)
      SELECT doc_id,
             FLOOR((COALESCE(1.0 / (lex_rank + 60), 0)
               + COALESCE(1.0 / (vec_rank + 60), 0)) * 1e6 + 0.5) / 1e6
               AS rrf,
             lex_rank, vec_rank
      FROM lr FULL OUTER JOIN vr USING (doc_id)
      ORDER BY rrf DESC, doc_id
      LIMIT 10""",
    "q_sim_cluster" -> simClusterSql,

    // Identical slicing (1-based inclusive list slice ≡ Spark's
    // slice(embedding, t·16+1, 16)), r4 grid before max, exact
    // 4-term sum.
    "q_sim_maxsim" -> """
      WITH sl AS (
        SELECT vec_id, t.t AS tok,
               embedding[t.t * 16 + 1 : t.t * 16 + 16] AS sub
        FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS t) t),
      qt AS (SELECT tok AS tq, sub AS qv FROM sl WHERE vec_id = 0),
      dp AS (
        SELECT s.vec_id, q.tq,
               FLOOR((list_sum(list_transform(list_zip(s.sub, q.qv),
                 z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS dp
        FROM sl s CROSS JOIN qt q WHERE s.vec_id <> 0),
      mx AS (SELECT vec_id, tq, MAX(dp) AS m FROM dp GROUP BY vec_id, tq)
      SELECT vec_id, FLOOR(SUM(m) * 1e4 + 0.5) / 1e4 AS maxsim
      FROM mx GROUP BY vec_id
      ORDER BY maxsim DESC, vec_id
      LIMIT 10""",

    // The oracle recomputes the WHOLE index from the raw embeddings
    // table (assignment grid, tie-break, and probe algebra identical
    // to q_sim_ann_ivf's oracle) — so a drift between the persisted
    // table and a fresh build fails the differential. The probe
    // routing needs no separate replay: the query's serve-time
    // argmax uses the identical grid + tie-break as the build, so a
    // probe's computed cell equals its recomputed assignment here.
    "q_sim_ann_serve" -> (annServeCtes(1) + """
      SELECT q_id, rank, vec_id, cell, sim FROM serve
      ORDER BY q_id, rank"""),

    // The shared template at probe width 2, plus the candidate-cost
    // census and the independent brute-force ground truth.
    "q_sim_ann_nprobe" -> (annServeCtes(2) + """,
      ncand AS (
        SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
        FROM probed GROUP BY q_id),
      prb AS (SELECT vec_id AS q_id, embedding AS qe
              FROM embeddings WHERE vec_id < 5),
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN prb q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT s.q_id, count(*) AS h
        FROM serve s JOIN bf USING (q_id, vec_id)
        GROUP BY s.q_id)
      SELECT n.q_id, n.n_candidates, COALESCE(h, 0) AS n_hits,
             COALESCE(h, 0) / 5.0 AS recall_at_5
      FROM ncand n LEFT JOIN hits USING (q_id)
      ORDER BY q_id"""),

    // The composed index fully re-derived (cells AND codes) from raw
    // embeddings via the shared prefix.
    "q_sim_ann_ivfpq" -> (ivfpqCtes(1) + """
      SELECT q_id, rank, vec_id, cell, adc_sim FROM ivfpq
      ORDER BY q_id, rank"""),

    // The q_sim_serve_recall comparison, hits drawn from the ADC
    // serve instead of the exact-sim serve.
    "q_sim_ivfpq_recall" -> (ivfpqCtes(1) + """,
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT s.q_id, count(*) AS h, MIN(s.rank) AS first_hit
        FROM ivfpq s JOIN bf USING (q_id, vec_id)
        GROUP BY s.q_id)
      SELECT q.q_id, COALESCE(h, 0) AS n_hits,
             COALESCE(h, 0) / 5.0 AS recall_at_5,
             FLOOR(COALESCE(1.0 / first_hit, 0) * 1e6 + 0.5) / 1e6 AS rr
      FROM (SELECT DISTINCT q_id FROM qs) q LEFT JOIN hits USING (q_id)
      ORDER BY q_id"""),

    // The shared template's adc CTE re-cut at shortlist depth R,
    // exact rescoring of the shortlist rows only, then the same
    // independent ground truth.
    "q_sim_ivfpq_refine" -> (ivfpqCtes(1) + s""",
      shortlist AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY adc_sim DESC, vec_id) AS rn
          FROM adc) WHERE rn <= $RefineR),
      nresc AS (
        SELECT q_id, CAST(count(*) AS BIGINT) AS n_rescored
        FROM shortlist GROUP BY q_id),
      resc AS (
        SELECT s.q_id, s.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qs q ON q.q_id = s.q_id),
      ref5 AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM resc) WHERE rn <= 5),
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT r.q_id, count(*) AS h
        FROM ref5 r JOIN bf USING (q_id, vec_id)
        GROUP BY r.q_id)
      SELECT n.q_id, n.n_rescored, COALESCE(h, 0) AS n_hits,
             COALESCE(h, 0) / 5.0 AS recall_at_5
      FROM nresc n LEFT JOIN hits USING (q_id)
      ORDER BY q_id"""),

    // The raw chain (for the sibling's hits) plus the residual chain
    // fully re-derived: f32 residuals via exact double-sub-then-
    // round, argmin-L2 codes through the same three-dot identity,
    // MIPS ADC = routing dot + residual lookup sums.
    "q_sim_ivfpq_res" -> (ivfpqCtes(1) + s""",
      rcells AS MATERIALIZED (
        SELECT v.vec_id, v.cell,
               list_transform(list_zip(v.embedding, c.ce),
                 p -> CAST(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)
                   AS FLOAT)) AS rv
        FROM cells v JOIN cents c ON v.cell = c.cid),
      rsv AS MATERIALIZED (
        SELECT vec_id, cell, m,
               list_slice(rv, m * $PqSubDim + 1,
                          m * $PqSubDim + $PqSubDim) AS sv,
               list_sum(list_transform(
                 list_slice(rv, m * $PqSubDim + 1,
                            m * $PqSubDim + $PqSubDim),
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS svv
        FROM rcells CROSS JOIN
          (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m)),
      rcb AS (
        SELECT vec_id AS cid, m AS cm, sv AS cv, svv AS cvcv
        FROM rsv WHERE vec_id < $PqK),
      rdist AS (
        SELECT s.vec_id, s.cell, s.m, c.cid,
               FLOOR(((s.svv - 2 * list_sum(list_transform(
                   list_zip(s.sv, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 + c.cvcv) * 1e6 + 0.5) / 1e6 AS dist
        FROM rsv s JOIN rcb c ON s.m = c.cm),
      rcodes AS (
        SELECT vec_id, cell, m, cid AS code FROM (
          SELECT vec_id, cell, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY dist ASC, cid) AS rn
          FROM rdist) WHERE rn = 1),
      rqd AS (
        SELECT s.vec_id AS qq, s.m AS qm, c.cid AS qcid,
               FLOOR(list_sum(list_transform(list_zip(s.sv, c.cv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS qdp
        FROM subs s JOIN rcb c ON s.m = c.cm WHERE s.vec_id < 5),
      qcds AS (
        SELECT q.q_id, q.qcell, d2.cdot AS qcd
        FROM qs q JOIN dots d2
          ON d2.vec_id = q.q_id AND d2.cid = q.qcell),
      radc AS (
        SELECT q.q_id, v.vec_id,
               FLOOR((q.qcd + SUM(d.qdp)) * 10000 + 0.5) / 10000
                 AS adc_sim
        FROM rcodes v
        JOIN qcds q ON v.cell = q.qcell AND v.vec_id <> q.q_id
        JOIN rqd d ON d.qq = q.q_id AND d.qm = v.m AND d.qcid = v.code
        GROUP BY q.q_id, v.vec_id, q.qcd),
      rtop AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY adc_sim DESC, vec_id) AS rn
          FROM radc) WHERE rn <= 5),
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT s.q_id, count(*) AS h
        FROM ivfpq s JOIN bf USING (q_id, vec_id)
        GROUP BY s.q_id),
      rhits AS (
        SELECT r.q_id, count(*) AS rh
        FROM rtop r JOIN bf USING (q_id, vec_id)
        GROUP BY r.q_id)
      SELECT q.q_id, COALESCE(h, 0) AS n_hits_adc,
             COALESCE(rh, 0) AS n_hits_res,
             COALESCE(rh, 0) / 5.0 AS recall_res,
             COALESCE(rh, 0) - COALESCE(h, 0) AS delta_hits
      FROM (SELECT DISTINCT q_id FROM qs) q
      LEFT JOIN hits USING (q_id) LEFT JOIN rhits USING (q_id)
      ORDER BY q_id"""),

    // The shared IVF+PQ template at probe width 2: the prefix's adc/
    // ivfpq CTEs already pool candidates from every probed cell, so
    // only the cost census and the independent ground truth are new.
    "q_sim_ivfpq_nprobe" -> (ivfpqCtes(2) + """,
      ncand AS (
        SELECT q_id, CAST(count(DISTINCT vec_id) AS BIGINT)
          AS n_candidates
        FROM (SELECT q.q_id, v.vec_id
              FROM cells v JOIN qs q
                ON v.cell = q.qcell AND v.vec_id <> q.q_id)
        GROUP BY q_id),
      prb AS (SELECT vec_id AS q_id, embedding AS qe
              FROM embeddings WHERE vec_id < 5),
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN prb q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT s.q_id, count(*) AS h
        FROM ivfpq s JOIN bf USING (q_id, vec_id)
        GROUP BY s.q_id)
      SELECT n.q_id, n.n_candidates, COALESCE(h, 0) AS n_hits,
             COALESCE(h, 0) / 5.0 AS recall_at_5
      FROM ncand n LEFT JOIN hits USING (q_id)
      ORDER BY q_id"""),

    // THE SAME full-corpus index recomputation is the incremental
    // row's oracle on purpose: base-index ∪ assigned-batch must equal
    // the from-scratch assignment exactly (frozen centroids make cell
    // assignment a pure function) — the merged-≡-rebuilt law IS the
    // differential.
    "q_sim_ann_incr" -> (annServeCtes(1) + """
      SELECT q_id, rank, vec_id, cell, sim FROM serve
      ORDER BY q_id, rank"""),

    // Serve results re-derived via the SHARED ann-serve CTE prefix,
    // ground truth re-derived brute force, compared independently.
    "q_sim_serve_recall" -> (annServeCtes(1) + """,
      bfall AS (
        SELECT q.q_id, e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id),
      bf AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rn
          FROM bfall) WHERE rn <= 5),
      hits AS (
        SELECT s.q_id, count(*) AS h, MIN(s.rank) AS first_hit
        FROM serve s JOIN bf USING (q_id, vec_id)
        GROUP BY s.q_id)
      SELECT q.q_id, COALESCE(h, 0) AS n_hits,
             COALESCE(h, 0) / 5.0 AS recall_at_5,
             FLOOR(COALESCE(1.0 / first_hit, 0) * 1e6 + 0.5) / 1e6 AS rr
      FROM (SELECT DISTINCT q_id FROM qs) q LEFT JOIN hits USING (q_id)
      ORDER BY q_id"""),

    // Identical cells / 3-NN cut / hash-random seed edges /
    // neighbor-of-neighbor expansion / re-cut; the sym CTE's UNION
    // dedupes the reversed edges exactly as Spark's distinct does,
    // and |V| comes from the scalar subquery where Spark folds in the
    // driver-side count (same value by construction).
    "q_sim_nndescent" -> s"""
      WITH sigs AS (
        SELECT vec_id, embedding, ($lshBucketDuck) AS bucket
        FROM embeddings),
      pairsim AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               FLOOR((list_sum(list_transform(
                 list_zip(a.embedding, b.embedding),
                 z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      knn AS (
        SELECT va, vb, sim FROM (
          SELECT va, vb, sim,
                 row_number() OVER (PARTITION BY va
                   ORDER BY sim DESC, vb) AS rn
          FROM pairsim) WHERE rn <= 3),
      rnd AS (
        SELECT e.vec_id AS va,
               CAST('0x' || substring(md5(CAST(e.vec_id AS VARCHAR)
                 || ':' || CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                 % (SELECT count(*) FROM embeddings) AS vb
        FROM embeddings e CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
      base AS (SELECT va, vb FROM knn
               UNION SELECT va, vb FROM rnd WHERE va <> vb),
      sym AS (SELECT va, vb FROM base
              UNION SELECT vb AS va, va AS vb FROM base),
      cand AS (
        SELECT DISTINCT va, vb FROM (
          SELECT x.va AS va, y.vb AS vb
          FROM sym x JOIN sym y ON x.vb = y.va
          WHERE x.va <> y.vb
          UNION ALL SELECT va, vb FROM base)),
      scored AS (
        SELECT c.va, c.vb,
               FLOOR((list_sum(list_transform(
                 list_zip(a.embedding, b.embedding),
                 z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS sim
        FROM cand c JOIN embeddings a ON a.vec_id = c.va
                    JOIN embeddings b ON b.vec_id = c.vb)
      SELECT va AS vec_id, rank, vb AS nbr, sim FROM (
        SELECT va, vb, sim,
               row_number() OVER (PARTITION BY va
                 ORDER BY sim DESC, vb) AS rank
        FROM scored) WHERE rank <= 3
      ORDER BY vec_id, rank""",

    "q_sim_range" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT e.vec_id,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5) / 1e4 AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0)
      SELECT vec_id, sim FROM scored
      WHERE sim >= 0.2
      ORDER BY sim DESC, vec_id""",

    // The recall audit recomputes BOTH paths independently in DuckDB.
    "q_sim_recall" -> s"""
      WITH bf AS ($cosineTopkSql),
      ann AS ($annLshSql)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM bf
              WHERE vec_id IN (SELECT vec_id FROM ann)) AS n_hits,
             (SELECT count(*) FROM bf
              WHERE vec_id IN (SELECT vec_id FROM ann)) / 10.0
               AS recall_at_10,
             (SELECT FLOOR(AVG(sim) * 1e4 + 0.5) / 1e4 FROM bf)
               AS bf_avg_sim,
             (SELECT FLOOR(AVG(sim) * 1e4 + 0.5) / 1e4 FROM ann)
               AS ann_avg_sim""",

    // Positions are 1-based here vs 0-based in Spark — irrelevant,
    // since pos is only ever a within-engine join key.
    "q_sim_centroid" -> """
      WITH ex AS (
        SELECT vec_id, label, CAST(i AS INT) AS pos,
               CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
      cent AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY label, pos),
      dots AS (SELECT e.vec_id, e.label, SUM(e.v * c.c) AS dotc
               FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
               GROUP BY e.vec_id, e.label)
      SELECT label, count(*) AS n_vectors,
             FLOOR(AVG(dotc) * 1e4 + 0.5) / 1e4 AS avg_dot,
             FLOOR(MIN(dotc) * 1e4 + 0.5) / 1e4 AS min_dot,
             FLOOR(MAX(dotc) * 1e4 + 0.5) / 1e4 AS max_dot
      FROM dots
      GROUP BY label
      ORDER BY label""",

    "q_sim_kmeans" -> """
      WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings WHERE vec_id < 8),
      asn AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   FLOOR(list_sum(list_transform(list_zip(e.embedding, c.cv),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 DESC, c.cid) AS rn
          FROM embeddings e CROSS JOIN cents c)
        WHERE rn = 1),
      ex AS (SELECT a.cid, CAST(i AS INT) AS pos,
                    CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) AS v
             FROM asn a JOIN embeddings e ON a.vec_id = e.vec_id,
                  UNNEST(generate_series(1, len(e.embedding))) AS g(i)),
      newc AS (SELECT cid, pos, AVG(v) AS nv FROM ex GROUP BY cid, pos),
      oldc AS (SELECT cid, CAST(i AS INT) AS pos,
                      CAST(cv[CAST(i AS INT)] AS DOUBLE) AS ov
               FROM cents, UNNEST(generate_series(1, len(cv))) AS g(i)),
      shift AS (SELECT n.cid, SUM(n.nv * o.ov) AS dot_on
                FROM newc n JOIN oldc o
                  ON n.cid = o.cid AND n.pos = o.pos
                GROUP BY n.cid)
      SELECT a.cid, count(*) AS n_members,
             FLOOR(ANY_VALUE(s.dot_on) * 1e4 + 0.5) / 1e4 AS centroid_dot
      FROM asn a JOIN shift s ON a.cid = s.cid
      GROUP BY a.cid
      ORDER BY a.cid""",

    "q_sim_knn_join" -> """
      WITH q AS (SELECT vec_id AS qid, embedding AS qe
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
      s AS (SELECT qid, c.vec_id,
                   FLOOR((list_sum(list_transform(list_zip(c.embedding, q.qe),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5) / 1e4
                     AS sim
            FROM c CROSS JOIN q),
      r AS (SELECT qid, vec_id, sim,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, vec_id) AS rn
            FROM s)
      SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3
      ORDER BY qid, rn""",

    "q_sim_pca" -> pcaSql(5),

    "q_sim_norms" -> """
      WITH n AS (
        SELECT label, len(embedding) AS dim,
               FLOOR(sqrt(list_sum(list_transform(
                 list_zip(embedding, embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS nrm
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
             CAST(MIN(dim) AS INT) AS min_dim,
             CAST(MAX(dim) AS INT) AS max_dim,
             FLOOR(AVG(nrm) * 1e4 + 0.5) / 1e4 AS avg_norm,
             FLOOR(MIN(nrm) * 1e4 + 0.5) / 1e4 AS min_norm,
             FLOOR(MAX(nrm) * 1e4 + 0.5) / 1e4 AS max_norm,
             CAST(SUM(CASE WHEN ABS(nrm - 1.0) > 0.01
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_offunit
      FROM n
      GROUP BY label
      ORDER BY label""",

    "q_sim_pairs" -> """
      WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
      pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               FLOOR((list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5) / 1e4 AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT LEAST(label_a, label_b) AS label_lo,
             GREATEST(label_a, label_b) AS label_hi,
             count(*) AS n, FLOOR(AVG(sim) * 10000 + 0.5) / 10000 AS avg_sim
      FROM pairs
      WHERE sim >= 0.35
      GROUP BY label_lo, label_hi
      ORDER BY label_lo, label_hi""",

    "q_sim_ann_lsh" -> annLshSql,

    "q_sim_ann_pq" -> """
      WITH subs AS (
        SELECT vec_id, m,
               list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m)),
      cents AS (
        SELECT vec_id AS cid, m AS cm, sv AS cv FROM subs WHERE vec_id < 8),
      scored AS (
        SELECT s.vec_id, s.m, c.cid,
               FLOOR(list_sum(list_transform(list_zip(s.sv, c.cv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS dp
        FROM subs s JOIN cents c ON s.m = c.cm),
      codes AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT vec_id, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY dp DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1),
      qd AS (SELECT m AS qm, cid AS qcid, dp AS qdp
             FROM scored WHERE vec_id = 0)
      SELECT c.vec_id,
             FLOOR(SUM(qdp) * 10000 + 0.5) / 10000 AS adc_sim
      FROM codes c JOIN qd ON c.m = qm AND c.code = qcid
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id
      ORDER BY adc_sim DESC, vec_id
      LIMIT 10""",

    "q_multimodal_join" -> """
      SELECT d.doc_id, d.lang, d.n_chars, e.label,
             FLOOR((SQRT(list_sum(list_transform(e.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1e4 + 0.5) / 1e4 AS l2norm
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      ORDER BY d.doc_id""",

    // Greedy MMR unrolled: pick1 = top sim; pick2/pick3 = argmax of
    // 0.7·sim − 0.3·max(pair-sim to picked). Pick 1's score is its
    // relevance (nothing picked yet to diversify against).
    "q_sim_mmr" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      shortlist AS (
        SELECT e.vec_id, e.embedding,
               FLOOR((list_sum(list_transform(list_zip(e.embedding, q.qe),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5)
                 / 1e4 AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, vec_id
        LIMIT 8),
      pairs AS (
        SELECT a.vec_id AS vid_a, b.vec_id AS vid_b, a.sim AS sim_a,
               FLOOR((list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) * 1e4 + 0.5)
                 / 1e4 AS psim
        FROM shortlist a JOIN shortlist b ON a.vec_id <> b.vec_id),
      p1 AS (
        SELECT vec_id AS s1, sim AS sim1 FROM shortlist
        ORDER BY sim DESC, vec_id LIMIT 1),
      c2 AS (
        SELECT vid_a, sim_a,
               FLOOR((sim_a * 0.7 - psim * 0.3) * 1e4 + 0.5) / 1e4 AS score
        FROM pairs, p1 WHERE vid_b = s1),
      p2 AS (
        SELECT vid_a AS s2, sim_a AS sim2, score AS score2 FROM c2
        ORDER BY score DESC, vid_a LIMIT 1),
      sel AS (SELECT s1 AS sid FROM p1 UNION ALL SELECT s2 FROM p2),
      c3 AS (
        SELECT vid_a, sim_a,
               FLOOR((sim_a * 0.7 - MAX(psim) * 0.3) * 1e4 + 0.5) / 1e4 AS score
        FROM pairs JOIN sel ON vid_b = sid
        WHERE vid_a NOT IN (SELECT sid FROM sel)
        GROUP BY vid_a, sim_a),
      p3 AS (SELECT * FROM c3 ORDER BY score DESC, vid_a LIMIT 1)
      SELECT 1 AS pick, s1 AS vec_id, sim1 AS sim, sim1 AS score FROM p1
      UNION ALL
      SELECT 2, s2, sim2, score2 FROM p2
      UNION ALL
      SELECT 3, vid_a, sim_a, score FROM p3
      ORDER BY pick""",
  )

  /** The q_sim_pca oracle: the SAME power iteration unrolled to
    * `iters` CTE pairs (raw multiply, L2 normalize), identical
    * centering and association order. */
  private def pcaSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s""",
      u$k AS (SELECT c.i, SUM(c.c * p${k - 1}.vv) AS u
              FROM c JOIN p${k - 1} ON c.j = p${k - 1}.i GROUP BY c.i),
      p$k AS (SELECT i, u / (SELECT SQRT(SUM(u * u)) FROM u$k) AS vv
              FROM u$k)"""
    }.mkString
    s"""
      WITH v0 AS (
        SELECT vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
      mu AS (SELECT i, SUM(x) / count(*) AS mu FROM v0 GROUP BY i),
      cent AS (SELECT vec_id, v0.i, x - mu AS x FROM v0 JOIN mu USING (i)),
      c AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS c
            FROM cent a JOIN cent b USING (vec_id) GROUP BY a.i, b.i),
      p0 AS (SELECT DISTINCT i, 1.0 AS vv FROM c)""" + steps + s"""
      , lam AS (SELECT SQRT(SUM(u * u)) AS lam FROM u$iters),
      sgn AS (SELECT CASE WHEN vv >= 0 THEN 1.0 ELSE -1.0 END AS sg
              FROM p$iters ORDER BY ABS(vv) DESC, i LIMIT 1)
      SELECT i, FLOOR(vv * sg * 1e4 + 0.5) / 1e4 AS loading,
             FLOOR(lam * 100 + 0.5) / 100 AS eigenvalue
      FROM p$iters CROSS JOIN sgn CROSS JOIN lam
      ORDER BY ABS(loading) DESC, i
      LIMIT 10"""
  }
}
