package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** Graph analytics over relationship edges derived from the fixtures —
  * the iterative-computation surface. The reference's MapReduce idiom
  * for these is job chaining with materialized intermediates (SURVEY
  * §0.3, §3.1); here each iteration is one keyed join + aggregate and
  * Catalyst fuses the per-iteration pipeline. The other graph operator
  * in the engine is `q_dedup_cluster` (ExtOps): connected components
  * by union-find within each blocking-key block.
  *
  * Scale notes (100 TB): one iteration = one shuffle keyed on the
  * vertex id, partial-aggregable (rank contributions combine
  * map-side). Every round ends in a lazy [[Tables.ck]], which cuts
  * the lineage the unrolled loop would otherwise grow; bounded round
  * counts keep the oracle unrollable. The code is the distributed
  * form only: a plan whose inputs fit under the broadcast threshold
  * runs in one partition with no exchange by the session's
  * [[graft.plans.SmallPlanRule]], and its checkpoint then records a
  * bounded size, so the next round's plan fits too.
  */
object GraphOps {

  /** Damping 0.85, 5 iterations — fixed so both engines unroll the
    * same computation. */
  private val Iters = 5

  /** Convergence tolerance for [[pagerank]]'s early exit: stop once
    * the L1 rank delta of an iteration drops below this. The fixture
    * graph is nowhere near converged after 5 rounds (deltas decay by
    * ~0.85/round from ~1), so the declared query always runs all
    * [[Iters]] and the unrolled oracle is unchanged; the exit matters
    * for production graphs that settle early — every skipped round is
    * a full |E|-shuffle saved. */
  private val Tol = 1e-6

  /** Per-entity neighbor-list cap for `q_graph_jaccard`'s pair
    * generation. 2^16 is far above any fixture degree (|suppliers| is
    * 100 at sf0.01, 10k even at sf1), so the declared differential is
    * byte-identical to the uncapped query; a production run against a
    * power-law graph tunes this to ~1k, bounding the hot-customer
    * fan-out at cap²/2 ≈ 500k pairs instead of degree². The cap
    * MECHANISM (not the default) is what the spec asserts, at cap=1
    * and cap=2 where it provably bites. */
  private[graft] val JaccardCap = 1 << 16

  /** Keep at most `cap` suppliers per customer, selected in hash
    * order (xxhash64 of the supplier id, id tiebreak) — deterministic
    * and content-keyed, so reruns and both engines agree, and the
    * retained sample is unbiased w.r.t. supplier identity (a "first k
    * by id" cut would systematically keep low ids). One PARTITIONED
    * window keyed on the customer — never global; the per-group heap
    * (WindowGroupLimit) prunes to cap rows map-side before the
    * shuffle.
    *
    * Precondition: `c` is never NULL — the count join back on `c` is
    * an equi-join and drops NULL-keyed rows. Both callers key `c` on
    * `o_custkey`, a foreign key with no NULLs (FIXTURES.md). */
  private[graft] def capNeighbors(e: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame = {
    // Hot-key special-casing (guide §2.5): only groups OVER the cap
    // need the rank-by-hash selection — under-cap groups pass through
    // unranked, so the per-group hash sort is paid exactly where the
    // cap bites (nowhere at fixture scale, the boilerplate-hub tail
    // at 100 TB) instead of over every neighbor list. The keyed count
    // join shares the window's hash(c) partitioning, and ranking a
    // hot group in isolation picks the identical rows ranking all
    // groups would (per-group ranks are independent), so the output
    // is unchanged for every (input, cap) — the cap=1/cap=2 spec laws
    // cover the biting branch.
    val cnt = e.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val tagged = e.join(cnt, "c")
    val small = tagged.where(col("cnt") <= cap).drop("cnt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(xxhash64(col("sup")), col("sup"))
    val capped = tagged.where(col("cnt") > cap).drop("cnt")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= cap).drop("rn")
    small.unionByName(capped)
  }

  /** One PageRank update over a pre-weighted edge table `(src, dst,
    * d)` against the current rank table `r = (node, r)` — the formula
    * both rank-join strategies and the oracle's unrolled CTEs share.
    *
    * `broadcastRank = true`: the |V|-sized rank table broadcasts to
    * every edge partition — one driver materialization round per
    * iteration, the right call while ranks fit an executor (up to a
    * few hundred million vertices).
    *
    * `broadcastRank = false`: the CO-PARTITIONED path for graphs whose
    * rank table itself is too big to broadcast (billions of vertices).
    * The rank side carries a SHUFFLE_HASH hint, which both forces the
    * keyed join and — because join-strategy hints survive AQE's
    * re-planning — stops AQE from converting it back to broadcast at
    * runtime. When the edges side is BUCKETED on `src`
    * ([[tradeEdgesBkt]]), only the (iteration-fresh) rank side
    * shuffles: the |E|-sized edge table is laid out on the key ONCE
    * at write time, which is the entire point — per iteration the
    * data moved is O(|V|), not O(|E|). Pinned in PlanShapeSpec (no
    * BroadcastExchange on the rank join; edges side exchange-free).
    * Broadcast↔co-partitioned crossover (|V|≈4M): BUILD_NOTES.md. */
  private[graft] def rankStep(edgesW: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame, n: Long, broadcastRank: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val rankSide = if (broadcastRank) broadcast(r) else r.hint("shuffle_hash")
    edgesW.join(rankSide, col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(sum(col("r") / col("d")).as("sw"))
      .select(col("dst").as("node"),
        (lit(0.15 / n) + lit(0.85) * col("sw")).as("r"))
  }

  /** Damped (0.85) PageRank over a pre-weighted edge table
    * `(src, dst, d)` with `d` = out-degree of `src`, starting from
    * `init` = `(node, r)`. Every node must have degree ≥ 1 (no
    * dangling mass — the symmetrized trade graph guarantees it), so
    * each iteration's aggregate re-covers the full vertex set.
    * `broadcastRank` picks the rank-join strategy per [[rankStep]];
    * both run the identical algebra, so they share the oracle.
    *
    * Returns the final ranks and the number of iterations actually
    * run: at most `maxIters`, fewer once the L1 delta falls below
    * `tol`. Each iteration ends in a lazy [[Tables.ck]] — the
    * lineage cut an iterative Spark job needs anyway — whose blocks
    * materialize inside the round's delta check, the round's only
    * explicit action. The check itself is the union form: a signed
    * per-node sum over the two |V|-sized checkpointed rank tables,
    * one partial-aggregable keyed aggregate — no join. The delta
    * read is a metadata-scale driver scalar (same class as the |V|
    * count), not a data collect. */
  def pagerank(edgesW: org.apache.spark.sql.DataFrame,
               init: org.apache.spark.sql.DataFrame, n: Long,
               maxIters: Int, tol: Double,
               broadcastRank: Boolean = true)
      : (org.apache.spark.sql.DataFrame, Int) = {
    var r = Tables.ck(init)
    var it = 0
    var delta = Double.PositiveInfinity
    while (it < maxIters && delta >= tol) {
      // Lazy checkpoint: its blocks materialize inside the round's
      // delta check, the round's only explicit action.
      val rNew = Tables.ck(rankStep(edgesW, r, n, broadcastRank))
      val rPrev = r
      r = rNew
      it += 1
      // The delta only decides whether to continue, so the capped
      // final round skips it. Union form: each side contributes a
      // signed rank per node, so Σ|r − r0| is one keyed sum + abs, no
      // join; a node on one side only is charged its full |r|. A sum
      // over zero rows is NULL (an empty graph): converged.
      if (it < maxIters) {
        val deltaRow = rNew.select(col("node"), col("r").as("v"))
            .unionByName(rPrev.select(col("node"), (-col("r")).as("v")))
          .groupBy(col("node")).agg(abs(sum(col("v"))).as("dn"))
          .agg(sum(col("dn"))).head
        delta = if (deltaRow.isNullAt(0)) 0.0 else deltaRow.getDouble(0)
      }
    }
    (r, it)
  }

  /** Connected-component labels by alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — a published algorithm, re-expressed on
    * DataFrames): O(log |V|) rounds with the edge set kept LINEAR
    * (each phase rewrites edges toward per-star minima instead of
    * composing 2-hop paths), and no phase REQUIRES a broadcast — each
    * is one keyed aggregate plus one join ON THE SAME KEY, so the
    * grouped side arrives already hash-partitioned and the plan stays
    * valid unchanged when the min-table outgrows every executor (AQE
    * is free to pick broadcast while it still fits, as at fixture
    * scale).
    *
    * Phases over undirected edges held as ordered pairs:
    *  - large-star(u): m = min(N(u) ∪ {u}); every STRICTLY LARGER
    *    neighbor v > u re-attaches to m — emit (v, m).
    *  - small-star: each edge keyed at its LARGER endpoint h;
    *    m = min of h's smaller neighbors; those neighbors and h
    *    itself re-attach to m.
    * Both phases preserve connectivity exactly (each rewrite stays
    * inside the star it came from, through its center), every node
    * keeps at least one incident edge, and the fixpoint is a star
    * forest whose centers are the component minima — so the CONVERGED
    * labels equal the transitive-closure oracle regardless of round
    * count. Convergence = the canonicalized edge set is unchanged over
    * a round (checked with one anti-join count per round — edge-scale
    * but linear and keyed; the lazy checkpoints materialize inside
    * it). Timed at 1M nodes by tools/CCScale.
    *
    * Final labeling: labels need the min over N(u) ∪ {u}, so every
    * node of the original graph appears — a final self-paired union
    * restores any node the star rewrites folded away before the last
    * grouping.
    *
    * Returns (labels `(node, lab)`, rounds run — one round = one
    * large-star + one small-star). */
  private[graft] def ccStar(edges0: org.apache.spark.sql.DataFrame,
      maxRounds: Int = 50): (org.apache.spark.sql.DataFrame, Int) = {
    import org.apache.spark.sql.DataFrame
    // Ordered-pair canonical form (u < v lexicographically): the
    // phases direct edges differently, so equality — the convergence
    // test — is on this form.
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("u"), col("v")).as("u"),
               greatest(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // min over N(u) ∪ {u}: least(v, u) folds the self term into the
      // same partial-aggregable min, so no self-loop rows are needed.
      // The join key equals the grouping key, so the aggregate
      // output is already partitioned for it — no |V| broadcast.
      val m = sym.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      // No distinct on this phase's output: the v > u filter keeps one
      // row per input edge, smallStar's min is duplicate-insensitive
      // and its canon() dedups the round, so a distinct here would
      // only add an |E|-row exchange per round.
      sym.join(m, "u").where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"),
                greatest(col("v"), col("m")).as("v"))
        .where(col("u") =!= col("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("h"),
                         least(col("u"), col("v")).as("l"))
      val m = dir.groupBy(col("h")).agg(min(col("l")).as("m"))
      // Smaller neighbors re-attach to the min; (h, m) keeps the
      // larger endpoint connected. m < h always, so no self-loop.
      canon(dir.join(m, "h")
        .select(col("l").as("u"), col("m").as("v"))
        .unionByName(m.select(col("h").as("u"), col("m").as("v"))))
    }
    var edges = canon(edges0).transform(Tables.ck)
    var rounds = 0
    var changed = 1L
    // TWO rounds per convergence check: the converged loop is
    // latency-bound on the per-check driver action, and checking every
    // other round halves those actions while the extra round in the
    // final batch is a no-op fixpoint pass. The check stays EXACT: one
    // alternation round strictly decreases the Kiveris et al. potential
    // unless the edge set is already the star-forest fixpoint, so a 2-cycle
    // (f(f(e)) = e with f(e) ≠ e) is impossible — batch-equality ⟹
    // fixpoint. A batch of 3 measured slower (BUILD_NOTES.md).
    val batch = 2
    while (changed > 0 && rounds < maxRounds) {
      var next = edges
      for (_ <- 1 to batch) {
        next = smallStar(largeStar(next).transform(Tables.ck))
          .transform(Tables.ck)
      }
      // Symmetric difference via two keyed anti joins, ONE action.
      changed = next.join(edges, Seq("u", "v"), "left_anti")
        .unionByName(edges.join(next, Seq("u", "v"), "left_anti"))
        .count()
      edges = next
      rounds += batch
    }
    // At the fixpoint every edge is (center, member) in canonical
    // order with center = component min: min(least(v,u)) per node is
    // the label, and the self union restores nodes whose edges were
    // all rewritten to point elsewhere in earlier rounds (centers in
    // particular appear only on the u side of canonical pairs).
    val sym = edges.unionByName(
      edges.select(col("v").as("u"), col("u").as("v")))
    val nodes = edges0.select(col("u")).unionByName(
      edges0.select(col("v").as("u"))).distinct()
    val lab = sym.unionByName(nodes.select(col("u"), col("u").as("v")))
      .groupBy(col("u")).agg(min(least(col("v"), col("u"))).as("lab"))
      .select(col("u").as("node"), col("lab"))
    (lab, rounds)
  }

  /** `rounds` synchronous label-propagation steps over a SYMMETRIC
    * edge set (see the q_graph_lpa entry for semantics). Per round:
    * one keyed join (labels onto edge sources — broadcast-sized at
    * fixture scale; at billion-vertex scale the label table rides the
    * co-partitioned layout exactly as q_graph_pagerank_part pins for
    * the identical join shape), one partial-aggregable (node, label)
    * vote count, and one per-node argmax window (keyed by node, never
    * global; a production run fuses the window into min_by on a
    * (-count, label) key — kept as row_number here so the Spark and
    * DuckDB round formulas are textually identical). FIXED unroll
    * with no convergence check: synchronous LPA may oscillate rather
    * than converge, so a convergence-scalar loop could spin forever —
    * the fixed round count is the published mitigation AND what makes
    * the oracle's unrolled CTE chain exactly reproducible.
    *
    * Each round ends in a lazy [[Tables.ck]] — the MATERIALIZED-CTE
    * equivalent: every round consumes the previous label table TWICE
    * (the neighbor-vote join and the self-vote union), so an
    * unchecked 8-round unroll recomputes round 1 up to 2^8 times. The
    * per-round label materialization is the same trade every
    * distributed LPA/Pregel implementation makes. Under the small-plan
    * rule no round runs a job of its own. */
  private[graft] def lpaLabels(edges: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    var lbl = Tables.ck(edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    (1 to rounds).foreach { _ => lbl = Tables.ck(lpaStep(edges, lbl)) }
    lbl
  }

  /** One [[lpaLabels]] round over the label table `lbl = (node, lbl)`,
    * extracted so GateSpec can pin the round plan the per-round
    * checkpoint hides. */
  private[graft] def lpaStep(edges: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val votes = edges
      .join(lbl.select(col("node").as("src"), col("lbl").as("l")), Seq("src"))
      .select(col("dst").as("node"), col("l"))
      .unionByName(lbl.select(col("node"), col("lbl").as("l")))
      .groupBy(col("node"), col("l")).agg(count(lit(1)).as("c"))
    // Per-node argmax as min(struct(-c, l)) — struct ordering is
    // field-by-field, so this IS "order by c desc, l" with the same
    // deterministic tiebreak the row_number window had (l is
    // distinct within a node, ties are impossible), and its partial
    // phase leaves ≤ 1 row per (node, partition) before the exchange,
    // where a window moves every vote row. The oracle keeps its
    // row_number form; the differential checks the equality.
    votes.groupBy(col("node"))
      .agg(min(struct((-col("c")).as("nc"), col("l"))).as("m"))
      .select(col("node"), col("m.l").as("lbl"))
  }

  /** The distinct canonical co-purchase edge set (parts sharing an
    * order at l_quantity ≥ 45, p1 < p2), memoized + materialized once
    * per (session, dir): q_graph_triangles references it five times
    * (degree + orient + the 3-way triangle join) and q_graph_ktruss
    * peels the same graph — ONE definition so the threshold can never
    * drift between the two rows (derived is first-build-wins, so a
    * drifted second copy would silently never run). */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "copurchase_edges") {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" >= 45)
        .select($"l_orderkey", $"l_partkey")
      Tables.ck(li.as("a").join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" &&
            $"a.l_partkey" < $"b.l_partkey")
        .select($"a.l_partkey".as("p1"), $"b.l_partkey".as("p2"))
        .distinct())
    }

  /** `rounds` triangle-support peel iterations toward the 4-TRUSS of
    * a CANONICAL (u < v) edge set: each round enumerates the current
    * subgraph's triangles with one ordered wedge self-join (a < b < c;
    * all keyed equi-joins — the q_graph_triangles shape without the
    * orientation, since support needs every edge's count), censuses
    * per-edge support (each triangle credits its 3 edges;
    * partial-aggregable), and keeps edges with support ≥ 2. Edges in
    * no triangle are absent from the census and drop. Monotone, so a
    * fixed unroll ≥ the peel depth is exact (the kcore argument);
    * every round lazily checkpoints (the triangle join reads the
    * round's edge set three times, the census three more). */
  private[graft] def ktrussEdges(edges0: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    var e = edges0.transform(Tables.ck)
    for (_ <- 1 to rounds) {
      val tri = Tables.ck(e.as("e1")
        .join(e.as("e2"),
          col("e2.u") === col("e1.u") && col("e2.v") > col("e1.v"))
        .join(e.as("e3"),
          col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"),
          col("e2.v").as("c")))
      e = tri.select(col("a").as("u"), col("b").as("v"))
        .unionByName(tri.select(col("a").as("u"), col("c").as("v")))
        .unionByName(tri.select(col("b").as("u"), col("c").as("v")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("s"))
        .where(col("s") >= 2)
        .select(col("u"), col("v"))
        .transform(Tables.ck)
    }
    e
  }

  /** The DIRECTED half of the sparse CC fixture graph, shared by BOTH
    * declared CC algorithms (q_graph_cc / q_graph_cc_star) and their
    * oracles' edge CTE: high-value (o_totalprice > 450000),
    * high-quantity (l_quantity ≥ 47) trade edges — sparse enough (481
    * edges at sf0.01) for real component structure (14 components),
    * dense enough that the diameter stays bounded. ONE definition so
    * the threshold constants can never drift between the two queries
    * (Tables.derived is first-build-wins per session — a drifted
    * second copy would silently never run). */
  private def ccEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "cc_edges") {
      import s.implicits._
      // Dedup on the long key pair, concat after: the same edge set
      // over a narrower exchange. The string ids cannot change (CC
      // labels are string minima the oracles pin).
      Tables.ck(t(s, d, "orders").where($"o_totalprice" > 450000)
        .join(t(s, d, "lineitem"),
          $"o_orderkey" === $"l_orderkey" && $"l_quantity" >= 47)
        .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"))
        .distinct()
        .select(concat(lit("c"), $"ck".cast("string")).as("src"),
                concat(lit("s"), $"sk".cast("string")).as("dst")))
    }

  /** The CONVERGED component labels of the [[ccEdges]] fixture graph
    * by [[ccStar]], memoized per (session, dir): both declared CC rows
    * (q_graph_cc's census and q_graph_cc_star's size distribution) are
    * projections of ONE labeling, so a multi-query harness runs the
    * iterative loop — and its per-round convergence checks — exactly
    * once (a `Runner.sweep` keeps a memo alive until the q_graph_
    * family ends). The checkpoint is what the second consumer reads;
    * without it, each reference would replay the whole converged loop
    * lineage. */
  private def ccStarLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "cc_labels_star") {
      import s.implicits._
      ccStar(ccEdges(s, d).select($"src".as("u"), $"dst".as("v")))._1
        .transform(Tables.ck)
    }

  /** The 8-round synchronous LPA labeling of the [[ccEdges]] fixture
    * graph, memoized per (session, dir): q_graph_lpa's census and
    * q_graph_modularity's quality grade are projections of ONE
    * labeling (the ccStarLabels sharing pattern) — a multi-query
    * harness runs the 8-round loop once, and the modularity oracle
    * re-derives the labels independently so the sharing itself is
    * differentially checked. */
  private def lpaLabelsDf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "lpa_labels_8") {
      import s.implicits._
      val e0 = ccEdges(s, d)
      lpaLabels(
        e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst"))), 8)
        .transform(Tables.ck)
    }

  /** NEWMAN MODULARITY (Newman & Girvan 2004) of a labeling over an
    * UNDIRECTED edge set `und = (u, v)` (each edge once, u ≠ v):
    * Q = Σ_c (e_c/m − (d_c/2m)²) — the one number that says whether a
    * community labeling beats random edge placement. Computed through
    * the EXACT-integer identity Q = (4m·Σe_c − Σd_c²) / (4m²): Σe_c
    * (total intra-community edges), m, and Σd_c² are integer
    * sufficient statistics — the squares accumulate in DECIMAL(38,0),
    * the q_graph_assortativity overflow treatment (BIGINT wraps once
    * Σd_c² > 2^63 on hub-heavy graphs; decimal is exact to 10^38 and
    * still partial-aggregable) — and only the final one-division
    * closed form is double, written operation-identically in the
    * oracle. Overflow-behavior asymmetry past the cap (ADVICE r14,
    * purely theoretical — reaching it needs ~5·10^18 edges): Spark's
    * non-ANSI DECIMAL(38,0) sum yields silent NULL (modularity goes
    * NULL) while DuckDB's HUGEINT errors at ~1.7·10^38 — the same
    * documented asymmetry as q_graph_assortativity's BIGINT
    * treatment; a production run at that scale enables ANSI mode so
    * both sides fail loudly. Scale: two keyed label joins + one keyed degree sum +
    * two scalar aggregates; the 1-row combine rides the whitelisted
    * tiny-broadcast cross join. */
  private[graft] def modularityQ(und: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame, method: String)
      : org.apache.spark.sql.DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val sym = und.unionByName(und.select($"v".as("u"), $"u".as("v")))
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("dg"))
    val dsum = deg.join(labels.select($"node".as("u"), $"lab"), "u")
      .groupBy($"lab").agg(sum($"dg").as("dc"))
      .agg(sum($"dc".cast("decimal(19,0)") * $"dc".cast("decimal(19,0)"))
        .as("sd2"),
        count(lit(1)).as("n_communities"))
    val intra = und
      .join(labels.select($"node".as("u"), $"lab".as("lu")), "u")
      .join(labels.select($"node".as("v"), $"lab".as("lv")), "v")
      .agg(count(lit(1)).as("m"),
        sum(when($"lu" === $"lv", 1L).otherwise(0L)).as("intra"))
    intra.crossJoin(broadcast(dsum))
      .select(lit(method).as("method"), $"n_communities",
        $"m".as("n_edges"),
        (floor((lit(4.0) * $"m" * $"intra" - $"sd2".cast("double"))
          / (lit(4.0) * $"m" * $"m") * 1e6 + 0.5) / 1e6).as("modularity"))
  }

  /** ONE deterministic Louvain local-move sweep (Blondel et al. 2008,
    * phase-1 step, synchronous/distributed form) over a WEIGHTED
    * undirected edge list `(u, v, w)` — self-loop rows (u = v)
    * permitted, carrying contracted intra mass: every node
    * evaluates, AGAINST THE INPUT PARTITION, the exact modularity
    * gain of moving to each neighboring community and takes the best
    * strictly-positive move; ties break to the lexicographically
    * smallest target. The gain is compared through the exact-integer
    * identity 2W²·ΔQ(i: a→b) = 2W·(k_{i,b} − k_{i,a}) −
    * d_i·(vol_b − vol_a + d_i) (k = node→community edge WEIGHT over
    * non-self edges — a node's self-loop rides along wherever it
    * moves, so it cancels out of every gain comparison; d = weighted
    * degree with self-loops counting 2w, the handshake convention;
    * vol = community degree volume INCLUDING i; W = Σw, all integer
    * sufficient statistics) — products in DECIMAL(38,0) mirroring
    * HUGEINT, the modularityQ overflow treatment, so the argmax and
    * the > 0 cut are bit-exact in both engines and no float ever
    * orders a move. On a simple graph with w ≡ 1 every sum equals
    * the old count and this is EXACTLY the level-1 algebra
    * (q_graph_louvain's oracle still counts); with the contracted
    * self-looped weights it is level 2 (q_graph_louvain_l2).
    *
    * Synchronous sweeps (unlike the sequential original) have no
    * per-sweep improvement THEOREM — two adjacent movers can in
    * principle chase each other's old community (from a SINGLETON
    * seed the pairwise gains are symmetric, so a 2-cycle swap
    * relabels both singletons and preserves the partition; longer
    * chases can genuinely reshape it) — so the law is MEASURED, not
    * assumed: OpsSpec asserts Q(after) ≥ Q(input) on the real
    * fixture at two SFs plus a hand-computed wrong-community
    * micro-graph (0.122449 → 0.357143); published distributed
    * Louvain (e.g. Ghosh et al., IPDPS'18) runs exactly this shape
    * with tie-breaking. Scale: two keyed aggregates (degree,
    * node→community weights), two keyed label joins, one per-node
    * argmax window (never global), one 1-row ΣW scalar on the
    * whitelisted tiny-broadcast cross join — every piece
    * partial-aggregable or keyed on the node. */
  private[graft] def louvainSweep(und: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame,
      descOnly: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val dec = "decimal(19,0)"
    val nonself = und.where($"u" =!= $"v")
    val sym = nonself
      .unionByName(nonself.select($"v".as("u"), $"u".as("v"), $"w"))
    // Lazy-checkpoint the twice-referenced intermediates (the elo/
    // hits discipline): deg feeds vol AND the gains join, vol joins
    // gains twice (va, vb), kicAll splits into kic and kia — without
    // the cks each reference replays its aggregate lineage.
    val deg = Tables.ck(sym.select($"u", $"w")
      .unionByName(und.where($"u" === $"v")
        .select($"u", (lit(2) * $"w").as("w")))
      .groupBy($"u").agg(sum($"w").as("dg"))
      .select($"u".as("node"), $"dg"))
    val vol = Tables.ck(deg.join(labels, "node")
      .groupBy($"lab").agg(sum($"dg").as("vol")))
    // descOnly = the published distributed symmetry-break (e.g.
    // Ghosh et al., IPDPS'18's coloring/ordering family): a node may
    // only move toward a LEXICOGRAPHICALLY SMALLER community id, so
    // two adjacent movers can never chase each other's old label in
    // a 2-cycle. Used by the level-2 sweep, where the singleton seed
    // makes pairwise gains exactly symmetric and unrestricted
    // synchronous moves measurably over-merge.
    val kicAll = Tables.ck(sym
      .join(labels.select($"node".as("v"), $"lab".as("c")), "v")
      .groupBy($"u", $"c").agg(sum($"w").as("k"))
      .select($"u".as("node"), $"c", $"k"))
    val kic = if (descOnly) kicAll.where($"c" < $"node") else kicAll
    val cur = labels.select($"node", $"lab".as("c0"))
    // k_{i,a} always comes from the UNRESTRICTED counts: the own-
    // community term must survive the descOnly candidate filter.
    val kia = kicAll.join(cur, "node").where($"c" === $"c0")
      .select($"node", $"k".as("ka"))
    val mRow = und.agg(sum($"w").as("m"))
    val gains = kic.join(cur, "node")
      .join(kia, Seq("node"), "left")
      .join(deg, "node")
      .join(vol.select($"lab".as("c0"), $"vol".as("va")), "c0")
      .join(vol.select($"lab".as("c"), $"vol".as("vb")), "c")
      .crossJoin(broadcast(mRow))
      .select($"node", $"c", $"c0",
        (lit(2) * $"m".cast(dec)
            * ($"k" - coalesce($"ka", lit(0L))).cast(dec)
          - $"dg".cast(dec) * ($"vb" - $"va" + $"dg").cast(dec))
          .as("gain"))
    val w = Window.partitionBy($"node").orderBy($"gain".desc, $"c")
    val best = gains.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"node",
        when($"gain" > 0, $"c").otherwise($"c0").as("lab"))
    // Self-loop-only nodes (isolated contracted communities) have no
    // non-self edges, hence no gains rows — they keep their label.
    // Vacuous on a simple graph (every labeled node has a neighbor).
    best.unionByName(labels
      .join(best.select($"node"), Seq("node"), "left_anti")
      .select($"node", $"lab"))
  }

  /** The post-sweep Louvain labeling of the [[ccEdges]] graph
    * (LPA-seeded [[louvainSweep]]), memoized per (session, dir): the
    * grade row (q_graph_louvain) and the contraction row
    * (q_graph_louvain_contract) are projections of ONE sweep — the
    * ccStarLabels/lpaLabelsDf sharing pattern — and both oracles
    * re-derive the sweep independently, so the share itself is
    * differentially checked. */
  private def louvainLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "louvain_labels") {
      import s.implicits._
      louvainSweep(
        ccEdges(s, d).select($"src".as("u"), $"dst".as("v"),
          lit(1L).as("w")),
        lpaLabelsDf(s, d).select($"node", $"lbl".as("lab")))
        .transform(Tables.ck)
    }

  /** The contracted weighted community graph (c_lo ≤ c_hi, w) of the
    * post-sweep partition — the q_graph_louvain_contract census,
    * memoized because the level-2 sweep (q_graph_louvain_l2) runs ON
    * this artifact: both rows must see the identical contraction and
    * a multi-query run pays the two label joins once. */
  private def louvainContractDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "louvain_contract") {
      import s.implicits._
      val lv = louvainLabels(s, d)
      ccEdges(s, d).select($"src".as("u"), $"dst".as("v"))
        .join(lv.select($"node".as("u"), $"lab".as("cu")), "u")
        .join(lv.select($"node".as("v"), $"lab".as("cv")), "v")
        .select(least($"cu", $"cv").as("c_lo"),
          greatest($"cu", $"cv").as("c_hi"))
        .groupBy($"c_lo", $"c_hi").agg(count(lit(1)).as("w"))
        .transform(Tables.ck)
    }

  /** `rounds` peel iterations toward the K-CORE of a SYMMETRIC edge
    * set: each round drops every node whose degree in the CURRENT
    * subgraph is < k, then restricts the edges to surviving endpoints.
    * FIXED round count, deliberately: the whole chain is ONE lazy
    * plan with ONE action — no per-round driver materialization at
    * all (unlike the CC/PageRank loops, where a convergence scalar
    * forces a driver round per step), because a fixed unroll is
    * exactly reproducible in the oracle's CTE chain. Each round is a
    * partial-aggregable degree count plus two keyed semi-joins
    * (endpoint-survival restriction) — linear in |E|, keyed, no
    * broadcast requirement — and the per-round lazy checkpoints make
    * the three references to each round's edge set share one
    * materialization inside the single job. Peeling is monotone
    * (node sets only shrink), so once a round removes nothing the
    * chain is at the k-core fixpoint and every further round is the
    * identity — fixed-round correctness therefore only needs
    * rounds ≥ the peel depth, which OpsSpec asserts by comparing
    * round counts `rounds` and `rounds+1` for equality on the real
    * fixture. Probed peel depths on the [[ccEdges]] graph (k=2):
    * 2 / 6 / 11 rounds at sf0.001 / 0.01 / 0.1.
    *
    * The surviving-node set is |V|-bounded, so it BROADCASTS and each
    * restriction join is a map-side hash probe — measured 4× over a
    * keyed form at fixture scale (1.5 s vs 6.5 s at sf0.1, where 24
    * sequential keyed-join shuffle stages are pure latency). */
  private[graft] def kcoreEdges(edges0: org.apache.spark.sql.DataFrame,
      k: Int, rounds: Int): org.apache.spark.sql.DataFrame = {
    var edges = edges0.transform(Tables.ck)
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select(col("src").as("node"))
      edges = edges
        .join(broadcast(keep.select(col("node").as("src"))), "src")
        .join(broadcast(keep.select(col("node").as("dst"))), "dst")
        .select(col("src"), col("dst"))
        .transform(Tables.ck)
    }
    edges
  }

  /** Force-build the family-shared edge/degree memos. `Runner.sweep`
    * runs this as a step of its own (`Runner.MemoStep`) before the
    * first q_graph_ row, so Bench times the shared build as its own
    * `_memo_graph` line instead of charging it to whichever graph row
    * runs first. [[tradeArcs]] holds the blocks of [[tradeEdges]];
    * counting it, not the symmetrizing union, writes them without a
    * union's exchange. */
  private[graft] def warmSharedMemo(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    tradeArcs(s, d).count()
    tradeDeg(s, d).count()
  }

  /** The distinct (custkey, suppkey) LONG pair table behind the trade
    * graph — the one orders⋈lineitem scan + dedup every trade-graph
    * artifact derives from, memoized + materialized on the narrow
    * 16-byte key pair (guide §2.3). [[tradeEdges]] builds its string
    * node ids from it, and q_graph_butterfly consumes it DIRECTLY
    * (its wedge census keys on the raw ids — before r16 it re-ran the
    * identical scan + distinct behind its own plan). */
  private[graft] def tradePairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "trade_pairs") {
      import s.implicits._
      Tables.ck(t(s, d, "orders")
        .join(t(s, d, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"))
        .distinct())
    }

  /** The directed (c→s) half of [[tradeEdges]], checkpointed. */
  private def tradeArcs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "trade_arcs") {
      import s.implicits._
      // Dedup on the LONG key pair ([[tradePairs]]) and build the
      // string node ids AFTER the distinct (guide §2.3, narrower
      // shuffle types): the exchange and both hash-agg phases then
      // work 16-byte long pairs instead of ~12-char strings, and the
      // concat runs once per surviving edge instead of once per join
      // row. Same edge set by construction.
      tradePairs(s, d)
        .select(concat(lit("c"), $"ck".cast("string")).as("src"),
                concat(lit("s"), $"sk".cast("string")).as("dst"))
        .transform(Tables.ck)
    }

  /** The symmetrized customer—supplier trade graph: distinct
    * (custkey, suppkey) pairs that share an order, node ids namespaced
    * 'c…'/'s…' so the key spaces cannot collide. One memo per (session,
    * dir), shared by every trade-graph row: each iteration and each
    * degree or count branch re-reads its checkpointed half instead of
    * recomputing the orders⋈lineitem join per reference. */
  private[graft] def tradeEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "trade_edges_sym") {
      import s.implicits._
      // Checkpoint the DIRECTED half only ([[tradeArcs]]): the
      // symmetrizing union is a pure map over it (no shuffle), so
      // materializing it too would double the checkpointed bytes for
      // nothing.
      val e0 = tradeArcs(s, d)
      e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    }

  /** Per-node degree of [[tradeEdges]] (symmetrized, so src appears
    * once per incident edge) — |V|-sized, broadcast everywhere it's
    * joined. Shared for the same reason as the edges: pagerank
    * re-broadcasts it per iteration and bfs seeds from it, and
    * without the checkpoint each broadcast re-aggregates the edge
    * table. */
  private[graft] def tradeDeg(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "trade_deg") {
      import s.implicits._
      Tables.ck(tradeEdges(s, d).groupBy($"src").agg(count(lit(1)).as("d")))
    }

  /** [[tradeEdges]] with the source's degree folded onto each edge —
    * the static half of the PageRank update. With `d` a column of the
    * edge table, one iteration needs only ONE broadcast (the |V|-sized
    * rank table) instead of two (deg-join then contrib): each
    * broadcast is a sequential driver materialization round, and the
    * 5-iteration loop's wall time is round-count × round latency far
    * more than it is data volume. Like [[tradeEdges]] it checkpoints
    * the directed half ([[tradeArcs]]) only, with both endpoint
    * degrees, and symmetrizes by a map over it: half the rows held,
    * which keeps the PageRank and PPR loops' input under the
    * small-plan bound wherever the edge list itself is. */
  private[graft] def tradeEdgesW(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.derived(s, d, "trade_edges_w") {
      import s.implicits._
      val deg = tradeDeg(s, d)
      val w = Tables.ck(tradeArcs(s, d)
        .join(broadcast(deg), "src")
        .join(broadcast(deg.select($"src".as("dst"), $"d".as("dd"))), "dst")
        .select($"src", $"dst", $"d", $"dd"))
      w.select($"src", $"dst", $"d")
        .unionByName(w.select($"dst".as("src"), $"src".as("dst"), $"dd".as("d")))
    }

  /** q_graph_betweenness's radius-4 Brandes-subset core over ANY
    * symmetric (src, dst) edge list and (seed) pivot set — extracted
    * so PropertySpec can drive random graphs through the exact
    * production algebra. Returns (node, dm): the micro-unit pivot-sum
    * dependency Σ_seeds δ_seed(node), nodes within 4 hops of a pivot.
    *
    * Forward: 4 hops of σ-carrying multi-source BFS. The visited anti
    * join runs BEFORE the σ aggregate: it is a map-side broadcast
    * filter, and by hop 3-4 most of the k·|E| expanded rows hit
    * already-visited nodes — dropping them pre-shuffle is the
    * difference between aggregating the frontier's true growth and
    * re-shuffling the whole expansion every hop. The filtered
    * expansion IS the shortest-path DAG slice for the hop ((seed, v
    * at ℓ, w at ℓ+1) with σv on each row) — MATERIALIZED (ck) so the
    * backward sweeps read it back instead of rescanning the full edge
    * list three more times: the textbook distributed Brandes stores
    * the DAG it walks. Backward: each sweep is ONE broadcast join of
    * the stored DAG slice with the child level's (σw, δw) table — σv
    * rides the DAG row; contributions are floor(σv·(1e6+δw)/σw+0.5)
    * micro-units summed order-free as BIGINT. */
  private[graft] def brandesDeltas(edges: org.apache.spark.sql.DataFrame,
      piv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var frontier = piv
      .select($"seed", $"seed".as("node"), lit(1L).as("sig"))
    var visited = frontier.select($"seed", $"node")
    var levels = Vector(frontier)
    var dags = Vector.empty[org.apache.spark.sql.DataFrame]
    (1 to 4).foreach { hop =>
      // Hop 1's DAG slice has exactly ONE consumer (its own σ
      // aggregate): the backward sweeps read dags(1..3) only — δ is
      // accumulated INTO the pivots' neighbors, never out of the
      // pivots themselves. Checkpointing a single-consumer table
      // persists |E·k| rows nothing re-reads, so hop 1 stays a plain
      // lazy plan.
      val dag0 = edges
        .join(broadcast(frontier
          .select($"seed", $"node".as("src"), $"sig")), Seq("src"))
        .select($"seed", $"src", $"dst".as("node"), $"sig")
        .join(broadcast(visited), Seq("seed", "node"), "left_anti")
      val dag = if (hop == 1) dag0 else dag0.transform(Tables.ck)
      dags = dags :+ dag
      frontier = dag
        .groupBy($"seed", $"node").agg(sum($"sig").as("sig"))
        .transform(Tables.ck)
      visited = visited.unionByName(frontier.select($"seed", $"node"))
      levels = levels :+ frontier
    }
    def sweep(dag: org.apache.spark.sql.DataFrame,
        child: org.apache.spark.sql.DataFrame,
        childDm: Option[org.apache.spark.sql.DataFrame]) = {
      val cd = childDm match {
        case Some(dm) => child.join(dm, Seq("seed", "node"), "left")
          .select($"seed", $"node", $"sig".as("wsig"),
            coalesce($"dm", lit(0L)).as("dm"))
        case None => child
          .select($"seed", $"node", $"sig".as("wsig"), lit(0L).as("dm"))
      }
      dag.join(broadcast(cd), Seq("seed", "node"))
        .select($"seed", $"src".as("node"),
          floor($"sig".cast("double") * (lit(1000000L) + $"dm")
            / $"wsig" + 0.5).cast("long").as("c"))
        .groupBy($"seed", $"node").agg(sum($"c").as("dm"))
        .transform(Tables.ck)
    }
    val d3 = sweep(dags(3), levels(4), None)
    val d2 = sweep(dags(2), levels(3), Some(d3))
    val d1 = sweep(dags(1), levels(2), Some(d2))
    d1.unionByName(d2).unionByName(d3)
      .groupBy($"node").agg(sum($"dm").as("dm"))
  }

  /** `steps` hash-driven walk steps from EVERY node of the trade
    * graph (see the q_graph_randomwalk entry): returns the (walker,
    * node) position table after the last step. Every node has deg ≥ 1
    * and idx = h60 mod deg + 1 always hits exactly one neighbor, so
    * each step advances EVERY walker exactly once — walk-count
    * conservation (|rows| = |V| after every step) is the OpsSpec law. */
  private[graft] def randomWalks(s: org.apache.spark.sql.SparkSession,
      d: String, steps: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val wN = Window.partitionBy($"src").orderBy($"dst")
    val nbr = Tables.ck(tradeEdges(s, d)
      .withColumn("idx", row_number().over(wN))
      .select($"src".as("node"), $"dst", $"idx"))
    val deg = tradeDeg(s, d).select($"src".as("node"), $"d")
    var cur = deg.select($"node".as("walker"), $"node")
    (1 to steps).foreach { k =>
      cur = Tables.ck(cur.join(broadcast(deg), "node")
        .withColumn("idx",
          (Tables.h60(concat($"walker", lit(s":$k"))) % $"d")
            .cast("int") + 1)
        .select($"walker", $"node", $"idx")
        .join(nbr, Seq("node", "idx"))
        .select($"walker", $"dst".as("node")))
    }
    cur
  }

  /** Frontier sizes for hops 1..`hops` of a BFS over `edges` from
    * `seed`. Each hop is ONE keyed join (frontier⋈edges) + one anti
    * join against the visited set — the standard BFS-on-MapReduce
    * shape with the frontier as the moving side. Frontier and visited
    * are |V|-bounded, so they BROADCAST, as the rank table does in
    * [[rankStep]]: without the visited broadcast each hop pays a full
    * shuffle of both anti-join sides. */
  private[graft] def bfsFrontiers(edges: org.apache.spark.sql.DataFrame,
      seed: org.apache.spark.sql.DataFrame, hops: Int)
      : org.apache.spark.sql.DataFrame = {
    var visited = seed
    var frontier = seed
    val sizes = (1 to hops).map { hop =>
      frontier = Tables.ck(bfsHop(edges, frontier, visited))
      visited = visited.unionByName(frontier)
      frontier.agg(count(lit(1)).as("frontier"))
        .select(lit(hop).as("hop"), col("frontier"))
    }
    sizes.reduce(_ unionByName _).orderBy(col("hop"))
  }

  /** One [[bfsFrontiers]] hop: the nodes one edge out of `frontier`
    * that are not in `visited` — extracted so GateSpec can pin the
    * round plan the per-round checkpoint hides. */
  private[graft] def bfsHop(edges: org.apache.spark.sql.DataFrame,
      frontier: org.apache.spark.sql.DataFrame,
      visited: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    edges.join(broadcast(frontier), col("src") === col("node"))
      .select(col("dst").as("node")).distinct()
      .join(broadcast(visited), Seq("node"), "left_anti")

  /** [[tradeEdgesW]] written ONCE per (session, dir) as a table
    * BUCKETED on `src` — the static side of the CO-PARTITIONED rank
    * join. A bucketed scan reports `HashPartitioning(src, nBuckets)`,
    * so every iteration's rank join plans NO exchange on the
    * |E|-sized edges side: the edge layout is paid once at write time
    * and each join moves only the |V|-sized rank table. Storage
    * bucketing is the one layout Catalyst can PROVE per-plan — a
    * `repartition(src).localCheckpoint()` does not work here because
    * under AQE the checkpointed LogicalRDD records
    * UnknownPartitioning, so the SQL layer would silently re-shuffle
    * edges every iteration. Same move GraphX makes by partitioning
    * its edge RDD once; 8 buckets at fixture scale, ≈ cluster width
    * in production. */
  private[graft] def tradeEdgesBkt(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
    val name = s"graft_trade_edges_bkt_$tag"
    LayoutOps.ensureTable(s, name) {
      tradeEdgesW(s, d).write.bucketBy(8, "src")
        .mode("overwrite").saveAsTable(name)
    }
    s.table(name)
  }

  /** The symmetrized trade graph with a DETERMINISTIC INTEGER edge
    * weight: w(c,s) = min l_quantity over the orders the pair shares
    * (the "cheapest observed lot" — any deterministic integer works;
    * quantity keeps it data-derived). One keyed aggregate over the
    * same orders⋈lineitem scan as [[tradeEdges]], memoized +
    * materialized because the SSSP loop re-reads it every round. */
  private[graft] def tradeEdgesWgt(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.derived(s, d, "trade_edges_wgt") {
      import s.implicits._
      // Aggregate on the long key pair and build the string node ids
      // after the min: the exchange moves 16-byte pairs, and grouping
      // by (custkey, suppkey) ≡ grouping by their injective string
      // images, so edges and weights are identical.
      val e0 = t(s, d, "orders")
        .join(t(s, d, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"),
                $"l_quantity".cast("long").as("q"))
        .groupBy($"ck", $"sk").agg(min($"q").as("w"))
        .select(concat(lit("c"), $"ck".cast("string")).as("src"),
                concat(lit("s"), $"sk".cast("string")).as("dst"), $"w")
        .transform(Tables.ck)
      e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst"), $"w"))
    }

  /** `rounds` FRONTIER-DELTA Bellman–Ford relaxations over a weighted
    * symmetric edge set `(src, dst, w)` from the 1-row `seed` —
    * distributed single-source shortest paths, the weighted kernel
    * [[bfsFrontiers]] (hop counts) cannot express. Per round: ONE
    * broadcast of the FRONTIER (nodes whose distance improved last
    * round — not the whole reached set) onto the edges + one
    * partial-aggregable keyed aggregate; the carry-over union keeps
    * settled nodes without re-deriving them, and the SAME aggregate
    * emits the next frontier for free — a second null-skipping
    * `min(old)` over the carried rows recovers each node's
    * before-round distance, so "newly reached or strictly improved"
    * is a filter on the round's own output, never a second join.
    *
    * Frontier-only relaxation is EXACTLY round-equivalent to relaxing
    * the full reached set (not just fixpoint-equivalent): if a node
    * u's distance did not change in round k, every candidate
    * `dist(u) + w(u,v)` it could offer in round k+1 was already
    * offered in round k and min-folded into dist_k(v), and distances
    * are monotone non-increasing — so dropping u from round k+1
    * changes nothing, by induction every round's table is identical
    * to the full-relaxation table, and the unrolled full-relaxation
    * oracle is unchanged. What changes is the COST: late rounds join
    * |frontier| rows against the edges instead of |reached| — at
    * 100× scale that is the difference between `rounds` full-table
    * relaxations and `rounds` shrinking ones.
    * Per-round frontier vs reached counts at sf0.1: BUILD_NOTES.md.
    *
    * FIXED round count with zero driver actions (the q_graph_kcore
    * discipline): relaxation is monotone (distances only decrease,
    * reached set only grows), so once a round changes nothing the
    * table IS the exact shortest-path distances (the frontier is then
    * empty and every further round is the identity for free) —
    * fixed-round correctness only needs rounds ≥ the max EDGE COUNT
    * of any shortest path, which OpsSpec asserts by comparing
    * `rounds` and `rounds+1` on the fixture at sf0.001 AND sf0.01
    * (plus a driver-side Dijkstra recount and a random-graph
    * Dijkstra-equality law). Each round's state table lazily
    * checkpoints: it is referenced twice (the frontier filter and
    * the carry-over union) — unchecked, the unroll doubles per
    * round; the frontier itself is a projection of the checkpointed
    * state, nothing extra to materialize. Distances are exact BIGINT
    * sums of integer weights — no float anywhere, both engines agree
    * bit-for-bit. */
  private[graft] def ssspDist(edges: org.apache.spark.sql.DataFrame,
      seed: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    // The frontier-bounded distance table BROADCASTS, as bfsFrontiers'
    // sets do; a keyed form tied with it at sf0.1 (BUILD_NOTES.md).
    // State = (node, dist, prev): prev is the node's distance BEFORE
    // the round (null when the round first reached it), derived FOR
    // FREE inside the round's one keyed aggregate — carried rows
    // contribute their old distance to a null-skipping min, relaxed
    // rows contribute null — so the frontier (prev null or strictly
    // improved) is a FILTER on the checkpointed state, not a second
    // join: one relax join + one keyed agg per round, over the
    // frontier instead of every reached node.
    var state = seed.select(col("node"), lit(0L).as("dist"),
        lit(null).cast("long").as("prev"))
      .transform(Tables.ck)
    for (_ <- 1 to rounds) {
      val frontier = state
        .where(col("prev").isNull || col("dist") < col("prev"))
        .select(col("node"), col("dist"))
      state = edges
        .join(broadcast(frontier.select(col("node").as("src"), col("dist"))),
          Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("long").as("old"))
        .unionByName(state.select(col("node"), col("dist"),
          col("dist").as("old")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"), min(col("old")).as("prev"))
        .transform(Tables.ck)
    }
    state.select(col("node"), col("dist"))
  }

  /** One PPR update round — see the q_graph_ppr comment for the
    * union-teleport derivation and why a full-outer teleport join is
    * a plan defect (unbroadcastable, hint silently dropped).
    * Extracted so PlanShapeSpec can pin the UNCHECKPOINTED round plan
    * (the per-round `Tables.ck` hides the loop body from the declared
    * query's executed plan — the ShinglesSpec lesson): exactly one
    * BroadcastHashJoin, one keyed exchange, zero sort-merge joins,
    * zero dropped hints — distributed. Under the small-plan rule it
    * plans no exchange at all (GateSpec). */
  private[graft] def pprStep(edges: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame, seed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.join(broadcast(r), col("src") === col("node"))
      .select(col("dst").as("node"), (col("r") / col("d")).as("sw"),
        lit(0.0).as("tp"))
      .unionByName(seed.select(col("node"), lit(0.0).as("sw"), lit(0.15).as("tp")))
      .groupBy(col("node"))
      .agg(sum(col("sw")).as("sw"), max(col("tp")).as("tp"))
      .select(col("node"), (lit(0.85) * col("sw") + col("tp")).as("r"))

  /** Fixed SSSP round count: covers the max min-cost-path edge count
    * on every fixture SF (measured driver-side via hop-tie-broken
    * Dijkstra: 3 / 5 / 7 rounds needed at sf0.001 / 0.01 / 0.1 — low
    * weights make many-hop detours pay on this graph, so the bound
    * GROWS with density, unlike the BFS radius); 8 leaves one round
    * of headroom, and OpsSpec asserts rounds ≡ rounds+1 on the real
    * fixture so a regenerated deeper graph fails the spec, not the
    * differential. */
  private[graft] val SsspRounds = 8

  val queries: Map[String, Q] = Map(
    // WEIGHTED SINGLE-SOURCE SHORTEST PATHS (bounded-round
    // Bellman–Ford) over the quantity-weighted trade graph from the
    // q_graph_bfs hub seed — the classic weighted kernel next to the
    // unweighted BFS row: BFS answers "how many hops", SSSP answers
    // "at what cost", and on a trade graph the min-quantity weight
    // reads as the cheapest routing. See [[ssspDist]] for the
    // per-round shape, the monotone-fixpoint argument, and the
    // exact-integer claim; [[SsspRounds]] rounds unrolled as ONE lazy
    // plan. Output: every reached node with its exact distance
    // (reached = the seed's component; unreached nodes emit no row in
    // both engines).
    "q_graph_sssp" -> ((s, d) => {
      import s.implicits._
      val seed = tradeDeg(s, d).select($"src".as("node"), $"d".as("dg"))
        .orderBy($"dg".desc, $"node").limit(1).select($"node")
      ssspDist(tradeEdgesWgt(s, d), seed, SsspRounds)
        .orderBy($"node")
    }),

    // PERSONALIZED PAGERANK (random walk with restart) from the
    // q_graph_bfs hub seed — the "importance RELATIVE TO this node"
    // scoring behind related-entity recommendation and local
    // community seeds, which global PageRank structurally can't give
    // (its teleport spreads to every node; PPR's restarts all land on
    // the seed): r ← 0.15·e_seed + 0.85·AᵀD⁻¹r, 5 fixed iterations
    // from r₀ = e_seed. The rank table stays SPARSE — only nodes the
    // walk has reached carry rows, so early iterations move frontier-
    // sized data (the BFS shape), not |V|. Teleport enters by UNION
    // into the pre-aggregation stream: the seed's restart row rides
    // the same keyed aggregate as the edge contributions, in a
    // separate `tp` column so the algebra stays 0.85·Σ(r/d) + tp —
    // bit-identical to the full-outer formulation the oracle keeps
    // (the extra sw=0.0 union term is IEEE-exact over non-negative
    // partials; max(tp) picks the one restart row). A full-outer join
    // against the seed would be WRONG here at the plan level: Spark
    // cannot broadcast either side of a full outer join, silently
    // drops the hint (HintErrorLogger), and plans a per-round
    // shuffle join of the rank table against one row. The union
    // shape needs zero joins for the teleport: one broadcast relax
    // join + one keyed aggregate per round, pinned in PlanShapeSpec
    // (no sort-merge join, no dropped hint in the loop). Round 1
    // — where the seed has no in-mass — still emits its restart row
    // because the union row exists regardless. Total mass is exactly
    // 1 every round (0.15 + 0.85·1, no dangling nodes) — the OpsSpec
    // conservation law. Top-20 by rounded rank. Accepted float-risk
    // class (ADVICE r14): unrounded doubles propagate through 5
    // iterations of order-dependent summation before the single
    // 1e-6 rounding, the same class q_graph_pagerank carries — if a
    // regenerated fixture ever lands a value within an ulp of a
    // 0.5e-6 grid boundary, the fix is per-iteration micro-grid
    // rounding on BOTH sides (the micro-nat kernel move).
    "q_graph_ppr" -> ((s, d) => {
      import s.implicits._
      val edges = tradeEdgesW(s, d)
      val seed = tradeDeg(s, d).select($"src".as("node"), $"d".as("dg"))
        .orderBy($"dg".desc, $"node").limit(1)
        .select($"node").transform(Tables.ck)
      var r = seed.select($"node", lit(1.0).as("r"))
        .transform(Tables.ck)
      for (_ <- 1 to Iters) r = Tables.ck(pprStep(edges, r, seed))
      r.select($"node", (floor($"r" * 1e6 + 0.5) / 1e6).as("ppr"))
        .orderBy($"ppr".desc, $"node")
        .limit(20)
    }),

    // PageRank over the symmetrized trade graph. Every node has degree
    // ≥ 1 by construction, so no dangling-mass term is needed and
    // total rank stays 1.
    "q_graph_pagerank" -> ((s, d) => {
      import s.implicits._
      val edges = tradeEdgesW(s, d)
      // |V| is a single scalar constant for the whole job — resolve it
      // once (metadata-scale driver action, the same thing GraphX
      // does) and fold it into literals, instead of a per-iteration
      // crossJoin(broadcast(nn)) stage. Same IEEE division both ways,
      // so the oracle's 0.15/n algebra is unchanged.
      val n = tradeDeg(s, d).count()
      val init =
        tradeDeg(s, d).select($"src".as("node"), (lit(1.0) / n).as("r"))
      // The source degree is pre-folded onto the edges (tradeEdgesW),
      // so one iteration is ONE broadcast of the |V|-sized rank table
      // + one keyed aggregate on dst — sum(r/d) exactly as the
      // oracle's unrolled SUM(r/deg.d), same IEEE division. At
      // billions of vertices the same loop runs co-partitioned
      // instead — that is q_graph_pagerank_part below, same algebra,
      // same oracle. The loop ([[pagerank]]) early-exits on L1
      // delta < Tol — never reached on the fixture (all Iters rounds
      // run), so the unrolled oracle is exact.
      val (r, _) = pagerank(edges, init, n, Iters, Tol)
      r.select($"node", (floor($"r" * 1e6 + 0.5) / 1e6).as("rank"))
        .orderBy($"rank".desc, $"node")
        .limit(20)
    }),

    // The SAME PageRank on the CO-PARTITIONED rank-join strategy —
    // the declared billion-vertex path (rank table too big to
    // broadcast). Edges are written ONCE as a table bucketed on src
    // (tradeEdgesBkt); each iteration's join then shuffles only the
    // |V|-sized rank side (SHUFFLE_HASH hint — forces the keyed join
    // and survives AQE re-planning, so the runtime can't flip it
    // back to broadcast). Identical update algebra to
    // q_graph_pagerank — broadcast vs keyed join changes WHERE rows
    // meet, not what is summed — so the unrolled oracle is shared
    // verbatim; the strategies agreeing is itself part of the
    // differential. Plan pinned in PlanShapeSpec (no
    // BroadcastExchange on the rank join, edges side exchange-free
    // off its bucket layout).
    // Broadcast↔co-partitioned crossover (|V|≈4M): BUILD_NOTES.md.
    "q_graph_pagerank_part" -> ((s, d) => {
      import s.implicits._
      val edges = tradeEdgesBkt(s, d)
      val n = tradeDeg(s, d).count()
      val init =
        tradeDeg(s, d).select($"src".as("node"), (lit(1.0) / n).as("r"))
      val (r, _) = pagerank(edges, init, n, Iters, Tol,
        broadcastRank = false)
      r.select($"node", (floor($"r" * 1e6 + 0.5) / 1e6).as("rank"))
        .orderBy($"rank".desc, $"node")
        .limit(20)
    }),

    // 4-TRUSS of the co-purchase graph by TRIANGLE-SUPPORT PEELING
    // (Cohen 2008 — the k-truss, the triangle-grade dense-subgraph
    // kernel next to q_graph_kcore's degree grade): iteratively drop
    // every edge in fewer than k−2 = 2 triangles of the CURRENT
    // subgraph; what survives is the cohesive core where every tie is
    // multiply witnessed — on a near-dup/co-purchase graph, the
    // community seed degree alone can't find (a hub has high degree
    // with zero triangles). FIXED 5-round unroll as one lazy plan
    // (the q_graph_kcore discipline): peeling is monotone, so
    // fixed-round correctness only needs rounds ≥ the peel depth —
    // measured 2/3/3 at sf0.001/0.01/0.1, and OpsSpec asserts
    // rounds ≡ rounds+1 plus a full driver-side peel recount. Per
    // round: one ordered wedge self-join (a<b<c triangle enumeration
    // on canonical edges — all keyed equi-joins), a 3-way
    // edge-support census (partial-aggregable), and the HAVING cut;
    // edges in no triangle drop by absence from the census. Output:
    // each 4-truss member with its in-truss degree. Non-vacuous at
    // every fixture SF (6 / 110 / 1596 surviving edges).
    "q_graph_ktruss" -> ((s, d) => {
      import s.implicits._
      val truss = ktrussEdges(copurchaseEdges(s, d)
        .select($"p1".as("u"), $"p2".as("v")), rounds = 5)
      truss.select($"u".as("n")).unionByName(truss.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
        .select($"n".as("node"), $"dg")
        .orderBy($"node")
    }),

    // Triangle counting over the high-volume co-purchase graph (parts
    // that appear in the same order, both at l_quantity >= 45): the
    // canonical two-round MapReduce graph kernel, here as one
    // declarative three-way self-join with DEGREE ORIENTATION.
    // Output: top-10 parts by triangle participation (each triangle
    // credits all three corners) — identical to the key-canonical
    // form, so the oracle is unchanged.
    //
    // Scale note (100 TB): wedge count — not edge count — is the cost
    // driver, and the wedge join below enumerates pairs of
    // OUT-neighbors. Orienting each edge toward its higher-(degree,
    // id) endpoint caps every out-degree at O(√m) (a node of degree k
    // only keeps edges to neighbors of degree ≥ k, and there can be
    // at most 2m/k of those), so total wedges are O(m^1.5) regardless
    // of hub size — the dense ≥45-quantity co-purchase graph here is
    // exactly the skewed case key-canonical orientation mishandles.
    // A triangle {u,v,w} with u<v<w in (degree, id) order carries
    // directed edges u→v, u→w, v→w and is found exactly once: as the
    // wedge (v,w) at u closed by v→w.
    "q_graph_triangles" -> ((s, d) => {
      import s.implicits._
      val e = copurchaseEdges(s, d)
      val deg = e.select($"p1".as("n")).unionByName(e.select($"p2".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
      // Orient toward the higher-(degree, id) endpoint; carry the
      // head's (degree, id) so the wedge join can order its pair the
      // same way the closing edge is directed. Degree tables are
      // |V|-sized — broadcast.
      val fwd = $"d1" < $"d2" || ($"d1" === $"d2" && $"p1" < $"p2")
      val dir = Tables.ck(e
        .join(broadcast(deg.select($"n".as("p1"), $"dg".as("d1"))), "p1")
        .join(broadcast(deg.select($"n".as("p2"), $"dg".as("d2"))), "p2")
        .select(
          when(fwd, $"p1").otherwise($"p2").as("src"),
          when(fwd, $"p2").otherwise($"p1").as("dst"),
          when(fwd, $"d2").otherwise($"d1").as("ddg")))
      val tri = dir.as("e1").join(dir.as("e2"),
          $"e1.src" === $"e2.src" &&
            ($"e1.ddg" < $"e2.ddg" ||
              ($"e1.ddg" === $"e2.ddg" && $"e1.dst" < $"e2.dst")))
        .select($"e1.src".as("ta"), $"e1.dst".as("tb"), $"e2.dst".as("tc"))
        .join(dir.as("e3"), $"tb" === $"e3.src" && $"tc" === $"e3.dst")
      tri.select(explode(array($"ta", $"tb", $"tc")).as("partkey"))
        .groupBy($"partkey").agg(count(lit(1)).as("n_tri"))
        .orderBy($"n_tri".desc, $"partkey")
        .limit(10)
    }),

    // Common-neighbor link prediction: Jaccard similarity of supplier
    // customer-sets over high-value orders — "suppliers serving the
    // same customers" is the bipartite co-occurrence shape behind
    // related-item and entity-resolution candidates. Pairs are
    // generated by a self-join keyed on the shared CUSTOMER, so the
    // fan-out per customer is its supplier-set choose 2 — bounded by
    // per-entity degree, never |S|². Degree tables are |S|-sized and
    // broadcast. Hub customers go through [[capNeighbors]]: each
    // customer's supplier list is capped at [[JaccardCap]] in hash
    // order before pairing (the q_dedup_minhash hot-bucket
    // treatment), bounding the worst-case fan-out at cap²/2 per
    // customer — recall loss is confined to the capped hubs.
    "q_graph_jaccard" -> ((s, d) => {
      import s.implicits._
      val e0 = t(s, d, "orders").where($"o_totalprice" > 300000)
        .join(t(s, d, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sup"))
        .distinct()
      // Checkpoint AFTER the cap: the capped list is what deg and
      // both self-join sides read (3 references), so this is the
      // table worth materializing once.
      val e = Tables.ck(capNeighbors(e0, JaccardCap))
      val deg = e.groupBy($"sup").agg(count(lit(1)).as("dg"))
      val pairs = e.as("a").join(e.as("b"),
          $"a.c" === $"b.c" && $"a.sup" < $"b.sup")
        .groupBy($"a.sup".as("s1"), $"b.sup".as("s2"))
        .agg(count(lit(1)).as("common"))
      pairs
        .join(broadcast(deg.select($"sup".as("s1"), $"dg".as("d1"))), "s1")
        .join(broadcast(deg.select($"sup".as("s2"), $"dg".as("d2"))), "s2")
        .select($"s1", $"s2", $"common",
          (floor($"common" * 1.0 / ($"d1" + $"d2" - $"common") * 1e4 + 0.5)
            / 1e4).as("jaccard"))
        .orderBy($"jaccard".desc, $"s1", $"s2")
        .limit(10)
    }),

    // BUTTERFLY COUNTING (Sanei-Mehri et al., KDD'18; Wang et al.) —
    // the 2×2-biclique census, the canonical MOTIF for bipartite
    // graphs where triangles cannot exist: two customers sharing two
    // suppliers form a butterfly, the smallest unit of bipartite
    // clustering and the seed signal for dense-subgraph / community
    // work on customer–supplier data. Exact wedge-counting form: per
    // customer, supplier pairs (one keyed self-join on the capped
    // neighbor lists — [[capNeighbors]], the q_graph_jaccard hub
    // discipline, bounds hot-customer fan-out at cap²/2); per
    // (s1, s2) the shared-customer count m gives m·(m−1) DIV 2
    // butterflies — INTEGER arithmetic throughout (a double division
    // would go inexact past 2^53 once m reaches ~10⁸ shared
    // customers; DIV keeps both engines exact in BIGINT). Output:
    // top-10 suppliers by butterfly participation (each butterfly
    // credits both supplier corners — the per-vertex count the
    // peeling algorithms rank by). At 100 TB every stage is keyed
    // (customer, then supplier pair, then supplier); nothing global.
    "q_graph_butterfly" -> ((s, d) => {
      import s.implicits._
      // The uncapped wedge input is the shared [[tradePairs]] memo,
      // which the family sweep builds in _memo_graph.
      val e0 = tradePairs(s, d)
        .select($"ck".as("c"), $"sk".as("sup"))
      val e = Tables.ck(capNeighbors(e0, JaccardCap))
      val bf = e.as("a").join(e.as("b"),
          $"a.c" === $"b.c" && $"a.sup" < $"b.sup")
        .groupBy($"a.sup".as("s1"), $"b.sup".as("s2"))
        .agg(count(lit(1)).as("m"))
        .where($"m" >= 2)
        .select($"s1", $"s2", expr("m * (m - 1) DIV 2").as("bf"))
      bf.select(explode(array($"s1", $"s2")).as("sup"), $"bf")
        .groupBy($"sup").agg(
          count(lit(1)).as("n_pairs"),
          sum($"bf").as("n_butterflies"))
        .orderBy($"n_butterflies".desc, $"sup")
        .limit(10)
    }),

    // Bounded-hop BFS from the highest-degree node: frontier sizes
    // for hops 1..3 over the symmetrized trade graph — the iterative
    // frontier-expansion kernel (reachability, blast-radius, feature
    // neighborhoods), via [[bfsFrontiers]], whose frontier and visited
    // sets broadcast when the plan is distributed. Hop count fixed at
    // 3 so the plan is finite and the oracle unrollable.
    "q_graph_bfs" -> ((s, d) => {
      import s.implicits._
      val edges = tradeEdges(s, d)
      val seed = tradeDeg(s, d).select($"src".as("node"), $"d".as("dg"))
        .orderBy($"dg".desc, $"node").limit(1).select($"node")
      bfsFrontiers(edges, seed, 3)
    }),

    // HARMONIC CLOSENESS centrality (radius-3) for the top-4 hub
    // nodes — the bounded-radius centrality profile ("how much of the
    // graph does each hub reach, and how fast?"). MULTI-SOURCE BFS
    // sharing each hop's edge join across ALL seeds (the MS-BFS
    // move): frontier rows carry a seed column, so k sources cost ONE
    // keyed frontier⋈edges join per hop plus one (seed, node) anti
    // join against the visited set — never k separate traversals.
    // Harmonic form Σ 1/dist (Boldi–Vigna's axiom-clean variant) is
    // the bounded-radius-safe choice: classic closeness needs every
    // node reached. Frontier/visited are (k·|V|)-bounded: one
    // partition under the small-plan rule, else broadcast, as in
    // [[bfsFrontiers]]. Exactness of the 1e-4 floor: dist ∈ {1,2,3}, so
    // the true harmonic sum is a multiple of 1/6 and sum·1e4 + 0.5 never
    // sits closer than 1/6·10⁴ᐨ¹ to a floor boundary.
    "q_graph_closeness" -> ((s, d) => {
      import s.implicits._
      val seeds = tradeDeg(s, d).orderBy($"d".desc, $"src").limit(4)
        .select($"src".as("seed"))
      var visited = seeds
        .select($"seed", $"seed".as("node"), lit(0).as("dist"))
      var frontier = visited
      (1 to 3).foreach { hop =>
        frontier = Tables.ck(tradeEdges(s, d)
            .join(broadcast(frontier.select($"seed", $"node".as("src"))),
              Seq("src"))
            .select($"seed", $"dst".as("node")).distinct()
          .join(broadcast(visited.select($"seed", $"node")),
            Seq("seed", "node"), "left_anti")
          .withColumn("dist", lit(hop)))
        visited = visited.unionByName(frontier)
      }
      visited.where($"dist" >= 1)
        .groupBy($"seed").agg(
          count(lit(1)).as("n_reached"),
          (floor(sum(lit(1.0) / $"dist") * 1e4 + 0.5) / 1e4)
            .as("harmonic"))
        .orderBy($"seed")
    }),

    // APPROXIMATE BETWEENNESS CENTRALITY — Brandes' exact dependency
    // accumulation (2001) run from a SAMPLED pivot set (Brandes &
    // Pich 2007): the standard "which nodes sit on the paths"
    // centrality next to PageRank/HITS/closeness, and the one that is
    // O(|V|·|E|) exact — pivot sampling is how every production graph
    // stack ships it. Pivots: the 4 nodes with smallest h60(node) —
    // a deterministic uniform sample (hash, not degree-biased seeds:
    // Brandes-Pich prescribe uniform pivots for an unbiased
    // estimator). Forward: 4 hops of multi-source BFS carrying the
    // shortest-path COUNT σ (one keyed frontier⋈edges join + keyed
    // σ-sum + visited anti join per hop — q_graph_closeness's MS-BFS
    // with one extra aggregated column; diameter ≤ 4 on every fixture
    // SF, and the OpsSpec recount asserts pivot eccentricity ≤ 4 so a
    // regenerated deeper graph fails the spec, not the differential).
    // Backward: Brandes' δ(v) = Σ_{w∈succ(v)} σv/σw · (1+δw),
    // accumulated level-by-level (3 sweeps, unrolled) in EXACT
    // integer MICRO-units: each edge contribution is
    // floor(σv·(1e6+δw_micro)/σw + 0.5) — one double multiply+divide
    // on exact integer operands, written operation-identically in the
    // oracle, then summed order-free as BIGINT (the q_text_dsir
    // move; a plain double δ-sum would be summation-order-sensitive
    // across engines). Estimate: bc(v) = (|V|/2k)·Σ_pivots δ(v)
    // (undirected pair double-count folded in), top-20. Scale: every
    // stage is the closeness BFS shape — frontier/visited/δ tables
    // are (k·|V|)-bounded broadcasts with the documented SHUFFLE_HASH
    // + bucketed-edges swap past a few hundred million rows; k is the
    // accuracy/cost knob, pivots are embarrassingly batchable.
    "q_graph_betweenness" -> ((s, d) => {
      import s.implicits._
      val n = tradeDeg(s, d).count()
      val piv = tradeDeg(s, d)
        .orderBy(Tables.h60($"src"), $"src").limit(4)
        .select($"src".as("seed"))
      brandesDeltas(tradeEdges(s, d), piv)
        .select($"node",
          (floor(lit(n / 8.0) * $"dm" / 1e6 * 1e4 + 0.5) / 1e4)
            .as("betweenness"))
        .orderBy($"betweenness".desc, $"node")
        .limit(20)
    }),

    // DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec sampling
    // stage that feeds graph-embedding training: one length-3 walk
    // from EVERY node, the step at node u chosen by the cross-engine
    // hash h60(walker ':' step) mod deg(u) over u's dst-sorted
    // neighbor list. Hash-driven, not PRNG-driven: the walk corpus is
    // bit-reproducible across runs, engines, and cluster sizes — the
    // q_sample_hash property applied to graph sampling. Per step: ONE
    // keyed join onto the degree table (broadcast, |V|-sized) + ONE
    // keyed join onto the (src, idx)-indexed neighbor list — the
    // (node, idx) equi-key means the join never fans out past one row
    // per walker. Output: terminal-visit census top-20 (walks drift
    // toward hubs — the degree-biased visit distribution embedding
    // training corrects with negative sampling). At 10⁹ vertices the
    // walker table is |V|-sized and the neighbor list rides the
    // src-bucketed edge layout (the pagerank_part co-partition move);
    // hub fan-IN skews the terminal census key — AQE skew handling,
    // as in q_join_skew_aqe.
    "q_graph_randomwalk" -> ((s, d) => {
      import s.implicits._
      randomWalks(s, d, 3)
        .groupBy($"node").agg(count(lit(1)).as("n_walks"))
        .select($"node".as("terminal"), $"n_walks")
        .orderBy($"n_walks".desc, $"terminal")
        .limit(20)
    }),

    // Connected-component census — the UNblocked-CC path that
    // q_dedup_cluster's block-local union-find explicitly cannot take
    // (no blocking key bounds a component there; here components span
    // the whole graph). The engine is the LARGE-STAR / SMALL-STAR
    // scheme ([[ccStar]]): O(log |V|) rounds at LINEAR edges with no
    // broadcast required. Its references are independent of it: the
    // exact-closure oracle here, and OpsSpec's driver-side union-find
    // and known-answer path. A fixpoint of the update IS the exact
    // component labeling, so correctness never depends on round
    // count. Graph: the shared [[ccEdges]] fixture; labels via the
    // memoized [[ccStarLabels]] so the census and the size-distribution row
    // below share ONE converged loop.
    "q_graph_cc" -> ((s, d) => {
      import s.implicits._
      ccStarLabels(s, d)
        .groupBy($"lab").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"n_nodes".desc, $"lab")
    }),

    // Component-SIZE DISTRIBUTION over the same converged labeling —
    // the second standard profile of a graph's component structure
    // (how many singletons / small fragments / giant components?),
    // and at training-data scale the shape that decides whether
    // near-dup clusters are a long tail of pairs or a few giant
    // blobs. Consumes the SAME memoized [[ccStarLabels]] as
    // q_graph_cc: one iterative loop serves both rows (a Runner sweep
    // keeps the memo alive until the q_graph_ family ends), and the
    // oracle re-derives the distribution independently from the exact
    // recursive closure, so the sharing itself is differentially
    // checked.
    "q_graph_cc_star" -> ((s, d) => {
      import s.implicits._
      ccStarLabels(s, d)
        .groupBy($"lab").agg(count(lit(1)).as("n_nodes"))
        .groupBy($"n_nodes").agg(count(lit(1)).as("n_components"))
        .orderBy($"n_nodes")
    }),

    // LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007, Phys. Rev.
    // E 76) over the shared [[ccEdges]] fixture graph — the standard
    // near-linear community detector, and the sub-component structure
    // CC cannot see (CC answers "connected at all?", LPA answers
    // "densely connected to WHOM?"). SYNCHRONOUS deterministic
    // variant: every node simultaneously adopts the most frequent
    // label among its neighbors plus ONE self-vote (the self-vote
    // damps the 2-cycle oscillation synchronous LPA is known for;
    // ties break to the lexicographically smallest label, so no RNG
    // anywhere — the published async-random variant trades
    // determinism for convergence speed, the wrong trade under a
    // differential). FIXED 8-round unroll as one lazy plan, the
    // q_graph_kcore move: exactly reproducible in the oracle's 8
    // MATERIALIZED CTE rounds, no per-round convergence check. Output:
    // community census (label, size), largest first.
    "q_graph_lpa" -> ((s, d) => {
      import s.implicits._
      lpaLabelsDf(s, d)
        .groupBy($"lbl").agg(count(lit(1)).as("n_nodes"))
        .select($"lbl".as("community"), $"n_nodes")
        .orderBy($"n_nodes".desc, $"community")
    }),

    // NEWMAN MODULARITY of the LPA communities, with the CC labels as
    // the null baseline — the number that says whether q_graph_lpa's
    // labels are any GOOD (LPA always emits labels; only Q says they
    // beat random placement). Two rows, one per labeling, both off the
    // family-shared memos ([[lpaLabelsDf]], [[ccStarLabels]]) over the
    // same [[ccEdges]] graph: the CC row is the coarsest possible
    // labeling (every edge intra by definition — Σe_c = m, so
    // Q_cc = 1 − Σd_c²/4m², the connectivity ceiling), and LPA must
    // land close to it from 8 rounds of local votes. See
    // [[modularityQ]] for the exact-integer identity and the
    // DECIMAL(38,0) overflow treatment.
    "q_graph_modularity" -> ((s, d) => {
      import s.implicits._
      val und = ccEdges(s, d).select($"src".as("u"), $"dst".as("v"))
      modularityQ(und, ccStarLabels(s, d), "cc")
        .unionByName(modularityQ(und,
          lpaLabelsDf(s, d).select($"node", $"lbl".as("lab")), "lpa"))
        .orderBy($"method")
    }),

    // MODULARITY-OPTIMIZING COMMUNITY DETECTION — one deterministic
    // Louvain local-move sweep ([[louvainSweep]]) over the shared
    // [[ccEdges]] graph, seeded from the memoized LPA labeling; the
    // row that completes the community story (LPA DETECTS by votes,
    // q_graph_modularity MEASURES, this row IMPROVES: nothing else in
    // the engine moves nodes to increase Q). Output is the direct
    // demonstration: the [[modularityQ]] grade of the input labeling
    // next to the grade after the sweep — community count, edge
    // count, Q — with the improvement itself spec-asserted at two
    // SFs plus a hand-computed wrong-community micro-graph (measured
    // sweep: Q 0.579120 → 0.594587 at sf0.001, 0.760923 → 0.762972
    // at sf0.01 — LPA already labels this sparse graph well, so one
    // sweep polishes rather than reshapes; the micro-graph is where
    // the move provably relocates a whole node). Oracle re-derives
    // LPA (the shared 8-round unroll), the sweep (same exact-integer
    // gains in HUGEINT), and both grades independently.
    "q_graph_louvain" -> ((s, d) => {
      import s.implicits._
      val und = ccEdges(s, d).select($"src".as("u"), $"dst".as("v"))
      val lpa = lpaLabelsDf(s, d).select($"node", $"lbl".as("lab"))
      modularityQ(und, lpa, "lpa")
        .unionByName(modularityQ(und, louvainLabels(s, d), "louvain"))
        .orderBy($"method")
    }),

    // LOUVAIN PHASE 2 — COMMUNITY-GRAPH CONTRACTION (Blondel et al.
    // 2008's aggregation step, completing the method's level
    // structure: local moves, then CONTRACT and recurse): collapse
    // the post-sweep partition ([[louvainLabels]], the memo the grade
    // row shares) into the weighted community graph — one row per
    // community pair (c_lo ≤ c_hi) with w = inter-community edge
    // count; c_lo = c_hi rows are the self-loops carrying each
    // community's intra mass. This artifact IS what makes multi-level
    // Louvain tractable at 100 TB: the next level's sweep runs on a
    // |communities|-sized graph, not |V| — and the published
    // invariance (Q of the flat partition on G equals Q of the
    // singleton partition on the contracted self-looped G') is the
    // OpsSpec law, recomputed driver-side from this row's own output
    // against the declared grade row. Two keyed label joins + one
    // keyed count — contraction costs one aggregate.
    "q_graph_louvain_contract" -> ((s, d) => {
      import s.implicits._
      louvainContractDf(s, d).orderBy($"c_lo", $"c_hi")
    }),

    // LOUVAIN LEVEL 2 — THE RECURSION ACTUALLY RUN (Blondel et al.
    // 2008's full loop: local moves, contract, local moves AGAIN on
    // the contracted graph, adopt the level only while Q improves —
    // the method's own termination rule): the weighted
    // [[louvainSweep]] over the contracted self-looped community
    // graph ([[louvainContractDf]], the memo the contraction row
    // declares), seeded from the SINGLETON partition, with the
    // descOnly symmetry-break — from a singleton seed pairwise gains
    // are exactly symmetric, and the unrestricted synchronous sweep
    // measurably over-merges through move cycles (measured sf0.01:
    // Q 0.762972 → 0.754957) — then the ADOPTION GATE: the swept
    // partition is kept only if it strictly beats the singleton
    // partition on G', decided by the EXACT integer comparison
    // 4W·intra − Σvol² (same denominator ⇒ no double ever orders the
    // decision; the 1-row scalar collects driver-side, the pagerank
    // move), else level 2 ≡ level 1 and the recursion terminates.
    // Adopted labels compose back onto V (node → c1 → c2) and grade
    // through the SAME [[modularityQ]] on the ORIGINAL graph next to
    // the level-1 grade — the level-recursion identity (Q invariant
    // under contraction) makes grading the composed flat partition
    // on G and the level-2 partition on G' the same number, so no
    // weighted modularity variant is needed, and it also makes
    // Q(l2) ≥ Q(l1) a THEOREM here (gate construction), not a
    // measured hope. Scale: every gate/sweep aggregate is
    // |communities|-sized, not |V| — only the final composition join
    // and the grade touch node-scale tables, and both are keyed.
    "q_graph_louvain_l2" -> ((s, d) => {
      import s.implicits._
      val dec38 = "decimal(38,0)"
      val und = ccEdges(s, d).select($"src".as("u"), $"dst".as("v"))
      val gp = louvainContractDf(s, d)
      val seed = gp.select($"c_lo".as("node"))
        .unionByName(gp.select($"c_hi".as("node"))).distinct()
        .select($"node", $"node".as("lab"))
      val l2 = louvainSweep(
        gp.select($"c_lo".as("u"), $"c_hi".as("v"), $"w"), seed,
        descOnly = true).transform(Tables.ck)
      // Exact-integer adoption stats, all on the contracted graph.
      val gdeg = gp.where($"c_lo" =!= $"c_hi")
        .select($"c_lo".as("node"), $"w")
        .unionByName(gp.where($"c_lo" =!= $"c_hi")
          .select($"c_hi".as("node"), $"w"))
        .unionByName(gp.where($"c_lo" === $"c_hi")
          .select($"c_lo".as("node"), (lit(2) * $"w").as("w")))
        .groupBy($"node").agg(sum($"w").as("dg"))
      val s1 = gp.agg(
        sum(when($"c_lo" === $"c_hi", $"w").otherwise(0L)).as("intra1"),
        sum($"w").as("bw"))
      val d1 = gdeg.agg(
        sum($"dg".cast(dec38) * $"dg".cast(dec38)).as("sd21"))
      val d2 = gdeg.join(l2, "node")
        .groupBy($"lab").agg(sum($"dg").as("dc"))
        .agg(sum($"dc".cast(dec38) * $"dc".cast(dec38)).as("sd22"))
      val s2 = gp
        .join(l2.select($"node".as("c_lo"), $"lab".as("la")), "c_lo")
        .join(l2.select($"node".as("c_hi"), $"lab".as("lb")), "c_hi")
        .agg(sum(when($"la" === $"lb", $"w").otherwise(0L)).as("intra2"))
      val adopt = s1.crossJoin(broadcast(d1)).crossJoin(broadcast(s2))
        .crossJoin(broadcast(d2))
        .select(((lit(4).cast(dec38) * $"bw".cast(dec38)
            * $"intra2".cast(dec38) - $"sd22") >
          (lit(4).cast(dec38) * $"bw".cast(dec38)
            * $"intra1".cast(dec38) - $"sd21")).as("adopt"))
        .collect()(0).getBoolean(0)
      val l2labs =
        if (adopt)
          louvainLabels(s, d).select($"node", $"lab".as("c1"))
            .join(l2.select($"node".as("c1"), $"lab"), "c1")
            .select($"node", $"lab")
        else louvainLabels(s, d)
      modularityQ(und, louvainLabels(s, d), "louvain")
        .unionByName(modularityQ(und, l2labs, "louvain_l2"))
        .orderBy($"method")
    }),

    // Degree-distribution summary of the symmetrized trade graph,
    // bucketed by decimal magnitude (digit count of the degree —
    // exact INTEGER bucketing on both engines, where floor(log2(d))
    // computed via doubles flips on exact powers at the float edge).
    // The first profiling query run against any new graph: is it
    // near-uniform (this fixture) or power-law (real web/social
    // graphs, where the hub tail drives every downstream join's skew
    // treatment)? One keyed count + one magnitude-keyed re-agg, both
    // partial-aggregable.
    "q_graph_degreedist" -> ((s, d) => {
      import s.implicits._
      // Per-node degree is exactly [[tradeDeg]]: in the symmetrized
      // edge list each node appears as src once per incident edge, so
      // counting src rows ≡ counting the node's appearances in the
      // old c-nodes ∪ s-nodes union. One |V|-sized re-agg remains.
      tradeDeg(s, d).select($"src".as("node"), $"d".as("dg"))
        .groupBy(length($"dg".cast("string")).as("magnitude"))
        .agg(count(lit(1)).as("n_nodes"),
          min($"dg").as("min_deg"), max($"dg").as("max_deg"))
        .orderBy($"magnitude")
    }),

    // DEGREE ASSORTATIVITY (Newman 2002) — do hubs trade with hubs or
    // with the fringe? Pearson correlation of (deg(src), deg(dst))
    // over the symmetric edge list, the one-number mixing profile
    // that predicts whether hub removal shatters the graph. All five
    // sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are INTEGER sums
    // accumulated in DECIMAL(38,0) — BIGINT would wrap silently on
    // hub-heavy graphs (Σ deg² per edge exceeds 2^63 once |E|·maxdeg²
    // does, e.g. 10⁹-degree hubs; DuckDB's HUGEINT would not), while
    // decimal is exact to 10^38 ≫ any physical corpus (10¹² edges ×
    // 10¹⁸ max deg² = 10³⁰). Still partial-aggregable map-side, so
    // the whole statistic is two broadcast degree joins + ONE global
    // aggregate;
    // the only doubles are the final closed-form combination, written
    // operation-for-operation identically in the oracle (identical
    // exact operands ⇒ identical IEEE result before the 1e-4 floor).
    "q_graph_assortativity" -> ((s, d) => {
      import s.implicits._
      val deg = tradeDeg(s, d)
      val j = tradeEdges(s, d)
        .join(broadcast(deg.select($"src", $"d".as("dx"))), "src")
        .join(broadcast(deg.select($"src".as("dst"), $"d".as("dy"))),
          "dst")
      j.agg(count(lit(1)).as("n"),
          sum($"dx".cast("decimal(38,0)")).as("sx"),
          sum($"dy".cast("decimal(38,0)")).as("sy"),
          sum($"dx".cast("decimal(19,0)")
            * $"dy".cast("decimal(19,0)")).as("sxy"),
          sum($"dx".cast("decimal(19,0)")
            * $"dx".cast("decimal(19,0)")).as("sxx"),
          sum($"dy".cast("decimal(19,0)")
            * $"dy".cast("decimal(19,0)")).as("syy"))
        .select($"n".as("n_edges"),
          (floor(
            (($"n".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
              / sqrt(($"n".cast("double") * $"sxx".cast("double")
                  - $"sx".cast("double") * $"sx".cast("double"))
                * ($"n".cast("double") * $"syy".cast("double")
                  - $"sy".cast("double") * $"sy".cast("double"))))
            * 1e4 + 0.5) / 1e4).as("assortativity"))
    }),

    // 2-CORE of the sparse trade graph by ITERATIVE PEELING — the
    // standard "strip the tree fringe" kernel (k-core, Seidman 1983):
    // drop degree-<2 nodes until none remain; what survives is the
    // cyclic backbone. On a near-dup graph this is the move that
    // separates incidental pairs from genuinely entangled clusters
    // before any expensive per-cluster work. See [[kcoreEdges]] for
    // the fixed-round single-action design (no per-round driver
    // materialization — the one iterative query here with ZERO
    // convergence actions) and the rounds-sufficiency argument; 12
    // rounds covers every fixture SF (max measured peel depth 11)
    // with headroom, and OpsSpec asserts 12 ≡ 13 on the fixture so a
    // regenerated deeper graph fails the spec, not the differential.
    // Output: each 2-core member with its in-core degree.
    "q_graph_kcore" -> ((s, d) => {
      import s.implicits._
      val e0 = ccEdges(s, d)
      val sym = e0.unionByName(
        e0.select($"dst".as("src"), $"src".as("dst")))
      kcoreEdges(sym, k = 2, rounds = 12)
        .groupBy($"src").agg(count(lit(1)).as("dg"))
        .select($"src".as("node"), $"dg")
        .orderBy($"node")
    }),

    // HITS hubs & authorities (Kleinberg 1999) — the DIRECTED-graph
    // scoring PageRank can't express: on the c→s trade graph, a
    // customer is a good HUB when it buys from good suppliers, a
    // supplier a good AUTHORITY when good hubs buy from it — the
    // mutual recursion is the point. 3 alternating update rounds,
    // L1-normalized each half-step (deterministic — no sqrt); the
    // DIRECTED edge set is the 'c%'-source half of the family-shared
    // symmetric memo, so no new edge build. Each half-round is one
    // broadcast of the |side|-sized score table + one keyed aggregate
    // — the pagerank loop's shape; at billions of edges the same
    // algebra runs co-partitioned (the q_graph_pagerank_part swap).
    // Output: top-10 of each side by rounded score.
    "q_graph_hits" -> ((s, d) => {
      import s.implicits._
      val dir = tradeEdges(s, d).where($"src".startsWith("c"))
      var hub = dir.select($"src".as("node")).distinct()
        .select($"node", lit(1.0).as("h"))
      var auth: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to 3) {
        // ck each raw table: the sum branch and the normalize branch
        // both reference it — unchecked, references double per
        // half-round (2^6 edge-join replays by round 3).
        val araw = Tables.ck(dir.join(broadcast(hub), $"src" === $"node")
          .groupBy($"dst").agg(sum($"h").as("a")))
        val asum = araw.agg(sum($"a").as("s"))
        auth = araw.crossJoin(broadcast(asum))
          .select($"dst".as("node"), ($"a" / $"s").as("a"))
        val hraw = Tables.ck(dir.join(broadcast(auth), $"dst" === $"node")
          .groupBy($"src").agg(sum($"a").as("h")))
        val hsum = hraw.agg(sum($"h").as("s"))
        hub = hraw.crossJoin(broadcast(hsum))
          .select($"src".as("node"), ($"h" / $"s").as("h"))
      }
      val top = (df: org.apache.spark.sql.DataFrame, side: String,
                 c: String) =>
        df.select(lit(side).as("side"), $"node",
            (floor(col(c) * 1e6 + 0.5) / 1e6).as("score"))
          .orderBy($"score".desc, $"node").limit(10)
      top(auth, "auth", "a").unionByName(top(hub, "hub", "h"))
        .orderBy($"side", $"score".desc, $"node")
    }),

    // STRONGLY connected components of a DIRECTED graph — the surface
    // the undirected cc/cc_star rows can't cover. Graph: the Pollard
    // rho-shaped FUNCTIONAL graph succ(k) = (k² + 1) mod N over
    // supplier keys (out-degree exactly 1 ⇒ every component is a
    // "rho": a tail flowing into one cycle; SCCs = the cycles +
    // per-tail-node singletons). Algorithm: POINTER DOUBLING (the
    // PRAM list-ranking classic) — L = ⌈log₂N⌉ rounds of keyed
    // self-joins computing succ^(2^L); its IMAGE is exactly the cycle
    // set (for 2^L ≥ N every tail has drained), then L more min-label
    // doubling rounds confined to cycle nodes canonicalize each cycle
    // to its min member. O(log N) rounds, every round a keyed |V|-row
    // self-join — the same round-bound class as large/small-star; at
    // 10⁹ nodes in-degree (join fan-in) is bounded by the map's root
    // count, no hot key. Each round localCheckpoints (the self-join
    // references its input twice — unchecked, lineage doubles per
    // round: the bpetrain lesson). The one driver-side value is the
    // 1-row (max, count) aggregate that sizes N and the round count —
    // metadata-scale, the q_scan_binaryfile convention.
    "q_graph_scc" -> ((s, d) => {
      import s.implicits._
      val keys = t(s, d, "supplier").select($"s_suppkey".cast("long").as("k"))
      val sup = Tables.ck(keys)
      val mc = sup.agg(max($"k"), count(lit(1))).collect()(0)
      val n = mc.getLong(0) + 1
      val rounds = math.max(1,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
      val succ = Tables.ck(sup.select($"k", (($"k" * $"k" + 1) % n).as("v")))
      // Checkpoint every SECOND doubling round (the ccStar batch=2
      // precedent): one unchecked self-join squares the reference
      // count to 4 reads of the last checkpoint — fine; a third would
      // make it 8. Halves the per-round job overhead that dominates
      // at fixture scale (each round is metadata-sized data).
      def ck2(df: org.apache.spark.sql.DataFrame, i: Int, last: Int) =
        if (i % 2 == 0 || i == last) Tables.ck(df) else df
      // Phase 1: jump-double to succ^(2^rounds); image = cycle nodes.
      var jump = succ
      for (i <- 1 to rounds) {
        jump = ck2(jump.as("a").join(jump.as("b"), col("a.v") === col("b.k"))
          .select(col("a.k").as("k"), col("b.v").as("v")), i, rounds)
      }
      val cyc = Tables.ck(jump.select($"v".as("k")).distinct())
      // Phase 2: min-label doubling confined to the cycle set (cycle
      // successors stay in the set, so the restriction is closed).
      // Round count re-sized to the CYCLE population, not N — the
      // rho shape puts only ~√N nodes on cycles (Harris 1960), so
      // log₂|cyc| rounds suffice and the count is one metadata-scale
      // job over the checkpointed cycle set.
      val nCyc = math.max(2L, cyc.count())
      val rounds2 = math.max(1,
        64 - java.lang.Long.numberOfLeadingZeros(nCyc - 1))
      var lab = Tables.ck(succ.join(cyc, "k")
        .select($"k", $"v".as("jmp"), $"k".as("lab")))
      for (i <- 1 to rounds2) {
        lab = ck2(lab.as("a").join(lab.as("b"), col("a.jmp") === col("b.k"))
          .select(col("a.k").as("k"), col("b.jmp").as("jmp"),
            least(col("a.lab"), col("b.lab")).as("lab")), i, rounds2)
      }
      // Phase 3: tails are singleton SCCs labeled by themselves.
      val scc = sup.join(lab.select($"k", $"lab"), Seq("k"), "left")
        .select($"k", coalesce($"lab", $"k").as("scc_id"))
      scc.groupBy($"scc_id").agg(count(lit(1)).as("n_nodes"))
        .groupBy($"n_nodes".as("scc_size"))
        .agg(count(lit(1)).as("n_sccs"), min($"scc_id").as("min_scc_id"))
        .orderBy($"scc_size")
    }),
  )

  /** The identical 5 iterations unrolled as generated CTEs — one
    * source of truth for the per-iteration formula on the oracle
    * side, so Spark's loop and DuckDB's unroll can't drift. */
  val oracle: Map[String, String] = {
    val iterCte = (k: Int) => s""",
      r${k + 1} AS (
        SELECT e.dst AS node, 0.15 / n + 0.85 * SUM(r$k.r / deg.d) AS r
        FROM edges e JOIN r$k ON e.src = r$k.node
        JOIN deg ON deg.src = e.src CROSS JOIN nn
        GROUP BY e.dst, n)"""
    // One oracle string for BOTH declared strategies: broadcast and
    // co-partitioned run the identical update algebra, so the same
    // unrolled CTEs must match both — that shared differential is the
    // proof the strategy swap is semantics-free.
    val pagerankSql = s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      nn AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src AS node, 1.0 / n AS r FROM deg, nn)""" +
      (0 until Iters).map(iterCte).mkString + s"""
      SELECT node, FLOOR(r * 1e6 + 0.5) / 1e6 AS rank
      FROM r$Iters
      ORDER BY rank DESC, node
      LIMIT 20"""
    // Exact-closure census CTEs, shared by BOTH CC oracles so the edge
    // fixture and the component derivation can never drift between the
    // census and the size-distribution rows.
    val ccCompCte = """
      WITH RECURSIVE e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 450000 AND l_quantity >= 47),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      reach(id, m) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.m FROM reach r JOIN edges e ON e.src = r.id),
      comp AS (SELECT id, MIN(m) AS lab FROM reach GROUP BY id),
      census AS (SELECT lab, count(*) AS n_nodes FROM comp GROUP BY lab)"""
    val ccSql = ccCompCte + """
      SELECT lab, n_nodes FROM census
      ORDER BY n_nodes DESC, lab"""
    val ccStarSql = ccCompCte + """
      SELECT n_nodes, count(*) AS n_components FROM census
      GROUP BY n_nodes
      ORDER BY n_nodes"""
    // The identical 12 peel rounds unrolled — generated from one
    // per-round template exactly like the PageRank iterations, so the
    // Spark loop and the oracle can't drift on the round formula.
    // MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs per
    // reference, and each round references the previous round's edge
    // set three times — un-materialized, the 12-round chain expands
    // 3^12 scans and dies on file handles before it's slow.
    val kcoreCte = (i: Int) => s""",
      k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
              GROUP BY src HAVING count(*) >= 2),
      e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
              JOIN k$i a ON e.src = a.node
              JOIN k$i b ON e.dst = b.node)"""
    val kcoreSql = """
      WITH e00 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 450000 AND l_quantity >= 47),
      e0 AS (SELECT src, dst FROM e00 UNION ALL SELECT dst, src FROM e00)""" +
      (1 to 12).map(kcoreCte).mkString + """
      SELECT src AS node, count(*) AS dg FROM e12
      GROUP BY src
      ORDER BY node"""
    // The identical Bellman–Ford rounds unrolled from one per-round
    // template (the kcore/pagerank move), so the Spark loop and the
    // oracle can never drift on the relaxation formula. MATERIALIZED:
    // each round reads the previous distance table twice (relax +
    // carry-over) — un-materialized the chain expands 2^rounds scans.
    val ssspCte = (i: Int) => s""",
      d$i AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
          SELECT e.dst AS node, p.dist + e.w AS dist
          FROM edges e JOIN d${i - 1} p ON e.src = p.node
          UNION ALL SELECT node, dist FROM d${i - 1})
        GROUP BY node)"""
    val ssspSql = s"""
      WITH e0 AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      edges AS (SELECT src, dst, w FROM e0
                UNION ALL SELECT dst, src, w FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM
               (SELECT node FROM deg ORDER BY dg DESC, node LIMIT 1))""" +
      (1 to SsspRounds).map(ssspCte).mkString + s"""
      SELECT node, dist FROM d$SsspRounds
      ORDER BY node"""
    // The identical 8 synchronous LPA rounds unrolled from one
    // per-round template (the kcore/pagerank move): neighbor votes +
    // one self-vote, argmax by (count DESC, label ASC) via the same
    // row_number formula the Spark loop uses. MATERIALIZED for the
    // same reason as kcore — each round reads the previous label
    // table twice.
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
    val lpaSql = """
      WITH e00 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 450000 AND l_quantity >= 47),
      edges AS (SELECT src, dst FROM e00 UNION ALL SELECT dst, src FROM e00),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lbl FROM edges)""" +
      (1 to 8).map(lpaCte).mkString + """
      SELECT lbl AS community, count(*) AS n_nodes FROM l8
      GROUP BY lbl
      ORDER BY n_nodes DESC, community"""
    // The identical 5 peel rounds unrolled from one template (the
    // kcore move): ordered wedge triangles, 3-way support census,
    // HAVING cut. MATERIALIZED — each round reads its edge set six
    // times (3 join sides + 3 census branches).
    val ktrussCte = (r: Int) => s""",
      t$r AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e${r - 1} e1
        JOIN e${r - 1} e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e${r - 1} e3 ON e3.u = e1.v AND e3.v = e2.v),
      e$r AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT a AS u, b AS v FROM t$r
          UNION ALL SELECT a, c FROM t$r
          UNION ALL SELECT b, c FROM t$r)
        GROUP BY u, v
        HAVING count(*) >= 2)"""
    val ktrussSql = """
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 45 AND b.l_quantity >= 45)""" +
      (1 to 5).map(ktrussCte).mkString + """
      SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        SELECT u AS node FROM e5 UNION ALL SELECT v FROM e5)
      GROUP BY node
      ORDER BY node"""
    // PPR unrolled from one per-iteration template. The oracle keeps
    // the full-outer-teleport FORMULATION (natural in set SQL); the
    // engine unions the restart row into the pre-aggregation stream
    // instead (Spark cannot broadcast a full outer join — see the
    // query comment). The two shapes are value-IDENTICAL, not merely
    // close: per node both compute 0.85·Σ(r/d) + tp, the union's
    // extra sw=0.0 term is IEEE-exact over the non-negative partials,
    // so the differential is unchanged by the plan fix.
    val pprCte = (k: Int) => s""",
      p${k + 1} AS MATERIALIZED (
        SELECT COALESCE(a.node, s.node) AS node,
               COALESCE(0.85 * a.sw, 0) + COALESCE(s.tp, 0) AS r
        FROM (SELECT e.dst AS node, SUM(p$k.r / deg.d) AS sw
              FROM edges e JOIN p$k ON e.src = p$k.node
              JOIN deg ON deg.src = e.src
              GROUP BY e.dst) a
        FULL OUTER JOIN (SELECT node, 0.15 AS tp FROM seed) s
          ON a.node = s.node)"""
    val pprSql = s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      seed AS (SELECT src AS node FROM deg ORDER BY d DESC, src LIMIT 1),
      p0 AS (SELECT node, 1.0 AS r FROM seed)""" +
      (0 until Iters).map(pprCte).mkString + s"""
      SELECT node, FLOOR(r * 1e6 + 0.5) / 1e6 AS ppr
      FROM p$Iters
      ORDER BY ppr DESC, node
      LIMIT 20"""
    // Both labelings re-derived independently (exact closure for cc,
    // the same 8 unrolled LPA rounds), then the identical
    // exact-integer modularity algebra: HUGEINT Σd_c² mirrors Spark's
    // DECIMAL(38,0) (both exact), and the one double division is
    // written operation-for-operation identically.
    val modTail = (lbl: String, tag: String) => s""",
      dsum_$tag AS (
        SELECT SUM(CAST(dc AS HUGEINT) * CAST(dc AS HUGEINT)) AS sd2,
               count(*) AS nc
        FROM (SELECT l.lab, SUM(d.dg) AS dc
              FROM deg d JOIN $lbl l ON d.node = l.node GROUP BY l.lab)),
      intra_$tag AS (
        SELECT count(*) AS m,
               SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS intra
        FROM e00 e JOIN $lbl a ON e.src = a.node
                   JOIN $lbl b ON e.dst = b.node)"""
    val modRow = (tag: String) => s"""
      SELECT '$tag' AS method, nc AS n_communities, m AS n_edges,
             FLOOR((4.0 * m * intra - CAST(sd2 AS DOUBLE))
               / (4.0 * m * m) * 1e6 + 0.5) / 1e6 AS modularity
      FROM intra_$tag, dsum_$tag"""
    val modularitySql = """
      WITH RECURSIVE e00 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 450000 AND l_quantity >= 47),
      edges AS (SELECT src, dst FROM e00 UNION ALL SELECT dst, src FROM e00),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      reach(id, mm) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.mm FROM reach r JOIN edges e ON e.src = r.id),
      comp AS (SELECT id AS node, MIN(mm) AS lab FROM reach GROUP BY id),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lbl FROM edges)""" +
      (1 to 8).map(lpaCte).mkString + """,
      lcom AS (SELECT node, lbl AS lab FROM l8)""" +
      modTail("comp", "cc") + modTail("lcom", "lpa") + """
      SELECT * FROM (""" + modRow("cc") + """
      UNION ALL""" + modRow("lpa") + """)
      ORDER BY method"""
    // LPA re-derived (the shared 8-round unroll), then the one
    // local-move sweep with the identical exact-integer gain
    // comparison — HUGEINT products mirroring Spark's DECIMAL(38,0),
    // same (gain DESC, c) tie-break — and both labelings graded
    // through the shared modularity algebra.
    val louvainChain = """
      WITH e00 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 450000 AND l_quantity >= 47),
      edges AS (SELECT src, dst FROM e00 UNION ALL SELECT dst, src FROM e00),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lbl FROM edges)""" +
      (1 to 8).map(lpaCte).mkString + """,
      lcom AS MATERIALIZED (SELECT node, lbl AS lab FROM l8),
      vol AS (SELECT l.lab AS c, SUM(d.dg) AS vol
              FROM deg d JOIN lcom l ON d.node = l.node GROUP BY 1),
      kic AS MATERIALIZED (
        SELECT e.src AS node, l.lab AS c, count(*) AS k
        FROM edges e JOIN lcom l ON e.dst = l.node GROUP BY 1, 2),
      mm AS (SELECT count(*) AS m FROM e00),
      gains AS (
        SELECT k.node, k.c, cur.c0,
               CAST(2 AS HUGEINT) * mm.m * (k.k - COALESCE(ka.k, 0))
                 - CAST(d.dg AS HUGEINT) * (vb.vol - va.vol + d.dg)
                 AS gain
        FROM kic k
        JOIN (SELECT node, lab AS c0 FROM lcom) cur ON cur.node = k.node
        LEFT JOIN kic ka ON ka.node = k.node AND ka.c = cur.c0
        JOIN deg d ON d.node = k.node
        JOIN vol va ON va.c = cur.c0
        JOIN vol vb ON vb.c = k.c
        CROSS JOIN mm),
      lv AS MATERIALIZED (
        SELECT node, CASE WHEN gain > 0 THEN c ELSE c0 END AS lab FROM (
          SELECT node, c, c0, gain,
                 row_number() OVER (PARTITION BY node
                   ORDER BY gain DESC, c) AS rn
          FROM gains) WHERE rn = 1)"""
    val louvainSql = louvainChain +
      modTail("lcom", "lpa") + modTail("lv", "louvain") + """
      SELECT * FROM (""" + modRow("lpa") + """
      UNION ALL""" + modRow("louvain") + """)
      ORDER BY method"""
    // The identical chain through the sweep, then the contraction:
    // both endpoints re-labeled, canonical (c_lo ≤ c_hi) pair census
    // — self-loop rows carry each community's intra-edge mass.
    val louvainContractSql = louvainChain + """
      SELECT c_lo, c_hi, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT LEAST(a.lab, b.lab) AS c_lo, GREATEST(a.lab, b.lab) AS c_hi
        FROM e00 e JOIN lv a ON e.src = a.node JOIN lv b ON e.dst = b.node)
      GROUP BY c_lo, c_hi
      ORDER BY c_lo, c_hi"""
    // The identical chain through the sweep and contraction, then the
    // WEIGHTED descOnly sweep re-derived on the contracted graph
    // (same HUGEINT gain identity with Σw in place of counts,
    // self-loops feeding degrees at 2w and excluded from k,
    // candidates restricted to c < node), the exact-integer adoption
    // gate, adopted labels composed back onto V, both partitions
    // graded on the ORIGINAL graph.
    val louvainL2Sql = louvainChain + """,
      gp AS MATERIALIZED (
        SELECT LEAST(a.lab, b.lab) AS c_lo, GREATEST(a.lab, b.lab) AS c_hi,
               count(*) AS w
        FROM e00 e JOIN lv a ON e.src = a.node JOIN lv b ON e.dst = b.node
        GROUP BY 1, 2),
      gsym AS (
        SELECT c_lo AS u, c_hi AS v, w FROM gp WHERE c_lo <> c_hi
        UNION ALL
        SELECT c_hi, c_lo, w FROM gp WHERE c_lo <> c_hi),
      gdeg AS (
        SELECT node, SUM(w) AS dg FROM (
          SELECT u AS node, w FROM gsym
          UNION ALL
          SELECT c_lo, 2 * w FROM gp WHERE c_lo = c_hi)
        GROUP BY node),
      gseed AS (SELECT node, node AS lab FROM gdeg),
      gvol AS (SELECT l.lab AS c, SUM(d.dg) AS vol
               FROM gdeg d JOIN gseed l ON d.node = l.node GROUP BY 1),
      gkic AS MATERIALIZED (
        SELECT e.u AS node, l.lab AS c, SUM(e.w) AS k
        FROM gsym e JOIN gseed l ON e.v = l.node GROUP BY 1, 2),
      gm AS (SELECT SUM(w) AS m FROM gp),
      ggains AS (
        SELECT k.node, k.c, cur.c0,
               CAST(2 AS HUGEINT) * gm.m * (k.k - COALESCE(ka.k, 0))
                 - CAST(d.dg AS HUGEINT) * (vb.vol - va.vol + d.dg)
                 AS gain
        FROM gkic k
        JOIN (SELECT node, lab AS c0 FROM gseed) cur ON cur.node = k.node
        LEFT JOIN gkic ka ON ka.node = k.node AND ka.c = cur.c0
        JOIN gdeg d ON d.node = k.node
        JOIN gvol va ON va.c = cur.c0
        JOIN gvol vb ON vb.c = k.c
        CROSS JOIN gm
        WHERE k.c < k.node),
      gbest AS (
        SELECT node, CASE WHEN gain > 0 THEN c ELSE c0 END AS lab FROM (
          SELECT node, c, c0, gain,
                 row_number() OVER (PARTITION BY node
                   ORDER BY gain DESC, c) AS rn
          FROM ggains) WHERE rn = 1),
      gl2 AS MATERIALIZED (
        SELECT node, lab FROM gbest
        UNION ALL
        SELECT s.node, s.lab FROM gseed s
        WHERE NOT EXISTS (SELECT 1 FROM gbest b WHERE b.node = s.node)),
      gs1 AS (SELECT SUM(CASE WHEN c_lo = c_hi THEN w ELSE 0 END) AS intra1
              FROM gp),
      gd1 AS (SELECT SUM(CAST(dg AS HUGEINT) * CAST(dg AS HUGEINT)) AS sd21
              FROM gdeg),
      gd2 AS (SELECT SUM(CAST(dc AS HUGEINT) * CAST(dc AS HUGEINT)) AS sd22
              FROM (SELECT l.lab, SUM(d.dg) AS dc
                    FROM gdeg d JOIN gl2 l ON d.node = l.node
                    GROUP BY l.lab)),
      gs2 AS (SELECT SUM(CASE WHEN a.lab = b.lab THEN w ELSE 0 END) AS intra2
              FROM gp JOIN gl2 a ON gp.c_lo = a.node
                      JOIN gl2 b ON gp.c_hi = b.node),
      gate AS (SELECT (CAST(4 AS HUGEINT) * gm.m * gs2.intra2 - gd2.sd22)
                    > (CAST(4 AS HUGEINT) * gm.m * gs1.intra1 - gd1.sd21)
                 AS adopt
               FROM gm, gs1, gd1, gs2, gd2),
      composed AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN gate.adopt THEN g.lab ELSE n.lab END AS lab
        FROM lv n JOIN gl2 g ON n.lab = g.node CROSS JOIN gate)""" +
      modTail("lv", "louvain") + modTail("composed", "louvain_l2") + """
      SELECT * FROM (""" + modRow("louvain") + """
      UNION ALL""" + modRow("louvain_l2") + """)
      ORDER BY method"""
    Map(
      "q_graph_pagerank" -> pagerankSql,
      "q_graph_pagerank_part" -> pagerankSql,
      "q_graph_louvain" -> louvainSql,
      "q_graph_louvain_contract" -> louvainContractSql,
      "q_graph_louvain_l2" -> louvainL2Sql,
      "q_graph_lpa" -> lpaSql,
      "q_graph_sssp" -> ssspSql,
      "q_graph_modularity" -> modularitySql,
      "q_graph_ppr" -> pprSql,
      "q_graph_ktruss" -> ktrussSql,

      "q_graph_triangles" -> """
      WITH e AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 45 AND b.l_quantity >= 45),
      tri AS (
        SELECT e1.p1 AS ta, e1.p2 AS tb, e2.p2 AS tc
        FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
      member AS (SELECT ta AS partkey FROM tri
                 UNION ALL SELECT tb FROM tri
                 UNION ALL SELECT tc FROM tri)
      SELECT partkey, CAST(count(*) AS BIGINT) AS n_tri
      FROM member GROUP BY partkey
      ORDER BY n_tri DESC, partkey
      LIMIT 10""",

      "q_graph_jaccard" -> """
      WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_totalprice > 300000),
      deg AS (SELECT sup, count(*) AS dg FROM e GROUP BY sup),
      p AS (SELECT a.sup AS s1, b.sup AS s2, count(*) AS common
            FROM e a JOIN e b ON a.c = b.c AND a.sup < b.sup
            GROUP BY a.sup, b.sup)
      SELECT s1, s2, CAST(common AS BIGINT) AS common,
             FLOOR(common * 1.0 / (d1.dg + d2.dg - common) * 1e4 + 0.5)
               / 1e4 AS jaccard
      FROM p JOIN deg d1 ON d1.sup = p.s1 JOIN deg d2 ON d2.sup = p.s2
      ORDER BY jaccard DESC, s1, s2
      LIMIT 10""",

      "q_graph_bfs" -> """
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      h0 AS (SELECT node FROM deg ORDER BY dg DESC, node LIMIT 1),
      h1 AS (SELECT DISTINCT e.dst AS node FROM edges e
             JOIN h0 ON e.src = h0.node),
      v1 AS (SELECT node FROM h0 UNION SELECT node FROM h1),
      h2 AS (SELECT DISTINCT e.dst AS node FROM edges e
             JOIN h1 ON e.src = h1.node
             WHERE e.dst NOT IN (SELECT node FROM v1)),
      v2 AS (SELECT node FROM v1 UNION SELECT node FROM h2),
      h3 AS (SELECT DISTINCT e.dst AS node FROM edges e
             JOIN h2 ON e.src = h2.node
             WHERE e.dst NOT IN (SELECT node FROM v2))
      SELECT 1 AS hop, CAST(count(*) AS BIGINT) AS frontier FROM h1
      UNION ALL SELECT 2, count(*) FROM h2
      UNION ALL SELECT 3, count(*) FROM h3
      ORDER BY hop""",

      // The same hop-CTE BFS, multi-source: per-seed visited sets via
      // NOT EXISTS, harmonic sum re-derived from the per-hop tables.
      "q_graph_closeness" -> """
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      seeds AS (SELECT node FROM deg ORDER BY dg DESC, node LIMIT 4),
      h0 AS (SELECT node AS seed, node FROM seeds),
      h1 AS (SELECT DISTINCT h0.seed, e.dst AS node
             FROM edges e JOIN h0 ON e.src = h0.node
             WHERE e.dst <> h0.seed),
      v1 AS (SELECT seed, node FROM h0 UNION SELECT seed, node FROM h1),
      h2 AS (SELECT DISTINCT h1.seed, e.dst AS node
             FROM edges e JOIN h1 ON e.src = h1.node
             WHERE NOT EXISTS (SELECT 1 FROM v1
                               WHERE v1.seed = h1.seed AND v1.node = e.dst)),
      v2 AS (SELECT seed, node FROM v1 UNION SELECT seed, node FROM h2),
      h3 AS (SELECT DISTINCT h2.seed, e.dst AS node
             FROM edges e JOIN h2 ON e.src = h2.node
             WHERE NOT EXISTS (SELECT 1 FROM v2
                               WHERE v2.seed = h2.seed AND v2.node = e.dst)),
      allr AS (SELECT seed, node, 1 AS dist FROM h1
               UNION ALL SELECT seed, node, 2 FROM h2
               UNION ALL SELECT seed, node, 3 FROM h3)
      SELECT seed, count(*) AS n_reached,
             FLOOR(SUM(1.0 / dist) * 1e4 + 0.5) / 1e4 AS harmonic
      FROM allr GROUP BY seed ORDER BY seed""",

      // Same wedges, same ≥2 cut, same integer DIV — the oracle's
      // pair join is on the UNCAPPED edge list (the cap is identity
      // at fixture scale; the cap mechanism itself is spec-pinned at
      // cap=1/2 where it provably bites, on q_graph_jaccard's shared
      // helper).
      "q_graph_butterfly" -> """
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      pr AS (
        SELECT a.sup AS s1, b.sup AS s2, count(*) AS m
        FROM e0 a JOIN e0 b ON a.c = b.c AND a.sup < b.sup
        GROUP BY a.sup, b.sup
        HAVING count(*) >= 2),
      bf AS (SELECT s1, s2, (m * (m - 1)) // 2 AS bf FROM pr),
      px AS (SELECT s1 AS sup, bf FROM bf
             UNION ALL SELECT s2 AS sup, bf FROM bf)
      SELECT sup, count(*) AS n_pairs,
             CAST(SUM(bf) AS BIGINT) AS n_butterflies
      FROM px GROUP BY sup
      ORDER BY n_butterflies DESC, sup
      LIMIT 10""",

      // Brandes unrolled: 4 σ-carrying BFS levels, then the 3 δ
      // sweeps with the identical per-edge micro-unit floor — every
      // contribution is an exact-integer-operand double op, so the
      // BIGINT sums agree order-free.
      "q_graph_betweenness" -> """
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      piv AS (SELECT node AS seed FROM deg
              ORDER BY CAST('0x' || substring(md5(node), 1, 15) AS BIGINT),
                       node
              LIMIT 4),
      l0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sig FROM piv),
      f1 AS (SELECT l0.seed, e.dst AS node,
                    CAST(SUM(l0.sig) AS BIGINT) AS sig
             FROM edges e JOIN l0 ON e.src = l0.node
             WHERE e.dst <> l0.seed
             GROUP BY l0.seed, e.dst),
      v1 AS (SELECT seed, node FROM l0 UNION SELECT seed, node FROM f1),
      f2 AS (SELECT f1.seed, e.dst AS node,
                    CAST(SUM(f1.sig) AS BIGINT) AS sig
             FROM edges e JOIN f1 ON e.src = f1.node
             WHERE NOT EXISTS (SELECT 1 FROM v1
                               WHERE v1.seed = f1.seed AND v1.node = e.dst)
             GROUP BY f1.seed, e.dst),
      v2 AS (SELECT seed, node FROM v1 UNION SELECT seed, node FROM f2),
      f3 AS (SELECT f2.seed, e.dst AS node,
                    CAST(SUM(f2.sig) AS BIGINT) AS sig
             FROM edges e JOIN f2 ON e.src = f2.node
             WHERE NOT EXISTS (SELECT 1 FROM v2
                               WHERE v2.seed = f2.seed AND v2.node = e.dst)
             GROUP BY f2.seed, e.dst),
      v3 AS (SELECT seed, node FROM v2 UNION SELECT seed, node FROM f3),
      f4 AS (SELECT f3.seed, e.dst AS node,
                    CAST(SUM(f3.sig) AS BIGINT) AS sig
             FROM edges e JOIN f3 ON e.src = f3.node
             WHERE NOT EXISTS (SELECT 1 FROM v3
                               WHERE v3.seed = f3.seed AND v3.node = e.dst)
             GROUP BY f3.seed, e.dst),
      d3 AS (SELECT p.seed, p.node,
                    CAST(SUM(CAST(FLOOR(CAST(p.sig AS DOUBLE)
                      * (1000000 + 0) / c.sig + 0.5) AS BIGINT))
                      AS BIGINT) AS dm
             FROM f3 p JOIN edges e ON e.src = p.node
                       JOIN f4 c ON c.seed = p.seed AND c.node = e.dst
             GROUP BY p.seed, p.node),
      d2 AS (SELECT p.seed, p.node,
                    CAST(SUM(CAST(FLOOR(CAST(p.sig AS DOUBLE)
                      * (1000000 + COALESCE(dd.dm, 0)) / c.sig + 0.5)
                      AS BIGINT)) AS BIGINT) AS dm
             FROM f2 p JOIN edges e ON e.src = p.node
                       JOIN f3 c ON c.seed = p.seed AND c.node = e.dst
                       LEFT JOIN d3 dd
                         ON dd.seed = c.seed AND dd.node = c.node
             GROUP BY p.seed, p.node),
      d1 AS (SELECT p.seed, p.node,
                    CAST(SUM(CAST(FLOOR(CAST(p.sig AS DOUBLE)
                      * (1000000 + COALESCE(dd.dm, 0)) / c.sig + 0.5)
                      AS BIGINT)) AS BIGINT) AS dm
             FROM f1 p JOIN edges e ON e.src = p.node
                       JOIN f2 c ON c.seed = p.seed AND c.node = e.dst
                       LEFT JOIN d2 dd
                         ON dd.seed = c.seed AND dd.node = c.node
             GROUP BY p.seed, p.node),
      alld AS (SELECT seed, node, dm FROM d1
               UNION ALL SELECT seed, node, dm FROM d2
               UNION ALL SELECT seed, node, dm FROM d3),
      tot AS (SELECT node, CAST(SUM(dm) AS BIGINT) AS dm
              FROM alld GROUP BY node)
      SELECT node,
             FLOOR((SELECT count(*) FROM deg) / 8.0 * dm / 1e6 * 1e4
               + 0.5) / 1e4 AS betweenness
      FROM tot
      ORDER BY betweenness DESC, node
      LIMIT 20""",

      // The same three hash-driven steps unrolled: identical h60
      // formula, identical dst-sorted neighbor indexing.
      "q_graph_randomwalk" -> """
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      nbr AS (SELECT src AS node, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dst)
                       AS idx
              FROM edges),
      w0 AS (SELECT node AS walker, node FROM deg),
      s1 AS (SELECT w.walker, n.dst AS node
             FROM w0 w JOIN deg d ON d.node = w.node
             JOIN nbr n ON n.node = w.node
              AND n.idx = CAST('0x' || substring(md5(w.walker || ':1'),
                    1, 15) AS BIGINT) % d.dg + 1),
      s2 AS (SELECT w.walker, n.dst AS node
             FROM s1 w JOIN deg d ON d.node = w.node
             JOIN nbr n ON n.node = w.node
              AND n.idx = CAST('0x' || substring(md5(w.walker || ':2'),
                    1, 15) AS BIGINT) % d.dg + 1),
      s3 AS (SELECT w.walker, n.dst AS node
             FROM s2 w JOIN deg d ON d.node = w.node
             JOIN nbr n ON n.node = w.node
              AND n.idx = CAST('0x' || substring(md5(w.walker || ':3'),
                    1, 15) AS BIGINT) % d.dg + 1)
      SELECT node AS terminal, count(*) AS n_walks
      FROM s3 GROUP BY node
      ORDER BY n_walks DESC, terminal
      LIMIT 20""",

      // Exact-integer sufficient statistics, identical final algebra.
      "q_graph_assortativity" -> """
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
      j AS (SELECT CAST(d1.dg AS BIGINT) AS dx, CAST(d2.dg AS BIGINT) AS dy
            FROM edges e JOIN deg d1 ON d1.node = e.src
                         JOIN deg d2 ON d2.node = e.dst),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(dx) AS BIGINT) AS sx,
                    CAST(SUM(dy) AS BIGINT) AS sy,
                    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                    CAST(SUM(dy * dy) AS BIGINT) AS syy
             FROM j)
      SELECT n AS n_edges,
             FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1e4 + 0.5) / 1e4 AS assortativity
      FROM st""",

      // Exact transitive closure (the q_dedup_cluster oracle shape) —
      // the converged labeling must equal it exactly. The census
      // oracle is byte-identical to the one the plain-propagation
      // engine passed in rounds 0–8, so the r9 engine swap to ccStar
      // is differentially proven; the size-distribution oracle
      // re-derives from the same closure CTEs, checking the shared
      // memoized labeling independently per row.
      "q_graph_cc" -> ccSql,
      "q_graph_cc_star" -> ccStarSql,
      "q_graph_kcore" -> kcoreSql,

      "q_graph_degreedist" -> """
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      und AS (SELECT 'c' || CAST(c AS VARCHAR) AS node FROM e0
              UNION ALL SELECT 's' || CAST(sup AS VARCHAR) FROM e0),
      deg AS (SELECT node, count(*) AS dg FROM und GROUP BY node)
      SELECT length(CAST(dg AS VARCHAR)) AS magnitude,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(min(dg) AS BIGINT) AS min_deg,
             CAST(max(dg) AS BIGINT) AS max_deg
      FROM deg GROUP BY magnitude
      ORDER BY magnitude""",

      // The identical 3 alternating HITS rounds unrolled (the
      // pagerankSql move): raw sum → L1 normalize each half-step,
      // same association order.
      "q_graph_hits" -> {
        val step = (k: Int) => s""",
      a${k}raw AS (SELECT e.dst, SUM(h.h) AS a FROM dir e
                   JOIN h${k - 1} h ON e.src = h.node GROUP BY e.dst),
      a$k AS (SELECT dst AS node, a / (SELECT SUM(a) FROM a${k}raw) AS a
              FROM a${k}raw),
      h${k}raw AS (SELECT e.src, SUM(a.a) AS h FROM dir e
                   JOIN a$k a ON e.dst = a.node GROUP BY e.src),
      h$k AS (SELECT src AS node, h / (SELECT SUM(h) FROM h${k}raw) AS h
              FROM h${k}raw)"""
        s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      dir AS (SELECT src, dst FROM e0),
      h0 AS (SELECT DISTINCT src AS node, 1.0 AS h FROM dir)""" +
          (1 to 3).map(step).mkString + s"""
      SELECT * FROM (
        SELECT 'auth' AS side, node,
               FLOOR(a * 1e6 + 0.5) / 1e6 AS score
        FROM a3 ORDER BY score DESC, node LIMIT 10)
      UNION ALL
      SELECT * FROM (
        SELECT 'hub' AS side, node,
               FLOOR(h * 1e6 + 0.5) / 1e6 AS score
        FROM h3 ORDER BY score DESC, node LIMIT 10)
      ORDER BY side, score DESC, node"""
      },

      // Exact mutual-reachability SCC over the same functional graph:
      // bounded-depth forward orbit (out-degree 1 ⇒ ≤ N rows per key),
      // (k,v) mutual pairs = same cycle, tails default to themselves.
      "q_graph_scc" -> """
      WITH RECURSIVE
      succ AS (
        SELECT s_suppkey AS k,
               (s_suppkey * s_suppkey + 1) %
                 (SELECT MAX(s_suppkey) + 1 FROM supplier) AS v
        FROM supplier),
      reach(k, v, d) AS (
        SELECT k, v, 1 FROM succ
        UNION ALL
        SELECT r.k, s.v, r.d + 1 FROM reach r JOIN succ s ON r.v = s.k
        WHERE r.d < (SELECT COUNT(*) FROM supplier)),
      pairs AS (SELECT DISTINCT k, v FROM reach),
      mutual AS (SELECT a.k, a.v FROM pairs a
                 JOIN pairs b ON a.k = b.v AND a.v = b.k),
      scc AS (
        SELECT s.s_suppkey AS k,
               COALESCE(MIN(m.v), s.s_suppkey) AS scc_id
        FROM supplier s LEFT JOIN mutual m ON s.s_suppkey = m.k
        GROUP BY s.s_suppkey),
      sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_nodes
                FROM scc GROUP BY scc_id)
      SELECT n_nodes AS scc_size, CAST(count(*) AS BIGINT) AS n_sccs,
             CAST(MIN(scc_id) AS BIGINT) AS min_scc_id
      FROM sizes GROUP BY n_nodes ORDER BY scc_size""",
    )
  }
}
