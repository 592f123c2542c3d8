package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale A/B for the two declared connected-component
  * algorithms (q_graph_cc's plain min-label propagation vs
  * q_graph_cc_star's large/small-star scheme) on synthetic graphs big
  * enough that the per-round movement — not the harness — dominates,
  * across the two regimes the GraphOps scaladocs claim:
  *
  *  - `chain`: many long paths (diameter = chain length − 1) — plain
  *    propagation's worst case: steps = diameter, each paying a
  *    broadcast round; the star scheme contracts toward the minimum
  *    in O(log diameter) rounds.
  *  - `blob`: many small star-shaped components (diameter 2) — plain
  *    propagation's best case (a handful of cheap steps); the star
  *    scheme pays its heavier per-round cost (two phases, each an
  *    agg + join + canonical distinct, plus the convergence
  *    anti-join) for the same few rounds.
  *
  * Both must produce the IDENTICAL labeling; equality is asserted per
  * rep via a component-size-histogram checksum (exact, no float).
  *
  * Measured on this container (local[32], min of 2 reps):
  *   chain |V|=1M, L=128 (7.8k chains): plain 130 steps / 137.6 s,
  *     star 8 rounds / 16.3 s — 8.4× for star, the log-vs-diameter
  *     gap (and it widens with L).
  *   blob |V|=1M rings of 8 (125k components, diameter 4): plain
  *     6 steps / 12.5 s, star 4 rounds / 10.2 s — near-parity, star
  *     still slightly ahead.
  * The honest conclusion is one-sided: the star scheme TIES OR WINS
  * in every measured regime (including the sf0.1 fixture graph,
  * star ~3.7 s vs plain ~5.0 s), because its round count collapses
  * with diameter while its per-round constant stays a small multiple
  * of a propagation step. Plain min-label propagation remains
  * declared as the baseline differential — simplest possible
  * iteration, the GraphX-idiom shape, and the algebra the star
  * scheme's shared oracle is checked against — not as the
  * performance pick. (The variant that IS shape-sensitive is
  * ccLabels' path doubling, whose edge composition degenerates on
  * dense components — measured at [[graft.ops.GraphOps.ccLabels]];
  * the star scheme contracts stars instead of composing paths and
  * dodges that blowup.)
  *
  * usage: runMain graft.tools.CCScale
  *          [nodes] [chainLen] [blobSize] [reps] [both|chain|blob]
  * The scaladoc's recorded numbers are the DEFAULT args (1M / 128 /
  * 8 / 2) — rerun with them to reproduce.
  */
object CCScale {
  def main(args: Array[String]): Unit = {
    val nodes = if (args.length > 0) args(0).toLong else 1000000L
    val chainLen = if (args.length > 1) args(1).toInt else 128
    val blobSize = if (args.length > 2) args(2).toInt else 8
    val reps = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.EngineSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Directed edge halves (ccStar takes these; ccLabels takes the
    // symmetrized union). Deterministic — both algorithms and all
    // reps see the identical graph.
    // chain: node i links to i+1 unless it ends a chain.
    def chainEdges: DataFrame = spark.range(nodes)
      .where((col("id") % chainLen) =!= (chainLen - 1)
        && col("id") + 1 < nodes)
      .select(col("id").as("u"), (col("id") + 1).as("v"))
    // blob: RING components of blobSize nodes (i → i+1 within the
    // block, plus the closing edge) — bounded diameter blobSize/2 but
    // NOT already a star forest: a hub-shaped blob would hand the
    // star scheme a one-round converged input and measure nothing.
    // Both branches bound their targets below `nodes` (the chain
    // generator's guard): a partial final block degrades to a path
    // instead of emitting edges to phantom node ids.
    def blobEdges: DataFrame = spark.range(nodes)
      .where((col("id") % blobSize) =!= (blobSize - 1)
        && col("id") + 1 < nodes)
      .select(col("id").as("u"), (col("id") + 1).as("v"))
      .unionByName(spark.range(nodes)
        .where(col("id") % blobSize === 0
          && col("id") + blobSize - 1 < nodes)
        .select(col("id").as("u"),
          (col("id") + blobSize - 1).as("v")))

    // Exact checksum of the labeling: the component-size histogram
    // collapsed to (n_components, sum(size), sum(size² mod prime)).
    def checksum(lab: DataFrame): (Long, Long, Long) = {
      val row = lab.groupBy(col("lab")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), sum(col("n")),
          sum(pmod(col("n") * col("n"), lit(1000003L)))).head
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def measure(name: String, e0: => DataFrame): Unit = {
      val eCk = e0.localCheckpoint()
      val sym = eCk.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(eCk.select(col("v").as("src"), col("u").as("dst")))
      println(s"CCScale $name nodes=$nodes edges=${eCk.count()}")
      var (pBest, sBest) = (Double.MaxValue, Double.MaxValue)
      for (rep <- 1 to reps) {
        val ((csP, stepsP), tP) = time {
          val (l, n) = graft.ops.GraphOps.ccLabels(sym, doubling = false,
            maxRounds = 2 * chainLen + 8)
          (checksum(l), n)
        }
        val ((csS, roundsS), tS) = time {
          val (l, n) = graft.ops.GraphOps.ccStar(eCk)
          (checksum(l), n)
        }
        require(csP == csS, s"algorithms disagree: $csP vs $csS")
        pBest = math.min(pBest, tP); sBest = math.min(sBest, tS)
        println(f"rep$rep plain $tP%.1f s ($stepsP steps)  " +
          f"star $tS%.1f s ($roundsS rounds)  (checksums agree)")
      }
      println(f"BEST $name plain $pBest%.1f s  star $sBest%.1f s")
    }

    val mode = if (args.length > 4) args(4) else "both"
    if (mode != "blob") measure("chain", chainEdges)
    if (mode != "chain") measure("blob", blobEdges)
    spark.stop()
  }
}
