package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale run of [[graft.ops.GraphOps.ccStar]], the
  * large/small-star connected-components loop behind q_graph_cc and
  * q_graph_cc_star, on synthetic graphs big enough that the
  * per-round movement — not the harness — dominates:
  *
  *  - `chain`: many long paths (diameter = chain length − 1); the
  *    star scheme contracts toward the minimum in O(log diameter)
  *    rounds.
  *  - `blob`: many ring components of `blobSize` nodes (bounded
  *    diameter) — short-diameter structure where the per-round cost
  *    (two phases, each an agg + join + canonical distinct, plus the
  *    convergence anti-join) matters more than the round count.
  *
  * Each rep's labeling is checked against the component-size
  * histogram the generator implies (exact, no float): ⌊nodes/L⌋
  * components of L nodes plus one of the remaining nodes mod L, with
  * L = chainLen or blobSize; a one-node component has no edge, so it
  * is not in the labeling.
  *
  * usage: runMain graft.tools.CCScale
  *          [nodes] [chainLen] [blobSize] [reps] [both|chain|blob]
  * The defaults are 1M / 128 / 8 / 2 / both.
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

    // Directed edge halves, which ccStar takes as they are.
    // Deterministic — all reps see the identical graph.
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

    // The labeling's component-size histogram (size → components).
    def histogram(lab: DataFrame): Map[Long, Long] =
      lab.groupBy(col("lab")).agg(count(lit(1)).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expected(len: Int): Map[Long, Long] =
      Seq(len.toLong -> nodes / len, nodes % len -> 1L)
        .filter { case (size, c) => size >= 2 && c > 0 }.toMap

    def measure(name: String, len: Int, e0: => DataFrame): Unit = {
      val eCk = e0.localCheckpoint()
      println(s"CCScale $name nodes=$nodes edges=${eCk.count()}")
      var best = Double.MaxValue
      for (rep <- 1 to reps) {
        val t0 = System.nanoTime()
        val (lab, rounds) = graft.ops.GraphOps.ccStar(eCk)
        val hist = histogram(lab)
        val t = (System.nanoTime() - t0) / 1e9
        require(hist == expected(len),
          s"component sizes $hist, expected ${expected(len)}")
        best = math.min(best, t)
        println(f"rep$rep star $t%.1f s ($rounds rounds)  (sizes match)")
      }
      println(f"BEST $name star $best%.1f s")
    }

    val mode = if (args.length > 4) args(4) else "both"
    if (mode != "blob") measure("chain", chainLen, chainEdges)
    if (mode != "chain") measure("blob", blobSize, blobEdges)
    spark.stop()
  }
}
