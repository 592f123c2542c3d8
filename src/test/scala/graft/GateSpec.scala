package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import ops.{GraphOps, Tables}
import SparkTestBase.{sf0001, sf001}

/** The graph plans under the small-plan rule (`plans.SmallPlanRule`:
  * the iterative loops, the shared memos and the motif rows) and the
  * one-partition checkpoint they rest on (`Tables.ck`): under the
  * broadcast threshold a plan plans no exchange and runs no job of its
  * own, the checkpoints keep a bounded size, and the rows are the
  * distributed plan's rows. */
class GateSpec extends GraftSuite {

  /** The fixture graph q_graph_lpa labels (its edge set at sf0.001),
    * symmetrized over one written local checkpoint of the directed
    * half — the shape of the `cc_edges` memo. */
  private def lpaGraph(s: SparkSession): DataFrame = {
    val e0 = Tables.ck(s.sql(
      s"""SELECT DISTINCT concat('c', o_custkey) AS src,
                          concat('s', l_suppkey) AS dst
          FROM parquet.`$sf0001/orders.parquet` o
          JOIN parquet.`$sf0001/lineitem.parquet` l
            ON o_orderkey = l_orderkey
          WHERE o_totalprice > 450000 AND l_quantity >= 47"""))
    e0.count()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val motifRows = Seq("q_graph_jaccard", "q_graph_triangles",
    "q_graph_butterfly", "q_graph_assortativity")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The executed plan of `df` after it ran, as the pins read it. */
  private def ranPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("a one-partition LPA label table records its input's bytes, not the compounding estimate") {
    resetMemos()
    val edges = lpaGraph(spark)
    val (lbl, gates) = loopGates(GraphOps.lpaLabels(edges, 8))
    assert(gates.nonEmpty && gates.forall(_.fired), gates)
    val held = gates.head.heldBytes
    val est = lbl.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est <= held,
      s"8 rounds estimated at $est B over an input holding $held B")
    resetMemos()
  }

  test("under the gate an LPA, PageRank or PPR round plans no Exchange and no BroadcastExchange") {
    resetMemos()
    val s = spark
    import s.implicits._
    val (_, gates) = loopGates {
      val edges = lpaGraph(s)
      val lbl = Tables.ck(edges.select($"src".as("node")).distinct()
        .withColumn("lbl", $"node"))
      val lpa = ranPlan(GraphOps.lpaStep(edges, lbl))
      assert(!lpa.contains("Exchange"), s"LPA round:\n$lpa")

      val edgesW = GraphOps.tradeEdgesW(s, sf0001)
      val deg = GraphOps.tradeDeg(s, sf0001)
      val r = Tables.ck(deg.select($"src".as("node"), lit(0.01).as("r")))
      val pr = ranPlan(GraphOps.rankStep(edgesW, r, 100L, broadcastRank = true))
      assert(!pr.contains("Exchange"), s"PageRank round:\n$pr")
      assert(pr.contains("ShuffledHashJoin"), pr)

      val seed = Tables.ck(deg.orderBy($"d".desc, $"src").limit(1)
        .select($"src".as("node")))
      val r0 = Tables.ck(seed.select($"node", lit(1.0).as("r")))
      val ppr = ranPlan(GraphOps.pprStep(edgesW, r0, seed))
      assert(!ppr.contains("Exchange"), s"PPR round:\n$ppr")
    }
    assert(gates.nonEmpty && gates.forall(_.fired), gates)
    resetMemos()
  }

  test("q_graph_lpa and q_graph_scc run at most 5 jobs each at sf0.01") {
    Tables.names.foreach(n => Tables.t(spark, sf001, n).count())
    for (name <- Seq("q_graph_lpa", "q_graph_scc")) {
      resetMemos()
      val jobs = jobsOf(q(name, sf001).count())
      assert(jobs <= 5, s"$name ran $jobs jobs")
    }
    resetMemos()
  }

  test("with the shared memo warm, the memo step and each motif row run at most 2 jobs at sf0.01") {
    Tables.names.foreach(n => Tables.t(spark, sf001, n).count())
    resetMemos()
    val memo = jobsOf(GraphOps.warmSharedMemo(spark, sf001))
    assert(memo <= 2, s"warmSharedMemo ran $memo jobs")
    for (name <- motifRows) {
      val jobs = jobsOf(q(name, sf001).count())
      assert(jobs <= 2, s"$name ran $jobs jobs")
    }
    resetMemos()
  }

  test("the motif rows plan no Exchange and no BroadcastExchange at sf0.01") {
    resetMemos()
    for (name <- motifRows) {
      val p = ranPlan(q(name, sf001))
      assert(!p.contains("Exchange"), s"$name:\n$p")
    }
    resetMemos()
  }

  test("a BFS round over one-partition memos built from parquet plans no Exchange") {
    resetMemos()
    val s = spark
    import s.implicits._
    val (_, gates) = loopGates {
      val edges = GraphOps.tradeEdges(s, sf001)
      val deg = GraphOps.tradeDeg(s, sf001)
      val seed = Tables.ck(deg.orderBy($"d".desc, $"src").limit(1)
        .select($"src".as("node")))
      val hop1 = Tables.ck(GraphOps.bfsHop(edges, seed, seed))
      val hop2 = ranPlan(GraphOps.bfsHop(edges, hop1, seed.unionByName(hop1)))
      assert(!hop2.contains("Exchange"), s"BFS hop 2:\n$hop2")
    }
    assert(gates.nonEmpty && gates.forall(_.fired), gates)
    resetMemos()
  }

  test("every gated loop returns the distributed plan's rows on the fixture") {
    resetMemos()
    for (dir <- Seq(sf0001, sf001); name <- Seq("q_graph_lpa", "q_graph_scc",
        "q_graph_pagerank", "q_graph_ppr", "q_graph_bfs", "q_graph_closeness",
        "q_graph_randomwalk") ++ motifRows) {
      val (one, gOne) = loopGates(rows(q(name, dir)))
      val (many, gMany) = loopGates(
        rows(SparkEntry.queries(name)(distributedLoops, dir)))
      assert(gOne.nonEmpty && gOne.forall(_.fired), s"$dir $name: $gOne")
      assert(gMany.nonEmpty && gMany.forall(!_.fired), s"$dir $name: $gMany")
      assert(one.nonEmpty && one === many, s"$dir $name")
    }
    resetMemos()
  }
}
