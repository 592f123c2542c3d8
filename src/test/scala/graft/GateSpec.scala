package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import ops.{GraphOps, Tables}
import SparkTestBase.sf0001

/** The size-gated iterative graph loops (`GraphOps.gate`) and the
  * one-partition checkpoint they rest on (`Tables.ck`): under the
  * broadcast threshold a loop's rounds plan no exchange and run no job
  * of their own, the checkpoints keep their real size, and the rows are
  * the distributed plan's rows. */
class GateSpec extends GraftSuite {
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

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
    val held = Tables.heldBytes(Seq(edges), Long.MaxValue).get.values.sum
    val (lbl, gates) = loopGates(GraphOps.lpaLabels(edges, 8))
    assert(gates.map(_.onePartition) === Seq(true))
    val est = lbl.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est <= held,
      s"8 rounds estimated at $est B over an input holding $held B")
    resetMemos()
  }

  test("under the gate an LPA, PageRank or PPR round plans no Exchange and no BroadcastExchange") {
    resetMemos()
    val s = spark
    import s.implicits._
    val (g, Seq(edges)) = GraphOps.gate("lpaLabels", lpaGraph(s))
    assert(g.onePartition)
    val lbl = Tables.ck(edges.select($"src".as("node")).distinct()
      .withColumn("lbl", $"node"))
    val lpa = ranPlan(GraphOps.lpaStep(edges, lbl, g))
    assert(!lpa.contains("Exchange"), s"LPA round:\n$lpa")

    val (g2, Seq(edgesW, deg)) = GraphOps.gate("pagerank",
      GraphOps.tradeEdgesW(s, sf0001), GraphOps.tradeDeg(s, sf0001))
    assert(g2.onePartition)
    val r = Tables.ck(deg.select($"src".as("node"), lit(0.01).as("r")))
    val pr = ranPlan(GraphOps.rankStep(edgesW, r, 100L, broadcastRank = false))
    assert(!pr.contains("Exchange"), s"PageRank round:\n$pr")
    assert(pr.contains("ShuffledHashJoin"), pr)

    val seed = Tables.ck(deg.orderBy($"d".desc, $"src").limit(1)
      .select($"src".as("node")))
    val r0 = Tables.ck(seed.select($"node", lit(1.0).as("r")))
    val ppr = ranPlan(GraphOps.pprStep(edgesW, r0, seed, g2))
    assert(!ppr.contains("Exchange"), s"PPR round:\n$ppr")
    resetMemos()
  }

  test("q_graph_lpa and q_graph_scc run at most 5 jobs each at sf0.01") {
    Tables.names.foreach(n => Tables.t(spark, sf001, n).count())
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      for (name <- Seq("q_graph_lpa", "q_graph_scc")) {
        resetMemos()
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
        jobs.set(0)
        q(name, sf001).count()
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
        assert(jobs.get <= 5, s"$name ran ${jobs.get} jobs")
      }
    } finally {
      sc.removeSparkListener(l)
      resetMemos()
    }
  }

  test("every gated loop returns the distributed plan's rows on the fixture") {
    resetMemos()
    for (name <- Seq("q_graph_lpa", "q_graph_scc", "q_graph_pagerank",
        "q_graph_ppr", "q_graph_bfs", "q_graph_closeness", "q_graph_randomwalk")) {
      val (one, gOne) = loopGates(rows(q(name, sf0001)))
      val (many, gMany) = loopGates(
        rows(SparkEntry.queries(name)(distributedLoops, sf0001)))
      assert(gOne.nonEmpty && gOne.forall(_.onePartition), s"$name: $gOne")
      assert(gMany.nonEmpty && gMany.forall(!_.onePartition), s"$name: $gMany")
      assert(one.nonEmpty && one === many, name)
    }
    resetMemos()
  }
}
