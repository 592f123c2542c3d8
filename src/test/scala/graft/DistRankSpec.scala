package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.DistRank

/** Laws for the distributed rank that replaced the single-partition
  * windows (q_win_ntile, q_pipe_curriculum, q_sim_hybrid): rank is an
  * exact permutation equal to the window form at every fan-out, in one
  * partition (the small-plan rule fires) and distributed (it is
  * excluded); the derived ntile/percent_rank/cume_dist equal the
  * window functions bit for bit; and the shipped plans contain NO
  * global (partition-less, ordered) window.
  */
class DistRankSpec extends GraftSuite {
  import SparkTestBase.sf0001

  private def fixture = {
    val s = spark
    import s.implicits._
    // 1003 rows over many partitions, with heavy ties on the primary
    // sort value (id % 97) so correctness can't lean on tie-free
    // primaries — the composite (v, id) is the total order.
    spark.range(0, 1003, 1, 7)
      .select(col("id"), (col("id") % 97).as("v"))
  }

  /** `v` with NULLs, NaN and ±∞ among repeated finite values. */
  private def nullsAndNaN(s: SparkSession): DataFrame =
    s.range(0, 1003, 1, 7).select(col("id"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .when(col("id") % 13 === 0, lit(Double.NaN))
        .when(col("id") % 17 === 0, lit(Double.PositiveInfinity))
        .when(col("id") % 19 === 0, lit(Double.NegativeInfinity))
        .otherwise((col("id") % 37) * 0.5 - 4).as("v"))

  /** `v` with ±Double.MaxValue among small values: max − min overflows
    * to infinity. */
  private def extremes(s: SparkSession): DataFrame =
    s.range(0, 1003, 1, 7).select(col("id"),
      when(col("id") % 23 === 0, lit(Double.MaxValue))
        .when(col("id") % 29 === 0, lit(-Double.MaxValue))
        .otherwise((col("id") % 37) * 0.5 - 4).as("v"))

  /** The rank and total at fan-outs 1, 2, 3, 5 and 32, with the rule on
    * (where it must fire: the plan is deterministic) and excluded, equal
    * row_number() and count over the global window. */
  private def rankLaw(input: SparkSession => DataFrame, sort: Column*): Unit =
    for (s <- Seq(spark, distributedPlans); p <- Seq(1, 2, 3, 5, 32)) {
      val df = input(s)
      val expect = df.select(col("id"),
        row_number().over(Window.orderBy(sort: _*)).cast("long"),
        count(lit(1)).over())
      val (got, ds) = loopGates(DistRank.withGlobalRank(df, p, sort: _*)
        .select(col("id"), col(DistRank.RankCol), col(DistRank.TotalCol))
        .orderBy("id").collect().toSeq)
      val at = s"fan-out $p, rule ${if (s eq spark) "on" else "excluded"}"
      assert(got === expect.orderBy("id").collect().toSeq, at)
      if (s eq spark) assert(ds.nonEmpty && ds.forall(_.fired), s"$at: $ds")
    }

  test("rank equals the window form at every fan-out: heavy ties on the leading key") {
    rankLaw(s => s.range(0, 1003, 1, 7).select(col("id"),
      ((col("id") % 97) / 4).cast("decimal(10,2)").as("v")), col("v"), col("id"))
  }

  test("rank equals the window form at every fan-out: an all-equal leading key") {
    rankLaw(s => s.range(0, 1003, 1, 7).select(col("id"), lit(7L).as("v")),
      col("v"), col("id"))
  }

  test("rank equals the window form at every fan-out: NULL, NaN and infinite leading keys") {
    rankLaw(nullsAndNaN, col("v"), col("id"))
    rankLaw(nullsAndNaN, col("v").asc_nulls_last, col("id"))
  }

  test("rank equals the window form at every fan-out: a key range wider than a double") {
    rankLaw(extremes, col("v"), col("id"))
    rankLaw(extremes, col("v").desc, col("id"))
  }

  test("rank equals the window form at every fan-out: a descending leading key") {
    rankLaw(nullsAndNaN, col("v").desc, col("id"))
    rankLaw(nullsAndNaN, col("v").desc_nulls_first, col("id").desc)
  }

  test("global rank is the exact permutation the sort order defines") {
    val r = DistRank.withGlobalRank(fixture, 5, col("v"), col("id"))
      .orderBy(col("v"), col("id"))
      .select(col(DistRank.RankCol), col(DistRank.TotalCol))
      .collect()
    assert(r.map(_.getLong(0)).toSeq === (1L to 1003L))
    assert(r.map(_.getLong(1)).distinct.toSeq === Seq(1003L))
  }

  test("ntile/percent_rank/cume_dist equal the window functions bit for bit") {
    val w = Window.orderBy(col("v"), col("id"))
    val expect = fixture.select(col("id"),
      ntile(7).over(w).as("q"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
    val got = DistRank.withGlobalRank(fixture, 5, col("v"), col("id"))
      .select(col("id"),
        DistRank.ntile(7).as("q"),
        DistRank.percentRank().as("pr"),
        DistRank.cumeDist().as("cd"))
    assert(got.orderBy("id").collect().toSeq ===
      expect.orderBy("id").collect().toSeq)
  }

  test("fewer rows than buckets: each row its own bucket (q = 0 edge)") {
    val s = spark
    import s.implicits._
    val tiny = Seq((10L, 1.0), (20L, 2.0), (30L, 3.0)).toDF("id", "v")
    val got = DistRank.withGlobalRank(tiny, 4, col("v"), col("id"))
      .select(col("id"), DistRank.ntile(4).as("q"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq === Seq((10L, 1), (20L, 2), (30L, 3)))
  }

  /** THE detector the audit gate uses — shared so spec and gate can
    * never disagree on what "global window" means. */
  private def hasGlobalWindow(p: String): Boolean =
    tools.PlanAudit.hasGlobalWindow(p)

  test("q_win_ntile ships with no global window") {
    val df = q("q_win_ntile", sf0001)
    df.collect() // AQE: judge the FINAL plan
    assert(!hasGlobalWindow(df.queryExecution.executedPlan.toString))
  }

  test("q_pipe_curriculum ships with no global window") {
    val df = q("q_pipe_curriculum", sf0001)
    df.collect()
    assert(!hasGlobalWindow(df.queryExecution.executedPlan.toString))
  }

  test("q_win_ntile equals the single-partition window form on real data") {
    val s = spark
    import s.implicits._
    val w = Window.orderBy($"c_acctbal", $"c_custkey")
    val expect = ops.Tables.t(spark, sf0001, "customer")
      .select($"c_custkey",
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cdist"))
      .orderBy($"c_custkey")
    assert(q("q_win_ntile", sf0001).collect().toSeq ===
      expect.collect().toSeq)
  }
}
