package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import ops.Tables
import plans.SmallPlanRule
import SparkTestBase.{sf0001, sf001}

/** The session's small-plan rule (`plans.SmallPlanRule`): where it must
  * leave a plan unchanged, that the short relational rows run one job
  * each under it, and that every declared row returns the same rows
  * with the rule on and with it excluded. */
class SmallPlanSpec extends GraftSuite {

  private def orders(s: org.apache.spark.sql.SparkSession = spark): DataFrame =
    Tables.t(s, sf0001, "orders").select(col("o_orderkey"), col("o_custkey"))

  /** The decisions the optimizer posted while planning `df`. */
  private def decisions(df: => DataFrame): Seq[SmallPlanRule.Decision] =
    loopGates(df.queryExecution.executedPlan)._2

  private def assertUnchanged(reason: String, df: => DataFrame): Unit = {
    val ds = decisions(df)
    assert(ds.nonEmpty && ds.forall(!_.fired) && ds.exists(_.reason == reason), ds)
  }

  private def exchangeFree(df: DataFrame): Boolean = {
    df.collect()
    !df.queryExecution.executedPlan.toString.contains("Exchange")
  }

  test("the rule fires on a small deterministic plan: one partition, no exchange") {
    val df = orders().join(Tables.t(spark, sf0001, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
    val ds = decisions(df)
    assert(ds.nonEmpty && ds.forall(_.fired), ds)
    assert(exchangeFree(df), df.queryExecution.executedPlan.toString)
  }

  test("the rule leaves plans with rand, monotonically_increasing_id, spark_partition_id or sample unchanged") {
    assertUnchanged("nondeterministic", orders().withColumn("r", rand(7)))
    assertUnchanged("nondeterministic",
      orders().withColumn("i", monotonically_increasing_id()))
    assertUnchanged("nondeterministic",
      orders().groupBy(spark_partition_id().as("p")).count())
    assertUnchanged("nondeterministic", orders().sample(0.5, 7L))
  }

  test("the rule leaves a plan over a cached relation unchanged") {
    val cached = orders().where(col("o_orderkey") > 0).cache()
    try {
      cached.count()
      assertUnchanged("unknown leaf", cached.groupBy(col("o_custkey")).count())
    } finally cached.unpersist(blocking = true)
  }

  test("the rule leaves a plan over a reliable checkpoint unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val ck = orders().checkpoint(eager = true)
    assertUnchanged("unknown leaf", ck.groupBy(col("o_custkey")).count())
  }

  test("the rule leaves a plan over the threshold unchanged") {
    val tiny = Tables.childSession(spark, "small-plan-tiny-bound")(
      "spark.sql.autoBroadcastJoinThreshold" -> "1")
    val ds = decisions(orders(tiny).groupBy(col("o_custkey")).count())
    assert(ds.nonEmpty && ds.forall(_.reason == "over the bound"), ds)
    assert(ds.forall(d => d.scanBytes > d.threshold), ds)
  }

  test("the rule leaves a streaming plan unchanged") {
    val st = Tables.stream(spark, sf0001, "orders")
      .groupBy(col("o_orderpriority")).count()
    val (_, ds) = loopGates {
      val q = st.writeStream.format("memory").queryName("small_plan_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    assert(ds.exists(_.reason == "streaming") && !ds.exists(_.fired), ds)
  }

  /** The short relational rows (perfbench's relational-short workload)
    * that run more than one job at sf0.01, with their bound and why. */
  private val multiJob: Map[String, (Int, String)] = Map(
    "q_sub_notin" -> (2, "Spark plans a null-aware anti join only as a broadcast"))

  private val relationalShort = Seq("q_agg_approx", "q_agg_chisq",
    "q_agg_cube", "q_agg_group", "q_agg_listagg", "q_agg_percentile_disc",
    "q_agg_rollup", "q_agg_winsorized", "q_expr_date", "q_expr_struct",
    "q_filter_pred", "q_join_asof_near", "q_join_cross", "q_join_lateral",
    "q_join_pit", "q_join_skew_salt", "q_sample_stratified", "q_scan_dsv2",
    "q_scan_nested", "q_set_intersect", "q_sql_q10", "q_sub_avgfilter",
    "q_sub_notin", "q_udf_scalar", "q_win_cusum", "q_win_gap", "q_win_ntile",
    "q_win_seasonal", "q_win_twavg")

  /** Each of `names` that runs more jobs than `bound` allows at sf0.01,
    * built once first (writes, view bindings). */
  private def overBound(names: Seq[String], bound: String => Int): Seq[String] = {
    Tables.names.foreach(n => Tables.t(spark, sf001, n).count())
    names.flatMap { name =>
      q(name, sf001).count()
      Tables.resetDerived(spark)
      val jobs = jobsOf(q(name, sf001).count())
      if (jobs > bound(name)) Some(s"$name ran $jobs jobs (bound ${bound(name)})") else None
    }
  }

  test("each relational-short row runs one job at sf0.01, bar the named exceptions") {
    val over = overBound(relationalShort, multiJob.get(_).fold(1)(_._1))
    assert(over.isEmpty, over.mkString("; "))
  }

  test("each DistRank row runs one job at sf0.01") {
    val over = overBound(Seq("q_win_ntile", "q_pipe_curriculum", "q_sim_hybrid"), _ => 1)
    assert(over.isEmpty, over.mkString("; "))
  }

  test("the rule fires on q_win_ntile: DistRank's plan is deterministic") {
    val ds = decisions(q("q_win_ntile", sf0001))
    assert(ds.nonEmpty && ds.forall(_.reason == "fired"), ds)
  }

  test("the rule sizes a DSv2 scan by the size it reports") {
    val ds = decisions(q("q_scan_dsv2", sf0001))
    // 37 500 rows of (id, val, tag): 8 + 8 + 20 bytes each.
    assert(ds.nonEmpty && ds.forall(d => d.fired && d.scanBytes == 37500L * 36), ds)
  }

  test("the rule folds a scalar subquery over a global aggregate, and only that") {
    orders().createOrReplaceTempView("small_plan_orders")
    def scalar(sub: String) = spark.sql(
      s"SELECT o_orderkey FROM small_plan_orders WHERE o_custkey > ($sub)")
    val folded = scalar("SELECT avg(o_custkey) FROM small_plan_orders")
    val expect = orders(distributedPlans).agg(avg(col("o_custkey"))).head().getDouble(0)
    assert(folded.collect().map(_.getLong(0)).sorted.toSeq ===
      orders().where(col("o_custkey") > expect).collect().map(_.getLong(0)).sorted.toSeq)
    assert(!folded.queryExecution.executedPlan.toString.contains("Subquery subquery"))
    // No row: NULL, so no row passes. More than one row: an error.
    val empty = scalar("SELECT o_custkey FROM small_plan_orders WHERE o_orderkey < 0")
    assert(empty.collect().isEmpty)
    assert(empty.queryExecution.executedPlan.toString.contains("Subquery subquery"))
    val many = intercept[Exception](
      scalar("SELECT o_custkey FROM small_plan_orders").collect())
    assert(many.getMessage.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS"), many.getMessage)
  }

  test("every declared row returns the same rows with the rule on and excluded") {
    val off = distributedPlans
    val diffs = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val on = q(name, sf0001).collect().map(_.toString).toSeq
      val without = SparkEntry.queries(name)(off, sf0001).collect().map(_.toString).toSeq
      Tables.resetDerived(off)
      Tables.resetDerived(spark)
      on != without
    }
    assert(diffs.isEmpty, s"rows changed under the rule: ${diffs.mkString(", ")}")
  }
}
