package graft

import org.apache.spark.sql.functions._

/** Adaptive Query Execution behaviors the 100-TB design relies on
  * (SURVEY §4): skewed-partition splitting in shuffle joins, and
  * post-shuffle partition coalescing. These are the runtime safety
  * nets behind the static salting/bucketing strategies — asserted
  * here on synthetic skew so the thresholds are controlled.
  */
class AdaptiveSpec extends GraftSuite {

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed partition in a sort-merge join (skew=true)") {
    val s = spark
    import s.implicits._
    // 90% of fact rows share key 0; the payload is high-entropy (md5,
    // so shuffle compression can't shrink it) and referenced by the
    // aggregate, so it rides the join shuffle and pushes the hot
    // partition over the (lowered) skew threshold.
    val fact = s.range(0, 60000).select(
      when($"id" % 10 < 9, 0L).otherwise($"id" % 100).as("k"),
      concat(md5($"id".cast("string")),
        md5(($"id" + 1).cast("string"))).as("payload"))
    val dim = s.range(0, 100).select($"id".as("k"), ($"id" * 2).as("attr"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // Global aggregate: a groupBy(k) here would REUSE the join's
      // hash-partitioning, and AQE refuses to split a skewed partition
      // when that would force an extra downstream shuffle. A global
      // agg has no partitioning requirement, so the split is legal.
      val j = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), max($"payload").as("mx"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark and split the skewed join partition:\n$p")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val s = spark
    import s.implicits._
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture scans are far below the 10 GB production threshold —
      // drop it so the rewrite can demonstrate itself here
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = ops.Tables.t(s, SparkTestBase.sf0001, "lineitem")
      val pt = ops.Tables.t(s, SparkTestBase.sf0001, "part")
        .where($"p_size" === 5)
      val j = li.join(pt, $"l_partkey" === $"p_partkey")
        .groupBy($"p_size").count()
      // InjectRuntimeFilter plants a bloom probe from the selective
      // (filtered) side onto the big side's scan — at 100 TB this is
      // what turns a full fact scan into a semi-pruned one.
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected a runtime bloom probe on the fact side:\n$plan")
      assert(j.count() > 0)
    }
  }

  test("AQE coalesces undersized post-shuffle partitions") {
    val s = spark
    import s.implicits._
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.shuffle.partitions" -> "64") {
      // A tiny aggregate over 64 shuffle partitions: almost all empty,
      // AQE must fold them down instead of scheduling 64 tasks. The
      // small-plan rule would run it in one partition with no shuffle
      // at all (the pin below), so the distributed plan is pinned with
      // the rule excluded.
      def agg = s.range(0, 1000).groupBy(($"id" % 5).as("g")).count()
      withConfs("spark.sql.optimizer.excludedRules" -> "graft.plans.SmallPlanRule") {
        val dist = agg
        dist.collect()
        val p = dist.queryExecution.executedPlan.toString
        assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
          s"expected coalesced AQEShuffleRead:\n$p")
      }
      val one = agg
      one.collect()
      val p1 = one.queryExecution.executedPlan.toString
      assert(!p1.contains("Exchange"), s"expected no exchange under the rule:\n$p1")
    }
  }
}
