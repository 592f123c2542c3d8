package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session + a handcrafted micro-fixture (SURVEY §5.2).
  *
  * The micro-fixture mirrors the driver fixtures' exact schemas
  * (FIXTURES.md) but with rows designed to trip edge cases the random
  * generators can't guarantee: a customer with no orders, a part never
  * sold, duplicate (lang, source) document keys, an exact-duplicate
  * text pair, an event user absent from `customer`, and a 4-event user
  * whose gaps split into exactly two sessions. Tests run real
  * `SparkEntry.queries` closures against this directory.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // Identical engine posture to Verify/Bench via the shared builder
    // (EngineSession): a test session with a different posture could
    // pass a plan pin the real runners violate, or vice versa.
    val s = EngineSession.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Real driver fixture, smallest scale — for plan/invariant tests. */
  val sf0001 = "/root/testdata/sf0.001"

  /** The sf0.01 fixture next to it, where the job-count pins run. */
  val sf001: String = new java.io.File(sf0001).getParent + "/sf0.01"

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s) // session TZ is UTC

  /** Nanoseconds since epoch, as the events table stores ts. */
  private def ns(s: String): Long = ts(s).getTime * 1000000L

  lazy val microDir: String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_micro").toString

    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    w(Seq((0, "AFRICA"), (1, "AMERICA"))
      .toDF("r_regionkey", "r_name"), "region")

    w(Seq((0, "ALGERIA", 0), (1, "ARGENTINA", 1), (2, "BRAZIL", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    w(Seq((1L, "S1", 0, 150.0), (2L, "S2", 1, 50.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    // customer 4 has NO orders (left-join zero / full-outer null case);
    // customers 2 and 3 tie on acctbal within the same segment.
    w(Seq(
        (1L, "Alice", 0, 100.0, "BUILDING"),
        (2L, "Bob", 1, 200.0, "AUTOMOBILE"),
        (3L, "Carol", 1, 200.0, "AUTOMOBILE"),
        (4L, "NoOrders", 2, 50.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"), "customer")

    // part 3 is never referenced by lineitem (anti-join case).
    w(Seq(
        (1L, "economy widget", "B1", "T1", 5, 10.0),
        (2L, "promo gear", "B2", "T2", 7, 20.0),
        (3L, "standard thing", "B1", "T1", 9, 30.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"), "part")

    w(Seq(
        (1L, 1L, "O", 100.0, ts("1996-03-01 00:00:00"), "1-URGENT"),
        (2L, 1L, "F", 200.0, ts("1996-04-01 00:00:00"), "2-HIGH"),
        (3L, 2L, "F", 300.0, ts("1997-01-01 00:00:00"), "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")

    w(Seq(
        (1L, 1L, 1L, 1, 30.0, 100.0, 0.1, 0.02, "A", "F",
          ts("1996-03-05 00:00:00")),
        (1L, 2L, 2L, 2, 10.0, 50.0, 0.0, 0.01, "N", "O",
          ts("1996-03-06 00:00:00")),
        (2L, 1L, 1L, 1, 50.0, 300.0, 0.05, 0.03, "R", "F",
          ts("1996-05-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")

    // ts stored as raw nanos (the fixture parquet is timestamp[ns];
    // Tables.t reads it as long and truncates to µs). user 7: signup
    // then purchase 10s later (as-of match), then a 40-min gap that
    // must split sessions. user 99 exists in no other table
    // (full-outer null manufacture).
    w(Seq(
        (1L, ns("2024-01-01 10:00:00"), 7L, "signup", 1.0, """{"k":10}"""),
        (2L, ns("2024-01-01 10:00:10"), 7L, "purchase", 2.0, """{"k":60}"""),
        (3L, ns("2024-01-01 10:40:00"), 7L, "click", 3.0, """{"k":99}"""),
        (4L, ns("2024-01-01 10:41:00"), 7L, "view", 4.0, """{"k":5}"""),
        (5L, ns("2024-01-01 09:00:00"), 99L, "purchase", 5.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")

    // doc 0 and doc 1: identical text AND duplicate (lang, source) key
    // — exact-dedup survivor must be doc 0, minhash must pair them.
    w(Seq(
        (0L, "the fast fox", "en", "src0", 12L),
        (1L, "the fast fox", "en", "src0", 12L),
        (2L, "le chat lent slow", "fr", "src1", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    w(Seq(
        (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
        (1L, Seq(0.6f, 0.8f, 0.0f, 0.0f), 1),
        (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label"), "embeddings")

    dir
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** A child session where `plans.SmallPlanRule` never fires:
    * broadcast is disabled, so no plan fits under the threshold, and
    * every plan takes its distributed form. Its memos are local
    * checkpoints too, so a test that uses it starts and ends with
    * [[resetMemos]]. */
  lazy val distributedLoops: SparkSession = ops.Tables.childSession(
    SparkTestBase.spark, "distributed-loops")("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** A child session with `plans.SmallPlanRule` excluded: every plan
    * takes its distributed form, broadcasts included. A spec that pins
    * a distributed plan runs it here. */
  lazy val distributedPlans: SparkSession = ops.Tables.childSession(
    SparkTestBase.spark, "distributed-plans")(
    "spark.sql.optimizer.excludedRules" -> "graft.plans.SmallPlanRule")

  /** Forgets the memos of all three sessions: `resetDerived` drops
    * every block of the context, including the other sessions'. */
  def resetMemos(): Unit = {
    ops.Tables.resetDerived(distributedLoops)
    ops.Tables.resetDerived(distributedPlans)
    ops.Tables.resetDerived(spark)
  }

  /** The jobs `body` runs. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** `body`'s result and the small-plan decisions it posted. */
  def loopGates[T](body: => T): (T, Seq[plans.SmallPlanRule.Decision]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[plans.SmallPlanRule.Decision]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case d: plans.SmallPlanRule.Decision => seen.add(d)
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
      (r, seen.toArray(Array.empty[plans.SmallPlanRule.Decision]).toSeq)
    } finally sc.removeSparkListener(l)
  }
}
