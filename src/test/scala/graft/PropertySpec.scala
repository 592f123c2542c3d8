package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based laws (SURVEY §5.3) over scalacheck-generated inputs.
  * The scalatest-scalacheck bridge isn't on the offline classpath, so
  * Gens are driven by hand from fixed seeds — deterministic cases,
  * a few per law since every case runs a Spark job.
  */
class PropertySpec extends GraftSuite {

  private val intLists = Gen.listOf(Gen.chooseNum(-50, 50))

  private def cases(n: Int): Seq[List[Int]] =
    (0 until n).map { i =>
      intLists(Gen.Parameters.default.withSize(40), Seed(i.toLong * 7919))
        .getOrElse(Nil)
    }

  test("set-op cardinality law: |A ∪ B| = |A| + |B| - |A ∩ B| (distinct)") {
    val s = spark
    import s.implicits._
    cases(5).zip(cases(5).reverse).foreach { case (xs, ys) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val union = a.union(b).distinct().count()
      val inter = a.intersect(b).count()
      assert(union === a.distinct().count() + b.distinct().count() - inter,
        s"law failed for |A|=${xs.size}, |B|=${ys.size}")
    }
  }

  test("DistRank law: rank is the sort permutation and ntile matches " +
      "the window assignment at random sizes/partitions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // Sizes straddle the edges the arithmetic must survive: N < n
    // buckets, N == partitions, N prime vs divisible, empty-ish.
    val sizes = Seq(1, 3, 4, 7, 32, 97, 1000)
    sizes.zipWithIndex.foreach { case (n, i) =>
      val parts = Seq(1, 2, 5, 32)(i % 4)
      // Duplicate VALUES on purpose — (v, id) stays a total order.
      val df = s.range(n).select($"id",
        pmod(hash($"id", lit(i)), lit(17)).as("v"))
      val ranked = ops.DistRank
        .withGlobalRank(df, parts, $"v", $"id")
        .withColumn("q", ops.DistRank.ntile(4))
        .select($"id", col(ops.DistRank.RankCol).as("r"), $"q")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
      // Bijectivity FIRST: "permutation" requires every input row
      // present exactly once with ranks 1..N — without this the
      // per-row checks pass vacuously if a row is dropped (the
      // empty-range-partition edge when parts > N).
      assert(ranked.map(_._1).sorted.toSeq === (0L until n).toSeq,
        s"row set at n=$n parts=$parts")
      assert(ranked.map(_._2).sorted.toSeq === (1L to n.toLong).toSeq,
        s"rank set at n=$n parts=$parts")
      // Reference: driver-side sort of the same keys.
      val keys = df.collect().map(x => (x.getInt(1), x.getLong(0)))
        .sortBy(identity).map(_._2)
      val expectRank = keys.zipWithIndex
        .map { case (id, k) => id -> (k + 1L) }.toMap
      def refNtile(r: Long): Int = {
        val (q, rem) = (n / 4, n % 4)
        val cut = (q + 1L) * rem
        if (r <= cut) ((r + q) / (q + 1)).toInt
        else (rem + (r - cut + q - 1) / q).toInt
      }
      ranked.foreach { case (id, r, qt) =>
        assert(r === expectRank(id), s"rank at n=$n parts=$parts id=$id")
        assert(qt === refNtile(r), s"ntile at n=$n parts=$parts rank=$r")
      }
    }
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val s = spark
    import s.implicits._
    cases(5).foreach { xs =>
      val once = xs.toDF("v").dropDuplicates("v")
      assert(once.dropDuplicates("v").count() === once.count())
    }
  }

  test("char_bigram_counts law: equals naive sliding-window counting") {
    val s = spark
    import s.implicits._
    val strGen = Gen.listOfN(30, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    val strs = (0 until 8).flatMap(i =>
      strGen(Gen.Parameters.default, Seed(i.toLong * 104729)).toSeq) :+ "" :+ "q"
    val got = strs.toDF("t")
      .selectExpr("t", "char_bigram_counts(t) AS e").collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getString(0), x.getLong(1))).toSeq).toMap
    strs.foreach { t =>
      val want = t.sliding(2).filter(_.length == 2).toSeq
        .groupBy(identity).map { case (bg, o) => (bg, o.size.toLong) }
        .toSeq.sortBy(_._1)
      assert(got(t) === want, s"mismatch for input '$t'")
      assert(got(t).map(_._2).sum === math.max(0, t.length - 1).toLong,
        "multiplicities must sum to len-1")
    }
  }

  test("top-k is the prefix of the total sort") {
    val s = spark
    import s.implicits._
    cases(5).foreach { xs =>
      val sorted = xs.toDF("v").orderBy($"v".desc).collect().map(_.getInt(0))
      val topk = xs.toDF("v").orderBy($"v".desc).limit(5)
        .collect().map(_.getInt(0))
      assert(topk.toSeq === sorted.take(5).toSeq)
    }
  }

  test("zval law: Morton interleave is injective and matches bit-math reference") {
    val s = spark
    import s.implicits._
    import graft.functions.ZOrder.zval
    def ref(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val pts = for (a <- 0L to 40L by 7; b <- 0L to 40L by 5) yield (a, b)
    val got = pts.toDF("a", "b")
      .select($"a", $"b", zval($"a", $"b", 16).as("z")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    got.foreach { case ((a, b), z) =>
      assert(z === ref(a, b), s"zval($a,$b)") }
    assert(got.map(_._2).distinct.length === got.length, "zval must be injective")
  }

  test("upsert idempotence: applying the same change-batch twice equals once") {
    val s = spark
    import s.implicits._
    def merge(base: org.apache.spark.sql.DataFrame,
              ch: org.apache.spark.sql.DataFrame) =
      base.join(ch.select($"k", $"v".as("cv")), $"id" === $"k", "full_outer")
        .select(org.apache.spark.sql.functions.coalesce($"k", $"id").as("id"),
          org.apache.spark.sql.functions.coalesce($"cv", $"v").as("v"))
    cases(4).foreach { xs =>
      val base = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val ch = xs.zipWithIndex.collect {
        case (v, i) if i % 3 == 0 => (i.toLong, v + 1000)
      }.toDF("k", "v")
      val once = merge(base, ch)
      val twice = merge(once, ch)
      assert(twice.orderBy($"id").collect().toSeq ===
        once.orderBy($"id").collect().toSeq)
    }
  }

  // ---- native-operator laws: each custom physical operator must equal
  // its declarative/na(ï)ve reference on randomized inputs, including
  // null times, duplicate timestamps, and key boundaries the fixture
  // data never produces. Times are raw longs (the operators accept
  // LongType directly), so the laws cover the µs arithmetic itself.

  private case class Ev(id: Long, k: Long, t: Option[java.lang.Long])

  private def evCases(seedBase: Long, n: Int, tMax: Long): Seq[Seq[Ev]] = {
    val rowGen = for {
      k <- Gen.chooseNum(0L, 3L)
      t <- Gen.option(Gen.chooseNum(0L, tMax))
    } yield (k, t)
    (0 until 3).map { c =>
      Gen.listOfN(n, rowGen)(Gen.Parameters.default, Seed(seedBase + c))
        .getOrElse(Nil)
        .zipWithIndex
        .map { case ((k, t), i) =>
          Ev(i.toLong, k, t.map(Long.box))
        }
    }
  }

  test("native sessionize law: equals the lag+running-sum window form on random data") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val gap = 100L
    evCases(31337L, 120, 2000L).foreach { evs =>
      val df = evs.map(e => (e.id, e.k, e.t.map(_.longValue()): Option[Long]))
        .toDF("event_id", "user_id", "ts")
      val native = plans.Sessionize(df, "user_id", "ts", "event_id", gap)
        .select($"event_id", $"session_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val expected = df
        .withColumn("nw", when(lag($"ts", 1).over(w).isNull ||
          $"ts" - lag($"ts", 1).over(w) > gap, 1L).otherwise(0L))
        .withColumn("sid", sum($"nw").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"event_id", $"sid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native === expected)
    }
  }

  test("native as-of join law: equals the naive latest-prior lookup on random data") {
    val s = spark
    import s.implicits._
    evCases(104729L, 60, 100L).zip(evCases(7919L, 60, 100L)).foreach {
      case (ls, rs0) =>
        val rs = rs0.map(e => e.copy(id = e.id + 1000))
        val ldf = ls.map(e => (e.id, e.k, e.t.map(_.longValue()): Option[Long]))
          .toDF("lid", "lk", "lt")
        val rdf = rs.map(e => (e.id, e.k, e.t.map(_.longValue()): Option[Long]))
          .toDF("rid", "rk", "rt")
        val native = plans.AsofJoin(ldf, rdf, "lk", "lt", "lid", "rk", "rt", "rid")
          .select($"lid", $"rid").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val expected = ls.map { l =>
          l.id -> (l.t match {
            case None => None
            case Some(lt) =>
              rs.filter(r => r.k == l.k && r.t.exists(_ <= lt.longValue()))
                .sortBy(r => (r.t.get.longValue(), r.id))
                .lastOption.map(_.id)
          })
        }.toMap
        assert(native === expected)
    }
  }

  test("native range join law: equals the naive banded pair set on random data") {
    val s = spark
    import s.implicits._
    val band = 20L
    evCases(424243L, 60, 100L).zip(evCases(611953L, 60, 100L)).foreach {
      case (ls, rs0) =>
        val rs = rs0.map(e => e.copy(id = e.id + 1000))
        val ldf = ls.map(e => (e.id, e.k, e.t.map(_.longValue()): Option[Long]))
          .toDF("lid", "lk", "lt")
        val rdf = rs.map(e => (e.id, e.k, e.t.map(_.longValue()): Option[Long]))
          .toDF("rid", "rk", "rt")
        val native = plans.RangeJoin(ldf, rdf,
            "lk", "lt", "lid", "rk", "rt", "rid", band)
          .select($"lid", $"rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = (for {
          l <- ls; lt <- l.t.toSeq
          r <- rs if r.k == l.k &&
            r.t.exists(rt => rt > lt.longValue() &&
              rt <= lt.longValue() + band)
        } yield (l.id, r.id)).toSet
        assert(native === expected)
    }
  }

  // ---- generalized keys: the merge operators accept any orderable
  // key type (integral keys compare primitively, everything else via
  // the type's interpreted ordering, which matches the SortOrder the
  // exec declares). Same laws as above, STRING keys — covering the
  // generic comparator path, including the saved-key deep copy (a
  // UTF8String eval'd off a reused sort buffer must own its bytes).

  test("native as-of join accepts STRING keys: equals the naive lookup") {
    val s = spark
    import s.implicits._
    evCases(104729L, 60, 100L).zip(evCases(7919L, 60, 100L)).foreach {
      case (ls, rs0) =>
        val rs = rs0.map(e => e.copy(id = e.id + 1000))
        val ldf = ls.map(e => (e.id, s"key-${e.k}", e.t.map(_.longValue()): Option[Long]))
          .toDF("lid", "lk", "lt")
        val rdf = rs.map(e => (e.id, s"key-${e.k}", e.t.map(_.longValue()): Option[Long]))
          .toDF("rid", "rk", "rt")
        val native = plans.AsofJoin(ldf, rdf, "lk", "lt", "lid", "rk", "rt", "rid")
          .select($"lid", $"rid").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val expected = ls.map { l =>
          l.id -> (l.t match {
            case None => None
            case Some(lt) =>
              rs.filter(r => r.k == l.k && r.t.exists(_ <= lt.longValue()))
                .sortBy(r => (r.t.get.longValue(), r.id))
                .lastOption.map(_.id)
          })
        }.toMap
        assert(native === expected)
    }
  }

  test("native range join accepts STRING keys: equals the naive pair set") {
    val s = spark
    import s.implicits._
    val band = 20L
    evCases(424243L, 60, 100L).zip(evCases(611953L, 60, 100L)).foreach {
      case (ls, rs0) =>
        val rs = rs0.map(e => e.copy(id = e.id + 1000))
        val ldf = ls.map(e => (e.id, s"key-${e.k}", e.t.map(_.longValue()): Option[Long]))
          .toDF("lid", "lk", "lt")
        val rdf = rs.map(e => (e.id, s"key-${e.k}", e.t.map(_.longValue()): Option[Long]))
          .toDF("rid", "rk", "rt")
        val native = plans.RangeJoin(ldf, rdf,
            "lk", "lt", "lid", "rk", "rt", "rid", band)
          .select($"lid", $"rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = (for {
          l <- ls; lt <- l.t.toSeq
          r <- rs if r.k == l.k &&
            r.t.exists(rt => rt > lt.longValue() &&
              rt <= lt.longValue() + band)
        } yield (l.id, r.id)).toSet
        assert(native === expected)
    }
  }

  test("native sessionize accepts STRING keys and mismatched key types fail fast") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val gap = 100L
    evCases(31337L, 120, 2000L).take(1).foreach { evs =>
      val df = evs.map(e => (e.id, s"key-${e.k}", e.t.map(_.longValue()): Option[Long]))
        .toDF("id", "k", "t")
      val native = plans.Sessionize(df, "k", "t", "id", gap)
        .select($"id", $"session_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = Window.partitionBy($"k").orderBy($"t", $"id")
      val emulated = df
        .withColumn("nw", when(lag($"t", 1).over(w).isNull ||
          $"t" - lag($"t", 1).over(w) > gap, 1L).otherwise(0L))
        .withColumn("sid", sum($"nw").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"id", $"sid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native === emulated)
    }
    // mismatched left/right key types are a driver-side error with a
    // clear message, not a task failure
    val l = Seq((1L, "a", 1L)).toDF("lid", "lk", "lt")
    val r = Seq((2L, 7L, 1L)).toDF("rid", "rk", "rt")
    val err = intercept[IllegalArgumentException] {
      plans.AsofJoin(l, r, "lk", "lt", "lid", "rk", "rt", "rid")
    }
    assert(err.getMessage.contains("key types must match"))
  }

  // A deterministic pseudo-random (string, long) struct key with NULL
  // FIELDS mixed in — the null fragments of PlanUtil.keyCodegen's
  // field-wise cmp/eq are exactly what the fixture pins (non-null ids)
  // never exercise. Keys collide across rows by construction (small
  // domains) so runs actually group.
  private def structKey(seed: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val id = org.apache.spark.sql.functions.col("id")
    struct(
      when(pmod(hash(id, lit(seed)), lit(7)) === 0,
        lit(null).cast("string"))
        .otherwise(format_string("b%d", pmod(hash(id, lit(seed + 1)),
          lit(3)))).as("hi"),
      when(pmod(hash(id, lit(seed + 2)), lit(11)) === 0,
        lit(null).cast("long"))
        .otherwise(pmod(hash(id, lit(seed + 3)), lit(5)).cast("long"))
        .as("lo"))
  }

  private def codegenOff[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("struct-key sessionize: codegen ≡ interpreted on random data incl. null fields") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    Seq(50, 97, 1000).zipWithIndex.foreach { case (n, i) =>
      val df = s.range(n).select(
        $"id".as("event_id"),
        structKey(13 * i + 1).as("ck"),
        (lit(1700000000000000L) +
          pmod(hash($"id", lit(i + 4)).cast("long") * 2654435761L,
            lit(86400000000L))).as("t"))
      def run() = plans.Sessionize(df, "ck", "t", "event_id",
          3600000000L)
        .select($"event_id", $"session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val on = run()
      assert(on === codegenOff(run()), s"case n=$n diverged")
    }
  }

  test("struct-key as-of join: codegen ≡ interpreted on random data incl. null fields") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    Seq(60, 500).zipWithIndex.foreach { case (n, i) =>
      def times(seed: Int) =
        lit(1700000000000000L) +
          pmod(hash($"id", lit(seed)).cast("long") * 2654435761L,
            lit(86400000000L))
      val left = s.range(n).select(
        $"id".as("event_id"), structKey(29 * i + 3).as("ck"),
        times(i + 40).as("t"))
      val right = s.range(n / 3 + 1).select(
        ($"id" + 1000000L).as("r_eid"), structKey(29 * i + 3).as("r_ck"),
        times(i + 41).as("r_t"))
      def run() = plans.AsofJoin(left, right,
          "ck", "t", "event_id", "r_ck", "r_t", "r_eid")
        .select($"event_id", $"r_eid")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val on = run()
      assert(on.nonEmpty && on === codegenOff(run()), s"case n=$n diverged")
    }
  }

  test("brandesDeltas law: equals radius-4 truncated Brandes on random graphs") {
    val s = spark
    import s.implicits._
    // Random symmetric graphs (not bipartite, not trade-shaped)
    // through the exact production core, vs an independent driver
    // implementation of radius-4 Brandes from the same pivots. Sweeps
    // σ-tie shapes and disconnected fragments the fixture graph
    // can't.
    (0 until 3).foreach { k =>
      val rng = new scala.util.Random(104729L * (k + 1))
      val nodes = (0 until 12).map(i => f"n$i%02d")
      val undirected = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        if rng.nextDouble() < 0.22
      } yield (nodes(i), nodes(j))).distinct
      val adj = (undirected ++ undirected.map(_.swap))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
      val seeds = rng.shuffle(nodes.filter(adj.contains)).take(4)
      val edgesDf = (undirected ++ undirected.map(_.swap))
        .toDF("src", "dst")
      val got = ops.GraphOps
        .brandesDeltas(edgesDf, seeds.toDF("seed")).collect()
        .map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
      // Reference: per seed, BFS to depth 4 with σ, then δ backward
      // over levels 3..1 (level-4 δ = 0 — the same truncation).
      val acc = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      for (s0 <- seeds) {
        val dist = scala.collection.mutable.Map(s0 -> 0)
        val sig = scala.collection.mutable.Map(s0 -> 1L)
          .withDefaultValue(0L)
        var frontier = Seq(s0)
        for (h <- 1 to 4) {
          val next = scala.collection.mutable.LinkedHashSet.empty[String]
          for (u <- frontier; v <- adj.getOrElse(u, Nil)) {
            if (!dist.contains(v)) { dist(v) = h; next += v }
            if (dist(v) == h) sig(v) += sig(u)
          }
          frontier = next.toSeq
        }
        val dep = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(0.0)
        for (l <- 3 to 1 by -1; v <- dist.keys.toSeq if dist(v) == l;
             w <- adj.getOrElse(v, Nil) if dist.get(w).contains(l + 1))
          dep(v) += sig(v).toDouble / sig(w) * (1.0 + dep(w))
        for ((v, dv) <- dep if v != s0) acc(v) += dv
      }
      got.foreach { case (v, dm) =>
        assert(math.abs(dm - acc(v)) < 1e-3,
          s"case $k node $v: $dm vs ${acc(v)}")
      }
      acc.foreach { case (v, dv) =>
        if (dv > 1e-3) assert(got.contains(v),
          s"case $k node $v with delta $dv missing from the query")
      }
      assert(got.nonEmpty, s"case $k produced no dependencies")
    }
  }

  test("gated loops law: one-partition LPA, BFS and PageRank equal their distributed plans on random graphs") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    // Random symmetric graphs, held as written local checkpoints (the
    // memo shape the gate measures), through each loop in this session
    // (one partition) and in a session that forces the distributed
    // plan: labels, frontier sizes and ranks must be identical.
    resetMemos()
    (0 until 3).foreach { k =>
      val rng = new scala.util.Random(7727L * (k + 1))
      val nodes = (0 until 14).map(i => f"g$i%02d")
      val undirected = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        if rng.nextDouble() < 0.2
      } yield (nodes(i), nodes(j))).distinct
      val sym = undirected ++ undirected.map(_.swap)
      def run(ss: SparkSession) = {
        import ss.implicits._
        val e0 = ops.Tables.ck(sym.toDF("src", "dst"))
        e0.count()
        val edges = e0.select($"src", $"dst")
        val lpa = ops.GraphOps.lpaLabels(edges, 4)
          .collect().map(_.toString).sorted.toSeq
        val seed = ops.Tables.ck(Seq(sym.head._1).toDF("node"))
        val bfs = ops.GraphOps.bfsFrontiers(edges, seed, 3)
          .collect().map(_.toString).toSeq
        val deg = ops.Tables.ck(edges.groupBy($"src").agg(count(lit(1)).as("d")))
        val n = deg.count()
        val edgesW = ops.Tables.ck(edges.join(deg, "src"))
        val (pr, iters) = ops.GraphOps.pagerank(edgesW,
          deg.select($"src".as("node"), (lit(1.0) / n).as("r")), n, 5, 1e-6)
        val ranks = pr.collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy(_._1).toSeq
        (lpa, bfs, ranks, iters)
      }
      if (sym.nonEmpty) {
        val (one, gOne) = loopGates(run(spark))
        val (many, gMany) = loopGates(run(distributedLoops))
        assert(gOne.nonEmpty && gOne.forall(_.fired), s"case $k: $gOne")
        assert(gMany.nonEmpty && gMany.forall(!_.fired), s"case $k: $gMany")
        assert(one._1 === many._1, s"case $k: LPA labels")
        assert(one._2 === many._2, s"case $k: BFS frontiers")
        assert(one._4 === many._4, s"case $k: PageRank rounds")
        assert(one._3.map(_._1) === many._3.map(_._1), s"case $k: ranked nodes")
        one._3.zip(many._3).foreach { case ((v, a), (w, b)) =>
          assert(v == w && math.abs(a - b) < 1e-12, s"case $k: rank of $v")
        }
      }
    }
    resetMemos()
  }

  test("ssspDist law: equals Dijkstra on random weighted graphs at the fixpoint") {
    val s = spark
    import s.implicits._
    // Random connected-ish weighted symmetric graphs through the
    // production relaxation core, vs an independent driver Dijkstra.
    // Sweeps cheap-many-hop-detour shapes and unreachable fragments
    // the trade fixture can't: the kernel must agree on the REACHED
    // set as well as every distance, at rounds = |V| (≥ any shortest
    // path's edge count, so the fixed-round loop is provably at its
    // monotone fixpoint).
    (0 until 3).foreach { k =>
      val rng = new scala.util.Random(15485863L * (k + 1))
      val n = 10
      val nodes = (0 until n).map(i => f"v$i%02d")
      val undirected = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        if rng.nextDouble() < 0.25
      } yield (nodes(i), nodes(j), (rng.nextInt(9) + 1).toLong)).distinct
      if (undirected.nonEmpty) {
        val sym = undirected ++ undirected.map(e => (e._2, e._1, e._3))
        val adj = sym.groupBy(_._1)
          .map { case (u, es) => u -> es.map(e => (e._2, e._3)) }
        val seed = nodes.find(adj.contains).get
        val got = ops.GraphOps
          .ssspDist(sym.toDF("src", "dst", "w"), Seq(seed).toDF("node"), n)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        val dist = scala.collection.mutable.Map(seed -> 0L)
        val done = scala.collection.mutable.Set.empty[String]
        val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
          Ordering.by((t: (Long, String)) => -t._1))
        while (pq.nonEmpty) {
          val (dv, v) = pq.dequeue()
          if (!done(v)) {
            done += v
            for ((w0, wt) <- adj.getOrElse(v, Seq.empty))
              if (dv + wt < dist.getOrElse(w0, Long.MaxValue)) {
                dist(w0) = dv + wt
                pq.enqueue((dv + wt, w0))
              }
          }
        }
        assert(got === dist.toMap, s"case $k: Bellman-Ford fixpoint " +
          "must equal Dijkstra, including the reached set")
      }
    }
  }

  test("substrExactSpans law: equals brute force on random planted corpora") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // Random {a,b}-alphabet docs with PLANTED shared blocks — across
    // docs, twice within one doc, and spliced at random offsets so
    // span boundaries land anywhere relative to the doubling blocks
    // (the cases a curated fixture can't sweep). Reference: the same
    // stride-1 brute force the fixture law uses, on whatever repeats
    // the randomness produces (planted or accidental).
    (0 until 4).foreach { k =>
      val rng = new scala.util.Random(7919L * (k + 1))
      def rs(n: Int) = (0 until n)
        .map(_ => if (rng.nextBoolean()) 'a' else 'b').mkString
      val base = Array.tabulate(5)(_ => rs(30 + rng.nextInt(50)))
      val blk = rs(30 + rng.nextInt(15))
      def splice(t: String, b: String) = {
        val p = rng.nextInt(t.length + 1); t.take(p) + b + t.drop(p)
      }
      base(1) = splice(base(1), blk)
      base(3) = splice(base(3), blk)
      base(4) = splice(splice(base(4), blk), blk) // twice in one doc
      val docs = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_prop_substr$k").toString
      docs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length($"text"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = ops.ExtOps.substrExactSpans(s, dir).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)).sorted.toSeq
      val winCount = scala.collection.mutable.Map.empty[String, Int]
      for ((_, t) <- docs; i <- 0 to t.length - 30)
        winCount.updateWith(t.substring(i, i + 30))(
          c => Some(c.getOrElse(0) + 1))
      val expect = docs.flatMap { case (id, t) =>
        val covered = (0 to t.length - 30)
          .filter(i => winCount(t.substring(i, i + 30)) >= 2)
          .flatMap(i => i until i + 30).toSet
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        covered.toSeq.sorted.foreach { p =>
          runs.lastOption match {
            case Some((st, ln)) if st - 1 + ln == p =>
              runs(runs.size - 1) = (st, ln + 1)
            case _ => runs += ((p + 1L, 1L))
          }
        }
        runs.map { case (st, ln) => (id, st, ln) }
      }.sorted.toSeq
      assert(got === expect, s"case $k diverged (blk len ${blk.length})")
      assert(got.nonEmpty, s"case $k must contain planted spans")
    }
  }
}
