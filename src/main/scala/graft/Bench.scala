package graft

import java.nio.file.{Files, Paths}

/** Benchmark harness: wall-clock per declared query at the driver's
  * scale factor (SURVEY §6). One JSON line on stdout AND a plain
  * `bench.json` file in the cwd so the driver can parse the result
  * even when sbt decorates stdout with [info] prefixes.
  *
  * Failures are not folded into timings: a failing query records -1.0
  * and its name lands in `errors`; the `total` covers successful
  * queries only.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The shared engine posture (EngineSession) carries every
    // execution-affecting conf — see its scaladoc for the rationale
    // per flag; a runner must never re-enumerate them.
    val spark = EngineSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The one untimed warm-up, mirrored by perfbench's Agent.
    Runner.warmTables(spark, sfDir)

    // PASSES full sweeps (Runner.sweep); each row reports its MINIMUM
    // across passes. One-run totals swing by tens of percent on
    // identical code (scheduler and GC jitter of back-to-back rows);
    // the minimum is never better than a time the plan achieved, and
    // pass 1 carries every first-use cost (JIT, codegen, layout builds).
    // bench.json is rewritten after every pass, so a wall-clock kill of
    // a later pass still leaves a complete result on disk.
    val passes =
      math.max(1, sys.env.getOrElse("GRAFT_BENCH_PASSES", "2").toInt)
    val ordered = SparkEntry.queries.keys.toSeq.sorted
    val best = scala.collection.mutable.Map.empty[String, Double]
    def record(took: Map[String, Double]): Unit = took.foreach { case (k, v) =>
      best(k) = math.min(best.getOrElse(k, Double.MaxValue), v)
    }
    // errors: declared rows that have not yet succeeded, recomputed at
    // every snapshot so a pass-1 failure shows in the pass-1 bench.json.
    def failed: Set[String] = ordered.filterNot(best.contains).toSet
    // The streaming child-session rows (RocksDB / transformWithState
    // providers) carry a provider-startup variance min-of-passes
    // under-samples, so exactly these rows get one extra timed sweep,
    // declared in the artifact as extra_pass_rows.
    val streamExtra = Seq("q_stream_rocksdb", "q_stream_tws",
      "q_stream_tws_list", "q_stream_sink")
    // Completed full sweeps, declared as n_windows: minima only fall as
    // samples grow, so comparisons must carry their sampling depth (a
    // merge of several bench files sums the counts).
    var sweepsDone = 0
    def render(results: Seq[(String, Double)], errors: Set[String])
        (fmt: Double => String): String = {
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val errJson =
        errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val extraJson = streamExtra.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // the total is what the acceptance gate reads — keep it at full
      // 3-decimal precision even when per-query values degrade
      val tot = String.format(java.util.Locale.ROOT, "%.3f", Double.box(total))
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":$qs,"errors":$errJson,"extra_pass_rows":$extraJson,"n_windows":$sweepsDone,"sf":"$sfDir"}"""
    }
    // "_"-prefixed entries are separately timed shared-memo builds
    // (Runner.MemoStep), not declared rows: they count toward the total,
    // so a family's shared cost is not charged to its first row.
    def snapshot: Seq[(String, Double)] =
      ordered.map(name => name -> best.getOrElse(name, -1.0)) ++
        best.toSeq.filter(_._1.startsWith("_")).sortBy(_._1)
    def write(): Unit = Files.writeString(Paths.get("bench.json"),
      render(snapshot, failed)(_.toString) + "\n")
    for (_ <- 1 to passes) {
      record(Runner.sweep(spark, sfDir, ordered, "bench")((_, df) => df.count()))
      sweepsDone += 1
      // Full precision to the plain file; the stdout line below stays
      // compact: a caller that keeps only the last ~2000 chars of stdout
      // must still find the whole line there, with sbt's trailer.
      write()
    }
    record(Runner.sweep(spark, sfDir, streamExtra, "bench")((_, df) => df.count()))
    write()
    val results = snapshot
    val errJson =
      failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    def fixed(d: Int)(v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))
    // Last resort drops the per-query map (full precision always lives
    // in bench.json) — a parseable total beats an unparseable detail.
    val noMap =
      s"""{"metric":"total","value":${fixed(3)(total)},"unit":"sec","queries":{},"errors":$errJson,"sf":"$sfDir"}"""
    val line = Seq(render(results, failed)(fixed(3)),
        render(results, failed)(fixed(2)), render(results, failed)(fixed(1)),
        noMap)
      .find(_.length <= 1800).getOrElse(noMap)
    spark.stop()
    // After spark.stop() so no executor log lines trail it on stdout.
    System.out.println(line)
  }
}
