package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{EngineSession, SparkEntry}
import graft.ops.{GraphOps, Tables}

/** The measuring JVM of the benchmark. `run.py` builds the query plan
  * and turns this program's raw record into metrics; this side only
  * runs the plan and records what it observed.
  *
  * `--mode oracle --out F` writes the oracle SQL of the declared
  * queries. `--mode run` takes `--data DIR --plan FILE --out FILE
  * --cores N --warmups K --seconds S --max-seconds X --min-samples M
  * --trace 0|1`.
  * A plan file holds one step a line: `q <name>` runs a declared query
  * (build, then `.count()`), `memo` builds the shared graph memo,
  * `reset` drops the derived-table memos and `next` ends one pass's
  * plan. Pass i follows plan i modulo their number. A run has one cold
  * first pass, K warm-up passes, then timed passes until S seconds have
  * gone and at least M query latencies are pooled, or X seconds have
  * gone. Before each pass, untimed, the JVM collects garbage. Each
  * pass records its wall time, process CPU and the CPU of the JIT
  * compiler threads. With `--trace 1` a recorder traces the first
  * pass, the warm-ups and every other timed pass; the untraced timed
  * passes in between price the tracing.
  */
object Agent {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val record = opt("mode") match {
      case "oracle" => Map("oracle" -> SparkEntry.oracleSql)
      case "run" => new Run(opt).apply()
    }
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(record))
  }
}

private sealed trait Step
private case class Query(name: String) extends Step
private case object Memo extends Step
private case object Reset extends Step

private final class Run(opt: Map[String, String]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the JIT compiler threads have used, from their
    * utime and stime in /proc/self/task (Linux, 100 ticks a second).
    * The JVM hides these threads from ThreadMXBean. */
  private def jitCpuS: Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val stat = Files.readString(t.toPath.resolve("stat"))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.contains("CompilerThre")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case NonFatal(_) => 0.0 } // the thread ended meanwhile
    }.sum
  private val dir = opt("data")
  private val cores = opt("cores")
  private val trace = opt("trace") == "1"
  /** Pass i follows plan i % plans.size. */
  private val plans: Seq[Seq[Step]] = {
    val out = scala.collection.mutable.ListBuffer(List.empty[Step])
    scala.io.Source.fromFile(opt("plan")).getLines().map(_.trim)
      .filter(_.nonEmpty).foreach {
        case "next" => out += Nil
        case l => out(out.size - 1) :+= (l match {
          case "memo" => Memo
          case "reset" => Reset
          case q if q.startsWith("q ") => Query(q.drop(2).trim)
          case _ => sys.error(s"bad plan line: $l")
        })
      }
    out.filter(_.nonEmpty).toList
  }

  def apply(): Map[String, Any] = {
    val spark = EngineSession.builder(s"local[$cores]", cores).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val blocks = new BlockTracker
    sc.addSparkListener(blocks)
    val rec = if (trace) Some(new Recorder) else None
    rec.foreach { r => sc.addSparkListener(r); spark.listenerManager.register(r) }
    // Table warm-up, as graft.Bench does it: plans and parquet footers.
    Tables.names.foreach(n => Tables.t(spark, dir, n).count())
    val tablesMs = System.currentTimeMillis()

    var index = 0
    def pass(kind: String, traced: Boolean): Map[String, Any] = {
      val p = runPass(spark, blocks, rec, index, kind, traced)
      index += 1
      p
    }
    val first = pass("first", trace)
    val warmups = (1 to opt("warmups").toInt).map(_ => pass("warmup", trace))
    val setupEndMs = System.currentTimeMillis()

    val seconds = opt("seconds").toDouble
    val minSamples = opt("min-samples").toInt
    val timed = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def count(traced: Boolean) = timed.count(_("traced") == traced)
    def samples = timed.filter(_("traced") == false)
      .map(_("queries").asInstanceOf[Seq[_]].size).sum
    def enough =
      if (trace) count(true) >= 2 && count(false) >= 2
      else samples >= minSamples && timed.size >= 3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Past --max-seconds stop even if the sample floor is not reached;
    // run.py then reports the shortfall.
    val maxSeconds = opt("max-seconds").toDouble
    while ((elapsed < seconds || !enough) && elapsed < maxSeconds)
      timed += pass("timed", trace && timed.size % 2 == 0)
    spark.stop()
    val oracle = plans.flatten.collect { case Query(q) => q -> SparkEntry.oracleSql.get(q) }
    Map("jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs,
      "tables_ms" -> tablesMs, "setup_end_ms" -> setupEndMs,
      "cores" -> cores.toInt, "oracle" -> oracle.toMap,
      "passes" -> (Seq(first) ++ warmups ++ timed))
  }

  private def runPass(spark: SparkSession, blocks: BlockTracker,
      rec: Option[Recorder], index: Int, kind: String,
      traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    // Every pass starts from the same memory state: the collection lets
    // Spark's ContextCleaner free the blocks of earlier passes' RDDs,
    // which otherwise pile up and slow later passes.
    System.gc()
    Thread.sleep(200)
    org.apache.spark.perfbench.Bus.drain(sc)
    rec.foreach { r => r.take(); r.on = traced }
    blocks.startPass()
    val queries = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var memoS = 0.0
    val cpu0 = os.getProcessCpuTime
    val jit0 = jitCpuS
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    plans(index % plans.size).foreach {
      case Memo =>
        sc.setLocalProperty(Tags.Query, "_memo")
        sc.setLocalProperty(Tags.Phase, "memo")
        val m0 = System.nanoTime()
        GraphOps.warmSharedMemo(spark, dir)
        memoS += (System.nanoTime() - m0) / 1e9
      case Reset =>
        sc.setLocalProperty(Tags.Query, "_reset")
        sc.setLocalProperty(Tags.Phase, "reset")
        Tables.resetDerived(spark)
      case Query(name) =>
        sc.setLocalProperty(Tags.Query, name)
        sc.setLocalProperty(Tags.Phase, "build")
        val qStartMs = System.currentTimeMillis()
        val b0 = System.nanoTime()
        var b1 = 0L
        val result: Either[String, Long] =
          try {
            val df = SparkEntry.queries(name)(spark, dir)
            b1 = System.nanoTime()
            sc.setLocalProperty(Tags.Phase, "action")
            Right(df.count())
          } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage)) }
        val end = System.nanoTime()
        if (b1 == 0L) b1 = end
        queries += Map("name" -> name, "start_ms" -> qStartMs,
          "end_ms" -> System.currentTimeMillis(),
          "build_s" -> (b1 - b0) / 1e9, "action_s" -> (end - b1) / 1e9,
          "rows" -> result.toOption, "error" -> result.left.toOption)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val jitS = jitCpuS - jit0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    org.apache.spark.perfbench.Bus.drain(sc)
    val (peak, blockWrites, blockBytes) = blocks.snapshot
    val traceRecord =
      if (traced) rec.map(r => Map("trace" -> r.take())).getOrElse(Map.empty)
      else Map.empty
    Map("index" -> index, "kind" -> kind, "traced" -> traced,
      "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "jit_cpu_s" -> jitS, "compiles" -> compiles,
      "memo_s" -> memoS,
      "rdd_blocks" -> blockWrites, "rdd_block_bytes" -> blockBytes,
      "peak_cached_bytes" -> peak, "queries" -> queries.toList) ++ traceRecord
  }
}
