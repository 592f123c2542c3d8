package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge
import graft.{EngineSession, Runner, SparkEntry}
import graft.ops.Tables
import graft.plans.SmallPlanRule

/** Per-query trace under the engine posture Bench times: warms the
  * tables once (`Runner.warmTables`, as Bench does), then per rep of
  * each named query prints one line splitting its wall time into
  * DataFrame build, physical planning (`queryExecution.executedPlan`)
  * and the timed `.count()`, plus the jobs/stages/tasks it ran, the
  * summed job time and the driver gap (wall minus that sum: planning,
  * broadcast waits, scheduling), and the RDD blocks (checkpoint and
  * persisted partitions) it wrote with their bytes. Every rep starts from
  * `Tables.resetDerived`, so every rep does the same work, shared memo
  * builds included.
  *
  * `--plan` prints each query's formatted plan, its join/exchange
  * operator counts, and one `RULE` line per plan the optimizer saw
  * while building and planning it (`plans.SmallPlanRule`: fired, or
  * unchanged with the reason, with the file bytes of its parquet scans
  * and the bytes of its checkpoint and local leaves, against the
  * broadcast threshold); `reps` = 0 prints plans only.
  * Confs are A/B'd through `-Dspark.*` system properties, which
  * `SparkConf` loads — `-Dspark.graft.explainNoCk=true` prints through
  * the memos' lazy checkpoint boundaries (see
  * `Tables.ck`).
  *
  * usage: runMain graft.tools.Trace <sfDir> <q1,q2,...> [reps] [--plan]
  */
object Trace {
  def main(args: Array[String]): Unit = {
    val plan = args.contains("--plan")
    val pos = args.filterNot(_ == "--plan")
    val names =
      pos.lift(1).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Runner.requireArgs(names.nonEmpty && pos.length <= 3 &&
        pos.drop(2).forall(_.matches("\\d+")), names,
      "runMain graft.tools.Trace <sfDir> <q1,q2,...> [reps] [--plan]")
    val sfDir = pos(0)
    val reps = if (pos.length > 2) pos(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.builder(s"local[$cpus]", cpus).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    Runner.warmTables(spark, sfDir)

    val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobMs = new java.util.concurrent.atomic.AtomicLong()
    val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger()
    val blocks = new java.util.concurrent.atomic.AtomicInteger()
    val blockBytes = new java.util.concurrent.atomic.AtomicLong()
    val decisions = new java.util.concurrent.ConcurrentLinkedQueue[SmallPlanRule.Decision]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { t =>
          jobs.incrementAndGet(); jobMs.addAndGet(j.time - t)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
        val i = b.blockUpdatedInfo
        if (i.blockId.isRDD && i.storageLevel.isValid) {
          blocks.incrementAndGet(); blockBytes.addAndGet(i.memSize + i.diskSize)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case d: SmallPlanRule.Decision => decisions.add(d)
        case _ =>
      }
    })

    names.foreach { q =>
      val fn = SparkEntry.queries(q)
      if (plan) {
        Tables.resetDerived(spark)
        Bridge.drainListeners(sc)
        decisions.clear()
        val df = fn(spark, sfDir)
        println(s"=== $q ===")
        df.explain("formatted")
        Bridge.drainListeners(sc)
        decisions.forEach { d =>
          println(s"RULE $q: " +
            (if (d.fired) "fired" else s"unchanged (${d.reason})") +
            s", scan ${d.scanBytes} B + held ${d.heldBytes} B" +
            s" vs threshold ${d.threshold} B")
        }
        val p = df.queryExecution.executedPlan.toString
        def c(op: String) = op.r.findAllIn(p).length
        println(s"PLAN $q bhj=${c("BroadcastHashJoin")} " +
          s"smj=${c("SortMergeJoin")} exch=${c("Exchange hashpartitioning")} " +
          s"cart=${c("CartesianProduct")} " +
          s"bnlj=${c("BroadcastNestedLoopJoin")} win=${c("Window")}")
      }
      (1 to reps).foreach { i =>
        Tables.resetDerived(spark)
        Bridge.drainListeners(sc)
        Seq(jobs, stages, tasks, blocks).foreach(_.set(0))
        jobMs.set(0); blockBytes.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val n = df.count()
        val t3 = System.nanoTime()
        Bridge.drainListeners(sc)
        val sumJobs = jobMs.get / 1e3
        println(f"[trace] $q rep $i: build ${(t1 - t0) / 1e9}%.3f s, " +
          f"plan ${(t2 - t1) / 1e9}%.3f s, exec ${(t3 - t2) / 1e9}%.3f s; " +
          f"${jobs.get} jobs (sum $sumJobs%.3f s), ${stages.get} stages, " +
          f"${tasks.get} tasks, gap ${(t3 - t0) / 1e9 - sumJobs}%.3f s; " +
          f"${blocks.get} blocks (${blockBytes.get / 1e6}%.3f MB); $n rows")
      }
    }
    spark.stop()
  }
}
