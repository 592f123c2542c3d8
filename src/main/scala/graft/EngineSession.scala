package graft

import org.apache.spark.sql.SparkSession

/** THE graft engine session posture, defined once.
  *
  * Every runner that executes declared queries (Bench, Verify, the
  * dev tools, the test session) must carry the same
  * execution-affecting confs, or a query can silently change access
  * path between runners — the round-13 lesson: q_text_bm25_serve's
  * bucket-pruned postings scan depends on
  * `autoBucketedScan.enabled=false`, and a runner that forgot the
  * flag degraded to a full postings scan with no error anywhere
  * (perf-only, caught only by PlanShapeSpec in the test session).
  * Copy-pasting the conf block into each main is exactly how a new
  * entry point drops one line; this builder is the single source.
  *
  * The posture:
  *  - `spark.sql.shuffle.partitions` = the runner's parallelism (32
  *    for measured runs — never the 200 default, which at local[32]
  *    just multiplies task-scheduling overhead);
  *  - UTC session timezone (the fixtures' TIMESTAMP_NTZ columns must
  *    mean the same instant in both engines);
  *  - `graft.GraftExtensions` (the native operator strategies and
  *    the small-plan rule);
  *  - parquet aggregate pushdown (unfiltered count/min/max answered
  *    from footers — Spark only rewrites when exact);
  *  - `autoBucketedScan.enabled=false` (bucketed tables are read AS
  *    bucketed even when no join needs the distribution, keeping
  *    BUCKET PRUNING available — the inverted-index access path);
  *  - whole-stage-codegen COMPILE CACHING actually enabled
  *    (round-16 optimization, guide §1 measured): Spark embeds the
  *    per-query codegen stage id in every generated class name
  *    (`useIdInClassName`, default true), so two structurally
  *    identical stages — every round of an iterative loop, every
  *    re-run of a query — generate DIFFERENT source text and the
  *    source-keyed janino cache can never hit: each round pays a
  *    fresh driver-side compile. With the id out of the class name
  *    identical shapes compile once per JVM. The default 100-entry
  *    cache LRU-thrashes under a 300+-query surface, so it is raised
  *    to 5000 (bounded: generated classes are tens of KB). This is
  *    NOT a local-scale tweak — driver compile latency is
  *    data-size-independent, so it prices every round of every
  *    iterative job at any scale. Measured (isolated graph family,
  *    min-of-3, sf0.1): 71.3 → 50.3 s; full sweep 227.8 → 180.3 s,
  *    with codegen still ON (disabling codegen outright measured the
  *    same 49.5 s locally but loses compiled execution at scale —
  *    rejected);
  *  - `spark.sql.maxSinglePartitionBytes` = `Long.MaxValue`: Spark
  *    applies that check only when every input of an operator is
  *    already one partition, which graft creates only on purpose — a
  *    plan `plans.SmallPlanRule` runs in one partition because its
  *    leaves fit under the broadcast threshold. There the check reads
  *    Catalyst's product estimate of a nested join, which is orders of
  *    magnitude above the real bytes, and would re-insert the shuffle
  *    the rule exists to remove;
  *  - a per-JVM temp warehouse (table-writing queries must never
  *    leave `spark-warehouse/` in the repo tree — [[TempWarehouse]]).
  */
object EngineSession {
  def builder(master: String, shufflePartitions: String)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.maxSinglePartitionBytes", Long.MaxValue.toString)
      .config("spark.sql.warehouse.dir", TempWarehouse.dir())
}
