package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Fixture-table readers (SURVEY §1.2; schemas measured in FIXTURES.md).
  *
  * Every query in the engine reads its inputs through [[t]] so that the
  * scan path is uniform: parquet, columnar, vectorized, with Catalyst
  * free to push filters/projections down to the reader. At cluster
  * scale the same call sites work unchanged against an object-store
  * path — nothing here assumes local files.
  */
object Tables {
  /** The uniform signature of every declared query (SparkEntry contract). */
  type Q = (SparkSession, String) => DataFrame

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** THE cross-engine hash of the whole differential: a 60-bit value
    * from the first 15 hex chars of md5 (in-range for signed BIGINT),
    * identical in DuckDB as `CAST('0x' || substring(md5(x), 1, 15) AS
    * BIGINT)`. Defined ONCE — every split/mix/fingerprint query uses
    * this helper (or [[h60Sql]] inside expr strings) so the formula
    * can never drift between call sites. */
  def h60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  }

  /** [[h60]] spelled as a SQL fragment, for `expr(...)` lambdas. */
  def h60Sql(x: String): String =
    s"cast(conv(substring(md5($x), 1, 15), 16, 10) as bigint)"

  /** LAZY plan materialization point for the iterative operators
    * (LPA, ccStar, BPE, BFS, PageRank): a `localCheckpoint` — blocks on
    * executors, no lineage, written inside the first action that reads
    * them. It runs no job of its own only when its plan has no
    * exchange: under AQE a plan with shuffles runs every shuffle stage
    * when it is checkpointed, and only the final stage is left to the
    * consumer.
    *
    * A plan that already runs in ONE partition with no exchange (a
    * small plan [[graft.plans.SmallPlanRule]] rewrote, a limit seed) is
    * checkpointed here from its RDD, declaring `SinglePartition`, and
    * recording as its size the largest size among its scan and
    * checkpoint leaves. That keeps the rule's invariant across rounds:
    * a loop whose inputs fit under the bound keeps fitting, where
    * Catalyst's product-of-children estimate of a join over a join
    * compounds past `Long.MaxValue`. The bound holds for the |V|- and
    * |E|-sized tables of the graph family. This path skips `Dataset`'s
    * action wrapper, which would run no job here. Any other plan takes
    * the `Dataset` checkpoint unchanged.
    *
    * On a real cluster an executor loss mid-query forces a rerun of
    * the whole job (acceptable for these bounded-round jobs and
    * standard GraphFrames practice); a deployment that wants
    * fault-tolerant intermediates sets `spark.graft.reliableCheckpoint
    * =true` AND a `sparkContext.setCheckpointDir` — then every
    * checkpoint lands in the reliable store instead, lazily too.
    * Results are identical by construction — CkSpec pins it. */
  def ck(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.exchange.Exchange
    val s = df.sparkSession
    // Dev-only plan-dump aid: a (lazy) checkpoint rewrites the plan to
    // a LogicalRDD scan immediately, so `explain` on anything built
    // over a ck'd intermediate stops at `Scan ExistingRDD`.
    // `tools.Trace --plan` under `-Dspark.graft.explainNoCk=true` sees
    // the full operator tree; no measured or verified runner ever
    // sets it (it would change the execution shape the checkpoints
    // exist for).
    if (s.conf.getOption("spark.graft.explainNoCk").contains("true"))
      return df
    val reliable =
      s.conf.getOption("spark.graft.reliableCheckpoint").contains("true") &&
        s.sparkContext.getCheckpointDir.isDefined
    val qe = df.queryExecution
    // Under AQE the physical plan with its exchanges in place.
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (isSinglePartition(plan.outputPartitioning) &&
        !plan.exists(_.isInstanceOf[Exchange])) {
      val rdd = qe.toRdd.map(_.copy())
      assert(rdd.getNumPartitions == 1,
        s"a SinglePartition plan produced ${rdd.getNumPartitions} partitions")
      if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
      val opt = qe.optimizedPlan
      val leaves = opt.collectLeaves().collect {
        case l @ (_: LogicalRDD | _: LogicalRelation) => l.stats.sizeInBytes
      }
      val size = (opt.stats.sizeInBytes +: leaves.maxOption.toSeq).min
      Bridge.ofRows(s, Bridge.rddRelation(s, qe.analyzed.output, rdd,
        SinglePartition, plan.outputOrdering, size))
    }
    else if (reliable) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
  }

  private def isSinglePartition(
      p: org.apache.spark.sql.catalyst.plans.physical.Partitioning): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.{PartitioningCollection, SinglePartition}
    p match {
      case SinglePartition => true
      case PartitioningCollection(ps) => ps.exists(isSinglePartition)
      case _ => false
    }
  }

  /** Base DataFrames are cached per (session, dir, table): a DataFrame
    * is an immutable plan, and rebuilding it per query repeats file
    * listing + parquet schema inference — pure fixed overhead that at
    * 81 declared queries dominated the bench total (sf0.001 ≈ sf0.1).
    * The outer map is weak-keyed on the session so a stopped session's
    * plans can be GC'd (a long-lived JVM creating many short-lived
    * test sessions must not pin them all); the inner map is the plain
    * per-(dir, table) plan cache. */
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  /** Memoize a DERIVED table (a built plan, e.g. the symmetrized trade
    * graph) per (session, dir, key) in the same weak-keyed cache as the
    * base tables. Queries that share an expensive intermediate — the
    * three graph queries all rebuild the same orders⋈lineitem distinct
    * edge list — register it here so a multi-query run (a
    * `Runner.sweep`, DeterminismSpec) builds and persists it ONCE
    * instead of leaving one never-freed checkpoint block per query.
    * A memo lives until [[resetDerived]], which also drops every
    * persisted block of the SparkContext. Keys are prefixed so they
    * can't collide with base-table names. */
  def derived(spark: SparkSession, sfDir: String, key: String)
             (build: => DataFrame): DataFrame = {
    // NOT computeIfAbsent: derived builds recurse into this cache
    // (tradeDeg -> tradeEdges -> t(orders/lineitem)), and a nested
    // computeIfAbsent on the same ConcurrentHashMap violates its
    // contract — when the inner key hashes to a bin holding the
    // in-flight reservation it throws IllegalStateException
    // ("Recursive update"); cold single-query runs hit this
    // deterministically. Build OUTSIDE the map update; a racing
    // duplicate build is harmless (first put wins, plans are
    // immutable).
    val m = perSessionMap(spark)
    val k = (sfDir, "derived:" + key)
    val existing = m.get(k)
    if (existing != null) existing
    else {
      val built = build
      val prev = m.putIfAbsent(k, built)
      if (prev != null) prev else built
    }
  }

  /** Multi-query-harness hygiene (`Runner.sweep`, at each family
    * boundary): forget this session's derived-plan memos and drop
    * every persisted block of the SparkContext — the blocks of every
    * session on it, not only this one's. The derived plans are
    * localCheckpointed — once their blocks are unpersisted the
    * truncated lineage cannot recompute them, so the memo entries MUST
    * go with the blocks; another session sharing the context must
    * forget its memos too before it reads them again. Queries
    * themselves never call this (the `(SparkSession, String) =>
    * DataFrame` contract has no after-action hook); a harness calls it
    * between queries so a full-surface JVM doesn't accumulate one
    * never-freed checkpoint block set per graph/text query — pure GC
    * pressure by the time the next query runs. */
  def resetDerived(spark: SparkSession): Unit = {
    perSessionMap(spark).keySet.removeIf(_._2.startsWith("derived:"))
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  /** The keys of this session's live derived-plan memos. */
  private[graft] def derivedKeys(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    perSessionMap(spark).keySet.asScala.collect {
      case (_, k) if k.startsWith("derived:") => k.stripPrefix("derived:")
    }.toSet
  }

  private def perSessionMap(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame] =
    cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        cache.put(spark, m)
      }
      m
    }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    perSessionMap(spark).computeIfAbsent((sfDir, name), { case (d, n) =>
      // events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark
      // 4's reader rejects outright (PARQUET_TYPE_ILLEGAL) unless read
      // as raw longs via the legacy conf; harmless for other types.
      if (n == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$d/$n.parquet")
      // Prime the fresh-read schema memo for free — this read already
      // paid the footer inference.
      rawSchema.putIfAbsent((d, n), raw.schema)
      conform(n, raw)
    })
  }

  /** `spark.sql(text)` with each ``parquet.`<sfDir>/<table>.parquet` ``
    * read in it bound to this session's cached [[t]] relation, through
    * one temp view per (dir, table), bound before the first query that
    * reads it. A SQL-text read lists its files and runs a footer-schema
    * job every time it is analyzed; the view resolves to the plan [[t]]
    * built once. */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    val read = ("parquet\\.`" + java.util.regex.Pattern.quote(sfDir) +
      "/(\\w+)\\.parquet`").r
    spark.sql(read.replaceAllIn(text, m => view(spark, sfDir, m.group(1))))
  }

  private def view(spark: SparkSession, sfDir: String, name: String): String = {
    val v = s"graft_${name}_" + sfDir.replaceAll("[^A-Za-z0-9_]", "_")
    val m = perSessionMap(spark)
    if (!m.containsKey((sfDir, "view:" + name))) {
      // Bound before it is marked, so a concurrent query never reads
      // the name unbound; a racing rebind binds the same plan.
      val df = t(spark, sfDir, name)
      df.createOrReplaceTempView(v)
      m.put((sfDir, "view:" + name), df)
    }
    v
  }

  /** Memoized CHILD session per (parent, purpose). A child session
    * (shared SparkContext, own conf) lets one query pin
    * execution-affecting confs — runtime-filter thresholds, a state
    * store provider — without leaking them into any other query. But
    * creating one per invocation both re-pays SessionState setup and
    * accumulates dead sessions in this object's weak-keyed plan cache
    * (cached DataFrames strongly reference their session, so entries
    * keyed by a throwaway child are pinned as long as the map holds
    * them); one child per (parent, purpose) caps that at O(purposes).
    * Confs are applied on creation only — a purpose key always carries
    * the same conf set. */
  private val children =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, SparkSession]]()

  def childSession(parent: SparkSession, purpose: String)
      (confs: (String, String)*): SparkSession = {
    val m = children.synchronized {
      var mm = children.get(parent)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()
        children.put(parent, mm)
      }
      mm
    }
    m.computeIfAbsent(purpose, { _ =>
      val c = parent.newSession()
      confs.foreach { case (k, v) => c.conf.set(k, v) }
      c
    })
  }

  /** A parquet directory written once per JVM, read with its schema
    * memoized in [[rawSchema]] (keyed by the directory and no table):
    * only its first read runs the footer-inference job. */
  def written(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(rawSchema.computeIfAbsent((dir, ""),
      { case (d, _) => spark.read.parquet(d).schema })).parquet(dir)

  /** Raw (pre-conform) parquet schema per (dir, table): a `fresh`
    * read per query repeats driver-side file listing + footer schema
    * inference — pure fixed overhead, skipped by passing the schema
    * explicitly on every read after the first. Fixture files never
    * change within a JVM, so a global memo is safe. */
  private val rawSchema = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** The shared read preamble of [[fresh]] and [[stream]]: any
    * reader-level legacy conf the fixture needs (events ships
    * TIMESTAMP(NANOS)), then the memoized raw schema — one place, so
    * batch and streaming reads can never drift on fixture handling. */
  private def pinnedSchema(spark: SparkSession, sfDir: String, name: String)
      : org.apache.spark.sql.types.StructType = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rawSchema.computeIfAbsent((sfDir, name),
      { case (d, n) => spark.read.parquet(s"$d/$n.parquet").schema })
  }

  /** Like [[t]] but NEVER plan-cached: a fresh read with fresh
    * attribute ids. The plan cache intentionally shares one DataFrame
    * instance per (dir, table), which makes the two sides of a
    * self-join carry IDENTICAL attribute ids — fine for the built-in
    * join API (the analyzer deduplicates) but ill-formed for custom
    * logical nodes built post-analysis (plans/AsofJoin.scala).
    * Self-join callers read one side through this. */
  def fresh(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema = pinnedSchema(spark, sfDir, name)
    conform(name, spark.read.schema(schema).parquet(s"$sfDir/$name.parquet"))
  }

  /** Like [[fresh]] but as a STREAMING source: the same fixture file
    * read through the file stream source (schema pinned from the memo
    * — required: streaming reads never infer), conformed through the
    * same drift guard, so a `q_stream_*` row can run a REAL
    * Structured Streaming query over the identical bytes its batch
    * oracle reads. At scale the path is the landing directory new
    * files arrive in; the source discovers and checkpoints them
    * incrementally. */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema = pinnedSchema(spark, sfDir, name)
    // The fixture is a single FILE; the file stream source wants a
    // directory (its basePath). A brace-glob keeps the match exact
    // while making the parent dir the basePath — the same call works
    // unchanged when the path really is a landing directory.
    conform(name,
      spark.readStream.schema(schema).parquet(s"$sfDir/{$name.parquet}"))
  }

  /** The logical schema every query in the engine is written against,
    * exactly as Spark inferred it from the driver's fixtures
    * (FIXTURES.md; re-measured 2026-08-13 with tools/PrintSchemas).
    * [[conform]] pins reads to this so a driver-side fixture
    * regeneration surfaces as ONE clear line, not N cryptic
    * per-query analysis errors. */
  private[graft] val expectedDdl: Map[String, String] = Map(
    "region" -> "r_regionkey INT,r_name STRING",
    "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer" -> ("c_custkey BIGINT,c_name STRING,c_nationkey INT," +
      "c_acctbal DOUBLE,c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING," +
      "p_size INT,p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING," +
      "o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT," +
      "l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE," +
      "l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING," +
      "l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT,ts TIMESTAMP,user_id BIGINT," +
      "event_type STRING,value DOUBLE,props STRING"),
    "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT")

  /** Schema-drift guard: conform a freshly-read fixture to
    * [[expectedDdl]].
    *
    * The driver regenerates fixtures between rounds and has already
    * flipped `events.ts` ns→µs once (breaking 31 queries with cryptic
    * per-query analysis errors). Policy, per column:
    *   - exact type match → pass through;
    *   - timestamp-family drift (TIMESTAMP ↔ TIMESTAMP_NTZ, or raw
    *     nanos longs from the legacy conf) → normalize to the pinned
    *     type and log one line. Session tz is pinned UTC everywhere,
    *     so NTZ↔LTZ casts preserve the instant and DuckDB (which
    *     reads the same file natively) still agrees;
    *   - anything else (missing column, numeric/string type change)
    *     → fail fast with the full measured-vs-expected diff;
    *   - extra columns → keep + log (queries select by name, so new
    *     driver columns are benign until a query asks for them).
    */
  private[graft] def conform(name: String, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val expected = StructType.fromDDL(expectedDdl(name))
    val drift = scala.collection.mutable.ListBuffer.empty[String]
    val note = scala.collection.mutable.ListBuffer.empty[String]
    def isTsFamily(dt: DataType): Boolean =
      dt == TimestampType || dt == TimestampNTZType
    var df =
      if (name == "events" && raw.schema.exists(f =>
          f.name == "ts" && f.dataType == LongType)) {
        // Legacy nanos-as-long read: truncate to µs — what DuckDB does
        // with the same file, so the engines agree to the microsecond.
        // Guarded by magnitude: epoch-NANOS for 1990–2100 live in
        // ~[6.3e17, 4.2e18]; a future fixture that ships genuine
        // int64-MICROseconds (~[6.3e14, 4.2e15]) must fail fast here,
        // not get silently scaled 1000x off. raise_error keeps the
        // check lazy (no extra action per read) but loud on first use.
        note += s"$name.ts: raw TIMESTAMP(NANOS) longs, truncated to µs"
        val loNs = 631152000000000000L   // 1990-01-01 in epoch nanos
        val hiNs = 4102444800000000000L  // 2100-01-01 in epoch nanos
        raw.withColumn("ts",
          when(raw("ts").isNull, lit(null).cast("timestamp"))
            .when(raw("ts").between(loNs, hiNs),
              timestamp_micros(expr("ts div 1000")))
            .otherwise(raise_error(format_string(
              "[graft] events.ts long value %s is outside the plausible " +
                "epoch-nanos range - the fixture likely changed encoding " +
                "(int64 micros?); re-measure with tools/PrintSchemas and " +
                "update Tables.conform", raw("ts")))))
      } else raw
    // A measured type may be normalized to the expected one iff the
    // cast is lossless: timestamp-family moves (NTZ↔LTZ under the UTC
    // session, DATE→timestamp midnight), integral widening, FLOAT→
    // DOUBLE. Anything lossy (narrowing, string↔numeric) must fail.
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (f, t) if isTsFamily(f) && isTsFamily(t) => true
      case (DateType, t) if isTsFamily(t) => true
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType, IntegerType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    expected.foreach { exp =>
      df.schema.find(_.name == exp.name) match {
        case None =>
          drift += s"missing column ${exp.name} (expected ${exp.dataType.sql})"
        case Some(f) if f.dataType == exp.dataType => ()
        case Some(f) if widens(f.dataType, exp.dataType) =>
          note += s"$name.${exp.name}: ${f.dataType.sql} -> ${exp.dataType.sql}"
          df = df.withColumn(exp.name, df(exp.name).cast(exp.dataType))
        case Some(f) =>
          drift += s"column ${exp.name}: found ${f.dataType.sql}, " +
            s"expected ${exp.dataType.sql}"
      }
    }
    df.schema.filterNot(f => expected.exists(_.name == f.name))
      .foreach(f => note += s"$name.${f.name}: extra column (${f.dataType.sql}), kept")
    if (drift.nonEmpty)
      throw new IllegalStateException(
        s"[graft] fixture schema drift in table '$name': " +
          drift.mkString("; ") +
          s". The driver likely regenerated /root/testdata — re-measure with " +
          s"`runMain graft.tools.PrintSchemas` and update Tables.expectedDdl " +
          s"(and any queries the change invalidates).")
    note.foreach(m => System.err.println(s"[graft] fixture note: $m"))
    df
  }
}
