package graft.ops

import org.apache.spark.sql.functions._
import Tables.{Q, t}

/** §2.1 Scans, sources, sinks — the identity-Mapper / counting-job
  * surface of the reference (SURVEY §2.1).
  *
  * Scale notes: both queries are scan-shaped. `q_scan_project` selects
  * 4 of lineitem's 11 columns behind a key predicate, so at 100 TB the
  * parquet reader prunes ~2/3 of the bytes (ReadSchema) and skips row
  * groups via min/max on l_orderkey (PushedFilters). `q_scan_count`
  * is pure parquet-footer metadata per table — no data bytes move.
  */
object Scans {

  /** One lock per export path (JVM-wide): the fixture exports below
    * are check-then-write (commit marker / file existence), so
    * concurrent sessions declaring the same export must serialize —
    * the same posture LayoutOps.ensureTable pins for tables; two
    * interleaved Spark overwrite jobs on one directory can corrupt
    * each other's staging. */
  private val exportLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def exportLock[A](key: String)(body: => A): A =
    exportLocks.computeIfAbsent(key, _ => new Object)
      .synchronized(body)

  val queries: Map[String, Q] = Map(
    // Projection + derived column + pushable key filter. The filter
    // and the 4-column ReadSchema both reach the parquet scan (plan-
    // shape asserted in ScansSpec). Per-row rounding of a 2-decimal
    // product lands on exact .xx5 ties, where Spark (shortest-repr
    // HALF_UP) and DuckDB (binary round) disagree — so round via
    // floor(x*100+0.5)/100, which is bit-identical IEEE math in both.
    "q_scan_project" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_orderkey" < 100)
        .select(
          $"l_orderkey", $"l_linenumber", $"l_quantity",
          (floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100
            + 0.5) / 100).as("disc_price"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // Row counts of all ten fixture tables in ONE lazy job: a global
    // count aggregate per table, unioned. count(*) resolves from
    // parquet footers; nothing is shuffled but ten 1-row partials.
    "q_scan_count" -> ((s, d) => {
      import s.implicits._
      Tables.names
        .map(n => t(s, d, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), $"n"))
        .reduce(_.unionByName(_))
        .orderBy($"tbl")
    }),

    // The non-parquet SOURCE surface as a declared, oracled row: the
    // dims are exported ONCE per (session, dir) — nation as headered
    // CSV, region as line-delimited JSON — then read back through
    // those formats with EXPLICIT schemas (the production posture:
    // format readers never re-infer per job) and joined against the
    // parquet fact. The result must equal the all-parquet oracle, so
    // both format readers' parsing is differentially checked, not
    // just round-tripped (SourcesSpec keeps the corrupt-record and
    // schema-evolution behaviors). Int/string dims only — no float
    // text formatting is on the path, so the CSV/JSON round-trip is
    // exact by construction. At 100 TB the same explicit-schema reads
    // run over landing-zone CSV/JSON before the first parquet
    // compaction; text sources split by line so scans stay parallel.
    "q_scan_multiformat" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val base = graft.TempWarehouse.path.resolve(s"multifmt_$tag")
      val (csvDir, jsonDir) =
        (base.resolve("nation_csv"), base.resolve("region_json"))
      // Guard each export on its COMMIT MARKER, not bare dir
      // existence: an aborted write job leaves the dir with partial
      // part files but no _SUCCESS, and a dir-existence guard would
      // then silently serve the incomplete export to every later
      // invocation in the JVM. Overwrite mode makes the redo safe.
      def committed(p: java.nio.file.Path) =
        java.nio.file.Files.exists(p.resolve("_SUCCESS"))
      // Export EXACTLY the expectedDdl columns, in ddl order: the CSV
      // read below applies its explicit schema POSITIONALLY (Spark's
      // default enforceSchema=true ignores the header), so a conform
      // policy that ever kept an extra or reordered fixture column
      // would otherwise silently misassign fields on the read path.
      val nationCols = org.apache.spark.sql.types.StructType
        .fromDDL(Tables.expectedDdl("nation")).fieldNames.map(col)
      exportLock(base.toString) {
        if (!committed(csvDir))
          t(s, d, "nation").select(nationCols.toIndexedSeq: _*)
            .write.option("header", "true")
            .mode("overwrite").csv(csvDir.toString)
        if (!committed(jsonDir))
          t(s, d, "region").write.mode("overwrite").json(jsonDir.toString)
      }
      val nation = s.read
        .schema(Tables.expectedDdl("nation"))
        .option("header", "true").csv(csvDir.toString)
      val region = s.read
        .schema(Tables.expectedDdl("region"))
        .json(jsonDir.toString)
      t(s, d, "customer")
        .join(nation, $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name").agg(
          count(lit(1)).as("n_customers"),
          (floor(avg($"c_acctbal") * 100 + 0.5) / 100).as("avg_bal"))
        .orderBy($"r_name")
    }),

    // ORC as a declared source format, completing the source matrix
    // (parquet native, CSV/JSON via q_scan_multiformat): the supplier
    // dim is exported ONCE per (session, dir) as ORC — a BINARY
    // columnar format, so the DOUBLE column round-trips bit-exactly
    // (no text formatting on the path, unlike CSV/JSON where floats
    // are deliberately kept out) — then read back with an explicit
    // schema and joined against parquet dims. ORC carries the same
    // scan-level machinery as parquet (column pruning, predicate
    // pushdown into stripe/row-group stats) — the s_acctbal filter
    // below reaches the ORC reader as a pushed filter, pinned in
    // SourcesSpec. The result must equal the all-parquet oracle, so
    // the ORC writer+reader pair is differentially checked.
    "q_scan_orc" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val dir = graft.TempWarehouse.path.resolve(s"supplier_orc_$tag")
      exportLock(dir.toString) {
        if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
          t(s, d, "supplier").write.mode("overwrite").orc(dir.toString)
      }
      val sup = s.read.schema(Tables.expectedDdl("supplier"))
        .orc(dir.toString)
      sup.where($"s_acctbal" > 1000.0)
        .join(t(s, d, "nation"), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name").agg(
          count(lit(1)).as("n_suppliers"),
          (floor(avg($"s_acctbal") * 100 + 0.5) / 100).as("avg_bal"))
        .orderBy($"n_name")
    }),

    // NESTED columnar layout as a declared source: the order⟶items[]
    // document shape — a struct column (cust) plus an array-of-struct
    // column (items) — written ONCE as parquet and read back through
    // Spark's NESTED SCHEMA PRUNING (nestedSchemaPruning, default-on
    // for parquet): the query touches cust.o_orderstatus and two item
    // leaves, so the scan's ReadSchema carries exactly those leaf
    // fields, not the whole structs (pinned in SourcesSpec) — at
    // 100 TB the difference between reading 3 leaf column chunks and
    // rehydrating every nested field of every item. The denormalized
    // write is itself the standard log/document-store trade:
    // pre-joining order⟶items at write time buys join-free reads
    // forever after. items is sort_array'd so the written file is
    // deterministic (collect_list order is not); equality with the
    // flat-join oracle differentially checks the nested writer +
    // reader + explode path end-to-end.
    "q_scan_nested" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val dir = graft.TempWarehouse.path.resolve(s"orders_nested_$tag")
      exportLock(dir.toString) {
        if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
          val items = t(s, d, "lineitem").groupBy($"l_orderkey")
            .agg(sort_array(collect_list(struct($"l_linenumber",
              $"l_quantity", $"l_extendedprice"))).as("items"))
          t(s, d, "orders")
            .select($"o_orderkey",
              struct($"o_custkey", $"o_orderstatus").as("cust"))
            .join(items, $"o_orderkey" === $"l_orderkey")
            .select($"o_orderkey", $"cust", $"items")
            .write.mode("overwrite").parquet(dir.toString)
        }
      }
      // Slim the item arrays BEFORE exploding: Spark's generator-input
      // pruning (GeneratorNestedColumnAliasing) bails on multi-field
      // extraction from the generator output, so a bare
      // explode($"items") reads ALL item leaves (and a transform()
      // lambda hides the extraction from the pruner too — lambda
      // field accesses aren't root ExtractValues). items.l_quantity
      // is a GetArrayStructFields extraction the pruner DOES rewrite:
      // project the two leaf arrays, zip, then explode — ReadSchema
      // carries exactly the 3 touched leaves (pinned in SourcesSpec).
      Tables.written(s, dir.toString)
        .select($"cust.o_orderstatus".as("status"),
          arrays_zip($"items.l_quantity".as("q"),
            $"items.l_extendedprice".as("p")).as("slim"))
        .select($"status", explode($"slim").as("it"))
        .where($"it.q" >= 45.0)
        .groupBy($"status").agg(
          count(lit(1)).as("n_items"),
          (floor(sum($"it.p") * 100 + 0.5) / 100).as("rev"))
        .orderBy($"status")
    }),

    // Malformed-input quarantine — the ingest posture for landing-zone
    // text data: a line-delimited JSON file containing the region dim
    // plus two CONTRACTUALLY corrupt lines (one type-broken, one
    // structurally broken) is read in PERMISSIVE mode with an explicit
    // corrupt-record column; good rows parse, bad rows land whole in
    // the quarantine column instead of failing the job (FAILFAST's
    // throw and the quarantined payloads themselves are asserted in
    // SourcesSpec). The release gate reports the good/bad split — at
    // 100 TB this is the per-batch ingest audit that decides whether a
    // landing file ships or goes back to the producer. The 5-row dim
    // render is a metadata-scale driver action (same class as
    // pagerank's |V|); the READ path is the distributed surface.
    "q_scan_badrecords" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val file = graft.TempWarehouse.path.resolve(s"badjson_$tag.json")
      exportLock(file.toString) { if (!java.nio.file.Files.exists(file)) {
        val good = t(s, d, "region").select($"r_regionkey", $"r_name")
          .collect().sortBy(_.getInt(0)).map(r =>
            s"""{"r_regionkey":${r.getInt(0)},"r_name":"${r.getString(1)}"}""")
        val bad = Seq("""{"r_regionkey":"not-a-number","r_name":}""",
          "{broken")
        // Write-then-ATOMIC_MOVE, same posture as q_scan_multiformat's
        // commit marker: a Files.write that dies partway must not
        // leave a truncated payload that later invocations in this
        // JVM would silently serve (corrupting n_good/n_bad). The tmp
        // name is PER-INVOCATION unique (createTempFile in the same
        // directory, so the move stays a same-filesystem rename):
        // concurrent sessions that both pass the exists guard then
        // each commit their own complete payload — last rename wins
        // with identical bytes — instead of racing on one shared tmp
        // (truncated commit for one, NoSuchFileException for the
        // other).
        val tmp = java.nio.file.Files.createTempFile(
          file.getParent, file.getFileName.toString, ".tmp")
        java.nio.file.Files.write(tmp,
          (good ++ bad).mkString("\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, file,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } }
      // n_good counts the parsed key column (corrupt rows parse it to
      // NULL) — deliberately referencing a DATA column alongside the
      // quarantine column: Spark refuses a query whose referenced
      // columns are ONLY the corrupt-record column
      // (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
      s.read
        .schema("r_regionkey INT,r_name STRING,_bad STRING")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(file.toString)
        .agg(count($"r_regionkey").as("n_good"),
          sum(when($"_bad".isNotNull, 1L).otherwise(0L)).as("n_bad"))
    }),

    // PARQUET SCHEMA EVOLUTION — the source-surface reality every
    // long-lived 100 TB table hits: files written before a column
    // existed sit next to files written after, and the reader must
    // union the schemas (absent columns → NULL) instead of failing or
    // silently dropping data. Landing layout is contractual: epoch v1
    // writes region-derived rows WITHOUT the `extra` column, epoch v2
    // writes them WITH it; one read with mergeSchema=true spans both
    // epochs and the rollup counts rows and non-null `extra` per
    // epoch. At scale, mergeSchema's footer-union cost is why
    // production tables pin schemas in a catalog — the READER
    // semantics under drift are what this row pins (per-file schemas
    // differ; the union schema serves NULLs for pre-evolution files).
    "q_scan_evolution" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val dir = graft.TempWarehouse.path.resolve(s"evo_$tag")
      exportLock(dir.toString) {
        if (!java.nio.file.Files.isDirectory(dir)) {
          val tmp = java.nio.file.Files.createTempDirectory(
            graft.TempWarehouse.path, s"evo_$tag")
          val base = t(s, d, "region")
            .select($"r_regionkey".as("k"), $"r_name".as("nm"))
          base.withColumn("epoch", lit(1))
            .coalesce(1).write.mode("overwrite")
            .parquet(tmp.resolve("e1").toString)
          base.withColumn("epoch", lit(2))
            .withColumn("extra", length($"nm").cast("long"))
            .coalesce(1).write.mode("overwrite")
            .parquet(tmp.resolve("e2").toString)
          try java.nio.file.Files.move(tmp, dir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileSystemException
              if java.nio.file.Files.isDirectory(dir) =>
            org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
          }
        }
      }
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/e1", s"$dir/e2")
        .groupBy($"epoch").agg(
          count(lit(1)).as("n_rows"),
          count($"extra").as("n_extra"),
          sum(coalesce($"extra", lit(0L))).as("sum_extra"))
        .orderBy($"epoch")
    }),

    // The binaryFile SOURCE — Spark's whole-file ingestion path for
    // multimodal payloads (images/audio land as (path, modTime, length,
    // content) rows; this is how a 100 TB image corpus enters the
    // engine before q_multimodal_* take over). Landing files are
    // contractual, the q_scan_badrecords pattern: one payload per
    // region row (r_name repeated r_regionkey+2 times), written once
    // per JVM behind the export lock with a tmp-dir + atomic rename so
    // a mid-write kill can't serve truncated blobs. The oracle derives
    // every column arithmetically from the region table — the compare
    // proves the reader returned exactly the bytes the contract wrote.
    // Scale: binaryFile parallelizes per FILE (maxPartitionBytes packs
    // small files per task); content is never shuffled here — the
    // projection reduces each blob to metadata + head byte at the scan.
    "q_scan_binaryfile" -> ((s, d) => {
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val dir = graft.TempWarehouse.path.resolve(s"blobs_$tag")
      exportLock(dir.toString) {
        if (!java.nio.file.Files.isDirectory(dir)) {
          val rows = t(s, d, "region").select($"r_regionkey", $"r_name")
            .collect()
          val tmp = java.nio.file.Files.createTempDirectory(
            graft.TempWarehouse.path, s"blobs_$tag")
          rows.foreach { r =>
            java.nio.file.Files.write(
              tmp.resolve(s"blob_${r.getInt(0)}.bin"),
              (r.getString(1) * (r.getInt(0) + 2)).getBytes("UTF-8"))
          }
          try java.nio.file.Files.move(tmp, dir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileSystemException
              if java.nio.file.Files.isDirectory(dir) => // lost the race
            org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
          }
        }
      }
      s.read.format("binaryFile").load(dir.toString)
        .select(element_at(split($"path", "/"), -1).as("fname"),
          $"length".as("n_bytes"),
          expr("ascii(substring(decode(content, 'UTF-8'), 1, 1))")
            .as("head_byte"))
        .orderBy($"fname")
    }),

    // The SQL front door: the TPC-H-Q3-shaped shipping-priority query
    // submitted as SQL TEXT through spark.sql over registered views —
    // every other declared query drives the DataFrame API; a user
    // porting a SQL workload needs this entry point to produce the
    // SAME Catalyst plans (it does: identical logical plan, same
    // broadcast-dim join strategy). The SQL text is shared with the
    // DuckDB oracle; on the Spark side only the table names are
    // rewritten to DIR-SCOPED temp-view names — temp views are
    // session-global mutable state, and plain names would let two
    // concurrent runs against different fixture dirs race.
    "q_sql_q3" -> ((s, d) => {
      // The tag is the SANITIZED FULL dir, not a 32-bit hash — hash
      // collisions would silently point two dirs' runs at one view.
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val sql = Seq("customer", "orders", "lineitem").foldLeft(sqlQ3) {
        (acc, n) =>
          t(s, d, n).createOrReplaceTempView(s"graft_${n}_$tag")
          acc.replaceAll(s"\\b$n\\b", s"graft_${n}_$tag")
      }
      s.sql(sql)
    }),

    // TPC-H Q5 shape — local-supplier revenue by nation: the classic
    // SIX-table star-plus-snowflake join (lineitem at the center;
    // orders/customer up the order path; supplier/nation/region down
    // the geography path; customer and supplier constrained to the
    // SAME nation). ONE SQL string runs verbatim on both engines (the
    // q_sql_q3 move), so what's under test is Catalyst's whole
    // multi-join pipeline: region/nation/supplier/customer all
    // broadcast (dims), lineitem⋈orders is the one big keyed join,
    // join REORDERING pushes the region filter through nation before
    // any fact-side work, and the same aggregate shuffles once on
    // n_name. At 100 TB this is the plan the optimizer must find on
    // its own — no hints in the SQL, deliberately.
    "q_sql_q5" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val sql = Seq("customer", "orders", "lineitem", "supplier",
        "nation", "region").foldLeft(sqlQ5) { (acc, n) =>
          t(s, d, n).createOrReplaceTempView(s"graft_${n}_$tag")
          acc.replaceAll(s"\\b$n\\b", s"graft_${n}_$tag")
      }
      s.sql(sql)
    }),

    // TPC-H Q18 shape — large-volume customers: the AGGREGATION-
    // DERIVED-FILTER plan q_sql_q3/q5 don't exercise. The IN-subquery
    // is itself a grouped HAVING over the FACT table, so Catalyst
    // must plan two coordinated passes over lineitem: the inner
    // group-by collapses to qualifying orderkeys (partial-aggregable,
    // tiny result), which then SEMI-join back against the same fact —
    // at 100 TB the inner aggregate is the cheap pass and the
    // re-join is keyed on its shrunken output, never fact×fact.
    "q_sql_q18" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val sql = Seq("customer", "orders", "lineitem")
        .foldLeft(sqlQ18) { (acc, n) =>
          t(s, d, n).createOrReplaceTempView(s"graft_${n}_$tag")
          acc.replaceAll(s"\\b$n\\b", s"graft_${n}_$tag")
      }
      s.sql(sql)
    }),

    // TPC-H Q10 shape — returned-item reporting: the SELECTIVE-FACT
    // top-k the other SQL rows don't cover (Q3 filters the dim, Q18
    // derives its filter from an aggregate): here BOTH fact tables
    // carry predicates (quarter window on orders, returnflag on
    // lineitem), and the plan's shape at 100 TB is filter-pushdown on
    // both scans → keyed fact⋈fact join on the SHRUNKEN sides → small
    // dim broadcasts (customer groups, nation name) → TakeOrdered 20.
    // SQL PIPE SYNTAX (Spark 4.0's |> operators) — the linear
    // "table-in, table-out" query form: each |> stage consumes the
    // previous stage's result, so the query reads in execution order
    // (scan → filter → aggregate → post-filter → sort) instead of
    // inside-out SQL nesting. Semantics are IDENTICAL to the nested
    // form — Catalyst lowers pipes to the same plan, which is exactly
    // what the plain-SQL oracle differentially proves. The post-
    // AGGREGATE WHERE is the HAVING shape; rev rounds via the house
    // floor-cent form before the gate so both engines compare the
    // same doubles.
    "q_sql_pipe" -> ((s, d) => {
      Tables.sql(s, d, s"""
        FROM parquet.`$d/lineitem.parquet`
        |> WHERE l_quantity >= 30
        |> AGGREGATE count(*) AS n_items,
             FLOOR(SUM(l_extendedprice) * 100 + 0.5) / 100 AS rev
           GROUP BY l_returnflag
        |> WHERE n_items > 100
        |> ORDER BY l_returnflag
      """)
    }),

    // COLLATION-AWARE grouping (Spark 4.0 collations): a mixed-case
    // key (half the docs carry upper(lang)) grouped under the
    // UTF8_LCASE collation — the engine-level answer to "case-
    // insensitive key" that at 100 TB beats wrapping every reference
    // in lower() (the collation rides the column type through joins,
    // aggregates, and shuffles, and comparisons stay codegen'd). The
    // grouped key's surface case is engine-dependent, so the output
    // carries min(raw) as the deterministic representative plus a
    // collated equality probe; the oracle lowers the key instead —
    // equality proves the collation semantics.
    "q_expr_collate" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          when($"doc_id" % 2 === 0, upper($"lang")).otherwise($"lang")
            .as("langm"))
        .groupBy(collate($"langm", "UTF8_LCASE").as("lk"))
        .agg(count(lit(1)).as("n_docs"),
          min($"langm").as("rep"),
          sum(when(collate($"langm", "UTF8_LCASE") === lit("EN"), 1L)
            .otherwise(0L)).as("n_en_ci"))
        .select($"rep", $"n_docs", $"n_en_ci")
        .orderBy($"rep")
    }),

    "q_sql_q10" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val sql = Seq("customer", "orders", "lineitem", "nation")
        .foldLeft(sqlQ10) { (acc, n) =>
          t(s, d, n).createOrReplaceTempView(s"graft_${n}_$tag")
          acc.replaceAll(s"\\b$n\\b", s"graft_${n}_$tag")
      }
      s.sql(sql)
    }),

    // CUSTOM DATASOURCE V2 — the engine-extension surface for data
    // behind an API/generator instead of files (sources/SeqSource): a
    // full TableProvider with slice-parallel planInputPartitions,
    // SupportsPushDownRequiredColumns (the reader never materializes
    // unprojected columns) and SupportsPushDownFilters whose id-range
    // bounds become PARTITION PRUNING (6 of 16 slices survive the
    // filter below — PlanShapeSpec pins the scan description's
    // kept/total). Filters stay residuals (Spark re-applies them), so
    // pruning can only remove work, never correctness. The generated
    // table is deterministic arithmetic, so DuckDB's generate_series
    // replays it exactly.
    "q_scan_dsv2" -> ((s, d) => {
      import s.implicits._
      s.read.format("graft.sources.SeqSource")
        .option("n", 100000L).option("slices", 16)
        .load()
        .where($"id" >= 12500L && $"id" <= 49999L)
        .groupBy($"tag")
        .agg(count(lit(1)).as("n_rows"),
          (floor(sum($"val") * 1e4 + 0.5) / 1e4).as("sum_val"))
        .orderBy($"tag")
    }),

    // DSv2 AGGREGATE PUSHDOWN — the missing quarter of the custom-
    // source matrix (scan + projection/filter pushdown + sink + now
    // aggregates): the same SeqSource in exactFilters mode (the
    // handled id bounds are CONSUMED — enforced exactly by the
    // per-partition [lo,hi) clamp — because Spark refuses to push an
    // aggregation over any residual post-scan Filter), then
    // count/min/max grouped by tag PUSHED INTO the source
    // (SupportsPushDownAggregates, partial contract): each partition
    // emits one pre-aggregated row per tag instead of thousands of
    // raw rows, and Spark's final aggregate merges the partials
    // (count → sum). The warehouse/API-source shape at 100 TB: the
    // per-group partial crosses the source boundary, not the rows.
    // Plan pinned in PlanShapeSpec (SeqAggScan + PushedAggregates +
    // the same 6/16 partition pruning).
    "q_scan_dsv2_agg" -> ((s, d) => {
      import s.implicits._
      s.read.format("graft.sources.SeqSource")
        .option("n", 100000L).option("slices", 16)
        .option("exactFilters", true)
        .load()
        .where($"id" >= 12500L && $"id" <= 49999L)
        .groupBy($"tag")
        .agg(count(lit(1)).as("n_rows"),
          min($"val").as("min_val"),
          max($"val").as("max_val"))
        .orderBy($"tag")
    }),

    // CUSTOM DATASOURCE V2 WRITE — the sink half of q_scan_dsv2
    // (sources/DirSink): nation round-trips through a BatchWrite with
    // the REAL two-phase commit protocol (attempt-named temp files →
    // atomic task-commit rename → driver-committed _MANIFEST; abort
    // deletes temps). The read-back aggregates only what the protocol
    // delivered and carries the manifest's own row/part counts in the
    // output, so the DuckDB differential fails if any row is lost,
    // duplicated, or served from an uncommitted file. Hash-repartition
    // on the key pins the part count at 4 regardless of upstream
    // layout. Fresh dir per call (TempWarehouse, deleted on exit) —
    // deliberately NOT memoized: re-invocations re-run the write.
    "q_sink_dsv2" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory(
        graft.TempWarehouse.path, "dirsink").toString
      t(s, d, "nation")
        .select($"n_nationkey".cast("long").as("k"), $"n_name",
          $"n_regionkey".cast("long").as("r"))
        .repartition(4, $"k")
        .write.format("graft.sources.DirSink")
        .option("path", dir).mode("append").save()
      // Spark's file listing HIDES underscore-prefixed files (they are
      // metadata by convention — exactly why the manifest is named
      // _MANIFEST), so the manifest is read driver-side like any
      // commit-protocol metadata: bytes-scale, one file.
      val manLines = java.nio.file.Files
        .readString(java.nio.file.Paths.get(dir, "_MANIFEST"))
        .split("\n").filter(_.nonEmpty)
      val man = s.createDataFrame(Seq((
        manLines.length.toLong,
        manLines.map(_.split("\\|")(1).toLong).sum)))
        .toDF("n_parts", "manifest_rows")
      // Manifest-DRIVEN read: only the files the driver committed are
      // ever listed — an orphan part from a lost task commit (the
      // at-least-once window) is invisible by construction, not by
      // luck. SinksSpec plants exactly that orphan and proves it.
      val committed = manLines.map(l => s"$dir/${l.split("\\|")(0)}")
      s.read.text(committed: _*)
        .select(split($"value", "\\|").as("c"))
        .select($"c" (0).cast("long").as("nationkey"),
          $"c" (2).cast("long").as("regionkey"))
        .groupBy($"regionkey")
        .agg(count(lit(1)).as("n_nations"), sum($"nationkey").as("key_sum"))
        .crossJoin(broadcast(man))
        .orderBy($"regionkey")
    }),

    // RECURSIVE CTE — Spark's own WITH RECURSIVE (resolved by
    // ResolveWithCTE into a UnionLoop plan; this build supports
    // UNION ALL recursion only, so the query is written cycle-free):
    // each supplier walks its binary-tree ancestor chain
    // (parent = floor(key/2)), a DAG with natural termination at the
    // root — no depth guard needed, and UNION ALL path multiplicity
    // is exactly 1 per (child, ancestor) pair by construction.
    // At 100 TB the recursion depth is log2|V| rounds of one keyed
    // join each — the same bound as the large/small-star CC loop —
    // and each round's frontier SHRINKS (nodes drop out at the root),
    // so the loop's total work is O(N log N) rows. ONE SQL text runs
    // verbatim on both engines (the q_sql_q3 move); the SUM casts in
    // the text keep both engines' result types BIGINT (DuckDB's SUM
    // is otherwise HUGEINT). PlanShapeSpec pins the plan to a real
    // UnionLoop — not a hand-unrolled union.
    "q_sql_recursive" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_")
      val sql = Seq("supplier").foldLeft(sqlRecursive) { (acc, n) =>
        t(s, d, n).createOrReplaceTempView(s"graft_${n}_$tag")
        acc.replaceAll(s"\\b$n\\b", s"graft_${n}_$tag")
      }
      s.sql(sql)
    }),
  )

  /** Shared by the Spark query (modulo dir-scoped view names) and the
    * DuckDB oracle, which runs this text verbatim — both engines parse
    * the same query, so equivalence of the SQL surface is by
    * construction. Revenue uses the repo's tie-proof floor rounding
    * (SURVEY §2 determinism rules). */
  private val sqlQ3 = """
      SELECT o_orderkey,
             FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS revenue,
             o_orderdate
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10"""

  /** TPC-H Q5 shape on the fixture's timestamp order dates; revenue
    * rounded half-up to cents so the cross-engine double compare is
    * exact (the sqlQ3 rule). */
  private val sqlQ5 = """
      SELECT n_name,
             FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""

  /** TPC-H Q18 shape; the 300-quantity gate is the spec's own
    * constant and bites at every fixture SF (max per-order quantity
    * sum 378/458/475). */
  private val sqlQ18 = """
      SELECT c_custkey, o_orderkey,
             FLOOR(o_totalprice * 100 + 0.5) / 100 AS totalprice,
             SUM(l_quantity) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
      GROUP BY c_custkey, o_orderkey, o_totalprice
      ORDER BY totalprice DESC, o_orderkey
      LIMIT 20"""

  /** TPC-H Q10 shape on the fixture's columns (no address/phone/
    * comment in the synthetic customer — the revenue ranking is the
    * query's point); quarter window inside the fixture's 1995–2001
    * date range; revenue rounded by the sqlQ3 rule. */
  private val sqlQ10 = """
      SELECT c_custkey, c_name, n_name,
             FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS revenue,
             FLOOR(c_acctbal * 100 + 0.5) / 100 AS acctbal
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name, c_acctbal
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""

  /** CAST(FLOOR(x/2.0) AS INTEGER) is the one parent derivation both
    * engines compute identically (integer `/` is float division in
    * both; FLOOR makes the cast's rounding mode irrelevant). The
    * final SUM casts pin BIGINT on both sides. */
  private val sqlRecursive = """
      WITH RECURSIVE
      edges AS (
        SELECT s_suppkey AS child,
               CAST(FLOOR(s_suppkey / 2.0) AS INTEGER) AS parent
        FROM supplier WHERE s_suppkey > 1
      ),
      anc(child, anc, depth) AS (
        SELECT child, parent, 1 FROM edges
        UNION ALL
        SELECT a.child, e.parent, a.depth + 1
        FROM anc a JOIN edges e ON a.anc = e.child
      )
      SELECT depth, count(*) AS n_pairs,
             CAST(SUM(child) AS BIGINT) AS child_sum,
             CAST(SUM(anc) AS BIGINT) AS anc_sum
      FROM anc GROUP BY depth ORDER BY depth"""

  val oracle: Map[String, String] = Map(
    "q_scan_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity,
             FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100
               AS disc_price
      FROM lineitem
      WHERE l_orderkey < 100
      ORDER BY l_orderkey, l_linenumber""",

    "q_scan_count" -> Tables.names
      .map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
      .mkString("SELECT tbl, n FROM (", " UNION ALL ", ") ORDER BY tbl"),

    // The two-epoch layout is contractual: epoch 1 has NO extra
    // column (reader serves NULLs → count/sum 0), epoch 2 carries
    // length(r_name) — both derivable from region directly.
    "q_scan_evolution" -> """
      SELECT 1 AS epoch, count(*) AS n_rows,
             CAST(0 AS BIGINT) AS n_extra, CAST(0 AS BIGINT) AS sum_extra
      FROM region
      UNION ALL
      SELECT 2 AS epoch, count(*) AS n_rows,
             count(*) AS n_extra,
             CAST(SUM(strlen(r_name)) AS BIGINT) AS sum_extra
      FROM region
      ORDER BY epoch""",

    // The landing files are contractual (one blob per region row,
    // r_name repeated r_regionkey+2 times), so every column derives
    // arithmetically from the region table.
    "q_scan_binaryfile" -> """
      SELECT 'blob_' || r_regionkey || '.bin' AS fname,
             CAST(strlen(r_name) * (r_regionkey + 2) AS BIGINT) AS n_bytes,
             ascii(substring(r_name, 1, 1)) AS head_byte
      FROM region
      ORDER BY fname""",

    // The corruption is contractual (exactly 2 bad lines appended to
    // the full region render), so the oracle is the region count plus
    // the constant.
    "q_scan_badrecords" -> """
      SELECT (SELECT count(*) FROM region) AS n_good,
             CAST(2 AS BIGINT) AS n_bad""",

    // The all-parquet equivalent: equality proves the CSV/JSON readers
    // parsed the exported dims faithfully.
    "q_scan_multiformat" -> """
      SELECT r_name, count(*) AS n_customers,
             FLOOR(AVG(c_acctbal) * 100 + 0.5) / 100 AS avg_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name""",

    // The all-parquet equivalent: equality proves the ORC writer +
    // reader pair round-tripped the dim (doubles included) exactly.
    "q_scan_orc" -> """
      SELECT n_name, count(*) AS n_suppliers,
             FLOOR(AVG(s_acctbal) * 100 + 0.5) / 100 AS avg_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE s_acctbal > 1000.0
      GROUP BY n_name
      ORDER BY n_name""",

    // The flat-join equivalent of the nested read — equality checks
    // the nested writer+reader+explode path differentially.
    "q_scan_nested" -> """
      SELECT o_orderstatus AS status, count(*) AS n_items,
             FLOOR(SUM(l_extendedprice) * 100 + 0.5) / 100 AS rev
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity >= 45.0
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    // The nested-form equivalent — pipe lowering must be semantics-
    // free, which this differential proves.
    "q_sql_pipe" -> """
      SELECT l_returnflag, count(*) AS n_items,
             FLOOR(SUM(l_extendedprice) * 100 + 0.5) / 100 AS rev
      FROM lineitem
      WHERE l_quantity >= 30
      GROUP BY l_returnflag
      HAVING count(*) > 100
      ORDER BY l_returnflag""",

    // lower()-normalized grouping replays the UTF8_LCASE semantics.
    "q_expr_collate" -> """
      WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
                 AS langm
        FROM documents)
      SELECT MIN(langm) AS rep, count(*) AS n_docs,
             CAST(SUM(CASE WHEN lower(langm) = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_en_ci
      FROM m
      GROUP BY lower(langm)
      ORDER BY rep""",

    "q_sql_q3" -> sqlQ3,
    "q_sql_q5" -> sqlQ5,
    "q_sql_q18" -> sqlQ18,
    "q_sql_q10" -> sqlQ10,
    "q_sql_recursive" -> sqlRecursive,

    // The round-trip oracle: what the sink+manifest must deliver is
    // exactly the source table's per-region rollup, with the manifest
    // totals as constants (4 hash partitions, |nation| rows).
    "q_sink_dsv2" -> """
      SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
             count(*) AS n_nations,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             CAST(4 AS BIGINT) AS n_parts,
             (SELECT count(*) FROM nation) AS manifest_rows
      FROM nation
      GROUP BY n_regionkey
      ORDER BY regionkey""",

    // generate_series is inclusive on both ends — [12500, 49999]
    // matches the Spark filter exactly.
    "q_scan_dsv2" -> """
      SELECT 't' || (i % 7) AS tag,
             count(*) AS n_rows,
             FLOOR(SUM((i % 997) / 997.0) * 1e4 + 0.5) / 1e4 AS sum_val
      FROM generate_series(12500, 49999) t(i)
      GROUP BY tag
      ORDER BY tag""",

    // min/max pick exact elements of the (i % 997)/997 grid — both
    // engines compute the same division, so no rounding is needed.
    "q_scan_dsv2_agg" -> """
      SELECT 't' || (i % 7) AS tag,
             count(*) AS n_rows,
             MIN((i % 997) / 997.0) AS min_val,
             MAX((i % 997) / 997.0) AS max_val
      FROM generate_series(12500, 49999) t(i)
      GROUP BY tag
      ORDER BY tag""",
  )
}
