package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A full DataSource V2 TABLE PROVIDER — the engine-extension surface
  * a library exposes when data lives behind an API/generator instead
  * of files: `spark.read.format("graft.sources.SeqSource")`. The
  * table is a deterministic synthetic sequence (id, val, tag) with
  * val = (id mod 997)/997 and tag = 't' ++ (id mod 7), so a DuckDB
  * `generate_series` oracle can replay it exactly.
  *
  * What it implements, and why each matters at 100 TB:
  *  - `planInputPartitions`: the id range splits into `slices` equal
  *    ranges — the parallelism contract; every executor generates its
  *    slice independently, no driver materialization.
  *  - `SupportsPushDownRequiredColumns`: the reader emits ONLY the
  *    pruned columns (a projection over (id) never pays for tag's
  *    string allocation).
  *  - `SupportsPushDownFilters`: id-range predicates become PARTITION
  *    PRUNING — slices wholly outside the bounds are never planned
  *    (the scan's `description()` reports kept/total, PlanShapeSpec
  *    pins it). Conservative contract: `pushFilters` returns ALL
  *    filters as post-scan residuals, so Spark re-evaluates them —
  *    pruning is an optimization, never a correctness dependency.
  *  - `SupportsReportStatistics`: each scan reports the exact rows it
  *    emits and their bytes, so the planner (and the small-plan rule)
  *    sizes it like a file scan instead of as an unknown leaf.
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = properties.asScala
    new SeqTable(opts.getOrElse("n", "1000").toLong,
      opts.getOrElse("slices", "8").toInt,
      opts.getOrElse("exactFilters", "false").toBoolean)
  }
}

object SeqSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("val", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false)))
}

class SeqTable(n: Long, slices: Int, exactFilters: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"graft_seq($n)"
  override def schema(): StructType = SeqSource.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(n, slices, exactFilters)
}

class SeqScanBuilder(n: Long, slices: Int, exactFilters: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = SeqSource.fullSchema
  private var lo: Long = 0L
  private var hi: Long = n // exclusive
  private var accepted: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val used = filters.filter {
      case GreaterThan("id", v: Long)        => lo = math.max(lo, v + 1); true
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); true
      case LessThan("id", v: Long)           => hi = math.min(hi, v); true
      case LessThanOrEqual("id", v: Long)    => hi = math.min(hi, v + 1); true
      case EqualTo("id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1); true
      case IsNotNull("id") => true
      case _ => false
    }
    accepted = used
    // Default posture: everything stays a residual — Spark re-applies
    // every filter after the scan, so the bounds above only ever
    // REMOVE work (q_scan_dsv2's documented conservative contract).
    // exactFilters mode instead CONSUMES the handled filters: the
    // [lo,hi) clamp is applied per partition range AND per reader, so
    // the accepted id bounds are enforced exactly, and with no
    // residual Filter node left in the plan Spark becomes willing to
    // push the aggregation below (it refuses when any post-scan
    // filter remains) — the q_scan_dsv2_agg posture.
    if (exactFilters) filters.diff(used) else filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(s: StructType): Unit = required = s

  // ---- Aggregate pushdown (q_scan_dsv2_agg) -------------------------
  // PARTIAL pushdown contract (supportCompletePushDown stays false):
  // the scan emits one pre-aggregated row per (partition × group) —
  // count/min/max partials computed inside the source — and Spark
  // plans the final merge aggregate on top (count → sum of partial
  // counts). This is the shape a warehouse/API-backed source uses at
  // 100 TB: the per-group partial crosses the source boundary instead
  // of every raw row. Supported: COUNT(*), MIN(val), MAX(val),
  // optionally grouped by tag; anything else returns false and the
  // planner falls back to the row scan.
  private var pushedAgg: Option[(Seq[String], Boolean)] = None

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}
    def col(e: V2Expr): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    import org.apache.spark.sql.connector.expressions.aggregate._
    val groups = agg.groupByExpressions.toSeq.map(col)
    if (groups.exists(g => !g.contains("tag"))) return false
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      // COUNT(col) ≡ COUNT(*) only for a non-null column; the guard
      // checks the SCHEMA (not an assumption) so a future nullable
      // field fails closed — the rewrite is refused and the planner
      // falls back to the row scan rather than silently overcounting.
      case c: Count if !c.isDistinct && col(c.column).exists(name =>
          SeqSource.fullSchema.fields
            .find(_.name == name).exists(!_.nullable)) =>
        Some("count")
      case m: Min if col(m.column).contains("val") => Some("min")
      case m: Max if col(m.column).contains("val") => Some("max")
      case _ => None
    }
    if (funcs.isEmpty || funcs.exists(_.isEmpty)) return false
    pushedAgg = Some((funcs.flatten, groups.nonEmpty))
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some((funcs, grouped)) =>
      SeqAggScan(n, slices, lo, hi, funcs, grouped)
    case None => SeqScan(n, slices, lo, hi, required)
  }
}

/** The id slices of `[0, n)` a scan keeps inside `[lo, hi)`, and the
  * exact size it reports: `rows` over those slices, each `width` bytes. */
trait SeqSlices extends SupportsReportStatistics {
  def n: Long
  def slices: Int
  def lo: Long
  def hi: Long

  protected def ranges: Seq[(Long, Long)] = {
    val step = math.max(1L, (n + slices - 1) / slices)
    (0L until n by step).map(s => (s, math.min(n, s + step)))
  }
  protected def kept: Seq[(Long, Long)] =
    ranges.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => s < e }

  protected def rows: Long

  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * readSchema().defaultSize)
  }
}

case class SeqScan(n: Long, slices: Int, lo: Long, hi: Long,
    required: StructType) extends Scan with Batch with SeqSlices {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override protected def rows: Long = kept.map { case (s, e) => e - s }.sum

  override def description(): String =
    s"SeqScan(n=$n, partitions=${kept.size}/${ranges.size}, " +
      s"bounds=[$lo,$hi), cols=${required.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    kept.map { case (s, e) => SeqPartition(s, e): InputPartition }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    SeqReaderFactory(required.fieldNames)
}

case class SeqPartition(start: Long, end: Long) extends InputPartition

/** The pre-aggregated scan the builder returns once an aggregation is
  * pushed: one row per (partition × tag group) carrying the partial
  * count/min/max over that partition's id range — computed inside the
  * source's own generator loop, so only |groups| rows per partition
  * cross the DSv2 boundary. Spark's final aggregate merges the
  * partials (partial-pushdown contract). Output schema is group
  * columns first, then the aggregate columns in pushed order — the
  * layout V2ScanRelationPushDown expects. */
case class SeqAggScan(n: Long, slices: Int, lo: Long, hi: Long,
    funcs: Seq[String], grouped: Boolean) extends Scan with Batch with SeqSlices {
  override def readSchema(): StructType = {
    val g = if (grouped)
      Seq(StructField("tag", StringType, nullable = false)) else Nil
    val a = funcs.zipWithIndex.map {
      case ("count", i) => StructField(s"agg_$i", LongType, nullable = false)
      case (_, i)       => StructField(s"agg_$i", DoubleType, nullable = false)
    }
    StructType(g ++ a)
  }
  override def toBatch: Batch = this
  // One partial row per group present in each kept slice.
  override protected def rows: Long =
    kept.map { case (s, e) => math.min(e - s, if (grouped) 7L else 1L) }.sum

  override def description(): String =
    s"SeqAggScan(n=$n, partitions=${kept.size}/${ranges.size}, " +
      s"bounds=[$lo,$hi), PushedAggregates=[${funcs.mkString(",")}], " +
      s"groupedBy=${if (grouped) "tag" else "<none>"})"

  override def planInputPartitions(): Array[InputPartition] =
    kept.map { case (s, e) => SeqPartition(s, e): InputPartition }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    SeqAggReaderFactory(funcs, grouped)
}

case class SeqAggReaderFactory(funcs: Seq[String], grouped: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SeqPartition]
    // Partial aggregation over the partition's range, per tag group
    // (7 tags) or one global group. O(range) generator work, O(groups)
    // rows emitted — the pushdown's entire point.
    val nGroups = if (grouped) 7 else 1
    val cnt = new Array[Long](nGroups)
    val mn = Array.fill(nGroups)(Double.MaxValue)
    val mx = Array.fill(nGroups)(Double.MinValue)
    var id = sp.start
    while (id < sp.end) {
      val g = if (grouped) (id % 7).toInt else 0
      val v = (id % 997) / 997.0
      cnt(g) += 1
      if (v < mn(g)) mn(g) = v
      if (v > mx(g)) mx(g) = v
      id += 1
    }
    val rows = (0 until nGroups).filter(cnt(_) > 0).map { g =>
      val aggs: Seq[Any] = funcs.map {
        case "count" => cnt(g)
        case "min"   => mn(g)
        case "max"   => mx(g)
      }
      val vals: Seq[Any] =
        (if (grouped) Seq(UTF8String.fromString("t" + g)) else Nil) ++ aggs
      InternalRow.fromSeq(vals)
    }.iterator
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) { cur = rows.next(); true } else false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

case class SeqReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SeqPartition]
    new PartitionReader[InternalRow] {
      private var cur = sp.start - 1
      override def next(): Boolean = { cur += 1; cur < sp.end }
      override def get(): InternalRow = {
        val vals: Array[Any] = cols.map {
          case "id"  => cur
          case "val" => (cur % 997) / 997.0
          case "tag" => UTF8String.fromString("t" + (cur % 7))
        }
        InternalRow.fromSeq(vals.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}
