package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.NumericType

/** Exact global rank without a single-partition window — the
  * distributed rank that replaces `Window.orderBy(...)` (no
  * partitionBy) wherever an EXACT total order is required
  * (`q_win_ntile`, `q_pipe_curriculum`, `q_sim_hybrid`).
  *
  * Why: a global window moves EVERY row through one task —
  * WindowExec's "No Partition Defined" warning, free at fixture scale
  * and a hard single-task bottleneck at 100 TB. This form keeps exact
  * semantics with only partition-parallel work:
  *
  *  1. range buckets on the leading sort key: a row's bucket is
  *     floor((key − min) / width), clamped to the fan-out, with the
  *     key's exact finite min and width = (max − min) / fan-out (one
  *     global aggregate, broadcast as one row);
  *  2. per-bucket local rank — a window KEYED on the bucket,
  *     embarrassingly parallel;
  *  3. per-bucket row counts, gathered into one row → each bucket's
  *     offset (the counts before it) and the total (metadata scale —
  *     never a window, so the plan audit's GlobalWindow detector stays
  *     silent end to end);
  *  4. global rank = offset + local rank, attached with one broadcast
  *     hash join.
  *
  * The invariant: the bucket is a pure function of the row and the
  * global min and width, and it never decreases along the sort order
  * (each step of the formula is monotone in the key; NULLs get a
  * bucket of their own at the end their ordering puts them; NaN gets
  * the last, as it sorts after every number). Every bucket holds a
  * contiguous run of the order and both branches compute the same
  * bucket for a row, so the rank is exact at any fan-out and under
  * any physical plan — no sampling, no partition ids. The buckets only
  * spread the load: a non-numeric leading key gets one bucket, still
  * exact. The laws are pinned in DistRankSpec at several fan-outs, in
  * one partition and distributed; the driver's DuckDB differential
  * re-checks the rewritten queries end to end.
  *
  * The sort key must be a TOTAL order (include a unique tiebreak), or
  * tied rows rank in an arbitrary order, and [[cumeDist]] below is
  * only exact when tie-free.
  */
object DistRank {

  /** Name of the appended global-rank column (1-based, LongType). */
  val RankCol = "_grank"

  /** Name of the appended total-row-count column (LongType). */
  val TotalCol = "_gtotal"

  /** Append [[RankCol]] and [[TotalCol]] under the total order
    * `sort`. `partitions` bounds the bucket fan-out (any value ≥ 1 is
    * correct; size it like a shuffle partition count). */
  def withGlobalRank(df: DataFrame, partitions: Int, sort: Column*)
      : DataFrame = {
    require(sort.nonEmpty, "distributed rank needs at least one sort column")
    require(partitions >= 1, s"bucket fan-out must be >= 1, got $partitions")
    val (key, desc, nullsFirst, keyType) = Bridge.sortKey(df, sort.head)
    val nulls = if (nullsFirst) -1 else partitions
    // Every step of the bucket formula is monotone in the key, so the
    // bucket never decreases along the order; min and width come from
    // the finite keys only, and NaN sorts after every number.
    val bucketed = keyType match {
      case _: NumericType if partitions > 1 =>
        val k = key.cast("double")
        val finite = when(k >= -Double.MaxValue && k <= Double.MaxValue, k)
        val w = col("_gw")
        val asc = when(k.isNaN, partitions - 1)
          .when(w > 0, least(greatest(floor((k - col("_glo")) / w), lit(0L)),
            lit(partitions - 1L)))
          .otherwise(0)
        df.crossJoin(broadcast(df.agg(min(finite).as("_glo"),
            ((max(finite) - min(finite)) / partitions).as("_gw"))))
          .withColumn("_gbkt", when(key.isNull, nulls)
            .otherwise(if (desc) lit(partitions - 1) - asc else asc))
          .drop("_glo", "_gw")
      case _ => df.withColumn("_gbkt", when(key.isNull, nulls).otherwise(0))
    }
    // Offsets and the total WITHOUT a global window: the ≤ partitions
    // + 2 bucket counts gather into one row, which gives each bucket the
    // sum of the counts before it and of all counts (metadata scale).
    // One row also keeps Catalyst's size estimate small, where a join of
    // the counts with themselves multiplies the input's estimate by
    // itself and makes the planner shuffle a single-partition join.
    val h = col("_gh")
    val offsets = bucketed.groupBy("_gbkt").agg(count(lit(1)).as("_gcnt"))
      .agg(collect_list(struct("_gbkt", "_gcnt")).as("_gh"))
      .select(explode(transform(h, b => struct(b("_gbkt").as("_gbkt"),
        aggregate(h, lit(0L), (n, c) =>
          n + when(c("_gbkt") < b("_gbkt"), c("_gcnt")).otherwise(0L)).as("_goff"),
        aggregate(h, lit(0L), (n, c) => n + c("_gcnt")).as(TotalCol)))).as("_go"))
      .select("_go.*")
    val local = bucketed.withColumn("_glrank",
      row_number().over(Window.partitionBy(col("_gbkt")).orderBy(sort: _*)))
    local.join(broadcast(offsets), "_gbkt")
      .withColumn(RankCol, (col("_goff") + col("_glrank")).cast("long"))
      .drop("_gbkt", "_glrank", "_goff")
  }

  /** Exact `NTILE(n)` from a global rank: with N rows the first
    * `N % n` buckets hold `N DIV n + 1` rows, the rest `N DIV n` —
    * bit-identical to the window function's assignment. Pure integer
    * arithmetic (DIV, no doubles), so it is exact at any N. `rank`
    * and `total` are COLUMN NAMES ([[RankCol]]/[[TotalCol]] after
    * [[withGlobalRank]]). */
  def ntile(n: Int, rank: String = RankCol, total: String = TotalCol)
      : Column = {
    require(n >= 1, s"ntile bucket count must be >= 1, got $n")
    val q = s"($total DIV $n)"
    val rem = s"($total % $n)"
    val cut = s"(($q + 1) * $rem)"
    // CASE evaluates lazily, so the ELSE branch's division by q is
    // never reached when q = 0 (N < n puts every rank under cut = N).
    expr(s"""CAST(CASE WHEN $rank <= $cut
            |     THEN ($rank + $q) DIV ($q + 1)
            |     ELSE $rem + ($rank - $cut + $q - 1) DIV $q
            |     END AS INT)""".stripMargin)
  }

  /** `percent_rank()` from a global rank over a tie-free order:
    * (rank − 1) / (N − 1), the same IEEE division the window function
    * performs (0.0 for a single row, per SQL). */
  def percentRank(rank: String = RankCol, total: String = TotalCol): Column =
    when(col(total) > 1,
      (col(rank) - 1).cast("double") / (col(total) - 1)).otherwise(0.0)

  /** `cume_dist()` from a global rank — EXACT only over a tie-free
    * order, where "rows ≤ current" is the rank itself. */
  def cumeDist(rank: String = RankCol, total: String = TotalCol): Column =
    col(rank).cast("double") / col(total)
}
