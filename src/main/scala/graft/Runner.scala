package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one query sweep that Bench times and Verify checks against the
  * oracle, so both run the same program: the same row order and the
  * same memo lifetimes.
  *
  * A sweep runs its rows in sorted-name order, so the rows of one
  * family (the `q_<family>_` prefix) are adjacent. A `Tables.derived`
  * memo lives until its family ends: after a row the sweep calls
  * `Tables.resetDerived` only when the next row's family differs, and
  * after the last row. A memo is thus shared only inside the family
  * that built it, and no row reads a memo another family left behind.
  * Checkpoint blocks a row writes outside a memo drop at the same
  * boundary.
  *
  * Before the first `q_graph_` row the sweep builds the graph family's
  * shared edge and degree memos (`GraphOps.warmSharedMemo`) as a step
  * of its own, [[MemoStep]], so that build is not charged to whichever
  * graph row runs first.
  */
object Runner {
  /** The name of the shared graph-memo step among a sweep's steps. */
  val MemoStep = "_memo_graph"

  /** `q_graph` for `q_graph_cc_star`: the unit a memo is shared in. */
  private def family(row: String): String =
    row.split('_').take(2).mkString("_")

  /** Reads every base table once, so no row is charged the session's
    * first file listings, parquet footer reads and scan codegen. A
    * table that fails here fails again, and is reported, in the rows
    * that read it. */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    ops.Tables.names.foreach { n =>
      try ops.Tables.t(spark, sfDir, n).count()
      catch { case NonFatal(_) => () }
    }

  /** Runs `rows` as one sweep, handing each row's DataFrame to
    * `action`. A step that throws is reported on stderr as
    * `[tag] <step> failed: <message>` and the sweep goes on. Returns
    * the seconds each successful step took, the row's DataFrame build
    * included; [[MemoStep]] is among the steps when `rows` holds a
    * graph row. */
  def sweep(spark: SparkSession, sfDir: String, rows: Seq[String],
      tag: String)(action: (String, DataFrame) => Unit): Map[String, Double] = {
    val queries = SparkEntry.queries
    val ordered = rows.distinct.sorted
    val firstGraph = ordered.find(_.startsWith("q_graph_"))
    val took = Map.newBuilder[String, Double]
    def step(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { body; took += name -> (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      }
    }
    ordered.zipWithIndex.foreach { case (row, i) =>
      if (firstGraph.contains(row))
        step(MemoStep)(ops.GraphOps.warmSharedMemo(spark, sfDir))
      step(row)(action(row, queries(row)(spark, sfDir)))
      if (!ordered.lift(i + 1).map(family).contains(family(row)))
        ops.Tables.resetDerived(spark)
    }
    took.result()
  }

  /** For a main's argument check: prints `usage` as one stderr line,
    * naming the rows among `rows` that are not declared, and exits 2
    * when `ok` is false or such a row exists. */
  def requireArgs(ok: Boolean, rows: Seq[String], usage: String): Unit = {
    val unknown = rows.filterNot(SparkEntry.queries.contains)
    if (!ok || unknown.nonEmpty) {
      System.err.println(s"usage: $usage" +
        (if (unknown.isEmpty) "" else unknown.mkString("; unknown rows: ", ", ", "")))
      sys.exit(2)
    }
  }
}
