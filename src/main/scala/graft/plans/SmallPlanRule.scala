package graft.plans

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.optimizer.{RewriteDistinctAggregates, RewritePredicateSubquery}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, InnerLike}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, V2ScanRelationPushDown}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Optimizer rule: a small, deterministic batch plan runs in ONE
  * partition with no exchange. A plan whose inputs fit one task is
  * bound by per-job cost, not by data: distributed, each shuffle stage
  * is its own job under AQE; in one partition the plan runs as one
  * job, and a [[graft.ops.Tables.ck]] of it runs none.
  *
  * It fires when every expression of the plan and of its subqueries is
  * deterministic and its leaves add up to no more than
  * `spark.sql.autoBroadcastJoinThreshold`: parquet scans by file bytes
  * (each file set once), DSv2 scans by the size their
  * `SupportsReportStatistics` reports, local checkpoints by the size
  * `Tables.ck` recorded or the bytes their written blocks hold, local
  * relations and ranges by their rows. DSv2 scans are built first, with
  * Spark's own `V2ScanRelationPushDown` (a later batch would build them
  * the same way), so each is sized after its filters, columns and
  * aggregate are pushed, and a coalesce never sits between an
  * aggregate and the scan it pushes into. It leaves unchanged commands,
  * streaming plans, plans with a nondeterministic expression or a
  * sample (their rows depend on the partitioning), and plans with a
  * leaf of unknown size (an in-memory relation, a reliable checkpoint,
  * a DSv2 scan that reports no size).
  *
  * The rewrite first folds each uncorrelated scalar subquery whose plan
  * is a global aggregate, in a filter or a projection, into a cross
  * join with its one row: a global aggregate returns exactly one row,
  * so the join gives the value the subquery would, and the subquery no
  * longer runs as a job of its own. Every other scalar subquery keeps
  * Spark's NULL-on-empty and more-than-one-row semantics. Then it
  * applies Spark's own `RewritePredicateSubquery` and
  * `RewriteDistinctAggregates`, which would run later anyway, so the
  * joins and expands they make are rewritten too. Then each scan (a
  * leaf with the filters and projections pushed into it), union and
  * expand is coalesced to one partition; each checkpoint leaf declares
  * `SinglePartition` over a zero-copy `coalesce(1)` of its RDD; each
  * equi-join is hinted `shuffle_hash` and each non-equi inner join
  * `shuffle_replicate_nl` in place of any broadcast (a non-equi outer
  * join keeps its broadcast nested loop). A join that feeds a join is
  * coalesced right above itself, since a join plans a shuffle for any
  * side that is not exactly one partition; so is a full outer or
  * non-equi join, whose output partitioning is unknown. The rewrite is
  * idempotent and runs no job.
  *
  * Injected by [[graft.GraftExtensions]] as a pre-CBO rule, so it runs
  * once on the operator-optimized plan. Switch it off per session with
  * `spark.sql.optimizer.excludedRules=graft.plans.SmallPlanRule` or a
  * negative broadcast threshold.
  */
object SmallPlanRule extends Rule[LogicalPlan] {

  /** The rule's decision on one plan, posted on the listener bus
    * (`tools.Trace --plan` prints it): `reason` is "fired",
    * "nondeterministic", "streaming", "unknown leaf" or "over the
    * bound"; `scanBytes` are the file bytes of its parquet scans plus
    * the sizes its DSv2 scans report, and `heldBytes` those of its
    * checkpoint and local leaves (-1: not measured). */
  final case class Decision(reason: String, scanBytes: Long, heldBytes: Long,
      threshold: Long) extends SparkListenerEvent {
    def fired: Boolean = reason == "fired"
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.exists(_.isInstanceOf[Command])) plan
    else {
      val built = if (plan.exists(_.isInstanceOf[DataSourceV2Relation]))
        V2ScanRelationPushDown(plan) else plan
      val (d, held) = decide(built, conf.autoBroadcastJoinThreshold)
      Bridge.post(d)
      if (!d.fired) plan
      else rewrite(RewriteDistinctAggregates(RewritePredicateSubquery(
        foldScalars(built))), held)
    }

  private def decide(plan: LogicalPlan, threshold: Long)
      : (Decision, Map[Int, BigInt]) = {
    def decision(reason: String, scan: BigInt = -1, held: BigInt = -1) =
      Decision(reason, scan.min(Long.MaxValue).toLong, held.min(Long.MaxValue).toLong,
        threshold)
    if (plan.isStreaming) return decision("streaming") -> Map.empty
    val nodes = plan.collectWithSubqueries { case p => p }
    if (nodes.exists(p => p.isInstanceOf[Sample] || p.expressions.exists(!_.deterministic)))
      return decision("nondeterministic") -> Map.empty
    val leaves = nodes.collect { case l: LeafNode => l }
    val ck = leaves.collect { case l: LogicalRDD => l.rdd.id -> checkpointBytes(l) }.toMap
    val held = ck.collect { case (id, Some(b)) => id -> b }
    val scan = leaves.collect { case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
      h.location.rootPaths.map(_.toString).toSet -> BigInt(h.sizeInBytes) }.toMap.values.sum +
      leaves.collect { case r: DataSourceV2ScanRelation => reported(r) }.flatten.sum
    val kept = held.values.sum + leaves.collect {
      case l @ (_: LocalRelation | _: OneRowRelation | _: Range) => l.stats.sizeInBytes }.sum
    val unknown = leaves.exists {
      case LogicalRelation(_: HadoopFsRelation, _, _, _, _) | _: LocalRelation |
          _: OneRowRelation | _: Range => false
      case l: LogicalRDD => ck(l.rdd.id).isEmpty
      case r: DataSourceV2ScanRelation => reported(r).isEmpty
      case _ => true
    }
    if (unknown) decision("unknown leaf", scan, kept) -> Map.empty
    else if (scan + kept > threshold) decision("over the bound", scan, kept) -> Map.empty
    else decision("fired", scan, kept) -> held
  }

  /** The size a DSv2 scan reports, if it reports one. */
  private def reported(r: DataSourceV2ScanRelation): Option[BigInt] = r.scan match {
    case s: SupportsReportStatistics =>
      val b = s.estimateStatistics().sizeInBytes()
      if (b.isPresent) Some(BigInt(b.getAsLong)) else None
    case _ => None
  }

  /** An uncorrelated scalar subquery over a global aggregate. */
  private def oneRow(e: Expression): Boolean = e match {
    case s: ScalarSubquery => s.outerAttrs.isEmpty && s.joinCond.isEmpty && {
      def global(p: LogicalPlan): Boolean = p match {
        case a: Aggregate => a.groupingExpressions.isEmpty
        case Project(_, c) => global(c)
        case _ => false
      }
      global(s.plan)
    }
    case _ => false
  }

  /** `es` with each one-row scalar subquery replaced by its output
    * column, and the subquery plans to cross-join, each once. */
  private def unnest[E <: Expression](es: Seq[E]): (Seq[E], Seq[LogicalPlan]) = {
    val subs = scala.collection.mutable.LinkedHashMap.empty[Expression, LogicalPlan]
    val out = es.map(_.transformUp {
      case s: ScalarSubquery if oneRow(s) =>
        val col = s.plan.output.head
        subs.getOrElseUpdate(col, s.plan)
        col
    }.asInstanceOf[E])
    (out, subs.values.toSeq)
  }

  private def crossed(child: LogicalPlan, subs: Seq[LogicalPlan]): LogicalPlan =
    subs.foldLeft(child)(Join(_, _, Inner, None, JoinHint.NONE))

  private def foldScalars(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(c, child) if c.exists(oneRow) =>
      val (Seq(c1), subs) = unnest(Seq(c))
      Project(child.output, Filter(c1, crossed(child, subs)))
    case Project(list, child) if list.exists(_.exists(oneRow)) =>
      val (l1, subs) = unnest(list)
      Project(l1, crossed(child, subs))
  }

  /** A local checkpoint's size: the size `Tables.ck` recorded for a
    * one-partition one, else the bytes its blocks hold once every
    * partition is written, else Catalyst's estimate. None for a
    * reliable checkpoint or an RDD that is not a checkpoint. */
  private def checkpointBytes(l: LogicalRDD): Option[BigInt] =
    if (l.rdd.getStorageLevel == StorageLevel.NONE) None
    else if (l.outputPartitioning == SinglePartition) Some(l.stats.sizeInBytes)
    else Some(Bridge.heldBytes(l.rdd).map(BigInt(_)).getOrElse(l.stats.sizeInBytes))

  private def one(p: LogicalPlan): LogicalPlan = Repartition(1, shuffle = false, p)

  /** Projections and filters over a leaf: the scan the planner pushes
    * them into, so the coalesce goes above them. */
  private def isScan(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => isScan(c)
    case Filter(_, c) => isScan(c)
    case _: LeafNode => true
    case _ => false
  }

  private def joinSide(p: LogicalPlan): LogicalPlan = p match {
    case j: Join => one(j)
    case u: UnaryNode if !u.isInstanceOf[Repartition] =>
      u.withNewChildren(Seq(joinSide(u.child)))
    case other => other
  }

  private def both(s: JoinStrategyHint) =
    JoinHint(Some(HintInfo(Some(s))), Some(HintInfo(Some(s))))

  private def rewrite(p: LogicalPlan, held: Map[Int, BigInt]): LogicalPlan = p match {
    case Repartition(1, false, c) => one(rewrite(c, held) match {
      case Repartition(1, false, inner) => inner
      case other => other
    })
    case s if isScan(s) && s.exists(_.isInstanceOf[LogicalRDD]) =>
      s.transformUp { case l: LogicalRDD => single(l, held) }
    case s if isScan(s) => one(s)
    case j: Join =>
      val equi = ExtractEquiJoinKeys.unapply(j).isDefined
      val k = j.copy(left = joinSide(rewrite(j.left, held)),
        right = joinSide(rewrite(j.right, held)),
        hint = if (equi) both(SHUFFLE_HASH)
          else if (j.joinType.isInstanceOf[InnerLike]) both(SHUFFLE_REPLICATE_NL)
          else JoinHint.NONE)
      if (equi && j.joinType != FullOuter) k else one(k)
    case u @ (_: Union | _: Expand) => one(u.mapChildren(rewrite(_, held)))
    case other => other.mapChildren(rewrite(_, held))
  }

  /** `l` declaring `SinglePartition`: its own RDD when that has one
    * partition, else a zero-copy `coalesce(1)` of it, carrying the size
    * the decision counted. */
  private def single(l: LogicalRDD, held: Map[Int, BigInt]): LogicalPlan =
    if (l.outputPartitioning == SinglePartition) l
    else {
      val n = l.rdd.getNumPartitions == 1
      Bridge.rddRelation(SparkSession.active, l.output,
        if (n) l.rdd else l.rdd.coalesce(1), SinglePartition,
        if (n) l.outputOrdering else Nil, held.getOrElse(l.rdd.id, l.stats.sizeInBytes))
    }
}
