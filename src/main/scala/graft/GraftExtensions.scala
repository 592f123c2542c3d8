package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharBigramCounts, FloatDot, MinHashSig, ShingleHash, SortedIntersectCount}

/** Engine extensions, installed with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`:
  * registers the native expressions (`float_dot`, `shingle_hash`,
  * `minhash_sig`) so the SQL entry path can use them too. The
  * Column-API helpers work without this registration only for
  * `float_dot` (via FloatDot.dotF); `expr("shingle_hash(...)")` needs
  * the session extension installed, which every engine session does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rule: declarative aggregate(zip_with(...)) dot products
    // run through the codegen'd kernel (strict mode — never changes a
    // result). Disable per-session via spark.sql.optimizer.excludedRules
    // = "graft.plans.DotKernelRule".
    ext.injectOptimizerRule(_ => graft.plans.DotKernelRule)
    // Pre-CBO rule: a small, deterministic plan runs in one partition
    // with no exchange (plans/SmallPlanRule.scala). Disable per-session
    // the same way, with "graft.plans.SmallPlanRule".
    ext.injectPreCBORule(_ => graft.plans.SmallPlanRule)
    // Planner strategies: lower the custom logical nodes to their
    // streaming physical operators (plans/Sessionize.scala — one-pass
    // sessionization; plans/AsofJoin.scala — sort-merge as-of join).
    ext.injectPlannerStrategy(_ => graft.plans.SessionizeStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    def reg(name: String, cls: Class[_], f: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), f))
    reg("float_dot", classOf[FloatDot], c => FloatDot(c(0), c(1)))
    reg("shingle_hash", classOf[ShingleHash], c => ShingleHash(c(0), c(1)))
    reg("minhash_sig", classOf[MinHashSig], c => MinHashSig(c(0), c(1)))
    reg("sorted_intersect_count", classOf[SortedIntersectCount],
      c => SortedIntersectCount(c(0), c(1)))
    reg("char_bigram_counts", classOf[CharBigramCounts],
      c => CharBigramCounts(c(0)))
  }
}
