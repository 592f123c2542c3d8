package graft

import org.apache.spark.sql.functions._
import SparkTestBase.sf0001

/** The reliable-checkpoint opt-in (Tables.ck): by default iterative
  * operators materialize rounds via lazy localCheckpoint (executor
  * blocks, no lineage — an executor loss mid-query reruns the job);
  * a cluster deployment that wants fault-tolerant intermediates sets
  * `spark.graft.reliableCheckpoint=true` plus a checkpoint dir and
  * every round lands in the reliable store instead. The switch must
  * be semantics-free — same labels, same merge table. */
class CkSpec extends GraftSuite {

  test("reliable-checkpoint mode produces identical results (lpa + bpe)") {
    val base = spark
    import base.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck_rel")
    val s = ops.Tables.childSession(spark, "reliableck")(
      "spark.graft.reliableCheckpoint" -> "true")
    s.sparkContext.setCheckpointDir(ckDir.toString)
    try {
      // The conf + dir are set, so Tables.ck routes to reliable
      // checkpoint inside this child session's plans.
      val lpaDefault = q("q_graph_lpa", sf0001).collect().map(_.toString).sorted
      val lpaReliable = SparkEntry.queries("q_graph_lpa")(s, sf0001)
        .collect().map(_.toString).sorted
      assert(lpaReliable.nonEmpty && (lpaReliable.toSeq === lpaDefault.toSeq))
      // pagerank seeds its loop through Tables.ck, so the seed lands
      // in the reliable store too.
      val prDefault = q("q_graph_pagerank", sf0001).collect().map(_.toString)
      val held = spark.sparkContext.getPersistentRDDs.keySet
      val prReliable = SparkEntry.queries("q_graph_pagerank")(s, sf0001)
        .collect().map(_.toString)
      assert(prReliable.nonEmpty && (prReliable.toSeq === prDefault.toSeq))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- held).isEmpty,
        "a reliable-mode pagerank run must leave no local checkpoint")
      val bpeDefault = q("q_text_bpetrain", sf0001).collect().map(_.toString)
      val bpeReliable = SparkEntry.queries("q_text_bpetrain")(s, sf0001)
        .collect().map(_.toString)
      assert(bpeReliable.toSeq === bpeDefault.toSeq)
      // And the reliable store was actually used: checkpoint files exist.
      val wrote = java.nio.file.Files.walk(ckDir).count() > 1
      assert(wrote, "reliable mode must write to the checkpoint dir")
    } finally {
      // The context-global checkpoint dir stays set (no null reset in
      // the API); it is inert for every other session — Tables.ck
      // routes reliable only when the SESSION conf opts in.
      org.apache.commons.io.FileUtils.deleteQuietly(ckDir.toFile)
    }
  }
}
