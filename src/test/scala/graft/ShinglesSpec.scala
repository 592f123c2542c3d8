package graft

import org.apache.spark.sql.functions._

/** The native shingle/minhash/intersect kernels behind the dedup
  * operators: set-identity equivalence with the string-shingle HOF
  * forms they replaced, edge cases, and codegen plan shape.
  */
class ShinglesSpec extends GraftSuite {

  private def docs = ops.Tables.t(spark, SparkTestBase.sf0001, "documents")

  test("shingle_hash emits one hash per distinct string shingle") {
    import spark.implicits._
    // Set identity: |hashes| must equal |distinct string n-grams| for
    // every doc (collision would undercount; the 64-bit space over a
    // few hundred shingles makes that astronomically unlikely).
    val diff = docs
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= 3)
      .select(
        size(expr("shingle_hash(w, 3)")).as("n_hashed"),
        size(array_distinct(transform(sequence(lit(0), size($"w") - 3),
          i => concat_ws(" ", element_at($"w", i + 1),
            element_at($"w", i + 2), element_at($"w", i + 3))))).as("n_str"))
      .where($"n_hashed" =!= $"n_str")
    assert(diff.count() === 0)
  }

  test("shingle_hash output is sorted ascending and distinct") {
    import spark.implicits._
    val bad = docs
      .select(split($"text", " ").as("w"))
      .select(expr("shingle_hash(w, 2)").as("t"))
      .where($"t" =!= array_sort($"t") || size($"t") =!= size(array_distinct($"t")))
    assert(bad.count() === 0)
  }

  test("shingle_hash preserves pairwise intersection sizes of string shingles") {
    import spark.implicits._
    // The dedup Jaccard only depends on |A∩B| and set sizes; check the
    // hashed intersection equals the string-shingle intersection on
    // every same-language doc pair of the fixture.
    def side(tag: String) = docs
      .select($"doc_id".as(s"id_$tag"), $"lang".as(s"lang_$tag"),
        split($"text", " ").as("w"))
      .where(size($"w") >= 2)
      .select(col(s"id_$tag"), col(s"lang_$tag"),
        expr("shingle_hash(w, 2)").as(s"h_$tag"),
        array_distinct(transform(sequence(lit(0), size($"w") - 2),
          i => concat_ws(" ", element_at($"w", i + 1),
            element_at($"w", i + 2)))).as(s"s_$tag"))
    val diff = side("a").join(side("b"),
        $"lang_a" === $"lang_b" && $"id_a" < $"id_b")
      .where(expr("sorted_intersect_count(h_a, h_b)") =!=
        size(array_intersect($"s_a", $"s_b")))
    assert(diff.count() === 0)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted input") {
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 3L, 5L, 9L), array(3L, 4L, 9L)) AS a,
        |       sorted_intersect_count(array(1L, 2L), array(3L, 4L)) AS b,
        |       sorted_intersect_count(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS c,
        |       sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === 0)
    assert(r.isNullAt(3))
  }

  test("shingle_hash edge cases: short input and n<=0 give empty arrays") {
    val r = spark.sql(
      """SELECT size(shingle_hash(array('one', 'two'), 3)) AS short,
        |       size(shingle_hash(CAST(array() AS ARRAY<STRING>), 2)) AS empty,
        |       size(shingle_hash(array('a'), 0)) AS zero
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === 0)
  }

  test("minhash_sig: band count, set determinism, and min-monotonicity") {
    import spark.implicits._
    val sig = docs
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id",
        expr("shingle_hash(w, 3)").as("tok"))
      .select($"doc_id", $"tok",
        expr("minhash_sig(tok, 16)").as("sig"),
        // A superset's per-band min can only be <= the subset's.
        expr("minhash_sig(slice(tok, 1, greatest(size(tok) - 1, 1)), 16)")
          .as("sig_sub"))
    assert(sig.where(size($"sig") =!= 16).count() === 0)
    val nonMono = sig
      .where(size($"tok") >= 2)
      .where(exists(zip_with($"sig", $"sig_sub", (a, b) => a > b),
        identity[org.apache.spark.sql.Column]))
    assert(nonMono.count() === 0,
      "full-set band minima must be <= any subset's")
    // Identical token sets → identical signatures (pure function).
    val r = spark.sql(
      "SELECT minhash_sig(array(7L, 9L), 4) = minhash_sig(array(7L, 9L), 4) AS eq")
      .collect()(0)
    assert(r.getBoolean(0))
  }

  test("SimHashAggregator matches the declarative 60-column bit-vote form") {
    import spark.implicits._
    val bits = 8 // small width keeps the declarative side readable
    val tok = Seq((1L, 0xA5L), (1L, 0x5AL), (1L, 0xFFL),
        (2L, 0x00L), (2L, 0x01L), (3L, 0x80L))
      .toDF("doc_id", "h")
    val agg = udaf(new functions.SimHashAggregator(bits))
    val native = tok.groupBy($"doc_id").agg(agg($"h").as("sig"))
    val bitSums = (0 until bits).map(j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$j"))
    val declarative = tok.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        (0 until bits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sig"))
    assert(native.except(declarative).count() === 0)
    assert(declarative.except(native).count() === 0)
  }

  test("q_dedup_ngram plan uses the native kernels, not interpreted HOFs") {
    val plan = q("q_dedup_ngram", SparkTestBase.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("shingle_hash"))
    assert(plan.contains("sorted_intersect_count"))
    assert(!plan.contains("array_intersect"),
      "pair verify must use the merge-count kernel")
  }

  test("q_dedup_minhash plan builds signatures with minhash_sig") {
    // Pin the BUILDER's plan (the parameterized body), not the
    // declared query's: since r14 the declared rows read the verified
    // pair set through a memoized localCheckpoint (shared with
    // q_dedup_minhash_cluster), whose materialized RDD hides the
    // construction plan — the kernels must appear where the pairs are
    // actually built.
    val plan = ops.TextOps.minhashPairs(spark, SparkTestBase.sf0001, 1000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("minhash_sig"))
    assert(plan.contains("sorted_intersect_count"))
  }

  test("char_bigram_counts equals the per-character explode + count form") {
    val rows = spark.sql(
      "SELECT e.bg, e.c FROM (SELECT explode(char_bigram_counts('abab')) AS e)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("ab", 2L), ("ba", 1L)), "sorted distinct bigrams with counts")
    assert(spark.sql("SELECT size(char_bigram_counts('x'))")
      .collect()(0).getInt(0) === 0, "single char → no bigrams")
    assert(spark.sql("SELECT size(char_bigram_counts(''))")
      .collect()(0).getInt(0) === 0)
    assert(spark.sql("SELECT char_bigram_counts(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
  }

  test("bigram-count stage runs the native kernel inside codegen") {
    // q_text_charlm's count stage sits behind a lazy localCheckpoint,
    // so its executed plan shows only ScanExistingRDD — assert on the
    // same pre-checkpoint fragment the query builds.
    // The distributed plan runs where the small-plan rule does not
    // fire; under the rule a coalesce sits below the generator, which
    // then runs in the next codegen stage.
    import org.apache.spark.sql.functions._
    def frag(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      ops.Tables.t(s, SparkTestBase.sf0001, "documents")
        .select($"doc_id", lower($"text").as("t"))
        .select($"doc_id", explode(expr("char_bigram_counts(t)")).as("e"))
    }
    val plan = frag(distributedPlans).queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Generate explode(char_bigram_counts"),
      s"kernel stage must be codegen'd:\n$plan")
    val one = frag(spark)
    val onePlan = one.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Generate explode\\(char_bigram_counts".r
      .findFirstIn(onePlan).nonEmpty, s"kernel stage must be codegen'd:\n$onePlan")
    assert(one.count() > 0)
  }

  test("minhash hot-bucket cap prunes candidates without changing the default result") {
    // micro docs 0 and 1 are exact duplicates: every band collides, so
    // each of their 16 shared buckets has size 2. With the production
    // cap (1000) the pair is found; with cap=1 every shared bucket is
    // "hot" and the pair must be pruned — the documented recall trade
    // that bounds a bucket's pair fan-out at cap²/2 at 100 TB.
    val dflt = ops.TextOps.minhashPairs(spark, SparkTestBase.microDir, 1000)
    assert(dflt.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((0L, 1L)))
    val capped = ops.TextOps.minhashPairs(spark, SparkTestBase.microDir, 1)
    assert(capped.count() === 0, "cap=1 must prune every multi-doc bucket")
  }
}
