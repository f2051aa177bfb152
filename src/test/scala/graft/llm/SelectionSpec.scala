package graft.llm

import graft.SparkSpec

/**
 * DSIR-style importance selection (q164): fixed-point hashed-bigram
 * likelihood-ratio scoring. The oracle replays the arithmetic
 * verbatim; these specs pin the selection SEMANTICS — target
 * exclusion, deterministic ordering, and that the score actually
 * prefers target-like text (a doc made of target vocabulary must
 * outrank one made of vocabulary the target never uses).
 */
class SelectionSpec extends SparkSpec {

  test("q164: candidates only, deterministic ranking, bounded size") {
    val out = Selection.dsirSelect(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 100)
    // the target slice scores itself out of the candidate pool
    assert(out.forall(_.getAs[String]("source") != "src0"))
    // (w_sum DESC, doc_id) is a total order — the output is sorted
    val keys = out.map(r => (-r.getAs[Long]("w_sum"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
    // rerun is bit-identical (no RNG anywhere)
    val again = Selection.dsirSelect(spark, sf).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("q164: target-vocabulary docs outrank foreign-vocabulary docs") {
    import org.apache.spark.sql.functions._
    // Planted corpus: src0 is the target; cand_like repeats a bigram
    // the target uses heavily, cand_unlike uses vocabulary absent
    // from the target. With add-one smoothing the unlike doc's buckets
    // carry weight ~SCALE/B while the like doc's carry the full ratio.
    val dir = graft.TestDirs.dir("dsir").toString
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta", "en", "src0", 40L),
      (2L, "alpha beta alpha beta alpha beta", "en", "src0", 30L),
      (3L, "alpha beta alpha beta alpha beta alpha", "en", "srcX", 38L),
      (4L, "zork quux zork quux zork quux zork", "en", "srcX", 34L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Selection.dsirSelect(spark, dir).orderBy(desc("w_sum")).collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("doc_id") == 3L,
      s"target-like doc should rank first, got ${out.toSeq}")
    val like = out.head.getAs[Long]("w_sum")
    val unlike = out.last.getAs[Long]("w_sum")
    assert(like > unlike,
      s"target-like score $like must exceed foreign score $unlike")
  }

  test("q164: weight-model join is a broadcast (constant-size model)") {
    val plan = Selection.dsirSelect(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the B-bucket weight table must broadcast, not shuffle the grams")
    assert(!plan.contains("SortMergeJoin"),
      "no gram-scale shuffle join is acceptable for a 4k-row model")
  }
}
