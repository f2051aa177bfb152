package graft

import org.apache.spark.sql.functions._

/**
 * The sf1 slope decade (SCALE.md) rests on MakeScale producing a
 * faithful scale-up — these pins are what "faithful" means: exact
 * row-count multiplication, FK closure (a replica's facts join its
 * own dimensions 1:1), vocabulary-disjoint replica text with per-doc
 * token statistics preserved, fixed dimensions NOT replicated, and
 * full determinism (same input → byte-identical row sets).
 */
class MakeScaleSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = graft.TestDirs.dir("makescale").toString
    MakeScale.main(Array(sf, dir, "3"))
    dir
  }

  private def t(name: String) = spark.read.parquet(s"$out/$name.parquet")
  private def src(name: String) = spark.read.parquet(s"$sf/$name.parquet")

  test("facts multiply by the factor; dimensions copy once") {
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { n =>
      assert(t(n).count() == 3 * src(n).count(), n)
    }
    Seq("region", "nation").foreach { n =>
      assert(t(n).count() == src(n).count(), n)
    }
  }

  test("key domains stay dense and distinct; FK closure holds per replica") {
    // shifted keys never collide across replicas
    Seq(("customer", "c_custkey"), ("orders", "o_orderkey"),
      ("documents", "doc_id"), ("embeddings", "vec_id"),
      ("events", "event_id")).foreach { case (n, k) =>
      val df = t(n)
      assert(df.select(k).distinct().count() == df.count(), s"$n.$k collides")
    }
    // every order's customer exists; every lineitem's order exists —
    // the 1:1 FK preservation that keeps join cardinalities honest
    assert(t("orders").join(t("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count() == 0,
      "orders with dangling custkey")
    assert(t("lineitem").join(t("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0,
      "lineitems with dangling orderkey")
    // and per-key cardinality is PRESERVED, not multiplied: the max
    // lineitems-per-order is unchanged by replication
    def maxPerOrder(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_orderkey").count().agg(max("count")).head.getLong(0)
    assert(maxPerOrder(t("lineitem")) == maxPerOrder(src("lineitem")))
  }

  test("replica text is vocabulary-disjoint with per-doc token stats kept") {
    val n0 = src("documents").count()
    val docs = t("documents")
      .withColumn("replica", (col("doc_id") / n0).cast("int"))
    // vocabularies of different replicas never intersect — dedup
    // families see independent corpora, not a planted dup pathology
    val vocabPerReplica = docs
      .select(col("replica"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val shared = vocabPerReplica.groupBy("w")
      .agg(countDistinct("replica").as("nr")).filter(col("nr") > 1).count()
    assert(shared == 0, s"$shared words shared across replicas")
    // token counts per doc are untouched by the suffixing
    val tok0 = src("documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val tokR = docs.filter(col("replica") === 1)
      .select((col("doc_id") - n0).as("doc_id"),
        size(split(col("text"), " ")).as("n"))
    assert(tok0.join(tokR, "doc_id")
      .filter(tok0("n") =!= tokR("n")).count() == 0)
    // n_chars tracks the rewritten text
    assert(t("documents")
      .filter(length(col("text")).cast("long") =!= col("n_chars"))
      .count() == 0)
  }

  test("embeddings break exact ties across replicas but stay in-distribution") {
    val n0 = src("embeddings").count()
    val e = t("embeddings")
    // replica 0 is bit-identical to the source
    val r0 = e.filter(col("vec_id") < n0)
    assert(r0.select("vec_id", "embedding").except(
      src("embeddings").select("vec_id", "embedding")).count() == 0)
    // replicas differ from the source in dimension 0 only
    val r1 = e.filter(col("vec_id") >= n0 && col("vec_id") < 2 * n0)
      .select((col("vec_id") - n0).as("vec_id"), col("embedding").as("er"))
    val joined = src("embeddings").join(r1, "vec_id")
    assert(joined.filter(expr(
      "element_at(embedding, 1) = element_at(er, 1)")).count() == 0,
      "dim 0 must be perturbed")
    assert(joined.filter(expr(
      "slice(embedding, 2, size(embedding)) != slice(er, 2, size(er))"))
      .count() == 0, "dims 1.. must be untouched")
  }

  test("the synthesis is deterministic: a second run is byte-identical") {
    val dir2 = graft.TestDirs.dir("makescale2").toString
    MakeScale.main(Array(sf, dir2, "3"))
    Seq("lineitem", "documents", "embeddings").foreach { n =>
      val a = t(n)
      val b = spark.read.parquet(s"$dir2/$n.parquet")
      assert(a.except(b).count() == 0 && b.except(a).count() == 0,
        s"$n differs between two runs")
    }
  }
}
