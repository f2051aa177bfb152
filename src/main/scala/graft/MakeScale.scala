package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Synthesize a larger benchmark fixture by deterministic replication
 * of a driver-generated one (round-14 verdict #3: the tri-scale gate
 * tops out at sf0.1; a 100 TB design claim deserves one more decade
 * of slope evidence, and the driver ships no sf1 directory). This is
 * BENCH-ONLY scaffolding — correctness stays pinned to the driver's
 * fixtures and the DuckDB oracle at sf0.01; nothing here feeds a
 * correctness run.
 *
 * Replication rules, chosen so each replica is an INDEPENDENT corpus
 * with the same distributions — i.e. the workload grows the way real
 * data grows, instead of planting pathological duplicate mass:
 *
 *  - `nation`/`region` copy once: dimensions are fixed, only facts
 *    scale (exactly TPC-H's own SF behavior).
 *  - Every scaling table's key domain shifts by `replica ×
 *    (max_key + 1)` — ids stay dense, FK joins stay 1:1 (an order's
 *    lineitems follow it into the replica), per-key cardinalities
 *    (basket sizes, user activity) are preserved rather than
 *    multiplied.
 *  - `documents.text` gets a per-replica word suffix (`w` → `w_r3`):
 *    replicas are vocabulary-DISJOINT, so exact hashes, word-unigram
 *    SimHash signatures, shingle MinHash bands and winnowing
 *    fingerprints all see ten independent corpora of the original's
 *    shape — the "ten more crawl domains" growth story — while
 *    per-doc statistics (token counts, lengths, repetition ratios)
 *    are untouched. Plain replication would instead plant a 10-deep
 *    exact/near-dup family on EVERY document, a data pathology that
 *    measures dup-mass handling, not scan/shuffle scaling.
 *  - `embeddings` perturbs dimension 0 by `replica × 1e-3`: vectors
 *    stay in-distribution but exact ties across replicas break.
 *
 * Determinism: pure column arithmetic on the source fixture, no RNG,
 * no clock — the same input directory always yields byte-identical
 * row sets.
 *
 * Usage: runMain graft.MakeScale <srcDir> <outDir> [factor=10]
 */
object MakeScale {
  def main(args: Array[String]): Unit = Session.run() { spark =>
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10

    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union `factor` replicas of `df`, each transformed by `rep`. */
    def replicate(df: DataFrame)(rep: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => rep(df, r)).reduce(_.union(_))

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // dimensions: copy once
    write(table("region"), "region", 1)
    write(table("nation"), "nation", 1)

    val customer = table("customer")
    val cShift = shiftOf(customer, "c_custkey")
    write(replicate(customer) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * cShift))
    }, "customer", 4)

    val supplier = table("supplier")
    val sShift = shiftOf(supplier, "s_suppkey")
    write(replicate(supplier) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * sShift))
    }, "supplier", 1)

    val part = table("part")
    val pShift = shiftOf(part, "p_partkey")
    write(replicate(part) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * pShift))
    }, "part", 4)

    val orders = table("orders")
    val oShift = shiftOf(orders, "o_orderkey")
    write(replicate(orders) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * oShift))
        .withColumn("o_custkey", col("o_custkey") + lit(r * cShift))
    }, "orders", 8)

    write(replicate(table("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * oShift))
        .withColumn("l_partkey", col("l_partkey") + lit(r * pShift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * sShift))
    }, "lineitem", 16)

    val events = table("events")
    val eShift = shiftOf(events, "event_id")
    val uShift = shiftOf(events, "user_id")
    write(replicate(events) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * eShift))
        .withColumn("user_id", col("user_id") + lit(r * uShift))
    }, "events", 8)

    val docs = table("documents")
    val dShift = shiftOf(docs, "doc_id")
    write(replicate(docs) { (d, r) =>
      val t =
        if (r == 0) d
        else d.withColumn("text", array_join(expr(
          // vocabulary-disjoint replica text; per-doc token stats kept
          s"transform(split(text, ' '), w -> concat(w, '_r$r'))"), " "))
      t.withColumn("doc_id", col("doc_id") + lit(r * dShift))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 8)

    val emb = table("embeddings")
    val vShift = shiftOf(emb, "vec_id")
    write(replicate(emb) { (d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * vShift))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> " +
            s"IF(i = 0, cast(x + $r * 0.001 AS float), x))"))
    }, "embeddings", 2)

    println(s"""{"made": "$out", "factor": $factor}""")
  }
}
