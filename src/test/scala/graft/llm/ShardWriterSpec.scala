package graft.llm

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class ShardWriterSpec extends SparkSpec {

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .toSeq

  test("training shards: split layout, per-file cap, lossless round-trip") {
    val out = graft.TestDirs.dir("shards").toString
    val docs = Tables.documents(spark, sf)
    Pipeline.writeTrainingShards(docs, out, shardRecords = 100)

    val splits = Seq("train", "val", "test")
      .map(s => s -> new java.io.File(s"$out/split=$s"))
    splits.foreach { case (s, d) =>
      assert(d.isDirectory, s"missing split directory $s")
    }
    // every shard respects the record cap (the loader-memory contract)
    splits.foreach { case (s, d) =>
      parquetFiles(d).foreach { f =>
        val n = spark.read.parquet(f.getPath).count()
        assert(n <= 100, s"shard ${f.getName} in $s has $n rows")
      }
    }
    // the cap actually sharded the big split instead of one fat file
    assert(parquetFiles(splits.head._2).size > 1, "train split not sharded")

    // lossless: same doc ids, same count, split ≡ the md5 assignment
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)
    val wrongSplit = back
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(
        (col("split") === "train") =!= (col("h") < "e666") ||
        ((col("split") === "val") =!= (col("h") >= "e666" && col("h") < "f333")))
      .count()
    assert(wrongSplit == 0, s"$wrongSplit docs in the wrong split")
  }

  test("rerun reproduces the identical shard layout") {
    val out = graft.TestDirs.dir("shards2").toString
    val docs = Tables.documents(spark, sf)
    def layout(): Map[String, Seq[Long]] = {
      Pipeline.writeTrainingShards(docs, out, shardRecords = 100)
      Seq("train", "val", "test").map { s =>
        val counts = parquetFiles(new java.io.File(s"$out/split=$s"))
          .sortBy(_.getName)
          .map(f => spark.read.parquet(f.getPath).count())
        s -> counts
      }.toMap
    }
    val first = layout()
    val second = layout()
    assert(first == second, s"layout not reproducible: $first vs $second")
  }
}
