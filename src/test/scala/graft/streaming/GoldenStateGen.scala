package graft.streaming

import org.apache.spark.sql.SparkSession

/**
 * ONE-TIME generator for the committed golden durable-state fixture at
 * `src/test/resources/golden/state_v1/` (round-16 directive #5): a
 * real streaming-query checkpoint, an exactly-once delivery ledger,
 * and a manifest-committed artifact store, all written by the current
 * code and then FROZEN in git. [[GoldenStateSpec]] restarts and serves
 * from those frozen bytes at every HEAD — any change to the offset
 * JSON, marker layout/signature, or manifest schema that cannot read
 * old state fails the spec instead of a production restart.
 *
 * Regenerate ONLY on a deliberate, documented format migration:
 *   sbt 'Test/runMain graft.streaming.GoldenStateGen'
 * then bump the directory version (state_v1 -> state_v2) and keep a
 * spec against every version still supported in the field.
 */
object GoldenStateGen {
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(
      if (args.length > 0) args(0) else "src/test/resources/golden/state_v1")
    if (java.nio.file.Files.exists(root)) graft.model.Fs.deleteRecursively(root)
    java.nio.file.Files.createDirectories(root)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.TestDirs.dir("golden-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- A: Kinesis source checkpoint (offset WAL + commit log) ----
    // consume g0..g9 from one shard, stop clean; the spec restarts
    // from these bytes against a superset stream and must deliver
    // exactly the delta
    val fake = new graft.sources.FakeKinesis
    graft.sources.KinesisSource.registerClient("golden-gen", fake)
    fake.push("shard-0", (0 until 10).map(i => s"g$i"): _*)
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "golden-gen")
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", root.resolve("kinesis_ck").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    q.processAllAvailable()
    q.stop()

    // ---- B: exactly-once delivery ledger (marker tree) -------------
    // two batches delivered through the real partition body with a
    // no-op transport: batch 0 = rows 0-2 (chunks of 2 -> c0, c1),
    // batch 1 = rows 3-5
    val noop = new KinesisSink.KinesisClient {
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = Nil
    }
    val policy = KinesisSink.Policy(
      maxBatch = 2, sleep = _ => ())
    val ledger = root.resolve("ledger").toString
    def rows(r: Range): Iterator[String] =
      r.iterator.map(i => s"""{"v":"g$i"}""")
    ExactlyOnceSink.deliverPartition(
      noop, "s", policy, ledger, graft.model.Fs.PosixMarkerStore,
      rows(0 until 3), batchId = 0L, pid = 0)
    ExactlyOnceSink.deliverPartition(
      noop, "s", policy, ledger, graft.model.Fs.PosixMarkerStore,
      rows(3 until 6), batchId = 1L, pid = 0)

    // ---- C: manifest-committed artifact store (bigram-lm twin) -----
    // two partials, one compaction (baseline + snapshot history), one
    // post-compaction partial — every manifest shape in one fixture
    val art = ArtifactMaintenance.lmArtifact(
      root.resolve("lm_artifact").toString)
    art.applyBatch(Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"), 0L)
    art.applyBatch(Seq((3L, "a b")).toDF("doc_id", "text"), 1L)
    art.compact(spark)
    art.applyBatch(Seq((4L, "c d e")).toDF("doc_id", "text"), 2L)

    // Spark scratch files (_SUCCESS, .crc) are noise in git; the
    // serve path never reads them. Collect paths BEFORE deleting
    // (mutating the tree under a live walk is provider-dependent)
    // and close the walk stream (it holds directory handles).
    val walk = java.nio.file.Files.walk(root)
    val scratch =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n == "_SUCCESS" || n.endsWith(".crc")
        }.toList
      } finally walk.close()
    scratch.foreach(java.nio.file.Files.deleteIfExists(_))
    println(s"[golden-state] wrote $root")
    spark.stop()
  }
}
