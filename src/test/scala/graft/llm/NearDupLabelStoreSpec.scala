package graft.llm

import graft.SparkSpec
import graft.streaming.ArtifactMaintenance
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/**
 * Streamed near-dup cluster labels equal the batch-built clusters —
 * the round-10 verdict #3 requirement: label maintenance under
 * inserts (union-find over new pairs only), never a global rebuild.
 *
 * The fixture is engineered so every maintenance path fires. With
 * T'' = T[p→oak] and T' = T[p→teal] (single-word variants at one
 * position, pairwise Jaccard 7/13 ≥ 0.5), the md5 band tables give —
 * deterministically, minhashes are md5 —
 *   bands(T) ∩ bands(T')  = ∅   (similar but never candidates),
 *   bands(T) ∩ bands(T'') ≠ ∅,
 *   bands(T') ∩ bands(T'') ≠ ∅,
 * so {T-copies} and {T'-copies} grow as SEPARATE components until the
 * T'' doc arrives and merges them: assign-to-new-root, assign-to-
 * existing-root, and root REMAP are all exercised, and the final
 * labels must equal the batch pipeline's over the same corpus.
 */
class NearDupLabelStoreSpec extends SparkSpec {

  import spark.implicits._

  private val T  = "red blue green gold iron wolf moon star lake pine sand rock"
  private val T1 = "red blue green gold iron wolf teal star lake pine sand rock"
  private val T2 = "red blue green gold iron wolf oak star lake pine sand rock"
  private val U  = "the quick brown fox jumps over seven lazy dogs today"

  private val batch0 = Seq((3L, T), (4L, T1), (1L, "one two"), (2L, U))
  private val batch1 = Seq((7L, T), (8L, T1), (11L, U))
  private val batch2 = Seq((10L, T2))
  private val allDocs = batch0 ++ batch1 ++ batch2

  private def freshDir(tag: String): String =
    graft.TestDirs.dir(s"graft-$tag").toString

  /** Batch-built expectation: the verified pair graph's connected
    * components, min-labeled — computed independently of the store. */
  private def expectedLabels(): Map[Long, Long] = {
    val pairs = Dedup.minhashLshFrom(allDocs.toDF("doc_id", "text"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(d => d -> find(d)).toMap
  }

  private def served(store: ArtifactMaintenance.NearDupLabelStore): Map[Long, Long] =
    store.serve(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fixture sanity: the engineered band geometry holds") {
    val bands = allDocs.toDF("doc_id", "text")
    def bandSet(id: Long): Set[(Int, String)] = {
      val one = bands.filter($"doc_id" === id)
      val bandCols = (0 until Dedup.NumBands).map(b =>
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col(s"h${2 * b}"),
          org.apache.spark.sql.functions.col(s"h${2 * b + 1}")))
      Dedup.withMinhashes(Dedup.withShingleArray(one))
        .select(org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.array(bandCols: _*)))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    }
    val (bT, bT1, bT2) = (bandSet(3L), bandSet(4L), bandSet(10L))
    assert((bT intersect bT1).isEmpty, "T and T' must never be candidates")
    assert((bT intersect bT2).nonEmpty && (bT1 intersect bT2).nonEmpty,
      "T'' must bridge both components")
  }

  test("streamed labels equal batch-built clusters; merges remap, replays no-op") {
    implicit val sqlCtx = spark.sqlContext
    val store = new ArtifactMaintenance.NearDupLabelStore(freshDir("ndl"))
    val input = MemoryStream[(Long, String)]
    val q = store.maintain(input.toDF().toDF("doc_id", "text"))
      .option("checkpointLocation", freshDir("ndl-ckpt"))
      .start()
    try {
      input.addData(batch0: _*); q.processAllAvailable()
      // two separate components after the copies arrive, plus the
      // exact-dup U pair — no merges yet
      input.addData(batch1: _*); q.processAllAvailable()
      val mid = served(store)
      assert(mid == Map(3L -> 3L, 7L -> 3L, 4L -> 4L, 8L -> 4L,
        2L -> 2L, 11L -> 2L), s"pre-merge labels wrong: $mid")
      // the bridge doc merges roots 3 and 4 — the remap path
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val fin = served(store)
    assert(fin(4L) == 3L, "root 4 was not remapped onto 3")
    assert(fin == expectedLabels(),
      s"streamed labels diverge from the batch build: $fin vs ${expectedLabels()}")
    // the streamed PAIR store equals the batch pipeline's verified
    // pairs — ids AND the exact jaccard (identical double arithmetic)
    val streamedPairs = store.servePairs(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batchPairs = Dedup.minhashLshFrom(allDocs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamedPairs == batchPairs,
      s"streamed pairs diverge: $streamedPairs vs $batchPairs")
    // replaying a committed batch (crash between manifest and
    // checkpoint-offset commit) must change nothing
    store.applyBatch(batch1.toDF("doc_id", "text"), 1L)
    assert(served(store) == fin, "committed-batch replay changed labels")
    // compaction folds each sub-store and preserves the labels
    store.compact(spark)
    assert(served(store) == fin, "compaction changed labels")
  }

  test("direct replays at every commit prefix stay consistent") {
    // simulate a crash after each sub-store's commit by re-applying
    // the same batch id repeatedly — applyBatch is the foreachBatch
    // body, so this is exactly the restart behavior
    val store = new ArtifactMaintenance.NearDupLabelStore(freshDir("ndl2"))
    store.applyBatch(batch0.toDF("doc_id", "text"), 0L)
    store.applyBatch(batch0.toDF("doc_id", "text"), 0L) // replay
    store.applyBatch(batch1.toDF("doc_id", "text"), 1L)
    store.applyBatch(batch2.toDF("doc_id", "text"), 2L)
    store.applyBatch(batch2.toDF("doc_id", "text"), 2L) // replay
    assert(served(store) == expectedLabels())
  }

  test("serve-cost growth over 21 batches: chain depth bounded by compaction, store by pair graph") {
    // ADVERSARIAL insert order for the min-union: each batch adds one
    // exact duplicate with an id SMALLER than every stored doc, so the
    // new doc becomes the cluster's new root and the old root gets one
    // remap hop — remap chain depth grows one per batch, the worst
    // case the resolve-folding compaction exists for. Singleton docs
    // ride along in every batch and must NEVER enter the store.
    val store = new ArtifactMaintenance.NearDupLabelStore(freshDir("ndl3"))
    val nBatches = 21
    (0 until nBatches).foreach { i =>
      val dupId = (200 - i).toLong
      val loner = (1000 + i).toLong // unique text: no pairs, ever
      store.applyBatch(Seq((dupId, T), (loner, s"solo_${i}_a solo_${i}_b"))
        .toDF("doc_id", "text"), i.toLong)
    }
    val root = (200 - (nBatches - 1)).toLong // 180
    val labels = served(store)
    // STORE ROWS vs CORPUS ROWS: only the 21 pair-graph docs are
    // labeled; the 21 singleton docs never entered assign
    assert(labels.keySet == (root to 200L).toSet, s"store carries ${labels.keySet}")
    assert(labels.values.forall(_ == root), s"unresolved labels: $labels")
    // CHAIN DEPTH: each root-merging batch added one hop, so the
    // uncompacted serve resolves through ~20 remap rounds
    val uncompacted = store.lastResolveRounds
    assert(uncompacted >= nBatches - 5,
      s"expected ~${nBatches - 1} resolution rounds before compaction, got $uncompacted")
    // compaction resolve-folds the chain: same labels, depth reset —
    // the loop's two confirmation rounds are the floor
    store.compact(spark)
    assert(served(store) == labels, "compaction changed labels")
    assert(store.lastResolveRounds <= 2,
      s"chain depth survived compaction: ${store.lastResolveRounds} rounds")
    // post-compaction ingest still merges correctly and stays shallow:
    // one new root-taking duplicate = one fresh hop, not twenty
    store.applyBatch(Seq((179L, T)).toDF("doc_id", "text"), nBatches.toLong)
    val after = served(store)
    assert(after.keySet == (179L to 200L).toSet && after.values.forall(_ == 179L),
      s"post-compaction merge wrong: $after")
    assert(store.lastResolveRounds <= 3,
      s"post-compaction serve should pay only the fresh hop: ${store.lastResolveRounds}")
  }
}
