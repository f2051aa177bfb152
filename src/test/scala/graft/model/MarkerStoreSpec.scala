package graft.model

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The MarkerStore contract, exercised directly: exactly one winner
  * under contention, losers read the winner's complete bytes, and no
  * reader ever observes a torn blob — the invariants ExactlyOnceSink's
  * crash-window analysis stands on. */
class MarkerStoreSpec extends AnyFunSuite {

  test("putIfAbsent under contention: one winner, losers see the winner's " +
    "complete bytes, readers never observe a torn marker") {
    val dir = graft.TestDirs.dir("marker-race")
    val threads = 8
    val rounds = 25
    (0 until rounds).foreach { r =>
      val path = dir.resolve(s"m$r")
      val start = new CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Option[String]]()
      // each contender writes a DISTINCT payload, so a torn or mixed
      // marker is detectable as a string matching no contender
      val ts = (0 until threads).map { i =>
        val t = new Thread(() => {
          start.await(10, TimeUnit.SECONDS)
          val got = Fs.PosixMarkerStore.putIfAbsent(
            path, s"payload-$i-${"x" * 64}".getBytes("UTF-8"))
          results.put(i, got.map(new String(_, "UTF-8")))
        })
        t.start(); t
      }
      start.countDown()
      ts.foreach(_.join(10000))
      import scala.jdk.CollectionConverters._
      val outcomes = results.asScala.toMap
      val winners = outcomes.collect { case (i, None) => i }.toSeq
      assert(winners.size == 1,
        s"round $r: exactly one conditional create may win: $outcomes")
      val committed = new String(
        Fs.PosixMarkerStore.read(path).get, "UTF-8")
      assert(committed == s"payload-${winners.head}-${"x" * 64}",
        s"round $r: the committed marker must be the winner's COMPLETE " +
          s"payload, got [$committed]")
      // every loser read back exactly the winner's bytes — never its
      // own, never a mix
      outcomes.collect { case (_, Some(seen)) => seen }.foreach { seen =>
        assert(seen == committed,
          s"round $r: a loser observed a torn/foreign marker: [$seen]")
      }
      // no staging litter survives the race
      val listing = Files.list(dir)
      val leftovers = try {
        listing.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(s"m$r.")).toList
      } finally listing.close()
      assert(leftovers.isEmpty, s"round $r: staging files leaked: $leftovers")
    }
  }

  test("listBatches/deletePrefix retire exactly the requested prefixes") {
    val dir = graft.TestDirs.dir("marker-prune")
    val store = Fs.PosixMarkerStore
    Seq(0L, 1L, 7L, 12L).foreach { b =>
      val d = dir.resolve(s"b$b").resolve("p0")
      store.ensureDir(d)
      assert(store.putIfAbsent(d.resolve("c0"), s"sig$b".getBytes).isEmpty)
    }
    // non-batch entries are ignored by the listing
    store.ensureDir(dir.resolve("not-a-batch"))
    assert(store.listBatches(dir).sorted == Seq(0L, 1L, 7L, 12L))
    store.deletePrefix(dir.resolve("b7"))
    assert(store.listBatches(dir).sorted == Seq(0L, 1L, 12L))
    assert(store.read(dir.resolve("b1").resolve("p0").resolve("c0"))
      .map(new String(_)).contains("sig1"), "survivors stay readable")
    // a missing root lists nothing (fresh ledger)
    assert(store.listBatches(dir.resolve("missing")).isEmpty)
  }
}
