package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's pure accounting helpers: the min-confirmation noise
  * metric that drives adaptive re-reps, and the warmup/timed build
  * ledger with its tag-attribution guard. */
class BenchSpec extends AnyFunSuite {

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  test("minConfirm: reproduced min is quiet, unconfirmed min is loud") {
    // two reps agree on the floor — a 10x outlier doesn't matter
    assert(close(Bench.minConfirm(Seq(1.0, 10.0, 1.1)), 1.1))
    // min never reproduced: ratio is the gap to the next-best rep
    assert(close(Bench.minConfirm(Seq(1.0, 3.0, 5.0)), 3.0))
    assert(close(Bench.minConfirm(Seq(2.0, 2.0)), 1.0))
    // a single rep can't confirm itself but must not force re-reps
    assert(close(Bench.minConfirm(Seq(1.5)), 1.0))
    assert(Bench.minConfirm(Nil).isNaN)
    assert(Bench.minConfirm(Seq(0.0, 1.0)).isNaN)
  }

  test("buildLedger nets out warmup cost and flags warmup-only tags") {
    val warmup = Map("pq" -> 2.0, "lsh" -> 1.0, "tiny" -> 0.0005)
    val all = Map("pq" -> 5.5, "lsh" -> 1.0, "ivf" -> 0.8, "tiny" -> 0.0005)
    val (ledger, warmupOnly) = Bench.buildLedger(warmup, all)
    // timed-phase cost only, sorted descending
    assert(ledger == Seq("pq" -> 3.5, "ivf" -> 0.8))
    // lsh accrued real warmup cost but never rebuilt in the timed
    // phase — the misattribution the guard exists to surface; the
    // sub-millisecond tag is noise, not a finding
    assert(warmupOnly == Seq("lsh"))
  }

  test("buildLedger: matching tag sets produce an empty guard list") {
    val w = Map("a" -> 1.0)
    val (ledger, warmupOnly) = Bench.buildLedger(w, Map("a" -> 2.0))
    assert(ledger == Seq("a" -> 1.0) && warmupOnly.isEmpty)
  }

  test("regressionsVsBest flags only slow-enough, regressed-enough queries") {
    val best = Map("q1_a" -> 1.0, "q2_b" -> 0.1, "q3_c" -> 1.0,
      "q4_d" -> 0.05, "q7_g" -> 1.0, "q8_h" -> 1.0, "q9_i" -> 1.0,
      "q10_j" -> 1.0, "q11_k" -> 1.0)
    val now = Seq(
      "q1_a" -> 2.0,   // 2.0x over best, >=0.3s, +1.0s -> flagged
      "q2_b" -> 0.2,   // 2.0x but under the 0.3s floor -> quiet
      "q3_c" -> 1.4,   // under 1.5x -> quiet
      "q4_d" -> 0.9,   // 18x AND >=0.3s AND +0.85s -> flagged, worst first
      "q5_e" -> 9.9,   // no best known -> quiet
      // five at 1.0x pin the median ratio (host factor) to 1.0
      "q7_g" -> 1.0, "q8_h" -> 1.0, "q9_i" -> 1.0,
      "q10_j" -> 1.0, "q11_k" -> 1.0)
    val r = Bench.regressionsVsBest(now, best)
    assert(r.map(_._1) == Seq("q4_d", "q1_a"), r)
    assert(math.abs(r.head._2 - 18.0) < 1e-9)
    // the absolute-delta floor: 1.67x but only +0.2s -> host wobble
    val wobble = Bench.regressionsVsBest(
      Seq("q6_f" -> 0.5), Map("q6_f" -> 0.3))
    assert(wobble.isEmpty, wobble)
  }

  test("regressionsVsBest cancels a uniformly slow host via the median ratio") {
    // every query 1.8x slower (a loaded afternoon): nothing flags...
    val best = (1 to 9).map(i => s"q$i" + "_x" -> 1.0).toMap
    val slowHost = best.keys.toSeq.sorted.map(_ -> 1.8)
    assert(Bench.regressionsVsBest(slowHost, best).isEmpty)
    // ...but a genuine outlier above 1.5x the host factor still does
    val withDrift = slowHost.tail :+ (slowHost.head._1 -> 4.0)
    val r = Bench.regressionsVsBest(withDrift, best)
    assert(r.map(_._1) == Seq(slowHost.head._1), r)
  }

  test("loadBestKnown parses the flat best file and tolerates absence") {
    val p = graft.TestDirs.file("best", ".json")
    java.nio.file.Files.write(p,
      """{"q1_a": 0.5,
        |"q22_bb":1.25}""".stripMargin.getBytes("UTF-8"))
    val m = Bench.loadBestKnown(p.toString)
    assert(m == Map("q1_a" -> 0.5, "q22_bb" -> 1.25))
    assert(Bench.loadBestKnown("/nonexistent/best.json").isEmpty)
  }
}
