package graft

/**
 * Same-session A/B timer for optimization rounds: times a set of
 * queries under two values of one runtime conf, interleaved
 * (A,B,A,B,…) so host drift lands on both arms equally, and reports
 * min-of-reps per arm. Complements Bench (which measures one tree):
 * this measures one TREE under two CONFS (e.g. the AQE coalesce
 * settings). A toggle added for an A/B is deleted, with its losing
 * path, once the A/B settles it. Not part of the driver contract;
 * never run by the driver.
 *
 * Usage: runMain graft.ABBench <sfDir> <conf=key> <valA> <valB> <q1,q2,...> [reps]
 */
object ABBench {
  def main(args: Array[String]): Unit = Session.run() { spark =>
    val sfDir = args(0)
    val key = args(1).stripPrefix("conf=")
    val valA = args(2)
    val valB = args(3)
    val names = args(4).split(",").toSeq
    val reps = if (args.length > 5) args(5).toInt else 3
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }
    // untimed warmup at the A/B SF itself (JIT + codegen + artifacts,
    // and at non-sf0.001 dirs the memoized index builds land here, so
    // timed reps measure serve cost only) — once per arm so both arms'
    // first timed reps are equally warm
    names.foreach { n =>
      Seq(valA, valB).foreach { v =>
        spark.conf.set(key, v)
        try run(n) catch { case e: Throwable =>
          println(s"[ab] warmup $n ($v) FAILED: ${e.getMessage}"); }
      }
      System.gc(); Thread.sleep(50)
    }
    val results = names.map { n =>
      val ta = Seq.newBuilder[Double]
      val tb = Seq.newBuilder[Double]
      (1 to reps).foreach { _ =>
        spark.conf.set(key, valA); ta += run(n)
        spark.conf.set(key, valB); tb += run(n)
        System.gc(); Thread.sleep(50)
      }
      (n, ta.result().min, tb.result().min)
    }
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    results.foreach { case (n, a, b) =>
      println(s"""[ab] $n: $key=$valA ${fmt(a)} s | $key=$valB ${fmt(b)} s | B/A ${fmt(b / a)}""")
    }
    println(s"[ab] TOTALS: A=${fmt(results.map(_._2).sum)} s  B=${fmt(results.map(_._3).sum)} s")
  }
}
