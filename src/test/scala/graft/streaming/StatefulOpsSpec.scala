package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StatefulOpsSpec extends SparkSpec {

  private def ts(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)

  test("stateful sessionization closes a session on gap and keeps the open one in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.SessionInput]
    // user 1: two events 10s apart, then a 31-minute gap, then one more
    input.addData(
      StatefulOps.SessionInput(1L, 1L, ts(0)),
      StatefulOps.SessionInput(1L, 2L, ts(10)),
      StatefulOps.SessionInput(1L, 3L, ts(10 + 31 * 60)),
      StatefulOps.SessionInput(2L, 4L, ts(5)))
    val q = StatefulOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val closed = spark.table("sess_out").as[StatefulOps.SessionOutput]
      .collect().sortBy(_.user_id)
    // user 1's first session closes on the in-batch gap; user 2's lone
    // session times out once the watermark (advanced by the late event)
    // passes its gap. User 1's second session stays open in state.
    assert(closed.toSeq == Seq(
      StatefulOps.SessionOutput(1L, ts(0).getTime, ts(10).getTime, 2L),
      StatefulOps.SessionOutput(2L, ts(5).getTime, ts(5).getTime, 1L)))
  }

  test("streaming LSH emits cross-batch candidates and caps hot buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StatefulOps.streamingLshCandidates(
      input.toDF().toDF("doc_id", "text", "ts"), cap = 3)
      .writeStream.format("memory").queryName("lsh_out")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    val dup = "the quick brown fox jumps over the lazy dog"
    // batch 1: two identical docs + one unrelated
    input.addData((1L, dup, ts(0)), (2L, dup, ts(1)),
      (3L, "completely different words entirely here now", ts(2)))
    q.processAllAvailable()
    val b1 = spark.table("lsh_out").as[StatefulOps.CandidatePair].collect()
    // identical docs share every band signature: one (1,2) pair per band
    assert(b1.map(p => (p.id_a, p.id_b)).distinct.toSeq == Seq((1L, 2L)))
    assert(b1.length == graft.llm.Dedup.NumBands)
    // batch 2: a later duplicate pairs against BOTH remembered residents
    input.addData((4L, dup, ts(10)))
    q.processAllAvailable()
    val b2 = spark.table("lsh_out").as[StatefulOps.CandidatePair].collect()
      .filter(p => p.id_b == 4L)
    assert(b2.map(p => (p.id_a, p.id_b)).distinct.sorted.toSeq ==
      Seq((1L, 4L), (2L, 4L)))
    // batch 3: the bucket holds 3 residents (cap) — a flood of further
    // dups each emits exactly cap pairs per band, never more
    input.addData((5L, dup, ts(20)), (6L, dup, ts(21)), (7L, dup, ts(22)))
    q.processAllAvailable()
    val b3 = spark.table("lsh_out").as[StatefulOps.CandidatePair].collect()
    for (newer <- Seq(5L, 6L, 7L)) {
      val partners = b3.filter(p => p.id_b == newer)
        .map(_.id_a).distinct.sorted.toSeq
      assert(partners == Seq(1L, 2L, 4L),
        s"doc $newer paired with $partners — cap should pin residents to 1,2,4")
    }
    q.stop()
  }

  test("streaming anomalies score against watermark-final trailing frames, any arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference: the same ring logic in plain Scala over event order
    val frame = 10; val minN = 5; val threshold = 2.5
    val values = (0 until 40).map(i => (i % 7).toDouble) :+ 500.0 // spike at id 40
    def expected: Seq[(Long, Double)] = {
      var ring = List.empty[Double]
      val out = Seq.newBuilder[(Long, Double)]
      values.zipWithIndex.foreach { case (v, i) =>
        val n = ring.size
        if (n >= minN) {
          val s1 = ring.sum; val s2 = ring.map(x => x * x).sum
          val mean = s1 / n
          val variance = (s2 - s1 * s1 / n) / (n - 1)
          if (variance > 0.0) {
            val z = (v - mean) / math.sqrt(variance)
            if (math.abs(z) > threshold) out += ((i.toLong, z))
          }
        }
        ring = (ring :+ v).takeRight(frame)
      }
      out.result()
    }
    def run(batches: Seq[Seq[Int]], name: String): Seq[(Long, Double)] = {
      val input = MemoryStream[(String, Long, Double, Timestamp)]
      val q = StatefulOps.streamingAnomalies(
        input.toDF().toDF("event_type", "event_id", "value", "ts"),
        watermarkDelay = "2 hours", frame = frame, minN = minN,
        threshold = threshold)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
        .start()
      batches.foreach { b =>
        input.addData(b.map(i => ("a", i.toLong, values(i), ts(i))))
        q.processAllAvailable()
      }
      // sentinel on ANOTHER key advances the watermark past every "a"
      // row (2h delay), finalizing them; the sentinel itself stays
      // pending forever, which is fine — it is never scored
      input.addData(Seq(("wm", -1L, 0.0, ts(3 * 3600 + 100))))
      q.processAllAvailable()
      val got = spark.table(name).as[StatefulOps.ZOutput].collect()
        .sortBy(_.event_id).map(o => (o.event_id, o.z)).toSeq
      q.stop()
      got
    }
    val ordered = run(Seq(values.indices.toSeq), "z_ordered")
    assert(ordered == expected, s"ordered run: $ordered vs $expected")
    assert(ordered.map(_._1) == Seq(40L), "exactly the spike flags")
    // shuffled across three batches: ids interleaved out of event-time
    // order — identical output bit for bit (watermark finalization)
    val shuffled = values.indices.toSeq.reverse.grouped(14).toSeq
    assert(run(shuffled, "z_shuffled") == ordered)
  }

  test("anomaly pending flood is load-shed at maxPending, keeping the earliest events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val frame = 5; val minN = 3; val threshold = 1.0; val cap = 10
    val input = MemoryStream[(String, Long, Double, Timestamp)]
    val q = StatefulOps.streamingAnomalies(
      input.toDF().toDF("event_type", "event_id", "value", "ts"),
      watermarkDelay = "2 hours", frame = frame, minN = minN,
      threshold = threshold, maxPending = cap)
      .writeStream.format("memory").queryName("z_flood")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    // one large batch on a single key while the watermark is still at
    // its initial floor — the stalled-watermark flood the cap guards
    val values = (0 until 30).map(i => if (i == 8) 50.0 else (i % 3).toDouble)
    input.addData(values.zipWithIndex.map { case (v, i) => ("a", i.toLong, v, ts(i)) })
    q.processAllAvailable()
    assert(spark.table("z_flood").count() == 0,
      "nothing may emit before the watermark finalizes it")
    // sentinel on another key advances the watermark past every "a" row
    input.addData(Seq(("wm", -1L, 0.0, ts(3 * 3600 + 100))))
    q.processAllAvailable()
    val got = spark.table("z_flood").as[StatefulOps.ZOutput].collect()
      .sortBy(_.event_id).map(_.event_id).toSeq
    q.stop()
    // reference: the ring simulation over ONLY the cap earliest events
    // (ids 0..9) — anything scored beyond id 9 would mean the shed
    // didn't happen; a different kept-set would break the id list
    val expected = {
      var ring = List.empty[Double]
      val out = Seq.newBuilder[Long]
      values.take(cap).zipWithIndex.foreach { case (v, i) =>
        val n = ring.size
        if (n >= minN) {
          val s1 = ring.sum; val s2 = ring.map(x => x * x).sum
          val mean = s1 / n
          val variance = (s2 - s1 * s1 / n) / (n - 1)
          if (variance > 0.0 && math.abs((v - mean) / math.sqrt(variance)) > threshold)
            out += i.toLong
        }
        ring = (ring :+ v).takeRight(frame)
      }
      out.result()
    }
    assert(got == expected, s"got $got, expected $expected")
    assert(got.forall(_ < cap), "no event beyond the kept cap may be scored")
  }

  test("streaming as-of join enriches events with the version valid at their ts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val updates = MemoryStream[(Long, Timestamp, String)]
    val events = MemoryStream[(Long, Timestamp, Long)]
    val joined = StatefulOps.streamingAsOfJoin(
      updates.toDF().toDF("user_id", "ts", "attr"),
      events.toDF().toDF("user_id", "ts", "event_id"),
      idleTtlMs = 30 * 1000L)
    val q = joined.writeStream.format("memory").queryName("asof_out")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    // batch 1: version A@t0, event e1@t5 — watermark too low to emit
    updates.addData((1L, ts(0), "A"))
    events.addData((1L, ts(5), 1L))
    q.processAllAvailable()
    assert(spark.table("asof_out").count() == 0,
      "no event may emit before the watermark finalizes it")
    // batch 2: version B@t10, event e2@t12 (out-of-order vs e1 is fine),
    // event e0@t2 arriving LATE but inside the delay, plus a far clock
    // row on user 2 to advance the watermark
    updates.addData((1L, ts(10), "B"))
    events.addData((1L, ts(12), 2L), (1L, ts(2), 0L), (2L, ts(60), 99L))
    q.processAllAvailable()
    // batch 3: clock rows push the watermark past every user-1 event
    events.addData((2L, ts(120), 98L))
    q.processAllAvailable()
    events.addData((2L, ts(240), 97L))
    q.processAllAvailable()
    val got = spark.table("asof_out").as[StatefulOps.AsOfOutput].collect()
      .filter(_.user_id == 1L).sortBy(_.event_id)
      .map(o => (o.event_id, o.attr, o.version_ts_ms.map(m => (m - ts(0).getTime) / 1000)))
    assert(got.toSeq == Seq(
      (0L, Some("A"), Some(0L)),   // e0@t2  → A@t0
      (1L, Some("A"), Some(0L)),   // e1@t5  → A@t0
      (2L, Some("B"), Some(10L))), // e2@t12 → B@t10
      s"got ${got.toSeq}")
    // user 2 has no version stream: null-padded once finalized
    val u2 = spark.table("asof_out").as[StatefulOps.AsOfOutput].collect()
      .filter(o => o.user_id == 2L && o.event_id == 99L)
    assert(u2.length == 1 && u2.head.attr.isEmpty)
    // watermark far past user 1's last version + idle TTL: state evicted
    val removed = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "idle as-of state must be evicted by the watermark")
    q.stop()
  }

  test("stream-static join enriches events with broadcast customer dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
        event_type: String, value: Double)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    input.addData((1L, ts(0), 0L, "view", 1.0), (2L, ts(1), 999999L, "view", 2.0))
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val enriched = StatefulOps.enrichWithCustomers(
      events, Tables.customer(spark, sf))
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enrich_out").collect()
    assert(rows.length == 2)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(5) != null)   // known customer enriched
    assert(byId(2L).isNullAt(5))            // unknown user -> left-join null
  }

  test("stream-stream interval join matches purchases to recent signups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    // user 1 signs up at t=0, buys at t=30min (match) and t=90min (no match);
    // user 2 buys without signup
    signups.addData((1L, ts(0), 10L))
    purchases.addData(
      (1L, ts(1800), 20L, 9.99),
      (1L, ts(5400), 21L, 5.0),
      (2L, ts(100), 22L, 1.0))
    val funnel = StatefulOps.conversionFunnel(
      signups.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value"))
    val q = funnel.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("funnel_out")
      .select("user_id", "s_event", "p_event").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 10L, 20L)), s"got $rows")
  }

  test("left-outer funnel emits null-padded non-converters and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    val funnel = StatefulOps.conversionFunnel(
      signups.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value"),
      joinType = "left_outer")
    val q = funnel.writeStream.format("memory").queryName("funnel_outer")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    // batch 1: user 1 converts inside the hour; user 3 never converts
    signups.addData((1L, ts(0), 10L), (3L, ts(0), 30L))
    purchases.addData((1L, ts(1800), 20L, 9.99))
    q.processAllAvailable()
    // batches 2-3: far-future events push BOTH watermarks past
    // t0 + 1h + delay, forcing user 3's null-padded emission and the
    // eviction of the expired signup state
    signups.addData((98L, ts(8 * 3600), 11L))
    purchases.addData((99L, ts(8 * 3600), 23L, 1.0))
    q.processAllAvailable()
    signups.addData((98L, ts(9 * 3600), 12L))
    purchases.addData((99L, ts(9 * 3600), 24L, 1.0))
    q.processAllAvailable()
    val removed = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsRemoved).sum
    q.stop()
    val rows = spark.table("funnel_outer")
      .select("user_id", "s_event", "p_event")
      .collect().filter(r => Set(1L, 3L)(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, 10L, 20L), (3L, 30L, -1L)),
      s"expected converted user 1 + null-padded user 3, got $rows")
    assert(removed > 0, "watermark pass must evict expired join state")
  }

  test("outer funnel: a purchase arriving after signup eviction is dropped") {
    // pins the watermark contract: once user 3's signup was emitted
    // null-padded and evicted, a too-late matching purchase must NOT
    // resurrect it (no duplicate, no second match row)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    val funnel = StatefulOps.conversionFunnel(
      signups.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value"),
      joinType = "left_outer")
    val q = funnel.writeStream.format("memory").queryName("funnel_late")
      .outputMode("append")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    signups.addData((7L, ts(0), 70L))
    q.processAllAvailable()
    // push both watermarks far past user 7's join window -> null-padded
    signups.addData((98L, ts(8 * 3600), 11L))
    purchases.addData((99L, ts(8 * 3600), 23L, 1.0))
    q.processAllAvailable()
    signups.addData((98L, ts(9 * 3600), 12L))
    purchases.addData((99L, ts(9 * 3600), 24L, 1.0))
    q.processAllAvailable()
    // the matching purchase arrives hopelessly late (event time inside
    // the original window, long behind the watermark)
    purchases.addData((7L, ts(600), 71L, 5.0))
    q.processAllAvailable()
    q.stop()
    val u7 = spark.table("funnel_late")
      .select("user_id", "s_event", "p_event")
      .collect().filter(_.getLong(0) == 7L)
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(u7 == Seq((70L, -1L)),
      s"late purchase must not resurrect or duplicate the evicted signup: $u7")
  }

  test("SQL extension registers both dot products for SQL users") {
    // inject into the existing session's registry (same code path the
    // extension uses at session build time)
    val (id, einfo, builder) = graft.functions.GraftExtensions.dotProductD
    spark.sessionState.functionRegistry.registerFunction(id, einfo, builder)
    val r = spark.sql(
      "SELECT dot_product_d(cast(array(1.0,2.0) as array<float>), " +
        "cast(array(3.0,4.0) as array<float>)) AS d").head.getDouble(0)
    assert(r == 11.0)
    val (id2, einfo2, builder2) = graft.functions.GraftExtensions.dotProductFD
    spark.sessionState.functionRegistry.registerFunction(id2, einfo2, builder2)
    val r2 = spark.sql(
      "SELECT dot_product_fd(cast(array(1.0,2.0) as array<float>), " +
        "cast(array(3.0,4.0) as array<double>)) AS d").head.getDouble(0)
    assert(r2 == 11.0)
  }
}
