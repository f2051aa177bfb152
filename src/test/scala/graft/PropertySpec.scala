package graft

import graft.model.Tables
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property-based invariants (SURVEY.md §5): the W1 window-coverage law,
 * dedup idempotence, filter ⊆ scan, cursor-pagination coverage —
 * checked over ScalaCheck-generated parameters (fixed seed, so runs are
 * reproducible) against the fixture data.
 */
class PropertySpec extends SparkSpec {

  /** Deterministically draw n samples from a generator. */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private lazy val eventsMs = {
    val df = Tables.events(spark, sf)
      .select(Tables.epochMs(col("ts")).as("ms"))
    df.cache(); df.count(); df
  }

  test("W1: tumbling windows of any width tile the timeline (no gap, no overlap)") {
    samples(Gen.choose(1000L, 3600000L), 8).foreach { width =>
      val total = eventsMs
        .withColumn("bucket", col("ms") - pmod(col("ms"), lit(width)))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(sum("n")).head.getLong(0)
      assert(total == eventsMs.count(), s"width=$width") // exactly one bucket each
    }
  }

  test("dedup is idempotent: dropDuplicates twice == once, for any key subset") {
    Seq(Seq("event_type"), Seq("user_id"), Seq("event_type", "user_id"))
      .foreach { keys =>
        val df = Tables.events(spark, sf)
        val once = df.dropDuplicates(keys)
        assert(once.count() == once.dropDuplicates(keys).count(), s"keys=$keys")
      }
  }

  test("filter result and its complement partition the scan") {
    samples(Gen.choose(0.0, 400.0), 8).foreach { threshold =>
      val ev = Tables.events(spark, sf)
      val above = ev.filter(col("value") >= threshold).count()
      val below = ev.filter(col("value") < threshold).count()
      assert(above + below == ev.count(), s"threshold=$threshold")
    }
  }

  test("bucketPairs == exact all-pairs below the cap; connected above it") {
    import spark.implicits._
    // random bucket layouts: n docs spread over k buckets (some empty,
    // some hot); the generator stays small enough to compute the exact
    // all-pairs ground truth driver-side
    val gen = for {
      n <- Gen.choose(2, 120)
      k <- Gen.choose(1, 6)
      assign <- Gen.listOfN(n, Gen.choose(0, k - 1))
    } yield assign
    samples(gen, 6).foreach { assign =>
      val rows = assign.zipWithIndex.map { case (b, id) => (id.toLong, 0L, b.toLong) }
      val banded = rows.toDF("doc_id", "band", "sig")
      val cap = 8 // small cap so generated layouts exercise the chain path
      val got = graft.llm.Dedup.bucketPairs(banded, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._1).sorted).toMap
      byBucket.foreach { case (_, ids) =>
        if (ids.length <= cap) {
          // exact all-pairs inside narrow buckets
          val want = for {
            i <- ids; j <- ids if i < j
          } yield (i, j)
          assert(want.forall(got.contains), s"missing pairs in narrow bucket")
        } else {
          // hot bucket: every consecutive pair present (connectivity),
          // and the candidate count is linear, not quadratic
          ids.sliding(2).foreach { case Seq(a, b) =>
            assert(got.contains((a, b)), s"chain broken between $a,$b")
          }
          val inBucket = got.count { case (a, b) => ids.contains(a) && ids.contains(b) }
          assert(inBucket <= ids.length * graft.llm.Dedup.ChainDepth,
            s"quadratic hot bucket: $inBucket pairs for ${ids.length} docs")
        }
      }
    }
  }

  test("TopK.perKey == per-group sort-take, under heavy key/value collisions") {
    import spark.implicits._
    // generated tables with few distinct keys and few distinct order
    // values force ties everywhere — the regime where a bounded-heap
    // implementation with a broken comparator or a lost tiebreak
    // diverges from the reference semantics. `id` makes order total.
    val gen = for {
      n <- Gen.choose(1, 200)
      k <- Gen.choose(1, 4)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(0, 5)
        v <- Gen.choose(0, 3)
      } yield (key.toLong, v.toLong))
    } yield (rows, k)
    samples(gen, 6).foreach { case (rows, k) =>
      val df = rows.zipWithIndex
        .map { case ((key, v), id) => (key, v, id.toLong) }
        .toDF("key", "v", "id")
        .repartition(5)
      val got = graft.plans.TopK
        .perKey(df, Seq("key"), Seq(("v", true), ("id", false)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = rows.zipWithIndex
        .map { case ((key, v), id) => (key, v, id.toLong) }
        .groupBy(_._1).values.flatMap { group =>
          group.sortBy { case (_, v, id) => (-v, id) }.take(k)
        }.toSet
      assert(got == want, s"k=$k rows=${rows.size}")
    }
  }

  test("KLL rank guarantee holds for arbitrary data shapes and layouts") {
    import spark.implicits._
    import graft.functions.KllQuantileAgg.kll_quantiles
    val genData = for {
      n <- Gen.choose(200, 3000)
      mode <- Gen.oneOf("uniform", "constant-heavy", "bimodal")
    } yield (n, mode)
    samples(genData, 6).foreach { case (n, mode) =>
      val values: Seq[Double] = mode match {
        case "uniform"        => (1 to n).map(_.toDouble)
        case "constant-heavy" => Seq.fill(n / 2)(7.0) ++ (1 to n / 2).map(_.toDouble)
        case "bimodal"        => (1 to n / 2).map(_.toDouble) ++
          (1 to n - n / 2).map(i => 1e6 + i)
      }
      val sorted = values.sorted.toArray
      samples(Gen.choose(1, 13), 2).foreach { parts =>
        val row = values.toDF("v").repartition(parts)
          .agg(kll_quantiles(col("v")).as("sk"))
          .select("sk.n", "sk.slack", "sk.est25", "sk.est50", "sk.est75").head
        assert(row.getLong(0) == sorted.length.toLong, s"$mode/$parts: n")
        val slack = row.getLong(1)
        for ((p, idx) <- Seq(0.25 -> 2, 0.5 -> 3, 0.75 -> 4)) {
          val est = row.getDouble(idx)
          val t = math.ceil(p * sorted.length).toLong
          assert(sorted.count(_ <= est) >= t, s"$mode/$parts/$p: lower")
          assert(sorted.count(_ < est) < t + slack, s"$mode/$parts/$p: upper")
        }
      }
    }
  }

  test("groupedRankAndPrefix == per-key window, under hot keys and collisions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // adversarial layouts: few keys (some hot enough to span range
    // partitions), heavily colliding order values (ties broken by the
    // unique id), negative and zero summands
    val gen = for {
      n      <- Gen.choose(2, 400)
      nKeys  <- Gen.choose(1, 5)
      rows   <- Gen.listOfN(n, for {
        k <- Gen.choose(0, nKeys - 1)
        v <- Gen.choose(-50L, 50L)
        o <- Gen.choose(0, 7) // colliding order values
      } yield (k, o, v))
    } yield rows
    samples(gen, 6).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, o, v), id) => (k, o, v, id.toLong) }
        .toDF("k", "o", "v", "id")
        .repartition(7) // scatter so key segments straddle partitions
      val got = graft.ops.GlobalOrder.groupedRankAndPrefix(df,
          Seq(col("k")), Seq(col("o"), col("id")),
          values = Seq((col("v"), "pfx")))
        .select(col("id"), col("g_rank"), col("g_total_rows"), col("pfx"))
        .orderBy(col("id")).collect()
      val w = Window.partitionBy(col("k")).orderBy(col("o"), col("id"))
      val want = df
        .withColumn("g_rank", row_number().over(w).cast("long"))
        .withColumn("g_total_rows", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("pfx", coalesce(sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("id"), col("g_rank"), col("g_total_rows"), col("pfx"))
        .orderBy(col("id")).collect()
      assert(got.sameElements(want), s"n=${rows.length}")
    }
  }

  test("groupedTrailingSums == bounded window frame, across frame sizes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // frames from degenerate (1) past segment-straddling sizes; hot
    // keys so segments span range partitions and seeds chain across
    // more than one predecessor segment
    val gen = for {
      n     <- Gen.choose(2, 300)
      nKeys <- Gen.choose(1, 3)
      frame <- Gen.oneOf(1, 2, 7, 50)
      rows  <- Gen.listOfN(n, for {
        k <- Gen.choose(0, nKeys - 1)
        v <- Gen.choose(-9L, 9L)
      } yield (k, v))
    } yield (frame, rows)
    samples(gen, 6).foreach { case (frame, rows) =>
      val df = rows.zipWithIndex
        .map { case ((k, v), id) => (k, v, id.toLong) }
        .toDF("k", "v", "id")
        .repartition(7)
      val got = graft.ops.GlobalOrder.groupedTrailingSums(df,
          Seq(col("k")), Seq(col("id")),
          values = Seq((col("v"), "ts")), frame = frame)
        .select(col("id"), col("g_rank"), col("ts"))
        .orderBy(col("id")).collect()
      val w = Window.partitionBy(col("k")).orderBy(col("id"))
      val want = df
        .withColumn("g_rank", row_number().over(w).cast("long"))
        .withColumn("ts", coalesce(sum(col("v")).over(
          w.rowsBetween(-frame.toLong, -1L)), lit(0L)))
        .select(col("id"), col("g_rank"), col("ts"))
        .orderBy(col("id")).collect()
      assert(got.sameElements(want), s"frame=$frame n=${rows.length}")
    }
  }

  test("keyset pagination covers the table exactly once for any page size") {
    val ids = Tables.events(spark, sf).select("event_id")
      .orderBy("event_id").collect().map(_.getLong(0))
    samples(Gen.choose(50, 400), 8).foreach { pageSize =>
      // walk pages via the cursor like the reference's paging.next.after
      var cursor = Long.MinValue
      var seen = 0L
      var go = true
      while (go) {
        val page = ids.filter(_ > cursor).take(pageSize)
        if (page.isEmpty) go = false
        else { seen += page.length; cursor = page.last }
      }
      assert(seen == ids.length, s"pageSize=$pageSize")
    }
  }

  test("morton key is a bijection on 16-bit pairs (random sample round-trips)") {
    import spark.implicits._
    // reference de-interleave computed driver-side; the Spark column
    // expression must agree and be injective on the sampled pairs
    def deinterleave(z: Long): (Long, Long) = {
      var (x, y) = (0L, 0L)
      (0 until 16).foreach { i =>
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    val pairs = samples(
      Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)), 64).distinct
    val got = pairs.toDF("x", "y")
      .withColumn("z", graft.ops.Layout.zorderKey(col("x"), col("y")))
      .collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("z")))
    got.foreach { case (x, y, z) =>
      assert(deinterleave(z) == ((x, y)), s"morton($x,$y)=$z fails round-trip")
    }
    assert(got.map(_._3).distinct.length == pairs.length, "z collision")
  }

  test("star-contraction CC equals union-find on arbitrary random graphs") {
    import spark.implicits._
    // the q257 algorithm against a driver-side union-find ground truth
    // over graphs star contraction never saw in its hand-written specs:
    // random edge sets with multi-edges, dense pockets, and isolated
    // chains, across several sizes
    val cases = samples(
      for {
        n <- Gen.choose(8, 120)
        m <- Gen.choose(n / 2, 3 * n)
        es <- Gen.listOfN(m,
          Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      } yield es.filter { case (a, b) => a != b }, 6)
    // the empty graph is a case too: no edges, no labels
    (List.empty[(Long, Long)] +: cases).foreach { es =>
      // ground truth: union-find, components labeled by their minimum
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
      def find(v: Long): Long = {
        var r = v; while (parent(r) != r) r = parent(r); r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val truth = nodes.groupBy(find).flatMap { case (_, vs) =>
        val m = vs.min; vs.map(_ -> m)
      }
      val sym = es.toDF("src", "dst")
        .union(es.map(_.swap).toDF("src", "dst"))
      val (labels, rounds) = graft.llm.Dedup.ccStarLabels(sym)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth,
        s"star contraction drifted from union-find on ${es.size} edges")
      assert(rounds <= 48)
    }
  }

  test("KPL deaggregate is total on arbitrary bytes and round-trips " +
    "arbitrary aggregates (incl. near-magic adversaries)") {
    import graft.sources.Kpl
    // totality: random bytes — with and without a planted magic
    // prefix — must return None or Some, never throw (the MD5 trailer
    // gates every parse; random bytes cannot forge it)
    val raw = samples(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))
      .map(_.toArray), 60)
    raw.foreach { bs =>
      Kpl.deaggregate(bs) // must not throw
      // magic + garbage: random bytes cannot forge the MD5 trailer,
      // so this is never an aggregate — and never an exception
      assert(Kpl.deaggregate(Kpl.Magic ++ bs).isEmpty)
    }
    // round-trip: arbitrary record lists (unicode keys, empty/binary
    // payloads, >127-byte payloads to exercise multi-byte varints)
    val recGen = for {
      key <- Gen.oneOf(Gen.alphaNumStr.map(_.take(8)),
        Gen.const("ké中"))
      data <- Gen.oneOf(
        Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray),
        Gen.chooseNum(120, 400).map(n => Array.fill[Byte](n)(42)))
    } yield Kpl.UserRecord(key, data)
    samples(Gen.nonEmptyListOf(recGen), 40).foreach { recs =>
      val got = Kpl.deaggregate(Kpl.aggregate(recs))
      assert(got.isDefined, "own aggregates must always verify")
      assert(got.get.map(_.partitionKey) == recs.map(_.partitionKey))
      assert(got.get.zip(recs).forall { case (a, b) =>
        java.util.Arrays.equals(a.data, b.data) },
        s"payload drift on ${recs.size} records")
    }
  }

  test("confusable fold is idempotent and ASCII-closed on adversarial strings") {
    import spark.implicits._
    val confusables = "\u00A0\u200B\u201C\u201D\u2018\u2019\u2014" +
      (0 until 10).map(i => new String(Character.toChars(0xFF41 + i))).mkString
    val alphabet = ("abc XY9,.\"'-" + confusables).toSeq
    val strs = samples(
      Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString), 40).distinct
    val docs = strs.zipWithIndex
      .map { case (s, i) => (i.toLong * 5, "s", s) } // class 0: no plant
      .toDF("doc_id", "source", "text")
    // fold twice via the public operator's internals: folding the
    // already-folded text must be a no-op (idempotence — the property
    // that lets a pipeline re-run normalization safely)
    val folded = graft.llm.TextAnalysis.foldedTextOf(docs)
      .select(col("folded").as("text"), col("doc_id"), col("source"))
    val refolded = graft.llm.TextAnalysis.foldedTextOf(folded)
    val drift = refolded.filter(col("folded") =!= col("text")).count()
    assert(drift == 0, "fold must be idempotent")
  }
}
