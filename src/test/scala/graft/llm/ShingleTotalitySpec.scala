package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression: the shingle transform must be TOTAL. Over RDD-backed
  * inputs (streaming micro-batches, checkpointed frames) a downstream
  * explode's inferred constraints land in the same Filter as the
  * <3-token guard, and interpreted-mode subexpression elimination
  * evaluates the transform eagerly — before the AND can short-circuit
  * — so a non-total expression threw INVALID_ARRAY_INDEX on short
  * docs under ANSI semantics. LocalRelation inputs fold the filter at
  * optimization time, which is why only the streamed path saw it.
  *
  * Every word-window projection now draws its windows from [[Grams]],
  * so the later tests pin the generator itself: for every width
  * n = 1..7, docs of 0, 1, n−1, n and n+1 tokens and a null array get
  * exactly Scala's full-width `sliding(n)` windows — none for short or
  * null docs — whether exploded inline or kept as a column and
  * exploded later (the shape that threw). */
class ShingleTotalitySpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "one two"), // shorter than a shingle — must not throw anywhere
    (2L, "a"),
    (3L, "a b c d e")
  ).toDF("doc_id", "text").localCheckpoint()

  test("withShingleArray survives short docs on an RDD-backed input") {
    val out = Dedup.withShingleArray(docs)
      .select($"doc_id", explode($"sh").as("s")).collect()
    assert(out.map(_.getLong(0)).distinct.toSeq == Seq(3L))
    assert(out.map(_.getString(1)).sorted.toSeq ==
      Seq("a_b_c", "b_c_d", "c_d_e"))
  }

  test("shingles and sourceGramProjection survive short docs too") {
    val sh = Dedup.shingles(docs).collect()
    assert(sh.map(_.getLong(0)).distinct.toSeq == Seq(3L))
    val grams = Dedup.sourceGramProjection(
      docs.withColumn("source", lit("s"))).collect()
    assert(grams.length == 3) // the three shingles of doc 3, hashed
  }

  private val widths = 1 to 7

  private def tokens(k: Int): Seq[String] = (1 to k).map(j => s"t$j")

  /** (doc_id, ws): every length the spec names for every width, plus
    * a null array, on one RDD-backed (checkpointed) frame. */
  private val arrays = {
    val lengths = widths.flatMap(n => Seq(0, 1, n - 1, n, n + 1)).distinct.sorted
    val rows = lengths.map(k => (k.toLong, Option(tokens(k)))) :+ ((-1L, None))
    rows.toDF("doc_id", "ws").localCheckpoint()
  }

  private val wsOf: Map[Long, Option[Seq[String]]] =
    arrays.collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap

  private def expected(n: Int): Seq[(Long, Int, String)] =
    wsOf.toSeq.flatMap { case (id, ws) =>
      ws.toSeq.flatMap(_.sliding(n).filter(_.size == n).zipWithIndex
        .map { case (g, i) => (id, i + 1, g.mkString(" ")) })
    }.sorted

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("inline explode equals sliding(n) for n = 1..7, short and null docs included") {
    widths.foreach { n =>
      val got = arrays
        .select($"doc_id", posexplode(Grams.joined("ws", n)).as(Seq("p", "g")))
        .as[(Long, Int, String)].collect().toSeq
        .map { case (id, p, g) => (id, p + 1, g) }.sorted
      assert(got == expected(n), s"n=$n")
      val hashed = arrays
        .select($"doc_id", explode(Grams.md5s("ws", n, withPos = true)).as("h"))
        .select($"doc_id", $"h.pos", $"h.g").as[(Long, Int, String)].collect().toSeq.sorted
      assert(hashed == expected(n).map { case (id, p, g) => (id, p, md5hex(g)) }.sorted,
        s"md5 n=$n")
    }
    val pairs = arrays.select($"doc_id", explode(Grams.pairs("ws", "a", "b")).as("p"))
      .select($"doc_id", $"p.a", $"p.b").as[(Long, String, String)].collect().toSeq.sorted
    assert(pairs == expected(2).map { case (id, _, g) =>
      val Array(a, b) = g.split(" "); (id, a, b) }.sorted)
  }

  test("a materialized window column is empty (never null) below width and " +
    "explodes later to sliding(n)") {
    widths.foreach { n =>
      val got = arrays.withColumn("g", Grams.joined("ws", n))
        .select($"doc_id", $"g").as[(Long, Seq[String])].collect().toMap
      wsOf.foreach { case (id, ws) =>
        val want = ws.toSeq.flatMap(_.sliding(n).filter(_.size == n).map(_.mkString(" ")))
        assert(got(id) == want, s"n=$n doc=$id")
      }
      // the shingle-array shape: a row filter, the array kept as a
      // column, the explode in a later projection
      val later = arrays.filter(size($"ws") >= n)
        .withColumn("g", Grams.joined("ws", n))
        .select($"doc_id", posexplode($"g").as(Seq("p", "g")))
        .as[(Long, Int, String)].collect().toSeq
        .map { case (id, p, g) => (id, p + 1, g) }.sorted
      assert(later == expected(n), s"later n=$n")
    }
  }

  test("no word-window sequence(…) enumeration under src/main outside Grams") {
    val files = graft.MainSources.files
    assert(files.size > 50, s"source walk found only ${files.size} files")
    // sequence(1, size(ws) - k) or sequence(k, size(ws)) for k > 1, in
    // SQL text or the Column API (lit(1), size(col("ws"))), clamped
    // with greatest(…) or not
    val window = ("""sequence\(\s*(?:lit\(\s*)?(\d+)\s*\)?\s*,\s*(?:greatest\(\s*)?""" +
      """size\(\s*(?:col\(\s*")?\w+"?\s*\)?\s*\)\s*(-?)""").r
    val hits = files.filterNot(_.endsWith("Grams.scala")).flatMap { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      window.findAllMatchIn(txt).filter { m =>
        val start = m.group(1).toInt
        (start == 1 && m.group(2) == "-") || start > 1
      }.filterNot { m =>
        // Dedup.crossSourceExact's all unordered pairs (i < j) of a
        // source set: not a window over tokens
        txt.substring(m.end, math.min(txt.length, m.end + 120))
          .contains("sequence(i + 1, size(")
      }.map(m => s"${graft.MainSources.root.relativize(p)}: ${m.matched}")
    }
    assert(hits.isEmpty, s"hand-built word windows: $hits")
  }
}
