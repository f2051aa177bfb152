package graft.ops

import graft.SparkSpec

class FormatsSpec extends SparkSpec {

  test("format round-trip: every format's checksums equal the parquet control") {
    val rows = Formats.formatRoundtrip(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Formats.RoundtripFormats.sorted)
    // all four rows identical except the format label
    val bodies = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).distinct
    assert(bodies.length == 1,
      s"a format lost/re-typed rows on its write->read loop: ${rows.mkString("; ")}")
    // and the control row matches the source of truth directly
    val li = graft.model.Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") % 10 === 0)
    assert(bodies.head._1 == li.count())
    assert(bodies.head._2 ==
      li.agg(org.apache.spark.sql.functions.sum("l_orderkey"))
        .head.getLong(0))
  }

  test("string traps: every format round-trips all 8 classes identically (round-13 #3)") {
    import org.apache.spark.sql.functions._
    val rows = Formats.formatRoundtripStrings(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Formats.RoundtripFormats.sorted)
    // all four formats agree on every checksum INCLUDING the content
    // fingerprint — CSV quoting/escaping, JSON escapes, and the binary
    // formats all preserved commas, quotes, newlines, empty-vs-NULL,
    // unicode, padding, and tabs
    val bodies = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getString(5))).distinct
    assert(bodies.length == 1,
      s"a format corrupted a trap class: ${rows.mkString("; ")}")
    // the traps are live: the slice really contains NULLs, empties, and
    // multi-line values (otherwise the round-trip proves nothing)
    val (nRows, nNulls, nEmpty, sumLen, _) = bodies.head
    assert(nRows > 0 && nNulls > 0 && nEmpty > 0 && sumLen > 0, bodies.head)
    val li = graft.model.Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 50 === 0)
    assert(nRows == li.count(), "slice coverage")

    // negative control: the traps are sharp enough to CATCH a
    // mis-configured reader — the same CSV bytes read without
    // multiLine split every embedded newline into a phantom row
    val tmp = graft.TestDirs.dir("fmt-neg").toString
    val slice = li
      .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
        .as("key"))
      .withColumn("s",
        when(col("key") % 8 === 2, lit("line1\nline2"))
          .otherwise(lit("plain")))
    slice.write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val naive = spark.read.schema(schema).option("header", "true").csv(tmp)
    val strict = spark.read.schema(schema).option("header", "true")
      .option("multiLine", "true").csv(tmp)
    assert(strict.count() == nRows, "multiLine read recovers the slice")
    assert(naive.count() > nRows,
      "a non-multiLine read must mis-parse the planted newlines — " +
        "if it doesn't, the trap is vacuous")
    graft.model.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("xml round-trip: markup traps survive the native XML write->read loop") {
    import org.apache.spark.sql.functions._
    val row = Formats.formatRoundtripXml(spark, sf).collect()
    assert(row.length == 1 && row.head.getString(0) == "xml")
    val (nRows, nNulls, sumLen) =
      (row.head.getLong(1), row.head.getLong(2), row.head.getLong(3))
    val li = graft.model.Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 50 === 0)
    assert(nRows == li.count(), "XML leg lost or duplicated rows")
    assert(nNulls > 0, "the NULL trap class must be live in the slice")
    // the checksums must equal the in-memory traps BEFORE any write —
    // i.e. the round-trip is lossless, including `<`, `&`, `]]>`,
    // newline, unicode, and the padded class under
    // ignoreSurroundingSpaces=false
    val expect = li
      .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
        .as("key"))
      .withColumn("s",
        when(col("key") % 8 === 0, "a < b & c > d")
          .when(col("key") % 8 === 1, "<tag attr=\"v\">x</tag>")
          .when(col("key") % 8 === 2, "cdata ]]> terminator")
          .when(col("key") % 8 === 3, "line1\nline2")
          .when(col("key") % 8 === 4, lit(null).cast("string"))
          .when(col("key") % 8 === 5, "héllo wörld 世界")
          .when(col("key") % 8 === 6, "  padded  ")
          .otherwise("tab\tsep & more"))
      .agg(sum(when(col("s").isNull, 1L).otherwise(0L)),
        sum(length(col("s")).cast("long"))).head
    assert(nNulls == expect.getLong(0), "NULL count drifted through XML")
    assert(sumLen == expect.getLong(1),
      "char-length checksum drifted — an escape was lost or doubled")

    // negative control: the traps are sharp enough to CATCH a writer
    // that fails to entity-escape — hand-written XML bytes with the
    // bare-markup trap UNescaped either lose content at the phantom
    // element or fail the row entirely; both corrupt the checksums
    val tmp = graft.TestDirs.dir("xml-neg")
    val trap = "a < b & c > d"
    java.nio.file.Files.writeString(tmp.resolve("part-0.xml"),
      "<ROWS><r><key>1</key><s>" + trap + "</s></r>" +
        "<r><key>2</key><s>plain</s></r></ROWS>")
    val naive = spark.read.format("xml").schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))))
      .option("rowTag", "r").load(tmp.toString)
    val back = naive.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back.get(1L).forall(_ != trap),
      "un-escaped markup must NOT round-trip intact — if it does, the " +
        "escaping trap is vacuous")
    graft.model.Fs.deleteRecursively(tmp)
  }
}
