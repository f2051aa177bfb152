package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Round-13 verdict #1: convert the layout family from SIMULATION to
 * MEASUREMENT. q244 predicts zone-map pruning analytically; here the
 * three layouts are actually WRITTEN as multi-file parquet
 * (repartitionByRange on the clustering key + sortWithinPartitions),
 * the per-file footer stats are read back, and the zone-map
 * arithmetic's prediction is pinned EQUAL to the rows the parquet
 * reader materializes on a real pushed 2-D range scan.
 */
class LayoutEndToEndSpec extends SparkSpec {

  private def withTempDir[T](f: String => T): T = {
    val out = graft.TestDirs.dir("graft-layouts")
    try f(out.toString)
    finally graft.model.Fs.deleteRecursively(out)
  }

  /** predicted == measured over every (layout, pred); returns
    * (layout, pred_id) -> rowsRead for the caller's comparisons. */
  private def pinPredictions(paths: Map[String, String],
      preds: Seq[(Int, Long, Long, Long, Long)]): Map[(String, Int), Long] =
    Layout.measureLayouts(spark, paths, preds).map { m =>
      // THE pin: with one row group per file, row-group pruning must
      // materialize exactly the rows of the files whose min/max box
      // intersects the predicate
      assert(m.rowsRead == m.predictedRows,
        s"${m.layout} pred ${m.predId}: parquet materialized " +
          s"${m.rowsRead} rows, zone maps predicted ${m.predictedRows}")
      // sanity triangle: matching <= read <= total; Spark lists every
      // file (file-level skip is the Iceberg/Delta manifest layer)
      assert(m.matching <= m.rowsRead && m.rowsRead <= m.total)
      assert(m.filesListed >= m.bucketsHit)
      (m.layout, m.predId) -> m.rowsRead
    }.toMap

  test("fixture layouts: predicted zone-map pruning == rows parquet actually reads") {
    withTempDir { out =>
      val paths = Layout.writeLayouts(spark, sf, out, 64)
      assert(paths.keySet == Set("hilbert", "zorder", "lex"))
      pinPredictions(paths, Layout.ZonePreds)
    }
  }

  test("dense grid: curve layouts prune 2-D boxes, lex wins the x-slice — on real files") {
    // the geometry story needs a 2-D-dense key distribution (the
    // fixture's masked suppkey occupies a thin stripe at small SF);
    // a full 256x256 grid is the clean instrument
    import spark.implicits._
    val n = 256
    val grid: DataFrame = spark.range(0L, n.toLong * n, 1L, 4)
      .select((col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))
    val preds = Seq(
      (1, 64L, 191L, 8L, 23L),    // wide 2-D box
      (2, 160L, 255L, 32L, 47L),  // corner box
      (3, 90L, 109L, 0L, 255L))   // unaligned x-slice: lex's home turf
    withTempDir { out =>
      val paths = Layout.writeLayoutsOf(grid, out, 64)
      val read = pinPredictions(paths, preds)
      Seq(1, 2).foreach { p =>
        assert(read(("hilbert", p)) < read(("lex", p)),
          s"pred $p: hilbert ${read(("hilbert", p))} !< lex ${read(("lex", p))}")
        assert(read(("zorder", p)) < read(("lex", p)),
          s"pred $p: zorder ${read(("zorder", p))} !< lex ${read(("lex", p))}")
      }
      assert(read(("lex", 3)) < read(("hilbert", 3)),
        s"pred 3 (x-slice): lex ${read(("lex", 3))} !< hilbert ${read(("hilbert", 3))}")
    }
  }

  test("pushed filters reach the parquet scan of a written layout") {
    withTempDir { out =>
      val paths = Layout.writeLayouts(spark, sf, out, 8)
      // the default 100-char metadata render truncates the pushed list
      // mid-entry (no closing bracket -> audit sees nothing); widen it
      // for this assertion only
      val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
      try {
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        val df = spark.read.parquet(paths("hilbert"))
          .filter(col("x").between(64L, 191L) && col("y").between(8L, 23L))
        df.collect()
        val pushed = graft.plans.PlanChecks.audit(df).pushedFilters.mkString("; ")
        assert(pushed.contains("GreaterThanOrEqual(x,64)") &&
          pushed.contains("LessThanOrEqual(y,23)"),
          s"range predicate not pushed to parquet: $pushed")
      } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    }
  }
}
