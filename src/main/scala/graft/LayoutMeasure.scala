package graft

import org.apache.spark.sql.functions._

/**
 * Reproducible measurement behind the layout family's 100 TB claim:
 * writes the three candidate layouts (hilbert / zorder / lex) of
 * lineitem's masked keys as real multi-file parquet, then runs the
 * fixed ZonePreds workload as pushed scans and prints, per
 * (layout, pred): rows the parquet reader materialized (post row-group
 * pruning), rows matching, total rows, and the zone-map prediction —
 * the numbers SCALE.md records and LayoutEndToEndSpec pins equal.
 *
 * Usage: runMain graft.LayoutMeasure [sfDir] [nFiles]
 */
object LayoutMeasure {
  def main(args: Array[String]): Unit = Session.run() { spark =>
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val out = java.nio.file.Files.createTempDirectory("graft-layout-measure")
    try {
      val paths = graft.ops.Layout.writeLayouts(spark, sfDir, out.toString, nFiles)
      graft.ops.Layout
        .measureLayouts(spark, paths, graft.ops.Layout.ZonePreds)
        .foreach { m =>
          val pct = 100.0 * m.rowsRead / m.total
          println(
            f"""{"layout":"${m.layout}","pred":${m.predId},""" +
              f""""rows_read":${m.rowsRead},"predicted":${m.predictedRows},""" +
              f""""matching":${m.matching},"total":${m.total},""" +
              f""""files":${m.filesListed},"buckets_hit":${m.bucketsHit},""" +
              f""""read_pct":$pct%.2f}""")
        }
    } finally graft.model.Fs.deleteRecursively(out)
  }
}
