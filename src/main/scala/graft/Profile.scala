package graft

import java.nio.file.{Files, Paths}

/**
 * Plan dump for offline review and fingerprint triage: for every
 * registered query (or a named subset) writes `<outDir>/<query>.txt`
 * with
 *  1. the [[graft.plans.PlanChecks.audit]] line the plan-quality specs
 *     assert on (exchanges, joins, pushdown at a glance);
 *  2. the formatted explain, to check plan-shape claims (SCALE.md,
 *     Exchange counts, join strategies, PushedFilters) against the
 *     code;
 *  3. the normalized executed plan and its md5 — the exact string
 *     [[PlanShapes]] hashes, so a fingerprint flip diffs to its
 *     operator.
 *
 * The session is PlanShapes' (32 shuffle partitions), so the md5s match
 * `tools/plan_shapes.json`. For a before/after comparison, dump each
 * side into its own `outDir`.
 *
 * Usage: runMain graft.Profile <sfDir> <outDir> [q1,q2,...]
 */
object Profile {
  def main(args: Array[String]): Unit = Session.run(PlanShapes.Partitions) { spark =>
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val text = try PlanShapes.untruncated(spark) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val audit = graft.plans.PlanChecks.audit(df)
        val explain = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val norm = PlanShapes.normalize(df.queryExecution.executedPlan.toString)
        s"$audit\n\n$explain\n\n== Normalized plan (md5 ${PlanShapes.md5hex(norm)}) ==\n$norm\n"
      } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}\n" }
      Files.writeString(Paths.get(outDir, s"$name.txt"), text)
    }
    println(s"[profile] wrote ${names.size} plans to $outDir")
  }
}
