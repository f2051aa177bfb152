package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-query PLAN FINGERPRINTS for the regression gate (round-13
 * verdict #3): a bench regression flag is only acceptable as
 * "host/re-measurement variance" when the query's physical plan is
 * UNCHANGED — a flag that coincides with a plan-shape change is a real
 * regression no ledger entry may wave through. This main renders every
 * query's (unexecuted) physical plan at the smallest fixture with scan
 * metadata untruncated ([[untruncated]]), strips run-dependent noise
 * (expression ids, plan ids, file paths, object hashes), and emits one
 * JSON line of {"query": "md5-of-shape"}.
 *
 * tools/closing_gate.sh compares fresh fingerprints against
 * tools/plan_shapes.json for every flagged regression — ratio breach
 * AND hash change fails the gate regardless of the ledger — and
 * refreshes the stored file after a green run, so the baseline is
 * always "the plan of the last green round".
 *
 * Usage: runMain graft.PlanShapes [sfDir] [outPath]
 * To diff a fingerprint flip to its exact operator, [[Profile]] writes
 * each query's normalized plan text with the same md5.
 */
object PlanShapes {

  /**
   * Canonicalize one plan LINE from Catalyst's distinct-aggregate
   * rewrite (identified by carrying a `gid#` attribute).
   * RewriteDistinctAggregates assigns its Expand gid↔column pairing by
   * iterating a hash-keyed expression collection, so the pairing (and
   * with it the Expand projections, aggregate key order, and FILTER
   * gid literals) PERMUTES run-to-run with the session's
   * expression-id counter — observed as q163/q247 flipping between two
   * fingerprints depending on how many expressions earlier queries had
   * allocated (round-17 triage of the r16 q247 baseline drift; plans
   * semantically identical, diff confined to gid lines). Two steps
   * make every permutation render identically: strip the gid
   * CONSTANTS — `gid# = N` filters everywhere, bare integers only on
   * Expand lines (where the projection literals ARE the gids) — then
   * sort the elements of every bracket/paren list, since a
   * permutation of a list sorts to the same canonical form. The strip
   * is deliberately NO wider: on Expand lines only integers that form
   * a WHOLE list element are stripped (a gid constant always renders
   * as a standalone element like `null, 1]`, while genuine numerics —
   * `decimal(18,2)`, a literal inside `cast(... as ...)`, a predicate
   * constant — sit INSIDE an element and keep their digits), and
   * elsewhere a numeric change (say hashpartitioning's partition
   * count) must still move the fingerprint.
   */
  private[graft] def canonicalizeGidLine(line: String): String = {
    val gidEq = line.replaceAll("gid# = \\d+", "gid# = _")
    val stripped =
      if (gidEq.contains("Expand"))
        gidEq.replaceAll("(\\[|, )\\d+(?=[,\\]])", "$1_")
      else gidEq
    // sort top-level comma elements of every [...] and (...) group,
    // innermost first, via recursive descent (regex can't nest)
    def walk(s: String): String = {
      val n = s.length
      var pos = 0
      def group(open: Char, close: Char): String = {
        // pos sits just after `open`; returns canonical contents and
        // leaves pos just after the matching `close`
        val elems = scala.collection.mutable.ArrayBuffer[String]()
        val cur = new StringBuilder
        var done = false
        while (pos < n && !done) {
          s(pos) match {
            case c if c == close => done = true; pos += 1
            case '[' => pos += 1; cur.append('[').append(group('[', ']')).append(']')
            case '(' => pos += 1; cur.append('(').append(group('(', ')')).append(')')
            case ',' => elems += cur.toString.trim; cur.clear(); pos += 1
            case c   => cur.append(c); pos += 1
          }
        }
        elems += cur.toString.trim
        elems.sorted.mkString(", ")
      }
      val out = new StringBuilder
      while (pos < n) s(pos) match {
        case '[' => pos += 1; out.append('[').append(group('[', ']')).append(']')
        case '(' => pos += 1; out.append('(').append(group('(', ')')).append(')')
        case c   => out.append(c); pos += 1
      }
      out.toString
    }
    walk(stripped)
  }

  /** Run-dependent noise stripped from a plan rendering. The result is
    * stable across JVMs for the same code + fixture. */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#")                     // expression ids
      .replaceAll("plan_id=\\d+", "plan_id=")       // AQE plan ids
      .replaceAll("@[0-9a-f]{6,}", "@")             // object hashes
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda") // JVM lambda ids
      // Column-API lambda variables (functions.filter(c, x => …)) are
      // named x_N from a JVM-global counter: the same plan renders
      // x_1 or x_7 depending on what the JVM built before it
      .replaceAll("lambda x_\\d+", "lambda x_")
      .replaceAll("splits=\\d+", "splits=") // Range splits = core count
      .replaceAll("file:[^\\s\\],)]*", "path")       // local paths
      // ANY multi-segment absolute path, not just well-known roots: a
      // host whose java.io.tmpdir sits outside testdata/tmp/warehouse
      // (e.g. /var/folders/... on macOS) must normalize identically,
      // or scratch-writing queries would fingerprint per-run
      .replaceAll("/[-_A-Za-z0-9.]+(?:/[-_A-Za-z0-9.]+)+", "path")
      .replaceAll("/[-_A-Za-z0-9./]*(testdata|tmp|warehouse)[^\\s\\],)]*", "path")
      .replaceAll("InMemoryFileIndex\\([^)]*\\)\\[[^\\]]*\\]", "FileIndex")
      .replaceAll("Location: [^\\n]*", "Location: path")
      .replaceAll("\\[id=#\\]", "")
      // distinct-rewrite gid permutation (see canonicalizeGidLine):
      // applied ONLY to lines carrying a gid# attribute so every other
      // operator's rendering — list order included — stays verbatim
      .split("\n", -1)
      .map(l => if (l.contains("gid#")) canonicalizeGidLine(l) else l)
      .mkString("\n")

  private[graft] def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private[graft] def fingerprint(plan: String): String =
    md5hex(normalize(plan))

  /** Runs `body` — building a query and rendering its plan — with scan
    * metadata untruncated. Spark cuts `DataFilters`/`PushedFilters` at
    * `spark.sql.maxMetadataStringLength` characters when it plans the
    * scan, BEFORE [[normalize]] strips the `#id` digits, so a truncated
    * rendering ends at a point that moves with the length of the ids:
    * the same plan would fingerprint differently once earlier queries
    * in the JVM pushed the expression-id counter past a power of ten. */
  private[graft] def untruncated[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.maxMetadataStringLength"
    val had = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try body
    finally had.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Shuffle width of the plan tools' session, PINNED rather than
    * core-derived: partition counts render into plan strings
    * (rangepartitioning(x, 32)), so a fingerprint taken at 16 CPUs
    * would spuriously differ from one taken at 32 — the gate would
    * then misread host-config drift as a plan change. 32 matches the
    * driver's bench session. */
  private[graft] val Partitions = 32

  def main(args: Array[String]): Unit = Session.run(Partitions) { spark =>
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "/tmp/plan_shapes.json"
    val shapes = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val fp = try untruncated(spark) {
        fingerprint(fn(spark, sfDir).queryExecution.executedPlan.toString)
      }
      catch { case e: Throwable =>
        // class name only: exception MESSAGES carry quotes/backslashes
        // (would corrupt the hand-built JSON) and host paths (would
        // make an ERR state spuriously "change plan" across hosts)
        "ERR:" + e.getClass.getSimpleName
      }
      name -> fp
    }.sortBy(_._1)
    val json = shapes.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[plan-shapes] wrote ${shapes.size} fingerprints to $outPath")
  }
}
