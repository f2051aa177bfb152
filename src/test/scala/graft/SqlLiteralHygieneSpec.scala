package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * SQL-literal hygiene lint (round-11 verdict #7): no corpus-derived
 * STRING may ever be interpolated into an `expr(...)`/`selectExpr(...)`
 * SQL text. The bug class is real — the round-11 BPE escaping bug
 * interpolated learned merge symbols (corpus data!) into an `expr`
 * string, so a corpus containing a quote or backslash changed the
 * parsed expression; the fix routed symbols through `lit()`. This
 * spec keeps the class closed: every identifier interpolated into an
 * expr-site s-string must appear in the reviewed allowlist below, so
 * a NEW interpolation fails the suite until a human classifies it as
 * code-derived (numeric parameter, compile-time constant, generated
 * column list) — corpus values must travel as `lit()` columns, which
 * the parser never re-reads.
 *
 * Scope note: `expr(someHelper(k))` sites — helpers RETURNING SQL text
 * — are covered transitively: the helper's own body builds its string
 * with s-interpolation and is scanned by the same regexes. What the
 * lint cannot see is a helper concatenating a RUNTIME string without
 * interpolation syntax; the repo has none (grepped), and the oracle
 * SQL side is driver-authored text whose only interpolations are CTE
 * names and code constants (the BPE merge values cross engines as
 * relational rows, never as SQL text).
 */
class SqlLiteralHygieneSpec extends AnyFunSuite {

  /** Reviewed-safe interpolations. Every entry is CODE-derived — a
    * numeric tuning parameter, a compile-time constant, or SQL text
    * generated from code-level literals — never a value read back
    * from data. Adding to this list is a review act: justify the new
    * entry's provenance in the comment. */
  private val Allowlist: Map[String, String] = Map(
    // numeric parameters / compile-time constants
    "BinTokenBudget" -> "object-level Long constant (Curation)",
    "BloomHashes" -> "object-level Int constant (Sketches)",
    "ChainDepth" -> "object-level Int constant (Dedup minhash chain)",
    "CmsDepth" -> "object-level Int constant (Sketches)",
    "EpochMs" -> "object-level Long constant (Relational5)",
    "VitRadix" -> "object-level Long constant (Bpe Viterbi metric radix)",
    "L" -> "method-local Int: shard token budget (Pipeline)",
    "PackShardDocs" -> "object-level Int constant (Pipeline)",
    "WeekMs" -> "method-local Long constant (Relational4 cohorts)",
    "bins" -> "method Int parameter (Dedup spectrum)",
    "buckets" -> "method Int parameter (Selection)",
    "budget" -> "method Long parameter (Pipeline)",
    "budgetDen" -> "method-local Long from Int params (MixPlan)",
    "budgetFactor" -> "method-local Long from Int params (MixPlan)",
    "budgetNum" -> "method-local Long from Int params (MixPlan)",
    "denom" -> "method-local Long from Int params (Pipeline)",
    "i" -> "loop index over code-level range (Curation)",
    "q" -> "method-local Int constant: gram width (Relational4)",
    "saltBuckets" -> "method Int parameter (Relational3 skew salt)",
    "files" -> "method Int parameter: planned output files (Layout compaction)",
    "zwsp" -> "method-local code constant: the U+200B literal (TextAnalysis confusable plant)",
    "scale" -> "method Int parameter (Selection)",
    "rules.size" -> "size of a code-level rule list (MixPlan)",
    // code-level SQL text generators (no data values inside)
    "pat" -> "regex from the code-level lexicon (TextAnalysis)",
    "src" -> "column-name string chosen in code (Dedup)",
    "stackArgs" -> "stack() args built from code-level rule names (MixPlan)",
    "Grams.windows" -> "SQL-text window generator; its inputs are a column name and an Int width chosen in code (TextAnalysis CDC boundaries)",
    "winnowFold" -> "SQL-text helper parameterized only by Int w (TextAnalysis)")

  test("every expr-site interpolation is allowlisted (corpus strings must ride lit())") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no sources under $root — run from the repo root")
    val tripleQ = """(?s)(?:select)?[eE]xpr\(\s*s\"\"\"(.*?)\"\"\"""".r
    val singleQ = """(?:select)?[eE]xpr\(s\"((?:[^\"\\]|\\.)*)\"""".r
    val ident = """\$\{?([A-Za-z_][A-Za-z0-9_.]*)""".r
    val offenders = files.flatMap { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val bodies = tripleQ.findAllMatchIn(txt).map(_.group(1)) ++
        singleQ.findAllMatchIn(txt).map(_.group(1))
      bodies.flatMap(b => ident.findAllMatchIn(b).map(_.group(1))).toSeq
        .filterNot(Allowlist.contains).distinct.map(id => s"$f: $$$id")
    }
    assert(offenders.isEmpty,
      "un-reviewed interpolation(s) in expr SQL text — corpus-derived " +
        "strings MUST travel as lit() columns; if the value is " +
        "code-derived, add it to the allowlist with its provenance:\n" +
        offenders.mkString("\n"))
  }

  test("the allowlist carries no stale entries") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val tripleQ = """(?s)(?:select)?[eE]xpr\(\s*s\"\"\"(.*?)\"\"\"""".r
    val singleQ = """(?:select)?[eE]xpr\(s\"((?:[^\"\\]|\\.)*)\"""".r
    val ident = """\$\{?([A-Za-z_][A-Za-z0-9_.]*)""".r
    val seen = files.flatMap { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      (tripleQ.findAllMatchIn(txt).map(_.group(1)) ++
        singleQ.findAllMatchIn(txt).map(_.group(1)))
        .flatMap(b => ident.findAllMatchIn(b).map(_.group(1))).toSeq
    }.toSet
    val stale = Allowlist.keySet -- seen
    assert(stale.isEmpty,
      s"allowlist entries no longer present in any expr site — prune them: $stale")
  }
}
