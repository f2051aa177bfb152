package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/**
 * The one word-window generator: every operator that walks the
 * n-token windows of an array column (shingles, bigram LMs, passage
 * and span dedup, winnowing, DSIR, BPE pairs, CDC boundaries) builds
 * its array from [[windows]], so batch projections and the
 * stream-maintained artifacts that share them enumerate identically.
 *
 * '''Totality.''' `windows(ws, n)` is empty when `size(ws) < n` or
 * `ws` is null, and the body only ever sees `1 <= i <= size(ws) - n + 1`,
 * so `element_at(ws, i + n - 1)` and `slice(ws, i, n)` stay in range.
 * No caller needs a `size(ws) >= n` row filter or `try_element_at`.
 * The obvious `transform(sequence(1, size(ws) - n + 1), …)` has
 * neither property: Spark's `sequence(1, 0)` counts DOWN to `[1, 0]`,
 * and under ANSI a guard filter does not protect it, because on
 * RDD-backed inputs (micro-batches, pins) interpreted-mode
 * common-subexpression elimination can evaluate the transform before
 * the guard's AND short-circuits (ShingleTotalitySpec).
 *
 * '''DuckDB equivalent''' (the oracles): `list_transform(range(1,
 * len(ws) - n + 2), i -> … list_slice(ws, i, i + n - 1) …)` — DuckDB's
 * `range` is empty where Spark's `sequence` counts down, so the
 * oracles need no guard.
 *
 * Built as SQL text, not Column-API lambdas: `functions.transform(c,
 * i => …)` names its variables from a JVM-global counter (`x_1`,
 * `x_2`, …), which would make plan fingerprints depend on call
 * history. A codegen'd n-gram expression would replace [[windows]]
 * here and nowhere else.
 */
object Grams {

  /** SQL text of the array `[body(i) for each 1-based window start
    * i]` over the n-token windows of the array column `ws`; `body`
    * receives the SQL text of `i`. Total (see the object doc). */
  def windows(ws: String, n: Int)(body: String => String): String = {
    require(n >= 1, s"window width must be positive, got $n")
    s"transform(slice(coalesce($ws, array()), 1, greatest(size($ws) - ${n - 1}, 0)), " +
      s"(_t, i0) -> ${body("(i0 + 1)")})"
  }

  /** Adjacent pairs as `struct(ws[i] AS a, ws[i + 1] AS b)`. */
  def pairs(ws: String, a: String, b: String): Column =
    expr(windows(ws, 2)(i =>
      s"struct(element_at($ws, $i) AS $a, element_at($ws, $i + 1) AS $b)"))

  /** Each n-token window joined by `sep`. */
  def joined(ws: String, n: Int, sep: String = " "): Column =
    expr(windows(ws, n)(i => s"concat_ws('$sep', slice($ws, $i, $n))"))

  /** md5 of each space-joined n-token window; with `withPos`, as
    * `struct(i AS pos, md5 AS g)`. */
  def md5s(ws: String, n: Int, withPos: Boolean = false): Column =
    expr(windows(ws, n) { i =>
      val g = s"md5(concat_ws(' ', slice($ws, $i, $n)))"
      if (withPos) s"struct($i AS pos, $g AS g)" else g
    })
}
