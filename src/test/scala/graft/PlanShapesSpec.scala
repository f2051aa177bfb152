package graft

import org.scalatest.funsuite.AnyFunSuite

/** The plan-fingerprint gate only works if the normalization strips
  * EXACTLY the run-dependent noise: too little and every JVM restart
  * "changes" every plan (the gate can never pass); too much and a real
  * operator change hashes identically (the gate never fires). */
class PlanShapesSpec extends AnyFunSuite {

  test("run-dependent noise normalizes away") {
    val a = """*(2) HashAggregate(keys=[l_returnflag#41], functions=[sum(l_quantity#45)])
      |+- Exchange hashpartitioning(l_returnflag#41, 32), [id=#123]
      |   +- MapPartitions graft.ops.GlobalOrder$$$Lambda$4123/0x00007f400119f5e8@1a2b3c4d, obj#99: org.apache.spark.sql.Row
      |      +- FileScan parquet [x#26L] Location: InMemoryFileIndex(1 paths)[file:/tmp/laydbg123/hilbert]""".stripMargin
    val b = """*(2) HashAggregate(keys=[l_returnflag#7], functions=[sum(l_quantity#9)])
      |+- Exchange hashpartitioning(l_returnflag#7, 32), [id=#456]
      |   +- MapPartitions graft.ops.GlobalOrder$$$Lambda$77/0x00001b400119aaaa@ffee2211, obj#3: org.apache.spark.sql.Row
      |      +- FileScan parquet [x#11L] Location: InMemoryFileIndex(1 paths)[file:/tmp/laydbg999/hilbert]""".stripMargin
    assert(PlanShapes.fingerprint(a) == PlanShapes.fingerprint(b))
  }

  test("Column-API lambda variable counters normalize away") {
    // the same stopword filter built early and late in one JVM: only
    // the x_N counter differs
    def filterPlan(n: Int) =
      s"Project [size(filter(split(text#12, , -1), lambdafunction((lambda x_$n#40 = the), " +
        s"lambda x_$n#40, false)), true) AS n#41]"
    assert(PlanShapes.fingerprint(filterPlan(1)) == PlanShapes.fingerprint(filterPlan(23)))
    // a named SQL lambda variable is not a counter: renaming it shows
    val sql = "transform(w#3, lambdafunction(upper(lambda t#9), lambda t#9, false))"
    assert(PlanShapes.fingerprint(sql) != PlanShapes.fingerprint(sql.replace("lambda t#", "lambda u#")))
  }

  test("absolute paths outside known roots normalize too (tmpdir-independent)") {
    // a macOS-style tmpdir has no testdata/tmp/warehouse segment — the
    // q255/q256 scratch roots must still fingerprint host-independently
    val a = "FileScan csv [key#1L] Location: InMemoryFileIndex(1 paths)" +
      "[/var/folders/x9/T/graft-format-roundtrip123/str_csv]"
    val b = "FileScan csv [key#7L] Location: InMemoryFileIndex(1 paths)" +
      "[/private/scratch/graft-format-roundtrip999/str_csv]"
    assert(PlanShapes.fingerprint(a) == PlanShapes.fingerprint(b))
  }

  test("a fingerprint does not depend on how many expression ids the JVM allocated") {
    // the q210 flip: a scan whose DataFilters/PushedFilters render past
    // Spark's 100-character metadata cut fingerprinted differently once
    // earlier queries pushed the expression ids to one more digit
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    def fp = PlanShapes.untruncated(spark) {
      PlanShapes.fingerprint(graft.model.Tables.lineitem(spark, TestSpark.sf)
        .filter(col("l_quantity") > 10 && col("l_discount") < 0.05 &&
          col("l_tax") > 0.01 && col("l_linestatus") =!= "F" &&
          col("l_returnflag") =!= "N")
        .select(col("l_orderkey"))
        .queryExecution.executedPlan.toString)
    }
    val before = fp
    // every id of `before` is below the next power of ten; every id of
    // the second rendering is at or above it
    val next = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId.id
    val power = Iterator.iterate(10L)(_ * 10).dropWhile(_ <= next).next()
    (next until power).foreach(_ =>
      org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)
    assert(fp == before)
  }

  test("a real operator change survives normalization") {
    val smj = "SortMergeJoin [a#1], [b#2], Inner"
    val bhj = "BroadcastHashJoin [a#1], [b#2], Inner, BuildRight"
    assert(PlanShapes.fingerprint(smj) != PlanShapes.fingerprint(bhj))
    // and so does an added exchange
    val one = "Exchange hashpartitioning(a#1, 32)\n+- Scan x"
    val two = "Exchange hashpartitioning(a#1, 32)\n+- Exchange rangepartitioning(a#1, 32)\n   +- Scan x"
    assert(PlanShapes.fingerprint(one) != PlanShapes.fingerprint(two))
  }

  test("the distinct-rewrite gid permutation fingerprints identically " +
    "(the q163/q247 run-to-run flip, round-17 triage)") {
    // the two REAL renderings q247 flipped between (captured from
    // back-to-back PlanShapes runs at HEAD): Catalyst's
    // RewriteDistinctAggregates paired gid 1/2 with h/doc_id in one
    // session and doc_id/h in the other — same plan, permuted lists
    val a = """HashAggregate(keys=[source#], functions=[partial_count(doc_id#L) FILTER (WHERE (gid# = 2)), partial_count(h#) FILTER (WHERE (gid# = 1))], output=[source#, count#L, count#L])
      |+- HashAggregate(keys=[source#, h#, doc_id#L, gid#], functions=[count(1), sum(len#L)], output=[source#, h#, doc_id#L, gid#, count(1)#L, sum(len)#L])
      |   +- Exchange hashpartitioning(source#, h#, doc_id#L, gid#, 32), ENSURE_REQUIREMENTS, [id=#11]
      |      +- Expand [[source#, null, null, 0, len#L], [source#, h#, null, 1, null], [source#, null, doc_id#L, 2, null]], [source#, h#, doc_id#L, gid#, len#L]""".stripMargin
    val b = """HashAggregate(keys=[source#], functions=[partial_count(doc_id#L) FILTER (WHERE (gid# = 1)), partial_count(h#) FILTER (WHERE (gid# = 2))], output=[source#, count#L, count#L])
      |+- HashAggregate(keys=[source#, doc_id#L, h#, gid#], functions=[count(1), sum(len#L)], output=[source#, doc_id#L, h#, gid#, count(1)#L, sum(len)#L])
      |   +- Exchange hashpartitioning(source#, doc_id#L, h#, gid#, 32), ENSURE_REQUIREMENTS, [id=#22]
      |      +- Expand [[source#, null, null, 0, len#L], [source#, doc_id#L, null, 1, null], [source#, null, h#, 2, null]], [source#, doc_id#L, h#, gid#, len#L]""".stripMargin
    assert(PlanShapes.fingerprint(a) == PlanShapes.fingerprint(b))
    // the canonicalization is CONFINED to gid lines: a genuine change
    // on a non-gid line (extra exchange) still changes the hash...
    val c = a + "\n         +- Exchange rangepartitioning(len#L, 32)"
    assert(PlanShapes.fingerprint(a) != PlanShapes.fingerprint(c))
    // ...and a genuine operator change ON a gid line does too
    val d = a.replace("Exchange hashpartitioning", "Exchange rangepartitioning")
    assert(PlanShapes.fingerprint(a) != PlanShapes.fingerprint(d))
    // ...and so does a NUMERIC change on a gid line that is not a gid
    // constant (the strip is confined to `gid# = N` + Expand literals,
    // so a partition-count regression stays visible)
    val e = a.replace("gid#, 32)", "gid#, 200)")
    assert(PlanShapes.fingerprint(a) != PlanShapes.fingerprint(e))
    // ...and on the Expand line itself the strip hits ONLY whole-list-
    // element integers (gid constants): a numeric INSIDE an element —
    // a cast's decimal precision here — still moves the fingerprint...
    val f1 = a.replace("[source#, h#, null, 1, null]",
      "[source#, cast(h# as decimal(18,2)), null, 1, null]")
    val f2 = a.replace("[source#, h#, null, 1, null]",
      "[source#, cast(h# as decimal(28,2)), null, 1, null]")
    assert(PlanShapes.fingerprint(f1) != PlanShapes.fingerprint(f2))
    // ...while the standalone gid constant's VALUE does not
    val g = a.replace("[source#, h#, null, 1, null]",
      "[source#, h#, null, 9, null]")
    assert(PlanShapes.fingerprint(a) == PlanShapes.fingerprint(g))
  }

  test("stored baseline covers every query key") {
    val stored = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/plan_shapes.json")), "UTF-8")
    val keys = "\"(q\\d+_[a-z0-9_]+)\"".r
      .findAllMatchIn(stored).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- keys
    assert(missing.isEmpty,
      s"tools/plan_shapes.json is missing fingerprints for: " +
        s"${missing.toSeq.sorted.mkString(", ")} — rerun graft.PlanShapes")
  }
}
