package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.plans.{ExactSums, GroupedOrderNode}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BoundReference, Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructType}

/**
 * Distributed global ranking and prefix sums — the scale-safe
 * replacement for a partition-less window (`Window.orderBy(...)`
 * without `partitionBy`), which Spark executes by moving EVERY row
 * into one task: correct at test SF, a single-executor bottleneck at
 * 100 TB.
 *
 * The classic two-pass formulation instead ([[groupedRankAndPrefix]];
 * `keys = Nil` is the global form), planned as one operator
 * ([[graft.plans.GroupedOrderExec]]) over the range exchange and sort
 * a global ORDER BY plans (the TOTAL order; every partition works in
 * parallel, and no second exchange is needed):
 *  1. the segment census — one walk over the sorted partitions that
 *     returns each (partition, key) segment's row count and value sums —
 *     folds into exclusive offsets ON THE DRIVER;
 *  2. one pass over the same partitions composes: global rank =
 *     partition offset + local rank, global prefix = value offset +
 *     local sum. The plan has no window and no join back.
 *
 * Both passes read ONE child RDD, and so one `ShuffleDependency`:
 * Spark's range partitioner SAMPLES its bounds per exchange instance —
 * two independent executions of the "same" repartitionByRange can
 * place boundary rows in different partitions, and offsets from one
 * would then disagree with rows of the other (observed: duplicate
 * ranks) — but both passes here read the map output of one exchange,
 * with one set of bounds, and a map-stage retry reuses its
 * partitioner. Each partition's rows are then a fact, and under a
 * TOTAL order so is their order within the partition (the sort fixes
 * it whatever order the shuffle blocks arrive in). The two conditions
 * are load-bearing: a total order, and a deterministic input (a
 * recomputed map task must write the same rows). Nothing is pinned,
 * so an executor loss recomputes from shuffle output instead of
 * failing the job. Cost: one full shuffle, read and sorted twice.
 *
 * Correctness is LAYOUT-INDEPENDENT: wherever the range sampler drops
 * partition bounds, every key in partition p sorts before every key in
 * p+1 and the within-partition order is total, so the composed rank is
 * the unique global rank. Callers MUST pass a total order (include a
 * unique tiebreak column) — with duplicate sort keys a range boundary
 * could split ties arbitrarily, the same caveat as every other ordered
 * operator in this repo.
 */
object GlobalOrder {

  /**
   * Pins a DataFrame's blocks so partition ids become a fact for every
   * later reader: [[pinnedSort]], [[pinnedSliver]], [[groupedQuantiles]]
   * and callers that read one expensive subplan twice. The rank and
   * trailing-sum operators do not pin: their two passes read one
   * exchange (the class doc).
   *
   * Default is `localCheckpoint` — executor-local blocks, zero extra
   * I/O, but NOT fault-tolerant: on a real cluster an executor loss
   * past the pin fails the job instead of recomputing. For runs where
   * executor loss is routine (spot fleets, 100 TB multi-hour jobs) set
   * `graft.checkpoint.reliable=true` AND a `setCheckpointDir` on the
   * SparkContext: the pin then writes to reliable storage (HDFS/S3)
   * and survives any executor's death, at the cost of one distributed
   * write+read. Same rows either way — only the failure story differs.
   *
   * Setting the flag WITHOUT a checkpoint dir is an error, not a
   * silent downgrade: a durability opt-in that quietly fell back to
   * executor-local blocks would leave a spot-fleet job believing it is
   * failure-safe when it is not.
   *
   * Local pins are LAZY: materialization rides the first consumer job
   * (Spark fills in any partitions that job skipped right after it),
   * so the pin costs no job of its own and no separate read-back pass.
   * All consumers share ONE checkpointed RDD, so the range exchange
   * samples once and partition contents are facts after first
   * materialization. The invariant this buys into: a plan that reads
   * one lazily pinned RDD twice within its FIRST job (say a union of
   * two legs over the same pin) may compute a partition twice before
   * any block is stored, and the two legs may see different
   * within-partition row orders. Consumers of such a plan must be
   * order-insensitive or re-sort — or pin and `count()` first, which
   * stores every block before the second reader runs. RELIABLE pins
   * stay eager: a durability opt-in that defers its write until some
   * later job leaves a spot-fleet job unprotected exactly when it
   * believes it is covered.
   */
  def pin(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable = df.sparkSession.conf
      .get("graft.checkpoint.reliable", "false").toBoolean
    if (reliable) {
      require(sc.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true but no checkpoint dir is set: " +
          "call sparkContext.setCheckpointDir(<reliable storage path>) " +
          "so the pin actually survives executor loss, or unset the flag")
      df.checkpoint()
    } else df.localCheckpoint(eager = false)
  }

  /**
   * Materialize-then-sort for the presentation `orderBy` that ends a
   * map-only query: a global sort's range sampler re-executes
   * everything below it down to the last exchange or materialized
   * block (guide §1/§2.4 — the sampling pass is an invisible second
   * execution), and for a pure-map pipeline that is the WHOLE
   * computation — every regex, hash and JSON parse runs twice so the
   * sampler can look at the sort keys. Pinning first computes the
   * projection ONCE; the sort's sample and shuffle then read
   * executor-local blocks. Row-identical by construction (the pin is
   * a materialization boundary, not a transformation). At 100 TB the
   * pinned result is the query's own narrow OUTPUT (not the input
   * corpus), i.e. the same bytes the sort was about to shuffle anyway.
   */
  def pinnedSort(df: DataFrame, order: Column*): DataFrame =
    pin(df).orderBy(order: _*)

  /**
   * [[pin]] for a BY-ASSUMPTION-SMALL table that downstream plans
   * broadcast (contamination slivers, cluster labels, query sets),
   * with a LOUD cardinality guard that binds BEFORE anything
   * materializes more than `maxRows + 1` rows: the limit caps the pin
   * regardless of the true count, and when the guard passes the
   * limited pin IS the complete set — the same discipline as the
   * segment census guard below. A pathological input (e.g. an eval set
   * leaked wholesale into the corpus, round-10 verdict #7) fails with
   * this message instead of blowing a broadcast on some executor.
   */
  def pinnedSliver(df: DataFrame, maxRows: Int, what: String): DataFrame = {
    val pinned = pin(df.limit(maxRows + 1))
    val n = pinned.count()
    require(n <= maxRows,
      s"$what exceeded its sliver bound (> $maxRows rows): the " +
        "broadcast-sliver assumption no longer holds for this corpus — " +
        "route this path through a shuffle join or raise the bound")
    pinned
  }

    /** One (partition, key) segment of a range-sorted RDD: its
    * partition, its key, the index of its first row within the
    * partition, its row count and the caller's fold over its rows. */
  private[graft] final case class Seg[S](pid: Int, key: UnsafeRow, first: Long, n: Long, acc: S)

  /**
   * The segment census behind every grouped operator: ONE job walks the
   * range-sorted `rows` (`keys` bound to them, evaluated through an
   * `UnsafeProjection` and compared as `UnsafeRow`s) and returns each
   * (partition, key) segment, in partition order, with `step` folded
   * over its rows from `zero`. Because a key's rows occupy CONTIGUOUS
   * partitions under the range exchange there are at most
   * `distinctKeys + partitions − 1` segments — metadata-size by
   * construction — and `graft.groupedOrder.maxSegments` (read here
   * only) enforces that envelope: a task stops at `min(maxSegments,
   * cap) + 1` segments and the result handler keeps nothing past that
   * bound, so the guard binds before segments pile up on the driver and
   * a caller outside the few-key envelope gets this error, never a
   * driver OOM. A census of at most `cap` segments is complete; a longer
   * one is only the evidence that the tighter `cap` was exceeded.
   */
  private[graft] def segments[S](rows: RDD[InternalRow], keys: Seq[Expression], caller: String,
      cap: Long = Long.MaxValue)(zero: => S)(step: (S, InternalRow) => S): IndexedSeq[Seg[S]] = {
    val maxSegs = SQLConf.get
      .getConfString("graft.groupedOrder.maxSegments", (1 << 20).toString).toLong
    val bound = math.min(maxSegs, cap)
    val got = new Array[Array[Seg[S]]](rows.getNumPartitions)
    var kept = 0L
    rows.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      val keyOf = UnsafeProjection.create(keys)
      val out = ArrayBuffer.empty[Seg[S]]
      var cur: UnsafeRow = null
      var first, i = 0L
      var acc = zero
      def close(): Unit =
        if (cur != null) out += Seg(ctx.partitionId(), cur, first, i - first, acc)
      while (it.hasNext && out.length <= bound) {
        val r = it.next()
        val k = keyOf(r)
        if (cur == null || k != cur) {
          close(); cur = k.copy(); first = i; acc = zero
        }
        acc = step(acc, r)
        i += 1
      }
      close()
      out.toArray
    }, (pid: Int, part: Array[Seg[S]]) =>
      if (kept <= bound) { got(pid) = part; kept += part.length })
    val segs = got.toIndexedSeq.flatMap(s => Option(s).toSeq.flatten)
    require(segs.length <= maxSegs,
      s"$caller saw more than $maxSegs (partition, key) segments: key " +
        "cardinality is large enough that a plain per-key window or " +
        "aggregate already parallelizes — use that instead, or raise " +
        "graft.groupedOrder.maxSegments")
    segs
  }

  /** A [[GroupedOrderNode]] over `df`: the keys, order and values
    * resolved against it, integral values widened to Long and doubles
    * rejected (a float running sum is evaluation-order dependent, which
    * these operators exist to avoid). An input column named like an
    * output is replaced, as `withColumn` would. Building it runs no
    * job. */
  private def grouped(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      values: Seq[(Column, String)], frame: Option[Int], rankCol: String,
      totalRowsCol: String, caller: String): DataFrame = {
    val spark = df.sparkSession
    graft.plans.TopK.ensureStrategy(spark)
    val resolved = df.select(keys ++ values.map(_._1): _*).queryExecution.analyzed match {
      case Project(list, _) => list.map { case Alias(e, _) => e; case e => e }
    }
    val (k, v) = resolved.splitAt(keys.size)
    val vs = v.zip(values).map { case (e, (_, name)) =>
      e.dataType match {
        case _: DecimalType       => e
        case dt if isIntegral(dt) => Cast(e, LongType)
        case dt => throw new IllegalArgumentException(
          s"$caller value '$name' has non-exact type $dt; " +
            "pass an integral or decimal column")
      }
    }
    val o = df.sortWithinPartitions(order: _*).queryExecution.analyzed match {
      case s: Sort => s.order
    }
    val out = Seq(rankCol, totalRowsCol).map(AttributeReference(_, LongType, nullable = false)()) ++
      vs.zip(values).map { case (e, (_, name)) =>
        AttributeReference(name, ExactSums.sumType(e.dataType), nullable = false)()
      }
    val plan = df.queryExecution.analyzed
    // a computed key or sort expression (q110's md5) is evaluated once
    // per row in a projection below the operator, not in every
    // comparison of the sorts that read its range exchange
    val computed = (k ++ o.map(_.child)).filterNot(_.isInstanceOf[Attribute]).distinct
      .zipWithIndex.map { case (e, i) => e -> Alias(e, s"__order$i")() }
    def ref(e: Expression): Expression = computed.find(_._1 == e).fold(e)(_._2.toAttribute)
    val child = if (computed.isEmpty) plan else Project(plan.output ++ computed.map(_._2), plan)
    val kept = plan.output.filterNot(a => out.exists(_.name.equalsIgnoreCase(a.name)))
    GraftShims.ofRows(spark, Project(kept ++ out, GroupedOrderNode(k.map(ref),
      o.map(s => s.copy(child = ref(s.child))), vs, frame, out, child)))
  }

  /**
   * GROUPED rank and prefix sums: per-key `row_number` / running sums
   * without a per-key window — the scale-safe replacement for
   * `Window.partitionBy(fewKeys).orderBy(...)`, which shuffles a
   * fact-scale table into key-cardinality reducer tasks and sorts
   * there (a 1000-core cluster doing the work of ≤25 cores, one hot
   * key serializing it further).
   *
   * The class doc's two passes, composed per key: range-repartition on
   * (keys ++ order) — all partitions carry contiguous (key, order)
   * slices, so every partition works regardless of key cardinality —
   * and sort within; the segment census returns each (partition, key)
   * segment's row count and exact value sums, and the driver folds them
   * into per-key offsets in partition order; the output pass adds each
   * row's offset to its rank and sums within its segment. The census is
   * metadata-size by construction (at most `distinctKeys + partitions −
   * 1` segments, guarded by `graft.groupedOrder.maxSegments` when the
   * plan executes), and the plan contains NO window at all. Building
   * the DataFrame runs no job.
   *
   * Adds `rankCol` (1-based per-key rank, Long), `totalRowsCol`
   * (per-key row count N_k — `percent_rank = (rank−1)/(N_k−1)`,
   * `cume_dist = rank/N_k` under a total order, and
   * [[ntileFromRank]] all derive from these two), and one exclusive
   * per-key prefix column per `values` entry.
   *
   * `values` columns must be integral (summed exactly as Long, failing
   * on overflow) or DecimalType (summed exactly as BigDecimal, emitted
   * at decimal(38, s) — the same widen-before-sum discipline as the
   * window formulations this replaces); see [[graft.plans.ExactSums]].
   * Doubles are rejected: a float running sum is evaluation-order
   * dependent, which this operator exists to keep deterministic.
   *
   * Envelope: designed for key cardinality ≪ cluster parallelism
   * (the regime where a plain window is a parallelism ceiling). With
   * millions of keys the segments table grows toward `K + parts` rows
   * — still fine to fold, but a plain per-key window already
   * parallelizes there and is the simpler plan.
   *
   * Callers MUST pass a total order per key (include a unique
   * tiebreak) over a deterministic input — the class doc's conditions.
   * And note the range partitioner SAMPLES its input in a separate
   * pass, so `df`'s lineage executes twice — callers whose upstream is
   * expensive (joins/aggregates, or a union reading one subplan twice)
   * should [[pin]] it first (q140 does).
   */
  def groupedRankAndPrefix(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      values: Seq[(Column, String)] = Nil,
      rankCol: String = "g_rank",
      totalRowsCol: String = "g_total_rows"): DataFrame =
    grouped(df, keys, order, values, None, rankCol, totalRowsCol, "groupedRankAndPrefix")

  /**
   * Grouped BOUNDED TRAILING SUMS: for each row, the sum of each
   * `values` column over the previous `frame` rows of the same key
   * (the `ROWS BETWEEN frame PRECEDING AND 1 PRECEDING` window frame)
   * — plus the per-key rank and total of [[groupedRankAndPrefix]] —
   * computed WITHOUT a window and WITHOUT the prefix-difference
   * self-join.
   *
   * Spark re-aggregates a bounded ROWS frame from scratch per row
   * (O(frame)/row, no retraction support), and the prefix-difference
   * trick (`P(r) − P(r−frame)`) needs a self equi-join on (key, rank)
   * that exchanges the whole table twice more. This operator does
   * neither: the output pass keeps an exact ring buffer of the last
   * `frame` contributions (Long or BigDecimal through
   * [[graft.plans.ExactSums]] — add AND evict are exact, so retraction
   * is safe where floats would drift), and segment boundaries are
   * SEEDED with the tail of the preceding segments: the segment census
   * keeps the last `frame` contributions of every (partition, key)
   * segment — at most `frame × (keys + partitions − 1)` scalars, the
   * k-row-collect class — and the driver threads them together in pid
   * order, in the same walk that folds the rank offsets. Total cost:
   * the one range exchange, the census and the output pass. Nothing is
   * O(rows × frame) and nothing re-exchanges the data.
   *
   * Null values contribute zero to the sums but still occupy their
   * frame slot — exactly the window function's semantics. Emitted
   * types match [[groupedRankAndPrefix]] (Long, or decimal(38, s)), and
   * a Long sum that overflows fails instead of wrapping.
   *
   * Envelope: `frame × segments` must stay metadata-size — ENFORCED
   * when the plan executes, before anything is kept on the driver: the
   * census stops at `min(graft.groupedOrder.maxSegments,
   * graft.groupedOrder.maxTailContribs / frame)` + 1 segments
   * (`maxTailContribs` defaults to 2²⁴), and the segment bound is
   * checked first. For unbounded trailing frames use the exclusive
   * prefix from [[groupedRankAndPrefix]] directly.
   */
  def groupedTrailingSums(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      values: Seq[(Column, String)],
      frame: Int,
      rankCol: String = "g_rank",
      totalRowsCol: String = "g_total_rows"): DataFrame = {
    require(frame > 0, s"frame must be positive, got $frame")
    require(values.nonEmpty, "groupedTrailingSums needs at least one value")
    grouped(df, keys, order, values, Some(frame), rankCol, totalRowsCol, "groupedTrailingSums")
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | LongType => true
    case _ => false
  }

  /** Integer floor division of non-negative long columns. Spark's `/`
    * on Columns is double division, so divide only after subtracting
    * the remainder — the quotient is then exactly representable and the
    * cast is lossless. */
  private def idiv(a: Column, b: Column): Column = {
    val al = a.cast("long")
    val bl = b.cast("long")
    ((al - pmod(al, bl)) / bl).cast("long")
  }

  /** ANSI ntile bucket (1-based) from a global rank: the first
    * `N mod k` buckets carry `N div k + 1` rows, the rest `N div k` —
    * exactly DuckDB/Spark `ntile(k)` semantics, computed from
    * [[groupedRankAndPrefix]]'s `keys = Nil` rank and total instead of
    * a one-task window. */
  def ntileFromRank(rank: Column, totalRows: Column, k: Int): Column = {
    val n = totalRows.cast("long")
    val size = idiv(n, lit(k.toLong))
    val rem = pmod(n, lit(k.toLong))
    val cut = rem * (size + 1L)
    when(rank <= cut, idiv(rank - 1L, size + 1L) + 1L)
      .otherwise(rem + idiv(rank - cut - 1L, size) + 1L)
  }

  /**
   * Exact linear-interpolation quantiles per key — the scale-safe
   * replacement for `percentile()`, whose TypedImperativeAggregate
   * ships EVERY group value into key-cardinality reducer tasks and
   * sorts there (the few-key parallelism ceiling). Here one range sort
   * on (key, value) spreads every key over all cores, and only the ≤2
   * boundary rows per (key, quantile) ever reach the driver:
   *  1. range-repartition on (keys, value ASC NULLS LAST), sort within,
   *     [[pin]] (both passes below must read the same partition
   *     contents — the class doc);
   *  2. the segment census (one walk over the pinned rows) returns,
   *     per (partition, key) segment, its first row index and its
   *     non-null count — ≤ `distinctKeys + partitions − 1` segments,
   *     guarded by `graft.groupedOrder.maxSegments` before anything is
   *     kept;
   *  3. the driver sums each key's non-null count N and maps ranks
   *     `lo = floor(1 + p·(N−1))` and `lo + 1` to (partition, row
   *     index): nulls sort last within a key, so a segment's non-null
   *     rows are its first ones;
   *  4. one job over only the partitions holding wanted rows reads
   *     those ≤ 2·|ps|·keys values back.
   * The result is a LocalRelation built on the driver: consuming it
   * launches no job.
   *
   * Interpolation is `v_lo·(1−frac) + v_hi·frac` — DuckDB
   * quantile_cont's IEEE shape exactly; the algebraically-equal
   * `v_lo + (v_hi−v_lo)·frac` differs in the last ulp on
   * non-representable doubles and breaks oracle hash-matching
   * (measured on q45). The arithmetic stays a Catalyst projection over
   * the picked rows.
   *
   * NULL values of `valueCol` are not counted: quantile_cont (and
   * Spark `percentile`) interpolate over the NON-NULL multiset. Every
   * key keeps its row — a NULL key is a group like any other, and a
   * key whose values are ALL null has N = 0 and gets NULL quantiles,
   * as a GROUP BY over quantile_cont does.
   *
   * @param ps (output column name, fraction in [0,1]) per quantile
   * @return one row per key: key columns ++ one double per quantile
   */
  def groupedQuantiles(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val order = keyCols.map(col) :+ col(valueCol).asc_nulls_last
    val sorted = pin(df.select((keyCols :+ valueCol).map(col): _*)
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*))
    val nk = keyCols.size
    val keySchema = StructType(sorted.schema.fields.take(nk))
    val vType = sorted.schema(nk).dataType
    val rows = sorted.queryExecution.toRdd
    // the census: each segment's first row index and non-null count
    val keyRefs = sorted.schema.fields.take(nk).zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val segs = segments(rows, keyRefs.toSeq, "groupedQuantiles")(0L)(
      (nonNull, r) => if (r.isNullAt(nk)) nonNull else nonNull + 1)
    // per key, in partition order: N and the (partition, row index) of
    // ranks lo and lo + 1 per quantile (None past N)
    val perKey = segs.groupBy(_.key).values.toSeq.map { inOrder =>
      val before = inOrder.scanLeft(0L)(_ + _.acc)
      val n = before.last
      def at(rank: Long): Option[(Int, Long)] =
        if (rank < 1 || rank > n) None
        else {
          val s = before.lastIndexWhere(_ < rank)
          Some((inOrder(s).pid, inOrder(s).first + rank - before(s) - 1))
        }
      val bounds = ps.flatMap { case (_, p) =>
        val lo = math.floor(1.0 + p * (n - 1).toDouble).toLong
        Seq(at(lo), at(lo + 1))
      }
      (inOrder.head.key, n, bounds)
    }
    val wanted = perKey.flatMap(_._3.flatten).groupBy(_._1).map {
      case (pid, at) => pid -> at.map(_._2).distinct.sorted.toArray
    }
    // the pick: one job over the partitions that hold wanted rows
    val pids = wanted.keys.toSeq.sorted
    val picked: Map[(Int, Long), Any] =
      if (pids.isEmpty) Map.empty
      else pids.zip(sc.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val want = wanted(ctx.partitionId())
        val got = new Array[Any](want.length)
        var i = 0L
        var j = 0
        while (j < want.length && it.hasNext) {
          val r = it.next()
          if (i == want(j)) {
            got(j) = CatalystTypeConverters.convertToScala(r.get(nk, vType), vType)
            j += 1
          }
          i += 1
        }
        want.zip(got)
      }, pids)).flatMap { case (pid, got) =>
        got.map { case (i, v) => (pid, i) -> v }
      }.toMap
    val keyToRow = CatalystTypeConverters.createToScalaConverter(keySchema)
    val table = perKey.map { case (k, n, bounds) =>
      Row.fromSeq(keyToRow(k).asInstanceOf[Row].toSeq ++
        (n +: bounds.map(_.map(picked).orNull)))
    }
    val tableSchema = ps.foldLeft(keySchema.add("__n", LongType, nullable = false)) {
      case (st, (nm, _)) => st.add(s"__lo_$nm", vType).add(s"__hi_$nm", vType)
    }
    spark.createDataFrame(table.asJava, tableSchema)
      .select(keyCols.map(col) ++ ps.map { case (nm, p) =>
        val pos = lit(1.0) + lit(p) * (col("__n") - 1L).cast("double")
        val frac = pos - floor(pos)
        val vlo = col(s"__lo_$nm").cast("double")
        val vhi = coalesce(col(s"__hi_$nm"), col(s"__lo_$nm")).cast("double")
        (vlo * (lit(1.0) - frac) + vhi * frac).as(nm)
      }: _*)
  }
}
