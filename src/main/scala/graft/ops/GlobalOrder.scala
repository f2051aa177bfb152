package graft.ops

import java.math.{BigDecimal => JBigDecimal}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructField, StructType}

/**
 * Distributed global ranking and prefix sums — the scale-safe
 * replacement for a partition-less window (`Window.orderBy(...)`
 * without `partitionBy`), which Spark executes by moving EVERY row
 * into one task: correct at test SF, a single-executor bottleneck at
 * 100 TB.
 *
 * The classic two-phase formulation instead ([[groupedRankAndPrefix]];
 * `keys = Nil` is the global form):
 *  1. range-repartition on the TOTAL order (the same exchange a global
 *     sort plans) and sort within partitions; a local pass assigns
 *     each row its LOCAL rank and exclusive running sum — all
 *     partitions work in parallel, and no second exchange is needed
 *     (a `Window.partitionBy(pid)` here would re-shuffle everything on
 *     pid). Rank-only callers stay inside whole-stage codegen; running
 *     sums take one imperative `mapPartitions` pass;
 *  2. the segment census — one walk over the pinned rows that returns
 *     each partition's row/value totals, ONE tuple per partition — folds
 *     into exclusive offsets ON THE DRIVER; they come back as a broadcast
 *     LocalRelation and compose: global rank = partition offset + local
 *     rank, global prefix = value offset + local sum. The plan has no
 *     window.
 *
 * The ranged-and-sorted data is materialized ONCE (`localCheckpoint`)
 * and both phases read it: this is load-bearing, not an optimization —
 * Spark's range partitioner SAMPLES its bounds per exchange instance,
 * so two independent executions of the "same" repartitionByRange can
 * place boundary rows in different partitions, and phase-2 offsets
 * would then disagree with phase-1 pids (observed: duplicate ranks).
 * Pinning the blocks makes partition ids a fact, not a plan. Cost:
 * one full shuffle plus one local write — the same I/O class as any
 * global ORDER BY with spill.
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
   * Pins a DataFrame's blocks so partition ids become a fact (see the
   * class doc: the range sampler is per-exchange-instance).
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

  /** Shared staging for the grouped operators: materialize key/value
    * columns (integral values normalized to Long; doubles rejected —
    * float running sums are evaluation-order dependent, which these
    * operators exist to avoid), range-partition on (keys ++ order),
    * sort within, [[pin]]. */
  private final case class GroupedStage(
      sorted: DataFrame,
      kCols: Seq[String],
      vCols: Seq[String],
      kIdx: Array[Int],
      sums: ExactSums) {
    def schema: StructType = sorted.schema
  }

  private def stageGrouped(
      df: DataFrame,
      keys: Seq[Column],
      values: Seq[(Column, String)],
      order: Seq[Column],
      caller: String): GroupedStage = {
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val kCols = keys.indices.map(i => s"__k$i")
    val vCols = values.indices.map(i => s"__v$i")
    var staged = df
    keys.zipWithIndex.foreach { case (k, i) =>
      staged = staged.withColumn(s"__k$i", k)
    }
    values.zipWithIndex.foreach { case ((v, name), i) =>
      staged = staged.withColumn(s"__v$i", v)
      staged.schema(s"__v$i").dataType match {
        case _: DecimalType => ()
        case dt if isIntegral(dt) =>
          staged = staged.withColumn(s"__v$i", col(s"__v$i").cast("long"))
        case dt => throw new IllegalArgumentException(
          s"$caller value '$name' has non-exact type $dt; " +
            "pass an integral or decimal column")
      }
    }
    val sortCols = kCols.map(col) ++ order
    val sorted = pin(staged
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val schema = sorted.schema
    GroupedStage(
      sorted, kCols, vCols,
      kCols.map(schema.fieldIndex).toArray,
      ExactSums(vCols.map(schema.fieldIndex).toArray, vCols.map { c =>
        schema(c).dataType match {
          case d: DecimalType => Some(d)
          case _              => None
        }
      }.toArray))
  }

  /**
   * Exact sums over the staged value columns, one slot per column (at
   * `idx` of the pinned rows). Long slots fail with an
   * `ArithmeticException` on overflow — as the ANSI window sums these
   * operators replace do — instead of wrapping; decimal slots sum as
   * BigDecimal and emit at the decimal(38, s) their window formulation
   * widens to. A NULL value contributes zero. Every operation returns
   * a new array and none writes to its arguments, so `zero` is shared.
   * Every pass of the grouped operators — phase 1, the census folds,
   * the driver folds — sums through this one helper.
   */
  private final case class ExactSums(idx: Array[Int], dec: Array[Option[DecimalType]]) {
    def types: Seq[DataType] =
      dec.toSeq.map(_.fold[DataType](LongType)(d => DecimalType(38, d.scale)))
    val zero: Array[Any] = dec.map(_.fold[Any](0L)(_ => JBigDecimal.ZERO))
    def plus(a: Array[Any], b: Array[Any]): Array[Any] =
      combine(a, b)(Math.addExact(_, _), _ add _)
    def minus(a: Array[Any], b: Array[Any]): Array[Any] =
      combine(a, b)(Math.subtractExact(_, _), _ subtract _)
    def emit(a: Array[Any]): Seq[Any] = a.toSeq.zip(dec).map {
      case (d: JBigDecimal, Some(t)) => d.setScale(t.scale)
      case (v, _)                    => v
    }
    def of(r: Row): Array[Any] = Array.tabulate(idx.length) { i =>
      if (r.isNullAt(idx(i))) zero(i)
      else if (dec(i).isEmpty) r.getLong(idx(i)) else r.getDecimal(idx(i))
    }
    def of(r: InternalRow): Array[Any] = Array.tabulate(idx.length) { i =>
      if (r.isNullAt(idx(i))) zero(i)
      else dec(i).fold[Any](r.getLong(idx(i))) { d =>
        r.getDecimal(idx(i), d.precision, d.scale).toJavaBigDecimal
      }
    }
    private def combine(a: Array[Any], b: Array[Any])(
        l: (Long, Long) => Long, d: (JBigDecimal, JBigDecimal) => JBigDecimal): Array[Any] =
      Array.tabulate(a.length) { i =>
        (a(i), b(i)) match {
          case (x: Long, y: Long)               => l(x, y)
          case (x: JBigDecimal, y: JBigDecimal) => d(x, y)
        }
      }
  }

  /** One (partition, key) segment of a pinned, range-sorted stage: its
    * partition, its key, the index of its first row within the
    * partition, its row count and the caller's fold over its rows. */
  private final case class Seg[S](pid: Int, key: UnsafeRow, first: Long, n: Long, acc: S)

  /**
   * The segment census behind every grouped operator: ONE job walks the
   * pinned rows (`UnsafeProjection` keys, `UnsafeRow` equality) and
   * returns each (partition, key) segment, in partition order, with
   * `step` folded over its rows from `zero`. Because a key's rows occupy
   * CONTIGUOUS partitions under the range exchange there are at most
   * `distinctKeys + partitions − 1` segments — metadata-size by
   * construction — and `graft.groupedOrder.maxSegments` (read here
   * only) enforces that envelope: a task stops at `min(maxSegments,
   * cap) + 1` segments and the result handler keeps nothing past that
   * bound, so the guard binds before segments pile up on the driver and
   * a caller outside the few-key envelope gets this error, never a
   * driver OOM. A census of at most `cap` segments is complete; a longer
   * one is only the evidence that the tighter `cap` was exceeded.
   */
  private def segments[S](sorted: DataFrame, kIdx: Seq[Int], caller: String,
      cap: Long = Long.MaxValue)(zero: => S)(step: (S, InternalRow) => S): IndexedSeq[Seg[S]] = {
    val maxSegs = sorted.sparkSession.conf
      .get("graft.groupedOrder.maxSegments", (1 << 20).toString).toLong
    val bound = math.min(maxSegs, cap)
    val fields = sorted.schema.fields
    val keyRefs = kIdx.map(i => BoundReference(i, fields(i).dataType, fields(i).nullable))
    val rows = sorted.queryExecution.toRdd
    val got = new Array[Array[Seg[S]]](rows.getNumPartitions)
    var kept = 0L
    sorted.sparkSession.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      val keyOf = UnsafeProjection.create(keyRefs)
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

  /** The driver fold of [[groupedRankAndPrefix]] and
    * [[groupedTrailingSums]]: one walk over each key's segments in
    * partition order, emitting per segment the join-back row (pid,
    * keys…, rows of its key before it, its key's total rows) ++ `extra`
    * and threading per-key state from one segment to the next. */
  private def offsetRows[S, T](st: GroupedStage, segs: Seq[Seg[S]], zero: T)(
      extra: (Seg[S], Seq[Any], T) => Seq[Any])(next: (T, Seg[S]) => T): java.util.List[Row] = {
    val toKey = CatalystTypeConverters.createToScalaConverter(
      StructType(st.kIdx.map(st.schema.fields(_))))
    val rows = new java.util.ArrayList[Row](segs.length)
    segs.groupBy(_.key).values.foreach { ss =>
      val k = toKey(ss.head.key).asInstanceOf[Row].toSeq
      val total = ss.map(_.n).sum
      ss.foldLeft((0L, zero)) { case ((off, t), s) =>
        rows.add(Row.fromSeq((s.pid.toLong +: k) ++ (off +: total +: extra(s, k, t))))
        (off + s.n, next(t, s))
      }
    }
    rows
  }

  /** Phase 1's imperative local pass over the pinned rows: appends
    * `__pid`, the local rank `__lrank` and one `<prefix><i>` sum per
    * value to every row. The per-segment state starts at `start(pid,
    * key)` at every key boundary and `step` emits each row's sums. */
  private def localPass[S](st: GroupedStage, prefix: String)(start: (Long, Seq[Any]) => S)(
      step: (S, Row) => (S, Seq[Any])): DataFrame = {
    val kIdx = st.kIdx
    val schema = StructType(st.schema.fields ++
      Seq(StructField("__pid", LongType, nullable = false),
        StructField("__lrank", LongType, nullable = false)) ++
      st.sums.types.zipWithIndex.map { case (t, i) => StructField(s"$prefix$i", t, nullable = false) })
    st.sorted.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId().toLong
      var curKey: Seq[Any] = null
      var rank = 0L
      var state: S = null.asInstanceOf[S]
      rows.map { r =>
        val k: Seq[Any] = kIdx.map(r.get).toSeq
        if (curKey == null || k != curKey) {
          curKey = k
          rank = 0L
          state = start(pid, k)
        }
        rank += 1
        val (next, sums) = step(state, r)
        state = next
        Row.fromSeq(r.toSeq ++ (pid +: rank +: sums))
      }
    }(Encoders.row(schema))
  }

  /** Broadcast-joins the folded rows of [[offsetRows]] back to phase 1's
    * `local` rows on (pid, keys) — null-safe on keys, since a
    * usingColumns join would drop null-key rows — keeping every local
    * column plus `__rank_off`, `totalRowsCol` and the `extra` fields. */
  private def joinOffsets(st: GroupedStage, local: DataFrame, rows: java.util.List[Row],
      totalRowsCol: String, extra: Seq[StructField]): DataFrame = {
    val offs = StructField("__rank_off", LongType, nullable = false) +:
      StructField(totalRowsCol, LongType, nullable = false) +: extra
    val schema = StructType((StructField("__pid", LongType, nullable = false) +:
      st.kCols.map(st.schema(_))) ++ offs)
    val f = broadcast(local.sparkSession.createDataFrame(rows, schema)).alias("f")
    val cond = (col("l.__pid") === col("f.__pid")) +: st.kCols.map(c =>
      col(s"l.$c") <=> col(s"f.$c"))
    local.alias("l").join(f, cond.reduce(_ && _))
      .select((col("l.*") +: offs.map(o => col(s"f.${o.name}"))): _*)
  }

  /**
   * GROUPED rank and prefix sums: per-key `row_number` / running sums
   * without a per-key window — the scale-safe replacement for
   * `Window.partitionBy(fewKeys).orderBy(...)`, which shuffles a
   * fact-scale table into key-cardinality reducer tasks and sorts
   * there (a 1000-core cluster doing the work of ≤25 cores, one hot
   * key serializing it further).
   *
   * The class doc's two-phase trick, composed per key:
   *  1. range-repartition on (keys ++ order) — all partitions carry
   *     contiguous (key, order) slices, so every partition works
   *     regardless of key cardinality — sort within, pin, and one
   *     local pass assigns each row its rank/exclusive sums WITHIN its
   *     (key, partition) segment (the pass watches the key tuple and
   *     resets at boundaries);
   *  2. the segment census (one walk over the same pinned rows) returns
   *     each (partition, key) segment's row count, first row index and
   *     exact value sums; the driver folds them into per-key exclusive
   *     offsets in partition order. The census is metadata-size by
   *     construction (at most `distinctKeys + partitions − 1`
   *     segments, guarded by `graft.groupedOrder.maxSegments`), and the
   *     folded offsets come back as a LocalRelation, so the broadcast
   *     back is provably bounded and the final plan contains NO window
   *     at all — fact-scale or otherwise.
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
   * window formulations this replaces); see [[ExactSums]]. Doubles are
   * rejected: a float running sum is evaluation-order dependent, which
   * this operator exists to keep deterministic.
   *
   * Envelope: designed for key cardinality ≪ cluster parallelism
   * (the regime where a plain window is a parallelism ceiling). With
   * millions of keys the segments table grows toward `K + parts` rows
   * — still fine to fold, but a plain per-key window already
   * parallelizes there and is the simpler plan.
   *
   * Callers MUST pass a total order per key (include a unique
   * tiebreak) — same caveat as the class doc. And note the
   * range partitioner SAMPLES its input in a separate pass, so `df`'s
   * lineage executes twice — callers whose upstream is expensive
   * (joins/aggregates, or a union reading one subplan twice) should
   * [[pin]] it first (q140 does).
   */
  def groupedRankAndPrefix(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      values: Seq[(Column, String)] = Nil,
      rankCol: String = "g_rank",
      totalRowsCol: String = "g_total_rows"): DataFrame = {
    val st = stageGrouped(df, keys, values, order, "groupedRankAndPrefix")
    val sorted = st.sorted
    val ex = st.sums
    val rankOnly = values.isEmpty
    // phase-1 local pass. RANK-ONLY callers (the distribution-rank
    // family, the global ntile buckets) stay INSIDE whole-stage
    // codegen: over the pinned blocks monotonically_increasing_id() is,
    // by its documented construction, (pid << 33) + rowIndex — the
    // PARTITION rank; the per-(key, segment) rank is recovered after the
    // offset join as (partition rank − segment start + 1), the start
    // being the census's first row index + 1 (both count rows of the
    // same pinned partition in the same order). The running-sum path
    // keeps the imperative per-partition pass (an exclusive scan has no
    // codegen equivalent).
    val local =
      if (rankOnly) sorted
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("long"))
        .withColumn("__plrank", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1L)
        .drop("__mid")
      else localPass(st, "__ls")((_, _) => ex.zero)((cum, r) =>
        (ex.plus(cum, ex.of(r)), ex.emit(cum)))
    // phase 2: the census's exact segment sums fold into per-key
    // exclusive value offsets; rank-only rows carry the segment start
    val segs = segments(sorted, st.kIdx.toSeq, "groupedRankAndPrefix")(ex.zero)(
      (sum, r) => ex.plus(sum, ex.of(r)))
    val rows = offsetRows(st, segs, ex.zero)((s, _, off) =>
      if (rankOnly) Seq(s.first + 1) else ex.emit(off))((off, s) => ex.plus(off, s.acc))
    val extra =
      if (rankOnly) Seq(StructField("__segstart", LongType, nullable = false))
      else ex.types.zipWithIndex.map { case (t, i) => StructField(s"__off$i", t, nullable = false) }
    var out = joinOffsets(st, local, rows, totalRowsCol, extra)
      .withColumn(rankCol,
        if (rankOnly)
          col("__rank_off") + (col("__plrank") - col("__segstart") + 1L)
        else col("__rank_off") + col("__lrank"))
    values.zipWithIndex.foreach { case ((_, name), i) =>
      out = out.withColumn(name, col(s"__off$i") + col(s"__ls$i"))
    }
    val temp = Seq("__pid", "__lrank", "__plrank", "__segstart",
        "__rank_off") ++
      st.kCols ++ st.vCols ++
      values.indices.flatMap(i => Seq(s"__ls$i", s"__off$i"))
    out.drop(temp: _*)
  }

  /**
   * Grouped BOUNDED TRAILING SUMS: for each row, the sum of each
   * `values` column over the previous `frame` rows of the same key
   * (the `ROWS BETWEEN frame PRECEDING AND 1 PRECEDING` window frame)
   * — plus the per-key rank and total from [[groupedRankAndPrefix]]'s
   * machinery — computed WITHOUT a window and WITHOUT the
   * prefix-difference self-join.
   *
   * Spark re-aggregates a bounded ROWS frame from scratch per row
   * (O(frame)/row, no retraction support), and the prefix-difference
   * trick (`P(r) − P(r−frame)`) needs a self equi-join on (key, rank)
   * that exchanges the whole table twice more. This operator does
   * neither: the phase-1 local pass keeps an exact ring buffer of the
   * last `frame` contributions (Long or BigDecimal through
   * [[ExactSums]] — add AND evict are exact, so retraction is safe
   * where floats would drift), and segment boundaries are SEEDED with
   * the tail of the preceding segments: the segment census folds the
   * last `frame` contributions of every (partition, key) segment — at
   * most `frame × (keys + partitions − 1)` scalars, the k-row-collect
   * class — and the driver threads them together in pid order, in the
   * same walk that folds the rank offsets. Total cost: the one range
   * exchange, the census and the local pass over the pinned blocks, and
   * a frame×segments broadcast. Nothing is O(rows × frame) and nothing
   * re-exchanges the data.
   *
   * Null values contribute zero to the sums but still occupy their
   * frame slot — exactly the window function's semantics. Emitted
   * types match [[groupedRankAndPrefix]] (Long, or decimal(38, s)), and
   * a Long sum that overflows fails instead of wrapping.
   *
   * Envelope: `frame × segments` must stay metadata-size — ENFORCED
   * before anything is collected: the census stops at
   * `min(graft.groupedOrder.maxSegments,
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
    val spark = df.sparkSession
    val st = stageGrouped(df, keys, values, order, "groupedTrailingSums")
    val ex = st.sums
    // the census keeps per segment the contribution tuples of its last
    // ≤ frame rows (null → zero: it occupies its frame slot and adds
    // nothing — window semantics). Capping it at maxTail / frame
    // segments holds the frame × segments product to maxTail: at the
    // default caps a frame = 10⁴ caller gets ≤ ~1.7k segments instead of
    // pulling frame × 2²⁰ boxed contributions onto the driver
    val maxTail = spark.conf
      .get("graft.groupedOrder.maxTailContribs", (1 << 24).toString).toLong
    val segs = segments(st.sorted, st.kIdx.toSeq, "groupedTrailingSums", maxTail / frame)(
      Vector.empty[Array[Any]])((tail, r) => (tail :+ ex.of(r)).takeRight(frame))
    require(frame.toLong * segs.length <= maxTail,
      s"groupedTrailingSums would buffer frame × segments = $frame × " +
        s"${segs.length} > $maxTail contribution tuples on the driver: " +
        "shrink the frame, reduce key cardinality (a plain per-key window " +
        "already parallelizes at high cardinality), or raise " +
        "graft.groupedOrder.maxTailContribs")
    // the driver fold's per-key state is the SEED of each segment: the
    // last ≤ frame contributions of all preceding segments of its key
    val seedBySeg = new java.util.HashMap[(Long, Seq[Any]), Vector[Array[Any]]]()
    val rows = offsetRows(st, segs, Vector.empty[Array[Any]]) { (s, k, seed) =>
      seedBySeg.put((s.pid.toLong, k), seed)
      Nil
    }((seed, s) => (seed ++ s.acc).takeRight(frame))
    val seeds = spark.sparkContext.broadcast(seedBySeg)
    // phase-1 local pass: a ring of the last ≤ frame contributions and
    // their sum per segment, seeded at the segment start; evict and add
    // are exact, so the running frame sums never drift
    type Ring = (Vector[Array[Any]], Array[Any])
    def push(ring: Ring, c: Array[Any]): Ring = ring match {
      case (cs, sum) if cs.size == frame => (cs.tail :+ c, ex.plus(ex.minus(sum, cs.head), c))
      case (cs, sum)                     => (cs :+ c, ex.plus(sum, c))
    }
    val local = localPass(st, "__t")((pid, k) =>
      seeds.value.getOrDefault((pid, k), Vector.empty)
        .foldLeft((Vector.empty[Array[Any]], ex.zero))(push))((ring, r) =>
      (push(ring, ex.of(r)), ex.emit(ring._2)))
    var out = joinOffsets(st, local, rows, totalRowsCol, Nil)
      .withColumn(rankCol, col("__rank_off") + col("__lrank"))
    values.zipWithIndex.foreach { case ((_, name), i) =>
      out = out.withColumn(name, col(s"__t$i"))
    }
    val temp = Seq("__pid", "__lrank", "__rank_off") ++
      st.kCols ++ st.vCols ++ values.indices.map(i => s"__t$i")
    out.drop(temp: _*)
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
    val segs = segments(sorted, 0 until nk, "groupedQuantiles")(0L)(
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
