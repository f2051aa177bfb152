package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructType}

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
 *  2. per-partition row/value totals (a map-side partial aggregate —
 *     ONE row per partition crosses the wire) fold into exclusive
 *     offsets ON THE DRIVER, come back as a broadcast LocalRelation,
 *     and compose: global rank = partition offset + local rank, global
 *     prefix = value offset + local sum. The plan has no window.
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
   * segment-fold guard below. A pathological input (e.g. an eval set
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
      vIdx: Array[Int],
      vScale: Array[Option[Int]]) {
    def prefixType(i: Int): DataType =
      vScale(i).map(s => DecimalType(38, s): DataType).getOrElse(LongType)
    def schema: org.apache.spark.sql.types.StructType = sorted.schema
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
      vCols.map(schema.fieldIndex).toArray,
      // per-value emit type: Long stays Long; decimal(p, s) emits at
      // the widened decimal(38, s) its phase-2 Spark sum also lands on
      vCols.map { c =>
        schema(c).dataType match {
          case d: DecimalType => Some(d.scale)
          case _              => None
        }
      }.toArray)
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
   *  2. per-(partition, key) segment totals fold into per-key
   *     exclusive offsets. Because a key's rows occupy CONTIGUOUS
   *     partitions under the range exchange, the segments table has at
   *     most `distinctKeys + partitions − 1` rows — metadata-size by
   *     construction. It folds on the DRIVER (the k-row-collect
   *     class) and rebuilds as a LocalRelation, so the broadcast back
   *     is provably bounded and the final plan contains NO window at
   *     all — fact-scale or otherwise.
   *
   * Adds `rankCol` (1-based per-key rank, Long), `totalRowsCol`
   * (per-key row count N_k — `percent_rank = (rank−1)/(N_k−1)`,
   * `cume_dist = rank/N_k` under a total order, and
   * [[ntileFromRank]] all derive from these two), and one exclusive
   * per-key prefix column per `values` entry.
   *
   * `values` columns must be integral (summed exactly as Long) or
   * DecimalType (summed exactly as BigDecimal, emitted at
   * decimal(38, s) — the same widen-before-sum discipline as the
   * window formulations this replaces). Doubles are rejected: a
   * float running sum is evaluation-order dependent, which this
   * operator exists to keep deterministic.
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
    val spark = df.sparkSession
    val st = stageGrouped(df, keys, values, order, "groupedRankAndPrefix")
    val sorted = st.sorted
    val kCols = st.kCols
    val vCols = st.vCols
    val schema = st.schema
    val kIdx = st.kIdx
    val vIdx = st.vIdx
    val vScale = st.vScale
    val prefixType: Int => DataType = st.prefixType
    val outSchema = values.indices.foldLeft(
      schema
        .add("__pid", LongType, nullable = false)
        .add("__lrank", LongType, nullable = false)) { (sch, i) =>
      sch.add(s"__ls$i", prefixType(i), nullable = false)
    }
    val nv = values.size
    val rankOnly = nv == 0
    // phase-1 local pass. RANK-ONLY callers (the distribution-rank
    // family, the global ntile buckets) stay INSIDE whole-stage
    // codegen: over the pinned blocks
    // monotonically_increasing_id() is, by its documented
    // construction, (pid << 33) + rowIndex — the PARTITION
    // rank; the per-(key, segment) rank is recovered after the offset
    // join as (partition rank − segment start + 1), with each
    // segment's start collected by phase 2 as min(partition rank).
    // The running-sum path keeps the imperative per-partition pass
    // (an exclusive scan has no codegen equivalent).
    def withMid(df: DataFrame): DataFrame = df
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("long"))
      .withColumn("__plrank", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1L)
      .drop("__mid")
    val local =
      if (rankOnly) withMid(sorted)
      else sorted.mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var curKey: Seq[Any] = null
        var rank = 0L
        val cumL = Array.fill(nv)(0L)
        val cumD = Array.fill(nv)(java.math.BigDecimal.ZERO)
        rows.map { r =>
          val k: Seq[Any] = kIdx.map(r.get).toSeq
          if (curKey == null || k != curKey) {
            curKey = k
            rank = 0L
            java.util.Arrays.fill(cumL, 0L)
            java.util.Arrays.fill(cumD.asInstanceOf[Array[AnyRef]],
              java.math.BigDecimal.ZERO)
          }
          rank += 1
          val before: Seq[Any] = (0 until nv).map { i =>
            vScale(i) match {
              case Some(s) => cumD(i).setScale(s)
              case None    => cumL(i)
            }
          }
          (0 until nv).foreach { i =>
            if (!r.isNullAt(vIdx(i))) vScale(i) match {
              case Some(_) => cumD(i) = cumD(i).add(r.getDecimal(vIdx(i)))
              case None    => cumL(i) += r.getLong(vIdx(i))
            }
          }
          Row.fromSeq(r.toSeq ++ (pid +: rank +: before))
        }
      }(Encoders.row(outSchema))
    // phase-2 segment totals: one partial-aggregated row per
    // (partition, key) segment — ≤ K + parts − 1 rows total (a key's
    // rows occupy CONTIGUOUS partitions under the range exchange) —
    // read from the SAME pinned blocks as phase 1. The fold runs on
    // the driver: the segments table is metadata-size by construction
    // (the k-row-collect class), and rebuilding the folded offsets as
    // a LocalRelation makes the broadcast below PROVABLY bounded — the
    // forced-broadcast audit accepts LocalRelation leaves, and no
    // window of any size appears in the plan.
    // rank-only: phase 2 additionally collects each segment's START
    // (min partition rank) over the SAME mid projection as phase 1 —
    // mid is stable across the two reads because the blocks are pinned
    // and the id is a pure function of (partition, iteration position)
    val segAggs =
      if (rankOnly) Seq(count(lit(1)).as("__n"),
        min(col("__plrank")).as("__segstart"))
      else count(lit(1)).as("__n") +:
        values.indices.map(i => sum(col(s"__v$i")).as(s"__s$i"))
    val maxSegs = spark.conf
      .get("graft.groupedOrder.maxSegments", (1 << 20).toString).toInt
    // collect through a LIMIT of maxSegs+1 so the guard binds BEFORE
    // driver materialization: a caller outside the few-key envelope
    // gets this error, never a driver OOM — the limit caps what can
    // land on the driver regardless of the true segment count, and
    // when the guard passes the limited collect IS the full segment
    // set (length ≤ maxSegs < limit)
    val segSrc =
      if (rankOnly) withMid(sorted)
      else sorted.withColumn("__pid", spark_partition_id().cast("long"))
    val segs = segSrc
      .groupBy((col("__pid") +: kCols.map(col)): _*)
      .agg(segAggs.head, segAggs.tail: _*)
      .limit(maxSegs + 1)
      .collect()
    require(segs.length <= maxSegs,
      s"groupedRankAndPrefix saw more than $maxSegs (partition, key) " +
        "segments: key cardinality is large enough that a plain " +
        "per-key window already parallelizes — use that instead, or " +
        "raise graft.groupedOrder.maxSegments")
    // exclusive fold per key in pid order (exact: Long / BigDecimal)
    val nKeys = keys.size
    val foldedRows = new java.util.ArrayList[Row](segs.length)
    segs.groupBy(r => (0 until nKeys).map(i => r.get(1 + i)))
      .foreach { case (_, segRows) =>
        val inOrder = segRows.sortBy(_.getLong(0))
        val totalN = inOrder.map(_.getLong(1 + nKeys)).sum
        var rankOff = 0L
        val offL = Array.fill(nv)(0L)
        val offD = Array.fill(nv)(java.math.BigDecimal.ZERO)
        inOrder.foreach { r =>
          val offs: Seq[Any] = (0 until nv).map { i =>
            vScale(i) match {
              case Some(s) => offD(i).setScale(s)
              case None    => offL(i)
            }
          }
          // rank-only rows additionally carry the segment's start
          // (min partition rank) so the join can recover the per-key
          // local rank as (__plrank − __segstart + 1)
          val tail: Seq[Any] =
            if (rankOnly) Seq(rankOff, totalN, r.getLong(2 + nKeys))
            else rankOff +: totalN +: offs
          foldedRows.add(Row.fromSeq(
            (r.getLong(0) +: (0 until nKeys).map(i => r.get(1 + i))) ++ tail))
          rankOff += r.getLong(1 + nKeys)
          (0 until nv).foreach { i =>
            val si = 2 + nKeys + i
            if (!r.isNullAt(si)) vScale(i) match {
              case Some(_) => offD(i) = offD(i).add(r.getDecimal(si))
              case None    => offL(i) += r.getLong(si)
            }
          }
        }
      }
    val foldBase = kCols.foldLeft(new org.apache.spark.sql.types.StructType()
        .add("__pid", LongType, nullable = false)) { (st, c) =>
        st.add(schema(c))
      }
      .add("__rank_off", LongType, nullable = false)
      .add(totalRowsCol, LongType, nullable = false)
    val foldSchema =
      if (rankOnly) foldBase.add("__segstart", LongType, nullable = false)
      else values.indices.foldLeft(foldBase) { (st, i) =>
        st.add(s"__off$i", prefixType(i), nullable = false)
      }
    val keepF = Seq(col(s"f.__rank_off"), col(s"f.$totalRowsCol")) ++
      (if (rankOnly) Seq(col("f.__segstart"))
       else values.indices.map(i => col(s"f.__off$i")))
    // null-safe on keys: a usingColumns join would drop null-key rows
    val l = local.alias("l")
    val f = broadcast(spark.createDataFrame(foldedRows, foldSchema)).alias("f")
    val cond = (col("l.__pid") === col("f.__pid")) +: kIdx.indices.map(i =>
      col(s"l.__k$i") <=> col(s"f.__k$i"))
    var out = l.join(f, cond.reduce(_ && _))
      .select((col("l.*") +: keepF): _*)
      .withColumn(rankCol,
        if (rankOnly)
          col("__rank_off") + (col("__plrank") - col("__segstart") + 1L)
        else col("__rank_off") + col("__lrank"))
    values.zipWithIndex.foreach { case ((_, name), i) =>
      out = out.withColumn(name, col(s"__off$i") + col(s"__ls$i"))
    }
    val temp = Seq("__pid", "__lrank", "__plrank", "__segstart",
        "__rank_off") ++
      kCols ++ vCols ++
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
   * last `frame` contributions (Long or BigDecimal — add AND evict
   * are exact, so retraction is safe where floats would drift), and
   * segment boundaries are SEEDED with the tail of the preceding
   * segments: a second metadata-size pass collects the last `frame`
   * contributions of every (partition, key) segment — at most
   * `frame × (keys + partitions − 1)` scalars, the k-row-collect
   * class — and the driver threads them together in pid order. Total
   * cost: the one range exchange, two passes over the pinned blocks,
   * and a frame×segments broadcast. Nothing is O(rows × frame) and
   * nothing re-exchanges the data.
   *
   * Null values contribute zero to the sums but still occupy their
   * frame slot — exactly the window function's semantics. Emitted
   * types match [[groupedRankAndPrefix]] (Long, or decimal(38, s)).
   *
   * Envelope: `frame × segments` must stay metadata-size — ENFORCED
   * before anything is collected, by `graft.groupedOrder.maxSegments`
   * on the segment count and `graft.groupedOrder.maxTailContribs`
   * (default 2²⁴) on the frame × segments product. For unbounded
   * trailing frames use the exclusive prefix from
   * [[groupedRankAndPrefix]] directly.
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
    val sorted = st.sorted
    val kIdx = st.kIdx
    val vIdx = st.vIdx
    val vScale = st.vScale
    val nv = values.size
    val nKeys = keys.size
    // contribution of a row to value i: Long or BigDecimal; null → zero
    // (occupies its frame slot, adds nothing — window semantics)
    def contrib(r: Row, i: Int): Any = vScale(i) match {
      case Some(_) =>
        if (r.isNullAt(vIdx(i))) java.math.BigDecimal.ZERO else r.getDecimal(vIdx(i))
      case None =>
        if (r.isNullAt(vIdx(i))) 0L else r.getLong(vIdx(i))
    }
    // Guards run BEFORE the tails collect so a caller outside the
    // few-key envelope gets a friendly error, never a driver OOM. The
    // pre-count is one cheap pass over the already-pinned blocks
    // (scan + partial distinct; nothing recomputes), and the LIMIT
    // caps its own cost at maxSegs+1 rows. When the first guard
    // passes, nSegs is the EXACT segment count, so the frame×segments
    // product bound is exact too — the scaladoc's "frames are
    // typically 10–10⁴" envelope, enforced: at the default caps a
    // frame=10⁴ caller is held to ≤ ~1.7k segments instead of being
    // allowed to pull frame × 2²⁰ boxed contributions onto the driver.
    val maxSegs = spark.conf
      .get("graft.groupedOrder.maxSegments", (1 << 20).toString).toInt
    val maxTail = spark.conf
      .get("graft.groupedOrder.maxTailContribs", (1 << 24).toString).toLong
    val nSegs = sorted
      .withColumn("__pid", spark_partition_id().cast("long"))
      .select((col("__pid") +: st.kCols.map(col)): _*)
      .distinct()
      .limit(maxSegs + 1)
      .count()
    require(nSegs <= maxSegs,
      s"groupedTrailingSums saw more than $maxSegs (partition, key) " +
        "segments: with that many keys a plain per-key window already " +
        "parallelizes — use that instead, or raise " +
        "graft.groupedOrder.maxSegments")
    require(frame.toLong * nSegs <= maxTail,
      s"groupedTrailingSums would buffer frame × segments = $frame × " +
        s"$nSegs > $maxTail contribution tuples on the driver: shrink " +
        "the frame, reduce key cardinality (a plain per-key window " +
        "already parallelizes at high cardinality), or raise " +
        "graft.groupedOrder.maxTailContribs")
    // tails pass: per (partition, key) segment, the last ≤ frame rows'
    // contribution tuples in order + the segment row count (reused for
    // the rank fold — one collect serves both). Bounded by the guards
    // above: ≤ nSegs rows, ≤ frame × nSegs ≤ maxTail tuples.
    val tailsRaw: Array[(Long, Seq[Any], Long, Vector[Array[Any]])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, rows) =>
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[Seq[Any], (Long, scala.collection.mutable.ArrayDeque[Array[Any]])]
        rows.foreach { r =>
          val k: Seq[Any] = kIdx.map(r.get).toSeq
          val (n, buf) = acc.getOrElseUpdate(k,
            (0L, scala.collection.mutable.ArrayDeque.empty[Array[Any]]))
          buf.append(Array.tabulate[Any](nv)(i => contrib(r, i)))
          if (buf.size > frame) buf.removeHead()
          acc(k) = (n + 1, buf)
        }
        acc.iterator.map { case (k, (n, buf)) => (pid.toLong, k, n, buf.toVector) }
      }.collect()
    // driver fold in pid order per key: rank offsets + per-key totals
    // (as groupedRankAndPrefix) and the SEED for each segment — the
    // last ≤ frame contributions of all preceding segments of its key
    val seedBySeg = new java.util.HashMap[(Long, Seq[Any]), Array[Array[Any]]]()
    val foldedRows = new java.util.ArrayList[Row](tailsRaw.length)
    tailsRaw.groupBy(_._2).foreach { case (k, segRows) =>
      val inOrder = segRows.sortBy(_._1)
      val totalN = inOrder.map(_._3).sum
      var rankOff = 0L
      var rolling = Vector.empty[Array[Any]]
      inOrder.foreach { case (pid, _, n, tail) =>
        seedBySeg.put((pid, k), rolling.takeRight(frame).toArray)
        foldedRows.add(Row.fromSeq((pid +: k) ++ Seq(rankOff, totalN)))
        rankOff += n
        // a segment with n ≥ frame rows fully determines the next
        // seed; otherwise its tail extends what came before
        rolling = if (n >= frame) tail else (rolling ++ tail).takeRight(frame)
      }
    }
    val seeds = spark.sparkContext.broadcast(seedBySeg)
    // phase-1 local pass: seeded ring buffer per segment; add and
    // evict are exact, so the running frame sums never drift
    val outSchema = values.indices.foldLeft(
      st.schema
        .add("__pid", LongType, nullable = false)
        .add("__lrank", LongType, nullable = false)) { (sch, i) =>
      sch.add(s"__t$i", st.prefixType(i), nullable = false)
    }
    val local = sorted.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var curKey: Seq[Any] = null
      var rank = 0L
      val ring = scala.collection.mutable.ArrayDeque.empty[Array[Any]]
      val sumL = Array.fill(nv)(0L)
      val sumD = Array.fill(nv)(java.math.BigDecimal.ZERO)
      def add(c: Array[Any], sign: Int): Unit = (0 until nv).foreach { i =>
        vScale(i) match {
          case Some(_) =>
            val d = c(i).asInstanceOf[java.math.BigDecimal]
            sumD(i) = if (sign > 0) sumD(i).add(d) else sumD(i).subtract(d)
          case None =>
            val l = c(i).asInstanceOf[Long]
            sumL(i) = if (sign > 0) sumL(i) + l else sumL(i) - l
        }
      }
      rows.map { r =>
        val k: Seq[Any] = kIdx.map(r.get).toSeq
        if (curKey == null || k != curKey) {
          curKey = k
          rank = 0L
          ring.clear()
          java.util.Arrays.fill(sumL, 0L)
          java.util.Arrays.fill(sumD.asInstanceOf[Array[AnyRef]],
            java.math.BigDecimal.ZERO)
          Option(seeds.value.get((pid, k))).foreach(_.foreach { c =>
            ring.append(c); add(c, 1)
            if (ring.size > frame) add(ring.removeHead(), -1)
          })
        }
        rank += 1
        val sums: Seq[Any] = (0 until nv).map { i =>
          vScale(i) match {
            case Some(s) => sumD(i).setScale(s)
            case None    => sumL(i)
          }
        }
        val c = Array.tabulate[Any](nv)(i => contrib(r, i))
        ring.append(c); add(c, 1)
        if (ring.size > frame) add(ring.removeHead(), -1)
        Row.fromSeq(r.toSeq ++ (pid +: rank +: sums))
      }
    }(Encoders.row(outSchema))
    val foldSchema = st.kCols.foldLeft(new org.apache.spark.sql.types.StructType()
        .add("__pid", LongType, nullable = false)) { (s2, c) =>
      s2.add(st.schema(c))
    }
      .add("__rank_off", LongType, nullable = false)
      .add(totalRowsCol, LongType, nullable = false)
    val l = local.alias("l")
    val f = broadcast(spark.createDataFrame(foldedRows, foldSchema)).alias("f")
    val cond = (col("l.__pid") === col("f.__pid")) +: kIdx.indices.map(i =>
      col(s"l.__k$i") <=> col(s"f.__k$i"))
    var out = l.join(f, cond.reduce(_ && _))
      .select((col("l.*") +: Seq(col("f.__rank_off"), col(s"f.$totalRowsCol"))): _*)
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
   *  2. one local walk over the pinned rows returns, per (partition,
   *     key) segment, its first row index and its non-null count —
   *     ≤ `distinctKeys + partitions − 1` segments, guarded by
   *     `graft.groupedOrder.maxSegments` before anything is kept;
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
    val keyRefs = keySchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val rows = sorted.queryExecution.toRdd
    val maxSegs = spark.conf
      .get("graft.groupedOrder.maxSegments", (1 << 20).toString).toInt
    // the walk: (key, first row index, non-null count) per segment, in
    // row order. A task stops at maxSegs + 1 segments and the handler
    // keeps nothing past the bound, so the guard binds before the
    // segments pile up on the driver
    val segs = ArrayBuffer.empty[(Int, UnsafeRow, Long, Long)]
    sc.runJob(rows, (it: Iterator[InternalRow]) => {
      val keyOf = UnsafeProjection.create(keyRefs)
      val out = ArrayBuffer.empty[(UnsafeRow, Long, Long)]
      var cur: UnsafeRow = null
      var first, nonNull, i = 0L
      while (it.hasNext && out.length <= maxSegs) {
        val r = it.next()
        val k = keyOf(r)
        if (cur == null || k != cur) {
          if (cur != null) out += ((cur, first, nonNull))
          cur = k.copy(); first = i; nonNull = 0L
        }
        if (!r.isNullAt(nk)) nonNull += 1
        i += 1
      }
      if (cur != null) out += ((cur, first, nonNull))
      out.toArray
    }, (pid: Int, got: Array[(UnsafeRow, Long, Long)]) =>
      if (segs.length <= maxSegs) got.foreach { case (k, f, n) => segs += ((pid, k, f, n)) })
    require(segs.length <= maxSegs,
      s"groupedQuantiles saw more than $maxSegs (partition, key) " +
        "segments: key cardinality is large enough that a plain " +
        "per-key aggregate already parallelizes — use that instead, or " +
        "raise graft.groupedOrder.maxSegments")
    // per key, in partition order: N and the (partition, row index) of
    // ranks lo and lo + 1 per quantile (None past N)
    val perKey = segs.groupBy(_._2).values.toSeq.map { ss =>
      val inOrder = ss.sortBy(_._1)
      val before = inOrder.scanLeft(0L)(_ + _._4)
      val n = before.last
      def at(rank: Long): Option[(Int, Long)] =
        if (rank < 1 || rank > n) None
        else {
          val s = before.lastIndexWhere(_ < rank)
          Some((inOrder(s)._1, inOrder(s)._3 + rank - before(s) - 1))
        }
      val bounds = ps.flatMap { case (_, p) =>
        val lo = math.floor(1.0 + p * (n - 1).toDouble).toLong
        Seq(at(lo), at(lo + 1))
      }
      (inOrder.head._2, n, bounds)
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
