package graft.plans

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

/**
 * Per-key rank, row count and exact sums over a range-sorted input —
 * the logical half of [[graft.ops.GlobalOrder.groupedRankAndPrefix]]
 * (`frame = None`: exclusive prefix sums) and
 * [[graft.ops.GlobalOrder.groupedTrailingSums]] (`frame = Some(f)`: the
 * sums of the f preceding rows). `out` holds the rank, the row count
 * and one sum per `values` entry; `values` are Long or decimal
 * expressions. Planned as [[GroupedOrderExec]] by [[GraftStrategies]].
 */
case class GroupedOrderNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    values: Seq[Expression],
    frame: Option[Int],
    out: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedOrderNode =
    copy(child = newChild)
}

/**
 * The grouped order operator. It requires its child range-partitioned
 * and sorted on (keys ++ order), so `EnsureRequirements` plans the one
 * range exchange and sort, and runs in two passes over ONE child RDD:
 *  1. the segment census ([[graft.ops.GlobalOrder.segments]]): one job
 *     returns each (partition, key) segment's row count and exact sums
 *     (for trailing sums, its last ≤ f contributions), and the driver
 *     folds them into each segment's start: the rows of its key before
 *     it, its key's total, and the sums carried in;
 *  2. the output pass maps each partition of the same RDD and appends
 *     (rank, total, sums…) to every row through one `UnsafeProjection`.
 *
 * Both passes read one `ShuffleDependency`, so they see one set of
 * range bounds, and a map-stage retry reuses that partitioner. Under a
 * total order and a deterministic input each partition's rows and
 * their order are therefore facts, without a pin: an executor loss
 * recomputes from shuffle output. The output pass looks every segment
 * up by (partition, key) and fails loudly if the census did not see it.
 */
case class GroupedOrderExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    values: Seq[Expression],
    frame: Option[Int],
    out: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)

  private def sortOrder: Seq[SortOrder] = keys.map(SortOrder(_, Ascending)) ++ order
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(sortOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = sortOrder :: Nil
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics = Map(
    "numSegments" -> SQLMetrics.createMetric(sparkContext, "number of segments"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val caller = if (frame.isEmpty) "groupedRankAndPrefix" else "groupedTrailingSums"
    val rows = child.execute()
    val keyRefs = BindReferences.bindReferences(keys, child.output)
    val sums = ExactSums(BindReferences.bindReferences(values, child.output), frame)
    // the census caps trailing sums at maxTail / f segments, so the
    // f × segments contributions the driver buffers stay within maxTail:
    // at the default caps a frame = 10⁴ caller gets ≤ ~1.7k segments
    val maxTail = conf.getConfString("graft.groupedOrder.maxTailContribs", (1 << 24).toString).toLong
    val segs = graft.ops.GlobalOrder.segments(rows, keyRefs, caller,
        frame.fold(Long.MaxValue)(maxTail / _))(sums.empty)(sums.add)
    frame.foreach(f => require(f.toLong * segs.length <= maxTail,
      s"groupedTrailingSums would buffer frame × segments = $f × " +
        s"${segs.length} > $maxTail contribution tuples on the driver: " +
        "shrink the frame, reduce key cardinality (a plain per-key window " +
        "already parallelizes at high cardinality), or raise " +
        "graft.groupedOrder.maxTailContribs"))
    metrics("numSegments").set(segs.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics("numSegments") :: Nil)
    // the driver fold: per key, in partition order, each segment starts
    // after the rows of its key before it and carries their sums in
    val starts: Map[(Int, UnsafeRow), (Long, Long, ExactSums.Ring)] =
      segs.groupBy(_.key).values.flatMap { ss =>
        val total = ss.map(_.n).sum
        ss.scanLeft((0L, sums.empty)) { case ((before, carry), s) =>
          (before + s.n, sums.absorb(carry, s.acc))
        }.zip(ss).map { case ((before, carry), s) => (s.pid, s.key) -> (before, total, carry) }
      }.toMap
    val numOut = metrics("numOutputRows")
    val outAttrs = output
    rows.mapPartitionsWithIndex { (pid, it) =>
      val keyOf = UnsafeProjection.create(keyRefs)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val extra = new GenericInternalRow(2 + sums.width)
      val joined = new JoinedRow
      var cur: UnsafeRow = null
      var ring = sums.empty
      var rank = 0L
      it.map { r =>
        val k = keyOf(r)
        if (cur == null || k != cur) {
          cur = k.copy()
          val (before, total, carry) = starts.getOrElse((pid, cur), throw new IllegalStateException(
            s"$caller: partition $pid holds a key the segment census did not see; " +
              "the input is not deterministic or the order is not total"))
          rank = before
          extra.setLong(1, total)
          ring = carry
        }
        rank += 1
        extra.setLong(0, rank)
        if (sums.width > 0) sums.emit(ring).zipWithIndex.foreach { case (v, i) => extra.update(2 + i, v) }
        ring = sums.add(ring, r)
        numOut += 1
        proj(joined(r, extra))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedOrderExec =
    copy(child = newChild)
}

/**
 * Exact sums over bound Long or decimal `values`, one slot per value.
 * Long slots fail with an `ArithmeticException` on overflow — as the
 * ANSI window sums the grouped operators replace do — instead of
 * wrapping; decimal slots sum as BigDecimal and emit at the
 * decimal(38, s) their window formulation widens to. A NULL value
 * contributes zero. Every operation returns a new array and none writes
 * to its arguments. Sums accumulate in a [[ExactSums.Ring]]: with a
 * `frame`, the last ≤ frame contributions and their sum (add and evict
 * are both exact, so the running frame sum never drifts); without one,
 * just the sum. The census, the driver fold and the output pass all sum
 * through this one helper.
 */
final case class ExactSums(values: Seq[Expression], frame: Option[Int]) {
  import ExactSums.Ring
  private val dec: Array[Option[DecimalType]] =
    values.map(_.dataType match { case d: DecimalType => Some(d); case _ => None }).toArray
  def width: Int = dec.length
  private val zero: Array[Any] = dec.map(_.fold[Any](0L)(_ => JBigDecimal.ZERO))
  val empty: Ring = (Vector.empty, zero)
  @transient private lazy val proj = UnsafeProjection.create(values)

  /** Adds `row`'s values; without values (a rank-only call) the ring
    * stays as it is. */
  def add(ring: Ring, row: InternalRow): Ring = if (width == 0) ring else push(ring, of(row))

  private def of(row: InternalRow): Array[Any] = {
    val r = proj(row)
    Array.tabulate(width) { i =>
      if (r.isNullAt(i)) zero(i)
      else dec(i).fold[Any](r.getLong(i))(d => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
    }
  }

  /** The ring's sums as Catalyst values. */
  def emit(ring: Ring): Array[Any] = ring._2.zip(dec).map {
    case (d: JBigDecimal, Some(t)) => Decimal(d, 38, t.scale)
    case (v, _)                    => v
  }

  /** Adds contribution `c`; with a frame, the oldest falls out once
    * `frame` are held. */
  def push(ring: Ring, c: Array[Any]): Ring = (frame, ring) match {
    case (None, (cs, s))                     => (cs, plus(s, c))
    case (Some(f), (cs, s)) if cs.size == f  => (cs.tail :+ c, plus(minus(s, cs.head), c))
    case (_, (cs, s))                        => (cs :+ c, plus(s, c))
  }

  /** `carry` followed by a later segment's census ring `seg`. */
  def absorb(carry: Ring, seg: Ring): Ring =
    if (frame.isEmpty) (carry._1, plus(carry._2, seg._2)) else seg._1.foldLeft(carry)(push)

  private def plus(a: Array[Any], b: Array[Any]): Array[Any] =
    combine(a, b)(Math.addExact(_, _), _ add _)
  private def minus(a: Array[Any], b: Array[Any]): Array[Any] =
    combine(a, b)(Math.subtractExact(_, _), _ subtract _)
  private def combine(a: Array[Any], b: Array[Any])(
      l: (Long, Long) => Long, d: (JBigDecimal, JBigDecimal) => JBigDecimal): Array[Any] =
    Array.tabulate(a.length) { i =>
      (a(i), b(i)) match {
        case (x: Long, y: Long)               => l(x, y)
        case (x: JBigDecimal, y: JBigDecimal) => d(x, y)
      }
    }
}

object ExactSums {
  /** The contributions inside the frame (none without one) and their sum. */
  type Ring = (Vector[Array[Any]], Array[Any])

  /** The emitted type of a Long or decimal(p, s) value's sums. */
  def sumType(t: DataType): DataType = t match {
    case d: DecimalType => DecimalType(38, d.scale)
    case other          => other
  }
}
