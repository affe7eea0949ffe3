package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Fixed-grid histogram cells as NATIVE aggregation state, the state of
  * [[HistQuantile]] — the same machinery
  * [[graft.text.TextOps.histogramQuantiles]] builds as a DataFrame plan:
  * bucket = floorDiv(value, width), one (bucket, count) cell per occupied
  * bucket.
  *
  * Why cells are the right partial: per-group cell counts SUM across any
  * regrouping, so the interpolated quantile computed from merged partials
  * is IDENTICAL — not approximately equal — to the quantile computed over
  * the base rows under any partitioning: the histogram is a deterministic
  * function of the value multiset and cell merge is exact addition. The
  * ESTIMATE's error vs the true percentile is the usual fixed-grid bound
  * (≤ width).
  *
  * State is |occupied buckets| per group per partition — bounded by
  * value-range/width, independent of row count (the bounded-partial
  * argument [[KMinValues]] and [[BoundedDistinct]] make).
  *
  * The quantile rule (replayed by the DuckDB oracle): with n = Σcnt and
  * target t = q·n, pick the first bucket (ascending) whose cumulative
  * count reaches t; estimate = bucket·width + width·(t − cum_prev)/cnt,
  * rounded HALF_UP to 6 dp — exactly
  * [[graft.text.TextOps.histogramQuantiles]]'s interpolation.
  */
object HistOps {

  type Cells = java.util.TreeMap[java.lang.Long, java.lang.Long]

  def newCells(): Cells = new java.util.TreeMap[java.lang.Long, java.lang.Long]()

  def add(buf: Cells, bucket: Long, cnt: Long): Unit = {
    val prev = buf.get(bucket)
    buf.put(bucket, if (prev == null) cnt else prev + cnt)
  }

  def mergeInto(b1: Cells, b2: Cells): Cells = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      add(b1, e.getKey, e.getValue)
    }
    b1
  }

  /** Interpolated quantile from cells; null when the histogram is empty. */
  def quantile(buf: Cells, q: Double, width: Int): Any = {
    var n = 0L
    val it0 = buf.values().iterator()
    while (it0.hasNext) n += it0.next().longValue()
    if (n == 0L) return null
    val t = q * n
    var cum = 0L
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.longValue()
      val cumPrev = cum
      cum += cnt
      if (cum >= t) {
        val est = e.getKey.longValue().toDouble * width +
          width * (t - cumPrev) / cnt
        return BigDecimal(est)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    // q ≤ 1 guarantees cum ≥ t at the last cell; unreachable
    null
  }

  def serialize(buf: Cells): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeLong(e.getKey.longValue()); out.writeLong(e.getValue.longValue())
    }
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Cells = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = newCells()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.put(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  private[functions] def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private[functions] def asLong(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  }

  // eval-before-null-check would NPE out of analysis on a foldable NULL
  // literal (CAST(NULL AS INT)) — return a TypeCheckFailure instead
  private[functions] def checkWidth(wExpr: Expression): TypeCheckResult =
    if (!wExpr.foldable || wExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("width must be an INTEGER literal")
    else if (wExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure("width must be a non-null INTEGER literal")
    else if (wExpr.eval().asInstanceOf[Number].intValue() <= 0)
      TypeCheckResult.TypeCheckFailure("width must be positive")
    else TypeCheckResult.TypeCheckSuccess

  private[functions] def checkQ(qExpr: Expression): TypeCheckResult =
    if (!qExpr.foldable || qExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("q must be a DOUBLE literal")
    else if (qExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure("q must be a non-null DOUBLE literal")
    else {
      val q = qExpr.eval().asInstanceOf[Number].doubleValue()
      if (q <= 0.0 || q > 1.0)
        TypeCheckResult.TypeCheckFailure("q must be in (0, 1]")
      else TypeCheckResult.TypeCheckSuccess
    }
}

/** `hist_quantile(x, q, width) → DOUBLE` — the fixed-grid interpolated
  * quantile aggregated directly over base rows. */
case class HistQuantile(
    child: Expression,
    qExpr: Expression,
    wExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistOps.Cells] {

  private lazy val width: Int = wExpr.eval().asInstanceOf[Number].intValue()
  private lazy val q: Double = qExpr.eval().asInstanceOf[Number].doubleValue()

  override def children: Seq[Expression] = Seq(child, qExpr, wExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hist_quantile"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!HistOps.integral(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"hist_quantile requires an integral input, got ${child.dataType.catalogString}")
    else HistOps.checkQ(qExpr) match {
      case TypeCheckResult.TypeCheckSuccess => HistOps.checkWidth(wExpr)
      case fail => fail
    }

  override def createAggregationBuffer(): HistOps.Cells = HistOps.newCells()

  override def update(buf: HistOps.Cells, input: InternalRow): HistOps.Cells = {
    val v = child.eval(input)
    if (v != null) HistOps.add(buf, Math.floorDiv(HistOps.asLong(v), width.toLong), 1L)
    buf
  }

  override def merge(b1: HistOps.Cells, b2: HistOps.Cells): HistOps.Cells =
    HistOps.mergeInto(b1, b2)

  override def eval(buf: HistOps.Cells): Any = HistOps.quantile(buf, q, width)

  override def serialize(buf: HistOps.Cells): Array[Byte] = HistOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): HistOps.Cells = HistOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistQuantile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistQuantile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistQuantile =
    copy(child = newChildren(0), qExpr = newChildren(1), wExpr = newChildren(2))
}

object HistQuantile {
  val info = new ExpressionInfo(classOf[HistQuantile].getName, "hist_quantile")
}
