package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bounded_distinct(col, k)` — the k SMALLEST distinct string values per
  * group, as a sorted array. The profiling companion to q30's counts: it
  * answers "what does this column actually contain" with a bounded,
  * DETERMINISTIC sample (unlike `collect_set`, whose order and — under
  * `LIMIT`-style truncation — membership depend on partitioning).
  *
  * This is the lowest rung of the custom-aggregate ladder the engine
  * exercises (built-ins → `TypedImperativeAggregate`, the rung it shares
  * with [[TopKByScore]] and [[KMinValues]]): an arbitrary mutable buffer (a TreeSet)
  * with explicit binary serialization between partial and final passes.
  * The buffer never exceeds k+1 entries, so partial aggregation ships at
  * most k strings per group per partition — collect_set's unbounded
  * buffer is exactly what this replaces at 100 TB.
  *
  * Two contracts pinned by ADVICE r2 (and BoundedDistinctSpec):
  *  - keys are `UTF8String`, whose compareTo is byte-wise binary UTF-8 —
  *    the SAME collation Spark's own StringType ordering and DuckDB use.
  *    A `TreeSet[String]` would order by UTF-16 code units, which
  *    disagrees for supplementary-plane characters (U+10000+ sort below
  *    U+E000.. in UTF-16, above in UTF-8) and would silently break the
  *    bit-exact oracle contract on non-ASCII data;
  *  - serialization length-prefixes raw UTF-8 bytes — `writeUTF` throws
  *    on any value over 65535 encoded bytes, which "profile arbitrary
  *    columns" cannot assume away.
  */
case class BoundedDistinct(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[UTF8String]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bounded_distinct"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_distinct requires STRING input, got ${child.dataType.catalogString}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("k must be an INTEGER literal")
    else if (kExpr.eval().asInstanceOf[Number].intValue() <= 0)
      TypeCheckResult.TypeCheckFailure("k must be positive")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): java.util.TreeSet[UTF8String] =
    new java.util.TreeSet[UTF8String]()

  override def update(buf: java.util.TreeSet[UTF8String],
                      input: InternalRow): java.util.TreeSet[UTF8String] = {
    val v = child.eval(input)
    if (v != null) {
      val u = v.asInstanceOf[UTF8String]
      // reject-path fast exit BEFORE any allocation: values already in
      // the set, or not smaller than the current k-th smallest of a full
      // buffer, never enter — the overwhelming majority on a big scan.
      // Only an actual insert clones (eval may hand back a buffer-backed
      // UTF8String the scanner overwrites on the next row).
      val tooBig = buf.size >= k && u.compareTo(buf.last()) >= 0
      if (!tooBig && !buf.contains(u)) {
        buf.add(u.clone())
        if (buf.size > k) buf.pollLast()
      }
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[UTF8String],
                     b2: java.util.TreeSet[UTF8String]): java.util.TreeSet[UTF8String] = {
    val it = b2.iterator()
    while (it.hasNext) {
      b1.add(it.next())
      if (b1.size > k) b1.pollLast()
    }
    b1
  }

  override def eval(buf: java.util.TreeSet[UTF8String]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[UTF8String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val b = it.next().getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[UTF8String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new java.util.TreeSet[UTF8String]()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.add(UTF8String.fromBytes(b))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedDistinct =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object BoundedDistinct {
  val info = new ExpressionInfo(classOf[BoundedDistinct].getName, "bounded_distinct")
}
