package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The sorted-run fold over a row's token n-grams as ONE per-row
  * expression: `gram_runs(toks ARRAY<STRING>, n INT literal)` returns
  * `STRUCT<max_count, top_chars, dup_chars>` (all BIGINT) over the grams
  * `concat_ws(" ", toks[i..i+n-1])`, every start i, WITH multiplicity:
  *  - `max_count` — the count of the most frequent gram;
  *  - `top_chars` — that count × `length(gram)` for the FIRST gram with
  *    it in `sort_array` order (unsigned UTF-8 bytes), i.e. count ties
  *    break to the lexicographically smallest gram;
  *  - `dup_chars` — Σ count × `length(gram)` over grams counted ≥ 2.
  * Fewer than n tokens (no grams) gives (0, 0, 0); a null array gives
  * null. A null token is skipped inside its grams, as `concat_ws` skips
  * it, so at n = 1 it counts as the gram `""`: `array(null, '')` has
  * `max_count` 2, where a run fold over the raw tokens sees 1.
  *
  * This is the Gopher repetition battery's kernel (Rae et al. 2021 App.
  * A.1.1; [[graft.text.TextOps.gopherRepetition]], and `max_count` for
  * [[graft.text.TextOps.repetitionSignals]]). As built-ins it was
  * `aggregate(sort_array(transform(sequence(…), concat_ws(…))), …)` per
  * n: `ArrayTransform` and `ArrayAggregate` are `CodegenFallback`, so
  * every gram and every fold step built an interpreted row. Here each
  * gram is one `UTF8String.concatWs` over the row's tokens, the grams
  * are sorted by `binaryCompare` (the order `sort_array` gives strings)
  * and the runs are folded in one pass.
  */
case class GramRuns(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okToks = left.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val okN = right.dataType == IntegerType && right.foldable && {
      val n = right.eval()
      n != null && n.asInstanceOf[Int] >= 1
    }
    if (okToks && okN) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "gram_runs requires (ARRAY<STRING>, a positive INT literal), got " +
        s"(${left.dataType.catalogString}, ${right.sql})")
  }

  override def dataType: DataType = GramRuns.resultType
  override def prettyName: String = "gram_runs"

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    GramRuns.runs(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (toks, n) => s"graft.functions.GramRuns.runs($toks, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramRuns =
    copy(left = newLeft, right = newRight)
}

object GramRuns {
  val info = new ExpressionInfo(classOf[GramRuns].getName, "gram_runs")

  val resultType: StructType = StructType(Seq(
    StructField("max_count", LongType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** Build the grams, sort them, and flush each run of equal grams as the
    * retired `aggregate` fold did: a strictly larger count takes the top
    * (so ties keep the earlier, smaller gram), a count ≥ 2 adds to the
    * duplicated mass. */
  def runs(toks: ArrayData, n: Int): InternalRow = {
    val m = toks.numElements()
    val t = Array.tabulate(m)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    val grams = Array.tabulate(math.max(m - n + 1, 0))(i =>
      UTF8String.concatWs(Space, t.slice(i, i + n): _*))
    java.util.Arrays.sort(grams, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    var topCnt = 0L
    var top = 0L
    var dup = 0L
    var s = 0
    while (s < grams.length) {
      var e = s + 1
      while (e < grams.length && grams(e) == grams(s)) e += 1
      val run = (e - s).toLong
      if (run > topCnt || run >= 2) {
        val contrib = run * grams(s).numChars()
        if (run > topCnt) { topCnt = run; top = contrib }
        if (run >= 2) dup += contrib
      }
      s = e
    }
    new GenericInternalRow(Array[Any](topCnt, top, dup))
  }
}
