package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `mmr_select(pool, k, lamTenths)` — the whole k-step greedy MMR chain
  * as ONE per-row expression (r12 optimization, guide §1.2: the
  * distributed algorithm only needs the ANN pool scan; everything after
  * it is bounded by the compile-time pool size and belongs inside a row).
  *
  * Input: `pool: ARRAY<STRUCT<neighbor_id: BIGINT, rel: DOUBLE,
  * emb: ARRAY<DOUBLE>, vnorm: DOUBLE>>` (one collected row per query),
  * `k`, `lamTenths` integer literals. Output:
  * `ARRAY<STRUCT<neighbor_id: BIGINT, rel: DOUBLE, su: BIGINT>>` in
  * selection order (position ⇒ mmr_rank); `su` is the exact integer
  * score in 1e-7 units — the caller divides by 1e7, the identical final
  * op the historical plan used.
  *
  * This replaces the r1–r11 operator shape — k unrolled iterations of
  * [left join maxsim + windowed argmax + anti join], each step
  * `localCheckpoint`'d: 10 eager materialization jobs and ~15 exchanges
  * whose inputs were ≤ |q|·pool ROWS. A first r12 attempt expressed the
  * same chain as layered projections of NESTED higher-order functions
  * (`aggregate(filter(...), ..., array_max(transform(...)))` per step);
  * that is semantically right but plans EXPONENTIALLY —
  * `HigherOrderFunction.canonicalized` (Spark, higherOrderFunctions
  * .scala:226) rebuilds the lambda bodies' canonical trees on every
  * reference instead of caching them, so optimizer rules that
  * semantically hash expressions recanonicalize the whole nested chain
  * per node: planning emb_mmr hung ~8.5 min at sf0.001 and OOM'd an
  * 8 GB heap (thread dump: `TreeNode.hashCode` over
  * `ArrayAggregate.canonicalized`, recursively). A flat hand-written
  * expression has no lambdas to recanonicalize — planning is O(plan),
  * and evaluation is the same pool-bounded loop.
  *
  * CodegenFallback is deliberate: the expression evaluates once per
  * QUERY row (|q| rows total — the pool attach collapses the corpus away
  * first), so codegen would compile more Java than it ever executes; the
  * heavy per-element work (the ANN pool scan, the vec_dot folds feeding
  * rel/vnorm) already runs inside whole-stage codegen upstream.
  *
  * EXACT-equivalence contract with the unrolled operator (the DuckDB
  * oracle replays that chain as CTEs, so every float op must be
  * bit-identical):
  *  - pairwise sim = round(vec_dot(e_a, e_b) / (vnorm_a * vnorm_b), 6):
  *    the [[VecDot]] left-to-right fold truncated to the shorter side,
  *    the same division/multiplication order as
  *    [[graft.sim.Embeddings.cosinePre]], and Spark `round`'s exact
  *    double semantics (NaN/Inf pass through; else
  *    BigDecimal.valueOf(d).setScale(6, HALF_UP).toDouble);
  *  - maxsim over the selected set: double max with Spark's
  *    nan-greatest ordering (`max(sim)`'s rule); 0.0 when nothing is
  *    selected yet (the step-1 `lit(0.0)` / later `coalesce` — with a
  *    complete pool×selected pair table the coalesce never fired, so
  *    0.0-when-empty is the only case);
  *  - score_u = micro(rel)·λ₁₀ − micro(maxsim)·(10−λ₁₀) on exact longs,
  *    micro(x) = cast(round(x · 1e6, 0) as long) with the same round
  *    semantics and Spark's non-ANSI double→long cast (`.toLong`).
  *    ANSI edge (ADVICE r12): on a NaN rel/maxsim, `.toLong` yields 0
  *    where the replaced chain's `cast("long")` under Spark 4's ANSI
  *    default would THROW — bit-identity holds on every non-NaN input;
  *    NaN components are unreachable in production corpora (the
  *    upstream norms are strictly positive), so the divergence is
  *    SQL-surface-only and chosen deliberately (a total function over
  *    a pool expression cannot throw per-row);
  *  - argmax ties resolve to the LOWEST neighbor_id —
  *    `row_number().over(orderBy(score_u.desc, neighbor_id.asc))`'s
  *    order; long comparisons, no float on the selection path;
  *  - a query whose pool exhausts before k simply stops — ranks end,
  *    matching the unrolled chain's empty `remaining` behaviour.
  */
case class MmrSelect(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okPool = first.dataType match {
      case ArrayType(StructType(Array(f0, f1, f2, f3)), _) =>
        f0.dataType == LongType && f1.dataType == DoubleType &&
          (f2.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && f3.dataType == DoubleType
      case _ => false
    }
    if (okPool && second.dataType == IntegerType &&
        third.dataType == IntegerType && second.foldable && third.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "mmr_select requires (ARRAY<STRUCT<neighbor_id: BIGINT, rel: DOUBLE, " +
        "emb: ARRAY<DOUBLE>, vnorm: DOUBLE>>, k: INT literal, lamTenths: " +
        s"INT literal), got ${first.dataType.catalogString}, " +
        s"${second.dataType.catalogString}, ${third.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rel", DoubleType, nullable = false),
    StructField("su", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "mmr_select"

  /** Spark `round(d, scale)` for doubles, exactly (RoundBase):
    * NaN/Infinity pass through, else decimal-string BigDecimal,
    * HALF_UP. */
  private def roundAt(d: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** micro(x) = cast(round(x * 1e6, 0) as long) — Spark's non-ANSI
    * double→long cast is `.toLong`. */
  private def micro(d: Double): Long = roundAt(d * 1000000.0, 0).toLong

  /** Spark max-over-doubles ordering step: replace when the new value is
    * greater under nanSafeCompareDoubles (x == y first, NaN greatest). */
  private def nanSafeGt(x: Double, y: Double): Boolean = {
    if (x == y) false
    else if (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y)) false
    else if (java.lang.Double.isNaN(x)) true
    else if (java.lang.Double.isNaN(y)) false
    else x > y
  }

  override protected def nullSafeEval(poolAny: Any, kAny: Any,
                                      lamAny: Any): Any = {
    val pool = poolAny.asInstanceOf[ArrayData]
    // clamp: a SQL-surface mmr_select(pool, -1, …) must return empty,
    // not throw NegativeArraySizeException (ADVICE r12); the Scala entry
    // point always passes k ≥ 0
    val k = math.max(0, kAny.asInstanceOf[Int])
    val lam = lamAny.asInstanceOf[Int]
    val nRaw = pool.numElements()
    val ids = new Array[Long](nRaw)
    val rels = new Array[Double](nRaw)
    val embs = new Array[ArrayData](nRaw)
    val norms = new Array[Double](nRaw)
    var n = 0
    var i = 0
    while (i < nRaw) {
      // skip null/partial pool entries (ADVICE r12): a null-embedding row
      // can reach the pool only on corpora smaller than k — the unrolled
      // chain ranked such rows last via null-last ordering; dropping them
      // degrades the same way without the NPE at ea.numElements()
      if (!pool.isNullAt(i)) {
        val row = pool.getStruct(i, 4)
        if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2) &&
            !row.isNullAt(3)) {
          ids(n) = row.getLong(0)
          rels(n) = row.getDouble(1)
          embs(n) = row.getArray(2)
          norms(n) = row.getDouble(3)
          n += 1
        }
      }
      i += 1
    }
    val taken = new Array[Boolean](n)
    val selIdx = new Array[Int](math.min(k, n))
    val selSu = new Array[Long](math.min(k, n))
    var nSel = 0
    var step = 0
    while (step < k && nSel < n) {
      var bestI = -1
      var bestSu = 0L
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          // maxsim over the selected set (0.0 when empty — step 1)
          var ms = 0.0
          var s = 0
          while (s < nSel) {
            val o = selIdx(s)
            val ea = embs(c); val eb = embs(o)
            val len = math.min(ea.numElements(), eb.numElements())
            var acc = 0.0
            var j = 0
            while (j < len) { acc += ea.getDouble(j) * eb.getDouble(j); j += 1 }
            val sim = roundAt(acc / (norms(c) * norms(o)), 6)
            // max(sim) over a nonempty group seeds from its first
            // element (it can be negative — the r11 coalesce(…, 0.0)
            // only ever fired on the empty step-1 set)
            if (s == 0) ms = sim
            else if (nanSafeGt(sim, ms)) ms = sim
            s += 1
          }
          val su = micro(rels(c)) * lam - micro(ms) * (10 - lam)
          if (bestI < 0 || su > bestSu ||
              (su == bestSu && ids(c) < ids(bestI))) {
            bestI = c; bestSu = su
          }
        }
        c += 1
      }
      // bestI >= 0 always here (nSel < n guarantees a remaining element)
      taken(bestI) = true
      selIdx(nSel) = bestI
      selSu(nSel) = bestSu
      nSel += 1
      step += 1
    }
    val out = new Array[Any](nSel)
    i = 0
    while (i < nSel) {
      val r = new GenericInternalRow(3)
      r.setLong(0, ids(selIdx(i)))
      r.setDouble(1, rels(selIdx(i)))
      r.setLong(2, selSu(i))
      out(i) = r
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MmrSelect =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MmrSelect {
  val info = new ExpressionInfo(classOf[MmrSelect].getName, "mmr_select")
}
