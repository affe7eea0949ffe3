package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's shared hash primitive: the
  * first 60 bits of md5(input) as a non-negative long.
  *
  * Semantically identical to `conv(substring(md5(x), 1, 15), 16, 10)` (and
  * to DuckDB's `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`, which
  * is what the oracles use), but computed straight from the digest bytes —
  * no hex-string materialization, no base-16 re-parse. This sits in the
  * innermost loop of MinHash (k hashes × every shingle of every document),
  * SimHash, and fingerprinting, so at 100 TB the saved allocations are a
  * real constant-factor win; `doGenCode` keeps it inside whole-stage
  * codegen as a static call.
  *
  * This is the SURVEY §7.3 "custom Expression only where it genuinely
  * pays" case — everything else in the engine stays on built-ins.
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix64 requires STRING or BINARY input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix64"

  private def isBinary = child.dataType == BinaryType

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64.hash(
      if (isBinary) input.asInstanceOf[Array[Byte]]
      else input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isBinary)
      defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64.hash($c)")
    else
      defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  /** One digest instance per task thread (r13): `MessageDigest.getInstance`
    * allocates a fresh digest + provider lookup PER CALL, and this sits in
    * the innermost loop of MinHash (k hashes × every shingle of every
    * document). `digest()` resets the instance after each use, so reuse is
    * safe; MessageDigest is not thread-safe, hence thread-local rather
    * than a shared instance. Output is bit-identical (same MD5). */
  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of the MD5 digest == value of the first 15 hex chars. */
  def hash(bytes: Array[Byte]): Long = {
    val d = localMd5.get().digest(bytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }
}

/** Runtime registration (idempotent) so `call_function("md5_prefix64", …)`
  * resolves on any session; `GraftExtensions` is the config-time variant
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). */
object GraftFunctions {
  val md5Prefix64Info = new ExpressionInfo(
    classOf[Md5Prefix64].getName, "md5_prefix64")

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier("md5_prefix64")
    if (!registry.functionExists(ident)) {
      registry.registerFunction(ident, md5Prefix64Info,
        (children: Seq[Expression]) => Md5Prefix64(children.head))
    }
    val dotIdent = FunctionIdentifier("vec_dot")
    if (!registry.functionExists(dotIdent)) {
      registry.registerFunction(dotIdent, VecDot.info,
        (children: Seq[Expression]) => VecDot(children(0), children(1)))
    }
    val r6Ident = FunctionIdentifier("round6")
    if (!registry.functionExists(r6Ident)) {
      registry.registerFunction(r6Ident,
        new ExpressionInfo(classOf[Round6].getName, "round6"),
        (children: Seq[Expression]) => Round6(children.head))
    }
    val bdIdent = FunctionIdentifier("bounded_distinct")
    if (!registry.functionExists(bdIdent)) {
      registry.registerFunction(bdIdent, BoundedDistinct.info,
        (children: Seq[Expression]) =>
          BoundedDistinct(children(0), children(1)).toAggregateExpression())
    }
    val bsIdent = FunctionIdentifier("bytes_sum")
    if (!registry.functionExists(bsIdent)) {
      registry.registerFunction(bsIdent, BytesSum.info,
        (children: Seq[Expression]) => BytesSum(children.head))
    }
    val bmIdent = FunctionIdentifier("bloom_might_contain")
    if (!registry.functionExists(bmIdent)) {
      registry.registerFunction(bmIdent, BloomMightContain.info,
        (children: Seq[Expression]) => BloomMightContain(children(0), children(1)))
    }
    val nfcIdent = FunctionIdentifier("nfc_normalize")
    if (!registry.functionExists(nfcIdent)) {
      registry.registerFunction(nfcIdent, NfcNormalize.info,
        (children: Seq[Expression]) => NfcNormalize(children.head))
    }
    val kmIdent = FunctionIdentifier("kmin_values")
    if (!registry.functionExists(kmIdent)) {
      registry.registerFunction(kmIdent, KMinValues.info,
        (children: Seq[Expression]) =>
          KMinValues(children(0), children(1)).toAggregateExpression())
    }
    val jwIdent = FunctionIdentifier("jaro_winkler")
    if (!registry.functionExists(jwIdent)) {
      registry.registerFunction(jwIdent, JaroWinkler.info,
        (children: Seq[Expression]) => JaroWinkler(children(0), children(1)))
    }
    // the int8 pair-verify pair (r9): packed-byte vectors through the
    // SemDeDup shuffle, exact integer dot on the other side
    val ipIdent = FunctionIdentifier("i8_pack")
    if (!registry.functionExists(ipIdent)) {
      registry.registerFunction(ipIdent, I8Pack.info,
        (children: Seq[Expression]) => I8Pack(children.head))
    }
    val di8Ident = FunctionIdentifier("vec_dot_i8")
    if (!registry.functionExists(di8Ident)) {
      registry.registerFunction(di8Ident, VecDotI8.info,
        (children: Seq[Expression]) => VecDotI8(children(0), children(1)))
    }
    val iplIdent = FunctionIdentifier("i8_pack_l")
    if (!registry.functionExists(iplIdent)) {
      registry.registerFunction(iplIdent, I8PackL.info,
        (children: Seq[Expression]) => I8PackL(children.head))
    }
    val di8lIdent = FunctionIdentifier("vec_dot_i8_l")
    if (!registry.functionExists(di8lIdent)) {
      registry.registerFunction(di8lIdent, VecDotI8L.info,
        (children: Seq[Expression]) => VecDotI8L(children(0), children(1)))
    }
    // the per-row nearest-centroid scan (r12): the Lloyd assign /
    // routing-level argmax as one codegen'd expression over a collected
    // centroid array — zero corpus exchanges per assign
    val caIdent = FunctionIdentifier("cell_argmax")
    if (!registry.functionExists(caIdent)) {
      registry.registerFunction(caIdent, CellArgmax.info,
        (children: Seq[Expression]) => CellArgmax(children(0), children(1)))
    }
    val vaIdent = FunctionIdentifier("vec_avg")
    if (!registry.functionExists(vaIdent)) {
      registry.registerFunction(vaIdent, VecAvg.info,
        (children: Seq[Expression]) =>
          VecAvg(children.head).toAggregateExpression())
    }
    val tkIdent = FunctionIdentifier("topk_by")
    if (!registry.functionExists(tkIdent)) {
      registry.registerFunction(tkIdent, TopKByScore.info,
        (children: Seq[Expression]) =>
          TopKByScore(children(0), children(1), children(2))
            .toAggregateExpression())
    }
    // the Gopher repetition battery's sorted-run fold over a row's
    // token n-grams, one codegen'd call per n
    val grIdent = FunctionIdentifier("gram_runs")
    if (!registry.functionExists(grIdent)) {
      registry.registerFunction(grIdent, GramRuns.info,
        (children: Seq[Expression]) => GramRuns(children(0), children(1)))
    }
    // the k-step greedy MMR chain as one pool-bounded per-row scan (r12)
    val mmrIdent = FunctionIdentifier("mmr_select")
    if (!registry.functionExists(mmrIdent)) {
      registry.registerFunction(mmrIdent, MmrSelect.info,
        (children: Seq[Expression]) =>
          MmrSelect(children(0), children(1), children(2)))
    }
    // the pure-JVM media codecs (r7): real WAV/BMP containers in, true
    // PCM samples / luma pixels out — all inside whole-stage codegen
    val weIdent = FunctionIdentifier("wav_encode")
    if (!registry.functionExists(weIdent)) {
      registry.registerFunction(weIdent, WavEncode.info,
        (children: Seq[Expression]) => WavEncode(children.head))
    }
    val wsIdent = FunctionIdentifier("wav_pcm_samples")
    if (!registry.functionExists(wsIdent)) {
      registry.registerFunction(wsIdent, WavPcmSamples.info,
        (children: Seq[Expression]) => WavPcmSamples(children.head))
    }
    val beIdent = FunctionIdentifier("bmp_encode")
    if (!registry.functionExists(beIdent)) {
      registry.registerFunction(beIdent, BmpEncode.info,
        (children: Seq[Expression]) => BmpEncode(children(0), children(1)))
    }
    val blIdent = FunctionIdentifier("bmp_luma")
    if (!registry.functionExists(blIdent)) {
      registry.registerFunction(blIdent, BmpLuma.info,
        (children: Seq[Expression]) => BmpLuma(children.head))
    }
    val peIdent = FunctionIdentifier("png_encode")
    if (!registry.functionExists(peIdent)) {
      registry.registerFunction(peIdent, PngEncode.info,
        (children: Seq[Expression]) => PngEncode(children(0), children(1)))
    }
    val plIdent = FunctionIdentifier("png_luma")
    if (!registry.functionExists(plIdent)) {
      registry.registerFunction(plIdent, PngLuma.info,
        (children: Seq[Expression]) => PngLuma(children.head))
    }
    val aeIdent = FunctionIdentifier("avi_encode")
    if (!registry.functionExists(aeIdent)) {
      registry.registerFunction(aeIdent, AviEncode.info,
        (children: Seq[Expression]) => AviEncode(children(0), children(1)))
    }
    val afIdent = FunctionIdentifier("avi_frame_lumas")
    if (!registry.functionExists(afIdent)) {
      registry.registerFunction(afIdent, AviFrameLumas.info,
        (children: Seq[Expression]) => AviFrameLumas(children.head))
    }
    // the fixed-grid histogram quantile (r8): cells as bounded aggregation
    // state, the same grid and interpolation as td_quantile_sketch's plan
    val hqIdent = FunctionIdentifier("hist_quantile")
    if (!registry.functionExists(hqIdent)) {
      registry.registerFunction(hqIdent, HistQuantile.info,
        (children: Seq[Expression]) =>
          HistQuantile(children(0), children(1), children(2))
            .toAggregateExpression())
    }
    // one call wires the whole custom surface: expressions above, the
    // range-join planner strategy here (idempotent)
    graft.plans.NativeRangeJoin.ensureRegistered(spark)
  }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("md5_prefix64"),
      GraftFunctions.md5Prefix64Info,
      (children: Seq[Expression]) => Md5Prefix64(children.head)))
    ext.injectFunction((FunctionIdentifier("vec_dot"), VecDot.info,
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("bounded_distinct"), BoundedDistinct.info,
      (children: Seq[Expression]) =>
        BoundedDistinct(children(0), children(1)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("bytes_sum"), BytesSum.info,
      (children: Seq[Expression]) => BytesSum(children.head)))
    ext.injectFunction((FunctionIdentifier("bloom_might_contain"), BloomMightContain.info,
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"), NfcNormalize.info,
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((FunctionIdentifier("kmin_values"), KMinValues.info,
      (children: Seq[Expression]) =>
        KMinValues(children(0), children(1)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"), JaroWinkler.info,
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("i8_pack"), I8Pack.info,
      (children: Seq[Expression]) => I8Pack(children.head)))
    ext.injectFunction((FunctionIdentifier("vec_dot_i8"), VecDotI8.info,
      (children: Seq[Expression]) => VecDotI8(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("i8_pack_l"), I8PackL.info,
      (children: Seq[Expression]) => I8PackL(children.head)))
    ext.injectFunction((FunctionIdentifier("vec_dot_i8_l"), VecDotI8L.info,
      (children: Seq[Expression]) => VecDotI8L(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("cell_argmax"), CellArgmax.info,
      (children: Seq[Expression]) => CellArgmax(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("vec_avg"), VecAvg.info,
      (children: Seq[Expression]) =>
        VecAvg(children.head).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("topk_by"), TopKByScore.info,
      (children: Seq[Expression]) =>
        TopKByScore(children(0), children(1), children(2))
          .toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("gram_runs"), GramRuns.info,
      (children: Seq[Expression]) => GramRuns(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("mmr_select"), MmrSelect.info,
      (children: Seq[Expression]) =>
        MmrSelect(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("wav_encode"), WavEncode.info,
      (children: Seq[Expression]) => WavEncode(children.head)))
    ext.injectFunction((FunctionIdentifier("wav_pcm_samples"), WavPcmSamples.info,
      (children: Seq[Expression]) => WavPcmSamples(children.head)))
    ext.injectFunction((FunctionIdentifier("bmp_encode"), BmpEncode.info,
      (children: Seq[Expression]) => BmpEncode(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("bmp_luma"), BmpLuma.info,
      (children: Seq[Expression]) => BmpLuma(children.head)))
    ext.injectFunction((FunctionIdentifier("png_encode"), PngEncode.info,
      (children: Seq[Expression]) => PngEncode(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("png_luma"), PngLuma.info,
      (children: Seq[Expression]) => PngLuma(children.head)))
    ext.injectFunction((FunctionIdentifier("avi_encode"), AviEncode.info,
      (children: Seq[Expression]) => AviEncode(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("avi_frame_lumas"), AviFrameLumas.info,
      (children: Seq[Expression]) => AviFrameLumas(children.head)))
    ext.injectFunction((FunctionIdentifier("hist_quantile"), HistQuantile.info,
      (children: Seq[Expression]) =>
        HistQuantile(children(0), children(1), children(2))
          .toAggregateExpression()))
    ext.injectOptimizerRule(_ => RewriteMd5Prefix)
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
  }
}
