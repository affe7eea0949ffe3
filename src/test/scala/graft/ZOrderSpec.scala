package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ZOrder

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("morton key interleaves bits (hand-computed case)") {
    import spark.implicits._
    // a=3 (011), b=5 (101): a bits land at odd positions, b at even →
    // 0b11011 = 27
    val r = Seq((3, 5)).toDF("a", "b")
      .select(ZOrder.zorderKey(col("a"), col("b"), bits = 3)).first()
    assert(r.getLong(0) == 27L)
    // bit 15 of a lands on bit 31: the sum must not wrap an int
    val full = Seq((0xffff, 0xffff)).toDF("a", "b")
      .select(ZOrder.zorderKey(col("a"), col("b"), bits = 16)).first()
    assert(full.getLong(0) == 0xffffffffL)
    // 31 bits per input against a plain bit-interleave
    def morton(a: Int, b: Int, bits: Int): Long = (0 until bits).foldLeft(0L) {
      (z, i) => z | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
    }
    val (a31, b31) = (0x6b2f1c95, 0x3c4d5e6f)
    val wide = Seq((a31, b31)).toDF("a", "b")
      .select(ZOrder.zorderKey(col("a"), col("b"), bits = 31)).first()
    assert(wide.getLong(0) == morton(a31, b31, 31))
  }
}
