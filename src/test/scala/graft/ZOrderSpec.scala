package graft

import java.io.File
import java.nio.file.Files
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

  test("z-order layout prunes the SECOND dimension better than a plain sort") {
    import spark.implicits._
    // grid data: both dims uniform
    val df = (0 until 4096).map(i => (i % 64, i / 64)).toDF("a", "b")
    val dirZ = Files.createTempDirectory("zorder").toString + "/t"
    val dirPlain = Files.createTempDirectory("plain").toString + "/t"
    ZOrder.layoutBy(df, "a", "b", bits = 6, files = 8)
      .write.parquet(dirZ)
    df.repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.parquet(dirPlain)

    // per-file [min,max] of b; count files a point query b=17 must touch
    def filesTouching(dir: String): Int =
      new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
        val mm = spark.read.parquet(f.toString)
          .agg(min("b"), max("b")).first()
        mm.getInt(0) <= 17 && 17 <= mm.getInt(1)
      }
    val z = filesTouching(dirZ)
    val plain = filesTouching(dirPlain)
    assert(plain == 8, s"a-sorted layout spreads b everywhere (got $plain)")
    assert(z < plain, s"z-order should bound b per file: z=$z plain=$plain")
  }
}
