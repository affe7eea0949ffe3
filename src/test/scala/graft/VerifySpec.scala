package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dump reports each query that throws and still writes the rest") {
    val out = Files.createTempDirectory("graft_verify").toString
    // the mars queries read the bundled bronze fixtures, not the sf dir
    val failed = Verify.dump(spark, "/nonexistent/sf", out,
      Set("q1_agg", "mars_dim_rovers"))
    assert(failed == Seq("q1_agg"))
    assert(spark.read.parquet(s"$out/mars_dim_rovers").count() > 0)
  }
}
