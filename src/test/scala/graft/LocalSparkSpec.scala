package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every session in the repo comes from one recipe, [[LocalSpark]]. */
class LocalSparkSpec extends AnyFunSuite {

  test("the test session carries the LocalSpark recipe") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.catalog.functionExists("md5_prefix64"))
  }

  test("no file under src/ except LocalSpark builds a session") {
    // split so this file does not match its own search
    val needle = Seq("SparkSession", "builder").mkString(".")
    val builders = Using.resource(Files.walk(Paths.get("src"))) { paths =>
      paths.iterator.asScala.filter(Files.isRegularFile(_))
        .filter(p => new String(Files.readAllBytes(p),
          StandardCharsets.ISO_8859_1).contains(needle))
        .map(_.getFileName.toString).toList
    }
    assert(builders == List("LocalSpark.scala"))
  }
}
