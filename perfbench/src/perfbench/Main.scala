package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Entry point of the benchmark's JVM side; `perfbench/run.py` drives it.
  *
  *   run    --workload loop|sweep --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --queries FILE --expected FILE --out DIR
  *   record --data DIR --work DIR --out DIR [query ...]
  *   train  --data DIR --work DIR --queries FILE
  *
  * `run` writes `ops.jsonl` (one record per op, spans and counters
  * included) and `summary.json` to --out; `run.py` turns them into
  * metrics. `record` evaluates queries once and writes their result
  * fingerprints and outputs for the one-off oracle verification
  * (`perfbench/oracle.py`). `train` runs a short version of both
  * workloads so that `run.py` can archive the classes they load (JVM
  * class-data sharing): a fresh JVM's first set-up then spends less time
  * loading classes. */
object Main {
  private def flags(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val (kv, rest) = args.foldLeft((Map.empty[String, String], Vector.empty[String], Option.empty[String])) {
      case ((m, r, Some(k)), a) => (m + (k -> a), r, None)
      case ((m, r, None), a) if a.startsWith("--") => (m, r, Some(a.drop(2)))
      case ((m, r, None), a) => (m, r :+ a, None)
    } match { case (m, r, _) => (m, r) }
    (kv, rest)
  }

  private def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  /** A query list file: one name per line, `#` starts a comment line. */
  private def queryList(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).toArray.toSeq.map(_.toString.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val (f, rest) = flags(args.toSeq)
    args.headOption match {
      case Some("run") => run(f)
      case Some("record") => record(f, rest.drop(1))
      case Some("train") => train(f)
      case _ => sys.error("usage: Main run|record|train --flag value ...")
    }
  }

  /** Bench's CPU calibration: a fixed in-memory fold, nothing elided. */
  private def cpuControl(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000000L, 1L, 32)
      .select(sum(pmod(col("id") * col("id"), lit(1000000007L))).as("s"))
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  private def run(f: Map[String, String]): Unit = {
    val workload = f("workload")
    val seed = f("seed").toLong
    val seconds = f("seconds").toDouble
    val traced = f("trace") == "1"
    val data = f("data")
    val work = Paths.get(f("work"))
    val out = Paths.get(f("out"))
    val names = if (workload == "loop") Nil else queryList(f("queries"))
    val expected = f.get("expected").map(p => Json.readStringMap(Files.readString(Paths.get(p))))
      .getOrElse(Map.empty)
    names.filterNot(Sweep.builders.contains).foreach(n => sys.error(s"unknown query $n"))

    // Set-up, repeated: session start, input generation, table open and
    // (sweep) warm-up. The last one's session and state are measured. The
    // loop's warm-up is its first transform, a cycle's worth of work, so
    // it runs once, after the last set-up, and is reported on its own.
    var spark: SparkSession = null
    var loop: Loop.State = null
    val inputs = Loop.generate(seed, Loop.SolsPerRover, Loop.LandedPerRover)
    val setupTimes = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(cores, work.toString)
      if (workload == "loop") {
        val root = work.resolve("loop")
        deleteTree(root)
        loop = Loop.setup(spark, root, inputs)
      } else Sweep.setup(spark, data)
      (System.nanoTime() - t0) / 1e9
    }

    val warmUp =
      if (workload != "loop") 0.0
      else { val t0 = System.nanoTime(); loop.warmUp(); (System.nanoTime() - t0) / 1e9 }

    val tracer = new Tracer(spark.sparkContext, traced)
    val m0 = System.nanoTime()
    val ops =
      if (workload == "loop") Loop.run(loop, tracer, seconds, Loop.MaxCycles, Loop.TasksPerCycle)
      else Sweep.run(spark, tracer, data, names, seed, seconds, expected)
    val measured = (System.nanoTime() - m0) / 1e9
    tracer.settle()
    val cpu = if (traced) Some(cpuControl(spark)) else None
    val warehouseBytes =
      if (workload == "loop") Loop.bytesUnder(loop.warehouseRoot) + Loop.bytesUnder(loop.store) else 0L

    write(out.resolve("ops.jsonl"), ops.map(_.json).mkString("", "\n", "\n"))
    write(out.resolve("summary.json"), Json.value(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "setup_s" -> setupTimes, "warmup_s" -> warmUp, "measured_s" -> measured,
      "warehouse_mb" -> warehouseBytes / 1e6, "cpu_control_s" -> cpu,
      "queries" -> names.size,
      "loop" -> (if (workload == "loop") Map(
        "sols_per_rover" -> Loop.SolsPerRover, "landed_per_rover" -> Loop.LandedPerRover,
        "tasks_per_cycle" -> Loop.TasksPerCycle,
        "manifest_sols" -> inputs.manifestSols, "landed_photos" -> inputs.landedPhotos)
        else Map.empty[String, Int]))))
    tracer.stop()
    spark.stop()
  }

  private def train(f: Map[String, String]): Unit = {
    val data = f("data")
    val work = Paths.get(f("work"))
    val spark = Session.start(cores, work.toString)
    Sweep.setup(spark, data)
    queryList(f("queries"))
      .foreach(q => try Digest.of(Sweep.builders(q)(spark, data)) catch { case _: Exception => () })
    val root = work.resolve("loop")
    deleteTree(root)
    val loop = Loop.setup(spark, root, Loop.generate(0L, 40, 5))
    loop.warmUp()
    Loop.run(loop, new Tracer(spark.sparkContext, traced = true), 0.0, 1, 5)
    spark.stop()
  }

  private def record(f: Map[String, String], only: Seq[String]): Unit = {
    val data = f("data")
    val out = Paths.get(f("out"))
    val spark = Session.start(cores, f("work"))
    val names = if (only.nonEmpty) only else Sweep.builders.keys.toSeq.sorted
    write(out.resolve("oracle_sql.json"), Json.value(graft.SparkEntry.oracleSql))
    val lines = names.map { n =>
      Session.dropStorage(spark)
      val t0 = System.nanoTime()
      val row = try {
        val df = Sweep.builders(n)(spark, data)
        val d = Digest.of(df)
        val secs = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").parquet(out.resolve("results").resolve(n).toString)
        Map("name" -> n, "family" -> Sweep.family(n), "digest" -> d, "seconds" -> secs)
      } catch { case t: Throwable => Map("name" -> n, "family" -> Sweep.family(n), "error" -> t.toString) }
      val line = Json.value(row)
      println(line)
      line
    }
    write(out.resolve("record.jsonl"), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
