package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-query job/stage profiler (optimization-round instrument, guide §1).
  *
  * Runs the named registered queries in graft.Bench's [[LocalSpark]]
  * session, once untimed (codegen warm-up, the bench's own protocol), then
  * once timed with a listener attached, and prints every Spark job the
  * timed execution submitted: wall duration, summed task time, and the
  * per-stage input / shuffle-read / shuffle-write bytes.
  *
  * This answers the question the bench's single number cannot: WHICH of a
  * composite operator's jobs (kmeans iterations, localCheckpoint
  * materializations, audit counts) carries the seconds, and whether the
  * time is compute (task time >> fetch) or exchange volume.
  *
  * When the timed action ends, before storage is dropped, it also prints
  * every RDD the BlockManager still holds — id, storage level, cached
  * partitions, memory and disk MB: how much unified-pool storage the
  * query's persists/checkpoints occupy while its own tasks still run,
  * i.e. the execution-memory squeeze at high core counts.
  *
  * Usage: runMain graft.ProfileQuery <queryName> [more ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object ProfileQuery {
  final case class StageRec(name: String, tasks: Int, runMs: Long,
                            inputB: Long, srB: Long, swB: Long,
                            gcMs: Long = 0, cpuMs: Long = 0)
  final case class JobRec(id: Int, desc: String, wallMs: Long,
                          stages: mutable.Buffer[StageRec])

  class Rec extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val starts = mutable.Map[Int, Long]()
    private val stageToJob = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = e.time
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, d, -1, mutable.Buffer())
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j.copy(wallMs = e.time - starts(e.jobId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .getOrElse("").trim
        val rec = StageRec(si.name.takeWhile(_ != '\n') + " @ " + graftFrame,
          si.numTasks,
          if (m == null) 0 else m.executorRunTime,
          if (m == null) 0 else m.inputMetrics.bytesRead,
          if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0 else m.jvmGCTime,
          if (m == null) 0 else m.executorCpuTime / 1000000)
        stageToJob.get(si.stageId)
          .flatMap(jobs.get).foreach(_.stages += rec)
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm (codegen), exactly like Bench.timeQuery
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      LocalSpark.dropStorage(spark)
      val rec = new Rec
      spark.sparkContext.addSparkListener(rec)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // what the query still holds when its action ends, before the drop
      val stored = spark.sparkContext.getRDDStorageInfo
      // let queued listener events drain before reading
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(rec)
      println(f"%n===== $name%s: wall $wall%.2f s, ${rec.jobs.size}%d jobs =====")
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      rec.jobs.values.foreach { j =>
        val taskMs = j.stages.map(_.runMs).sum
        println(f"job ${j.id}%3d wall ${j.wallMs / 1000.0}%6.2f s  task ${taskMs / 1000.0}%7.2f s  ${j.desc.take(60)}%s")
        j.stages.sortBy(-_.runMs).take(4).foreach { s =>
          println(f"    stage tasks=${s.tasks}%4d run ${s.runMs / 1000.0}%7.2f s cpu ${s.cpuMs / 1000.0}%6.2f s gc ${s.gcMs / 1000.0}%5.2f s  in ${mb(s.inputB)}%7s MB  sr ${mb(s.srB)}%7s MB  sw ${mb(s.swB)}%7s MB  ${s.name.take(120)}%s")
        }
      }
      println(f"%n===== $name%s: ${stored.length}%d stored RDDs, " +
        f"mem ${mb(stored.map(_.memSize).sum)}%s MB, disk ${mb(stored.map(_.diskSize).sum)}%s MB =====")
      stored.sortBy(-_.memSize).foreach { i =>
        println(f"  rdd ${i.id}%5d ${i.storageLevel.description}%-32s " +
          f"parts ${i.numCachedPartitions}%4d  mem ${i.memSize / 1048576.0}%8.2f MB" +
          f"  disk ${i.diskSize / 1048576.0}%8.2f MB  ${i.name}%s")
      }
      LocalSpark.dropStorage(spark)
    }
    spark.stop()
  }
}
