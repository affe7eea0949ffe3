package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusProbe
import org.apache.spark.scheduler._

/** Listener counters of one span: the jobs Spark ran under the span's job
  * group, summed over their tasks. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var outputRows = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)] // listener clock, ms

  /** Milliseconds covered by at least one running job. */
  def jobMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** One closed span of a traced op. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long, c: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
  /** Span time during which no job of the span was running. */
  def driverS: Double = math.max(0.0, wallS - c.jobMs / 1e3)
}

/** Measures from outside the program: a SparkListener that (always)
  * tracks bytes held by RDD blocks in the block manager, and (when
  * tracing) attributes every job, task and task metric to the span whose
  * job group was set when the job started. */
final class Tracer(sc: SparkContext, val traced: Boolean) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val Prefix = "perfbench-span-"
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  // rdd id -> block name -> bytes (memory + disk)
  private val rddBlocks = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  private var stored = 0L
  private var peak = 0L

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  sc.addSparkListener(this)

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (traced && g != null && g.startsWith(Prefix)) {
      jobStart.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = counters(g)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) { val c = counters(s._1); c.synchronized(c.jobSpans += ((s._2, e.time))) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = if (traced) stageGroup.get(e.stageId) else null
    if (g != null) {
      val c = counters(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRows += m.inputMetrics.recordsRead
          c.outputRows += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val blocks = rddBlocks.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = blocks.remove(id.name).getOrElse(0L)
      if (size > 0) blocks(id.name) = size
      stored += size - prev
      peak = math.max(peak, stored)
    }
  }

  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rddBlocks.remove(e.rddId).foreach(blocks => stored -= blocks.values.sum)
  }

  /** Restarts the peak at the bytes stored now; `storedPeak` then reports
    * the highest total seen since. */
  def resetPeak(): Unit = { BusProbe.drain(sc); synchronized { peak = stored } }
  def storedPeak: Long = { BusProbe.drain(sc); synchronized(peak) }

  /** Runs `body` as one span. Jobs it starts (on this thread, or on the
    * threads Spark SQL hands its properties to) count toward the span. */
  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val group = s"$Prefix$id"
    val outer = sc.getLocalProperty(GroupKey)
    if (traced) sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      if (traced) {
        if (outer != null) sc.setJobGroup(outer, "", interruptOnCancel = false) else sc.clearJobGroup()
      }
      spans += Span(id, name, op, parent, t0, t1, counters(group))
    }
  }

  /** Waits until every event of the closed spans has been counted. */
  def settle(): Unit = BusProbe.drain(sc)

  def stop(): Unit = sc.removeSparkListener(this)
}
