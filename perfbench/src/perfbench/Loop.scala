package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.mars.{GapScheduler, RoverKeys, Warehouse}
import graft.streaming.Orchestrator

/** The medallion loop as a closed-loop backfill through the batch
  * orchestration path. One cycle is
  * `ingestStage` (the scheduled gap tasks through IngestSim and Assemble
  * into the object store) → `loadStage` (bronze) → `transformStage`
  * (silver, gold, gap view, next schedule), so each cycle ends with the
  * transform that puts its own envelope in gold.
  *
  * The clock is the production one: second-grained ISO strings of the
  * wall clock. Silver's watermark is a strict string `>` on that clock,
  * so two batches stamped in the same second would lose the second one;
  * the per-cycle silver check below then fails the cycle, which is the
  * point — the benchmark shows that defect rather than hiding it.
  */
object Loop {

  /** Inputs: sols per rover in the seeded manifest, and sols already
    * landed before the run. The gap queue (3,800 rows) outlasts any run. */
  val SolsPerRover = 1000
  val LandedPerRover = 50
  /** Gap tasks ingested per cycle: the head of the scheduler's 200-task
    * batch. A whole batch took about a minute on a 4-core machine, longer
    * than a whole run may take. */
  val TasksPerCycle = 25
  /** The cycle budget: a run ends drained, after its seconds, or here. */
  val MaxCycles = 200

  /** Per-rover camera lists and landing dates of the simulated photo API,
    * so each manifest sol declares exactly what one ingest task lands. */
  val rovers: Seq[(String, String, String, Seq[String])] = Seq(
    ("Curiosity", "2012-08-05", "2011-11-26", Seq("FHAZ", "MAST")),
    ("Opportunity", "2004-01-25", "2003-07-07", Seq("PANCAM")),
    ("Perseverance", "2021-02-18", "2020-07-30", Seq("NAVCAM_LEFT", "MCZ_RIGHT")),
    ("Spirit", "2004-01-04", "2003-06-10", Seq("PANCAM")))
  private val roverIds = Map("Perseverance" -> 8, "Curiosity" -> 5, "Opportunity" -> 6, "Spirit" -> 7)
  private val cameraIds = Map("FHAZ" -> 201, "MAST" -> 202, "PANCAM" -> 301,
    "NAVCAM_LEFT" -> 101, "MCZ_RIGHT" -> 102)

  val clockFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  def clock(): String = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).format(clockFormat)

  /** The seeded inputs: every rover's manifest sols, the sols already
    * landed before the run, and a traverse segment per landed sol. */
  final case class Inputs(sols: Map[String, Seq[Int]], landed: Map[String, Seq[Int]]) {
    def manifestSols: Int = sols.values.map(_.size).sum
    def landedPhotos: Int = rovers.map { case (r, _, _, cams) => landed(r).size * cams.size }.sum
  }

  def generate(seed: Long, solsPerRover: Int, landedPerRover: Int): Inputs = {
    val rng = new scala.util.Random(seed)
    val sols = rovers.map { case (r, _, _, _) =>
      r -> rng.shuffle((1 to solsPerRover * 3).toVector).take(solsPerRover).sorted
    }.toMap
    val landed = sols.map { case (r, s) => r -> rng.shuffle(s).take(landedPerRover).sorted }
    Inputs(sols, landed)
  }

  private def earthDate(landing: String, sol: Int): String =
    java.time.LocalDate.parse(landing).plusDays(math.floor(sol * 1.0275).toLong).toString

  private def manifestDoc(in: Inputs, ts: String): String = {
    val ms = rovers.map { case (r, landing, launch, cams) =>
      val photos = in.sols(r).map { s =>
        s"""{"sol": $s, "earth_date": "${earthDate(landing, s)}", "total_photos": ${cams.size}, """ +
          s""""cameras": ${cams.map(c => s""""$c"""").mkString("[", ", ", "]")}}"""
      }
      val maxSol = in.sols(r).max
      s"""{"name": "$r", "landing_date": "$landing", "launch_date": "$launch", "status": "active", """ +
        s""""max_sol": $maxSol, "max_date": "${earthDate(landing, maxSol)}", """ +
        s""""total_photos": ${in.sols(r).size * cams.size}, "photos": ${photos.mkString("[", ", ", "]")}}"""
    }
    s"""{"filename": "mars_rover_manifests_${ts.replace(":", "")}.json", "manifests": """ +
      s"""${ms.mkString("[", ", ", "]")}, "ingestion_date": "$ts"}"""
  }

  private def photosDoc(in: Inputs, ts: String): String = {
    val photos = rovers.flatMap { case (r, landing, launch, cams) =>
      val rid = roverIds(r)
      in.landed(r).flatMap { s =>
        cams.zipWithIndex.map { case (c, i) =>
          s"""{"id": ${rid * 1000000 + s * 10 + i}, "sol": $s, "camera": {"id": ${cameraIds(c)}, """ +
            s""""name": "$c", "rover_id": $rid, "full_name": "$c"}, "img_src": """ +
            s""""https://mars.nasa.gov/$r/$c/${c}_$s.JPG", "earth_date": "${earthDate(landing, s)}", """ +
            s""""rover": {"id": $rid, "name": "$r", "landing_date": "$landing", "launch_date": "$launch", """ +
            s""""status": "active"}}"""
        }
      }
    }
    val all = in.landed.values.flatten
    s"""{"filename": "mars_rover_photos_batch_sol_${all.min}_to_${all.max}_${ts.replace(":", "")}.json", """ +
      s""""sol_start": ${all.min}, "sol_end": ${all.max}, "photo_count": ${photos.size}, """ +
      s""""photos": ${photos.mkString("[", ", ", "]")}, "ingestion_date": "$ts"}"""
  }

  private def coordinatesDoc(in: Inputs, ts: String): String = {
    val features = rovers.flatMap { case (r, _, _, _) =>
      in.sols(r).map { s =>
        val x = s * 0.001
        s"""{"type": "Feature", "rover_name": "$r", "geometry": {"type": "LineString", """ +
          s""""coordinates": [[$x, $x, -2350.0], [${x + 0.0005}, ${x + 0.0005}, -2349.9]]}, """ +
          s""""properties": {"sol": $s, "fromRMC": "${s}_0", "toRMC": "${s}_1", "length": ${(s % 97) + 0.5}, """ +
          s""""SCLK_START": ${600000000L + s * 86400L}, "SCLK_END": ${600000000L + s * 86400L + 3600}}}"""
      }
    }
    s"""{"filename": "mars_rover_coordinates_${ts.replace(":", "")}.json", "coordinate_count": ${features.size}, """ +
      s""""coordinates": ${features.mkString("[", ", ", "]")}, "ingestion_date": "$ts"}"""
  }

  /** Writes one document under its routed prefix, the way the program's
    * object-store sink does; returns the object key. */
  private def upload(store: Path, doc: String): String = {
    val fn = "\"filename\": \"([^\"]+)\"".r.findFirstMatchIn(doc).get.group(1)
    val dir = store.resolve(RoverKeys.route(fn))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(fn), doc + "\n")
    s"${RoverKeys.route(fn)}/$fn"
  }

  /** A fresh warehouse over the seeded inputs. */
  final class State(val spark: SparkSession, root: Path, val inputs: Inputs) {
    val store: Path = root.resolve("store")
    val warehouseRoot: Path = root.resolve("warehouse")
    val warehouse = Warehouse(spark, warehouseRoot.toString)
    val orch = Orchestrator(spark, root.resolve("topics").toString, store.toString, warehouse, () => clock())
    var schedule: GapScheduler.IngestionSchedule = _
    var gapRows = 0L
    var photosUploaded = 0L

    /** Uploads the seeded documents and loads them into bronze. */
    def load(): Unit = {
      val ts = clock()
      val keys = Seq(manifestDoc(inputs, ts), photosDoc(inputs, ts), coordinatesDoc(inputs, ts))
        .map(upload(store, _))
      orch.loadStage(keys)
      photosUploaded = inputs.landedPhotos
    }

    /** The first transform: builds silver and gold from the seeded bronze
      * and yields the first schedule. */
    def warmUp(): Unit = {
      schedule = orch.transformStage()
      gapRows = warehouse.validationPhotoGaps.count()
    }
  }

  def setup(spark: SparkSession, root: Path, inputs: Inputs): State = {
    Files.createDirectories(root)
    val st = new State(spark, root, inputs)
    st.load()
    st
  }

  private val photoCount = "\"photo_count\":(\\d+)".r

  /** Runs cycles until `seconds` have passed, the gap queue drains,
    * `maxCycles` ran or a cycle failed (later cycles would only repeat its
    * failure); returns one op per cycle. Each cycle ingests the
    * first `tasksPerCycle` tasks of the scheduler's batch (the whole batch
    * when that is smaller), with their own dense sol range. */
  def run(st: State, tracer: Tracer, seconds: Double, maxCycles: Int, tasksPerCycle: Int): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds && st.schedule.tasks.nonEmpty &&
           ops.size < maxCycles && ops.forall(_.ok)) {
      val id = ops.size
      val batch = st.schedule.tasks.size
      val tasks = st.schedule.tasks.take(tasksPerCycle)
      val solRange = tasks.map(_.sol).min to tasks.map(_.sol).max
      var key: Option[String] = None
      var uploadedNs = 0L
      System.gc() // start every cycle from a collected heap, as graft.Bench does per query
      tracer.resetPeak()
      val c0 = System.nanoTime()
      val error = try {
        tracer.span("cycle", id) { root =>
          key = tracer.span("ingest_stage", id, root)(_ => st.orch.ingestStage(tasks, solRange))
          uploadedNs = System.nanoTime()
          tracer.span("load_stage", id, root)(_ => st.orch.loadStage(key.toSeq))
          st.schedule = tracer.span("transform_stage", id, root)(_ => st.orch.transformStage())
        }
        null
      } catch { case t: Throwable => t.toString }
      val c1 = System.nanoTime()
      val peak = tracer.storedPeak
      // checks, outside the timed cycle
      val landed = key.map(k => Files.readString(st.store.resolve(k)))
        .flatMap(doc => photoCount.findFirstMatchIn(doc)).map(_.group(1).toLong).getOrElse(0L)
      val expectLanded = tasks.map(t => rovers.find(_._1 == t.rover_name).map(_._4.size).getOrElse(0)).sum
      st.photosUploaded += landed
      val gapsBefore = st.gapRows
      val problems = ArrayBuffer.empty[String]
      if (error != null) problems += error
      else {
        st.gapRows = st.warehouse.validationPhotoGaps.count()
        val silver = st.warehouse.flatPhotos.count()
        if (landed != expectLanded) problems += s"envelope holds $landed photos, tasks declare $expectLanded"
        if (st.gapRows != gapsBefore - tasks.size)
          problems += s"gap rows $gapsBefore -> ${st.gapRows} after ${tasks.size} tasks"
        if (silver != st.photosUploaded) problems += s"silver holds $silver photos, ${st.photosUploaded} uploaded"
      }
      Session.dropStorage(st.spark)
      ops += Op(id, "cycle", s"cycle_$id", "loop", (c1 - c0) / 1e9, problems.isEmpty,
        if (problems.isEmpty) null else problems.mkString("; "),
        Map("gap_rows" -> gapsBefore.toDouble, "batch_size" -> batch.toDouble,
          "tasks_scheduled" -> tasks.size.toDouble,
          "photos_landed" -> landed.toDouble,
          "freshness_s" -> (if (error == null) (c1 - uploadedNs) / 1e9 else Double.NaN)),
        tracer.spans.filter(_.op == id).toSeq, peak)
    }
    ops.toSeq
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}
