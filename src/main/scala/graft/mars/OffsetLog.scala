package graft.mars

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.matching.Regex

/** A stage's offset write-ahead log, in Structured Streaming's layout
  * (SIGMOD 2018): `offsets/<n>` is written before batch n runs and holds
  * every input consumed through batch n; `commits/<n>` is written once all
  * of batch n's outputs are in place and records what the batch did. An
  * offsets entry without its commit entry is a batch that must run again.
  *
  * An entry is lines of tab-separated fields. Each is written to a hidden
  * temporary name and renamed into place, so a reader never sees half an
  * entry; only the last two entries of each kind are kept. Plain file
  * operations on the driver: reading or writing the log runs no Spark job.
  */
final case class OffsetLog(spark: SparkSession, dir: String) {
  import OffsetLog._

  private val fs = LocalFs.get(dir, spark.sparkContext.hadoopConfiguration)

  /** The ids of the retained entries of `kind`, ascending. */
  def ids(kind: String): Seq[Long] = {
    val p = new Path(dir, kind)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
  }

  def read(kind: String, n: Long): Seq[Seq[String]] = {
    val in = fs.open(new Path(new Path(dir, kind), n.toString))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t').toSeq).toList
    finally in.close()
  }

  /** The batch to run next: its id, the inputs consumed through the last
    * committed batch, and, when that batch's commit entry is missing, the
    * inputs its offsets entry recorded. One entry is read unless a batch
    * is pending. */
  def resume(): Resume = {
    def inputs(n: Long) = read(Offsets, n).map(l => l.head -> l(1)).toSet
    val offsets = ids(Offsets)
    offsets.lastOption match {
      case None => Resume(0L, Set.empty, None)
      case Some(last) if ids(Commits).lastOption.contains(last) =>
        Resume(last + 1, inputs(last), None)
      case Some(last) =>
        val consumed = if (offsets.contains(last - 1)) inputs(last - 1) else Set.empty[(String, String)]
        Resume(last, consumed, Some(inputs(last)))
    }
  }

  /** Writes entry `n` of `kind`, replacing one already there, and drops
    * the entries older than `n - 1`. */
  def write(kind: String, n: Long, lines: Iterable[Seq[String]]): Unit = {
    val d = new Path(dir, kind)
    val tmp = new Path(d, s".$n.tmp")
    val out = fs.create(tmp, true)
    try lines.foreach { l =>
      require(l.forall(f => !f.contains('\t') && !f.contains('\n')), s"field with a tab or newline: $l")
      out.write((l.mkString("\t") + "\n").getBytes("UTF-8"))
    } finally out.close()
    val dest = new Path(d, n.toString)
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"rename $tmp -> $dest failed")
    ids(kind).filter(_ < n - 1).foreach(i => fs.delete(new Path(d, i.toString), false))
  }
}

object OffsetLog {
  val Offsets = "offsets"
  val Commits = "commits"

  /** A field that may be null: `\N` stands for null, and a value's
    * backslash, tab and line breaks are escaped, so any value fits on
    * one line. [[value]] reads it back. */
  def field(v: Option[Any]): String =
    v.fold("\\N")(_.toString.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    })

  def value(f: String): Option[String] =
    Option.when(f != "\\N")("""\\(.)""".r.replaceAllIn(f, m => Regex.quoteReplacement(
      m.group(1) match { case "t" => "\t"; case "n" => "\n"; case "r" => "\r"; case c => c })))

  /** `consumed` and `planned` hold (source table, input name) pairs. */
  final case class Resume(batch: Long, consumed: Set[(String, String)],
                          planned: Option[Set[(String, String)]])
}
