package graft.mars

import java.io.FileNotFoundException
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.UUID

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
  * [[TableLog]] keeps a table's versions in the same format.
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
    val in = fs.open(entryPath(kind, n))
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
    val tmp = stage(kind, s".$n.tmp", lines)
    val dest = entryPath(kind, n)
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"rename $tmp -> $dest failed")
    ids(kind).filter(_ < n - 1).foreach(delete(kind, _))
  }

  /** Writes entry `n` of `kind` only when there is none: of two writers
    * racing for `n`, exactly one wins, and this returns whether it is this
    * one. The entry is written under a name of its own and then linked to
    * `n`, which fails when `n` exists (`link(2)`; Hadoop's local
    * `rename` and `createNewFile` check, then act). Another filesystem
    * renames, which on HDFS refuses a name that exists. Keeps every entry. */
  def create(kind: String, n: Long, lines: Iterable[Seq[String]]): Boolean = {
    val tmp = stage(kind, s".$n.${UUID.randomUUID()}.tmp", lines)
    val dest = fs.makeQualified(entryPath(kind, n))
    def link(): Boolean =
      try { Files.createLink(Paths.get(dest.toUri), Paths.get(fs.makeQualified(tmp).toUri)); true }
      catch { case _: FileAlreadyExistsException => false }
    try { if (dest.toUri.getScheme == "file") link() else fs.rename(tmp, dest) }
    finally fs.delete(tmp, false)
  }

  def delete(kind: String, n: Long): Unit = fs.delete(entryPath(kind, n), false)

  /** When entry `n` of `kind` was written, in epoch milliseconds. */
  def written(kind: String, n: Long): Long = fs.getFileStatus(entryPath(kind, n)).getModificationTime

  private def entryPath(kind: String, n: Long) = new Path(new Path(dir, kind), n.toString)

  private def stage(kind: String, name: String, lines: Iterable[Seq[String]]): Path = {
    val tmp = new Path(new Path(dir, kind), name)
    val out = fs.create(tmp, true)
    try lines.foreach { l =>
      require(l.forall(f => !f.contains('\t') && !f.contains('\n')), s"field with a tab or newline: $l")
      out.write((l.mkString("\t") + "\n").getBytes("UTF-8"))
    } finally out.close()
    tmp
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

/** A warehouse table's log, `<table>/_log/<version>`: what the table is.
  * Version v is an [[OffsetLog]] entry with one `add <dir>` line per data
  * directory under the table root that makes up the table at v; a reader
  * reads the newest version's directories and never lists the root. A
  * directory is written whole before a version names it and is not
  * written again while one does, so a table is always exactly one
  * version: a write that no version names yet — in flight, or left by a
  * crash — is not part of it. Versions start at 0 and are published with
  * [[OffsetLog.create]], so two writers never publish the same one.
  */
final case class TableLog(spark: SparkSession, table: String) {
  import TableLog._

  private val log = OffsetLog(spark, table)

  def versions: Seq[Long] = log.ids(Dir)

  def dirs(v: Long): Seq[String] = log.read(Dir, v).collect { case Seq(Add, d) => d }

  /** The newest version and its directories. */
  def latest: Option[(Long, Seq[String])] = latestOf(versions)

  /** The newest of the `listed` versions and its directories. Two appends
    * that commit after the listing drop its newest version (see
    * [[commit]]), which can only mean a newer one exists: the log is
    * listed again. */
  private[graft] def latestOf(listed: Seq[Long]): Option[(Long, Seq[String])] =
    listed.lastOption.flatMap { v =>
      try Some(v -> dirs(v)) catch { case _: FileNotFoundException => latestOf(versions) }
    }

  /** Publishes the version after the newest, whose directories are `next`
    * of the newest's (of none, for a new table); one that lost the race
    * for its number is recomputed over the version that won. A version
    * that drops no directory makes the entries before its predecessor
    * redundant, and they go; the others are [[Incremental.vacuum]]'s.
    * Returns the version published. */
  @annotation.tailrec
  def commit(next: Seq[String] => Seq[String]): Long = {
    val (v, live) = latest.fold((0L, Seq.empty[String])) { case (n, ds) => (n + 1, ds) }
    val ds = next(live)
    if (!log.create(Dir, v, ds.map(Seq(Add, _)))) commit(next)
    else {
      if (live.forall(ds.contains)) versions.filter(_ < v - 1).foreach(drop)
      v
    }
  }

  def drop(v: Long): Unit = log.delete(Dir, v)

  def published(v: Long): Long = log.written(Dir, v)
}

object TableLog {
  val Dir = "_log"
  private val Add = "add"
}
