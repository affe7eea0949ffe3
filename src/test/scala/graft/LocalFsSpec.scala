package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.{Incremental, LocalFs, MarsPipeline, NioLocalFileSystem, Warehouse}

/** The warehouse's local filesystem ([[LocalFs]]) sets permissions without
  * forking `chmod`, and leaves exactly the modes Hadoop's `LocalFileSystem`
  * leaves: through its own handle and through a Spark write, under
  * the default umask and another. Using it changes nothing in the caller's
  * session.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `root` by relative path, with part-file UUIDs
    * blanked, to its permission bits, sticky bit included. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root)
      .map(p => Uuid.replaceAllIn(root.relativize(p).toString, "U") -> mode(p)).toMap
    finally s.close()
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Directories and files made the ways the warehouse makes them: mkdirs,
    * a create (with its `.crc`) under new parents, a create with an
    * explicit permission, a chmod, and a sticky directory. */
  private def layout(fs: FileSystem, root: Path): Unit = {
    fs.mkdirs(new Path(root, "a/b/c"))
    val out = fs.create(new Path(root, "x/y/f.txt"), true)
    try out.write("one line\n".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(root, "open"), perm("777"))
    fs.create(new Path(root, "open/g.txt"), perm("666"), true, 4096, 1.toShort, 1 << 20, null).close()
    fs.setPermission(new Path(root, "x/y/f.txt"), perm("640"))
    fs.mkdirs(new Path(root, "sticky"))
    fs.setPermission(new Path(root, "sticky"), perm("1777"))
  }

  test("the warehouse's filesystem leaves the modes Hadoop's LocalFileSystem leaves, under any umask") {
    for ((umask, dirMode) <- Seq(None -> "755", Some("027") -> "750")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val root = Files.createTempDirectory("graft_localfs")
      val (nio, std) = (root.resolve("nio"), root.resolve("std"))
      // a fresh instance on each side, over the copied conf
      val (nioFs, stdFs) = (new NioLocalFileSystem, new LocalFileSystem)
      nioFs.initialize(nio.toUri, conf)
      stdFs.initialize(std.toUri, conf)
      layout(nioFs, new Path(nio.toUri))
      layout(stdFs, new Path(std.toUri))
      val got = modes(nio)
      assert(got == modes(std), s"umask $umask")
      assert(got("a/b/c") == Integer.parseInt(dirMode, 8), s"umask $umask")
      assert(got("sticky") == Integer.parseInt("1777", 8), s"umask $umask")
      assert(got.contains("x/y/.f.txt.crc"))
    }
    // the session's handle is built once
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft_localfs_memo")
    val fs = LocalFs.get(dir.toString, hadoopConf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(LocalFs.get(dir.resolve("a").toUri.toString, hadoopConf) eq fs)
  }

  test("a warehouse write leaves Hadoop's modes and the caller's session as it was") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val file = URI.create("file:///")
    def resolved() = { val fs = FileSystem.newInstance(file, hadoopConf); try fs.getClass finally fs.close() }
    def session() = (hadoopConf.get("fs.file.impl"), hadoopConf.get("fs.file.impl.disable.cache"),
      spark.conf.getOption("fs.file.impl"), spark.conf.getOption("fs.file.impl.disable.cache"),
      FileSystem.get(file, hadoopConf).getClass, resolved())
    val before = session()
    // the classpath's `file:` filesystem (Hive's proxy over Hadoop's, when
    // Hive is on it), whatever it is, is not the warehouse's
    assert(Seq(before._5, before._6).forall(!classOf[NioLocalFileSystem].isAssignableFrom(_)))
    val root = Files.createTempDirectory("graft_localfs_write")
    val wh = Warehouse(spark, root.resolve("warehouse").toString)
    for ((doc, name) <- Seq("photos" -> "mars_rover_photos_1.json",
        "manifests" -> "mars_rover_manifests_1.json",
        "coordinates" -> "mars_rover_coordinates_1.json"))
      wh.loadBronze(s"${MarsPipeline.defaultFixtureDir}/$doc.jsonl", name)
    wh.buildSilver()
    wh.buildGold()
    assert(wh.flatPhotos.count() > 0)
    assert(session() == before)

    // the same Spark write with and without the warehouse's options
    val df = Incremental.read(spark, wh.bronzePhotos)
    for ((umask, dirMode) <- Seq(None -> "755", Some("027") -> "750")) {
      val opts = umask.map("fs.permissions.umask-mode" -> _).toMap +
        ("fs.file.impl.disable.cache" -> "true")
      val tag = umask.getOrElse("default")
      val (std, nio) = (root.resolve(s"std_$tag"), root.resolve(s"nio_$tag"))
      df.write.options(opts).parquet(std.toString)
      df.write.options(opts ++ LocalFs.writeOptions).parquet(nio.toString)
      assert(mode(nio) == mode(std) && modes(nio) == modes(std), s"umask $umask")
      assert(mode(nio) == Integer.parseInt(dirMode, 8), s"umask $umask")
    }
    // every entry the warehouse, a verify dump and a bucketed table write
    // has the mode a plain write gives its kind; a table log entry is a
    // link to a file Hadoop made
    val std = root.resolve("std_default")
    val (dirMode, fileModes) = (mode(std), modes(std).values.toSet)
    assert(fileModes.size == 1, modes(std))
    assert(Verify.dump(spark, "/nonexistent/sf", root.resolve("verify").toString,
      Set("mars_dim_rovers")).isEmpty)
    graft.ops.Bucketing.writeBucketed(df, "localfs_bucketed", root.resolve("bucketed").toString,
      "filename", 2)
    for (written <- Seq("warehouse", "verify", "bucketed").map(root.resolve))
      (modes(written) + ("." -> mode(written))).foreach { case (p, m) =>
        val want = if (Files.isDirectory(written.resolve(p))) dirMode else fileModes.head
        assert(m == want, s"$written/$p has mode ${m.toOctalString}, not ${want.toOctalString}")
      }
  }
}
