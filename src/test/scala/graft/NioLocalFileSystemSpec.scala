package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The `file` scheme's in-process `setPermission` and
  * `getFileLinkStatus` against Hadoop's own.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("nio-local-fs-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): JPath = Files.createTempDirectory("graft-nio-fs")
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), new Configuration()); fs }

  /** The recording is JVM-wide: leave out the `rm -rf` with which Spark
    * deletes the artifact directory of a session collected meanwhile
    * (another suite's, once its cleaner runs).
    */
  private def own(started: Seq[String]): Seq[String] = {
    val artifacts = s"rm -rf ${System.getProperty("java.io.tmpdir").stripSuffix("/")}/artifacts-"
    started.filterNot(_.startsWith(artifacts))
  }

  test("setPermission leaves the bits Hadoop's chmod does, for every mode on files and directories") {
    val (hadoop, nio) = (init(new RawLocalFileSystem), init(new NioLocalFileSystem.Raw))
    val root = tmp()
    def pair(kind: String, m: Int) = Seq("hadoop", "nio").map { side =>
      val p = root.resolve(f"$kind-$side-$m%04o")
      if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
    }
    val modes = 0 to 0x1ff
    val (_, started) = ProcessStarts {
      for (kind <- Seq("file", "dir"); m <- modes) {
        val Seq(h, n) = pair(kind, m)
        hadoop.setPermission(new Path(h.toUri), new FsPermission(m.toShort))
        nio.setPermission(new Path(n.toUri), new FsPermission(m.toShort))
        assert(mode(h) == m, f"Hadoop's chmod: $kind $m%04o")
        assert(mode(n) == mode(h), f"$kind $m%04o: ${mode(n)}%04o")
      }
    }
    // every process started was Hadoop's side (none when libhadoop is loaded)
    assert(started.forall(_.startsWith("chmod")) && started.size <= 2 * modes.size, started.take(3))
    // a sticky bit, which java.nio cannot set, takes Hadoop's own path
    val Seq(h, n) = pair("dir", 0x3ff)
    hadoop.setPermission(new Path(h.toUri), new FsPermission(0x3ff.toShort))
    nio.setPermission(new Path(n.toUri), new FsPermission(0x3ff.toShort))
    assert(mode(h) == 0x3ff && mode(n) == 0x3ff, f"${mode(n)}%04o")
  }

  test("getFileLinkStatus answers as Hadoop's does, with no readlink, for files, directories and links") {
    val (hadoop, nio) = (init(new RawLocalFileSystem), init(new NioLocalFileSystem.Raw))
    val root = tmp()
    val file = Files.write(root.resolve("f"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("d"))
    val cases = Seq(
      "a file" -> file,
      "a directory" -> dir,
      "a link to a file" -> Files.createSymbolicLink(root.resolve("lf"), file),
      "a link to a directory" -> Files.createSymbolicLink(root.resolve("ld"), dir),
      "a dangling link" -> Files.createSymbolicLink(root.resolve("lx"), root.resolve("gone")),
      "a missing path" -> root.resolve("missing"))
    def outcome(st: Try[FileStatus]) = st.map(s => (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getAccessTime, s.getReplication, s.getBlockSize, s.getPermission, s.getOwner, s.getGroup))
      .toEither.left.map(_.getClass)
    // Hadoop reads the link at the path's string form: the scheme-less
    // path is a link, the qualified one (what FileContext passes) is not
    for ((what, p) <- cases; path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val (got, all) = ProcessStarts(Try(nio.getFileLinkStatus(path)))
      val started = own(all)
      val isLink = Files.isSymbolicLink(p) && path.toUri.getScheme == null
      assert(got.toOption.exists(_.isSymlink) == isLink, s"$what at $path")
      assert(outcome(got) == outcome(Try(hadoop.getFileLinkStatus(path))), s"$what at $path")
      if (what == "a missing path")
        assert(outcome(got) == Left(classOf[FileNotFoundException]), s"$what at $path")
      // a link's status reads its permission eagerly, which Hadoop does with `ls`
      assert(if (isLink) !started.exists(_.startsWith("readlink")) else started.isEmpty,
        s"$what at $path: $started")
    }
  }

  test("the session's `file` scheme is the in-process one, through FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem's cache is keyed by scheme and user, not by conf: a
    // default instance cached before the session would win here
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioLocalFileSystem.Raw])
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("written parquet files and directories keep Hadoop's modes, umask applied") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val out = tmp().resolve("t")
    val (_, started) = ProcessStarts {
      (1 to 40).map(i => (i, i % 3)).toDF("id", "p").repartition(4)
        .write.partitionBy("p").parquet(out.toString)
    }
    assert(started.isEmpty, started.take(3))
    val walk = Files.walk(out)
    val all = try { import scala.jdk.CollectionConverters._; walk.iterator().asScala.toSeq } finally walk.close()
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.size == 4 && files.count(_.toString.endsWith(".parquet")) >= 3, all)
    dirs.foreach(d => assert(mode(d) == dirMode, f"$d: ${mode(d)}%04o"))
    files.foreach(f => assert(mode(f) == fileMode, f"$f: ${mode(f)}%04o"))
    assert(spark.read.parquet(out.toString).count() == 40L)
  }

  test("a streaming micro-batch's checkpoint writes start no process") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    val q = input.toDF().groupBy($"value" % 3).count().writeStream.format("memory")
      .queryName("nio_fs_counts").outputMode("complete")
      .option("checkpointLocation", tmp().toString).start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4, 5)
      val (_, started) = ProcessStarts(q.processAllAvailable())
      assert(own(started).isEmpty, started.take(3))
      assert(spark.table("nio_fs_counts").count() == 3L)
    } finally q.stop()
  }
}
