package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `file` scheme's in-process `setPermission` against Hadoop's own. */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("nio-local-fs-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): JPath = Files.createTempDirectory("graft-nio-fs")
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), new Configuration()); fs }

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

  test("a streaming micro-batch's checkpoint writes start no chmod") {
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
      assert(!started.exists(_.startsWith("chmod")), started.filter(_.startsWith("chmod")).take(3))
      assert(spark.table("nio_fs_counts").count() == 3L)
    } finally q.stop()
  }
}
