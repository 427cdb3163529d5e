package graft.etl

import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{GraftBusBridge, SparkContext}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.util.{Failure, Success, Try}
import graft.functions.RunTimestamp

/** Table-pipeline orchestration: the reference's `process_table` state
  * machine (ingest.py:702-832) re-expressed with pluggable IO and a
  * single-pass row counter.
  *
  * Scale-relevant deltas from the reference, on purpose:
  *   - the reference runs `count()` three times mid-pipeline
  *     (ingest.py:715,720,727), each a full recomputation of the lineage;
  *     here one `Observation` rides the write job — zero extra scans;
  *   - no emptiness probe: the reference's `rdd.isEmpty()` (ingest.py:807)
  *     is a second job that plans and scans the same lineage again. An
  *     incremental load writes once, and the [[Sink]] contract (an empty
  *     frame publishes nothing) makes an empty delta leave no trace; the
  *     write's observed count then reports it skipped;
  *   - the reference's broken `snowflake_config`/`final_count` names
  *     (ingest.py:784,800 — NameErrors at runtime) are implemented as
  *     the evident intent: one sink config, counters that exist.
  */
object Pipeline {

  /** Where raw bytes come from. Parquet in tests; JDBC mirrors the prod
    * PostgreSQL source (sync.py:57-129) — ALWAYS give JDBC a partition
    * column at scale, the reference's single-partition read
    * (sync.py:82) serializes the whole table through one task.
    */
  trait Source { def load(spark: SparkSession): DataFrame }

  final case class ParquetSource(path: String) extends Source {
    def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }

  /** Per-format reader/writer options: csv is header-ful so column
    * names survive a round-trip (the Spark defaults silently rename
    * everything to _c0.._cN and break name-based transforms). NOTE:
    * deliberately NO inferSchema here — a header-only csv read yields
    * strings verbatim, which is what count read-backs and layout-only
    * rewrites (CompactJob) need: inference would re-render values
    * ('01234' -> 1234) and pay a full extra scan. [[FileSource]], whose
    * consumers need typed columns for conform/cleanse, opts in below.
    */
  def readOptions(format: String): Map[String, String] = format match {
    case "csv" => Map("header" -> "true")
    // Spark 4 built-in XML source (the spark-xml merge): the row tag
    // must match [[writeOptions]]'s or a round-trip reads zero rows
    case "xml" => Map("rowTag" -> "row")
    case _ => Map.empty
  }
  def writeOptions(format: String): Map[String, String] = format match {
    case "csv" => Map("header" -> "true")
    case "xml" => Map("rowTag" -> "row")
    case _ => Map.empty
  }

  /** Rows a plain `spark.read.format(format).load(dir)` sees, summed on
    * the driver from the files' footers with no Spark job, over the files
    * Spark's listing keeps (names starting with `_` or `.` are skipped,
    * partition directories are not). Parquet and orc footers hold a row
    * count; csv, json and xml hold none, so they give None.
    */
  def footerRows(spark: SparkSession, dir: String, format: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows: Path => Long = format match {
      case "parquet" => SnapshotStore.parquetRows(_, conf)
      case "orc" => p =>
        val r = org.apache.orc.OrcFile.createReader(p, org.apache.orc.OrcFile.readerOptions(conf))
        try r.getNumberOfRows finally r.close()
      case _ => return None
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def files(d: Path): Seq[Path] = fs.listStatus(d).toSeq
      .filterNot { st =>
        val n = st.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      }
      .flatMap(st => if (st.isDirectory) files(st.getPath) else Seq(st.getPath))
    Some(files(root).map(rows).sum)
  }

  /** Format-parameterized file source — the reference's RAW zone is Delta
    * (sync.py:112-114, ingest.py:636-650); this sandbox has no Delta jars,
    * so the format string routes through `DataFrameReader.format` and
    * `delta` works as soon as the jar is on the classpath (see
    * `graft.jobs.JobArgs.checkFormat`).
    */
  final case class FileSource(path: String, format: String = "parquet",
      schema: Option[StructType] = None) extends Source {
    def load(spark: SparkSession): DataFrame = {
      val reader = spark.read.options(readOptions(format))
      schema match {
        case Some(s) => reader.schema(s).format(format).load(path)
        case None if format == "csv" =>
          // NO inferSchema: inference is a full extra pass over the
          // data that re-renders values ('01234' -> 1234). Column
          // NAMES come from a 1-row header probe (a limit-1 text job,
          // not a scan); every column lands as the verbatim string the
          // source VARCHAR held — exactly what the conform/cleanse
          // lenient parsers are built to consume. Callers with typed
          // raw zones pass `schema` explicitly. (Header probe assumes
          // unquoted identifier headers — true of every RAW table
          // SyncJob writes — and FAILS LOUDLY when that assumption
          // breaks: an empty source, a quoted header that could embed
          // the delimiter, or a first data row with fewer fields than
          // the probed header would each otherwise produce a silently
          // misaligned all-string schema.)
          val probe = spark.read.text(path).take(2)
          require(probe.nonEmpty,
            s"FileSource(csv): $path has no rows — cannot probe a header; " +
              "pass an explicit schema")
          val header = probe(0).getString(0)
          require(!header.contains("\""),
            s"FileSource(csv): quoted header in $path — a quoted identifier " +
              "may embed the delimiter and misalign the probed schema; " +
              "pass an explicit schema")
          val names = header.split(",", -1).map(_.trim)
          if (probe.length > 1) {
            // raw split count == fields + embedded quoted commas, so a
            // well-formed row never splits into FEWER parts than the
            // header has columns
            val dataParts = probe(1).getString(0).split(",", -1).length
            require(dataParts >= names.length,
              s"FileSource(csv): first data row splits into $dataParts " +
                s"parts but the probed header has ${names.length} columns " +
                s"($path) — header/data mismatch; pass an explicit schema")
          }
          val s = StructType(names.map(n => StructField(n, StringType, nullable = true)))
          reader.schema(s).format(format).load(path)
        case None => reader.format(format).load(path)
      }
    }
  }

  final case class JdbcSource(
      url: String, table: String, props: java.util.Properties,
      partitionColumn: Option[(String, Long, Long, Int)] = None) extends Source {
    def load(spark: SparkSession): DataFrame = partitionColumn match {
      case Some((c, lo, hi, n)) => spark.read.jdbc(url, table, c, lo, hi, n, props)
      case None => spark.read.jdbc(url, table, props)
    }
  }

  /** Where conformed rows go. Append + truncate cover the reference's
    * Snowflake modes (ingest.py:782-820); Parquet stands in for tests.
    *
    * `append` of an empty frame publishes nothing: no file, version or
    * row a reader of the target could see. [[processTable]]'s incremental
    * load relies on it to write once, with no emptiness probe before the
    * write. The file sinks meet it through [[stageThenPublish]].
    */
  trait Sink {
    def append(df: DataFrame): Unit
    def truncate(spark: SparkSession, schema: StructType): Unit
  }

  /** Name prefix of the directory a file sink stages an append in. */
  private[etl] val StagingPrefix = "_staging-"

  /** Appends `df` to the file dataset at `path`, publishing nothing when
    * `df` is empty. `write` saves its frame to the directory it is given;
    * here that is `<path>/_staging-<uuid>`, which Spark's file listing
    * skips like any name starting with `_`, so no reader of `path` sees
    * a file of it. When the write observed at least one row, every file
    * Spark laid out in the staging directory (part files, partition
    * directories, `_SUCCESS`, and the `.crc` files a checksummed file
    * system keeps beside them) moves to the same relative path under
    * `path`, replacing the previous `_SUCCESS`. The staging directory is
    * deleted in every case, a failed write included, and a `path` this
    * call created is removed again when nothing was published. A failed
    * write first waits for its own tasks to stop ([[awaitTasks]]).
    */
  private[etl] def stageThenPublish(df: DataFrame, path: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val sc = df.sparkSession.sparkContext
    val dest = new Path(path)
    val fs = dest.getFileSystem(sc.hadoopConfiguration)
    val existed = fs.exists(dest)
    val name = StagingPrefix + java.util.UUID.randomUUID
    val staging = new Path(dest, name)
    val obs = Observation()
    var published = false
    try {
      // the staging name tags the write's jobs, so a failure can find them
      sc.addJobTag(name)
      try write(df.observe(obs, count(lit(1)).as("rows")), staging.toString)
      catch { case t: Throwable => awaitTasks(sc, name); throw t }
      finally sc.removeJobTag(name)
      if (obs.get("rows").asInstanceOf[Long] > 0L) {
        moveTree(fs, staging, dest)
        published = true
      }
    } finally {
      fs.delete(staging, true)
      if (!existed && !published && fs.exists(dest) && fs.listStatus(dest).isEmpty)
        fs.delete(dest, false)
    }
  }

  /** Blocks until no task of a job tagged `tag` is running, for at most
    * 30 s. A job fails as soon as one of its tasks does; its other tasks
    * are only flagged as killed, and one that is opening its output can
    * still create directories under the staging path after the failure
    * reaches the caller. The listener bus is drained first, so the status
    * tracker has seen every job, stage and task event posted so far (a
    * failed stage is recorded with the tasks still running in it); a
    * drain that times out leaves the poll to the bound.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    Try(GraftBusBridge.drain(sc))
    val t = sc.statusTracker
    def running = t.getJobIdsForTag(tag).exists(j => t.getJobInfo(j).exists(
      _.stageIds.exists(s => t.getStageInfo(s).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime + 30L * 1000000000L
    while (running && System.nanoTime < deadline) Thread.sleep(10)
  }

  /** Moves every file under `from` to its relative path under `to`. On a
    * checksummed file system (`file:`) listing hides the `.crc` files and
    * `rename` carries each along with its data file.
    */
  private def moveTree(fs: FileSystem, from: Path, to: Path): Unit =
    fs.listStatus(from).foreach { st =>
      val target = new Path(to, st.getPath.getName)
      if (st.isDirectory) { fs.mkdirs(target); moveTree(fs, st.getPath, target) }
      else {
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(st.getPath, target))
          throw new java.io.IOException(s"could not move ${st.getPath} to $target")
      }
    }

  final case class ParquetSink(path: String) extends Sink {
    def append(df: DataFrame): Unit =
      stageThenPublish(df, path)((d, p) => d.write.mode(SaveMode.Append).parquet(p))
    def truncate(spark: SparkSession, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Format-parameterized file sink (parquet | orc | csv | json |
    * delta-when-jarred). A Delta table publishes through its own log, so
    * files moved into its directory would stay invisible: `delta` appends
    * directly, and an empty frame commits a version with no rows.
    */
  final case class FileSink(path: String, format: String = "parquet") extends Sink {
    private def save(df: DataFrame, dir: String): Unit =
      df.write.mode(SaveMode.Append).options(writeOptions(format)).format(format).save(dir)
    def append(df: DataFrame): Unit =
      if (format == "delta") save(df, path) else stageThenPublish(df, path)(save)
    def truncate(spark: SparkSession, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).options(writeOptions(format)).format(format).save(path)
  }

  /** Partition-scoped refresh sink. `refresh` overwrites ONLY the
    * partitions present in the incoming frame (dynamic partition
    * overwrite) — the scale-correct replacement for the reference's
    * whole-table overwrite (`/root/reference/sync.py:112-114`): a daily
    * re-run rewrites the touched dates, never the accumulated history.
    * At 100 TB this is the difference between an O(day) and an
    * O(table) write job.
    */
  final case class PartitionedSink(
      path: String, parts: Seq[String], format: String = "parquet") extends Sink {
    require(parts.nonEmpty, "PartitionedSink: no partition columns")
    def append(df: DataFrame): Unit =
      stageThenPublish(df, path)((d, p) => d.write.mode(SaveMode.Append)
        .partitionBy(parts: _*).options(writeOptions(format)).format(format).save(p))
    def truncate(spark: SparkSession, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).partitionBy(parts: _*)
        .options(writeOptions(format)).format(format).save(path)
    /** Replace exactly the partitions `df` carries; all others intact. */
    def refresh(df: DataFrame): Unit =
      df.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*)
        .options(writeOptions(format)).format(format).save(path)
  }

  /** Generic JDBC sink — the warehouse-parity path (the reference's
    * Snowflake connector modes, ingest.py:782-820, expressed through
    * plain JDBC): append = K2/K4; truncate = the K3 "overwrite with an
    * empty frame + truncate option" trick, which truncates in place
    * (dialect TRUNCATE TABLE) instead of a drop/recreate round-trip.
    *
    * An empty append inserts no row, so it needs no staging. A missing
    * target table is created from the frame's schema first (Spark's JDBC
    * append does that), so an empty append to a missing table leaves an
    * empty table behind.
    */
  final case class JdbcSink(url: String, table: String, props: java.util.Properties)
      extends Sink {
    def append(df: DataFrame): Unit =
      df.write.mode(SaveMode.Append).jdbc(url, table, props)
    def truncate(spark: SparkSession, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).option("truncate", "true").jdbc(url, table, props)
  }

  /** Write-mode dispatch (ingest.py:781-825). */
  sealed trait WriteMode
  final case class Append(truncateFirst: Boolean = false) extends WriteMode
  case object DeltaInsert extends WriteMode

  /** Watermark persistence: single-line text file per table, format
    * `yyyy-MM-dd HH:mm:ss.SSSSSS`, missing/corrupt → 1900-01-01
    * (ingest.py:475-505). The wall-clock-at-write contract (NOT
    * max(MODIFY_DATE)) is preserved: rows landing between filter and
    * update re-send next run — at-least-once by design (SURVEY.md §3 EP3).
    */
  final class WatermarkStore(dir: String) {
    private val NY = ZoneId.of("America/New_York")
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(NY)
    private def path(table: String) = new java.io.File(dir, s"last_runtime_$table.txt")

    def lastRuntime(table: String): Instant =
      Try {
        val s = new String(java.nio.file.Files.readAllBytes(path(table).toPath)).trim
        java.time.LocalDateTime.parse(s, fmt).atZone(NY).toInstant
      }.getOrElse(Instant.parse("1900-01-01T00:00:00Z"))

    def update(table: String, ts: Instant): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(path(table).toPath, fmt.format(ts).getBytes)
    }
  }

  final case class Report(table: String, rowsWritten: Long, skippedEmpty: Boolean = false)

  /** The rows `DeltaInsert` loads: `MODIFY_DATE := coalesce(MODIFY_DATE,
    * CREATE_DATE)`, kept from the watermark `since` on (everything when
    * `since` is None, the historical load).
    */
  private[etl] def deltaRows(conformed: DataFrame, since: Option[Instant]): DataFrame = {
    val keyed = conformed.withColumn(
      "MODIFY_DATE", coalesce(col("MODIFY_DATE"), col("CREATE_DATE")))
    since.fold(keyed)(last => keyed.filter(col("MODIFY_DATE") >= RunTimestamp.column(last)))
  }

  /** One table end-to-end: load → conform → (mode-specific filter) →
    * validate → write, with a single observed row count.
    *
    * `DeltaInsert` writes once: an empty delta publishes nothing (the
    * [[Sink]] contract), reports `skippedEmpty` from the write's observed
    * count and leaves the watermark where it was.
    *
    * The default `clock` is captured once per call, so every row of a
    * run carries the same instant. It and the watermark
    * bound are [[graft.functions.RunTimestamp]]s, which generated code
    * reads through a reference: the source text, which keys Spark's
    * codegen cache, stays the same from one cron run to the next, and the
    * conform stage compiles once per JVM instead of once per run.
    */
  def processTable(
      spark: SparkSession,
      table: String,
      source: Source,
      sink: Sink,
      mode: WriteMode,
      watermarks: WatermarkStore,
      historicalLoad: Boolean = false,
      clock: Column = RunTimestamp.column(Instant.now()),
      wallClock: () => Instant = () => Instant.now()): Report = {

    val conformed = Conform.conform(source.load(spark), table, clock)
    val obs = Observation(s"graft_$table")

    mode match {
      case Append(truncateFirst) =>
        if (truncateFirst) sink.truncate(spark, TableSchemas.schemas(table))
        val observed = conformed.observe(obs, count(lit(1)).as("rows"))
        sink.append(observed)
        Report(table, obs.get("rows").asInstanceOf[Long])

      case DeltaInsert =>
        val filtered = deltaRows(conformed,
          if (historicalLoad) None else Some(watermarks.lastRuntime(table)))
        Conform.validate(filtered, table)
        sink.append(filtered.observe(obs, count(lit(1)).as("rows")))
        val rows = obs.get("rows").asInstanceOf[Long]
        if (rows == 0L) Report(table, 0L, skippedEmpty = true)
        else {
          watermarks.update(table, wallClock())
          Report(table, rows)
        }
    }
  }

  /** Name prefix of the threads [[perTable]] starts. */
  private[graft] val TableThreadPrefix = "graft-table-"

  /** Runs `work` once per table, the tables concurrently, and returns each
    * table's outcome in table order once every table has settled. A
    * table's work must touch nothing another table's does (its own source,
    * sink, watermark file and observation name); the same name twice is
    * refused up front, as it would be two writers in one directory.
    *
    * The pool is made for this call and holds min(tables, available
    * processors) threads. They are started from the calling thread, so
    * they inherit its Spark local properties (job group, description,
    * scheduler pool): `cancelJobGroup` and job attribution see the tables'
    * jobs as the caller's. Every thread has ended when this returns.
    * A fatal error is not captured: the first in table order is rethrown,
    * once the other tables have settled.
    */
  private[graft] def perTable[T](tables: Seq[String])(work: String => T): Seq[Try[T]] = {
    val dups = tables.diff(tables.distinct).distinct
    require(dups.isEmpty,
      s"duplicate table names [${dups.mkString(", ")}]: each table runs once per call")
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val size = math.max(1, math.min(tables.size, Runtime.getRuntime.availableProcessors))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(size, (r: Runnable) => {
      val t = new Thread(r, s"$TableThreadPrefix${threads.size + 1}")
      threads.add(t)
      t
    })
    try {
      val futures = tables.map(t => pool.submit(() => Try(work(t))))
      futures.map(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Multi-table runner with a per-table config gate: returns every
    * enabled table's own outcome, in table order (the isolate-and-continue
    * policy of sync.py:169-179); [[settle]] adds the fail-fast policy
    * (ingest.py:829-832) once the caller has reported each table.
    *
    * The enabled tables run concurrently ([[perTable]]: at most
    * min(tables, available processors) at a time), and every table
    * settles before this returns. A failed table never advances its
    * watermark. Unlike the reference, the tables after a failed one still
    * load: they take exactly the rows the next run would have taken, so
    * delivery stays at-least-once.
    */
  def run(
      spark: SparkSession,
      tables: Seq[String],
      enabled: Map[String, Boolean],
      source: String => Source,
      sink: String => Sink,
      mode: WriteMode,
      watermarks: WatermarkStore,
      historicalLoad: Boolean = false): Seq[(String, Try[Report])] = {
    val on = tables.filter(t => enabled.getOrElse(t, false))
    on.zip(perTable(on)(t =>
      processTable(spark, t, source(t), sink(t), mode, watermarks, historicalLoad)))
  }

  /** Fail-fast over settled outcomes: the reports when every table
    * loaded, else the first failure in table order, thrown with the
    * other failures attached as suppressed exceptions.
    */
  def settle(out: Seq[(String, Try[Report])]): Seq[(String, Report)] =
    out.collect { case (_, Failure(e)) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => out.collect { case (t, Success(r)) => (t, r) }
    }
}
