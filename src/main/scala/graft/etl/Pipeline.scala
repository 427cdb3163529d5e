package graft.etl

import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter
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
  *   - emptiness probe is `df.isEmpty` (one-row limit job), not
  *     `rdd.isEmpty()` (ingest.py:807) which forces RDD conversion;
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
    */
  trait Sink {
    def append(df: DataFrame): Unit
    def truncate(spark: SparkSession, schema: StructType): Unit
  }

  final case class ParquetSink(path: String) extends Sink {
    def append(df: DataFrame): Unit =
      df.write.mode(SaveMode.Append).parquet(path)
    def truncate(spark: SparkSession, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Format-parameterized file sink (parquet | orc | delta-when-jarred). */
  final case class FileSink(path: String, format: String = "parquet") extends Sink {
    def append(df: DataFrame): Unit =
      df.write.mode(SaveMode.Append).options(writeOptions(format)).format(format).save(path)
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
      df.write.mode(SaveMode.Append).partitionBy(parts: _*)
        .options(writeOptions(format)).format(format).save(path)
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

  /** One table end-to-end: load → conform → (mode-specific filter) →
    * validate → write, with a single observed row count.
    *
    * The default `clock` is captured once per call, so the emptiness
    * probe and the write stamp the same instant. It and the watermark
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
        val last = watermarks.lastRuntime(table)
        val keyed = conformed.withColumn(
          "MODIFY_DATE", coalesce(col("MODIFY_DATE"), col("CREATE_DATE")))
        val filtered =
          if (historicalLoad) keyed
          else keyed.filter(col("MODIFY_DATE") >= RunTimestamp.column(last))
        if (filtered.isEmpty) Report(table, 0L, skippedEmpty = true)
        else {
          Conform.validate(filtered, table)
          val observed = filtered.observe(obs, count(lit(1)).as("rows"))
          sink.append(observed)
          watermarks.update(table, wallClock())
          Report(table, obs.get("rows").asInstanceOf[Long])
        }
    }
  }

  /** Multi-table runner with per-table config gate and selectable error
    * policy: isolate-and-continue (sync.py:169-179) or fail-fast
    * (ingest.py:829-832).
    */
  def run(
      spark: SparkSession,
      tables: Seq[String],
      enabled: Map[String, Boolean],
      source: String => Source,
      sink: String => Sink,
      mode: WriteMode,
      watermarks: WatermarkStore,
      historicalLoad: Boolean = false,
      failFast: Boolean = true): Seq[(String, Try[Report])] =
    tables.filter(t => enabled.getOrElse(t, false)).map { t =>
      val r = Try(processTable(spark, t, source(t), sink(t), mode, watermarks, historicalLoad))
      (r, failFast) match {
        case (Failure(e), true) => throw e
        case _ => t -> r
      }
    }
}
