package graft.etl

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Orchestration + incremental-protocol coverage:
  *   - call-sequence test (tests/unit/test_sync.py:4-25 analogue)
  *   - full-load append with truncate (ingest.py:782-800)
  *   - watermark incremental with at-least-once overlap (ingest.py:802-822)
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("pipeline-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-pipe").toString

  private def xrefRows(rows: (String, String, String)*): Unit = {
    val df = spark.createDataFrame(
      rows.map { case (g, create, modify) => Row(g, create, modify) }.asJava,
      StructType(Seq(
        StructField("leadxrefguid", StringType),
        StructField("createdate", StringType),
        StructField("modifydate", StringType))))
    df.write.mode("overwrite").parquet(s"$srcDir/lead_xref.parquet")
  }

  private val srcDir = tmp()

  test("run() processes enabled tables in declared order and skips disabled ones") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val recordingSource: String => Pipeline.Source = t => new Pipeline.Source {
      def load(s: SparkSession) = {
        calls += t
        s.createDataFrame(
          Seq(Row(s"g-$t")).asJava,
          StructType(Seq(StructField("leadxrefguid", StringType))))
      }
    }
    val sinkDir = tmp()
    val out = Pipeline.run(
      spark,
      tables = Seq("lead_xref", "lead"),
      enabled = Map("lead_xref" -> true, "lead" -> false),
      source = recordingSource,
      sink = t => Pipeline.ParquetSink(s"$sinkDir/$t"),
      mode = Pipeline.Append(),
      watermarks = new Pipeline.WatermarkStore(tmp()))
    assert(calls.toSeq == Seq("lead_xref"))
    assert(out.map(_._1) == Seq("lead_xref"))
    assert(out.head._2.get.rowsWritten == 1L)
  }

  test("append with truncateFirst overwrites, plain append accumulates") {
    xrefRows(("g-1", "2024-01-01 00:00:00", "2024-01-02 00:00:00"))
    val sinkDir = tmp() + "/xref"
    val src = Pipeline.ParquetSource(s"$srcDir/lead_xref.parquet")
    val sink = Pipeline.ParquetSink(sinkDir)
    val wm = new Pipeline.WatermarkStore(tmp())

    val r1 = Pipeline.processTable(spark, "lead_xref", src, sink,
      Pipeline.Append(truncateFirst = true), wm)
    assert(r1.rowsWritten == 1L)
    Pipeline.processTable(spark, "lead_xref", src, sink, Pipeline.Append(), wm)
    assert(spark.read.parquet(sinkDir).count() == 2L)
    Pipeline.processTable(spark, "lead_xref", src, sink,
      Pipeline.Append(truncateFirst = true), wm)
    assert(spark.read.parquet(sinkDir).count() == 1L)
  }

  test("delta_insert: watermark filter, MODIFY_DATE:=coalesce(MODIFY,CREATE), empty skip") {
    val wmDir = tmp()
    val wm = new Pipeline.WatermarkStore(wmDir)
    val sinkDir = tmp() + "/xref-inc"
    val sink = Pipeline.ParquetSink(sinkDir)
    val src = Pipeline.ParquetSource(s"$srcDir/lead_xref.parquet")

    // Run 1: no watermark file → 1900 fallback → everything flows.
    xrefRows(
      ("g-1", "2024-01-01 00:00:00", "2024-01-05 00:00:00"),
      ("g-2", "2024-02-01 00:00:00", null)) // MODIFY null → CREATE used
    val t1 = Instant.parse("2024-03-01T00:00:00Z")
    val r1 = Pipeline.processTable(spark, "lead_xref", src, sink,
      Pipeline.DeltaInsert, wm, wallClock = () => t1)
    assert(r1.rowsWritten == 2L)
    assert(wm.lastRuntime("lead_xref") != Instant.parse("1900-01-01T00:00:00Z"))

    // Run 2: one old row (filtered), one new row (passes).
    xrefRows(
      ("g-1", "2024-01-01 00:00:00", "2024-01-05 00:00:00"), // before watermark
      ("g-3", "2024-03-02 00:00:00", "2025-04-02 00:00:00")) // after
    val r2 = Pipeline.processTable(spark, "lead_xref", src, sink,
      Pipeline.DeltaInsert, wm, wallClock = () => Instant.parse("2025-05-01T00:00:00Z"))
    assert(r2.rowsWritten == 1L)
    val guids = spark.read.parquet(sinkDir).select("LEAD_XREF_GUID")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(guids == Seq("g-1", "g-2", "g-3"))

    // Run 3: nothing new → empty skip, watermark untouched.
    val before = wm.lastRuntime("lead_xref")
    val r3 = Pipeline.processTable(spark, "lead_xref", src, sink,
      Pipeline.DeltaInsert, wm, wallClock = () => Instant.parse("2025-06-01T00:00:00Z"))
    assert(r3.skippedEmpty && r3.rowsWritten == 0L)
    assert(wm.lastRuntime("lead_xref") == before)
  }

  /** lead_assignment source rows holding every mapped column as a string
    * of its target type, so conform builds its full expression set (a
    * padded column is a typed null that the optimizer folds away). Every
    * third timestamp is m/d/y, which only the lenient parser reads.
    */
  private def assignmentRows(path: String, n: Int): Unit = {
    val target = TableSchemas.schemas("lead_assignment")
    val mapping = TableSchemas.lead_assignmentMappings
    val rows = (0 until n).map { i =>
      Row(mapping.map { case (_, t) =>
        target(t).dataType match {
          case TimestampType =>
            if (i % 3 == 0) f"03/${1 + i % 28}%02d/2024" else f"2024-03-${1 + i % 28}%02d 10:00:00"
          case DoubleType => s"${i * 10}.5"
          case BooleanType => if (i % 2 == 0) "true" else "0"
          case _ => s"v$i"
        }
      }: _*)
    }
    spark.createDataFrame(rows.asJava,
      StructType(mapping.map { case (src, _) => StructField(src, StringType) }))
      .write.mode("overwrite").parquet(path)
  }

  /** A parquet sink that keeps the last frame it was asked to append. */
  private final class CapturingSink(path: String) extends Pipeline.Sink {
    private val inner = Pipeline.ParquetSink(path)
    var last: DataFrame = _
    def append(df: DataFrame): Unit = { last = df; inner.append(df) }
    def truncate(s: SparkSession, schema: StructType): Unit = inner.truncate(s, schema)
  }

  test("delta_insert compiles its code once: later runs at other clocks hit the codegen cache") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val path = s"${tmp()}/lead_assignment.parquet"
    assignmentRows(path, 30)
    val sink = new CapturingSink(tmp() + "/la")
    val wm = new Pipeline.WatermarkStore(tmp())
    // each run: its own lenient-parser "now", ETL clock and watermark
    val compiled = (1 to 3).map { i =>
      LenientParse.clockOverride = Some(Instant.parse(s"2025-0$i-01T00:00:00Z"))
      try {
        val r = Pipeline.processTable(spark, "lead_assignment", Pipeline.ParquetSource(path),
          sink, Pipeline.DeltaInsert, wm,
          wallClock = () => Instant.parse(s"202$i-01-01T00:00:00Z"))
        assert(r.rowsWritten == 30L)
      } finally LenientParse.clockOverride = None
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    }
    assert(wm.lastRuntime("lead_assignment") == Instant.parse("2023-01-01T00:00:00Z"))
    assert(compiled(2) == compiled(0), s"Janino compiles after each run: $compiled")

    // and the write compiles at all: no stage falls back for Janino's
    // 64 KB method limit
    val stages = codegenStringSeq(sink.last.queryExecution.executedPlan)
    assert(stages.nonEmpty)
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize > 0 && stats.maxMethodCodeSize < 65536,
        s"${stats.maxMethodCodeSize} bytes in\n$subtree")
    }
  }

  test("delta_insert stamps one ETL clock per run, captured at the call") {
    val path = s"${tmp()}/lead_assignment.parquet"
    assignmentRows(path, 12)
    val out = tmp() + "/la"
    val before = Instant.now()
    Pipeline.processTable(spark, "lead_assignment", Pipeline.ParquetSource(path),
      Pipeline.ParquetSink(out), Pipeline.DeltaInsert, new Pipeline.WatermarkStore(tmp()))
    val after = Instant.now()
    val stamps = spark.read.parquet(out)
      .select(col("ETL_CREATED_DATE"), col("ETL_LAST_UPDATE_DATE")).distinct().collect()
    assert(stamps.length == 1 && stamps.head.getTimestamp(0) == stamps.head.getTimestamp(1),
      stamps.toSeq)
    val at = stamps.head.getTimestamp(0).toInstant
    // the clock keeps microseconds; Instant.now() may carry nanoseconds
    assert(!at.isBefore(before.truncatedTo(java.time.temporal.ChronoUnit.MICROS)) &&
      !at.isAfter(after), s"$before <= $at <= $after")
  }

  test("delta_insert's watermark filter does not inline the conform many times over") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val path = s"${tmp()}/lead_assignment.parquet"
    assignmentRows(path, 3)
    val conformed = Conform.conform(spark.read.parquet(path), "lead_assignment",
      graft.functions.RunTimestamp.column(Instant.parse("2025-01-01T00:00:00Z")))
    val plan = Pipeline.deltaRows(conformed, Some(Instant.parse("2024-01-01T00:00:00Z")))
      .queryExecution.optimizedPlan
    val conditions = plan.collect { case f: Filter => f.condition }
    assert(conditions.nonEmpty, plan)
    // the optimizer pushes the filter through each conform stage by
    // substitution; a stage reading its input k times multiplies it by k
    // (1,675 nodes with the reference's identity stages stacked)
    val nodes = conditions.map(_.collect { case e => e }.size).sum
    assert(nodes <= 400, s"$nodes expression nodes in the pushed filter")
  }

  private def liveTableThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith(Pipeline.TableThreadPrefix))

  test("run() loads tables concurrently; fail-fast rethrows the first failure after all settle") {
    val tables = Seq("lead_assignment", "lead_xref", "lead")
    val ranOn = new java.util.concurrent.ConcurrentHashMap[String, String]
    def source(failing: Map[String, Exception]): String => Pipeline.Source = t =>
      new Pipeline.Source {
        def load(s: SparkSession) = {
          ranOn.put(t, Thread.currentThread.getName)
          failing.get(t).foreach(e => throw e)
          s.createDataFrame(Seq(Row(s"g-$t", "2024-01-01 00:00:00", "2024-01-02 00:00:00")).asJava,
            StructType(Seq("leadxrefguid", "createdate", "modifydate")
              .map(StructField(_, StringType))))
        }
      }
    def run(failing: Map[String, Exception], wm: Pipeline.WatermarkStore, sinkDir: String) =
      Pipeline.run(spark, tables, tables.map(_ -> true).toMap, source(failing),
        t => Pipeline.ParquetSink(s"$sinkDir/$t"), Pipeline.DeltaInsert, wm)
    val epoch = Instant.parse("1900-01-01T00:00:00Z")

    // the middle table fails: its error surfaces, the other two still load
    val down = new IllegalStateException("lead_xref source is down")
    val wm = new Pipeline.WatermarkStore(tmp())
    val sinkDir = tmp()
    val e = intercept[IllegalStateException](Pipeline.settle(run(Map("lead_xref" -> down), wm, sinkDir)))
    assert((e eq down) && e.getSuppressed.isEmpty)
    assert(wm.lastRuntime("lead_xref") == epoch)
    assert(!new java.io.File(s"$sinkDir/lead_xref").exists)
    Seq("lead_assignment", "lead").foreach { t =>
      assert(wm.lastRuntime(t) != epoch, t)
      assert(spark.read.parquet(s"$sinkDir/$t").count() == 1L, t)
    }
    assert(ranOn.keySet.asScala == tables.toSet)
    assert(ranOn.values.asScala.forall(_.startsWith(Pipeline.TableThreadPrefix)), ranOn)
    assert(liveTableThreads().isEmpty, liveTableThreads())

    // two failures: the first in table order is thrown, the other suppressed
    val first = new IllegalStateException("lead_assignment down")
    val last = new IllegalArgumentException("lead down")
    val e2 = intercept[IllegalStateException](Pipeline.settle(
      run(Map("lead_assignment" -> first, "lead" -> last), new Pipeline.WatermarkStore(tmp()), tmp())))
    assert((e2 eq first) && e2.getSuppressed.toSeq == Seq(last))

    // isolate-and-continue returns every table's own outcome, in order
    val out = run(Map("lead_xref" -> down), new Pipeline.WatermarkStore(tmp()), tmp())
    assert(out.map(_._1) == tables)
    assert(out.map(_._2.map(_.rowsWritten)) ==
      Seq(scala.util.Success(1L), scala.util.Failure(down), scala.util.Success(1L)))
    assert(liveTableThreads().isEmpty, liveTableThreads())
  }

  test("run() refuses a table named twice before any table work") {
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalArgumentException](Pipeline.run(
      spark,
      tables = Seq("lead_xref", "lead", "lead_xref"),
      enabled = Map("lead_xref" -> true, "lead" -> true),
      source = _ => new Pipeline.Source {
        def load(s: SparkSession) = { loads.incrementAndGet(); s.emptyDataFrame }
      },
      sink = t => Pipeline.ParquetSink(s"${tmp()}/$t"),
      mode = Pipeline.Append(),
      watermarks = new Pipeline.WatermarkStore(tmp())))
    assert(e.getMessage.contains("duplicate table names [lead_xref]"), e.getMessage)
    assert(loads.get == 0)
  }

  test("conform runs unchanged on a streaming source (stream/batch ETL unification)") {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = tmp()
    val outDir = s"${tmp()}/out"
    val ckDir = s"${tmp()}/ck"
    val rawSchema = StructType(Seq(
      StructField("leadxrefguid", StringType),
      StructField("createdate", StringType),
      StructField("modifydate", StringType)))
    spark.createDataFrame(
      Seq(
        Row("g1", "2024-01-01 10:00:00", "2024-01-02 11:00:00"),
        Row("g2", "2024-02-01 10:00:00", null)).asJava, rawSchema)
      .write.mode("append").parquet(inDir)
    val fixedClock = lit("2024-06-01 00:00:00").cast(TimestampType)
    val stream = spark.readStream.schema(rawSchema).parquet(inDir)
    val q = Conform.conform(stream, "lead_xref", clock = fixedClock)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2)
    // streaming output carries the exact conformed schema, like batch
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      TableSchemas.schemas("lead_xref").fields.map(f => (f.name, f.dataType)).toSeq)
    val guids = out.select("LEAD_XREF_GUID").collect().map(_.getString(0)).toSet
    assert(guids == Set("g1", "g2"))
  }

  test("watermark store: corrupt file falls back to 1900, format round-trips") {
    val dir = tmp()
    val wm = new Pipeline.WatermarkStore(dir)
    assert(wm.lastRuntime("t") == Instant.parse("1900-01-01T00:00:00Z"))
    Files.write(java.nio.file.Paths.get(dir, "last_runtime_t.txt"), "not a date".getBytes)
    assert(wm.lastRuntime("t") == Instant.parse("1900-01-01T00:00:00Z"))
    val ts = Instant.parse("2024-06-01T12:34:56.789Z")
    wm.update("t", ts)
    assert(wm.lastRuntime("t") == ts)
  }

  test("PartitionedSink.refresh rewrites only the partitions the frame carries") {
    import spark.implicits._
    val path = tmp() + "/events_by_day"
    val sink = Pipeline.PartitionedSink(path, Seq("day"))
    sink.append(Seq(
      ("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"),
      ("2024-01-02", 3L, "c")).toDF("day", "id", "v"))
    // refresh day 2 with a corrected frame; day 1 must be untouched
    sink.refresh(Seq(("2024-01-02", 30L, "c2"), ("2024-01-02", 31L, "c3"))
      .toDF("day", "id", "v"))
    val out = spark.read.parquet(path)
      .select($"day", $"id").as[(String, Long)].collect().toSet
    assert(out == Set(("2024-01-01", 1L), ("2024-01-01", 2L),
      ("2024-01-02", 30L), ("2024-01-02", 31L)))
    // a full overwrite of the same frame WITHOUT dynamic mode would
    // have dropped day 1 — pin the distinction
    Seq(("2024-01-02", 99L, "x")).toDF("day", "id", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("day").parquet(path)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("validate rejects missing and mistyped columns with all errors listed") {
    val bad = spark.createDataFrame(
      Seq(Row("x", 1)).asJava,
      StructType(Seq(
        StructField("LEAD_XREF_GUID", StringType),
        StructField("CREATE_DATE", IntegerType)))) // wrong type
    val e = intercept[IllegalArgumentException](Conform.validate(bad, "lead_xref"))
    assert(e.getMessage.contains("CREATE_DATE"))
    assert(e.getMessage.contains("LEGACY_LEAD_ID")) // one of the missing ones
  }

  /** Every file under `dir` (hidden ones included) with its length and
    * modification time; empty when `dir` does not exist. */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally w.close()
    }
  }

  /** Staging directories left under `dir`, empty ones included. */
  private def stagingDirs(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(Pipeline.StagingPrefix)).toSeq
      finally w.close()
    }
  }

  test("an empty delta publishes nothing: no new file, no staging directory, the watermark kept") {
    xrefRows(("g-1", "2024-01-01 00:00:00", "2024-01-05 00:00:00"))
    val src = Pipeline.ParquetSource(s"$srcDir/lead_xref.parquet")
    val base = tmp()
    val store = new SnapshotStore(s"$base/snapshot")
    val sinks: Seq[(String, Pipeline.Sink)] = Seq(
      "parquet" -> Pipeline.ParquetSink(s"$base/parquet"),
      "orc" -> Pipeline.FileSink(s"$base/orc", "orc"),
      "json" -> Pipeline.FileSink(s"$base/json", "json"),
      "parted" -> Pipeline.PartitionedSink(s"$base/parted", Seq("CREATED_BY")),
      "snapshot" -> SnapshotStore.SnapshotSink(store))
    val t1 = Instant.parse("2025-03-01T00:00:00Z")
    sinks.foreach { case (dir, sink) =>
      val wm = new Pipeline.WatermarkStore(tmp())
      val r1 = Pipeline.processTable(spark, "lead_xref", src, sink,
        Pipeline.DeltaInsert, wm, wallClock = () => t1)
      assert(r1 == Pipeline.Report("lead_xref", 1L), dir)
      val before = tree(s"$base/$dir")
      assert(before.keys.exists(k => k.contains("part-")), s"$dir: $before")
      val r2 = Pipeline.processTable(spark, "lead_xref", src, sink,
        Pipeline.DeltaInsert, wm, wallClock = () => Instant.parse("2025-04-01T00:00:00Z"))
      assert(r2 == Pipeline.Report("lead_xref", 0L, skippedEmpty = true), dir)
      assert(tree(s"$base/$dir") == before, dir)
      assert(stagingDirs(s"$base/$dir").isEmpty, dir)
      assert(wm.lastRuntime("lead_xref") == t1, dir)
    }
    assert(store.versions == Seq(0L))

    // an empty append to a target that does not exist yet leaves nothing
    val empty = spark.range(0).selectExpr("id", "cast(id AS STRING) AS p")
    val fresh = new SnapshotStore(s"$base/fresh-snapshot")
    Seq(Pipeline.ParquetSink(s"$base/fresh-parquet"),
      Pipeline.FileSink(s"$base/fresh-csv", "csv"),
      Pipeline.PartitionedSink(s"$base/fresh-parted", Seq("p")),
      SnapshotStore.SnapshotSink(fresh)).foreach(_.append(empty))
    assert(Seq("fresh-parquet", "fresh-csv", "fresh-parted")
      .forall(d => !Files.exists(java.nio.file.Paths.get(base, d))))
    assert(fresh.latestVersion.isEmpty && tree(s"$base/fresh-snapshot").isEmpty)
  }

  test("a write that fails mid-job leaves no staging residue and publishes nothing") {
    val base = tmp()
    val good = spark.range(0, 40, 1, 4).selectExpr("id", "cast(id % 3 AS STRING) AS p")
    // one task of four throws after the others may have written
    val bad = good.withColumn("id",
      when(col("id") === 37L, raise_error(lit("boom"))).otherwise(col("id")))
    // the first of 32 tasks on 4 cores throws: the job fails while other
    // tasks are still opening their output in the staging directory
    val early = spark.range(0, 320, 1, 32).selectExpr("id", "cast(id % 3 AS STRING) AS p")
      .withColumn("id", when(col("id") === 3L, raise_error(lit("boom"))).otherwise(col("id")))
    val sinks: Seq[(String, String => Pipeline.Sink)] = Seq(
      "parquet" -> (d => Pipeline.ParquetSink(d)),
      "orc" -> (d => Pipeline.FileSink(d, "orc")),
      "parted" -> (d => Pipeline.PartitionedSink(d, Seq("p"))))
    sinks.foreach { case (name, sinkAt) =>
      val dir = s"$base/$name"
      sinkAt(dir).append(good)
      val before = tree(dir)
      Seq(bad, early, early, early).foreach { failing =>
        val e = intercept[Exception](sinkAt(dir).append(failing))
        assert(e.getMessage.contains("boom") || String.valueOf(e.getCause).contains("boom"), e)
        // a killed task still running would have laid out its directories by now
        Thread.sleep(300)
        assert(tree(dir) == before, name)
        assert(stagingDirs(dir).isEmpty, name)
      }
      // a failed write into a target that did not exist leaves no directory
      intercept[Exception](sinkAt(s"$dir-fresh").append(bad))
      assert(!new java.io.File(s"$dir-fresh").exists, name)
    }
  }
}
