package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.etl.Pipeline
import scala.util.{Failure, Success}

/** Runnable jobs mirroring the reference's two entry points — the
  * "switch your cron job over" surface. Config is CLI flags (the
  * reference hard-codes Databricks secret lookups, sync.py:184-204 /
  * ingest.py:25-38; here everything injects).
  */
private[jobs] object JobArgs {
  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"flags must come in --key value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
      case Array(k, v) =>
        throw new IllegalArgumentException(s"malformed flag pair: '$k $v'")
    }.toMap
  }

  def session(name: String): SparkSession =
    GraftSession.tuned(SparkSession.builder().appName(name)).getOrCreate()

  def jdbcProps(conf: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    conf.get("jdbc-driver").foreach(p.setProperty("driver", _))
    conf.get("jdbc-user").foreach(p.setProperty("user", _))
    conf.get("jdbc-password").foreach(p.setProperty("password", _))
    p.setProperty("fetchsize", conf.getOrElse("fetchsize", "10000")) // sync.py:74
    p
  }

  /** JSON string escape for log lines — exception messages can carry
    * quotes/backslashes/newlines that would break downstream log parsers.
    */
  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    if (s != null) s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Validate a `--format` value up front. The reference's RAW zone is
    * Delta (sync.py:112-114); this environment ships no Delta jars, so
    * `delta` fails fast with a clear message instead of a mid-job
    * ClassNotFoundException. parquet/orc/csv/json are Spark built-ins.
    */
  def checkFormat(fmt: String): String = fmt match {
    case "parquet" | "orc" | "csv" | "json" => fmt
    case "delta" =>
      if (scala.util.Try(Class.forName("org.apache.spark.sql.delta.sources.DeltaDataSource")).isFailure)
        throw new IllegalArgumentException(
          "--format delta requires the delta-spark jars on the classpath (absent here); use parquet or orc")
      fmt
    case other =>
      throw new IllegalArgumentException(s"unsupported --format $other (parquet|orc|csv|json|delta)")
  }
}

/** Stage 1 — database → columnar RAW zone (the reference's sync.py):
  * per-table JDBC read → parquet overwrite → count reconciliation from
  * the written files' footers, per-table error isolation
  * (sync.py:169-179). The written count is read on the driver with no
  * Spark job: the committed snapshot's `footerRowCount`, or the footer
  * sum of the written parquet/orc files. csv and json keep no row count
  * and are re-read with Spark. Either way it counts what landed, not
  * what the writer says it wrote, and a mismatch with the source count
  * is a `count drift` verdict.
  *
  *   --jdbc-url URL --tables t1,t2 --dest DIR
  *   [--partition-col col:lo:hi:n | col:n]  (ALWAYS set in production —
  *     the reference's unpartitioned read serializes the table through
  *     one task, sync.py:82. The col:n form derives lo/hi per table via
  *     a MIN/MAX query pushed to the database.)
  *   [--format parquet|orc|csv|json|delta]  (delta needs the jar)
  *   [--snapshot on]  (RAW zone as a manifest-committed versioned table:
  *     atomic overwrite + time travel on plain parquet — the Delta
  *     semantics of sync.py:112-114 without the jar)
  *   [--jdbc-driver CLS --jdbc-user U --jdbc-password P --fetchsize N]
  *
  * The tables sync concurrently, min(tables, available processors) at a
  * time (`Pipeline.perTable`); each still fails on its own. A repeated
  * table name is refused up front. Source connections add up across the
  * running tables: Spark's extraction holds one JDBC connection per
  * running task, so concurrent tables can hold up to min(Σ partitions,
  * running tasks) connections where one table held min(partitions,
  * running tasks), plus one driver-side connection per running table
  * for its bounds and count queries. The log lines print once every
  * table has settled, in table order.
  */
object SyncJob {

  /** One liveness probe before the table loop (sync.py:34-43): a dead
    * database is one clear failure, not N noisy per-table errors. Only
    * the CONNECTION is load-bearing — the trial statement is
    * best-effort, because dialects disagree on it (Derby wants VALUES 1,
    * Oracle SELECT 1 FROM DUAL, ...) and a statement-level quirk must
    * not fail a job the Spark read path would complete. The driver
    * class is pre-registered like Spark's JDBC path does, so drivers
    * that don't self-register with DriverManager still probe.
    */
  private[jobs] def probe(url: String, props: java.util.Properties): Unit = {
    Option(props.getProperty("driver")).foreach(Class.forName(_))
    val sql = if (url.startsWith("jdbc:derby")) "VALUES 1" else "SELECT 1"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
      catch { case _: java.sql.SQLException => () } // dialect quirk; connection is alive
    } finally conn.close()
  }

  /** lo/hi for the `col:n` partition form — pushed-down MIN/MAX, one
    * round-trip per table, runs in the database not in Spark.
    */
  private[jobs] def autoBounds(
      url: String, props: java.util.Properties, table: String, col: String): (Long, Long) = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT MIN($col), MAX($col) FROM $table")
        rs.next()
        (rs.getLong(1), rs.getLong(2))
      } finally st.close()
    } finally conn.close()
  }

  /** Pushed-down source count (sync.py:45-55, the reference's S2): one
    * single-row `SELECT COUNT(*)` that runs IN the database, like
    * [[autoBounds]]. The former `df.count()` here was a second full
    * partitioned JDBC extraction per table — at warehouse scale that
    * doubles both source-database load and job wall time.
    */
  private[jobs] def pushedCount(
      url: String, props: java.util.Properties, table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next()
        rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }

  def run(spark: SparkSession, conf: Map[String, String]): Seq[(String, Long, Long)] = {
    val url = conf("jdbc-url")
    val dest = conf("dest")
    val fmt = JobArgs.checkFormat(conf.getOrElse("format", "parquet"))
    val props = JobArgs.jdbcProps(conf)
    val partSpec = conf.get("partition-col").map { s =>
      s.split(":") match {
        case Array(c, lo, hi, n) => (c, Some((lo.toLong, hi.toLong)), n.toInt)
        case Array(c, n) => (c, None, n.toInt)
        case _ => throw new IllegalArgumentException(
          s"--partition-col must be col:lo:hi:n or col:n, got '$s'")
      }
    }
    probe(url, props) // fail fast, before any per-table work
    val outcomes = Pipeline.perTable(conf("tables").split(",").toSeq) { table =>
      val log = Seq.newBuilder[Either[String, String]] // Left: stderr
      val synced = try {
        val partition = partSpec.map { case (c, bounds, n) =>
          val (lo, hi) = bounds.getOrElse(autoBounds(url, props, table, c))
          (c, lo, hi, n)
        }
        val df = Pipeline.JdbcSource(url, table, props, partition).load(spark)
        val sourceCount = pushedCount(url, props, table) // S2: counts in the DB
        // --snapshot on: the RAW zone becomes a manifest-committed
        // versioned table (the reference's Delta overwrite semantics,
        // sync.py:112-114, on plain parquet): the re-sync is ATOMIC —
        // a reader racing it sees the previous complete version, and
        // yesterday's sync stays readable by version
        val written = if (conf.get("snapshot").contains("on")) {
          require(fmt == "parquet",
            "--snapshot: the manifest store is parquet-backed; drop --format")
          val store = new graft.etl.SnapshotStore(s"$dest/$table")
          val v = store.commitOverwrite(df) // the ONLY Spark extraction
          log += Right(s"""{"job":"sync","table":"$table","snapshot_version":$v}""")
          store.footerRowCount(Some(v), spark.sparkContext.hadoopConfiguration)
        } else {
          val out = s"$dest/$table.$fmt"
          df.write.mode("overwrite").options(Pipeline.writeOptions(fmt))
            .format(fmt).save(out) // the ONLY Spark extraction
          Pipeline.footerRows(spark, out, fmt).getOrElse(
            spark.read.options(Pipeline.readOptions(fmt)).format(fmt).load(out).count())
        }
        if (written != sourceCount)
          log += Left(s"""{"job":"sync","table":"$table","warn":"count drift $sourceCount -> $written"}""")
        log += Right(s"""{"job":"sync","table":"$table","source_rows":$sourceCount,"written_rows":$written}""")
        Some((table, sourceCount, written))
      } catch {
        case e: Exception => // isolate-and-continue, sync.py:169-179
          log += Left(s"""{"job":"sync","table":"$table","error":${JobArgs.jsonStr(e.getMessage)}}""")
          None
      }
      (synced, log.result())
    }
    outcomes.foreach(_.foreach(_._2.foreach {
      case Left(line) => System.err.println(line)
      case Right(line) => println(line)
    }))
    outcomes.flatMap(_.get._1)
  }

  def main(args: Array[String]): Unit = {
    val spark = JobArgs.session("graft-sync")
    try run(spark, JobArgs.parse(args)) finally spark.stop()
  }
}

/** Stage 2 — RAW zone → conform/cleanse/validate → warehouse staging
  * (the reference's ingest.py): per-table conform pipeline with
  * append / truncate-then-append / watermark-incremental modes,
  * fail-fast error policy (ingest.py:829-832). The tables load
  * concurrently; every settled table prints its line (successes to
  * stdout, errors to stderr) in table order before `Pipeline.settle`
  * rethrows the first failure.
  *
  *   --source-dir DIR --sink-dir DIR --watermark-dir DIR
  *   [--tables lead_assignment,lead_xref,lead] [--mode append|delta_insert]
  *   [--format parquet|orc|csv|json|delta] [--historical true] [--truncate true]
  *   [--snapshot on]  (read the versioned RAW zone SyncJob --snapshot
  *     writes, pinned to its latest manifest for the whole pipeline)
  */
object IngestJob {
  def run(spark: SparkSession, conf: Map[String, String]): Seq[(String, Pipeline.Report)] = {
    val src = conf("source-dir")
    val dst = conf("sink-dir")
    val fmt = JobArgs.checkFormat(conf.getOrElse("format", "parquet"))
    val tables = conf.getOrElse("tables", "lead_assignment,lead_xref,lead").split(",").toSeq
    val mode: Pipeline.WriteMode = conf.getOrElse("mode", "append") match {
      case "append" => Pipeline.Append(truncateFirst = conf.get("truncate").contains("true"))
      case "delta_insert" => Pipeline.DeltaInsert
      case other => throw new IllegalArgumentException(s"unknown mode $other") // ingest.py:823-825
    }
    val out = Pipeline.run(
      spark,
      tables = tables,
      enabled = tables.map(_ -> true).toMap,
      // --snapshot on: consume the versioned RAW zone SyncJob --snapshot
      // writes — the read pins the latest manifest for the whole
      // conform/cleanse pipeline, immune to a concurrent re-sync
      source = t =>
        if (conf.get("snapshot").contains("on"))
          graft.etl.SnapshotStore.SnapshotSource(
            new graft.etl.SnapshotStore(s"$src/$t"))
        else Pipeline.FileSource(s"$src/$t.$fmt", fmt),
      sink = t => Pipeline.FileSink(s"$dst/$t", fmt),
      mode = mode,
      watermarks = new Pipeline.WatermarkStore(conf.getOrElse("watermark-dir", s"$dst/_watermarks")),
      historicalLoad = conf.get("historical").contains("true"))
    // every settled table reports before a failure is rethrown: the
    // tables that loaded have advanced their watermarks
    out.foreach {
      case (t, Success(r)) =>
        println(s"""{"job":"ingest","table":"$t","rows":${r.rowsWritten},"skipped_empty":${r.skippedEmpty}}""")
      case (t, Failure(e)) =>
        Console.err.println(
          s"""{"job":"ingest","table":"$t","error":${JobArgs.jsonStr(e.getMessage)}}""")
    }
    Pipeline.settle(out)
  }

  def main(args: Array[String]): Unit = {
    val spark = JobArgs.session("graft-ingest")
    try run(spark, JobArgs.parse(args)) finally spark.stop()
  }
}

/** Stage 3 — lake maintenance: small-files compaction. A long-running
  * incremental pipeline (the reference's append mode, ingest.py:782-802)
  * accretes one small file per micro-batch per partition; at 100 TB the
  * file count, not the byte count, becomes the scan bottleneck (task
  * scheduling + footer reads dominate). Rewrite a directory into
  * ~target-mb files: partition count derives from the SOURCE byte size,
  * so the job needs no table statistics.
  *
  *   --src DIR --dest DIR [--target-mb 128] [--format parquet|orc|csv|json]
  *
  * `--snapshot on` compacts a snapshot-store table IN PLACE instead:
  * the rewrite publishes as a `#rewrite` (dataChange=false) version —
  * readers, change feeds and streams are undisturbed — and
  * `--vacuum-keep N` optionally reclaims pre-compaction versions
  * afterwards (the maintenance pairing: compact, then drop the layouts
  * nobody should read anymore).
  *
  *   --src STORE_ROOT --snapshot on [--target-mb 128]
  *     [--cluster-by COL | --zorder-by COL1,COL2] [--vacuum-keep N]
  *     [--vacuum-min-age-ms MS]
  *
  * The reported rows are counted from the output's footers on the driver
  * (csv and json, which keep no count, are re-read with Spark).
  */
object CompactJob {
  def run(spark: SparkSession, conf: Map[String, String]): (Long, Int) = {
    val src = conf("src")
    val targetBytes0 = conf.getOrElse("target-mb", "128").toLong * 1024L * 1024L
    if (conf.get("snapshot").contains("on")) {
      val store = new graft.etl.SnapshotStore(src)
      val (_, _, entries, _) = store.manifestAt()
      val bytes = entries.map(store.infoBytes).sum
      val parts = math.max(1L, (bytes + targetBytes0 - 1) / targetBytes0).toInt
      val zorder = conf.get("zorder-by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val v = store.compactLatest(spark, parts, conf.get("cluster-by"), zorder)
      conf.get("vacuum-keep").map(_.toInt).foreach(k =>
        store.vacuum(k, conf.getOrElse("vacuum-min-age-ms", "0").toLong))
      val rows = store.footerRowCount(conf = spark.sparkContext.hadoopConfiguration)
      println(s"""{"job":"compact","snapshot":true,"src_bytes":$bytes,""" +
        s""""out_files":$parts,"version":$v,"rows":$rows}""")
      return (rows, parts)
    }
    val dest = conf("dest")
    val fmt = JobArgs.checkFormat(conf.getOrElse("format", "parquet"))
    val targetBytes = conf.getOrElse("target-mb", "128").toLong * 1024L * 1024L
    val path = new org.apache.hadoop.fs.Path(src)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.options(Pipeline.readOptions(fmt)).format(fmt).load(src)
      .repartition(parts)
      .write.mode("overwrite").options(Pipeline.writeOptions(fmt)).format(fmt).save(dest)
    val rows = Pipeline.footerRows(spark, dest, fmt).getOrElse(
      spark.read.options(Pipeline.readOptions(fmt)).format(fmt).load(dest).count())
    println(s"""{"job":"compact","src_bytes":$bytes,"out_files":$parts,"rows":$rows}""")
    (rows, parts)
  }

  def main(args: Array[String]): Unit = {
    val spark = JobArgs.session("graft-compact")
    try run(spark, JobArgs.parse(args)) finally spark.stop()
  }
}
