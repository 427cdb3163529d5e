package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * The reference (ayan980801/lcr-etl-upgrade) runs on a managed Databricks
  * cluster and carries no Spark tuning of its own beyond a JDBC fetchsize
  * (/root/reference/sync.py:74). Here the scale posture is explicit:
  * AQE on (skew joins, partition coalescing), broadcast joins for dims,
  * shuffle partitions sized to the local harness (the prod value is a
  * per-deploy setting — rule of thumb: ~2-3x total executor cores, or
  * target ~128MB per shuffle partition at 100 TB inputs).
  */
object GraftSession {

  /** Local session for tests/tools. `cores` also sizes shuffle partitions:
    * on local[N] there is no reason for more shuffle partitions than cores
    * at test scale — fewer tasks, no 200-partition default overhead.
    */
  def local(appName: String = "graft", cores: Int = 32): SparkSession =
    tuned(
      SparkSession
        .builder()
        .appName(appName)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    ).getOrCreate()

  /** Settings that hold at any scale (applied on top of whatever master /
    * partition sizing the deployment chose).
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dims (region/nation/supplier/customer at test SF) broadcast freely;
      // 64MB covers a 100x-scaled nation/region and then some.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // schemas carrying `parquet.field.id` metadata (tables adopted
      // from ID-mode column-mapped Delta) resolve parquet columns by
      // field id; schemas without the metadata are unaffected
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // testdata events.parquet stores TIMESTAMP(NANOS); read as long
      // (converted back to TimestampType in Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner frees localCheckpoint blocks only after a DRIVER
      // GC proves them unreachable; on a large heap the driver may not
      // GC for the whole run, so iterative operators (k-means, connected
      // components) would accumulate dead checkpoint blocks and bleed
      // storage/GC pressure into later queries. Default is 30min —
      // far longer than a whole bench run.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // the `file` scheme sets permissions in-process instead of forking
      // a `chmod` per written file and directory (see NioLocalFileSystem),
      // through FileSystem and FileContext (streaming checkpoints) alike
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
