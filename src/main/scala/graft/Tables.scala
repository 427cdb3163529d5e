package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the test corpus (one parquet per table, see TESTDATA.md).
  * Everything goes through the parquet reader so filter pushdown / column
  * pruning reach the scan; at prod scale the same names would resolve to
  * partitioned Delta/JDBC sources via [[graft.etl.Pipeline.Source]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    // rejects; with spark.sql.legacy.parquet.nanosAsLong=true (set in
    // GraftSession) it arrives as a long we convert to micros here.
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }
}
