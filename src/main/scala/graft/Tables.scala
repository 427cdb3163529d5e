package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    // rejects; with spark.sql.legacy.parquet.nanosAsLong=true (set in
    // GraftSession) it arrives as a long we convert to micros here.
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Per session (its confs shape inference: nanosAsLong above), per
    * path: the data files' (name, length, mtime) and the schema inferred
    * from them.
    */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, Map[String, (Seq[(String, Long, Long)], StructType)]]

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * session and again only when the path's data files change. Inference
    * is a Spark job (~80 ms a table); a read with a known schema runs
    * none, and every catalog query loads its tables afresh.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing path lists as empty, so inference below raises Spark's own error
    val files = scala.util.Try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList.sorted
    }.getOrElse(Nil)
    schemas.synchronized(Option(schemas.get(spark)).flatMap(_.get(path))) match {
      case Some((seen, schema)) if seen == files => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.synchronized {
          val memo = Option(schemas.get(spark)).getOrElse(Map.empty)
          schemas.put(spark, memo.updated(path, (files, schema)))
        }
        schema
    }
  }
}
