package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Storage-layout techniques that carry the 100 TB posture: bucketing
  * for shuffle-free co-located joins, and date partitioning for
  * partition-pruned scans. Asserted on the physical plan, not vibes.
  */
class StorageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-wh").toString

  lazy val spark: SparkSession = graft.GraftSession.tuned(
    SparkSession.builder()
      .appName("storage-spec")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", wh))
    // overrides AFTER tuned() so they win: force the SMJ path so the
    // exchange (or its absence) is visible
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without any shuffle exchange") {
    import spark.implicits._
    graft.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    graft.Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    // and it computes the right thing
    assert(joined.count() ==
      graft.Tables.load(spark, dir, "lineitem")
        .join(graft.Tables.load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .count())
  }

  test("date-partitioned writes give partition-pruned scans") {
    import spark.implicits._
    val out = s"$wh/events_by_day"
    graft.Tables.load(spark, dir, "events")
      .withColumn("day", to_date($"ts"))
      .write.partitionBy("day").mode("overwrite").parquet(out)

    val pruned = spark.read.parquet(out)
      .filter($"day" === lit("2024-01-03").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // the pruned scan reads exactly the one day
    val expected = graft.Tables.load(spark, dir, "events")
      .filter(to_date($"ts") === lit("2024-01-03").cast("date")).count()
    assert(pruned.count() == expected)
    assert(expected > 0, "fixture should contain events on 2024-01-03")
  }

  test("Tables.load infers a table's schema once, and again after the file is rewritten") {
    import spark.implicits._
    val tdir = s"$wh/tables"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tdir/t.parquet")
    val sc = spark.sparkContext
    val (first, jobs1) = org.apache.spark.JobCount(sc)(graft.Tables.load(spark, tdir, "t"))
    assert(jobs1 == 1, "the first load infers the footer schema with one Spark job")
    val (second, jobs2) = org.apache.spark.JobCount(sc)(graft.Tables.load(spark, tdir, "t"))
    assert(jobs2 == 0, "a second load reuses the inferred schema")
    assert(second.schema == first.schema && second.collect().toSeq == first.collect().toSeq)
    Seq((2L, 3.5, "b")).toDF("k", "x", "v").write.mode("overwrite").parquet(s"$tdir/t.parquet")
    val (third, jobs3) = org.apache.spark.JobCount(sc)(graft.Tables.load(spark, tdir, "t"))
    assert(jobs3 == 1, "a rewritten file is inferred again")
    assert(third.columns.toSeq == Seq("k", "x", "v"))
    assert(third.as[(Long, Double, String)].collect().toSeq == Seq((2L, 3.5, "b")))
  }
}
