package graft.etl

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** JDBC source/sink integration against embedded Derby (ships with
  * Spark) — the database-parity path the parquet fixtures can't cover:
  * partitioned reads (the scale fix for the reference's single-partition
  * JDBC scan, sync.py:82), append/truncate sink modes, and the
  * read-write-recount reconciliation loop (sync.py:90-124).
  */
class JdbcSpec extends AnyFunSuite with BeforeAndAfterAll {

  System.setProperty("derby.system.home", java.nio.file.Files.createTempDirectory("derby").toString)
  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props = new Properties()
  props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  lazy val spark: SparkSession = graft.GraftSession.local("jdbc-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  override def beforeAll(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE src (id INT NOT NULL, name VARCHAR(32), amount DOUBLE)")
    val ps = conn.prepareStatement("INSERT INTO src VALUES (?, ?, ?)")
    for (i <- 0 until 100) {
      ps.setInt(1, i); ps.setString(2, s"name_$i"); ps.setDouble(3, i * 1.5)
      ps.addBatch()
    }
    ps.executeBatch()
    conn.close()
  }

  test("JdbcSource reads the table; partitioned read splits into N partitions") {
    val single = Pipeline.JdbcSource(url, "src", props).load(spark)
    assert(single.count() == 100)
    assert(single.rdd.getNumPartitions == 1)

    val parts = Pipeline.JdbcSource(url, "src", props,
      partitionColumn = Some(("id", 0L, 100L, 4))).load(spark)
    assert(parts.rdd.getNumPartitions == 4)
    assert(parts.count() == 100)
    // same rows either way
    assert(parts.select("id").collect().map(_.getInt(0)).sorted.toSeq == (0 until 100))
  }

  test("JDBC scan pushes predicates and prunes columns down to the database") {
    import org.apache.spark.sql.functions.col
    // prod parity with the reference's warehouse scan (sync.py:82): at
    // scale the database must see the WHERE and the column list, or
    // every partition ships the full table over JDBC
    val parts = Pipeline.JdbcSource(url, "src", props,
      partitionColumn = Some(("id", 0L, 100L, 4))).load(spark)
    val q = parts.filter(col("amount") > 50.0).select("id", "name")
    assert(q.count() == 66) // amount = i*1.5 > 50 → i in 34..99
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.toUpperCase.contains("GREATERTHAN(AMOUNT,50.0)"), plan)
    // pruning: the scan's output carries only the projected columns —
    // AMOUNT is consumed by the pushed filter inside the database
    val scanLine = plan.linesIterator.find(_.contains("JDBCRelation")).getOrElse("")
    assert(!scanLine.toUpperCase.matches(".*\\[.*AMOUNT.*\\].*PUSHED.*"), scanLine)
    assert(scanLine.toUpperCase.contains("ID") && scanLine.toUpperCase.contains("NAME"), scanLine)
    // limit pushdown is NOT assertable on Derby: Spark's DerbyDialect
    // getLimitClause returns "" (no LIMIT syntax), so Spark correctly
    // declines to push — other dialects (Postgres/MySQL) do push it.
  }

  test("JdbcSink append + truncate modes with count reconciliation") {
    val df = Pipeline.JdbcSource(url, "src", props).load(spark)
    val sink = Pipeline.JdbcSink(url, "dst", props)

    sink.append(df)
    val readBack = Pipeline.JdbcSource(url, "dst", props).load(spark)
    assert(readBack.count() == df.count()) // sync.py:90-124 reconciliation
    sink.append(df.limit(10))
    assert(Pipeline.JdbcSource(url, "dst", props).load(spark).count() == 110)

    // K3 trick: overwrite with an empty frame + truncate → table empty, schema kept
    sink.truncate(spark, readBack.schema)
    assert(Pipeline.JdbcSource(url, "dst", props).load(spark).count() == 0)
    sink.append(df.limit(7))
    assert(Pipeline.JdbcSource(url, "dst", props).load(spark).count() == 7)
  }

  test("JdbcSink: an empty append inserts no row; a missing table is created empty") {
    val none = Pipeline.JdbcSource(url, "src", props).load(spark).filter("id < 0")
    Pipeline.JdbcSink(url, "src", props).append(none)
    assert(Pipeline.JdbcSource(url, "src", props).load(spark).count() == 100)
    Pipeline.JdbcSink(url, "empty_dst", props).append(none)
    val created = Pipeline.JdbcSource(url, "empty_dst", props).load(spark)
    assert(created.count() == 0 && created.columns.map(_.toLowerCase).toSeq ==
      Seq("id", "name", "amount"))
  }
}
