package graft.perfbench

import java.io.File
import java.sql.DriverManager
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import graft.etl.{SnapshotStore, TableSchemas}
import graft.jobs.{IngestJob, SyncJob}
import graft.queries.{Catalog, Q}

object Workloads {
  /** Benchmark files read at run time, relative to the checkout root. */
  val Dir = "perfbench"

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_cycle" => new EtlCycle(ctx, rowsPerTable = 1500, churnFrac = 0.02)
    case "catalog" => new CatalogWorkload(list("catalog"), CatalogWorkload.Sizes)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Frozen operation list of a catalog workload, one query name a line. */
  def list(name: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$Dir/workloads/$name.txt", "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  /** Row count and order-insensitive content hash recorded for each
    * catalog query on this corpus. */
  lazy val expected: Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(s"$Dir/expected/catalog.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash.toLong)
    }.toMap
    finally src.close()
  }

  /** Runs every catalog query once on the catalog corpus, writes the
    * expected-output file and prints each query's job counts (the
    * one-shot class of `workloads/catalog.txt` comes from them). */
  def record(ctx: Ctx, wl: Workload, outFile: File, inputs: File): Unit = {
    val cw = wl.asInstanceOf[CatalogWorkload]
    cw.prepare(ctx, inputs)
    val tracer = new JobTracer
    ctx.sc.addSparkListener(tracer)
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try Catalog.all.foreach { q =>
      val n = q.name
      val t0 = System.nanoTime()
      val res = scala.util.Try {
        val df = q.build(ctx.spark, cw.dir)
        org.apache.spark.PerfbenchBridge.drainListenerBus(ctx.sc)
        val buildJobs = tracer.takeJobs().size
        val r = CatalogWorkload.materialize(ctx, df, n)
        org.apache.spark.PerfbenchBridge.drainListenerBus(ctx.sc)
        (buildJobs, tracer.takeJobs().size, r)
      }
      val s = (System.nanoTime() - t0) / 1e9
      res match {
        case scala.util.Success((bj, ej, (rows, hash, _))) =>
          w.println(s"$n\t$rows\t$hash")
          println(f"[record] $n%-40s build_jobs=$bj%3d exec_jobs=$ej%3d wall_s=$s%.3f rows=$rows")
        case scala.util.Failure(e) =>
          println(s"[record] $n FAILED $e")
      }
      w.flush()
    } finally w.close()
  }
}

object CatalogWorkload {
  /** Data seed of the catalog corpus: fixed, so the recorded outputs hold;
    * the run seed shuffles the query order. */
  val DataSeed = 42L
  val Sizes: Corpus.Sizes = Corpus.Sizes(0.01, documents = 200, embeddings = 500)

  /** Bits of a double's mantissa ignored by the hash (24 of 52 are
    * kept), so a difference in the last bits from another summation
    * order, core count or partitioning does not read as a wrong result. */
  private val MantissaMask = ~((1L << 28) - 1)

  /** Per-row hash over every column; floating-point values are
    * truncated to 24 mantissa bits first. */
  def rowHash(r: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      val v: Long =
        if (r.isNullAt(i)) 0x5bd1e995L
        else types(i) match {
          case DoubleType => java.lang.Double.doubleToLongBits(
            { val d = r.getDouble(i); if (d == 0.0) 0.0 else d }) & MantissaMask
          case FloatType => java.lang.Double.doubleToLongBits(
            { val f = r.getFloat(i).toDouble; if (f == 0.0) 0.0 else f }) & MantissaMask
          case dt => r.get(i, dt).hashCode.toLong
        }
      h = h * 1000003L ^ v
      i += 1
    }
    h * 0x9E3779B97F4A7C15L
  }

  /** Runs the physical plan and folds every row and column into a row
    * count, an order-insensitive hash sum and the rows' byte size. */
  def materialize(ctx: Ctx, df: org.apache.spark.sql.DataFrame, name: String): (Long, Long, Long) = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    ctx.span("sql.plan")(qe.executedPlan)
    val schema = df.schema
    val types = schema.fields.map(_.dataType)
    ctx.span("sql.exec") {
      SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
        qe.toRdd.mapPartitions { it =>
          val proj = UnsafeProjection.create(schema)
          var n = 0L; var h = 0L; var bytes = 0L
          it.foreach { r =>
            n += 1
            h += rowHash(r, types)
            bytes += (r match {
              case u: UnsafeRow => u.getSizeInBytes
              case other => proj(other).getSizeInBytes
            })
          }
          Iterator((n, h, bytes))
        }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
      }
    }
  }
}

/** Catalog queries from build to a fully materialized result. */
final class CatalogWorkload(names: Seq[String], sizes: Corpus.Sizes) extends Workload {
  private val queries: Map[String, Q] = Catalog.all.map(q => q.name -> q).toMap
  require(names.forall(queries.contains), s"unknown queries: ${names.filterNot(queries.contains)}")
  var dir: String = _

  def prepare(ctx: Ctx, d: File): Unit = {
    Corpus.write(ctx.spark, d.getAbsolutePath, sizes, CatalogWorkload.DataSeed)
    dir = d.getAbsolutePath
  }

  def pass(rng: java.util.Random): Seq[Op] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(names).map(n => Op(n, ctx => run(ctx, n)))

  private def run(ctx: Ctx, name: String): () => Outcome = {
    val df = ctx.span("queries.build")(queries(name).build(ctx.spark, dir))
    val (rows, hash, bytes) = CatalogWorkload.materialize(ctx, df, name)
    () => Workloads.expected.get(name) match {
      case Some((r, h)) if r == rows && h == hash => Outcome(ok = true, bytes)
      case e => Outcome(ok = false, bytes, s"rows=$rows hash=$hash expected=$e")
    }
  }

  def outputDirs: Seq[File] = Nil
  def liveBytes: Long = 0L
  def describe: String = s"""{"queries":${names.size},"corpus":${sizes.describe}}"""
}

/** The paper's cron cycle: churn source rows, Sync (JDBC → RAW snapshot
  * store), then incremental Ingest (RAW → conformed staging). */
final class EtlCycle(ctx: Ctx, rowsPerTable: Int, churnFrac: Double) extends Workload {
  private val tables = TableSchemas.tables
  private val rng = new java.util.Random(ctx.seed)
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private var raw, staged, marks: File = _
  private val Bools = Vector("true", "false", "yes", "no", "1", "0")
  private val stamp = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** Source column name → value maker, one per mapped source column. */
  private def columns(t: String): Seq[(String, java.util.Random => String)] = {
    val schema = TableSchemas.schemas(t)
    val json = TableSchemas.jsonColumns(t)
    TableSchemas.columnMappings(t).toSeq.sortBy(_._1).map { case (src, target) =>
      val gen: java.util.Random => String = schema(target).dataType match {
        case TimestampType => r => f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d " +
          f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
        case DateType => r => f"${1950 + r.nextInt(60)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
        case _: DecimalType => r => r.nextInt(100000).toString
        case DoubleType => r => f"${r.nextDouble() * 1000}%.2f"
        case BooleanType => r => Bools(r.nextInt(6))
        case _ if TableSchemas.booleanStringColumns(target) => r => Bools(r.nextInt(2))
        case _ if json(target) => r => s"""{"k": ${r.nextInt(1000)}, "tag": "t${r.nextInt(50)}"}"""
        case _ => r => Corpus.Vocab(r.nextInt(Corpus.Vocab.length)) + "-" + r.nextInt(100000)
      }
      src -> gen
    }
  }

  def prepare(c: Ctx, dir: File): Unit = {
    raw = new File(dir, "raw"); staged = new File(dir, "staged"); marks = new File(dir, "watermarks")
    val r = new java.util.Random(c.seed)
    val conn = DriverManager.getConnection(url)
    try tables.foreach { t =>
      val cols = columns(t)
      conn.createStatement().executeUpdate(s"CREATE TABLE $t (id BIGINT, " +
        cols.map { case (n, _) => s"$n VARCHAR(200)" }.mkString(", ") + ")")
      val ps = conn.prepareStatement(s"INSERT INTO $t VALUES (?${",?" * cols.size})")
      (0 until rowsPerTable).foreach { i =>
        ps.setLong(1, i.toLong)
        cols.zipWithIndex.foreach { case ((_, g), j) => ps.setString(j + 2, g(r)) }
        ps.addBatch()
        if (i % 500 == 499) ps.executeBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  /** Initial full load: every source row is newer than the empty watermark. */
  override def load(c: Ctx): Unit = {
    val (synced, _) = sync(c)
    val ingested = ingest(c)
    require(synced.forall(_._3 == rowsPerTable) && ingested.values.forall(_ == rowsPerTable),
      s"initial load: synced=$synced ingested=$ingested")
  }

  private def sync(c: Ctx): (Seq[(String, Long, Long)], Int) = {
    val v0 = tables.map(t => new SnapshotStore(s"$raw/$t").versions.size).sum
    val out = c.span("jobs.sync")(SyncJob.run(c.spark, Map(
      "jdbc-url" -> url, "tables" -> tables.mkString(","), "dest" -> raw.getPath,
      "snapshot" -> "on", "partition-col" -> "id:4")))
    (out, tables.map(t => new SnapshotStore(s"$raw/$t").versions.size).sum - v0)
  }

  private def ingest(c: Ctx): Map[String, Long] =
    c.span("jobs.ingest")(IngestJob.run(c.spark, Map(
      "source-dir" -> raw.getPath, "sink-dir" -> staged.getPath,
      "watermark-dir" -> marks.getPath, "mode" -> "delta_insert", "snapshot" -> "on")))
      .map { case (t, rep) => t -> rep.rowsWritten }.toMap

  private def sourceCount(t: String): Long = {
    val conn = DriverManager.getConnection(url)
    try { val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); rs.getLong(1) }
    finally conn.close()
  }

  /** Stamps a seeded share of each table's rows as modified now. */
  private def churn(): Map[String, Int] = {
    val k = math.max(1, math.round(rowsPerTable * churnFrac).toInt)
    val now = stamp.format(java.time.Instant.now())
    val conn = DriverManager.getConnection(url)
    try tables.map { t =>
      val ids = scala.util.Random.javaRandomToRandom(rng).shuffle((0 until rowsPerTable).toVector).take(k)
      val ps = conn.prepareStatement(s"UPDATE $t SET modifydate = ? WHERE id = ?")
      ids.foreach { id => ps.setString(1, now); ps.setLong(2, id.toLong); ps.addBatch() }
      ps.executeBatch()
      t -> k
    }.toMap
    finally conn.close()
  }

  private def cycle(c: Ctx): () => Outcome = {
    val churned = c.span("input.churn")(churn())
    val stagedBefore = Main.files(Seq(staged))
    val (synced, commits) = sync(c)
    val ingested = ingest(c)
    val delivered = Main.files(Seq(staged)).collect {
      case (p, (len, mt)) if !stagedBefore.get(p).contains((len, mt)) => len }.sum
    c.count("etl.rows_synced", synced.map(_._3).sum.toDouble)
    c.count("etl.rows_ingested", ingested.values.sum.toDouble)
    c.count("etl.commits", (commits + ingested.values.count(_ > 0)).toDouble)
    () => {
      val syncOk = synced.size == tables.size &&
        synced.forall { case (t, src, written) => src == written && written == sourceCount(t) }
      val ingestOk = tables.forall(t => ingested.get(t).contains(churned(t).toLong))
      Outcome(syncOk && ingestOk, delivered, s"synced=$synced ingested=$ingested churned=$churned")
    }
  }

  def pass(r: java.util.Random): Seq[Op] = Seq(Op("etl_cycle", cycle))
  /** The initial full load already runs Sync and Ingest over the whole source. */
  override def warmupPasses: Int = 0
  def outputDirs: Seq[File] = Seq(raw, staged, marks)
  def liveBytes: Long =
    tables.map { t =>
      val s = new SnapshotStore(s"$raw/$t")
      s.manifestAt()._3.map(s.infoBytes).sum
    }.sum + Main.files(Seq(staged)).values.map(_._1).sum
  def describe: String =
    s"""{"tables":${tables.size},"rows_per_table":$rowsPerTable,"churn_frac":$churnFrac}"""
}
