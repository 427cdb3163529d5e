package graft.jobs

import java.nio.file.Files
import java.sql.DriverManager
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** End-to-end runs of the two reference-equivalent jobs: Derby → RAW
  * parquet (SyncJob), then RAW → conformed staging (IngestJob) with the
  * incremental mode exercised through the watermark store.
  */
class JobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  System.setProperty("derby.system.home", Files.createTempDirectory("derby-jobs").toString)
  private val url = "jdbc:derby:memory:jobsdb;create=true"

  lazy val spark: SparkSession = graft.GraftSession.local("jobs-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-jobs").toString

  override def beforeAll(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE lead_xref (leadxrefguid VARCHAR(36), createdate VARCHAR(32), modifydate VARCHAR(32))")
    val ps = conn.prepareStatement("INSERT INTO lead_xref VALUES (?, ?, ?)")
    for (i <- 0 until 25) {
      ps.setString(1, s"guid-$i")
      ps.setString(2, "2024-01-01 10:00:00")
      ps.setString(3, s"2024-01-${10 + i % 20} 09:30:00")
      ps.addBatch()
    }
    ps.executeBatch()
    conn.close()
  }

  test("SyncJob: Derby table lands in the RAW zone with reconciled counts") {
    val raw = tmp()
    val out = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw))
    assert(out == Seq(("lead_xref", 25L, 25L)))
    assert(spark.read.parquet(s"$raw/lead_xref.parquet").count() == 25)

    // a missing table is isolated, not fatal (sync.py:169-179 behavior)
    val out2 = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "nope,lead_xref", "dest" -> tmp()))
    assert(out2.map(_._1) == Seq("lead_xref"))
  }

  test("SyncJob: exactly ONE Spark JDBC extraction per table (count is pushed down)") {
    // the reference's S2: the reconciliation count runs IN the database
    // (sync.py:45-55); the write is the only Spark pull, and the written
    // count comes from the file footers. Evidence: the job triggers
    // exactly one query execution, and its plan scans a JDBCRelation.
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // JobCount drains the listener bus, which delivers the
      // execution-listener events, before it returns
      val (out, _) = org.apache.spark.JobCount(spark.sparkContext)(SyncJob.run(spark, Map(
        "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> tmp())))
      assert(out == Seq(("lead_xref", 25L, 25L))) // reconciliation unchanged
      val jdbcScans = plans.asScala.count(_.contains("JDBCRelation"))
      assert(plans.size == 1 && jdbcScans == 1,
        s"expected exactly 1 execution, a JDBC extraction:\n${plans.asScala.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("SyncJob: pushedCount counts in the database, matching the table size") {
    assert(SyncJob.pushedCount(url, new java.util.Properties(), "lead_xref") == 25L)
  }

  test("SyncJob: dead database fails fast at the liveness probe, before any table work") {
    val dest = tmp()
    intercept[java.sql.SQLException] {
      SyncJob.run(spark, Map(
        "jdbc-url" -> "jdbc:derby:memory:nosuchdb", // no ;create=true → connect fails
        "tables" -> "lead_xref", "dest" -> dest))
    }
    assert(!new java.io.File(dest, "lead_xref.parquet").exists())
  }

  test("SyncJob: col:n partition form derives bounds via pushed-down MIN/MAX") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE numbered (id BIGINT, payload VARCHAR(16))")
    val ps = conn.prepareStatement("INSERT INTO numbered VALUES (?, ?)")
    for (i <- 100 to 199) { ps.setLong(1, i.toLong); ps.setString(2, s"p$i"); ps.addBatch() }
    ps.executeBatch()
    conn.close()

    assert(SyncJob.autoBounds(url, new java.util.Properties(), "numbered", "id") == (100L, 199L))
    val raw = tmp()
    val out = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "numbered", "dest" -> raw,
      "partition-col" -> "id:4"))
    assert(out == Seq(("numbered", 100L, 100L)))
    // the auto-bounded read really was 4 JDBC partitions
    val df = graft.etl.Pipeline.JdbcSource(url, "numbered", new java.util.Properties(),
      Some(("id", 100L, 199L, 4))).load(spark)
    assert(df.rdd.getNumPartitions == 4)
  }

  test("SyncJob + IngestJob: --format orc round-trips through both job stages") {
    val raw = tmp()
    val out = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw, "format" -> "orc"))
    assert(out == Seq(("lead_xref", 25L, 25L)))
    assert(spark.read.orc(s"$raw/lead_xref.orc").count() == 25)

    val staged = tmp()
    val full = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> tmp(),
      "tables" -> "lead_xref", "mode" -> "append", "format" -> "orc"))
    assert(full.map(_._2.rowsWritten) == Seq(25L))
    assert(spark.read.orc(s"$staged/lead_xref").count() == 25)
  }

  test("SyncJob + IngestJob: --format csv keeps header names through both stages") {
    val raw = tmp()
    val out = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw, "format" -> "csv"))
    assert(out == Seq(("lead_xref", 25L, 25L)))
    val cols = spark.read.option("header", "true").csv(s"$raw/lead_xref.csv").columns
    assert(!cols.exists(_.startsWith("_c")), s"headerless csv: ${cols.toSeq}")

    val staged = tmp()
    val full = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> tmp(),
      "tables" -> "lead_xref", "mode" -> "append", "format" -> "csv"))
    assert(full.map(_._2.rowsWritten) == Seq(25L))
  }

  test("format validation: delta is jar-gated with a clear message, unknown formats rejected") {
    val e = intercept[IllegalArgumentException](JobArgs.checkFormat("delta"))
    assert(e.getMessage.contains("delta-spark jars"))
    intercept[IllegalArgumentException](JobArgs.checkFormat("avro2"))
    assert(JobArgs.checkFormat("orc") == "orc")
  }

  test("CompactJob: 64 small files compact to the byte-derived target count") {
    import spark.implicits._
    val src = tmp()
    (1 to 10000).map(i => (i.toLong, s"payload_$i")).toDF("id", "payload")
      .repartition(64).write.mode("overwrite").parquet(src)
    def files(d: String) =
      new java.io.File(d).listFiles.count(f => f.getName.startsWith("part-"))
    assert(files(src) == 64)
    val dest = tmp()
    // a huge target-mb forces everything into one file
    val (rows, parts) = CompactJob.run(spark, Map(
      "src" -> src, "dest" -> dest, "target-mb" -> "1024"))
    assert(rows == 10000L && parts == 1 && files(dest) == 1)
    // row-level parity, not just counts
    assert(spark.read.parquet(dest).as[(Long, String)].collect().sorted.take(3)
      .toSeq == Seq((1L, "payload_1"), (2L, "payload_2"), (3L, "payload_3")))
  }

  test("CompactJob --snapshot: in-place rewrite version + vacuum, readers and feed undisturbed") {
    import spark.implicits._
    val root = tmp()
    val store = new graft.etl.SnapshotStore(root)
    // micro-batch accretion: 6 appends, one small file each
    (0 until 6).foreach { r =>
      store.commitAppend(
        (1L to 3000L).filter(_ % 6 == r).map(i => (i, s"p$i")).toDF("id", "p")
          .coalesce(1),
        statsColumn = Some("id"))
    }
    assert(store.read(spark).inputFiles.length == 6)
    val feedBefore = store.readChanges(spark, -1L).count()
    val (rows, parts) = CompactJob.run(spark, Map(
      "src" -> root, "snapshot" -> "on", "target-mb" -> "1024",
      "vacuum-keep" -> "1"))
    assert(rows == 3000L && parts == 1)
    assert(store.read(spark).inputFiles.length == 1)
    // vacuum kept only the compacted version; it holds ALL the rows
    assert(store.versions.length == 1)
    assert(store.read(spark).count() == 3000L)
    // the rewrite version is flagged: a post-vacuum feed over the single
    // surviving version emits nothing (dataChange=false)
    assert(feedBefore == 3000L)
    assert(store.readChanges(spark, store.versions.head - 1).isEmpty)
  }

  test("CurateJob: full pipeline runs end-to-end, counts monotone, batches split-fenced") {
    val dest = tmp()
    val conf = Map(
      "source" -> "/root/testdata/sf0.001/documents.parquet",
      "dest" -> dest,
      "min-words" -> "5",
      "threshold" -> "0.6",
      "balance-by" -> "lang",
      "splits" -> "train:0.8,val:0.2",
      "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "4", "batch-size" -> "8")
    val r = CurateJob.run(spark, conf)
    assert(r.input > 0)
    assert(r.afterQuality <= r.input)
    assert(r.afterGates == r.afterQuality, "no gates configured — stage is identity")
    assert(r.afterExact <= r.afterGates)
    assert(r.afterNearDup <= r.afterExact)
    assert(r.afterBalance <= r.afterNearDup)
    assert(r.chunks >= r.afterBalance, "every surviving doc yields >= 1 chunk")
    val docs = spark.read.parquet(s"$dest/documents")
    assert(docs.columns.contains("split"))
    val chunks = spark.read.parquet(s"$dest/chunks")
    // a batch never mixes splits, and batch ids are split-prefixed
    import org.apache.spark.sql.functions._
    val mixed = chunks.groupBy("batch_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(mixed == 0)
    val bad = chunks.filter(!substring_index(col("batch_id"), "-", 1).equalTo(col("split"))).count()
    assert(bad == 0, "batch_id must be prefixed with its split")
    // determinism: a re-run produces the identical surviving doc set
    val r2 = CurateJob.run(spark, Map(
      "source" -> "/root/testdata/sf0.001/documents.parquet",
      "dest" -> tmp(), "min-words" -> "5", "threshold" -> "0.6",
      "balance-by" -> "lang", "splits" -> "train:0.8,val:0.2",
      "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "4", "batch-size" -> "8"))
    assert(r2 == r)
  }

  test("CurateJob: --html-extract strips markup BEFORE the gates and outputs clean text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = tmp()
    // doc 1: real content wrapped in page chrome (script/style/comment
    // must not reach the gates); doc 2: chrome-only page — after
    // extraction it has too few words and must be gated OUT
    Seq(
      (1L, "<html><head><style>p{}</style><script>drop() < now</script></head>" +
        "<body><h1>Title &amp; More</h1><p>alpha beta gamma delta epsilon " +
        "zeta eta theta</p><!-- x --></body></html>", "en", "web"),
      (2L, "<html><body><script>only chrome here nothing else at all" +
        "</script><p>tiny</p></body></html>", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(src)
    val dest = tmp()
    val r = CurateJob.run(spark, Map(
      "source" -> src, "dest" -> dest, "html-extract" -> "on",
      "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40",
      "chunk-overlap" -> "10", "shards" -> "1", "batch-size" -> "8"))
    assert(r.input == 2 && r.afterQuality == 1, r)
    val out = spark.read.parquet(s"$dest/documents")
      .select("doc_id", "text").collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) ==
      "Title & More alpha beta gamma delta epsilon zeta eta theta")
  }

  test("CurateJob: leakage report and tokenizer artifacts materialize and are sane") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dest = tmp()
    CurateJob.run(spark, Map(
      "source" -> "/root/testdata/sf0.001/documents.parquet",
      "dest" -> dest, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:0.8,val:0.2",
      "leakage-report" -> "on", "train-tokenizer" -> "8",
      "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "4", "batch-size" -> "8"))
    val leak = spark.read.parquet(s"$dest/reports/split_leakage")
    assert(leak.columns.toSeq ==
      Seq("split_a", "split_b", "n_pairs", "cross", "share_ppm"))
    // shares are a floor-ppm distribution; cross flag matches labels
    val rows = leak.collect()
    assert(rows.map(_.getLong(4)).sum <= 1000000L)
    assert(rows.forall(r => r.getBoolean(3) == (r.getString(0) != r.getString(1))))
    val model = spark.read.parquet(s"$dest/tokenizer/model")
    assert(model.filter(col("is_char")).count() > 0)
    assert(model.filter(!col("is_char")).count() <= 8)
    val stats = spark.read.parquet(s"$dest/reports/token_stats")
    val surviving = spark.read.parquet(s"$dest/documents").count()
    assert(stats.count() == surviving)
    assert(stats.filter(col("n_pieces") < col("n_raw")).count() == 0)
  }

  test("CurateJob: profile report writes per-stage fingerprints + sketches, deterministic") {
    import org.apache.spark.sql.functions._
    val base = Map(
      "source" -> "/root/testdata/sf0.001/documents.parquet",
      "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:0.8,val:0.2",
      "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "4", "batch-size" -> "8", "profile-report" -> "on")
    val dest = tmp()
    val r = CurateJob.run(spark, base + ("dest" -> dest))
    val fp = spark.read.parquet(s"$dest/reports/profile_fingerprint")
    assert(fp.columns.toSeq == Seq("stage", "n_rows", "xor_fp", "min_hash", "max_hash"))
    val byStage = fp.collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(byStage.keySet == Set("0_input", "1_quality", "2_gates",
      "3_exact", "4_neardup", "5_final"))
    // the fingerprint counts ARE the report counts — same relations
    assert(byStage("0_input") == r.input && byStage("1_quality") == r.afterQuality &&
      byStage("3_exact") == r.afterExact && byStage("5_final") == r.afterBalance)
    val sk = spark.read.parquet(s"$dest/reports/profile_sketch")
    assert(sk.columns.toSeq == Seq("stage", "n", "t", "items"))
    val skN = sk.collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    // every doc has tokens (post-tokenize nulls excluded only at input)
    assert(skN("5_final") == r.afterBalance)
    assert(skN.values.forall(_ > 0))
    assert(sk.filter(size(col("items")) > 256).count() == 0, "sketch budget respected")
    // determinism: a re-run writes bit-identical artifacts (the diff
    // discipline depends on it)
    val dest2 = tmp()
    CurateJob.run(spark, base + ("dest" -> dest2))
    val fp2 = spark.read.parquet(s"$dest2/reports/profile_fingerprint")
    assert(fp.collect().toSet == fp2.collect().toSet)
    val sk2 = spark.read.parquet(s"$dest2/reports/profile_sketch")
    assert(sk.collect().map(_.toString).toSet == sk2.collect().map(_.toString).toSet)
  }

  test("MediaCurateJob: mixed corpus end-to-end — decode screen, QA gates, perceptual dedup") {
    import spark.implicits._
    def pgm(px: Array[Byte]): Array[Byte] =
      "P5\n16 16\n255\n".getBytes("US-ASCII") ++ px
    def imgPixels(seed: Int): Array[Byte] = Array.tabulate(256)(j =>
      (graft.ext.TextHash.hash64Local(s"img$seed:$j") % 256).toByte)
    def patched(px: Array[Byte]): Array[Byte] = {
      val v = px.clone()
      (0 until 32).foreach(j =>
        if (j % 16 < 4) v(j) = math.min(255, (v(j) & 0xff) + 40).toByte)
      v
    }
    def wav(samples: Seq[Int]): Array[Byte] =
      graft.multimodal.Media.wavHeader(samples.length, 8000, 1, 16) ++
        samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    def noise(seed: Int): Seq[Int] = Seq.tabulate(256)(j =>
      (((graft.ext.TextHash.hash64Local(s"aud$seed:$j") % 80001L) - 40000L).toInt)
        .max(-32768).min(32767))
    def bumped(s: Seq[Int]): Seq[Int] =
      s.zipWithIndex.map { case (v, j) =>
        if (j < 8) (v + 6000).min(32767) else v }

    def avi(frames: Seq[Seq[Int]]): Array[Byte] = {
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        frames.map(f => new org.apache.spark.sql.catalyst.util.GenericArrayData(
          f.toArray).asInstanceOf[Any]).toArray)
      graft.functions.AviEncode(null, null, null).encode(ad, 16, 16)
    }
    def vidKey(seed: Int): Seq[Int] = Seq.tabulate(256) { j =>
      // md5-derived so distinct seeds give UNCORRELATED images — a
      // shifted polynomial in j is the same dHash up to wraparound
      ((graft.ext.TextHash.hash64Local(s"vid$seed:$j") % 256L).toInt) * 0x010101
    }
    def nudgedKey(base: Seq[Int]): Seq[Int] = base.zipWithIndex.map { case (p, j) =>
      if (j < 16) math.min(255, (p & 0xff) + 2) * 0x010101 else p
    }
    val vidFiller = Seq.tabulate(256)(j => (j % 256) * 0x010101)

    val base10 = imgPixels(1)
    val base20 = noise(1)
    val base30 = vidKey(1)
    val corpus = Seq(
      (10L, "image", pgm(base10)),                   // survivor
      (11L, "image", pgm(patched(base10))),          // near-dup of 10 -> dropped
      (12L, "image", pgm(imgPixels(2))),             // distinct survivor
      (13L, "image", "P5\n4 4\n255\n".getBytes("US-ASCII") ++
        Array.fill[Byte](16)(7)),                    // below min-dim gate
      (14L, "image", Array[Byte](1, 2, 3)),          // undecodable
      (20L, "audio", wav(base20)),                   // survivor
      (21L, "audio", wav(bumped(base20))),           // near-dup of 20 -> dropped
      (22L, "audio", wav(noise(2))),                 // distinct survivor
      (23L, "audio", wav(Seq(5, -5, 5, -5))),        // too short
      (24L, "audio", wav(Seq.fill(256)(32767))),     // fully clipped
      (25L, "audio", Array[Byte](9, 9)),             // undecodable
      (30L, "video", avi(Seq(base30, vidFiller, vidFiller))),   // survivor
      (31L, "video", avi(Seq(nudgedKey(base30), vidFiller, vidFiller))), // near-dup -> dropped
      (32L, "video", avi(Seq(vidKey(77), vidFiller, vidFiller))), // distinct survivor
      (33L, "video", avi(Seq(base30))),              // too few frames
      (34L, "video", avi(Seq.fill(3)(Seq.fill(256)(0)))), // all-black -> exposure
      (35L, "video", Array[Byte](8, 8, 8)))          // undecodable
    val src = tmp() + "/media_src"
    corpus.toDF("media_id", "kind", "payload").write.parquet(src)
    val dest = tmp()
    val conf = Map("source" -> src, "dest" -> dest,
      "min-dim" -> "8", "min-duration-ms" -> "10", "max-clip-ppm" -> "300000",
      "min-frames" -> "2", "min-luma" -> "16", "max-luma" -> "240",
      "every" -> "2")
    val r = MediaCurateJob.run(spark, conf)
    assert(r.input == 17L && r.decodable == 14L && r.afterQa == 9L)
    assert(r.afterNearDup == 6L && r.images == 2L && r.audio == 2L && r.videos == 2L)
    val vidOut = spark.read.parquet(s"$dest/media/video")
    assert(vidOut.select("media_id").collect().map(_.getLong(0)).toSet == Set(30L, 32L))
    assert(vidOut.columns.contains("n_frames") && vidOut.columns.contains("mean_luma"))
    val img = spark.read.parquet(s"$dest/media/image")
    assert(img.select("media_id").collect().map(_.getLong(0)).toSet == Set(10L, 12L))
    assert(img.columns.contains("width") && img.columns.contains("height"))
    val aud = spark.read.parquet(s"$dest/media/audio")
    assert(aud.select("media_id").collect().map(_.getLong(0)).toSet == Set(20L, 22L))
    assert(aud.columns.contains("clip_ppm") && aud.columns.contains("duration_ms"))
    val sumy = spark.read.parquet(s"$dest/reports/media_summary")
      .collect().map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
    assert(sumy(("image", "0_input")) == 5L && sumy(("image", "1_decodable")) == 4L)
    assert(sumy(("image", "2_qa")) == 3L && sumy(("image", "3_neardup")) == 2L)
    assert(sumy(("audio", "0_input")) == 6L && sumy(("audio", "1_decodable")) == 5L)
    assert(sumy(("audio", "2_qa")) == 3L && sumy(("audio", "3_neardup")) == 2L)
    assert(sumy(("video", "0_input")) == 6L && sumy(("video", "1_decodable")) == 5L)
    assert(sumy(("video", "2_qa")) == 3L && sumy(("video", "3_neardup")) == 2L)
    // counts are monotone per kind, and a re-run is deterministic
    val dest2 = tmp()
    val r2 = MediaCurateJob.run(spark, conf + ("dest" -> dest2))
    assert(r == r2)
  }

  test("CurateJob: encoding screen drops mojibake/control docs before any gate") {
    import spark.implicits._
    val src = tmp()
    Seq(
      (1L, "A clean sample document. This one stays in the corpus for sure."),
      (2L, "Bad doc Ã©Ã¨ â€™ Â° mojibake everywhere in this one now."),
      (3L, "Control char doc with a bell hidden inside it today."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val dest = tmp()
    val r = CurateJob.run(spark, Map(
      "source" -> src, "dest" -> dest, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "2", "batch-size" -> "8"))
    assert(r.input == 3 && r.afterQuality == 1, r)
    val survivors = spark.read.parquet(s"$dest/documents")
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("CurateJob: pii-screen drops checksum-valid leaks, keeps lookalike numbers") {
    import spark.implicits._
    val src = tmp()
    Seq(
      (1L, "An ordinary document with plenty of harmless words in it today."),
      // Luhn-valid card → a real leak, doc dropped
      (2L, "Contact me and charge card 4532 0151 1283 0366 for the rest."),
      // same shape, checksum fails → kept (scrub will redact the span)
      (3L, "Order reference 4532 0151 1283 0367 shipped yesterday evening."),
      // valid IBAN → dropped
      (4L, "Wire the funds to DE89370400440532013000 before next friday."),
      // corrupted IBAN → kept
      (5L, "Tracking code DE89370400440532013001 means nothing to anyone."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val base = Map(
      "source" -> src, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "2", "batch-size" -> "8")
    val off = CurateJob.run(spark, base + ("dest" -> tmp()))
    assert(off.afterQuality == 5)
    val dest = tmp()
    val on = CurateJob.run(spark, base + ("dest" -> dest, "pii-screen" -> "on"))
    assert(on.afterQuality == 3, on)
    val ids = spark.read.parquet(s"$dest/documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L))
  }

  test("CurateJob: blocklist and LM-floor gates drop the right docs") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val base = Map(
      "source" -> src, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "2", "batch-size" -> "8")
    val off = CurateJob.run(spark, base + ("dest" -> tmp()))
    // blocklist: every surviving doc is free of the term, and at least
    // one doc was dropped (the term occurs in the fixture corpus)
    val dest = tmp()
    val on = CurateJob.run(spark, base + ("dest" -> dest, "blocklist" -> "slow"))
    assert(on.afterGates < off.afterGates)
    val survivors = spark.read.parquet(s"$dest/documents")
    assert(survivors.filter(array_contains(split(col("text"), " "), "slow")).count() == 0)
    // LM floor at the maximum possible score (1e9) kills every doc
    // whose transitions aren't all deterministic — a strictly smaller
    // corpus than the ungated run on this fixture
    val lm = CurateJob.run(spark,
      base + ("dest" -> tmp(), "min-lm-ppb" -> "1000000000"))
    assert(lm.afterGates < off.afterGates)
  }

  test("CurateJob: readability floor, domain blocklist, and token-budget mixture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 50 alphabetic words, zero terminators: passes the Gopher gates
    // (alpha ratio 1.0, mean len 5) but FRE is deeply negative
    val runOn = Seq.fill(50)("lorem").mkString(" ")
    val src = tmp()
    Seq(
      (1L, "web", "The cat sat on the mat. It was a good day."),
      (2L, "web", runOn), // readability victim (FRE deep negative)
      (3L, "web", "See https://spam.example/bad for junk deals. It is bad stuff."),
      (4L, "books", "Nice prose lives here today. See https://ok.example/page for more."),
      (5L, "books", "Plain and simple words make this fine. All is well."))
      .toDF("doc_id", "source", "text").write.mode("overwrite").parquet(src)
    val base = Map(
      "source" -> src, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "2", "batch-size" -> "8")
    // gates: domain drop is pre-scrub (counted in afterQuality), the
    // FRE floor is a content gate (counted in afterGates)
    val dest = tmp()
    val r = CurateJob.run(spark, base + ("dest" -> dest,
      "min-fre-milli" -> "50000", "domain-blocklist" -> "spam.example"))
    assert(r.afterQuality == 4, r) // doc 3 cited spam.example
    assert(r.afterGates == 3, r) // doc 2 failed the FRE floor
    val ids = spark.read.parquet(s"$dest/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L, 5L))
    // token budget: only weighted sources survive, within their budgets
    val dest2 = tmp()
    val r2 = CurateJob.run(spark, base + ("dest" -> dest2,
      "token-budget" -> "30", "mix-weights" -> "web:1,books:2"))
    val mixed = spark.read.parquet(s"$dest2/documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .as[(String, Long)].collect()
    assert(r2.afterBalance == mixed.length.toLong && mixed.nonEmpty)
    val bySrc = mixed.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(bySrc.getOrElse("web", 0L) <= 10L) // 30*1/3
    assert(bySrc.getOrElse("books", 0L) <= 20L) // 30*2/3
    // budget requires weights
    intercept[RuntimeException] {
      CurateJob.run(spark, base + ("dest" -> tmp(), "token-budget" -> "30"))
    }
  }

  test("CurateJob: sentence gate drops boundary-less docs; source reports written") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // purpose-built corpus: the driver fixtures carry no punctuation at
    // all (the q178 signal still hash-checks there, but a sentence GATE
    // on them is all-or-nothing), so the gate's selectivity needs its
    // own docs — including a cross-source exact dup for the reports
    val src = tmp()
    Seq(
      (1L, "web", "Good prose sample. It ends well."),
      (2L, "web", "no punctuation here at all"), // gate victim
      (3L, "books", "Good prose sample. It ends well."), // exact dup of 1
      (4L, "books", "Trailing junk that ends with a bang!   "),
      (5L, "books", "Another fine doc here. Quite fine!"))
      .toDF("doc_id", "source", "text").write.mode("overwrite").parquet(src)
    val dest = tmp()
    val r = CurateJob.run(spark, Map(
      "source" -> src, "dest" -> dest, "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:1.0", "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "2", "batch-size" -> "8",
      "min-sentences" -> "1", "report-sources" -> "source"))
    assert(r.afterQuality == 5 && r.afterGates == 4, r)
    assert(r.afterExact == 3, "the cross-source dup must collapse") // 1/3 -> one
    // every survivor ends at a sentence boundary
    val survivors = spark.read.parquet(s"$dest/documents")
    assert(survivors
      .filter(!substring(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+$", ""), -1, 1)
        .isin(".", "!", "?")).count() == 0)
    // dup report: computed on the gated corpus — web {1}, books {3,4,5};
    // docs 1 and 3 share a canonical hash, so each side reports 1 dup
    val dup = spark.read.parquet(s"$dest/reports/dup_rate_by_source")
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(dup == Map("web" -> ((1L, 1L)), "books" -> ((3L, 1L))))
    // overlap: web's whole shingle vocabulary is contained in books'
    val ov = spark.read.parquet(s"$dest/reports/source_overlap").collect()
    assert(ov.length == 1)
    assert(ov.head.getAs[String]("source_a") == "books" &&
      ov.head.getAs[String]("source_b") == "web" &&
      ov.head.getAs[Double]("containment") == 1.0)
  }

  test("jsonStr escapes quotes, backslashes and newlines for log lines") {
    assert(JobArgs.jsonStr("a\"b\\c\nd") == "\"a\\\"b\\\\c\\nd\"")
    assert(JobArgs.jsonStr(null) == "\"\"")
  }

  test("IngestJob: full load conforms RAW to the declared schema; incremental appends the delta") {
    val raw = tmp()
    SyncJob.run(spark, Map("jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw))
    val staged = tmp()
    val wm = tmp()

    val full = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> wm,
      "tables" -> "lead_xref", "mode" -> "append"))
    assert(full.map(_._2.rowsWritten) == Seq(25L))
    val conformed = spark.read.parquet(s"$staged/lead_xref")
    assert(conformed.count() == 25)
    assert(conformed.schema.fieldNames.toSeq ==
      graft.etl.TableSchemas.schemas("lead_xref").fieldNames.toSeq)

    // incremental: watermark dir is fresh → epoch fallback → everything
    // qualifies as delta; rows APPEND onto the full load (at-least-once)
    val inc = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> wm,
      "tables" -> "lead_xref", "mode" -> "delta_insert"))
    assert(inc.map(_._2.rowsWritten) == Seq(25L))
    assert(spark.read.parquet(s"$staged/lead_xref").count() == 50)

    // watermark now set to wall clock → immediate re-run ships nothing
    val inc2 = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> wm,
      "tables" -> "lead_xref", "mode" -> "delta_insert"))
    assert(inc2.map(_._2.skippedEmpty) == Seq(true))
  }

  test("IngestJob: a table that fails still lets every settled table print its line") {
    val raw = tmp()
    SyncJob.run(spark, Map("jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw))
    // only lead_xref has a RAW file: the other tables fail at load
    def ingest(tables: String): (Throwable, String, String) = {
      val (out, err) = (new java.io.ByteArrayOutputStream, new java.io.ByteArrayOutputStream)
      val e = Console.withOut(out)(Console.withErr(err)(intercept[Throwable](IngestJob.run(spark, Map(
        "source-dir" -> raw, "sink-dir" -> tmp(), "watermark-dir" -> tmp(), "tables" -> tables)))))
      (e, out.toString("UTF-8"), err.toString("UTF-8"))
    }
    // the thrown failure then the suppressed ones (Spark attaches its
    // own caller-stacktrace marker as a suppressed exception too)
    def missing(e: Throwable): Seq[String] = (e +: e.getSuppressed.toSeq).map(_.getMessage)
      .collect { case m if m.contains("PATH_NOT_FOUND") => m.split('/').last.takeWhile(_ != '.') }
    val (e, out, err) = ingest("lead_xref,lead")
    assert(missing(e) == Seq("lead"), e)
    assert(out.linesIterator.toSeq ==
      Seq("""{"job":"ingest","table":"lead_xref","rows":25,"skipped_empty":false}"""), out)
    assert(err.contains(""""table":"lead","error":"""), err)
    // two failures: the first in table order is thrown, the other
    // suppressed, and the table between them still reports
    val (e2, out2, err2) = ingest("lead_assignment,lead_xref,lead")
    assert(missing(e2) == Seq("lead_assignment", "lead"), e2)
    assert(out2.linesIterator.toSeq.map(_.contains(""""table":"lead_xref"""")) == Seq(true), out2)
    assert(err2.linesIterator.count(_.contains(""""error":""")) == 2, err2)
  }

  test("SyncJob and IngestJob refuse a table named twice") {
    val raw = tmp()
    val e = intercept[IllegalArgumentException](SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref,lead_xref", "dest" -> raw)))
    assert(e.getMessage.contains("duplicate table names [lead_xref]"), e.getMessage)
    assert(!new java.io.File(s"$raw/lead_xref.parquet").exists)
    val staged = tmp()
    val e2 = intercept[IllegalArgumentException](IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "tables" -> "lead,lead_xref,lead")))
    assert(e2.getMessage.contains("duplicate table names [lead]"), e2.getMessage)
    assert(new java.io.File(staged).list().isEmpty)
  }

  test("SyncJob and IngestJob jobs carry the caller's job group across the table threads") {
    val conn = DriverManager.getConnection(url)
    try Seq("lead" -> "leadguid", "lead_assignment" -> "leadassignmentguid").foreach {
      case (t, key) =>
        val st = conn.createStatement()
        st.executeUpdate(
          s"CREATE TABLE $t ($key VARCHAR(36), createdate VARCHAR(32), modifydate VARCHAR(32))")
        st.executeUpdate(s"INSERT INTO $t SELECT * FROM lead_xref")
    } finally conn.close()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val (raw, staged) = (tmp(), tmp())
    val tables = "lead_assignment,lead_xref,lead"
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (_, jobs) = try org.apache.spark.JobCount(sc) {
      sc.setJobGroup("etl-cycle", "one cron cycle")
      try {
        val synced = SyncJob.run(spark, Map(
          "jdbc-url" -> url, "tables" -> tables, "dest" -> raw, "snapshot" -> "on"))
        assert(synced.map(_._3) == Seq(25L, 25L, 25L))
        val ingested = IngestJob.run(spark, Map(
          "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> tmp(),
          "tables" -> tables, "mode" -> "delta_insert", "snapshot" -> "on"))
        assert(ingested.map(_._1) == tables.split(",").toSeq)
        assert(ingested.map(_._2.rowsWritten) == Seq(25L, 25L, 25L))
      } finally sc.clearJobGroup()
    } finally sc.removeSparkListener(listener)
    assert(jobs > 0 && groups.size == jobs)
    assert(groups.asScala.toSet == Set("etl-cycle"), groups)
  }

  test("SyncJob --snapshot: versioned RAW zone, atomic re-sync, IngestJob consumes the pin") {
    import org.apache.spark.sql.functions.col
    val raw = tmp()
    // sync #1 -> version 0 of the RAW table
    val out1 = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw,
      "snapshot" -> "on"))
    assert(out1 == Seq(("lead_xref", 25L, 25L)))
    val store = new graft.etl.SnapshotStore(s"$raw/lead_xref")
    assert(store.versions == Seq(0L))
    // a reader pins v0...
    val pinned = store.read(spark, Some(0L))
    // ...while a database change + re-sync lands as version 1
    val c = DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      "INSERT INTO lead_xref VALUES ('guid-new', '2024-02-01 10:00:00', '2024-02-02 09:30:00')")
    c.close()
    val out2 = SyncJob.run(spark, Map(
      "jdbc-url" -> url, "tables" -> "lead_xref", "dest" -> raw,
      "snapshot" -> "on"))
    assert(out2 == Seq(("lead_xref", 26L, 26L)))
    assert(store.versions == Seq(0L, 1L))
    assert(pinned.count() == 25L, "pinned v0 reader unaffected by the re-sync")
    assert(store.read(spark).count() == 26L)
    // IngestJob --snapshot conforms the LATEST version
    val staged = tmp()
    val ing = IngestJob.run(spark, Map(
      "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> tmp(),
      "tables" -> "lead_xref", "snapshot" -> "on", "historical" -> "true"))
    assert(ing.map(_._2.rowsWritten) == Seq(26L))
    assert(spark.read.parquet(s"$staged/lead_xref")
      .filter(col("LEAD_XREF_GUID") === "guid-new").count() == 1L)
    // cleanup the extra row so later tests see the original 25
    val c2 = DriverManager.getConnection(url)
    c2.createStatement().executeUpdate(
      "DELETE FROM lead_xref WHERE leadxrefguid = 'guid-new'")
    c2.close()
  }

  test("MediaCurateJob: compressed videos admitted by container metadata, exact-dup by fingerprint") {
    import spark.implicits._
    def h264(sizes: Seq[Int]): Array[Byte] =
      graft.functions.AviEncodeMeta(Seq(null, null, null, null, null)).encode(
        org.apache.spark.unsafe.types.UTF8String.fromString("H264"), 32, 24,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sizes.toArray[Any]), 2)
    def avi(frames: Seq[Seq[Int]]): Array[Byte] = {
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        frames.map(f => new org.apache.spark.sql.catalyst.util.GenericArrayData(
          f.toArray).asInstanceOf[Any]).toArray)
      graft.functions.AviEncode(null, null, null).encode(ad, 16, 16)
    }
    val grayFrame = Seq.tabulate(256)(_ => 128 * 0x010101)
    // a REAL Motion-JPEG MP4 (gradient pattern: distinct dHash from the
    // flat DIB clip, mid luma passes the exposure gate)
    def jpegMp4(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, (((x * 16 + y * 3) % 192) + 32) * 0x010101)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      javax.imageio.ImageIO.write(img, "jpg", ios); ios.flush(); ios.close()
      val f = out.toByteArray
      graft.functions.Mp4.container("jpeg", 16, 16, Seq(f, f, f), 2)
    }
    def mp4(codec: String, sizes: Seq[Int]): Array[Byte] =
      graft.functions.Mp4EncodeMeta(Seq(null, null, null, null, null)).encode(
        org.apache.spark.unsafe.types.UTF8String.fromString(codec), 32, 24,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sizes.toArray[Any]), 2)
    val corpus = Seq(
      (40L, "video", avi(Seq(grayFrame, grayFrame))),  // decodable DIB -> pixel path
      (50L, "video", h264(Seq(100, 200, 300))),        // compressed survivor
      (51L, "video", h264(Seq(100, 200, 300))),        // exact container dup of 50 -> dropped
      (52L, "video", h264(Seq(100, 200, 301))),        // distinct stream -> survives
      (53L, "video", h264(Seq(500))),                  // too few frames -> gated
      (54L, "video", Array[Byte](3, 1, 4)),            // garbage: fails triage too
      (55L, "video", mp4("avc1", Seq(900, 901, 902))), // MP4: admitted by metadata
      (56L, "video", mp4("hvc1", Seq(100, 200, 300))), // MP4 w/ AVI-50's plan but
                                                       //   its own codec -> distinct fp
      (57L, "video", mp4("avc1", Seq(900, 901, 902))), // exact MP4 dup of 55 -> dropped
      (58L, "video", jpegMp4()))                       // MJPEG MP4: DECODES -> pixel path
    val src = tmp() + "/vid_src"
    corpus.toDF("media_id", "kind", "payload").write.parquet(src)
    val dest = tmp()
    MediaCurateJob.run(spark, Map("source" -> src, "dest" -> dest,
      "min-frames" -> "2", "min-luma" -> "16", "max-luma" -> "240",
      "every" -> "2"))
    val compressed = spark.read.parquet(s"$dest/media/video_compressed")
    assert(compressed.select("media_id").collect().map(_.getLong(0)).toSet ==
      Set(50L, 52L, 55L, 56L),
      "metadata path: AVI + MP4 admitted, dups and short containers dropped, garbage refused")
    assert(compressed.filter($"media_id" === 50L).select("codec").head().getString(0) == "H264")
    assert(compressed.filter($"media_id" === 55L).select("codec").head().getString(0) == "avc1")
    // decodable clips stay on the PIXEL path, not the metadata path:
    // the DIB AVI and the MJPEG MP4 both pass the DECODE screen
    val pixel = spark.read.parquet(s"$dest/media/video")
    assert(pixel.select("media_id").collect().map(_.getLong(0)).toSet ==
      Set(40L, 58L),
      "an MJPEG MP4 must be admitted through the decode screen, not triage")
    val sumy = spark.read.parquet(s"$dest/reports/media_summary")
      .collect().map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
    assert(sumy(("video_meta", "1_triaged")) == 7L)
    assert(sumy(("video_meta", "2_qa")) == 6L)
    assert(sumy(("video_meta", "3_exactdup")) == 4L)
  }

  test("CurateJob: --dsir-target steers the mix toward the target domain, deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // target = one source's docs, carved out of the same corpus
    val targetDir = tmp() + "/target"
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.filter($"source" === "src0").select($"text")
      .write.mode("overwrite").parquet(targetDir)
    val base = Map(
      "source" -> "/root/testdata/sf0.001/documents.parquet",
      "dest" -> tmp(), "min-words" -> "5", "threshold" -> "0.6",
      "splits" -> "train:0.8,val:0.2",
      "chunk-window" -> "40", "chunk-overlap" -> "10",
      "shards" -> "4", "batch-size" -> "8")
    val plain = CurateJob.run(spark, base)
    val dsirDest = tmp()
    val dsir = CurateJob.run(spark,
      base + ("dest" -> dsirDest, "dsir-target" -> targetDir, "dsir-rate" -> "0.5"))
    // the stage SELECTS: fewer (or equal) docs survive, pipeline intact
    assert(dsir.afterNearDup == plain.afterNearDup, "dsir sits after dedup")
    assert(dsir.afterBalance < plain.afterBalance,
      s"dsir at rate 0.5 must thin the mix (${dsir.afterBalance} vs ${plain.afterBalance})")
    assert(dsir.afterBalance > 0)
    val kept = spark.read.parquet(s"$dsirDest/documents")
    assert(!kept.columns.contains("dsir_ppm"), "score columns are internal")
    // determinism: identical re-run, identical surviving set
    val dsir2 = CurateJob.run(spark,
      base + ("dest" -> tmp(), "dsir-target" -> targetDir, "dsir-rate" -> "0.5"))
    assert(dsir2 == dsir)
  }

  test("quarantine: one poison row files with its cause, the other N-1 land, ledger stays exactly-once") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val props = new java.util.Properties()
    // target with a real constraint to violate — quoted-lowercase
    // columns, the identifiers the Spark JDBC writer emits
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      """CREATE TABLE quar_tgt ("id" BIGINT PRIMARY KEY, "v" VARCHAR(20), "batch_id" BIGINT)""")
    conn.createStatement().executeUpdate(
      """INSERT INTO quar_tgt VALUES (3, 'already-there', NULL)""")
    conn.close()
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "poison"), (4L, "d"), (5L, "e"))
      .toDF("id", "v")
    // the bulk append dies on id=3 (duplicate key) — on_error=CONTINUE
    // parity loads the 4 good rows and files the poison one with the
    // database's own error text (ingest.py:795-799)
    assert(EventStreams.jdbcIdempotentAppend(
      batch, 7L, url, "quar_tgt", props, quarantine = Some("quar_rejects")))
    val tgt = spark.read.jdbc(url, "quar_tgt", props)
    assert(tgt.count() == 5L) // 1 pre-existing + 4 of the batch
    assert(tgt.filter($"batch_id" === 7L).count() == 4L)
    val rejects = spark.read.jdbc(url, "quar_rejects", props).collect()
    assert(rejects.length == 1)
    assert(rejects.head.getAs[Long]("BATCH_ID") == 7L)
    assert(rejects.head.getAs[String]("ERR").toLowerCase.contains("duplicate key"))
    assert(rejects.head.getAs[String]("PAYLOAD").contains("\"id\":3"))
    // replay of the committed batch: skipped, nothing double-applied
    assert(!EventStreams.jdbcIdempotentAppend(
      batch, 7L, url, "quar_tgt", props, quarantine = Some("quar_rejects")))
    assert(spark.read.jdbc(url, "quar_tgt", props).count() == 5L)
    assert(spark.read.jdbc(url, "quar_rejects", props).count() == 1L)
    // crashed-attempt retry (ledger row lost): DELETE-by-batch_id
    // repairs data AND quarantine rows, so the retry converges to the
    // same state instead of accreting rejects
    val c2 = DriverManager.getConnection(url)
    c2.createStatement().executeUpdate("DELETE FROM quar_tgt_commits WHERE batch_id = 7")
    c2.close()
    assert(EventStreams.jdbcIdempotentAppend(
      batch, 7L, url, "quar_tgt", props, quarantine = Some("quar_rejects")))
    assert(spark.read.jdbc(url, "quar_tgt", props).count() == 5L)
    assert(spark.read.jdbc(url, "quar_rejects", props).count() == 1L)
    // a non-database failure (bad URL) must PROPAGATE, not quarantine
    assertThrows[Exception] {
      EventStreams.jdbcIdempotentAppend(
        batch, 8L, "jdbc:derby:memory:nosuchdb", "quar_tgt", props,
        quarantine = Some("quar_rejects"))
    }
  }

  /** A Derby database of its own holding the three RAW tables, the first
    * (`lead_assignment`) much larger than the other two, so that its
    * Sync and Ingest finish last. */
  private val cycleUrl = "jdbc:derby:memory:jobscycle;create=true"
  private val cycleTables = Seq("lead_assignment" -> 3000, "lead_xref" -> 25, "lead" -> 25)
  private val cycleKey = Map("lead_assignment" -> "leadassignmentguid",
    "lead_xref" -> "leadxrefguid", "lead" -> "leadguid")
  private lazy val cycleDb: Unit = {
    val conn = DriverManager.getConnection(cycleUrl)
    try cycleTables.foreach { case (t, n) =>
      conn.createStatement().executeUpdate(
        s"CREATE TABLE $t (${cycleKey(t)} VARCHAR(36), createdate VARCHAR(32), modifydate VARCHAR(32))")
      val ps = conn.prepareStatement(s"INSERT INTO $t VALUES (?, ?, ?)")
      (0 until n).foreach { i =>
        ps.setString(1, s"$t-$i"); ps.setString(2, "2024-01-01 10:00:00")
        ps.setString(3, s"2024-01-${10 + i % 20} 09:30:00"); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  /** Three rows of each cycle table modified now. */
  private def churn(): Unit = {
    val now = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val conn = DriverManager.getConnection(cycleUrl)
    try cycleTables.foreach { case (t, _) =>
      conn.createStatement().executeUpdate(
        s"UPDATE $t SET modifydate = '$now' WHERE ${cycleKey(t)} IN ('$t-1', '$t-2', '$t-3')")
    } finally conn.close()
  }

  /** One cron cycle: Sync into the snapshot RAW zone, then incremental Ingest. */
  private def cronCycle(raw: String, staged: String, wm: String)
      : (Seq[(String, Long, Long)], Seq[(String, graft.etl.Pipeline.Report)]) = {
    cycleDb
    val tables = cycleTables.map(_._1).mkString(",")
    (SyncJob.run(spark, Map(
      "jdbc-url" -> cycleUrl, "tables" -> tables, "dest" -> raw, "snapshot" -> "on")),
      IngestJob.run(spark, Map(
        "source-dir" -> raw, "sink-dir" -> staged, "watermark-dir" -> wm,
        "tables" -> tables, "mode" -> "delta_insert", "snapshot" -> "on")))
  }

  test("SyncJob and IngestJob print their per-table lines in table order") {
    val (raw, staged, wm) = (tmp(), tmp(), tmp())
    val order = cycleTables.map(_._1)
    (1 to 2).foreach { run =>
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(buf)(cronCycle(raw, staged, wm))
      val lines = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{\"job\"")).toSeq
      def tables(job: String, key: String) = lines
        .filter(l => l.contains(s"\"job\":\"$job\"") && l.contains(key))
        .map(_.split("\"table\":\"")(1).takeWhile(_ != '"'))
      assert(tables("sync", "written_rows") == order, s"run $run:\n${lines.mkString("\n")}")
      assert(tables("sync", "snapshot_version") == order, s"run $run:\n${lines.mkString("\n")}")
      assert(tables("ingest", "rows") == order, s"run $run:\n${lines.mkString("\n")}")
    }
  }

  test("a three-table Sync + incremental Ingest cron cycle runs at most 6 Spark jobs") {
    val (raw, staged, wm) = (tmp(), tmp(), tmp())
    val (synced0, ingested0) = cronCycle(raw, staged, wm) // the full load
    assert(synced0.map(_._3) == cycleTables.map(_._2.toLong))
    assert(ingested0.map(_._2.rowsWritten) == cycleTables.map(_._2.toLong))
    churn()
    val ((synced, ingested), jobs) =
      org.apache.spark.JobCount(spark.sparkContext)(cronCycle(raw, staged, wm))
    assert(synced.map(_._3) == cycleTables.map(_._2.toLong))
    assert(ingested.map(_._2.rowsWritten) == Seq(3L, 3L, 3L))
    // one extraction per table, one write per table: no count or probe job
    assert(jobs <= 6, s"the cycle ran $jobs Spark jobs")
  }

  test("a Sync + incremental Ingest cron cycle starts no OS process") {
    val (raw, staged, wm) = (tmp(), tmp(), tmp())
    cronCycle(raw, staged, wm) // the full load
    churn()
    // without libhadoop, Hadoop's own `file` scheme forks a chmod for
    // every file and directory it creates: about 100 per cycle
    val ((_, ingested), started) = graft.ProcessStarts(cronCycle(raw, staged, wm))
    assert(ingested.map(_._2.rowsWritten) == Seq(3L, 3L, 3L))
    assert(started.isEmpty, s"${started.size} processes: ${started.take(5).mkString("; ")}")
  }

  test("SyncJob: a manifest pointing at fewer rows than the source count is a count drift") {
    java.sql.DriverManager.registerDriver(new DriftDriver)
    // a source whose pushed COUNT(*) sees one row more than its extraction
    val drifting = "jdbc:graftdrift:memory:jobsdb"
    Seq(Map("snapshot" -> "on"), Map.empty[String, String]).foreach { extra =>
      val err = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val out = try SyncJob.run(spark, Map(
          "jdbc-url" -> drifting, "tables" -> "lead_xref", "dest" -> tmp()) ++ extra)
        finally System.setErr(saved)
      assert(out == Seq(("lead_xref", 26L, 25L)), extra)
      assert(err.toString("UTF-8").linesIterator.contains(
        """{"job":"sync","table":"lead_xref","warn":"count drift 26 -> 25"}"""), err.toString("UTF-8"))
    }
  }

  test("CompactJob reports the rows a Spark count() reads back") {
    import spark.implicits._
    val root = tmp()
    val store = new graft.etl.SnapshotStore(root)
    (0 until 3).foreach(r => store.commitAppend(
      (1L to 600L).filter(_ % 3 == r).map(i => (i, s"p$i")).toDF("id", "p").coalesce(1)))
    store.deleteWhere(spark, $"id" % 11 === 0L, mergeOnRead = true)
    val (rows, _) = CompactJob.run(spark, Map("src" -> root, "snapshot" -> "on"))
    assert(rows == store.read(spark).count() && rows == 600L - 54L)
    Seq("parquet", "orc", "csv", "json").foreach { fmt =>
      val (src, dest) = (tmp(), tmp() + "/out")
      (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(5)
        .write.mode("overwrite").options(graft.etl.Pipeline.writeOptions(fmt)).format(fmt).save(src)
      val (n, _) = CompactJob.run(spark, Map("src" -> src, "dest" -> dest, "format" -> fmt))
      val read = spark.read.options(graft.etl.Pipeline.readOptions(fmt)).format(fmt).load(dest)
      assert(n == read.count() && n == 500L, fmt)
    }
  }
}

/** Derby behind the `jdbc:graftdrift:` prefix, whose `SELECT COUNT(*)`
  * statements count one row more than the table holds: a source that
  * gains a row between a pushed count and the extraction.
  */
class DriftDriver extends java.sql.Driver {
  import java.lang.reflect.{InvocationTargetException, Method, Proxy}
  private val Prefix = "jdbc:graftdrift:"
  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
  def connect(url: String, info: java.util.Properties): java.sql.Connection =
    if (!acceptsURL(url)) null
    else {
      val conn = DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info)
      proxy(classOf[java.sql.Connection], conn, {
        case ("createStatement", a) if a.isEmpty =>
          val st = conn.createStatement()
          proxy(classOf[java.sql.Statement], st, {
            case ("executeQuery", Array(sql: String)) if sql.startsWith("SELECT COUNT(*)") =>
              st.executeQuery(sql.replace("COUNT(*)", "COUNT(*) + 1"))
          })
      })
    }
  private def proxy[T](iface: Class[T], target: T,
      over: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      (_: Any, m: Method, args: Array[AnyRef]) => {
        val a = Option(args).getOrElse(Array.empty[AnyRef])
        over.applyOrElse((m.getName, a), (_: (String, Array[AnyRef])) =>
          try m.invoke(target, a: _*)
          catch { case e: InvocationTargetException => throw e.getCause })
      }).asInstanceOf[T]
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def getPropertyInfo(url: String, info: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
    Array.empty
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("graft.jobs.DriftDriver")
}
