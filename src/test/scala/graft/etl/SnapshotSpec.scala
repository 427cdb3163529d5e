package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The manifest-commit contract: atomic publication, snapshot-isolated
  * readers, time travel, crash-mid-write recovery, and the q116
  * snapshotDiff driven off two REAL committed versions instead of two
  * in-memory frames.
  */
class SnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("snapshot-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-snap").toString

  private def frame(ids: Range, tag: String) = {
    import spark.implicits._
    ids.map(i => (i.toLong, tag, i * 10.0)).toDF("id", "tag", "amt")
  }

  test("overwrite commits are versioned; latest read sees only the newest") {
    val store = new SnapshotStore(tmp())
    assert(store.latestVersion.isEmpty)
    val v0 = store.commitOverwrite(frame(1 to 5, "a"))
    val v1 = store.commitOverwrite(frame(1 to 3, "b"))
    assert((v0, v1) == (0L, 1L) && store.versions == Seq(0L, 1L))
    val latest = store.read(spark).select("tag").distinct().collect()
    assert(latest.map(_.getString(0)).toSeq == Seq("b"))
    assert(store.read(spark).count() == 3L)
  }

  test("a reader holding version N survives a concurrent overwrite intact") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 100, "old"))
    // reader resolves v0 (file list pinned at plan time)...
    val reader = store.read(spark, asOfVersion = Some(0L))
    // ...writer replaces the table TWICE while the reader is in flight
    store.commitOverwrite(frame(1 to 7, "new"))
    store.commitOverwrite(frame(1 to 2, "newer"))
    // the reader still materializes the complete, consistent v0 — not a
    // mix, not a missing-file failure
    val got = reader.agg(count(lit(1)), countDistinct(col("tag"))).head()
    assert(got.getLong(0) == 100L && got.getLong(1) == 1L)
    assert(reader.select("tag").distinct().head().getString(0) == "old")
  }

  test("time travel: every historical version stays readable as committed") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 4, "v0"))
    store.commitAppend(frame(5 to 6, "v1"))
    store.commitTruncate(frame(1 to 1, "x").schema)
    store.commitOverwrite(frame(1 to 9, "v3"))
    assert(store.read(spark, Some(0L)).count() == 4L)
    val v1 = store.read(spark, Some(1L))
    assert(v1.count() == 6L) // append = old files + new files
    assert(v1.groupBy("tag").count().orderBy("tag").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("v0", 4L), ("v1", 2L)))
    val v2 = store.read(spark, Some(2L))
    assert(v2.isEmpty && v2.schema.fieldNames.toSeq == Seq("id", "tag", "amt"))
    assert(store.read(spark, Some(3L)).count() == 9L)
  }

  test("crash mid-write (files staged, manifest never published) leaves the old version live") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(frame(1 to 10, "good"))
    // the crash: stage() completes (data files on disk) but the process
    // dies before publish() — exactly the window a bare parquet
    // overwrite cannot survive
    val stranded = store.stage(frame(1 to 999, "half"))
    assert(stranded.nonEmpty)
    assert(store.latestVersion.contains(0L)) // no new version appeared
    val readBack = store.read(spark)
    assert(readBack.count() == 10L &&
      readBack.select("tag").distinct().head().getString(0) == "good")
    // and vacuum reclaims the orphaned staging files
    store.vacuum(keepLast = 1)
    assert(store.read(spark).count() == 10L)
    val dataFiles = Files.walk(Paths.get(root, "data"))
    val remaining = try {
      import scala.jdk.CollectionConverters._
      dataFiles.iterator().asScala.count(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    } finally dataFiles.close()
    val v0Files = store.read(spark).inputFiles.length
    assert(remaining == v0Files) // orphans gone, v0's files intact
  }

  test("crash mid-publish (dot-temp manifest left behind) is invisible to version listing") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(frame(1 to 3, "ok"))
    Files.write(Paths.get(root, "manifests", ".tmp-deadbeef"),
      "graft-snapshot-v1\n".getBytes)
    assert(store.versions == Seq(0L))
    assert(store.read(spark).count() == 3L)
  }

  test("vacuum drops old versions' files but never a kept version's") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 8, "v0"))
    store.commitOverwrite(frame(1 to 5, "v1"))
    store.commitAppend(frame(6 to 7, "v2"))
    store.vacuum(keepLast = 2)
    assert(store.versions == Seq(1L, 2L))
    assert(store.read(spark, Some(1L)).count() == 5L)
    assert(store.read(spark, Some(2L)).count() == 7L)
    val e = intercept[IllegalArgumentException] { store.read(spark, Some(0L)) }
    assert(e.getMessage.contains("version 0 does not exist"))
  }

  test("append refuses a schema drift instead of corrupting the table") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 2, "a"))
    val e = intercept[IllegalArgumentException] {
      store.commitAppend(Seq((1L, 2L)).toDF("id", "wrong"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("overwrite replaces the schema per version; time travel reads each version's own") {
    // sync.py:113 parity: the reference's full refresh sets
    // overwriteSchema=true — a new snapshot may carry a new shape while
    // history keeps the old one
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 4, "old"))
    store.commitOverwrite(Seq((1L, 7), (2L, 9)).toDF("id", "score"))
    assert(store.read(spark).schema.fieldNames.toSeq == Seq("id", "score"))
    assert(store.read(spark).agg(sum("score")).head().getLong(0) == 16L)
    val v0 = store.read(spark, Some(0L))
    assert(v0.schema.fieldNames.toSeq == Seq("id", "tag", "amt") && v0.count() == 4L)
  }

  test("mergeSchema append evolves the table: new column null-pads history, dropped column null-pads the increment") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 3, "v0")) // (id, tag, amt)
    // increment adds `lang` and lacks `amt`
    val inc = Seq((10L, "v1", "en"), (11L, "v1", "fr")).toDF("id", "tag", "lang")
    store.commitAppend(inc, mergeSchema = true)
    val got = store.read(spark)
    // stable order: table columns first, new column appended last
    assert(got.schema.fieldNames.toSeq == Seq("id", "tag", "amt", "lang"))
    assert(got.count() == 5L)
    // old rows: lang is null; new rows: amt is null — and nothing else moved
    assert(got.filter($"tag" === "v0" && $"lang".isNull).count() == 3L)
    assert(got.filter($"tag" === "v1" && $"amt".isNull && $"lang".isNotNull).count() == 2L)
    assert(got.agg(sum("amt")).head().getDouble(0) == 60.0)
    // time travel still reads v0 with its original 3-column shape
    assert(store.read(spark, Some(0L)).schema.fieldNames.toSeq == Seq("id", "tag", "amt"))
    // a further PLAIN append must match the EVOLVED schema now
    val e = intercept[IllegalArgumentException] { store.commitAppend(frame(4 to 4, "x")) }
    assert(e.getMessage.contains("schema mismatch"))
    // and a type conflict is refused even under mergeSchema
    val t = intercept[IllegalArgumentException] {
      store.commitAppend(Seq((1L, "t", "not-a-number", "en"))
        .toDF("id", "tag", "amt", "lang"), mergeSchema = true)
    }
    assert(t.getMessage.contains("type conflict"))
  }

  test("mergeSchema append keeps manifest stats pruning working across the evolution") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val base = (1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    store.commitOverwrite(base, statsColumn = Some("id"))
    store.commitAppend(Seq((900000L, "far", "x")).toDF("id", "v", "extra")
      .coalesce(1), mergeSchema = true)
    val pruned = store.readRange(spark, "id", 100L, 150L)
    assert(pruned.count() == 51L)
    assert(pruned.inputFiles.length == 1,
      s"evolved append must stay prunable, scanned ${pruned.inputFiles.length} files")
    assert(pruned.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
  }

  test("file stats: readRange prunes non-intersecting files, results stay exact") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // range-cluster so the 8 files carry disjoint id ranges — the
    // layout a statsColumn commit is FOR
    val data = (1L to 8000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(8, col("id"))
    store.commitOverwrite(data, statsColumn = Some("id"))
    val full = store.read(spark)
    assert(full.inputFiles.length == 8)
    val pruned = store.readRange(spark, "id", 2500L, 2600L)
    // manifest pruning: only the file(s) whose range intersects is read
    assert(pruned.inputFiles.length < 8,
      s"expected manifest-level pruning, scanned ${pruned.inputFiles.length} files")
    // and the result is EXACTLY the predicate, not just the kept files
    assert(pruned.count() == 101L)
    assert(pruned.agg(min("id"), max("id")).head() ==
      full.filter($"id".between(2500L, 2600L)).agg(min("id"), max("id")).head())
    // an append INHERITS the table's stats column: the new in-range
    // file is kept by its own recorded range, and an out-of-range
    // append is itself prunable
    store.commitAppend(Seq((2550L, "dup")).toDF("id", "v").coalesce(1))
    val afterAppend = store.readRange(spark, "id", 2500L, 2600L)
    assert(afterAppend.count() == 102L)
    store.commitAppend(Seq((999999L, "far")).toDF("id", "v").coalesce(1))
    val farPruned = store.readRange(spark, "id", 2500L, 2600L)
    assert(farPruned.count() == 102L)
    assert(farPruned.inputFiles.length == afterAppend.inputFiles.length,
      "the out-of-range appended file must be pruned by its manifest stats")
    // asking for a column the version has no stats for fails loudly
    val e = intercept[IllegalArgumentException] {
      store.readRange(spark, "v", 0L, 1L)
    }
    assert(e.getMessage.contains("carries stats for"))
  }

  test("change feed: appends are O(increment) inserts, overwrites are delete+insert, truncate is deletes") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 3, "v0"))          // v0: create
    store.commitAppend(frame(10 to 11, "v1"))            // v1: append
    store.commitOverwrite(frame(20 to 20, "v2"))         // v2: replace
    store.commitTruncate(frame(1 to 1, "x").schema)      // v3: truncate
    def feed(from: Long, to: Option[Long] = None) =
      store.readChanges(spark, from, to)
        .groupBy("_commit_version", "_change_type").count()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // full history from table creation
    assert(feed(-1L) == Set(
      (0L, "insert", 3L),               // create = insert-only
      (1L, "insert", 2L),               // append = ONLY the added rows
      (2L, "delete", 5L), (2L, "insert", 1L), // overwrite = old out, new in
      (3L, "delete", 1L)))              // truncate = deletes, no inserts
    // an append-only slice never re-reads the base snapshot
    val appendOnly = store.readChanges(spark, 0L, Some(1L))
    assert(appendOnly.select("tag").distinct().head().getString(0) == "v1")
    assert(appendOnly.inputFiles.length ==
      store.read(spark, Some(1L)).inputFiles.length -
      store.read(spark, Some(0L)).inputFiles.length,
      "append feed must scan only the files the commit added")
    // empty range yields an empty, correctly-shaped frame
    val empty = store.readChanges(spark, 3L, Some(3L))
    assert(empty.isEmpty && empty.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"))
  }

  test("change feed spans schema evolution with null padding per generation") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 2, "v0"))
    store.commitAppend(Seq((9L, "v1", "en")).toDF("id", "tag", "lang"),
      mergeSchema = true)
    val feed = store.readChanges(spark, -1L)
    assert(feed.columns.toSeq ==
      Seq("id", "tag", "amt", "_change_type", "_commit_version", "lang"))
    assert(feed.filter($"_commit_version" === 0L && $"lang".isNull).count() == 2L)
    assert(feed.filter($"_commit_version" === 1L && $"lang" === "en" &&
      $"amt".isNull).count() == 1L)
  }

  test("VersionCursor drives incremental consumption: process-then-advance, steady-state exactly-once") {
    val store = new SnapshotStore(tmp())
    val cursor = new SnapshotStore.VersionCursor(tmp())
    store.commitOverwrite(frame(1 to 3, "v0"))
    store.commitAppend(frame(4 to 5, "v1"))
    // round 1: consume everything since creation
    assert(cursor.last("t") == -1L)
    val latest1 = store.latestVersion.get
    val batch1 = store.readChanges(spark, cursor.last("t"), Some(latest1))
    assert(batch1.count() == 5L) // 3 create-inserts + 2 append-inserts
    cursor.advance("t", latest1)
    // nothing new -> empty feed, no reprocessing
    assert(store.readChanges(spark, cursor.last("t"),
      Some(store.latestVersion.get)).isEmpty)
    // round 2: one more append, only its rows arrive
    store.commitAppend(frame(6 to 6, "v2"))
    val latest2 = store.latestVersion.get
    val batch2 = store.readChanges(spark, cursor.last("t"), Some(latest2))
    assert(batch2.count() == 1L &&
      batch2.select("tag").head().getString(0) == "v2")
    cursor.advance("t", latest2)
    assert(cursor.last("t") == latest2)
    // crash-between-process-and-advance replays the SAME range (at-least-once)
    val replay = store.readChanges(spark, latest1, Some(latest2))
    assert(replay.count() == 1L)
  }

  test("compaction rewrites layout without changing data: pruning improves, feed skips it, history intact") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // streaming-style arrival: four appends, each spanning the WHOLE key
    // range -> every file overlaps every range query, nothing prunes
    (0 until 4).foreach { r =>
      store.commitAppend(
        (1L to 4000L).filter(_ % 4 == r).map(i => (i, s"r$r")).toDF("id", "v")
          .coalesce(1),
        statsColumn = Some("id"))
    }
    val before = store.readRange(spark, "id", 100L, 150L)
    assert(before.inputFiles.length == 4, "overlapping files: no pruning yet")
    val preVersions = store.versions
    val preFeedRows = store.readChanges(spark, -1L).count()

    val cv = store.compactLatest(spark, targetFiles = 4)
    // same rows, fewer-or-equal files, DISJOINT ranges -> pruning bites
    val after = store.read(spark)
    assert(after.count() == 4000L)
    assert(after.orderBy("id").collect().toSeq ==
      store.read(spark, Some(preVersions.last)).orderBy("id").collect().toSeq)
    val pruned = store.readRange(spark, "id", 100L, 150L)
    assert(pruned.inputFiles.length == 1,
      s"clustered compaction must yield disjoint ranges, scanned ${pruned.inputFiles.length}")
    assert(pruned.count() == 51L)
    // dataChange=false: the change feed emits NOTHING for the rewrite
    val feed = store.readChanges(spark, -1L)
    assert(feed.filter(col("_commit_version") === cv).isEmpty)
    assert(feed.count() == preFeedRows)
    // and an incremental consumer positioned before the rewrite sees nothing new
    assert(store.readChanges(spark, preVersions.last, Some(cv)).isEmpty)
    // pre-compaction versions stay readable until vacuum
    assert(store.read(spark, Some(preVersions.head)).count() == 1000L)
    // an append AFTER the compaction feeds normally
    store.commitAppend(Seq((9999L, "tail")).toDF("id", "v").coalesce(1))
    val tail = store.readChanges(spark, cv)
    assert(tail.count() == 1L && tail.head().getLong(0) == 9999L)
  }

  test("history and timestamp time travel resolve from manifest publication times") {
    val store = new SnapshotStore(tmp())
    val before = java.time.Instant.now().minusSeconds(1)
    store.commitOverwrite(frame(1 to 3, "v0"))
    Thread.sleep(1100) // mtime resolution on some filesystems is 1s
    val betweenCommits = java.time.Instant.now()
    Thread.sleep(1100)
    store.commitAppend(frame(4 to 5, "v1"))
    store.compactLatest(spark, targetFiles = 1)
    val h = store.history(spark).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(h.map(_.getBoolean(4)).toSeq == Seq(false, false, true)) // is_rewrite
    assert(h.forall(r => r.getInt(2) > 0 && r.getLong(3) > 0L)) // files, bytes
    assert(h.map(_.getTimestamp(1).getTime).toSeq.sorted ==
      h.map(_.getTimestamp(1).getTime).toSeq) // monotone commit times
    // timestamp resolution: between the commits -> v0; now -> latest
    assert(store.versionAt(betweenCommits) == 0L)
    assert(store.versionAt(java.time.Instant.now()) == 2L)
    val e = intercept[IllegalArgumentException] { store.versionAt(before) }
    assert(e.getMessage.contains("no version committed at or before"))
  }

  test("racing appenders: CAS losers rebase and EVERY commit lands — no silent lost commit") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 10, "base"))
    // 6 appenders × 3 rounds through one barrier per round: collisions
    // are effectively certain, so the rebase-retry path executes for
    // real, not just the deterministic single-loser case below
    val writers = 6; val rounds = 3
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          (0 until rounds).foreach { r =>
            barrier.await()
            val lo = 1000 + (w * rounds + r) * 100
            store.commitAppend(frame(lo until lo + 10, s"w$w-r$r"))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"all concurrent appends must succeed: ${errs.peek()}")
    assert(store.versions.length == 1 + writers * rounds,
      s"exactly one version per append, got ${store.versions.length}")
    val got = store.read(spark)
    assert(got.count() == 10L + writers * rounds * 10L)
    // every writer's every round landed exactly once
    assert(got.groupBy("tag").count().collect()
      .forall(_.getLong(1) == 10L))
    assert(got.select("tag").distinct().count() == 1L + writers * rounds)
  }

  test("a version-pinned publish racing a commit loses LOUDLY — the CAS primitive never silently drops the racer's rows") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 100, "v0"))
    // emulate a compaction that resolved v0 and is mid-rewrite...
    val m = store.readFullManifest(0L)
    val compacted = store.stage(store.read(spark, Some(0L)).coalesce(1))
      .map(p => store.FileEntry(p, None, None))
    // ...while an append lands v1
    store.commitAppend(frame(101 to 105, "racer"))
    // the compaction's pinned publish must fail, not replace v1
    val e = intercept[ConcurrentCommitException] {
      store.publishEntries(compacted, m.schema, None, rewrite = true,
        expectedVersion = Some(1L))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the racer's commit is intact
    assert(store.latestVersion.contains(1L))
    assert(store.read(spark).count() == 105L)
    // same loser contract for an overwrite composed against a stale version
    val staged2 = store.stage(Seq((1L, "x", 0.0)).toDF("id", "tag", "amt"))
      .map(p => store.FileEntry(p, None, None))
    intercept[ConcurrentCommitException] {
      store.publishEntries(staged2, m.schema, None, expectedVersion = Some(1L))
    }
    assert(store.read(spark).count() == 105L)
  }

  test("compaction REBASES over a racing append: dataChange=false lands, rows bit-identical, feed skips it") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 100, "base").repartition(4),
      statsColumn = Some("id"))
    val v0Paths = store.readFullManifest(0L).entries.map(_.path).toSet
    // deterministic interleave: the append lands AFTER the compaction
    // staged its rewrite, BEFORE its first publish attempt — exactly the
    // round-13 livelock window (a CDC sink committing mid-OPTIMIZE)
    store.onCompactStaged = () => {
      store.onCompactStaged = () => ()
      store.commitAppend(frame(1000 to 1004, "racer").coalesce(1))
    }
    val cv = store.compactLatest(spark, targetFiles = 2)
    assert(cv == 2L, "v0 base, v1 racing append, v2 rebased rewrite")
    val m2 = store.readFullManifest(cv)
    assert(m2.rewrite, "the rebased publish keeps its dataChange=false flag")
    // rows of the rewrite == rows of the table it rebased onto (v1)
    val got = store.read(spark).orderBy("id").collect().toSeq
    assert(got == store.read(spark, Some(1L)).orderBy("id").collect().toSeq)
    assert(got.length == 105)
    // the racer's file kept its path identity through the rebase
    val racerFiles = store.readFullManifest(1L).entries.map(_.path).toSet -- v0Paths
    assert(racerFiles.nonEmpty &&
      racerFiles.subsetOf(m2.entries.map(_.path).toSet))
    // ...and none of the compacted-away originals survived
    assert(m2.entries.map(_.path).toSet.intersect(v0Paths).isEmpty)
    // feeds skip the rewrite: a consumer positioned after the append sees nothing
    assert(store.readChanges(spark, 1L, Some(cv)).isEmpty)
    // stats survive the rebase: the clustered files prune
    assert(store.readRange(spark, "id", 1L, 10L).count() == 10L)
  }

  test("compaction racing a CoW delete that rewrote one of its files still loses LOUDLY") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 100, "base").repartitionByRange(4, col("id")),
      statsColumn = Some("id"))
    store.onCompactStaged = () => {
      store.onCompactStaged = () => ()
      // rewrites the file holding id=5: one of the compaction's pinned files vanishes
      store.deleteWhere(spark, col("id") === 5L)
    }
    val e = intercept[ConcurrentCommitException] {
      store.compactLatest(spark, targetFiles = 2)
    }
    assert(!e.retryable && e.getMessage.contains("stale"))
    // the delete's commit is intact; no rewrite version was published
    assert(store.latestVersion.contains(1L))
    assert(store.read(spark).count() == 99L)
    // a re-run against the new state lands cleanly
    val cv = store.compactLatest(spark, targetFiles = 2)
    assert(store.readFullManifest(cv).rewrite && store.read(spark).count() == 99L)
  }

  test("OPTIMIZE lands under a steady appender: the livelock is gone, every append intact") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 50, "base").repartition(4))
    // a steady writer (the CDC-sink cadence) commits throughout the
    // compaction's whole staging+publish window
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appended = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try {
        var i = 0
        while (!stop.get() && i < 200) {
          store.commitAppend(frame(1000 + i * 10 until 1010 + i * 10, s"a$i").coalesce(1))
          appended.incrementAndGet(); i += 1
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    appender.start()
    try {
      val cv = store.compactLatest(spark, targetFiles = 2)
      assert(store.readFullManifest(cv).rewrite)
    } finally { stop.set(true); appender.join() }
    assert(errs.isEmpty, s"appender must never be broken by OPTIMIZE: ${errs.peek()}")
    assert(appended.get() > 0)
    // nothing lost on either side: base + every append that committed
    assert(store.read(spark).count() == 50L + 10L * appended.get())
  }

  test("merge-on-read delete: a 1-row delete in an 8-file table adds NO data file; DVs apply at scan; compaction clears them") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    val files0 = store.readFullManifest(0L).entries.map(_.path).toSet
    assert(files0.size == 8)
    // scattered single-row delete: merge-on-read touches no data file
    val v1 = store.deleteWhere(spark, col("id") === 5L, mergeOnRead = true)
    val m1 = store.readFullManifest(v1)
    assert(m1.entries.map(_.path).toSet == files0,
      "MoR must rewrite or add NO data file")
    assert(m1.entries.count(_.dv.nonEmpty) == 1,
      "exactly the file holding id=5 takes a DV reference")
    assert(store.read(spark).count() == 799L)
    assert(store.read(spark).filter($"id" === 5L).isEmpty)
    // readers of the prior version are untouched
    assert(store.read(spark, Some(0L)).count() == 800L)
    // MoR result ≡ CoW result on an identical twin table
    val cow = new SnapshotStore(tmp())
    cow.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    cow.deleteWhere(spark, col("id") === 5L)
    assert(store.read(spark).orderBy("id").collect().toSeq ==
      cow.read(spark).orderBy("id").collect().toSeq)
    // DVs STACK, and an already-dead row is never tombstoned twice
    val v2 = store.deleteWhere(spark, col("id") <= 6L, mergeOnRead = true)
    assert(store.read(spark).count() == 794L)
    // the change feed emits the honest deletes — each row exactly once
    val feed1 = store.readChanges(spark, 0L, Some(v1))
    assert(feed1.count() == 1L)
    val r1 = feed1.head()
    assert(r1.getAs[Long]("id") == 5L &&
      r1.getAs[String]("_change_type") == "delete")
    val feed2 = store.readChanges(spark, v1, Some(v2))
    assert(feed2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 6L), "id=5 was already dead — not re-emitted")
    // manifest-stats pruning composes with the DV anti-join
    assert(store.readRange(spark, "id", 1L, 10L).count() == 4L)
    // an insert-only stream must not silently skip a delete commit
    intercept[IllegalStateException] {
      store.readInserts(spark, 0L, v2, store.tableSchema())
    }
    // the format read stays CORRECT under live DVs: it plans the
    // DV-applying fallback relation (a plain file scan would lie by
    // including tombstoned rows), so SQL readers work between the MoR
    // write and the next OPTIMIZE
    assert(spark.read.format("graft-snapshot").option("path", root).load()
      .count() == 794L)
    assert(spark.read.format("graft-snapshot").option("path", root)
      .option("versionAsOf", v1).load().count() == 799L,
      "time travel through the fallback pins its own version")
    // compaction MATERIALIZES the deletes and clears the DVs
    val cv = store.compactLatest(spark, targetFiles = 2)
    val mc = store.readFullManifest(cv)
    assert(mc.rewrite && mc.entries.forall(_.dv.isEmpty))
    assert(store.read(spark).count() == 794L)
    assert(store.readChanges(spark, v2, Some(cv)).isEmpty,
      "materializing DVs is dataChange=false: same live rows")
    assert(spark.read.format("graft-snapshot").option("path", root).load()
      .count() == 794L)
    // vacuum keeps DV sidecars of kept manifests, reclaims dropped ones
    def dvFiles(): Long = {
      val w = Files.walk(Paths.get(root, "data"))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.count(p => p.toString.contains(".dv") &&
          Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      } finally w.close()
    }
    assert(dvFiles() > 0)
    store.vacuum(keepLast = 3) // keeps v2 (live DVs) and the rewrite
    assert(store.read(spark, Some(v2)).count() == 794L,
      "a kept DV-bearing version must stay readable after vacuum")
    store.vacuum(keepLast = 1) // only the materialized rewrite survives
    assert(dvFiles() == 0L, "unreferenced DV sidecars are reclaimed")
    assert(store.read(spark).count() == 794L)
  }

  test("merge-on-read delete on a partitioned table: DV anti-join composes with hive partition re-attach") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val df = (1L to 200L).map(i => (i, s"d${i % 4}", s"v$i"))
      .toDF("id", "day", "v")
    store.commitOverwrite(df, statsColumn = Some("id"), partitionBy = Seq("day"))
    val files0 = store.readFullManifest(0L).entries.map(_.path).toSet
    val v1 = store.deleteWhere(spark, $"id" === 7L || $"id" === 100L,
      mergeOnRead = true)
    val m1 = store.readFullManifest(v1)
    assert(m1.entries.map(_.path).toSet == files0, "no data file touched")
    val got = store.read(spark)
    assert(got.count() == 198L && got.filter($"id".isin(7L, 100L)).isEmpty)
    // partition values still re-attach on the DV-applied arm
    assert(got.filter($"day" === "d3").count() ===
      (1L to 200L).count(i => i % 4 == 3 && i != 7L && i != 100L).toLong)
    // the feed's MoR deletes carry their partition values too
    val feed = store.readChanges(spark, 0L, Some(v1))
    assert(feed.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("day"),
        r.getAs[String]("_change_type"))).toSeq ==
      Seq((7L, "d3", "delete"), (100L, "d0", "delete")))
    // CoW update afterwards: touched files rewritten fresh, rest keep DVs
    val v2 = store.updateWhere(spark, $"id" === 8L, Map("v" -> lit("UPD")))
    val after = store.read(spark)
    assert(after.count() == 198L &&
      after.filter($"v" === "UPD").count() == 1L &&
      after.filter($"id".isin(7L, 100L)).isEmpty)
  }

  test("merge-on-read update: a scattered 1-row update keeps every data file and appends only the new image") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    val files0 = store.readFullManifest(0L).entries.map(_.path).toSet
    val v1 = store.updateWhere(spark, $"id" === 5L,
      Map("tag" -> lit("UPD")), mergeOnRead = true)
    val m1 = store.readFullManifest(v1)
    assert(files0.subsetOf(m1.entries.map(_.path).toSet),
      "MoR update must keep every prior data file by identity")
    val added = m1.entries.filterNot(e => files0.contains(e.path))
    assert(added.nonEmpty && added.forall(_.dv.isEmpty),
      "the new-image file set is appended clean")
    assert(m1.entries.count(_.dv.nonEmpty) == 1,
      "exactly the file holding id=5 takes a DV reference")
    val got = store.read(spark)
    assert(got.count() == 800L &&
      got.filter($"id" === 5L).head().getAs[String]("tag") == "UPD")
    assert(store.read(spark, Some(0L)).filter($"id" === 5L)
      .head().getAs[String]("tag") == "t5", "prior version untouched")
    // MoR result ≡ CoW result on an identical twin table
    val cow = new SnapshotStore(tmp())
    cow.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    cow.updateWhere(spark, $"id" === 5L, Map("tag" -> lit("UPD")))
    assert(store.read(spark).orderBy("id").collect().toSeq ==
      cow.read(spark).orderBy("id").collect().toSeq)
    // the feed emits the honest delete(old image) + insert(new image)
    val feed = store.readChanges(spark, 0L, Some(v1))
    assert(feed.orderBy("_change_type").collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("tag"))).toSeq ==
      Seq(("delete", 5L, "t5"), ("insert", 5L, "UPD")))
    // stacked on a prior MoR: the already-replaced image is dead — a
    // second update matches the NEW image (appended file), not the
    // tombstoned one
    val v2 = store.updateWhere(spark, $"tag" === "UPD",
      Map("tag" -> lit("UPD2")), mergeOnRead = true)
    assert(store.read(spark).filter($"id" === 5L)
      .head().getAs[String]("tag") == "UPD2")
    assert(store.readChanges(spark, v1, Some(v2)).count() == 2L,
      "one delete + one insert — the v0 image was already dead")
    // compaction materializes: DVs cleared, rows identical
    val cv = store.compactLatest(spark, targetFiles = 2)
    assert(store.readFullManifest(cv).entries.forall(_.dv.isEmpty))
    assert(store.read(spark).count() == 800L)
    // no-match MoR update: an honest empty commit, no DV, no file
    val v3 = store.updateWhere(spark, $"id" === -1L,
      Map("tag" -> lit("X")), mergeOnRead = true)
    val m3 = store.readFullManifest(v3)
    assert(m3.entries.map(_.path) ==
      store.readFullManifest(cv).entries.map(_.path) &&
      m3.entries.forall(_.dv.isEmpty))
  }

  test("merge-on-read merge: the CDC upsert appends its delta and tombstones matched keys without touching a file") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    val files0 = store.readFullManifest(0L).entries.map(_.path).toSet
    val delta = Seq((5L, "u5", 5.5), (500L, "u500", 500.5),
      (1001L, "n1", 1.0), (1002L, "n2", 2.0)).toDF("id", "tag", "amt")
    val v1 = store.mergeInto(spark, delta, Seq("id"), mergeOnRead = true)
    val m1 = store.readFullManifest(v1)
    assert(files0.subsetOf(m1.entries.map(_.path).toSet),
      "MoR merge must keep every prior data file by identity")
    assert(m1.entries.count(_.dv.nonEmpty) == 2,
      "exactly the files holding id=5 and id=500 take DV references")
    val got = store.read(spark)
    assert(got.count() == 802L)
    assert(got.filter($"id" === 5L).head().getAs[String]("tag") == "u5")
    assert(got.filter($"id" === 1001L).count() == 1L)
    // MoR ≡ CoW mergeInto on an identical twin table
    val cow = new SnapshotStore(tmp())
    cow.commitOverwrite(
      (1L to 800L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "amt")
        .repartitionByRange(8, $"id"),
      statsColumn = Some("id"))
    cow.mergeInto(spark, delta, Seq("id"))
    assert(store.read(spark).orderBy("id").collect().toSeq ==
      cow.read(spark).orderBy("id").collect().toSeq)
    // the feed: deletes are the OLD images of matched keys, inserts the
    // whole delta — each exactly once
    val feed = store.readChanges(spark, 0L, Some(v1))
    assert(feed.filter($"_change_type" === "delete")
      .select("id", "tag").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((5L, "t5"), (500L, "t500")))
    assert(feed.filter($"_change_type" === "insert").count() == 4L)
    // duplicate delta keys are refused loudly (appending both would keep both)
    val dup = Seq((7L, "a", 1.0), (7L, "b", 2.0)).toDF("id", "tag", "amt")
    val e = intercept[IllegalArgumentException] {
      store.mergeInto(spark, dup, Seq("id"), mergeOnRead = true)
    }
    assert(e.getMessage.contains("dedup the delta"))
    // null-safe key matching parity with the CoW window semantics
    // (no stats column — null keys are legal on this table)
    val nstore = new SnapshotStore(tmp())
    val ncow = new SnapshotStore(tmp())
    val base = Seq((Some(1L), "one"), (None, "old")).toDF("k", "v")
    val nd = Seq((Option.empty[Long], "new")).toDF("k", "v")
    nstore.commitOverwrite(base); ncow.commitOverwrite(base)
    nstore.mergeInto(spark, nd, Seq("k"), mergeOnRead = true)
    ncow.mergeInto(spark, nd, Seq("k"))
    assert(nstore.read(spark).orderBy("v").collect().toSeq ==
      ncow.read(spark).orderBy("v").collect().toSeq)
    assert(nstore.read(spark).filter($"k".isNull)
      .head().getAs[String]("v") == "new")
  }

  test("applyChanges: one op-coded commit propagates deletes; CoW ≡ MoR ≡ the sequential replay") {
    import spark.implicits._
    def fresh(): SnapshotStore = {
      val s = new SnapshotStore(tmp())
      s.commitOverwrite(
        (1L to 800L).map(i => (i, s"t$i")).toDF("id", "v")
          .repartitionByRange(8, $"id"),
        statsColumn = Some("id"))
      s
    }
    val changes = Seq(
      (5L, "u5", "U"),      // update
      (500L, "", "D"),      // delete
      (1001L, "n1", "U"),   // insert
      (9999L, "", "D")      // ghost delete: no-op
    ).toDF("id", "v", "op")
    val cow = fresh(); val mor = fresh(); val seq = fresh()
    cow.applyChanges(spark, changes, Seq("id"), opCol = "op")
    mor.applyChanges(spark, changes, Seq("id"), opCol = "op", mergeOnRead = true)
    seq.deleteWhere(spark, $"id" === 500L)
    seq.mergeInto(spark,
      Seq((5L, "u5"), (1001L, "n1")).toDF("id", "v"), Seq("id"))
    val expect = seq.read(spark).orderBy("id").collect().toSeq
    assert(cow.read(spark).orderBy("id").collect().toSeq == expect)
    assert(mor.read(spark).orderBy("id").collect().toSeq == expect)
    assert(expect.length == 800L) // 800 - 1 delete + 1 insert, ghost no-op
    // MoR touched NO data file; exactly the files holding 5 and 500 took DVs
    val m1 = mor.readFullManifest(mor.latestVersion.get)
    val files0 = mor.readFullManifest(0L).entries.map(_.path).toSet
    assert(files0.subsetOf(m1.entries.map(_.path).toSet))
    assert(m1.entries.count(_.dv.nonEmpty) == 2)
    // ONE commit each
    assert(cow.latestVersion.contains(1L) && mor.latestVersion.contains(1L))
    // duplicate keys and an invalid op are refused; nothing commits
    val dup = Seq((7L, "a", "U"), (7L, "b", "D")).toDF("id", "v", "op")
    intercept[IllegalArgumentException] {
      cow.applyChanges(spark, dup, Seq("id"), opCol = "op")
    }
    val bad = Seq((7L, "a", "X")).toDF("id", "v", "op")
    intercept[Exception] {
      mor.applyChanges(spark, bad, Seq("id"), opCol = "op", mergeOnRead = true)
    }
    assert(cow.latestVersion.contains(1L) && mor.latestVersion.contains(1L),
      "a refused apply must commit nothing")
  }

  test("scoped compaction: OPTIMIZE WHERE rewrites only the matching partitions' files") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val df = (1L to 400L).map(i => (i, s"d${i % 4}", s"v$i")).toDF("id", "day", "v")
    store.commitOverwrite(df, statsColumn = Some("id"), partitionBy = Seq("day"))
    // fragment d1 and d2 with appends, and MoR-delete one row in each of
    // d1 and d3 (the scoped rewrite must materialize ONLY d1's DV)
    store.commitAppend(
      Seq((1001L, "d1", "x1"), (1002L, "d2", "x2")).toDF("id", "day", "v"))
    store.deleteWhere(spark, $"id" === 5L, mergeOnRead = true)   // d1 row
    store.deleteWhere(spark, $"id" === 7L, mergeOnRead = true)   // d3 row
    val before = store.readFullManifest(store.latestVersion.get)
    val d1Before = before.entries.filter(_.path.contains("day=d1")).map(_.path).toSet
    val otherBefore = before.entries.filterNot(_.path.contains("day=d1"))
    val rows = store.read(spark).orderBy("id").collect().toSeq
    val cv = store.compactLatest(spark, targetFiles = 1, scope = Some($"day" === "d1"))
    val after = store.readFullManifest(cv)
    assert(after.rewrite, "scoped OPTIMIZE is still dataChange=false")
    // out-of-scope files keep identity — including d3's live DV
    assert(otherBefore.map(e => (e.path, e.dv)).toSet.subsetOf(
      after.entries.map(e => (e.path, e.dv)).toSet),
      "files outside the scope must keep path AND deletion-vector identity")
    // scoped files are gone, replaced by one compacted d1 file with no DV
    assert(after.entries.map(_.path).toSet.intersect(d1Before).isEmpty)
    val d1After = after.entries.filter(_.path.contains("day=d1"))
    assert(d1After.length == 1 && d1After.forall(_.dv.isEmpty),
      "the scope's DVs are materialized by the rewrite")
    // rows bit-identical through the scoped rewrite
    assert(store.read(spark).orderBy("id").collect().toSeq == rows)
    // the feed still skips the rewrite version
    assert(store.readChanges(spark, cv - 1, Some(cv)).isEmpty)
    // an unpartitioned table refuses a scope (misuse, loud); a no-match
    // scope is the steady state of SCHEDULED maintenance — an honest
    // no-op: current version returned, nothing published
    val flat = new SnapshotStore(tmp())
    flat.commitOverwrite((1L to 10L).map(i => (i, i)).toDF("a", "b"))
    val e1 = intercept[IllegalArgumentException] {
      flat.compactLatest(spark, 1, scope = Some($"a" === 1L))
    }
    assert(e1.getMessage.contains("unpartitioned"))
    val vNoop = store.latestVersion.get
    assert(store.compactLatest(spark, 1, scope = Some($"day" === "nope")) == vNoop)
    assert(store.latestVersion.contains(vNoop), "no-op must publish nothing")
  }

  test("small-file compaction: SMALLER THAN rewrites only under-sized files; DV'd files always settle") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    // one right-sized file (50k rows) + six tiny append files
    store.commitOverwrite(
      (1L to 50000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      statsColumn = Some("id"))
    (1 to 6).foreach(k => store.commitAppend(
      Seq((50000L + k, s"t$k")).toDF("id", "v").coalesce(1)))
    val m0 = store.readFullManifest(store.latestVersion.get)
    assert(m0.entries.length == 7)
    // size the threshold between the tiny files and the big one
    val sizes = m0.entries.map(e => e.path ->
      java.nio.file.Files.size(java.nio.file.Paths.get(root).resolve(e.path)))
    val big = sizes.maxBy(_._2)
    val threshold = big._2 // strict <, so the big file is excluded
    val rows = store.read(spark).orderBy("id").collect().toSeq
    val cv = store.compactLatest(spark, targetFiles = 1,
      onlySmallerThanBytes = Some(threshold))
    val m1 = store.readFullManifest(cv)
    assert(m1.rewrite)
    assert(m1.entries.map(_.path).contains(big._1),
      "the right-sized file must keep its identity")
    assert(m1.entries.length == 2, "six tiny files bin-packed into one")
    assert(store.read(spark).orderBy("id").collect().toSeq == rows)
    assert(store.readChanges(spark, cv - 1, Some(cv)).isEmpty)
    // a live-DV file is ALWAYS a candidate, whatever its size —
    // compaction is how tombstones materialize
    store.deleteWhere(spark, $"id" === 7L, mergeOnRead = true)
    val cv2 = store.compactLatest(spark, targetFiles = 1,
      onlySmallerThanBytes = Some(threshold))
    val m2 = store.readFullManifest(cv2)
    assert(!m2.entries.map(_.path).contains(big._1),
      "the DV'd big file must be rewritten (tombstones materialized)")
    assert(m2.entries.forall(_.dv.isEmpty))
    assert(store.read(spark).count() == rows.length - 1L)
    // nothing under the threshold and no DVs: the INTENDED steady state
    // of a scheduled OPTIMIZE cadence — an honest no-op (current
    // version returned, no commit), never an error every maintenance
    // run after the first would trip over
    val before = store.latestVersion.get
    assert(store.compactLatest(spark, 1, onlySmallerThanBytes = Some(1L)) == before)
    assert(store.latestVersion.contains(before), "no-op must publish nothing")
  }

  test("latest-version cache never serves a stale version to a publisher: foreign commits seen via forward probe") {
    val root = tmp()
    // two store INSTANCES on one root = two processes with independent
    // caches; each must observe the other's commits without re-listing
    val a = new SnapshotStore(root)
    val b = new SnapshotStore(root)
    a.commitOverwrite(frame(1 to 5, "a0"))
    assert(b.latestVersion.contains(0L))
    // warm both caches, then alternate writers: a publisher whose cache
    // is one behind must land on the CORRECT next version (probe, then
    // CAS), never clobber or duplicate one
    (1 to 10).foreach { i =>
      val w = if (i % 2 == 0) a else b
      w.commitAppend(frame(i * 100 until i * 100 + 3, s"w$i").coalesce(1))
      assert(a.latestVersion == b.latestVersion,
        s"both caches must converge after commit $i")
      assert(a.latestVersion.contains(i.toLong))
    }
    assert(a.versions == (0L to 10L))
    assert(a.read(spark).count() == 5L + 30L)
    // racing publishers THROUGH the caches: CAS still arbitrates
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val threads = Seq(a, b).zipWithIndex.map { case (s, i) =>
      new Thread(() => {
        try {
          barrier.await()
          s.commitAppend(frame(5000 + i * 10 until 5003 + i * 10, s"race$i").coalesce(1))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"both racing appends must land: ${errs.peek()}")
    assert(a.versions == (0L to 12L) && a.read(spark).count() == 41L)
  }

  test("timestamp travel survives a filesystem copy/restore: #ts beats mtime") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(frame(1 to 3, "v0"))
    Thread.sleep(1100)
    val between = java.time.Instant.now()
    Thread.sleep(1100)
    store.commitAppend(frame(4 to 5, "v1"))
    // copy the WHOLE store to a new location — every file gets a fresh
    // mtime (the failure mode: mtime-based resolution would now put
    // both commits "at" the copy instant)
    val copied = tmp()
    Files.walk(Paths.get(root)).iterator().asScala.toSeq.foreach { p =>
      val dst = Paths.get(copied).resolve(Paths.get(root).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    val restored = new SnapshotStore(copied)
    assert(restored.versionAt(between) == 0L, "embedded #ts must drive resolution")
    assert(restored.versionAt(java.time.Instant.now()) == 1L)
    assert(restored.read(spark, Some(restored.versionAt(between))).count() == 3L)
    // history's committed_at comes from #ts too: still strictly before the copy
    val h = restored.history(spark).orderBy("version").collect()
    assert(h.map(_.getTimestamp(1).toInstant).forall(_.isBefore(between.plusSeconds(2))))
  }

  test("append stats column is a table property: a conflicting request fails loudly") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "other").coalesce(1),
      statsColumn = Some("id"))
    // relabeling old entries' min/max under a different column would
    // prune with wrong ranges and silently drop rows — refused instead
    val e = intercept[IllegalArgumentException] {
      store.commitAppend(Seq((200L, 7L)).toDF("id", "other").coalesce(1),
        statsColumn = Some("other"))
    }
    assert(e.getMessage.contains("table property"))
    // same column: fine; table keeps pruning correctly
    store.commitAppend(Seq((5000L, 1L)).toDF("id", "other").coalesce(1),
      statsColumn = Some("id"))
    assert(store.readRange(spark, "id", 4000L, 6000L).count() == 1L)
    // introducing stats on a stats-less table is safe (old files just never prune)
    val store2 = new SnapshotStore(tmp())
    store2.commitOverwrite((1L to 50L).map(i => (i, "x")).toDF("id", "v").coalesce(1))
    store2.commitAppend(Seq((9000L, "far")).toDF("id", "v").coalesce(1),
      statsColumn = Some("id"))
    assert(store2.readRange(spark, "id", 1L, 100L).count() == 50L)
  }

  test("change feed refuses a vacuumed range loudly instead of re-delivering a snapshot") {
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 4, "v0"))
    store.commitAppend(frame(5 to 6, "v1"))
    store.commitAppend(frame(7 to 7, "v2"))
    store.vacuum(keepLast = 2)
    val e = intercept[IllegalArgumentException] {
      store.readChanges(spark, -1L)
    }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("reposition"))
    // the prescribed reposition works: earliest-1 makes the earliest
    // surviving version the initial snapshot, then normal increments
    val feed = store.readChanges(spark, 0L)
    assert(feed.filter(col("_commit_version") === 1L).count() == 6L)
    assert(feed.filter(col("_commit_version") === 2L).count() == 1L)
  }

  test("copy-on-write merge rewrites ONLY stats-intersecting files; untouched files keep their identity") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // base leaves a gap at 2550/2551 so the delta can INSERT new keys
    // without widening its prune interval beyond the update band
    val base = (1L to 8000L).filterNot(i => i == 2550L || i == 2551L)
      .map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amt")
      .repartitionByRange(8, col("id"))
    store.commitOverwrite(base, statsColumn = Some("id"))
    val beforePaths = store.readFullManifest(0L).entries.map(_.path).toSet
    // delta: 99 updates + 2 inserts, all inside [2500, 2600]
    val delta = (2500L to 2600L).map(i => (i, "UPD", -1.0)).toDF("id", "v", "amt")
    val v1 = store.mergeInto(spark, delta, Seq("id"))
    assert(v1 == 1L)
    // result ≡ full-table upsert
    val expect = Merge.upsert(store.read(spark, Some(0L)), delta, Seq("id"))
    val got = store.read(spark)
    assert(got.count() == 8000L)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.filter($"v" === "UPD").count() == 101L)
    // untouched files: same PATHS in the new manifest (identity, not a
    // rewrite). The narrow band touches at most 2 of the 8
    // range-clustered files (range sampling may straddle a boundary).
    val afterEntries = store.readFullManifest(1L).entries
    val surviving = afterEntries.map(_.path).toSet.intersect(beforePaths)
    assert(surviving.size >= 6,
      s"at most 2 of 8 range-clustered files may be touched, survived ${surviving.size}")
    // change feed emits ONLY the touched files' rows (+ their rewrites)
    val feed = store.readChanges(spark, 0L)
    val nDel = feed.filter($"_change_type" === "delete").count()
    val nIns = feed.filter($"_change_type" === "insert").count()
    assert(nDel <= 2 * 8000L / 8 + 200L, s"feed re-delivered too much: $nDel deletes")
    assert(nIns == nDel + 2L, "rewrites plus exactly the 2 new keys")
    assert(feed.filter($"_change_type" === "insert" && $"v" === "UPD").count() == 101L)
    // time travel: v0 still reads the pre-merge table
    assert(store.read(spark, Some(0L)).filter($"v" === "UPD").count() == 0L)
  }

  test("copy-on-write merge refuses NULL merge keys (pruning cannot see null rows)") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      statsColumn = Some("id"))
    val delta = Seq((Some(5L), "upd"), (None, "null-key"))
      .toDF("id", "v")
    val changes = delta.withColumn("op", lit("U"))
    // every keyed apply refuses under key-range pruning: both upsert
    // physics and both change-apply physics
    val refused = Seq[(String, () => Long)](
      "mergeInto" -> (() => store.mergeInto(spark, delta, Seq("id"))),
      "mergeInto(mergeOnRead)" -> (() =>
        store.mergeInto(spark, delta, Seq("id"), mergeOnRead = true)),
      "applyChanges" -> (() => store.applyChanges(spark, changes, Seq("id"))),
      "applyChanges(mergeOnRead)" -> (() =>
        store.applyChanges(spark, changes, Seq("id"), mergeOnRead = true)))
    refused.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("NULL"), s"$name: ${e.getMessage}")
    }
    assert(store.versions == Seq(0L), "a refused merge commits nothing")
    // general MERGE lets a NULL source key through: it never matches
    // (SQL equality), so it takes the NOT MATCHED insert, and a source
    // with no matchable key rewrites no file
    import SnapshotStore.{MergeInsert, MergeUpdate}
    val before = store.readFullManifest(0L).entries.map(_.path).toSet
    val v1 = store.mergeClauses(spark, Seq((None: Option[Long], "null-key"))
        .toDF("id", "v"), Seq("id"),
      matched = Seq(MergeUpdate(None, Map.empty)),
      notMatched = Seq(MergeInsert(None, Map.empty)))
    val after = store.readFullManifest(v1).entries.map(_.path).toSet
    assert(before.subsetOf(after), "no candidate file was rewritten")
    val got = store.read(spark)
    assert(got.count() == 101L)
    assert(got.filter($"id".isNull).select("v").as[String].collect().toSeq ==
      Seq("null-key"))
  }

  test("copy-on-write delete prunes by predicate bounds; NULL predicate rows are kept") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val base = (1L to 4000L)
      .map(i => (i, if (i % 100 == 0) null else s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    store.commitOverwrite(base, statsColumn = Some("id"))
    val beforePaths = store.readFullManifest(0L).entries.map(_.path).toSet
    val v1 = store.deleteWhere(spark, $"id".between(1200L, 1300L) && $"v".isNotNull)
    assert(v1 == 1L)
    val got = store.read(spark)
    // 101 in-band ids; 1200 and 1300 carry NULL v -> predicate NULL -> KEPT
    assert(got.count() == 4000L - 99L)
    assert(got.filter($"id".between(1200L, 1300L)).count() == 2L)
    assert(got.filter($"id" === 1200L || $"id" === 1300L).count() == 2L)
    // only intersecting files were rewritten (at most 2 if the band
    // straddles a sampled range boundary)
    val surviving = store.readFullManifest(1L).entries.map(_.path).toSet
      .intersect(beforePaths)
    assert(surviving.size >= 2,
      s"at most 2 of 4 files may be touched, survived ${surviving.size}")
    // feed: touched files out, their filtered rewrites in — net -99 rows
    val feed = store.readChanges(spark, 0L)
    val nDel = feed.filter($"_change_type" === "delete").count()
    val nIns = feed.filter($"_change_type" === "insert").count()
    assert(nDel <= 2 * 4000L / 4 + 200L, s"feed re-delivered too much: $nDel deletes")
    assert(nIns == nDel - 99L)
  }

  test("partitioned table: hive staging round-trips, appends feed O(increment), replace-partitions is ONE version") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    def days(ds: Range, tag: String) = ds.flatMap(d =>
      (1 to 10).map(i => (d * 100L + i, tag, d))).toDF("id", "tag", "day")
    // create partitioned: values live in paths, not files
    store.commitOverwrite(days(1 to 3, "v0"), partitionBy = Seq("day"))
    val got = store.read(spark)
    assert(got.count() == 30L)
    // partition column round-trips with its type
    assert(got.schema("day").dataType.typeName == "integer")
    assert(got.filter($"day" === 2).count() == 10L)
    assert(got.groupBy("day").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1, 10L), (2, 10L), (3, 10L)))
    // a per-day append inherits the layout; the feed is O(increment)
    store.commitAppend(days(4 to 4, "v1"))
    assert(store.read(spark).count() == 40L)
    val feed1 = store.readChanges(spark, 0L)
    assert(feed1.count() == 10L)
    assert(feed1.select("day").distinct().head().getInt(0) == 4)
    // dynamic-partition replace: day 2 rewritten + day 5 added, ONE
    // version, untouched partitions keep their file identity
    val before = store.readFullManifest(store.latestVersion.get)
      .entries.map(_.path).toSet
    val v2 = store.commitReplacePartitions(
      days(2 to 2, "fix").unionByName(days(5 to 5, "new")))
    assert(v2 == 2L && store.versions == Seq(0L, 1L, 2L))
    val after = store.read(spark)
    assert(after.count() == 50L)
    assert(after.filter($"day" === 2 && $"tag" === "fix").count() == 10L)
    assert(after.filter($"day" === 2 && $"tag" === "v0").count() == 0L)
    assert(after.filter($"day" === 5).count() == 10L)
    assert(after.filter($"day" === 1 && $"tag" === "v0").count() == 10L)
    val untouched = store.readFullManifest(2L).entries.map(_.path).toSet
      .intersect(before)
    assert(untouched.nonEmpty, "untouched partitions must keep file identity")
    assert(untouched.forall(p => !p.contains("day=2") && !p.contains("day=5")))
    // the feed for the replace is O(touched partitions)
    val feed2 = store.readChanges(spark, 1L)
    assert(feed2.filter($"_change_type" === "delete").count() == 10L)
    assert(feed2.filter($"_change_type" === "insert").count() == 20L)
    assert(feed2.filter($"_change_type" === "delete")
      .select("day").distinct().head().getInt(0) == 2)
    // time travel reads the pre-replace day 2
    assert(store.read(spark, Some(1L))
      .filter($"day" === 2 && $"tag" === "v0").count() == 10L)
    // schema guard: appending without the partition column fails loudly
    val e = intercept[IllegalArgumentException] {
      store.commitAppend(Seq((1L, "x")).toDF("id", "tag"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    // string partition values with special characters round-trip the escaping
    val store2 = new SnapshotStore(tmp())
    store2.commitOverwrite(
      Seq((1L, "a:b"), (2L, "plain"), (3L, null))
        .toDF("id", "src"), partitionBy = Seq("src"))
    val got2 = store2.read(spark)
    assert(got2.filter($"src" === "a:b").count() == 1L)
    assert(got2.filter($"src".isNull).select("id").head().getLong(0) == 3L)
  }

  test("partitioned table: compaction and copy-on-write delete keep the hive layout") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // two appends per day -> fragmented partitions
    (0 until 2).foreach { r =>
      val df = (1 to 2).flatMap(d =>
        (1 to 8).map(i => (d * 1000L + r * 100 + i, d))).toDF("id", "day")
        .repartition(4)
      if (store.latestVersion.isEmpty)
        store.commitOverwrite(df, partitionBy = Seq("day"))
      else store.commitAppend(df)
    }
    val beforeFiles = store.read(spark).inputFiles.length
    val cv = store.compactLatest(spark, targetFiles = 1)
    val compacted = store.read(spark)
    assert(compacted.count() == 32L)
    assert(compacted.inputFiles.length < beforeFiles)
    assert(compacted.groupBy("day").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet == Set((1, 16L), (2, 16L)))
    // feed skips the rewrite
    assert(store.readChanges(spark, cv - 1, Some(cv)).isEmpty)
    // CoW delete on a partitioned table keeps partition values intact
    store.deleteWhere(spark, $"id" % 2 === 0)
    val afterDel = store.read(spark)
    assert(afterDel.count() == 16L)
    assert(afterDel.groupBy("day").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet == Set((1, 8L), (2, 8L)))
  }

  test("vacuum retention shields a racing commit's staged-but-unpublished files") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(frame(1 to 5, "v0"))
    // a concurrent writer mid-commit: files staged, manifest not yet
    // published — a retention-less vacuum would eat its data
    val staged = store.stage(frame(100 to 101, "inflight"))
    store.vacuum(keepLast = 1, minAgeMillis = 60 * 60 * 1000L)
    val stagedPath = Paths.get(root).resolve(staged.head)
    assert(Files.isRegularFile(stagedPath),
      "retention must shield a racing commit's fresh staged files")
    // crashed-commit garbage is reclaimed once aged past the window
    Files.setLastModifiedTime(stagedPath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
    store.vacuum(keepLast = 1, minAgeMillis = 60 * 60 * 1000L)
    assert(!Files.isRegularFile(stagedPath))
    assert(store.read(spark).count() == 5L, "vacuum never touches referenced files")
  }

  test("restore republishes an old version's files as the new state: zero copy, honest feed, vacuum-safe") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(frame(1 to 6, "good"))      // v0
    store.commitOverwrite(frame(1 to 2, "oops"))      // v1: the bad deploy
    store.commitAppend(frame(50 to 50, "more"))       // v2
    val rv = store.restore(0L)                        // v3 = v0's state
    assert(rv == 3L)
    val got = store.read(spark)
    assert(got.count() == 6L)
    assert(got.select("tag").distinct().head().getString(0) == "good")
    // ZERO copy: the restored version references v0's files by identity
    assert(store.readFullManifest(3L).entries.map(_.path).toSet ==
      store.readFullManifest(0L).entries.map(_.path).toSet)
    // the undone versions remain readable history
    assert(store.read(spark, Some(1L)).count() == 2L)
    assert(store.read(spark, Some(2L)).count() == 3L)
    // the feed for the restore is the honest diff: bad state out, v0 back in
    val feed = store.readChanges(spark, 2L)
    assert(feed.filter($"_change_type" === "delete").count() == 3L)
    assert(feed.filter($"_change_type" === "insert").count() == 6L)
    // vacuum keeps the re-referenced files (v3 holds them) while
    // dropping the undone versions' own files
    store.vacuum(keepLast = 1)
    assert(store.versions == Seq(3L))
    assert(store.read(spark).count() == 6L)
    // restoring the CURRENT version is refused; a vacuumed target is loud
    intercept[IllegalArgumentException] { store.restore(3L) }
    intercept[IllegalArgumentException] { store.restore(1L) }
  }

  test("convertInPlace adopts an unmanaged parquet lake with zero rewrite; partitioned layouts included") {
    import spark.implicits._
    // an UNMANAGED lake: plain parquet written under data/ by someone else
    val root = tmp()
    val lake = (1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    lake.write.parquet(s"$root/data/legacy")
    val preFiles = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(Paths.get(root, "data"))
      try w.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(p => Paths.get(root).relativize(p).toString).toSet
      finally w.close()
    }
    val store = new SnapshotStore(root)
    val v0 = store.convertInPlace(spark, statsColumn = Some("id"))
    assert(v0 == 0L)
    // ZERO rewrite: the manifest references the legacy files by identity
    assert(store.readFullManifest(0L).entries.map(_.path).toSet == preFiles)
    assert(store.read(spark).count() == 4000L)
    // footer stats were collected during adoption: pruning works day one
    assert(store.readRange(spark, "id", 10L, 20L).inputFiles.length == 1)
    // and the table is fully managed from here: append, feed, time travel
    store.commitAppend(Seq((99999L, "new")).toDF("id", "v").coalesce(1))
    assert(store.readChanges(spark, 0L).count() == 1L)
    assert(store.read(spark, Some(0L)).count() == 4000L)
    // adopting over existing history is refused
    val e = intercept[IllegalArgumentException] { store.convertInPlace(spark) }
    assert(e.getMessage.contains("already has versions"))
    // hive-partitioned lake adopts as a partitioned table
    val root2 = tmp()
    (1 to 3).flatMap(d => (1 to 10).map(i => (d * 100L + i, d)))
      .toDF("id", "day").write.partitionBy("day").parquet(s"$root2/data/legacy")
    val store2 = new SnapshotStore(root2)
    store2.convertInPlace(spark, partitionBy = Seq("day"))
    val got2 = store2.read(spark)
    assert(got2.count() == 30L)
    assert(got2.filter(col("day") === 2L).count() == 10L)
    assert(store2.readFullManifest(0L).partCols == Seq("day"))
    // declaring a partition column the layout lacks is loud
    val root3 = tmp()
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$root3/data/flat")
    val e2 = intercept[IllegalArgumentException] {
      new SnapshotStore(root3).convertInPlace(spark, partitionBy = Seq("day"))
    }
    assert(e2.getMessage.contains("not a hive-partitioned layout"))
  }

  test("z-order compaction: both clustered dimensions prune after maintenance, rows bit-identical") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // streaming-shaped arrival: every file spans BOTH key ranges
    (0 until 4).foreach { r =>
      store.commitAppend(
        (1L to 4000L).filter(_ % 4 == r).map(i => (i, (i * 37L) % 4096L, s"v$i"))
          .toDF("a", "b", "v").coalesce(1),
        statsColumn = Some("a"))
    }
    val before = store.read(spark)
    assert(before.inputFiles.length == 4)
    val cv = store.compactLatest(spark, targetFiles = 8, zorderBy = Seq("a", "b"))
    val after = store.read(spark)
    assert(after.count() == 4000L)
    assert(after.orderBy("a").collect().toSeq ==
      before.orderBy("a").collect().toSeq, "z-order rewrite is bit-identical")
    // manifest stats on 'a' prune a-range queries: a z-ordered file
    // holds a compact a-range (not the full span every pre-compaction
    // file had)
    val aSlice = store.readRange(spark, "a", 100L, 200L)
    assert(aSlice.count() == 101L)
    assert(aSlice.inputFiles.length < 8,
      s"z-order must give compact per-file a-ranges, scanned ${aSlice.inputFiles.length}")
    // the second dimension prunes at the parquet footer: every file's
    // b-range is also compact (max per-file extent well under the span)
    import org.apache.parquet.hadoop.{ParquetFileReader => PFR}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val bExtents = after.inputFiles.map { f =>
      val r = PFR.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf))
      try {
        val st = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "b").map(_.getStatistics)
        val lo = st.map(_.genericGetMin.asInstanceOf[Long]).min
        val hi = st.map(_.genericGetMax.asInstanceOf[Long]).max
        hi - lo
      } finally r.close()
    }
    assert(bExtents.count(_ <= 4096 / 2) >= after.inputFiles.length / 2,
      s"at least half the z-ordered files must hold a compact b-range, extents: ${bExtents.mkString(",")}")
    // feed still skips the rewrite (dataChange = false)
    assert(store.readChanges(spark, cv - 1, Some(cv)).isEmpty)
  }

  test("q116's snapshotDiff over two REAL manifest versions matches the in-memory diff") {
    import spark.implicits._
    val base = (1L to 40L).map(k => (k, k % 5, k * 2.0)).toDF("k", "g", "p")
    // same derivation shape as q116: ~deletes, updates, re-inserts
    val cur = base.filter($"k" % 10 =!= 3)
      .withColumn("p", when($"k" % 7 === 0, $"p" + 1.0).otherwise($"p"))
      .unionByName(base.filter($"k" % 10 === 5).withColumn("k", $"k" + 1000L))
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(base)
    store.commitOverwrite(cur)
    val fromStore = Merge.snapshotDiff(
        store.read(spark, Some(0L)), store.read(spark, Some(1L)), Seq("k"))
      .orderBy("k").collect().toSeq
    val inMemory = Merge.snapshotDiff(base, cur, Seq("k"))
      .orderBy("k").collect().toSeq
    assert(fromStore == inMemory && fromStore.nonEmpty)
  }

  test("RESTORE re-validates inherited CHECK constraints against the restored rows") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // v0: bad rows (negative amounts); v1: cleaned; v2: constraint added
    store.commitOverwrite(Seq((1L, -5.0), (2L, 3.0)).toDF("id", "amt"))
    store.commitOverwrite(Seq((1L, 5.0), (2L, 3.0)).toDF("id", "amt"))
    store.addConstraint(spark, "amt_pos", "amt >= 0")
    // restoring v0 would republish rows the table property claims
    // impossible — refused with the drop-it-first recipe
    val e = intercept[IllegalArgumentException] { store.restore(spark, 0L) }
    assert(e.getMessage.contains("violate constraint 'amt_pos'"))
    assert(store.latestVersion.contains(2L), "refused restore published nothing")
    // a satisfying historical version restores fine (v1)
    val rv = store.restore(spark, 1L)
    assert(rv == 3L && store.read(spark).count() == 2L)
    // session-less restore on a constraint-carrying table is refused
    // (cannot validate), never silently skipped
    val e2 = intercept[IllegalArgumentException] { store.restore(1L) }
    assert(e2.getMessage.contains("SparkSession"))
    // a constraint referencing a column the restored schema LACKS cannot
    // even resolve: refused loudly, with the constraint named
    val store2 = new SnapshotStore(tmp())
    store2.commitOverwrite(Seq((1L, 1.0)).toDF("id", "amt"))
    store2.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.LongType))))
    store2.addConstraint(spark, "flag_ok", "flag IS NULL OR flag >= 0")
    val e3 = intercept[IllegalArgumentException] { store2.restore(spark, 0L) }
    assert(e3.getMessage.contains("does not resolve"))
  }

  test("file sizes are manifest metadata: commit records them; metadata consumers run zero stat(2) calls") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(3), statsColumn = Some("id"))
    store.commitAppend(Seq((1001L, "t")).toDF("id", "v").coalesce(1))
    val m = store.readFullManifest(store.latestVersion.get)
    assert(m.entries.nonEmpty && m.entries.forall(_.bytes.nonEmpty),
      "every staged entry must carry its commit-time size")
    m.entries.foreach { e =>
      assert(e.bytes.contains(
        Files.size(Paths.get(root).resolve(e.path))),
        s"recorded size must equal the file's real size for ${e.path}")
    }
    // sizes must ROUND-TRIP through compaction too
    val cv = store.compactLatest(spark, targetFiles = 2)
    assert(store.readFullManifest(cv).entries.forall(_.bytes.nonEmpty))
    // with sizes in the manifest, the metadata consumers (history,
    // small-file OPTIMIZE selection) never stat a data file
    store.onFileStat = p => fail(s"unexpected stat(2) fallback for $p")
    try {
      assert(store.history(spark).count() >= 3L)
      val before = store.latestVersion.get
      store.compactLatest(spark, 1, onlySmallerThanBytes = Some(1L)) // no-op path
      assert(store.latestVersion.contains(before))
    } finally store.onFileStat = _ => ()
    // a legacy manifest entry WITHOUT a size falls back to one counted stat
    val legacy = new SnapshotStore(tmp())
    val staged = legacy.stage(Seq((1L, "x")).toDF("id", "v"))
    legacy.publish(staged, Seq((1L, "x")).toDF("id", "v").schema) // bare paths: no sizes
    var stats = 0
    legacy.onFileStat = _ => stats += 1
    try {
      legacy.history(spark).collect()
      assert(stats == staged.length, "pre-size manifests pay exactly one stat per file")
    } finally legacy.onFileStat = _ => ()
  }

  test("log-structured manifests: a 1-row append writes O(1) manifest bytes; checkpoints on cadence; chains reconstruct") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    def manifestBytes(v: Long): Long =
      Files.size(Paths.get(root, "manifests", f"v$v%012d.manifest"))
    // v0: a 64-file table (the checkpoint) — its manifest is O(files)
    store.commitOverwrite((1L to 6400L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(64), statsColumn = Some("id"))
    val checkpointBytes = manifestBytes(0L)
    // appends are DELTAS: size independent of the table's 64 files
    val v1 = store.commitAppend(Seq((9001L, "x")).toDF("id", "v").coalesce(1))
    assert(v1 == 1L)
    assert(manifestBytes(1L) < checkpointBytes / 8,
      s"a 1-row append wrote ${manifestBytes(1L)} bytes against a " +
        s"$checkpointBytes-byte checkpoint — not O(increment)")
    // the delta carries everything a version needs: reads, stats, schema
    assert(store.read(spark).count() == 6401L)
    assert(store.readFullManifest(1L).entries.length == 65)
    // cadence: shrink the interval so the spec can see a checkpoint land
    store.checkpointInterval = 4
    (2 to 4).foreach(k => store.commitAppend(
      Seq((9000L + k, s"x$k")).toDF("id", "v").coalesce(1)))
    assert(store.readHeader(2L).isDelta && store.readHeader(3L).isDelta)
    assert(!store.readHeader(4L).isDelta,
      "version 4 must be a full checkpoint at interval 4")
    assert(manifestBytes(4L) > manifestBytes(3L) * 4)
    // a FRESH store instance (empty memo, a second process) reconstructs
    // any version from checkpoint + tail alone
    val other = new SnapshotStore(root)
    assert(other.read(spark, Some(3L)).count() == 6403L)
    assert(other.readFullManifest(3L).entries.map(_.path).toSet ==
      store.readFullManifest(3L).entries.map(_.path).toSet)
    // row-level DML records a DV change as a tiny remove+add delta
    store.deleteWhere(spark, $"id" === 17L, mergeOnRead = true)
    val vDel = store.latestVersion.get
    assert(store.readHeader(vDel).isDelta)
    assert(manifestBytes(vDel) < checkpointBytes / 8,
      "a MoR delete must publish O(touched files) records, not the table")
    assert(store.read(spark).count() == 6403L)
    // an overwrite's delta would be BIGGER than the full list: it
    // publishes a checkpoint regardless of cadence
    store.commitOverwrite(Seq((1L, "z")).toDF("id", "v"))
    assert(!store.readHeader(store.latestVersion.get).isDelta)
    // vacuum materializes the oldest KEPT version as a checkpoint so
    // dropping its predecessors never strands an unreadable delta chain
    val root2 = tmp()
    val store2 = new SnapshotStore(root2)
    store2.checkpointInterval = 100 // keep everything a delta after v0
    store2.commitOverwrite(frame(1 to 4, "base"))
    (1 to 5).foreach(k => store2.commitAppend(frame(k * 10 to k * 10, s"a$k")))
    assert(store2.readHeader(3L).isDelta)
    store2.vacuum(keepLast = 3) // keeps v3..v5; v3 was a delta
    assert(!store2.readHeader(3L).isDelta,
      "the oldest kept version must be self-contained after vacuum")
    assert(store2.read(spark, Some(3L)).count() == 7L)
    // a FRESH instance (no memo) reads the vacuumed store end to end
    assert(new SnapshotStore(root2).read(spark, Some(5L)).count() == 9L)
  }

  test("racing row-level DML over disjoint key ranges: both land via rebase; a shared-file racer loses loudly") {
    import spark.implicits._
    import java.util.concurrent.{CyclicBarrier, ConcurrentLinkedQueue, TimeUnit}
    val store = new SnapshotStore(tmp())
    // two range-clustered files: [1..100], [101..200]
    store.commitOverwrite((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")), statsColumn = Some("id"))
    def race(aLo: Long, aHi: Long, bLo: Long, bHi: Long): Seq[Throwable] = {
      val barrier = new CyclicBarrier(2)
      store.onRowOpStaged = () => { barrier.await(30, TimeUnit.SECONDS); () }
      val errs = new ConcurrentLinkedQueue[Throwable]()
      def upsert(lo: Long, hi: Long, tag: String) = new Thread(() => {
        try {
          val delta = (lo to hi).map(i => (i, s"$tag$i")).toDF("id", "v")
          store.mergeInto(spark, delta, Seq("id"), mergeOnRead = true)
        } catch { case t: Throwable => errs.add(t) }
      })
      val a = upsert(aLo, aHi, "a"); val b = upsert(bLo, bHi, "b")
      a.start(); b.start(); a.join(120000); b.join(120000)
      store.onRowOpStaged = () => ()
      import scala.jdk.CollectionConverters._
      errs.asScala.toSeq
    }
    // DISJOINT key ranges (the partition-sharded CDC applier shape):
    // both must land — the CAS loser rebases over the winner's files
    val errs1 = race(1L, 10L, 101L, 110L)
    assert(errs1.isEmpty, s"both disjoint upserts must land: $errs1")
    assert(store.latestVersion.contains(2L), "exactly one version each")
    val got = store.read(spark)
    assert(got.count() == 200L, "exact totals — no duplicate, no loss")
    assert(got.groupBy($"id").count().filter($"count" > 1L).isEmpty)
    assert(got.filter($"id" === 5L).head().getString(1) == "a5")
    assert(got.filter($"id" === 105L).head().getString(1) == "b105")
    // OVERLAPPING ranges hit the same file: the loser must fail LOUDLY
    // (its tombstone set is stale), never silently double-apply
    val errs2 = race(1L, 10L, 5L, 15L)
    assert(errs2.length == 1, s"exactly one loud loser, got $errs2")
    assert(errs2.head.isInstanceOf[ConcurrentCommitException])
    assert(errs2.head.getMessage.contains("re-tombstoned") ||
      errs2.head.getMessage.contains("removed"))
    assert(store.read(spark).count() == 200L)
  }

  test("row-level DML rebases over a racing append outside its key range; an in-range append conflicts loudly") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")), statsColumn = Some("id"))
    // a racer APPENDS far outside the merge's key range between staging
    // and publish: the merge rebases, both commits land
    store.onRowOpStaged = () => {
      store.onRowOpStaged = () => () // once
      store.commitAppend(Seq((1000L, "r")).toDF("id", "v").coalesce(1))
    }
    store.mergeInto(spark, Seq((5L, "m5")).toDF("id", "v"), Seq("id"))
    assert(store.latestVersion.contains(2L))
    val rows = store.read(spark)
    assert(rows.count() == 101L)
    assert(rows.filter($"id" === 5L).head().getString(1) == "m5")
    assert(rows.filter($"id" === 1000L).count() == 1L)
    // a racer appends INSIDE the range: the merge should have read that
    // file — rebasing could duplicate the key, so it fails loudly
    store.onRowOpStaged = () => {
      store.onRowOpStaged = () => ()
      store.commitAppend(Seq((6L, "r6")).toDF("id", "v").coalesce(1))
    }
    val e = intercept[ConcurrentCommitException] {
      store.mergeInto(spark, Seq((6L, "m6")).toDF("id", "v"), Seq("id"))
    }
    store.onRowOpStaged = () => ()
    assert(e.getMessage.contains("stats range"))
    // CoW DELETE rebases over an out-of-bounds append the same way
    store.onRowOpStaged = () => {
      store.onRowOpStaged = () => ()
      store.commitAppend(Seq((2000L, "z")).toDF("id", "v").coalesce(1))
    }
    store.deleteWhere(spark, $"id" === 7L)
    store.onRowOpStaged = () => ()
    assert(store.read(spark).filter($"id" === 7L).isEmpty)
    assert(store.read(spark).filter($"id" === 2000L).count() == 1L)
  }

  test("RENAME/DROP COLUMN via column mapping: zero file rewrites, time travel keeps old names, dropped values never resurrect") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      Seq((1L, "a1", 10.0), (2L, "a2", 20.0)).toDF("id", "name", "amt"),
      statsColumn = Some("id"))
    val filesBefore = store.readFullManifest(0L).entries.map(_.path).toSet
    // RENAME: logical name changes, files untouched
    val v1 = store.renameColumn(spark, "name", "label")
    assert(store.readFullManifest(v1).entries.map(_.path).toSet == filesBefore,
      "rename must be O(manifest) — zero file rewrites")
    val renamed = store.read(spark).orderBy("id")
    assert(renamed.columns.toSeq == Seq("id", "label", "amt"))
    assert(renamed.select("label").collect().map(_.getString(0)).toSeq ==
      Seq("a1", "a2"), "values follow the rename")
    // time travel: the old version keeps its own name
    assert(store.read(spark, Some(0L)).columns.contains("name"))
    // appends after the rename stage under the mapping and read back
    store.commitAppend(Seq((3L, "a3", 30.0)).toDF("id", "label", "amt"))
    assert(store.read(spark).filter($"label" === "a3").count() == 1L)
    // DML through the new name: CoW update rewrites correctly
    store.updateWhere(spark, $"id" === 1L, Map("label" -> lit("A1")))
    assert(store.read(spark).filter($"label" === "A1").count() == 1L)
    // DROP: schema narrows, files stay; re-adding the SAME name maps to
    // a fresh physical column — the dropped values must NOT come back
    val vDrop = store.dropColumn(spark, "label")
    assert(!store.read(spark).columns.contains("label"))
    assert(store.readFullManifest(vDrop).retired.nonEmpty)
    store.addColumns(StructType(Seq(StructField("label", LongType))))
    val readded = store.read(spark)
    assert(readded.columns.contains("label"))
    assert(readded.filter($"label".isNotNull).count() == 0L,
      "a re-added column must be all-null, never the dropped values")
    store.commitAppend(Seq((9L, 90.0, 7L)).toDF("id", "amt", "label"))
    assert(store.read(spark).filter($"label" === 7L).count() == 1L)
    // old versions read their own schema throughout the evolution
    assert(store.read(spark, Some(v1)).filter($"label" === "a1").count() == 1L)
    // property gates: partition / stats / constraint-referenced columns refuse
    val gated = new SnapshotStore(tmp())
    gated.commitOverwrite(Seq((1L, "d1", 5.0)).toDF("id", "day", "x"),
      statsColumn = Some("id"), partitionBy = Seq("day"))
    assert(intercept[IllegalArgumentException] {
      gated.renameColumn(spark, "day", "dt")
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      gated.dropColumn(spark, "id")
    }.getMessage.contains("stats column"))
    gated.addConstraint(spark, "x_pos", "x >= 0")
    assert(intercept[IllegalArgumentException] {
      gated.renameColumn(spark, "x", "y")
    }.getMessage.contains("constraint 'x_pos'"))
  }

  test("SHALLOW CLONE: a zero-copy fork whose history diverges independently; properties travel; compaction materializes") {
    import spark.implicits._
    val rootA = tmp(); val rootB = tmp()
    val a = new SnapshotStore(rootA)
    a.commitOverwrite((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")), statsColumn = Some("id"))
    a.addConstraint(spark, "id_pos", "id >= 0")
    a.commitAppend(Seq((1001L, "x")).toDF("id", "v").coalesce(1))
    val b = new SnapshotStore(rootB)
    b.cloneFrom(a) // at a's latest (v2)
    // ZERO copy: the clone's manifest references a's files by identity
    val aFiles = a.readFullManifest(a.latestVersion.get).entries
      .map(e => java.nio.file.Paths.get(rootA).resolve(e.path).toString).toSet
    val bEntries = b.readFullManifest(0L).entries.map(_.path).toSet
    assert(bEntries == aFiles, "clone must reference the source files, not copies")
    assert(b.read(spark).orderBy("id").collect().toSeq ==
      a.read(spark).orderBy("id").collect().toSeq)
    // properties travel: the clone enforces the source's constraint
    assert(intercept[Exception] {
      b.commitAppend(Seq((-5L, "bad")).toDF("id", "v").coalesce(1))
    }.getMessage.contains("id_pos"))
    // histories DIVERGE: a CoW delete on the source rewrites source
    // files; the clone still reads its pinned v0 (immutability)
    a.deleteWhere(spark, $"id" <= 500L)
    b.commitAppend(Seq((2000L, "b-only")).toDF("id", "v").coalesce(1))
    assert(a.read(spark).count() == 501L)
    assert(b.read(spark).count() == 1002L)
    assert(b.read(spark).filter($"id" === 7L).count() == 1L,
      "the clone keeps rows the source deleted")
    assert(a.read(spark).filter($"id" === 2000L).isEmpty,
      "the source never sees the clone's appends")
    // stats traveled: the clone's range read prunes on the cloned stats
    assert(b.readRange(spark, "id", 1L, 10L).count() == 10L)
    // per-file blooms and the property travel too
    val blSrc = new SnapshotStore(tmp())
    blSrc.commitOverwrite(Seq((1L, 10L)).toDF("id", "uid"))
    blSrc.setBloomFilter(Some("uid"))
    blSrc.commitAppend(Seq((2L, 20L)).toDF("id", "uid").coalesce(1))
    val blClone = new SnapshotStore(tmp())
    blClone.cloneFrom(blSrc)
    val cm = blClone.readFullManifest(0L)
    assert(cm.bloomColumn.contains("uid") && cm.entries.exists(_.bloom.nonEmpty),
      "the bloom property and per-file filters must travel with the clone")
    // a FULL compaction of the clone materializes it: every entry local
    val cv = b.compactLatest(spark, targetFiles = 2)
    assert(b.readFullManifest(cv).entries.forall(e => !e.path.startsWith("/")),
      "materialized clone must hold only clone-local (relative) files")
    assert(b.read(spark).count() == 1002L)
    // cloning onto a non-empty store is refused; self-clone is refused
    assert(intercept[IllegalArgumentException] { b.cloneFrom(a) }
      .getMessage.contains("births a NEW store"))
    val c = new SnapshotStore(tmp())
    assert(intercept[IllegalArgumentException] { c.cloneFrom(c) }
      .getMessage.contains("cannot clone itself"))
  }

  test("type widening: ALTER COLUMN TYPE is O(manifest); narrow files upcast at scan; narrowing refused") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1 to 100).map(i => (i, i.toFloat / 2)).toDF("id", "score")
        .repartitionByRange(2, col("id")), statsColumn = Some("id"))
    val files0 = store.readFullManifest(0L).entries.map(_.path).toSet
    val v1 = store.widenColumnType("id", LongType)
    val v2 = store.widenColumnType("score", DoubleType)
    assert(store.readFullManifest(v2).entries.map(_.path).toSet == files0,
      "widening must rewrite no file")
    val widened = store.read(spark)
    assert(widened.schema("id").dataType == LongType)
    assert(widened.schema("score").dataType == DoubleType)
    assert(widened.filter($"id" === 7L).head().getDouble(1) == 3.5)
    // appends now carry the WIDE type, including values beyond int range
    store.commitAppend(Seq((5000000000L, 9.25)).toDF("id", "score").coalesce(1))
    assert(store.read(spark).filter($"id" === 5000000000L).count() == 1L)
    // manifest stats stay valid across generations: range read prunes +
    // returns exact rows from both narrow and wide files
    assert(store.readRange(spark, "id", 1L, 10L).count() == 10L)
    assert(store.readRange(spark, "id", 4999999999L, 5000000001L).count() == 1L)
    // time travel: the old version keeps its own narrow types
    assert(store.read(spark, Some(0L)).schema("id").dataType == IntegerType)
    // narrowing and cross-family changes are refused loudly
    assert(intercept[IllegalArgumentException] {
      store.widenColumnType("id", IntegerType)
    }.getMessage.contains("not a supported WIDENING"))
    assert(intercept[IllegalArgumentException] {
      store.widenColumnType("score", StringType)
    }.getMessage.contains("not a supported WIDENING"))
  }

  test("type-widening matrix: decimal precision/scale growth, integer->decimal, date->timestamp_ntz; stats-encoding and narrowing refusals") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // decimal growth: precision, then scale too — narrow-decimal files
    // read back rescaled under the widened schema, exactly
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1 to 50).map(i => (i.toLong, BigDecimal(i * 1000000) + BigDecimal("0.25")))
        .toDF("id", "amt")
        .select($"id", $"amt".cast(DecimalType(10, 2)).as("amt")),
      statsColumn = Some("id"))
    store.widenColumnType("amt", DecimalType(20, 2))
    store.widenColumnType("amt", DecimalType(24, 6))
    assert(store.read(spark).schema("amt").dataType == DecimalType(24, 6))
    assert(store.read(spark).filter($"id" === 3L).head().getDecimal(1) ==
      new java.math.BigDecimal("3000000.250000"))
    // post-widening append carries values the narrow type cannot hold
    store.commitAppend(Seq((99L, BigDecimal("123456789012345678.123456")))
      .toDF("id", "amt")
      .select($"id", $"amt".cast(DecimalType(24, 6)).as("amt")).coalesce(1))
    assert(store.read(spark)
      .filter($"amt" > BigDecimal("1e17")).count() == 1L)
    // integer digits must never shrink; plain narrowing refused
    assert(intercept[IllegalArgumentException] {
      store.widenColumnType("amt", DecimalType(25, 8)) // 17 int digits < 18
    }.getMessage.contains("not a supported WIDENING"))
    assert(intercept[IllegalArgumentException] {
      store.widenColumnType("amt", DecimalType(12, 2))
    }.getMessage.contains("not a supported WIDENING"))
    // integer family -> decimal: enough integer digits or refused
    val s2 = new SnapshotStore(tmp())
    s2.commitOverwrite(Seq((1L, 2000000000, 5.toShort)).toDF("id", "v", "w"))
    assert(intercept[IllegalArgumentException] {
      s2.widenColumnType("v", DecimalType(9, 0)) // int needs 10
    }.getMessage.contains("not a supported WIDENING"))
    s2.widenColumnType("v", DecimalType(12, 2))
    // byte/short pages carry an INT(8/16) annotation the parquet reader
    // refuses to upcast to decimal — that cell is honestly NOT offered
    assert(intercept[IllegalArgumentException] {
      s2.widenColumnType("w", DecimalType(5, 0))
    }.getMessage.contains("not a supported WIDENING"))
    assert(s2.read(spark).head().getDecimal(1) ==
      new java.math.BigDecimal("2000000000.00"))
    // long -> decimal(20,0)
    s2.widenColumnType("id", DecimalType(20, 0))
    assert(s2.read(spark).schema("id").dataType == DecimalType(20, 0))
    assert(s2.read(spark).count() == 1L)
    // date -> timestamp_ntz: old files surface midnight NTZ
    val s3 = new SnapshotStore(tmp())
    s3.commitOverwrite(Seq((1L, java.sql.Date.valueOf("2024-03-05")))
      .toDF("id", "d"))
    s3.widenColumnType("d", TimestampNTZType)
    assert(s3.read(spark).head().get(1).toString == "2024-03-05T00:00")
    // a STATS column may widen only within the integer chain — any
    // other widening changes the min/max encoding query literals fold
    // against (date->ntz literals are MICROS vs day-encoded stats:
    // wrong pruning) or kills stats collection (decimal/double)
    val s4 = new SnapshotStore(tmp())
    s4.commitOverwrite(
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")), statsColumn = Some("k"))
    s4.widenColumnType("k", LongType) // integer chain: fine
    assert(s4.readRange(spark, "k", 5L, 7L).count() == 3L)
    assert(intercept[IllegalArgumentException] {
      s4.widenColumnType("k", DecimalType(20, 0))
    }.getMessage.contains("stats column"))
    val s5 = new SnapshotStore(tmp())
    s5.commitOverwrite(
      Seq((java.sql.Date.valueOf("2024-01-02"), 1L)).toDF("d", "x"),
      statsColumn = Some("d"))
    assert(intercept[IllegalArgumentException] {
      s5.widenColumnType("d", TimestampNTZType)
    }.getMessage.contains("stats column"))
    // widening the BLOOM column to decimal strips filters (hash width)
    val s6 = new SnapshotStore(tmp())
    s6.commitOverwrite(Seq((1L, 42)).toDF("id", "u"))
    s6.setBloomFilter(Some("u"))
    s6.compactLatest(spark, targetFiles = 1)
    val vW = s6.widenColumnType("u", DecimalType(12, 0))
    assert(s6.readFullManifest(vW).entries.forall(_.bloom.isEmpty))
    assert(s6.read(spark).filter($"u" === BigDecimal(42)).count() == 1L)
  }

  test("bloom filters: point lookups and point DML skip files on an UNCLUSTERED column; conservative without filters") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    // uid is hash-scattered: every file's uid RANGE spans the whole
    // domain, so range stats can never prune a uid point lookup —
    // exactly the column class the bloom property exists for
    def uidOf(i: Long): Long = i * 2654435761L % 1000003L
    // 500 distinct uids per file — the 4096-bit/k=6 design density
    // (the saturation-honesty knee is ~950/file; see the saturation test)
    val df = (1L to 8000L).map(i => (i, uidOf(i), s"v$i")).toDF("id", "uid", "v")
    store.commitOverwrite(df.repartitionByRange(16, col("id")),
      statsColumn = Some("id"))
    store.setBloomFilter(Some("uid"))
    // pre-property files carry no filter (conservatively kept); a
    // compaction restages them WITH filters
    store.compactLatest(spark, targetFiles = 16)
    val m0 = store.readFullManifest(store.latestVersion.get)
    assert(m0.entries.length == 16 && m0.entries.forall(_.bloom.nonEmpty),
      "every rewritten file must carry a bloom filter")
    // CoW point DELETE: only the files whose filter might hold the value
    // are rewritten — the rest keep path identity
    val u = uidOf(5000L)
    store.deleteWhere(spark, $"uid" === u)
    val m1 = store.readFullManifest(store.latestVersion.get)
    val kept = m1.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    assert(kept.size >= 13,
      s"a point delete must keep most files by identity (kept ${kept.size}/16)")
    assert(store.read(spark).count() == 7999L)
    assert(store.read(spark).filter($"uid" === u).isEmpty)
    // MoR point upsert by the bloom key: only hit files take a DV
    store.mergeInto(spark,
      Seq((9999L, uidOf(3000L), "upd")).toDF("id", "uid", "v"),
      keys = Seq("uid"), mergeOnRead = true)
    val m2 = store.readFullManifest(store.latestVersion.get)
    assert(m2.entries.count(_.dv.nonEmpty) <= 2,
      "bloom key pruning must confine the tombstone join to hit files")
    val got = store.read(spark).filter($"uid" === uidOf(3000L)).collect()
    assert(got.length == 1 && got.head.getString(2) == "upd")
    // NULL keys disable bloom pruning (null-safe equality CAN match):
    // correctness first — the merge still lands
    store.commitAppend(Seq((8888L, Option.empty[Long], "n")).toDF("id", "uid", "v"))
    store.mergeInto(spark,
      Seq((8888L, Option.empty[Long], "n2")).toDF("id", "uid", "v"),
      keys = Seq("uid"), mergeOnRead = true)
    assert(store.read(spark).filter($"uid".isNull).head().getString(2) == "n2")
    // dropping the property stops collection for future files
    store.setBloomFilter(None)
    store.commitAppend(Seq((7777L, uidOf(7777L), "x")).toDF("id", "uid", "v"))
    val m3 = store.readFullManifest(store.latestVersion.get)
    assert(m3.entries.exists(_.bloom.isEmpty))
  }

  test("bloom integrity across schema evolution: hash-width widening strips filters; rename/drop of the bloom column refused; re-pointing the property strips") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // uid is INT here: xxhash64 hashes int and long DIFFERENTLY
    // (4-byte vs 8-byte path), so filters built over int values are
    // false-negative against long-typed query literals after widening
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1 to 4000).map(i => (i.toLong, i * 7)).toDF("id", "uid")
        .repartitionByRange(8, col("id")), statsColumn = Some("id"))
    store.setBloomFilter(Some("uid"))
    store.compactLatest(spark, targetFiles = 8)
    val mPre = store.readFullManifest(store.latestVersion.get)
    assert(mPre.entries.forall(_.bloom.nonEmpty))
    // widen uid -> LONG: old filters hashed int values; keeping them
    // would silently skip files on long-literal lookups. They must be
    // STRIPPED (conservative: no filter -> always scanned)
    val vW = store.widenColumnType("uid", LongType)
    val mW = store.readFullManifest(vW)
    assert(mW.schema("uid").dataType == LongType)
    assert(mW.entries.forall(_.bloom.isEmpty),
      "hash-width widening of the bloom column must strip stale filters")
    assert(store.read(spark).filter($"uid" === 21L).count() == 1L,
      "point lookup after widening must still find the row")
    // point DML through the bloom path stays correct too
    store.deleteWhere(spark, $"uid" === 7777L * 7L)
    assert(store.read(spark).filter($"uid" === 7777L * 7L).isEmpty)
    // fresh writes rebuild filters at the wide type and they work
    store.commitAppend(Seq((9001L, 5000000000L)).toDF("id", "uid").coalesce(1))
    val mNew = store.readFullManifest(store.latestVersion.get)
    assert(mNew.entries.exists(_.bloom.nonEmpty),
      "post-widening appends must carry filters at the wide type")
    assert(store.read(spark).filter($"uid" === 5000000000L).count() == 1L)
    // hash-COMPATIBLE widening keeps filters: byte/short/int share the
    // 4-byte hash path, so short -> int preserves every hash
    val s2 = new SnapshotStore(tmp())
    s2.commitOverwrite(Seq((1L, 5.toShort)).toDF("id", "k"))
    s2.setBloomFilter(Some("k"))
    s2.compactLatest(spark, targetFiles = 1)
    val vC = s2.widenColumnType("k", IntegerType)
    assert(s2.readFullManifest(vC).entries.forall(_.bloom.nonEmpty),
      "short -> int is hash-compatible; filters must survive")
    assert(s2.read(spark).filter($"k" === 5).count() == 1L)
    // RENAME/DROP of the bloom column: refused like partition/stats —
    // a dangling or re-bound #bloomcol silently mis-prunes
    assert(intercept[IllegalArgumentException] {
      store.renameColumn(spark, "uid", "user_id")
    }.getMessage.contains("bloom-filter column"))
    assert(intercept[IllegalArgumentException] {
      store.dropColumn(spark, "uid")
    }.getMessage.contains("bloom-filter column"))
    // drop the property first -> rename proceeds, then re-set
    store.setBloomFilter(None)
    store.renameColumn(spark, "uid", "user_id")
    store.setBloomFilter(Some("user_id"))
    assert(store.read(spark).filter($"user_id" === 21L).count() == 1L)
    // re-pointing the property at ANOTHER column strips filters built
    // over the old column's values (probing them with the new column's
    // hashes would false-negative)
    val s3 = new SnapshotStore(tmp())
    s3.commitOverwrite(Seq((1L, 10L, 99L)).toDF("id", "a", "b"))
    s3.setBloomFilter(Some("a"))
    s3.compactLatest(spark, targetFiles = 1)
    assert(s3.readFullManifest(s3.latestVersion.get).entries.forall(_.bloom.nonEmpty))
    s3.setBloomFilter(Some("b"))
    val m3 = s3.readFullManifest(s3.latestVersion.get)
    assert(m3.bloomColumn.contains("b") && m3.entries.forall(_.bloom.isEmpty),
      "re-pointing the bloom property must strip filters built on the old column")
    assert(s3.read(spark).filter($"b" === 99L).count() == 1L)
  }

  test("clone-aware vacuum: source vacuum refuses while a clone references files; materialize or delete releases the pin; FORCE breaks deliberately") {
    import spark.implicits._
    val a = new SnapshotStore(tmp())
    a.commitOverwrite((1L to 800L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")), statsColumn = Some("id"))
    val rootB = tmp()
    val b = new SnapshotStore(rootB)
    b.cloneFrom(a)
    // source replaces everything; retention alone would reclaim the v0
    // files the clone still reads
    a.commitOverwrite(Seq((9999L, "new")).toDF("id", "v"))
    // DRY RUN first: the preview lists exactly the reclaimable files,
    // every one tagged with the pinning clone, and mutates NOTHING
    val preview = a.vacuumPreview(keepLast = 1)
    val pinnedParquet = preview.filter(_._1.endsWith(".parquet"))
    assert(pinnedParquet.length == 4 && pinnedParquet.forall(_._3.contains(
      java.nio.file.Paths.get(rootB).normalize.toString)),
      s"all 4 v0 data files must show as clone-pinned, got $preview")
    assert(pinnedParquet.forall(_._2 > 0L))
    // write-sidecar junk (_SUCCESS, .crc) is honestly reclaimable and
    // never pinned (no manifest references it)
    assert(preview.filterNot(_._1.endsWith(".parquet")).forall(_._3.isEmpty))
    assert(a.read(spark, Some(0L)).count() == 800L,
      "a dry run must not touch history")
    val e = intercept[IllegalStateException] { a.vacuum(keepLast = 1) }
    assert(e.getMessage.contains(java.nio.file.Paths.get(rootB).normalize.toString) &&
      e.getMessage.contains("force"))
    // refusal left everything intact: the clone still reads its pin
    assert(b.read(spark).count() == 800L)
    // materializing the clone AND retiring its source-referencing
    // history releases the pin -> vacuum proceeds (the pin is exact:
    // any still-reachable clone version counts)
    b.compactLatest(spark, targetFiles = 2)
    intercept[IllegalStateException] { a.vacuum(keepLast = 1) } // v0 still pins
    b.vacuum(keepLast = 1)
    // released pin: the preview now shows the same files UNpinned
    val preview2 = a.vacuumPreview(keepLast = 1)
    assert(preview2.filter(_._1.endsWith(".parquet")).length == 4 &&
      preview2.forall(_._3.isEmpty),
      s"after materialize+retire the pins must be gone, got $preview2")
    a.vacuum(keepLast = 1)
    assert(a.read(spark).count() == 1L)
    assert(a.vacuumPreview(keepLast = 1).isEmpty,
      "after the vacuum nothing is reclaimable")
    assert(b.read(spark).count() == 800L, "materialized clone survives source vacuum")
    // a clone whose DIRECTORY was deleted releases its pin too
    val rootC = tmp()
    val c = new SnapshotStore(rootC)
    a.commitAppend(Seq((10000L, "x")).toDF("id", "v").coalesce(1))
    c.cloneFrom(a)
    a.commitOverwrite(Seq((1L, "z")).toDF("id", "v"))
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
      finally walk.close()
    }
    rmTree(java.nio.file.Paths.get(rootC))
    a.vacuum(keepLast = 1) // no refusal: the dead clone self-cleaned
    // FORCE: the operator deliberately breaks a live clone
    val d = new SnapshotStore(tmp())
    d.cloneFrom(a)
    a.commitOverwrite(Seq((2L, "w")).toDF("id", "v"))
    a.vacuum(keepLast = 1, force = true)
    assert(intercept[Exception] { d.read(spark).count() } != null,
      "force-vacuumed clone must fail loudly, not silently return wrong rows")
  }

  test("bloom capacity honesty: filters size to the file's distinct count; past the cap NO filter publishes; legacy saturation math holds") {
    import spark.implicits._
    // legacy unit surface: fixed 512-byte filters saturate past ~950
    // values — the read path skips probing those
    val bits = Bloom.empty()
    assert(!Bloom.saturated(bits))
    (1 to 400).foreach(i => Bloom.add(bits, i.toLong * 0x9E3779B97F4A7C15L))
    assert(!Bloom.saturated(bits), "400 values must NOT saturate (the design point)")
    (401 to 5000).foreach(i => Bloom.add(bits, i.toLong * 0x9E3779B97F4A7C15L))
    assert(Bloom.saturated(bits), "5000 values must saturate a legacy filter")
    // adaptive sizing: m = 12n rounded to a power of two, 512 B floor,
    // 128 KB cap; past MaxDistinct sized() refuses
    assert(Bloom.sized(1).length * 64 == 4096)
    assert(Bloom.sized(400).length * 64 == 8192)
    assert(Bloom.sized(6000).length * 64 == 131072)
    assert(!Bloom.saturated({
      val b = Bloom.sized(6000)
      (1 to 6000).foreach(i => Bloom.add(b, i.toLong * 0x9E3779B97F4A7C15L))
      b
    }), "an adaptively-sized filter never saturates at its design load")
    intercept[IllegalArgumentException] { Bloom.sized(Bloom.MaxDistinct + 1) }
    // FOLD identity: OR-ing the halves of a power-of-two filter is
    // bit-identical to having built it at half size — the algebra that
    // makes size-at-build (and any power-of-two downsizing) sound
    val vals = (1 to 3000).map(i => i.toLong * 0x9E3779B97F4A7C15L)
    val wide = Bloom.sized(6000)    // 2x the size the values need
    val narrow = Bloom.sized(1500)  // what foldTo should land on
    vals.foreach(Bloom.add(wide, _))
    vals.foreach(Bloom.add(narrow, _))
    assert(Bloom.foldTo(wide, narrow.length).sameElements(narrow),
      "fold(sized(m)) must equal sized(m/2^k) bit-for-bit")
    intercept[IllegalArgumentException] { Bloom.foldTo(narrow, wide.length) }
    // store surface: a 6000-distinct file gets a filter SIZED for it
    // and point lookups prune; a file past MaxDistinct publishes no
    // filter at all (conservatively always scanned); lookups stay
    // exact either way
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      (1L to 6000L).map(i => (i, i * 2654435761L % 99999989L)).toDF("id", "uid")
        .coalesce(1), statsColumn = Some("id"))
    store.setBloomFilter(Some("uid"))
    store.compactLatest(spark, targetFiles = 1)
    val m = store.readFullManifest(store.latestVersion.get)
    assert(m.entries.forall(e => e.bloom.nonEmpty &&
      Bloom.decode(e.bloom.get).length * 64 == 131072),
      "a mid-cardinality file must carry a filter sized to its load")
    val probe = 1234L * 2654435761L % 99999989L
    assert(store.read(spark).filter($"uid" === probe).count() == 1L)
    // past the cap: > MaxDistinct distinct values in one file
    val big = new SnapshotStore(tmp())
    val n = Bloom.MaxDistinct + 1000L
    big.commitOverwrite(
      spark.range(1L, n + 1L).select($"id", ($"id" * 2654435761L).as("uid"))
        .coalesce(1), statsColumn = Some("id"))
    big.setBloomFilter(Some("uid"))
    big.compactLatest(spark, targetFiles = 1)
    val mBig = big.readFullManifest(big.latestVersion.get)
    assert(mBig.entries.forall(_.bloom.isEmpty),
      "past MaxDistinct the file must publish NO filter (saturation honesty)")
    assert(big.read(spark).filter($"uid" === 777L * 2654435761L).count() == 1L)
  }

  test("distributed bloom build (file count past the one-pass bound): filters size per file and point lookups stay exact") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val files = 130 // > BloomOnePassMaxFiles -> the two-pass path
    store.commitOverwrite(
      spark.range(1L, files * 40L + 1L)
        .select($"id", ($"id" * 2654435761L % 999999937L).as("uid"))
        .repartitionByRange(files, $"id"),
      statsColumn = Some("id"))
    store.setBloomFilter(Some("uid"))
    store.compactLatest(spark, targetFiles = files)
    val m = store.readFullManifest(store.latestVersion.get)
    assert(m.entries.length == files)
    assert(m.entries.forall(_.bloom.nonEmpty),
      "every 40-distinct file must carry a (floor-sized) filter")
    val probe = 777L * 2654435761L % 999999937L
    assert(store.read(spark).filter($"uid" === probe).count() == 1L)
    assert(store.read(spark).filter($"uid" === -5L).isEmpty)
  }

  test("StoreBackend seam: the store runs end-to-end through the trait; an append publishes exactly ONE metadata object") {
    import spark.implicits._
    val counting = new StoreBackend.Counting()
    val store = new SnapshotStore(tmp(), counting)
    store.commitOverwrite(frame(1 to 20, "a").coalesce(1),
      statsColumn = Some("id"))
    val before = counting.calls("publishAtomic")
    store.commitAppend(frame(21 to 25, "b").coalesce(1))
    assert(counting.calls("publishAtomic") == before + 1,
      "an append must publish exactly one metadata object (one CAS)")
    assert(store.read(spark).count() == 25L)
    // MoR delete, time travel, feed, vacuum — all through the seam
    store.deleteWhere(spark, $"id" === 5L, mergeOnRead = true)
    assert(store.read(spark).count() == 24L)
    assert(store.read(spark, Some(0L)).count() == 20L)
    assert(store.readChanges(spark, 1L).count() == 1L)
    store.vacuum(keepLast = 1)
    assert(counting.calls("delete") >= 2, "vacuum deletes through the seam")
    assert(store.read(spark).count() == 24L)
    assert(counting.calls("readBytes") + counting.calls("open") > 0)
    // the CAS loser surfaces as ConcurrentCommitException: two stores on
    // ONE root — the second commit of the same version loses the publish
    val shared = tmp()
    val w1 = new SnapshotStore(shared, counting)
    val w2 = new SnapshotStore(shared, counting)
    w1.commitOverwrite(frame(1 to 3, "x").coalesce(1))
    w2.commitAppend(frame(4 to 5, "y").coalesce(1)) // rebases to v1
    assert(w1.read(spark).count() == 5L)
  }

  test("InMemory backend: the whole store surface runs with ZERO manifest files on disk (object-store shape)") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root, new StoreBackend.InMemory)
    store.commitOverwrite(frame(1 to 30, "a").coalesce(1),
      statsColumn = Some("id"))
    store.commitAppend(frame(31 to 35, "b").coalesce(1))
    store.deleteWhere(spark, $"id" === 2L, mergeOnRead = true)
    assert(store.read(spark).count() == 34L)
    assert(store.read(spark, Some(0L)).count() == 30L)
    assert(store.readRange(spark, "id", 31L, 40L).count() == 5L)
    assert(store.readChanges(spark, 1L).count() == 1L)
    store.vacuum(keepLast = 2)
    assert(store.versions == Seq(1L, 2L))
    // the proof: data files exist on disk, manifests NEVER did
    assert(Files.isDirectory(Paths.get(root, "data")))
    assert(!Files.exists(Paths.get(root, "manifests")),
      "an in-memory metadata plane must write no manifest files")
    // and a CAS race still arbitrates through putIfAbsent semantics
    val mem = new StoreBackend.InMemory
    val p = Paths.get(root, "probe")
    assert(mem.publishAtomic(p, Array[Byte](1)))
    assert(!mem.publishAtomic(p, Array[Byte](2)), "second publish must lose")
    assert(mem.readBytes(p).sameElements(Array[Byte](1)))
  }

  // ---- convertFromDelta fixtures: hand-written _delta_log per the ----
  // ---- PUBLIC Delta transaction-log protocol spec                 ----

  /** Writes `df` as ONE parquet file at `tableDir/name`, returns size. */
  private def deltaDataFile(tableDir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val stage = Files.createTempDirectory("graft-dl-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator()
    val src = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(tableDir).resolve(name)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst)
    Files.size(dst)
  }

  private def jsonQuote(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  private def deltaMeta(schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String] = Nil, conf: Map[String, String] = Map.empty): String = {
    val pc = partCols.map(jsonQuote).mkString("[", ",", "]")
    val cf = conf.map { case (k, v) => s"${jsonQuote(k)}:${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jsonQuote(schema.json)},"partitionColumns":$pc,""" +
      s""""configuration":$cf,"createdTime":0}}"""
  }

  private def deltaProto(minReader: Int = 1, features: Seq[String] = Nil): String =
    if (features.isEmpty)
      s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":2}}"""
    else s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":7,""" +
      s""""readerFeatures":${features.map(jsonQuote).mkString("[", ",", "]")},""" +
      s""""writerFeatures":[]}}"""

  private def deltaAdd(path: String, size: Long,
      partVals: Map[String, String] = Map.empty): String = {
    val pv = partVals.map { case (k, v) => s"${jsonQuote(k)}:${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    s"""{"add":{"path":${jsonQuote(path)},"partitionValues":$pv,"size":$size,""" +
      s""""modificationTime":0,"dataChange":true}}"""
  }

  /** An add action carrying a deletion-vector descriptor. */
  private def deltaAddDv(path: String, size: Long, dvJson: String): String =
    s"""{"add":{"path":${jsonQuote(path)},"partitionValues":{},"size":$size,""" +
      s""""modificationTime":0,"dataChange":true,"deletionVector":$dvJson}}"""

  private def deltaRemove(path: String): String =
    s"""{"remove":{"path":${jsonQuote(path)},"deletionTimestamp":0,""" +
      s""""dataChange":true}}"""

  private def deltaCommit(tableDir: String, v: Long, lines: Seq[String]): Unit = {
    val logDir = Paths.get(tableDir).resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Classic single-file parquet checkpoint from the same action lines
    * (schema inferred by the JSON reader — the replayer re-renders each
    * struct with to_json, so exact physical shape is immaterial).
    */
  private def deltaCheckpoint(tableDir: String, v: Long,
      lines: Seq[String]): Unit = {
    import spark.implicits._
    val logDir = Paths.get(tableDir).resolve("_delta_log")
    Files.createDirectories(logDir)
    val stage = Files.createTempDirectory("graft-dl-ckpt")
    spark.read.json(lines.toDS).coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val it = Files.list(stage).iterator()
    val src = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(src, logDir.resolve(f"$v%020d.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":$v,"size":${lines.length}}""".getBytes("UTF-8"))
  }

  test("convertFromDelta: JSON replay honors add/remove and encoded paths; adoption is zero-copy and the store lives on") {
    import spark.implicits._
    val delta = tmp()
    val f1 = deltaDataFile(delta, "part-f1.parquet", frame(1 to 10, "a"))
    val f2 = deltaDataFile(delta, "part-f2.parquet", frame(11 to 20, "b"))
    // a path Delta would percent-encode (space)
    val f3 = deltaDataFile(delta, "part f3.parquet", frame(21 to 30, "c"))
    val schema = spark.read.parquet(s"$delta/part-f1.parquet").schema
    deltaCommit(delta, 0L, Seq(deltaProto(), deltaMeta(schema),
      deltaAdd("part-f1.parquet", f1), deltaAdd("part-f2.parquet", f2)))
    deltaCommit(delta, 1L, Seq(deltaAdd("part%20f3.parquet", f3)))
    deltaCommit(delta, 2L, Seq(deltaRemove("part-f2.parquet")))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta, statsColumn = Some("id"))
    // live = f1 + f3; the removed f2 must not surface
    val got = store.read(spark)
    assert(got.count() == 20L)
    assert(got.select("tag").distinct().collect().map(_.getString(0)).toSet ==
      Set("a", "c"))
    // zero copy: entries reference the delta table's files by identity
    val m = store.readFullManifest(0L)
    assert(m.entries.map(_.path).toSet ==
      Set(s"$delta/part-f1.parquet", s"$delta/part f3.parquet"))
    // footer stats landed -> range read prunes and returns exact rows
    assert(store.readRange(spark, "id", 22L, 25L).count() == 4L)
    // the adopted store is a full citizen: append + point filter work
    store.commitAppend(frame(100 to 101, "post").toDF())
    assert(store.read(spark).count() == 22L)
    assert(store.read(spark).filter($"id" === 100L).count() == 1L)
    // the Delta table itself was never touched
    val logFiles = Files.list(Paths.get(delta, "_delta_log"))
    try assert(logFiles.count() == 3) finally logFiles.close()
    // TIME-TRAVEL adoption: versionAsOf stops the replay — v1 still
    // holds the later-removed f2, and v0 predates f3
    val atV1 = new SnapshotStore(tmp())
    atV1.convertFromDelta(spark, delta, versionAsOf = Some(1L))
    assert(atV1.read(spark).count() == 30L)
    assert(atV1.read(spark).select("tag").distinct().collect()
      .map(_.getString(0)).toSet == Set("a", "b", "c"))
    val atV0 = new SnapshotStore(tmp())
    atV0.convertFromDelta(spark, delta, versionAsOf = Some(0L))
    assert(atV0.read(spark).count() == 20L)
    assert(intercept[IllegalArgumentException] {
      new SnapshotStore(tmp()).convertFromDelta(spark, delta,
        versionAsOf = Some(9L))
    }.getMessage.contains("outside the log's range"))
  }

  test("convertFromDelta: checkpoint replay — reconciled parquet state plus later JSON deltas, pre-checkpoint logs gone") {
    val delta = tmp()
    val f1 = deltaDataFile(delta, "f1.parquet", frame(1 to 5, "old"))
    val f2 = deltaDataFile(delta, "f2.parquet", frame(6 to 10, "keep"))
    val f3 = deltaDataFile(delta, "f3.parquet", frame(11 to 15, "keep"))
    val f4 = deltaDataFile(delta, "f4.parquet", frame(16 to 20, "tail"))
    val schema = spark.read.parquet(s"$delta/f2.parquet").schema
    // checkpoint at v2 holds the RECONCILED state: meta + protocol +
    // live adds (f2, f3) + f1's remove TOMBSTONE (must not resurrect)
    deltaCheckpoint(delta, 2L, Seq(deltaProto(), deltaMeta(schema),
      deltaAdd("f2.parquet", f2), deltaAdd("f3.parquet", f3),
      deltaRemove("f1.parquet")))
    // pre-checkpoint JSONs were CLEANED UP (Delta's log retention) —
    // replay must start from the checkpoint, not demand version 0
    deltaCommit(delta, 3L, Seq(deltaAdd("f4.parquet", f4)))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta)
    val got = store.read(spark)
    assert(got.count() == 15L)
    assert(got.select("tag").distinct().collect().map(_.getString(0)).toSet ==
      Set("keep", "tail"))
    // a gap AFTER the checkpoint is an incomplete log -> loud refusal
    val delta2 = tmp()
    val g1 = deltaDataFile(delta2, "g1.parquet", frame(1 to 3, "x"))
    deltaCommit(delta2, 0L, Seq(deltaProto(), deltaMeta(schema),
      deltaAdd("g1.parquet", g1)))
    deltaCommit(delta2, 2L, Seq(deltaAdd("g1.parquet", g1)))
    val e = intercept[IllegalArgumentException] {
      new SnapshotStore(tmp()).convertFromDelta(spark, delta2)
    }
    assert(e.getMessage.contains("missing version file"))
  }

  test("convertFromDelta: hive-partitioned tables adopt with pruning; unsupported features are refused loudly") {
    import spark.implicits._
    val delta = tmp()
    val d1 = deltaDataFile(delta, "day=1/p1.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val d2 = deltaDataFile(delta, "day=2/p2.parquet",
      Seq((3L, "c")).toDF("id", "v"))
    val dataSchema = spark.read.parquet(s"$delta/day=1/p1.parquet").schema
    val full = org.apache.spark.sql.types.StructType(dataSchema.fields :+
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType))
    deltaCommit(delta, 0L, Seq(deltaProto(), deltaMeta(full, Seq("day")),
      deltaAdd("day=1/p1.parquet", d1, Map("day" -> "1")),
      deltaAdd("day=2/p2.parquet", d2, Map("day" -> "2"))))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta)
    assert(store.tableSchema().fieldNames.toSeq == Seq("id", "v", "day"),
      "partition column must normalize to LAST")
    assert(store.read(spark).count() == 3L)
    assert(store.read(spark).filter($"day" === 1L).count() == 2L)
    assert(store.read(spark).filter($"day" === 2L)
      .select("v").head().getString(0) == "c")
    // refusals: deletion-vector reader feature
    def refused(lines: Seq[Seq[String]], needle: String): Unit = {
      val t = tmp()
      val sz = deltaDataFile(t, "r.parquet", frame(1 to 2, "r"))
      val sch = spark.read.parquet(s"$t/r.parquet").schema
      lines.zipWithIndex.foreach { case (ls, i) =>
        deltaCommit(t, i.toLong, ls.map(_
          .replace("__SIZE__", sz.toString)
          .replace("__SCHEMA__", jsonQuote(sch.json).drop(1).dropRight(1))))
      }
      val msg = intercept[IllegalArgumentException] {
        new SnapshotStore(tmp()).convertFromDelta(spark, t)
      }.getMessage
      assert(msg.toLowerCase.contains(needle.toLowerCase),
        s"expected refusal mentioning '$needle', got: $msg")
    }
    val metaTmpl = (sch: org.apache.spark.sql.types.StructType) => deltaMeta(sch)
    val plainSchema = frame(1 to 2, "r").schema
    // a reader feature the replay genuinely cannot honor
    refused(Seq(Seq(deltaProto(3, Seq("v2Checkpoint")),
      deltaMeta(plainSchema), deltaAdd("r.parquet", 1L))),
      "unsupported reader feature")
    // id-mode whose schemaString LACKS the field ids is corrupt — the
    // adoption cannot resolve columns (well-formed id mode adopts;
    // covered by its own test); an unknown mapping mode refuses too
    refused(Seq(Seq(deltaProto(2),
      deltaMeta(plainSchema, Nil, Map("delta.columnMapping.mode" -> "id")),
      deltaAdd("r.parquet", 1L))), "delta.columnMapping.id")
    refused(Seq(Seq(deltaProto(2),
      deltaMeta(plainSchema, Nil, Map("delta.columnMapping.mode" -> "odd")),
      deltaAdd("r.parquet", 1L))), "columnMapping")
    // an absolute/external file reference
    refused(Seq(Seq(deltaProto(), deltaMeta(plainSchema),
      deltaAdd("s3://bucket/x.parquet", 1L))), "self-contained")
    // a log whose add references a vacuumed-away file
    refused(Seq(Seq(deltaProto(), deltaMeta(plainSchema),
      deltaAdd("gone.parquet", 1L))), "missing file")
    // a partition column of a type the path decoder cannot represent
    val tsPart = org.apache.spark.sql.types.StructType(
      plainSchema.fields :+ org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType))
    refused(Seq(Seq(deltaProto(), deltaMeta(tsPart, Seq("ts")),
      deltaAdd("r.parquet", 1L))), "unsupported type")
  }

  test("convertFromDelta translates DELETION VECTORS: u-storage and inline DVs become native sidecars, stacked deletes honor newest-add-wins") {
    import spark.implicits._
    val delta = tmp()
    val root = Paths.get(delta)
    val f1 = deltaDataFile(delta, "f1.parquet", frame(1 to 10, "a"))
    val f2 = deltaDataFile(delta, "f2.parquet", frame(11 to 20, "b"))
    val schema = spark.read.parquet(s"$delta/f1.parquet").schema
    deltaCommit(delta, 0L, Seq(deltaProto(3, Seq("deletionVectors")),
      deltaMeta(schema), deltaAdd("f1.parquet", f1),
      deltaAdd("f2.parquet", f2)))
    // v1: a Databricks-style DELETE touches f1 rows 0 and 2 (ids 1, 3)
    // via a u-storage DV file, and f2 row 1 (id 12) via an inline DV
    val (p1, o1, s1, c1) = DeltaDv.writeUuidFile(root, Array(0L, 2L))
    val (pi, si, ci) = DeltaDv.inlineDescriptor(Array(1L))
    deltaCommit(delta, 1L, Seq(
      deltaAddDv("f1.parquet", f1,
        s"""{"storageType":"u","pathOrInlineDv":"$p1","offset":$o1,""" +
          s""""sizeInBytes":$s1,"cardinality":$c1}"""),
      deltaAddDv("f2.parquet", f2,
        s"""{"storageType":"i","pathOrInlineDv":"$pi",""" +
          s""""sizeInBytes":$si,"cardinality":$ci}""")))
    // v2: a second DELETE grows f1's DV to rows {0,2,4} (Delta replaces
    // the whole descriptor — newest add wins)
    val (p2, o2, s2, c2) = DeltaDv.writeUuidFile(root, Array(0L, 2L, 4L))
    deltaCommit(delta, 2L, Seq(
      deltaAddDv("f1.parquet", f1,
        s"""{"storageType":"u","pathOrInlineDv":"$p2","offset":$o2,""" +
          s""""sizeInBytes":$s2,"cardinality":$c2}""")))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta, statsColumn = Some("id"))
    val got = store.read(spark)
    assert(got.count() == 16L, "20 rows - 3 (f1 DV) - 1 (f2 inline DV)")
    assert(got.select("id").collect().map(_.getLong(0)).toSet ==
      ((1L to 20L).toSet -- Set(1L, 3L, 5L, 12L)),
      "exactly the DV'd positions are dead")
    // the sidecar is NATIVE: it lives under the adopted store's root,
    // and the Delta table gained nothing but the fixture's own files
    val m = store.readFullManifest(0L)
    assert(m.entries.count(_.dv.nonEmpty) == 2)
    assert(m.entries.flatMap(_.dv).forall(d => !Paths.get(d).isAbsolute),
      "the translated sidecar must be store-local")
    // the adopted store is a full MoR citizen: stack a native delete
    store.deleteWhere(spark, $"id" === 11L, mergeOnRead = true)
    assert(store.read(spark).count() == 15L)
    // time-travel adoption BEFORE the deletes sees all 20 rows
    val atV0 = new SnapshotStore(tmp())
    atV0.convertFromDelta(spark, delta, versionAsOf = Some(0L))
    assert(atV0.read(spark).count() == 20L)
    // and compaction clears the translated DVs
    store.compactLatest(spark, targetFiles = 1)
    val mc = store.readFullManifest(store.latestVersion.get)
    assert(mc.entries.forall(_.dv.isEmpty))
    assert(store.read(spark).count() == 15L)
  }

  test("convertFromDelta adopts columnMapping=name tables: physical files read under logical names, mapping chains with later renames") {
    import spark.implicits._
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val delta = tmp()
    // files store PHYSICAL names, exactly what a mapped Delta writer lays down
    val fSize = deltaDataFile(delta, "m1.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-10ab", "col-20cd"))
    val physSchema = spark.read.parquet(s"$delta/m1.parquet").schema
    def mapped(name: String, phys: String, id: Long,
        dt: org.apache.spark.sql.types.DataType) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val logical = StructType(Seq(
      mapped("id", "col-10ab", 1L, physSchema("col-10ab").dataType),
      mapped("v", "col-20cd", 2L, physSchema("col-20cd").dataType)))
    deltaCommit(delta, 0L, Seq(deltaProto(3, Seq("columnMapping")),
      deltaMeta(logical, Nil, Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "2")),
      deltaAdd("m1.parquet", fSize)))
    // a DV on top of the mapping: DELETE of physical row 1 (id=2)
    val (pi, si, ci) = DeltaDv.inlineDescriptor(Array(1L))
    deltaCommit(delta, 1L, Seq(deltaAddDv("m1.parquet", fSize,
      s"""{"storageType":"i","pathOrInlineDv":"$pi",""" +
        s""""sizeInBytes":$si,"cardinality":$ci}""")))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta, statsColumn = Some("id"))
    val got = store.read(spark)
    assert(got.columns.toSeq == Seq("id", "v"), "logical names surface")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (3L, "c")), "values resolve through the mapping, DV applied")
    // footer stats resolved the PHYSICAL name: range read prunes/works
    assert(store.readRange(spark, "id", 3L, 9L).count() == 1L)
    // a rename CHAINS on the adopted mapping (physical identity stable)
    store.renameColumn(spark, "v", "label")
    assert(store.read(spark).filter($"label" === "c").count() == 1L)
    // appends through the mapping read back
    store.commitAppend(Seq((9L, "z")).toDF("id", "label"))
    assert(store.read(spark).count() == 3L)
    // id-mode refused loudly (covered in the refusal battery too)
  }

  test("convertFromDelta adopts ID-mode column-mapped tables: columns resolve by parquet FIELD ID; writes refuse until a full compaction materializes native") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType,
      StructField, StructType}
    val delta = tmp()
    // the file's column NAMES match neither the logical nor the
    // physical names — only the parquet FIELD IDS (written by Spark's
    // own fieldId.write path from this metadata) identify the columns
    val fileSchema = StructType(Seq(
      StructField("anything_a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("anything_b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b"),
        org.apache.spark.sql.Row(3L, "c")).asJava, fileSchema)
    val sz = deltaDataFile(delta, "i1.parquet", df)
    def idMapped(name: String, phys: String, id: Long,
        dt: org.apache.spark.sql.types.DataType) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val logical = StructType(Seq(
      idMapped("id", "col-xx", 1L, LongType),
      idMapped("v", "col-yy", 2L, StringType)))
    deltaCommit(delta, 0L, Seq(deltaProto(3, Seq("columnMapping")),
      deltaMeta(logical, Nil, Map(
        "delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> "2")),
      deltaAdd("i1.parquet", sz)))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta)
    val got = store.read(spark)
    assert(got.columns.toSeq == Seq("id", "v"), "logical names surface")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "values resolve by FIELD ID — name-based resolution would read NULLs")
    // files this store writes would not carry the ids: new-data writes
    // refuse with the compact-first recipe
    assert(intercept[IllegalArgumentException] {
      store.commitAppend(Seq((9L, "z")).toDF("id", "v"))
    }.getMessage.contains("compactLatest"))
    assert(intercept[IllegalArgumentException] {
      store.deleteWhere(spark, $"id" === 1L)
    }.getMessage.contains("field id"))
    assert(intercept[IllegalArgumentException] {
      store.mergeClauses(spark, Seq((9L, "z")).toDF("id", "v"), Seq("id"),
        matched = Seq(SnapshotStore.MergeUpdate(None, Map.empty)),
        notMatched = Seq(SnapshotStore.MergeInsert(None, Map.empty)))
    }.getMessage.contains("field id"))
    // a FULL compaction materializes native (ids stripped, name path);
    // a partial one would mix resolution modes — refused
    assert(intercept[IllegalArgumentException] {
      store.compactLatest(spark, targetFiles = 1,
        onlySmallerThanBytes = Some(1L))
    }.getMessage.contains("PARTIAL"))
    store.compactLatest(spark, targetFiles = 1)
    assert(store.read(spark).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")), "native reads after compaction")
    store.commitAppend(Seq((9L, "z")).toDF("id", "v"))
    assert(store.read(spark).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 9L), "writes flow once native")
  }

  test("rename on a PARTITIONED store: reads stay correct through the mapping-aware scan (no relation fallback recursion)") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commitOverwrite(frame(1 to 4, "x"), partitionBy = Seq("tag"))
    store.renameColumn(spark, "amt", "value")
    // partitioned + mapped + no DVs: store.read must take the direct
    // union-arm scan — the format's fallback relation scans THROUGH
    // store.read, so routing there again would recurse forever
    val got = store.read(spark)
    assert(got.columns.toSeq == Seq("id", "value", "tag"))
    assert(got.count() == 4L)
    // the SQL format read terminates through the same fix
    assert(spark.read.format("graft-snapshot").option("path", root)
      .load().filter($"value" > 0.0).count() == 4L)
  }

  test("convertFromDelta adopts PARTITIONED column-mapped tables: physical directory names decode through the mapping, appends and partition ops compose") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    def mapped(name: String, phys: String, id: Long,
        dt: org.apache.spark.sql.types.DataType) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val pd = tmp()
    // the layout a real column-mapped Delta writer produces: PHYSICAL
    // names in both the parquet schema and the partition directory
    val p1 = deltaDataFile(pd, "col-30ef=1/p1.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("col-10ab", "col-20cd"))
    val p2 = deltaDataFile(pd, "col-30ef=2/p2.parquet",
      Seq((3L, "c")).toDF("col-10ab", "col-20cd"))
    val physSchema = spark.read.parquet(s"$pd/col-30ef=1/p1.parquet").schema
    val logical = StructType(Seq(
      mapped("id", "col-10ab", 1L, physSchema("col-10ab").dataType),
      mapped("v", "col-20cd", 2L, physSchema("col-20cd").dataType),
      mapped("day", "col-30ef", 3L, LongType)))
    deltaCommit(pd, 0L, Seq(deltaProto(3, Seq("columnMapping")),
      deltaMeta(logical, Seq("day"), Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "3")),
      deltaAdd("col-30ef=1/p1.parquet", p1, Map("col-30ef" -> "1")),
      deltaAdd("col-30ef=2/p2.parquet", p2, Map("col-30ef" -> "2"))))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, pd, statsColumn = Some("id"))
    val got = store.read(spark)
    assert(got.columns.toSeq == Seq("id", "v", "day"),
      "logical names surface, partition column last (normalized order)")
    assert(got.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)),
      "partition VALUES decode from the physical directory name")
    // appends stage under the physical directory convention and read back
    store.commitAppend(Seq((9L, "z", 2L)).toDF("id", "v", "day"))
    assert(store.read(spark).filter($"day" === 2L).count() == 2L)
    // dynamic-partition overwrite touches exactly the staged partition
    store.commitReplacePartitions(Seq((7L, "w", 1L)).toDF("id", "v", "day"))
    val after = store.read(spark)
    assert(after.filter($"day" === 1L).collect().map(_.getLong(0)).toSeq ==
      Seq(7L), "day=1 replaced")
    assert(after.filter($"day" === 2L).count() == 2L, "day=2 untouched")
    // partition-scoped OPTIMIZE prunes by decoded tuple
    store.compactLatest(spark, targetFiles = 1,
      scope = Some($"day" === 2L))
    val m = store.readFullManifest(store.latestVersion.get)
    assert(store.read(spark).count() == 3L)
    assert(store.read(spark).filter($"day" === 2L).count() == 2L)
  }

  test("exportToDelta: the store's history reads back through the Delta protocol — appends, MoR DVs, renames, time travel, file identity") {
    import spark.implicits._
    val rootS = tmp()
    val store = new SnapshotStore(rootS)
    store.commitOverwrite(frame(1 to 10, "a").coalesce(1),
      statsColumn = Some("id"))                       // v0
    store.commitAppend(frame(11 to 15, "b").coalesce(1)) // v1
    store.deleteWhere(spark, $"id" === 3L || $"id" === 12L,
      mergeOnRead = true)                              // v2: DV
    store.renameColumn(spark, "tag", "label")          // v3: column mapping
    val latest = store.exportToDelta(spark)
    assert(latest == 3L)
    // self-interop 1: the raw replay sees the right live state
    val st = DeltaConvert.replay(spark, rootS)
    assert(st.version == 3L)
    assert(st.schema.fieldNames.toSeq == Seq("id", "label", "amt"))
    assert(st.colMap.get("label").exists(_ != "label"),
      "the rename must export as name-mode mapping (physical name differs)")
    assert(st.files.map(_.dvPositions.length).sum == 2,
      "both tombstones must export as Delta DVs")
    // self-interop 2: adopt the exported log into a fresh store —
    // rows match and the files are the SAME ones (zero copy both ways)
    val adopted = new SnapshotStore(tmp())
    adopted.convertFromDelta(spark, rootS)
    val got = adopted.read(spark)
    assert(got.columns.toSeq == Seq("id", "label", "amt"))
    assert(got.count() == 13L)
    assert(got.select("id").collect().map(_.getLong(0)).toSet ==
      ((1L to 15L).toSet -- Set(3L, 12L)))
    val adoptedPaths = adopted.readFullManifest(0L).entries.map(_.path).toSet
    val storePaths = store.readFullManifest(3L).entries
      .map(e => Paths.get(rootS).resolve(e.path).toString).toSet
    assert(adoptedPaths == storePaths, "file identity across the round trip")
    // time travel carries over: delta version 1 predates the delete
    val atV1 = new SnapshotStore(tmp())
    atV1.convertFromDelta(spark, rootS, versionAsOf = Some(1L))
    assert(atV1.read(spark).count() == 15L)
    // INCREMENTAL: commit more, re-export extends the log in place
    store.commitAppend(Seq((99L, "z", 9.0)).toDF("id", "label", "amt"))
    assert(store.exportToDelta(spark) == 4L)
    assert(DeltaConvert.replay(spark, rootS).files.map(_.path).toSet
      .size == store.readFullManifest(4L).entries.length)
    val again = new SnapshotStore(tmp())
    again.convertFromDelta(spark, rootS)
    assert(again.read(spark).count() == 14L)
    // idempotent no-op when nothing new
    assert(store.exportToDelta(spark) == 4L)
  }

  test("exportToDelta bridges vacuumed history with a classic checkpoint; external references refuse") {
    import spark.implicits._
    val rootS = tmp()
    val store = new SnapshotStore(rootS)
    store.commitOverwrite(frame(1 to 6, "x").coalesce(1))  // v0
    store.commitAppend(frame(7 to 9, "y").coalesce(1))     // v1
    store.commitOverwrite(frame(1 to 4, "z").coalesce(1))  // v2
    store.vacuum(keepLast = 1) // only v2 survives
    assert(store.exportToDelta(spark) == 2L)
    val logDir = Paths.get(rootS).resolve("_delta_log")
    assert(Files.isRegularFile(
      logDir.resolve(f"${2L}%020d.checkpoint.parquet")),
      "a vacuumed prefix must export as a checkpoint")
    val adopted = new SnapshotStore(tmp())
    adopted.convertFromDelta(spark, rootS)
    assert(adopted.read(spark).count() == 4L)
    // gap PAST the exported tip: more commits, vacuum eats them, then
    // export — a fresh checkpoint bridges the numbering gap
    store.commitAppend(frame(10 to 11, "w").coalesce(1))   // v3
    store.commitOverwrite(frame(1 to 2, "v").coalesce(1))  // v4
    store.vacuum(keepLast = 1) // only v4 survives; 3 never exported
    assert(store.exportToDelta(spark) == 4L)
    assert(Files.isRegularFile(
      logDir.resolve(f"${4L}%020d.checkpoint.parquet")))
    val adopted2 = new SnapshotStore(tmp())
    adopted2.convertFromDelta(spark, rootS)
    assert(adopted2.read(spark).count() == 2L)
    // a replay-based diff base: export tip == already + 1 after vacuum
    // is exercised by the incremental test above; here the refusal —
    // an un-materialized clone cannot export
    val cl = new SnapshotStore(tmp())
    cl.cloneFrom(store)
    assert(intercept[IllegalArgumentException] { cl.exportToDelta(spark) }
      .getMessage.contains("self-contained"))
  }

  test("exportToDelta replay-base diff survives a PARTITIONED column-mapped export: the adoption-only guard must not wedge re-export") {
    import spark.implicits._
    val rootS = tmp()
    val store = new SnapshotStore(rootS)
    store.commitOverwrite(frame(1 to 4, "x"), partitionBy = Seq("tag")) // v0
    store.renameColumn(spark, "amt", "value")                          // v1: colMap
    assert(store.exportToDelta(spark) == 1L)
    // vacuum eats the exported tip's predecessors AND the tip itself
    // stays only as the Delta log: the next export's diff base is the
    // REPLAYED exported log (partitioned + mapped — the shape that used
    // to throw the adoption guard and wedge every retry)
    store.commitAppend(Seq((9L, "y", 9.0)).toDF("id", "tag", "value")) // v2
    store.vacuum(keepLast = 1) // only v2 survives; v1 lives in the log only
    assert(store.exportToDelta(spark) == 2L)
    val st = DeltaConvert.replay(spark, rootS)
    assert(st.version == 2L && st.partitionColumns == Seq("tag") &&
      st.colMap.nonEmpty, "partitioned + mapped state exports intact")
    assert(st.files.map(_.path).toSet ==
      store.readFullManifest(2L).entries.map(_.path).toSet,
      "the replay-base diff reconciled to the live file set")
  }

  test("exportToDelta checkpoints are STOCK-shaped: fixed action schema, map-typed partitionValues, dataChange=false; DV .bin files content-addressed") {
    import spark.implicits._
    import org.apache.spark.sql.types.{MapType, StringType, StructType}
    import scala.jdk.CollectionConverters._
    // writeUuidFile is content-addressed: identical positions reuse the
    // same .bin instead of minting a fresh orphan per export pass
    val dvRoot = Files.createTempDirectory("graft-dv-dedup")
    val (pa, _, _, _) = DeltaDv.writeUuidFile(dvRoot, Array(5L, 7L, 9L))
    val (pb, _, _, _) = DeltaDv.writeUuidFile(dvRoot, Array(5L, 7L, 9L))
    assert(pa == pb, "identical DVs must share one uuid")
    val bins = { val s = Files.list(dvRoot)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".bin"))
      finally s.close() }
    assert(bins == 1, "re-minting an identical DV must not orphan a second .bin")

    // a PARTITIONED store with a MoR tombstone and vacuumed history:
    // the exported checkpoint must carry the protocol's OWN action
    // schema — JSON inference would struct-type partitionValues and
    // break stock checkpoint readers exactly here
    val rootS = tmp()
    val store = new SnapshotStore(rootS)
    store.commitOverwrite(frame(1 to 6, "x"), partitionBy = Seq("tag")) // v0
    store.commitOverwrite(
      Seq((1L, "p", 1.0), (2L, "p", 2.0), (3L, "q", 3.0))
        .toDF("id", "tag", "amt"), partitionBy = Seq("tag"))           // v1
    store.deleteWhere(spark, $"id" === 2L, mergeOnRead = true)         // v2: DV
    store.vacuum(keepLast = 1)
    assert(store.exportToDelta(spark) == 2L)
    val ckpt = Paths.get(rootS).resolve("_delta_log")
      .resolve(f"${2L}%020d.checkpoint.parquet")
    assert(Files.isRegularFile(ckpt), "vacuumed history exports a checkpoint")
    val df = spark.read.parquet(ckpt.toString)
    val addT = df.schema("add").dataType.asInstanceOf[StructType]
    assert(addT("partitionValues").dataType ==
      MapType(StringType, StringType, valueContainsNull = true),
      "add.partitionValues must be map<string,string>, not an inferred struct")
    val adds = df.filter($"add".isNotNull)
    assert(adds.count() >= 2L, "one add per partition file")
    assert(adds.filter($"add.dataChange" === true).isEmpty,
      "checkpoint adds restate the table — dataChange is false by spec")
    assert(adds.select($"add.partitionValues".getItem("tag")).collect()
      .map(_.getString(0)).toSet == Set("p", "q"),
      "partition values are map entries keyed by the partition column")
    assert(adds.filter($"add.deletionVector".isNotNull).count() == 1L,
      "the MoR tombstone exports as a typed deletionVector struct")
    assert(df.filter($"metaData".isNotNull).count() == 1L)
    assert(df.filter($"protocol".isNotNull)
      .select($"protocol.minReaderVersion").head().getInt(0) == 3,
      "a DV-carrying table exports reader version 3")
    // the fixed-schema checkpoint still round-trips through adoption
    val adopted = new SnapshotStore(tmp())
    adopted.convertFromDelta(spark, rootS)
    assert(adopted.read(spark).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("exportToDelta CHANGE DATA FEED: DML commits carry cdc actions whose _change_data files equal the store's own feed") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rootS = tmp()
    val store = new SnapshotStore(rootS)
    store.commitOverwrite(frame(1 to 8, "x").coalesce(1),
      statsColumn = Some("id"))                                 // v0
    store.deleteWhere(spark, $"id" === 3L, mergeOnRead = true)  // v1: DV
    store.commitAppend(frame(9 to 10, "y").coalesce(1))         // v2: adds only
    store.updateWhere(spark, $"id" === 5L, Map("tag" -> lit("upd"))) // v3: CoW
    assert(store.exportToDelta(spark, changeDataFeed = true) == 3L)
    val logDir = Paths.get(rootS).resolve("_delta_log")
    def lines(v: Long) =
      Files.readAllLines(logDir.resolve(f"$v%020d.json")).asScala
    // the capability travels: config flag + WRITER-only feature
    assert(lines(0L).exists(
      _.contains("\"delta.enableChangeDataFeed\":\"true\"")))
    assert(lines(1L).exists(l => l.contains("\"writerFeatures\"") &&
      l.contains("changeDataFeed")))
    assert(!lines(1L).exists(l => {
      val r = l.indexOf("\"readerFeatures\"")
      r >= 0 && l.substring(r, l.indexOf(']', r) max r)
        .contains("changeDataFeed")
    }), "CDF must not claim a READER capability")
    // DML commits carry cdc; add-only commits derive natively
    assert(lines(1L).exists(_.contains("\"cdc\"")) &&
      lines(3L).exists(_.contains("\"cdc\"")))
    assert(!lines(0L).exists(_.contains("\"cdc\"")) &&
      !lines(2L).exists(_.contains("\"cdc\"")))
    // the cdc file IS the feed, row for row
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def cdcPaths(dir: java.nio.file.Path, v: Long): Seq[String] =
      Files.readAllLines(dir.resolve(f"$v%020d.json")).asScala.toSeq
        .flatMap(l => Option(mapper.readTree(l).get("cdc"))
          .map(_.get("path").asText()))
    def typed(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    (Seq(1L, 3L)).foreach { v =>
      val got = typed(spark.read.parquet(
        cdcPaths(logDir, v).map(p => s"$rootS/$p"): _*))
      val want = typed(store.readChanges(spark, v - 1, Some(v)))
      assert(got == want, s"version $v cdc file must equal the feed")
    }
    assert(typed(spark.read.parquet(
      cdcPaths(logDir, 1L).map(p => s"$rootS/$p"): _*))
      .contains((3L, "delete")))
    // cdc actions carry no table state: adoption still reads clean
    val adopted = new SnapshotStore(tmp())
    adopted.convertFromDelta(spark, rootS)
    assert(adopted.read(spark).count() == 9L)
    // incremental: a later DML commit extends with its own cdc
    store.deleteWhere(spark, $"id" === 9L)                      // v4: CoW
    assert(store.exportToDelta(spark, changeDataFeed = true) == 4L)
    assert(lines(4L).exists(_.contains("\"cdc\"")))
    // PARTITIONED: one cdc file per touched partition tuple, partition
    // values on the ACTION, data columns + _change_type in the file
    val pr = tmp(); val ps = new SnapshotStore(pr)
    ps.commitOverwrite(Seq((1L, "p", 1.0), (2L, "q", 2.0))
      .toDF("id", "tag", "amt"), partitionBy = Seq("tag"))      // v0
    // MoR: only partition p's file gains a DV — a CoW delete without
    // stats would rewrite BOTH files and the feed would honestly
    // include partition q's rewritten rows
    ps.deleteWhere(spark, $"id" === 1L, mergeOnRead = true)     // v1: DV
    assert(ps.exportToDelta(spark, changeDataFeed = true) == 1L)
    val plog = Paths.get(pr).resolve("_delta_log")
    val cdcNodes = Files.readAllLines(plog.resolve(f"${1L}%020d.json"))
      .asScala.flatMap(l => Option(mapper.readTree(l).get("cdc")))
    assert(cdcNodes.nonEmpty)
    assert(cdcNodes.map(n =>
      n.get("partitionValues").get("tag").asText()).toSet == Set("p"),
      "only the touched partition carries change rows")
    val pcols = spark.read.parquet(
      s"$pr/${cdcNodes.head.get("path").asText()}").columns.toSeq
    assert(pcols == Seq("id", "amt", "_change_type"),
      "partition values live on the action, not in the file")
  }

  test("readChanges relabel survives a two-step rename chain (b->c then a->b): one projection, no duplicate columns") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commitOverwrite(
      Seq((1L, 10L, "x1"), (2L, 20L, "x2")).toDF("id", "a", "b"),
      statsColumn = Some("id"))
    // the chain: b->c FIRST frees the name, then a->b takes it — legal,
    // and at feed-end physical "a" is logical "b", physical "b" is "c".
    // A sequential withColumnRenamed relabel of the v0 segment would
    // rename a->b (two "b" columns) then rename BOTH b's to c.
    store.renameColumn(spark, "b", "c")
    val v2 = store.renameColumn(spark, "a", "b")
    val feed = store.readChanges(spark, -1L, Some(v2))
    val dataCols = feed.columns.filterNot(_.startsWith("_")).sorted.toSeq
    assert(dataCols == Seq("b", "c", "id"),
      s"feed must carry exactly the end-of-range schema, got $dataCols")
    assert(feed.columns.distinct.length == feed.columns.length,
      "no duplicate columns after relabel")
    val r1 = feed.filter($"id" === 1L).select("b", "c").head()
    assert(r1.getLong(0) == 10L && r1.getString(1) == "x1",
      "values must follow PHYSICAL identity: b=old a, c=old b")
  }

  test("DeltaConvert refusals: scheme-less absolute add paths, single-slash URIs, non-reconstructible versionAsOf") {
    val plainSchema = frame(1 to 2, "r").schema
    def refusedMsg(mk: String => Seq[(Long, Seq[String])]): String = {
      val t = tmp()
      val sz = deltaDataFile(t, "r.parquet", frame(1 to 2, "r"))
      mk(sz.toString).foreach { case (v, ls) => deltaCommit(t, v, ls) }
      intercept[IllegalArgumentException] {
        new SnapshotStore(tmp()).convertFromDelta(spark, t)
      }.getMessage
    }
    // a scheme-less ABSOLUTE path is legal per the Delta spec but points
    // outside the table root — adoption must refuse, not resolve verbatim
    assert(refusedMsg(sz => Seq(0L -> Seq(deltaProto(), deltaMeta(plainSchema),
      deltaAdd("/other/table/x.parquet", sz.toLong))))
      .contains("self-contained"))
    // single-slash URI form (file:/x) is a scheme'd reference too
    assert(refusedMsg(sz => Seq(0L -> Seq(deltaProto(), deltaMeta(plainSchema),
      deltaAdd("file:/tmp/x.parquet", sz.toLong))))
      .contains("self-contained"))
    // versionAsOf pointing INTO a gap (0,1 present, 2 missing, 3 present):
    // the ceiling is fine but v2 is not reconstructible — must fail loudly
    // instead of silently returning v1's state labeled as v2
    val t = tmp()
    val sz = deltaDataFile(t, "f0.parquet", frame(1 to 3, "a"))
    val sz1 = deltaDataFile(t, "f1.parquet", frame(4 to 6, "b"))
    deltaCommit(t, 0L, Seq(deltaProto(), deltaMeta(plainSchema),
      deltaAdd("f0.parquet", sz)))
    deltaCommit(t, 1L, Seq(deltaAdd("f1.parquet", sz1)))
    deltaCommit(t, 3L, Seq(deltaRemove("f0.parquet")))
    val e = intercept[IllegalArgumentException] {
      new SnapshotStore(tmp()).convertFromDelta(spark, t, versionAsOf = Some(2L))
    }
    assert(e.getMessage.contains("not reconstructible"), e.getMessage)
    // a versionAsOf that IS reconstructible under the same gapped log works
    val ok = new SnapshotStore(tmp())
    ok.convertFromDelta(spark, t, versionAsOf = Some(1L))
    assert(ok.read(spark).count() == 6L)
  }

  test("DeltaConvert multi-part checkpoint: part list comes from the COMPLETE set, not the global max part count") {
    val delta = tmp()
    val f1 = deltaDataFile(delta, "f1.parquet", frame(1 to 5, "old"))
    val f2 = deltaDataFile(delta, "f2.parquet", frame(6 to 10, "keep"))
    val f3 = deltaDataFile(delta, "f3.parquet", frame(11 to 15, "keep"))
    val schema = spark.read.parquet(s"$delta/f2.parquet").schema
    val lines = Seq(deltaProto(), deltaMeta(schema),
      deltaAdd("f2.parquet", f2), deltaAdd("f3.parquet", f3),
      deltaRemove("f1.parquet"))
    // complete n=2 set: both parts share the UNION schema so the
    // replayer's multi-file read sees every action column
    import spark.implicits._
    val unionSchema = spark.read.json(lines.toDS).schema
    val logDir = Paths.get(delta).resolve("_delta_log")
    Files.createDirectories(logDir)
    def writePart(ls: Seq[String], name: String): Unit = {
      val stage = Files.createTempDirectory("graft-dl-mp")
      spark.read.schema(unionSchema).json(ls.toDS).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val it = Files.list(stage).iterator()
      val src = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(src, logDir.resolve(name))
    }
    writePart(lines.take(3), f"${2L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writePart(lines.drop(3), f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    // an INCOMPLETE n=3 set for the same version (only part 1 exists):
    // building the part list from max n would read nonexistent files
    writePart(lines.take(1), f"${2L}%020d.checkpoint.${1}%010d.${3}%010d.parquet")
    deltaCommit(delta, 3L, Seq(deltaRemove("f3.parquet")))
    val store = new SnapshotStore(tmp())
    store.convertFromDelta(spark, delta)
    val got = store.read(spark)
    assert(got.count() == 5L)
    assert(got.select("tag").distinct().head().getString(0) == "keep")
    // versionAsOf aimed at a version reconstructible ONLY from the
    // multi-part checkpoint (its jsons retention-cleaned) is a legal
    // target: the range ceiling counts complete multi-part sets too
    val atCkpt = new SnapshotStore(tmp())
    atCkpt.convertFromDelta(spark, delta, versionAsOf = Some(2L))
    assert(atCkpt.read(spark).count() == 10L,
      "checkpoint state at v2: f2 + f3 live, f1 removed")
  }

  test("clone birth window: a ledger entry with an existing-but-empty clone dir pins its recorded version; only a DELETED dir self-cleans") {
    import spark.implicits._
    val rootA = tmp()
    val a = new SnapshotStore(rootA)
    a.commitOverwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), statsColumn = Some("id"))
    a.commitOverwrite(Seq((999L, "new")).toDF("id", "v"))
    // mid-birth state as cloneFrom now produces it: root dir EXISTS
    // (created before registering) but no version is committed yet
    val midBirth = Files.createTempDirectory("graft-midbirth")
    val clonesDir = Paths.get(rootA).resolve("clones")
    Files.createDirectories(clonesDir)
    Files.write(clonesDir.resolve("test-midbirth.clone"),
      s"${midBirth.toAbsolutePath.normalize}\t0\n".getBytes("UTF-8"))
    // the pin holds: v0's file is not reclaimable, the ledger entry
    // survives (an empty dir is a BIRTH, not a deletion)
    val e = intercept[IllegalStateException] { a.vacuum(keepLast = 1) }
    assert(e.getMessage.contains("force"))
    assert(Files.exists(clonesDir.resolve("test-midbirth.clone")),
      "a mid-birth entry must never self-clean")
    assert(a.read(spark, Some(0L)).count() == 100L)
    // deleting the clone DIRECTORY releases the pin and self-cleans
    Files.delete(midBirth)
    a.vacuum(keepLast = 1)
    assert(!Files.exists(clonesDir.resolve("test-midbirth.clone")),
      "a deleted clone dir must self-clean the entry")
    assert(a.read(spark).count() == 1L)
  }

  test("clone of a MoR-dirty source applies the source's deletion vectors: deleted rows never resurrect in the clone") {
    import spark.implicits._
    val src = new SnapshotStore(tmp())
    src.commitOverwrite((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), statsColumn = Some("id"))
    src.deleteWhere(spark, $"id" <= 10L, mergeOnRead = true)
    assert(src.read(spark).count() == 40L)
    assert(src.readFullManifest(src.latestVersion.get)
      .entries.exists(_.dv.nonEmpty), "precondition: the source is MoR-dirty")
    val clone = new SnapshotStore(tmp())
    clone.cloneFrom(src)
    assert(clone.read(spark).count() == 40L,
      "the clone must apply the source's DV sidecars (file-identity join)")
    assert(clone.read(spark).filter($"id" <= 10L).isEmpty,
      "tombstoned rows must not resurrect in the clone")
    // and the clone's own MoR delete stacks on top of the cloned DVs
    clone.deleteWhere(spark, $"id" === 20L, mergeOnRead = true)
    assert(clone.read(spark).count() == 39L)
    assert(src.read(spark).count() == 40L, "source unaffected")
  }

  test("SnapshotSink drives processTable: append lands as a new version atop history") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val src = Seq(("g1", "2021-01-01 00:00:00", "2021-01-02 00:00:00"))
      .toDF("leadxrefguid", "createdate", "modifydate")
    val srcDir = tmp()
    src.write.mode("overwrite").parquet(s"$srcDir/lead_xref.parquet")
    val wm = new Pipeline.WatermarkStore(tmp())
    val rep = Pipeline.processTable(spark, "lead_xref",
      Pipeline.ParquetSource(s"$srcDir/lead_xref.parquet"),
      SnapshotStore.SnapshotSink(store),
      Pipeline.Append(), wm, historicalLoad = true)
    assert(rep.rowsWritten == 1L)
    assert(store.latestVersion.contains(0L))
    assert(store.read(spark).count() == 1L)
  }

  test("footerRowCount equals a Spark count() through merge-on-read deletion vectors") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    def same(v: Option[Long] = None): Unit = {
      val n = store.read(spark, v).count()
      assert(store.footerRowCount(v) == n, s"version $v: Spark counts $n")
    }
    // six files of 20 rows, ids 1..120, with id ranges in the manifest
    store.commitOverwrite(frame(1 to 120, "a").repartitionByRange(6, $"id"),
      statsColumn = Some("id"))
    val v0 = store.latestVersion
    same()
    // one sidecar whose tombstones span several files
    store.deleteWhere(spark, $"id" % 7 === 0L, mergeOnRead = true)
    same()
    // a second sidecar stacked on files that already carry one
    store.deleteWhere(spark, $"id" % 5 === 0L, mergeOnRead = true)
    same()
    // copy-on-write rewrites only the file holding id 3: the sidecars'
    // tombstones in that file no longer apply, those in the others do
    store.deleteWhere(spark, $"id" === 3L)
    val entries = store.manifestAt()._3
    assert(entries.exists(_.hasDv) && entries.exists(!_.hasDv), entries)
    same()
    assert(store.footerRowCount() == (1 to 120)
      .count(i => i % 7 != 0 && i % 5 != 0 && i != 3).toLong)
    // time travel counts what the old manifest points at
    same(v0)
    assert(store.footerRowCount(v0) == 120L)
    // a merge-on-read delete that hits a single file
    store.deleteWhere(spark, $"id" === 118L, mergeOnRead = true)
    same()
  }
}
