package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** Manifest-committed snapshot table over plain parquet — the testable
  * half of the reference's Delta storage layer
  * (`/root/reference/sync.py:112-114`: `mode("overwrite")` to a Delta
  * RAW zone gives atomic replace + versioned reads for free; a bare
  * `ParquetSink` overwrite gives neither: a reader racing the rewrite
  * sees a half-deleted directory, and yesterday's snapshot is gone).
  *
  * Design — the log-structured-table idea (Delta/Iceberg's core)
  * reduced to what plain parquet + an atomic rename can carry:
  *
  *   - Data files are IMMUTABLE and write-once: every commit stages its
  *     files under a fresh `data/<uuid>/` directory; nothing is ever
  *     rewritten in place and no commit deletes another's files.
  *   - A version is a MANIFEST: a text file listing exactly the data
  *     files visible at that version, plus the schema. Readers resolve
  *     a manifest first, then read precisely those files — never
  *     `listFiles(data/)`, so half-staged or orphaned files are
  *     invisible by construction.
  *   - Publication is ONE atomic rename: the manifest is written to a
  *     dot-temp name, fsynced, then `ATOMIC_MOVE`d to
  *     `manifests/v%012d.manifest`. A crash anywhere before that
  *     rename leaves the previous version live (the staged files are
  *     unreferenced garbage, reclaimed by [[SnapshotStore.vacuum]]); a
  *     crash after it means the commit happened. There is no state in
  *     between.
  *   - Snapshot isolation for readers: a reader that resolved version N
  *     keeps a consistent view of N through any number of concurrent
  *     overwrites, because N's files are immutable and later commits
  *     only ADD files + a new manifest. Time travel (`asOfVersion`) is
  *     the same mechanism pointed backwards.
  *
  * Concurrency contract: many readers, OPTIMISTIC writers. Publication
  * is a compare-and-swap on the version number: the manifest body is
  * written to a dot-temp file, fsynced, then `link(2)`-ed onto
  * `v%012d.manifest` — `Files.createLink` fails atomically with
  * `FileAlreadyExistsException` when the target exists (the one POSIX
  * primitive that is create-if-absent ATOMIC, unlike `rename(2)` which
  * silently replaces). So two racing writers NEVER silently lose a
  * commit: exactly one wins the version, the loser sees
  * [[SnapshotStore.ConcurrentCommitException]]. Appends then
  * rebase-retry automatically (appends commute — re-read the new
  * latest, re-list its files, publish the next version; the staged
  * data files are version-independent), while overwrites, truncates
  * and compactions surface the conflict loudly — replacing a table
  * someone just changed is a decision, not a retry. This is the
  * optimistic-concurrency half of Delta's commit protocol, sized to
  * what the engine's own compositions need: a streaming sink appending
  * while `CompactJob --snapshot` rewrites layout is exactly a racing
  * writer pair.
  *
  * Scale posture: a manifest is O(files), not O(rows) — at 100 TB with
  * ~1 GB files that is ~10^5 lines of metadata per version, read once
  * on the driver; the data path is the ordinary distributed parquet
  * scan over an explicit file list (per-file column stats / pruning
  * remain parquet's own footer job). `commitAppend` writes ONLY the new
  * files and re-lists the old ones in the next manifest — an O(day)
  * append to an O(table) history, same asymptotics as the
  * PartitionedSink refresh path.
  *
  * Manifest format (line-oriented, no JSON parser needed):
  * {{{
  *   graft-snapshot-v1
  *   <StructType.json on one line>
  *   #ts<TAB><commit epoch millis>          (optional header lines...)
  *   #stats<TAB><column>
  *   #txn<TAB><app><TAB><batchId>
  *   #rewrite
  *   <relative/path/to/file1.parquet>[<TAB>min<TAB>max[<TAB>dv1,dv2]]
  *   ...
  * }}}
  *
  * The optional 4th field lists the file's DELETION VECTORS —
  * root-relative paths of position-list sidecar datasets written by
  * merge-on-read deletes (`-` placeholders keep the stats slots when a
  * stats-less file takes a DV). See [[deleteWhere]]'s
  * `mergeOnRead = true`.
  *
  * The `#ts` header is the commit instant embedded IN the log entry —
  * what Delta does for timestamp time travel — so a filesystem
  * copy/restore of the store (which rewrites mtimes) never shifts
  * `timestampAsOf` resolution; [[history]]/[[versionAt]] fall back to
  * manifest mtime only for pre-`#ts` manifests.
  *
  * PARTITION COLUMNS (`#partcols` header): a table committed with
  * `partitionBy` stages its files hive-style (`data/<uuid>/day=X/...`),
  * so each file's partition values live IN its manifest path — no
  * per-file value list needed. The registered format surfaces them
  * through `SnapshotFileIndex.partitionSchema`, which buys the two
  * halves of the 100 TB layout story at once: PARTITION PRUNING at
  * planning time (`WHERE day = x` plans only that day's files — the
  * PartitionedSink's O(day) read, now with time travel) and
  * [[commitReplacePartitions]], dynamic-partition overwrite as ONE
  * atomic version (only touched partitions' files are replaced;
  * untouched partitions keep their file identity, so the change feed
  * stays O(touched partitions)). Partition values are not duplicated
  * inside the data files (hive layout); the non-format read/feed paths
  * re-attach them from the path per partition group.
  *
  * File statistics — the data-skipping half of the log-structured-table
  * idea: a commit may designate one integer-typed `statsColumn`
  * (int/long/date/timestamp — the dominant pruning keys: ids, event
  * times, partition dates); each staged file's parquet FOOTER is read
  * once at commit time (metadata only, no data pages) and its min/max
  * recorded in the manifest line. [[SnapshotStore.readRange]] then
  * prunes files whose [min,max] cannot intersect the predicate BEFORE
  * Spark ever lists or opens them — at 10⁵ files per 100 TB table that
  * is the difference between O(relevant files) and O(table) footer
  * reads per query. Files without stats (older commits, all-null
  * chunks, a different stats column) are always kept, so pruning is
  * conservative by construction; the exact predicate is re-applied on
  * the scan either way.
  */
final class SnapshotStore(root: String,
    backend: StoreBackend = StoreBackend.Nio) {

  /** One manifest line: a data file, its optional stats-column min/max
    * (absent → the file is never pruned), and the DELETION VECTORS that
    * apply to it — root-relative paths of position-list sidecar datasets
    * written by merge-on-read deletes ([[deleteWhere]] with
    * `mergeOnRead = true`). A file with DVs is read through a
    * position anti-join; a copy-on-write rewrite or compaction
    * MATERIALIZES the deletes and publishes the replacement with
    * `dv = Nil`.
    */
  final case class FileEntry(path: String, min: Option[Long], max: Option[Long],
      dv: Seq[String] = Nil, extra: Seq[(String, Long, Long)] = Nil,
      bytes: Option[Long] = None, bloom: Option[String] = None)

  /** Spec hook: observes every per-file `stat(2)` fallback taken when a
    * manifest entry carries no recorded byte size — lets a spec PROVE
    * the metadata paths (rate-limit budget, OPTIMIZE target, DESCRIBE
    * DETAIL) run zero filesystem stats once sizes are manifest data.
    * No-op in production.
    */
  private[graft] var onFileStat: String => Unit = _ => ()

  /** Byte size of a data file: the manifest's recorded size when the
    * entry carries one (written at commit time in the same pass as the
    * footer stats — O(0) extra IO), a one-off `stat(2)` fallback for
    * entries committed before sizes were manifest metadata. On an
    * object store the difference is one HEAD request per file per
    * metadata consumer tick vs none.
    */
  private[graft] def entryBytes(e: FileEntry): Long = e.bytes.getOrElse {
    onFileStat(e.path)
    val p = rootPath.resolve(e.path)
    if (Files.isRegularFile(p)) Files.size(p) else 0L
  }

  /** Accepts both a plain filesystem path and a `file:` URI — the
    * session catalog qualifies a `CREATE TABLE ... OPTIONS (path ...)`
    * location to a URI before handing it back to the provider.
    */
  private val rootPath: Path = {
    val asUri = try { val u = new java.net.URI(root); Option(u.getScheme).map(_ => u) }
                catch { case _: java.net.URISyntaxException => None }
    asUri match {
      case Some(u) if u.getScheme == "file" =>
        // file:/tmp/x and file:///tmp/x both carry the path component
        Paths.get(Option(u.getPath).getOrElse(u.getSchemeSpecificPart))
      case Some(u) if u.getScheme != null && u.getScheme.length > 1 =>
        throw new IllegalArgumentException(
          s"SnapshotStore: unsupported filesystem scheme '${u.getScheme}' in $root " +
            "(this store is java.nio-based; use a local/NFS-mounted root)")
      case _ => Paths.get(root)
    }
  }
  private val manifestDir: Path = rootPath.resolve("manifests")
  private val dataDir: Path = rootPath.resolve("data")
  private val Header = "graft-snapshot-v1"

  private def manifestPath(v: Long): Path =
    manifestDir.resolve(f"v$v%012d.manifest")

  /** All committed versions, ascending. Only fully-published manifests
    * count — dot-temp files from a crashed publish are filtered out.
    */
  def versions: Seq[Long] =
    backend.list(manifestDir)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }.sorted

  /** Cached latest-version pointer. Commit retries, streaming
    * `getOffset` ticks and format reads all ask for the latest version;
    * re-listing the manifest directory each time is O(versions) driver
    * IO per call — a long-retention table under a per-minute streaming
    * sink accumulates ~500k manifests/year. The cache turns the hot
    * path into one or two `stat(2)` probes.
    *
    * Soundness: versions are DENSE above any committed version (every
    * publish is latest+1; vacuum only deletes from the bottom), so
    * probing `cached+1, cached+2, ...` until absent finds the true
    * latest even when OTHER processes committed meanwhile — the cache
    * can only ever be BEHIND, never ahead, and the forward probe closes
    * the gap on every read. A publisher composing against a
    * behind-cache value still cannot lose data: the `link(2)` CAS in
    * [[publishEntries]] arbitrates, and the loser's retry re-reads
    * through the probe. -1 = nothing cached; a cached version whose
    * manifest vanished (out-of-band wipe) falls back to the listing.
    */
  @volatile private var cachedLatest: Long = -1L

  def latestVersion: Option[Long] = {
    val c = cachedLatest
    if (c >= 0L && backend.exists(manifestPath(c))) {
      var v = c
      while (backend.exists(manifestPath(v + 1))) v += 1
      if (v > c) cachedLatest = v // monotone: racing advances both land >= c
      Some(v)
    } else {
      val fresh = versions.lastOption
      cachedLatest = fresh.getOrElse(-1L)
      fresh
    }
  }

  /** The latest version's full manifest, pinned for one operation `op`:
    * `m.version` is what its publish CAS composes against. Loud when
    * the table has no versions.
    */
  private def latestManifest(op: String): Manifest =
    readFullManifest(latestVersion.getOrElse(throw new IllegalArgumentException(
      s"SnapshotStore.$op: no committed versions at $root")))

  /** Full-snapshot overwrite: stage `df` as fresh immutable files, then
    * publish a manifest listing ONLY them. Returns the new version.
    * Concurrent readers of any older version are untouched. With
    * `statsColumn`, each staged file's footer min/max is recorded for
    * [[readRange]] pruning (cluster the data first —
    * `repartitionByRange(statsColumn)` — or the ranges overlap and
    * nothing prunes).
    */
  def commitOverwrite(df: DataFrame, statsColumn: Option[String] = None,
      txn: Option[(String, Long)] = None, partitionBy: Seq[String] = Nil): Long = {
    // a full replace starts the physical layout over: the new files
    // store the frame's own (logical) names, so the mapping resets;
    // the BLOOM property survives when its column does (the index is
    // per-file — the fresh files collect their own filters)
    val bloomCol = latestVersion.map(readHeader).flatMap(_.bloomColumn)
      .filter(df.columns.contains)
    if (partitionBy.isEmpty) {
      val staged = stageEntries(df, statsColumn, bloomColumn = bloomCol)
      publishEntries(staged, df.schema, statsColumn, txn,
        mappingOverride = Some((Map.empty, Nil)),
        bloomOverride = Some(bloomCol))
    } else {
      val schema = normalizePartitionedSchema(df.schema, partitionBy)
      val staged = stagePartitioned(df, partitionBy, statsColumn,
        bloomColumn = bloomCol.filterNot(partitionBy.contains))
      publishEntries(staged, schema, statsColumn, txn, partCols = partitionBy,
        mappingOverride = Some((Map.empty, Nil)),
        bloomOverride = Some(bloomCol.filterNot(partitionBy.contains)))
    }
  }

  /** Dynamic-partition overwrite as ONE atomic version: stage `df`
    * hive-partitioned, then publish a manifest keeping every old file
    * whose partition tuple the increment did NOT touch, plus the staged
    * files — the `PartitionedSink` O(day) refresh with versioned
    * semantics (readers of older versions see the pre-replace
    * partitions; the change feed emits only the touched partitions'
    * file diffs). CAS-pinned: the kept-file list composes against the
    * version read here, so a racing commit fails this one loudly.
    */
  def commitReplacePartitions(df: DataFrame,
      txn: Option[(String, Long)] = None): Long = {
    val m = pinForWrite("commitReplacePartitions")
    val v = m.version
    require(m.partCols.nonEmpty,
      s"SnapshotStore.commitReplacePartitions: version $v is not partitioned")
    requireSameColumns(m.schema, df.schema, v)
    val staged = stagePartitioned(df, m.partCols, m.statsColumn, m.colMap, m.bloomColumn)
    val touched = staged.map(e => partitionTupleOf(e.path, m.partCols, m.colMap)).toSet
    val kept = m.entries.filterNot(e =>
      touched.contains(partitionTupleOf(e.path, m.partCols, m.colMap)))
    publishEntries(kept ++ staged, m.schema, m.statsColumn, txn,
      partCols = m.partCols, expectedVersion = Some(v + 1L), prev = Some(m))
  }

  /** A table adopted from an ID-mode column-mapped Delta table
    * resolves parquet columns by FIELD ID (`parquet.field.id` field
    * metadata + Spark's native fieldId read path). Files this store
    * writes would not carry those ids, and a manifest mixing
    * id-resolved and name-resolved files cannot be read with one
    * schema — so new-data-file writes refuse until a FULL
    * [[compactLatest]] materializes a native table (it reads by id,
    * writes name-resolved files, and strips the id metadata).
    */
  private[etl] def hasFieldIds(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains("parquet.field.id"))

  private def refuseIdWrites(schema: StructType, op: String): Unit =
    require(!hasFieldIds(schema),
      s"SnapshotStore.$op: this table was adopted from an ID-mode " +
        "column-mapped Delta table — its files resolve columns by " +
        "parquet field id, which files this store writes would not " +
        "carry; compactLatest(spark, targetFiles) first to materialize " +
        "a native table, then retry")

  private def stripFieldIds(schema: StructType): StructType = {
    def clean(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => f.copy(
        dataType = clean(f.dataType),
        metadata = org.apache.spark.sql.types.Metadata.empty)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = clean(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = clean(m.keyType), valueType = clean(m.valueType))
      case other => other
    }
    StructType(schema.fields.map(f => f.copy(dataType = clean(f.dataType),
      metadata = org.apache.spark.sql.types.Metadata.empty)))
  }

  /** Raw `col=value` partition tuple of a manifest path (decoded), in
    * partition-column order. "" for a segment that is unexpectedly
    * absent (malformed path — compares unequal to everything real).
    *
    * With `colMap`, a segment under the column's PHYSICAL name decodes
    * too: an adopted column-mapped Delta table lays its directories out
    * under physical names, while files this store stages itself use
    * whatever the mapping said at write time — both conventions can
    * coexist in one manifest, and tuples compare by VALUE.
    */
  private[graft] def partitionTupleOf(relPath: String, partCols: Seq[String],
      colMap: Map[String, String] = Map.empty): Seq[String] = {
    val segs = relPath.split('/')
    partCols.map { c =>
      val names = Seq(c) ++ colMap.get(c).filterNot(_ == c)
      segs.collectFirst {
        case s if names.exists(n => s.startsWith(n + "=")) =>
          val n = names.find(n => s.startsWith(n + "=")).get
          SnapshotStore.unescapePathValue(s.substring(n.length + 1))
      }.getOrElse("")
    }
  }

  /** Manifest schema for a partitioned table: data columns in frame
    * order, partition columns LAST in partitionBy order — matching the
    * file-source read-back order, so read → transform → append
    * round-trips without a column shuffle.
    */
  private def normalizePartitionedSchema(schema: StructType,
      partCols: Seq[String]): StructType = {
    val byName = schema.fields.map(f => f.name -> f).toMap
    partCols.foreach { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"SnapshotStore: partition column '$c' is not in the frame " +
          s"(${schema.fieldNames.mkString(", ")})"))
      f.dataType match {
        case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
             _: StringType | _: DateType | _: BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"SnapshotStore: partition column '$c' has unsupported type " +
            s"${other.simpleString} (int/long/short/byte/string/date/boolean)")
      }
    }
    StructType(schema.fields.filterNot(f => partCols.contains(f.name)) ++
      partCols.map(byName))
  }

  private def requireSameColumns(table: StructType, incoming: StructType,
      v: Long): Unit = {
    val t = table.fields.map(f => f.name -> f.dataType).sortBy(_._1)
    val i = incoming.fields.map(f => f.name -> f.dataType).sortBy(_._1)
    require(t.length == i.length && t.zip(i).forall { case ((tn, tt), (in, it)) =>
      tn == in && DataType.equalsIgnoreNullability(tt, it) },
      s"SnapshotStore: schema mismatch vs version $v — table has " +
        s"${table.simpleString}, incoming ${incoming.simpleString}")
  }

  /** Append: stage `df`'s files, publish a manifest listing the
    * previous version's files PLUS the new ones. By default the
    * incoming schema must match — a manifest table is one table, not a
    * union of whatever arrived. Old files keep their recorded stats;
    * new files carry stats only when `statsColumn` matches the table's
    * (a mismatched or absent column just yields never-pruned files).
    *
    * `mergeSchema = true` is append-side schema EVOLUTION (the other
    * half of the reference's Delta posture — `sync.py:112-114` turns on
    * `overwriteSchema` for full refreshes; `mergeSchema` is the same
    * dial for incremental loads): top-level columns new to the table
    * are appended as nullable fields (rows in older files read back
    * null there), columns the increment lacks stay in the table (the
    * new files read back null there), and a same-name column whose
    * TYPE differs is refused loudly — silent coercion is how a
    * versioned table rots. Evolution is name-based and top-level only,
    * matching the reference's own conform step (`ingest.py:654-668`
    * pads missing columns by name); nested struct surgery is out of
    * contract. Works because a manifest read is `spark.read.schema(s)`
    * over parquet: name-resolved, missing-column → null, extra-column
    * → ignored — so ONE published schema reads every generation of
    * files consistently with zero rewrites.
    */
  def commitAppend(df: DataFrame, statsColumn: Option[String] = None,
      mergeSchema: Boolean = false, txn: Option[(String, Long)] = None): Long =
    appendImpl(df, statsColumn, mergeSchema, txn, skipEmpty = false).get

  /** [[commitAppend]] that publishes nothing when `df` holds no rows:
    * the staged files' footers count zero, so they are deleted and no
    * version is committed (None). The [[Pipeline.Sink]] contract.
    */
  private[etl] def commitAppendNonEmpty(df: DataFrame,
      mergeSchema: Boolean): Option[Long] =
    appendImpl(df, None, mergeSchema, None, skipEmpty = true)

  private def appendImpl(df: DataFrame, statsColumn: Option[String],
      mergeSchema: Boolean, txn: Option[(String, Long)],
      skipEmpty: Boolean): Option[Long] = {
    // Stats AUTHORITY: the table's stats column is a table property.
    // Old manifest entries' min/max were computed for the OLD column —
    // relabeling them under a new `#stats` name would make readRange /
    // SnapshotFileIndex prune with wrong ranges and silently drop rows.
    // A conflicting request fails loudly; introducing stats on a table
    // that has none is safe (old entries carry no min/max and are
    // conservatively never pruned).
    def effectiveStats(oldStats: Option[String]): Option[String] = oldStats match {
      case Some(tableCol) =>
        require(statsColumn.forall(_ == tableCol),
          s"SnapshotStore.commitAppend: stats column is a table property — " +
            s"table collects '$tableCol', commit requested '${statsColumn.get}'; " +
            "change it via commitOverwrite(statsColumn=...) or " +
            "compactLatest(clusterBy=...)")
        Some(tableCol)
      case None => statsColumn
    }
    // Appends COMMUTE, so a lost CAS race rebases: re-read the new
    // latest, re-validate the schema against it, re-list its files, and
    // publish the next version. The staged data files are immutable and
    // version-independent — staging happens ONCE, only the manifest
    // composition retries. Bounded attempts: a pathological storm of
    // writers should surface, not spin.
    // An append is O(increment) END TO END under the log-structured
    // manifest: validation reads only the predecessor's HEADER (schema,
    // stats property, partition layout, constraints — never the file
    // list) and publication writes a `+`-only delta. The previous full
    // list is materialized only at checkpoint cadence, amortized 1/K.
    var staged: Option[(Seq[FileEntry], Option[String], Seq[String],
      Map[String, String])] = None
    var bloomCol: Option[String] = None
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val (published, effective, parts, expected, mapping) = latestVersion match {
          case None =>
            (df.schema, statsColumn, Seq.empty[String], 0L,
              (Map.empty[String, String], Seq.empty[String]))
          case Some(v) =>
            val h = readHeader(v)
            refuseIdWrites(h.schema, "commitAppend")
            val pub =
              if (h.partCols.nonEmpty) {
                require(!mergeSchema, "SnapshotStore.commitAppend: mergeSchema " +
                  "is not supported on a partitioned table (overwrite to evolve)")
                requireSameColumns(h.schema, df.schema, v)
                h.schema
              } else if (mergeSchema) mergeSchemas(h.schema, df.schema, v)
              else {
                require(DataType.equalsIgnoreNullability(h.schema, df.schema),
                  s"SnapshotStore.commitAppend: schema mismatch vs version $v — " +
                    s"table has ${h.schema.simpleString}, incoming ${df.schema.simpleString} " +
                    s"(pass mergeSchema = true to evolve)")
                h.schema
              }
            // evolution may ADD columns whose names collide with a
            // RETIRED physical column still present in old files — the
            // mapping extension assigns them a fresh physical name so
            // old values can never resurrect under the new column
            val addedNames = pub.fieldNames.filterNot(
              h.schema.fieldNames.contains).toSeq
            val extended = extendMapping(h.colMap, h.retired, h.schema, addedNames)
            bloomCol = h.bloomColumn
            (pub, effectiveStats(h.statsColumn), h.partCols, v + 1L,
              (extended, h.retired))
        }
        val entries = staged match {
          case Some((files, col, p, _)) if p != parts =>
            // a racer REPLACED the table with a different partition
            // layout mid-append: our staged files have the wrong
            // directory shape — this is an overwrite conflict, not a
            // commutable append. Non-retryable: the staged files keep
            // the stale layout, so every rebase attempt would re-throw.
            throw new ConcurrentCommitException(
              s"SnapshotStore.commitAppend: table partitioning changed " +
                s"(${p.mkString(",")} -> ${parts.mkString(",")}) while this " +
                "append was staging; re-run against the new layout",
              retryable = false)
          case Some((files, _, _, cm)) if cm != mapping._1 =>
            // a racer RENAMED/DROPPED a column mid-append: the staged
            // files carry stale physical names — same non-commutable
            // shape as a partition-layout change
            throw new ConcurrentCommitException(
              "SnapshotStore.commitAppend: the table's column mapping " +
                "changed while this append was staging; re-run against " +
                "the new schema", retryable = false)
          case Some((files, col, _, _)) if col == effective => files
          case Some((files, _, _, _)) =>
            // A rebase changed the effective stats column (a racer
            // introduced one): our recorded min/max are for the
            // wrong column — strip them, conservative by design.
            files.map(_.copy(min = None, max = None, extra = Nil))
          case None =>
            val e = if (parts.isEmpty)
                stageEntries(df, effective, mapping._1, bloomCol)
              else stagePartitioned(df, parts, effective, mapping._1, bloomCol)
            if (skipEmpty && e.forall(f => SnapshotStore.parquetRows(
                new org.apache.hadoop.fs.Path(rootPath.resolve(f.path).toString),
                df.sparkSession.sparkContext.hadoopConfiguration) == 0L)) {
              // data/<uuid>/...: the staging directory of this append
              e.map(f => Paths.get(f.path).subpath(0, 2)).distinct.foreach(d =>
                org.apache.hadoop.fs.FileUtil.fullyDelete(rootPath.resolve(d).toFile))
              return None
            }
            staged = Some((e, effective, parts, mapping._1))
            e
        }
        return Some {
          if (expected == 0L)
            publishEntries(entries, published, effective, txn,
              partCols = parts, expectedVersion = Some(0L))
          else publishAppend(entries, published, effective, txn, parts,
            expectedVersion = expected, mapping = Some(mapping))
        }
      } catch {
        case e: ConcurrentCommitException if !e.retryable => throw e
        case e: ConcurrentCommitException =>
          if (attempt >= 8) throw new ConcurrentCommitException(
            s"SnapshotStore.commitAppend: lost the commit race $attempt times " +
              s"at $root — giving up (${e.getMessage})")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit history as a DataFrame — the ops surface over the manifest
    * log: one row per version with its publication time (the manifest
    * file's mtime: the atomic rename IS the commit instant — the same
    * clock Delta's timestamp time travel reads), file count, byte
    * total, and the rewrite/txn markers.
    */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    versions.map { v =>
      val m = readFullManifest(v)
      val committedAt = new java.sql.Timestamp(m.ts.getOrElse(
        backend.modifiedMillis(manifestPath(v))))
      val bytes = m.entries.map(entryBytes).sum
      (v, committedAt, m.entries.length, bytes, m.rewrite,
        m.txn.map(_._1), m.txn.map(_._2), m.statsColumn,
        m.schema.fieldNames.length)
    }.toDF("version", "committed_at", "n_files", "bytes", "is_rewrite",
      "txn_app", "txn", "stats_column", "n_columns")
  }

  /** Version visible at `ts` — the newest manifest published at or
    * before it (timestamp time travel's resolution step). Errors when
    * the table didn't exist yet at `ts`.
    */
  def versionAt(ts: java.time.Instant): Long = {
    val at = versions.reverse.find(v => commitMillis(v) <= ts.toEpochMilli)
    at.getOrElse(throw new IllegalArgumentException(
      s"SnapshotStore.versionAt: no version committed at or before $ts " +
        s"at $root (earliest: ${versions.headOption.getOrElse("none")})"))
  }

  /** Compaction — the OPTIMIZE of the log-structured-table world: read
    * the latest version, rewrite its rows into `targetFiles` files
    * (range-clustered on `clusterBy` when given, else on the table's
    * stats column when it has one — clustering is what makes the
    * manifest min/max DISJOINT, i.e. what makes pruning bite), and
    * publish the rewrite as a new version flagged `#rewrite`:
    * dataChange = false. The change feed and the streaming source skip
    * rewrite versions entirely — the rows didn't change, only their
    * layout — so routine small-file maintenance never re-delivers a
    * table to downstream consumers (the failure mode a naive CDC has
    * when compaction looks like an overwrite). Older versions stay
    * readable until [[vacuum]]; stats are re-collected from the new
    * files' footers, so pruning often IMPROVES after a clustered
    * compaction (streaming appends arrive time-ordered, not
    * key-ordered).
    */
  /** Spec hook: runs between a compaction's staging and its first
    * publish attempt, where a real deployment's racing commits land —
    * lets the rebase/loud-loser interleavings be tested
    * DETERMINISTICALLY instead of probabilistically. No-op in
    * production.
    */
  private[etl] var onCompactStaged: () => Unit = () => ()

  def compactLatest(spark: SparkSession, targetFiles: Int,
      clusterBy: Option[String] = None, zorderBy: Seq[String] = Nil,
      scope: Option[org.apache.spark.sql.Column] = None,
      onlySmallerThanBytes: Option[Long] = None): Long = {
    require(targetFiles >= 1, s"compactLatest: targetFiles must be >= 1, got $targetFiles")
    require(zorderBy.isEmpty || clusterBy.isEmpty,
      "compactLatest: clusterBy and zorderBy are mutually exclusive")
    val m = latestManifest("compactLatest")
    val v = m.version
    // an ID-adopted table (parquet.field.id schema metadata) converts
    // to native HERE — but only as a FULL rewrite: a partial one would
    // mix id-resolved and name-resolved files under one schema
    require(!hasFieldIds(m.schema) ||
        (scope.isEmpty && onlySmallerThanBytes.isEmpty),
      "SnapshotStore.compactLatest: this table resolves columns by " +
        "parquet field id (ID-mode Delta adoption) — a PARTIAL " +
        "compaction would mix id-resolved and name-resolved files; " +
        "compact whole (no scope/onlySmallerThanBytes) to materialize " +
        "a native table")
    // SCOPED maintenance (Delta's `OPTIMIZE ... WHERE`): at 100 TB a
    // whole-table rewrite is the wrong physics — maintenance must be
    // incremental. The predicate selects PARTITIONS: it is evaluated
    // once over the distinct partition tuples (O(partitions) driver
    // rows, arbitrary predicate grammar via a real Spark filter — a
    // non-partition-column reference fails analysis loudly); only the
    // matching partitions' files are rewritten, everything else keeps
    // its path identity, and the conflict-rebase below already reasons
    // in terms of exactly the rewritten file set.
    val scopedByPartition: Seq[FileEntry] = scope match {
      case None => m.entries
      case Some(p) =>
        require(m.partCols.nonEmpty,
          "compactLatest: scope (OPTIMIZE ... WHERE) selects partitions — " +
            "this table is unpartitioned, compact it whole")
        val byName = m.schema.fields.map(f => f.name -> f).toMap
        val tuples = m.entries.map(e =>
          partitionTupleOf(e.path, m.partCols, m.colMap)).distinct
        import org.apache.spark.sql.functions.{col, lit, when}
        val raw = spark.createDataFrame(
          spark.sparkContext.parallelize(tuples.map(Row.fromSeq), 1),
          StructType(m.partCols.map(c =>
            org.apache.spark.sql.types.StructField(s"__raw_$c", StringType))))
        val typed = m.partCols.foldLeft(raw)((df, c) =>
          df.withColumn(c,
            when(col(s"__raw_$c") === lit(SnapshotStore.HiveNullPartition), lit(null))
              .otherwise(col(s"__raw_$c")).cast(byName(c).dataType)))
        val selected = typed.filter(p)
          .select(m.partCols.map(c => col(s"__raw_$c")): _*)
          .collect().map(_.toSeq.map(String.valueOf)).toSet
        m.entries.filter(e => selected.contains(
          partitionTupleOf(e.path, m.partCols, m.colMap).map(String.valueOf)))
    }
    // SMALL-FILE selection (Delta's bin-packing default made explicit):
    // only files under the threshold are rewritten; right-sized files
    // keep their path identity — EXCEPT files carrying live DVs, which
    // are always candidates (compaction is how tombstones materialize,
    // and skipping a big DV'd file would leave the table refusing the
    // plain scan path forever). Composes with `scope`.
    val scoped = onlySmallerThanBytes match {
      case None => scopedByPartition
      case Some(threshold) =>
        require(threshold >= 1L,
          s"compactLatest: onlySmallerThanBytes must be >= 1, got $threshold")
        scopedByPartition.filter { e =>
          e.dv.nonEmpty || entryBytes(e) < threshold
        }
    }
    // An empty candidate set is the INTENDED steady state of scheduled
    // maintenance (the table is already compacted / the scope matched
    // nothing this cadence): an honest no-op — return the current
    // version, publish nothing. Delta's OPTIMIZE behaves the same; a
    // maintenance job must not error once it has succeeded.
    if (scoped.isEmpty) return v
    val cluster = clusterBy.orElse(
      if (zorderBy.nonEmpty) None else statsParts(m.statsColumn).headOption)
    val df = scan(spark, m.schema, scoped, m.partCols, m.colMap)
    // Z-ORDER maintenance (Delta's OPTIMIZE ZORDER BY): interleave the
    // named columns' range-bucket bits into one morton key and
    // range-cluster on it — every rewritten file gets a COMPACT range
    // in ALL the named dimensions at once, so the manifest stats (one
    // column) AND the parquet footer stats (every column) both prune
    // multi-dimensional range queries after routine maintenance.
    val laid =
      if (zorderBy.nonEmpty) graft.ext.Layout.zorderLayout(df, zorderBy, targetFiles)
      else cluster match {
        case Some(c) => df.repartitionByRange(targetFiles,
          org.apache.spark.sql.functions.col(c))
        case None => df.repartition(targetFiles)
      }
    // partitioned tables re-stage hive-style: targetFiles bounds the
    // files per PARTITION (each partition directory compacts separately)
    val staged = restage(m, laid)
    // CONFLICT GRANULARITY (the second half of optimistic concurrency —
    // Delta's protocol lets a dataChange=false rewrite commit when the
    // concurrent commits didn't touch the files it rewrote): a
    // compaction pinned to the version it read would LIVELOCK under a
    // steady writer (a per-minute CDC-apply sink commits faster than a
    // long OPTIMIZE runs — it could never land). So on losing the CAS,
    // diff the new latest against the pinned version:
    //
    //   - every rewritten file still present, same layout → the racers
    //     were appends (or CoW merges over OTHER files): REBASE as a
    //     rewrite of the latest = (latest files − rewritten files) +
    //     compacted files. Rows of the published version ≡ rows of the
    //     latest (latest − pinned + compacted(pinned)), so the
    //     dataChange=false flag stays honest and feeds still skip it.
    //   - any rewritten file vanished (an overwrite/restore/CoW rewrote
    //     or dropped one of them) or the partition layout changed → the
    //     compacted rows are STALE: fail loudly, re-run against the new
    //     state. Never lossy either way.
    onCompactStaged() // spec hook: deterministic racing-commit injection
    val rewrittenPaths = scoped.map(_.path).toSet
    var attempt = 0
    while (true) {
      attempt += 1
      val lv = latestVersion.get // >= v: versions never disappear from the top
      val latest = if (lv == v) m else readFullManifest(lv)
      if (latest.partCols != m.partCols)
        throw new ConcurrentCommitException(
          s"SnapshotStore.compactLatest: table partitioning changed " +
            s"(${m.partCols.mkString(",")} -> ${latest.partCols.mkString(",")}) " +
            s"while compacting version $v — re-run against version $lv",
          retryable = false)
      val latestByPath = latest.entries.map(e => e.path -> e).toMap
      val pinnedByPath = m.entries.map(e => e.path -> e).toMap
      // IDENTITY means path AND deletion-vector set: a racer that
      // MoR-tombstoned rows in one of the pinned files kept the path
      // but changed its LIVE rows — republishing the compacted copy
      // would resurrect the deleted rows under a dataChange=false flag.
      val gone = rewrittenPaths.filterNot(p =>
        latestByPath.get(p).exists(_.dv == pinnedByPath(p).dv))
      if (gone.nonEmpty)
        throw new ConcurrentCommitException(
          s"SnapshotStore.compactLatest: ${gone.size} of the files compacted " +
            s"from version $v were removed or re-tombstoned by a concurrent " +
            s"commit (latest $lv; first: ${gone.head}) — the compacted rows " +
            "are stale, re-run against the new table state", retryable = false)
      // a racer may have INTRODUCED a stats column (append onto a
      // stats-less table): our staged entries carry min/max for the
      // pinned column only — strip when they disagree (conservative)
      val stagedAdj =
        if (latest.statsColumn == m.statsColumn) staged
        else staged.map(_.copy(min = None, max = None, extra = Nil))
      val kept = latest.entries.filterNot(e => rewrittenPaths.contains(e.path))
      try {
        // an ID-adopted table materializes NATIVE here: every file was
        // rewritten name-resolved (kept is empty under the full-compact
        // gate above), so the published schema drops the field-id
        // metadata and reads go back to the name path
        val pubSchema =
          if (hasFieldIds(latest.schema)) stripFieldIds(latest.schema)
          else latest.schema
        return publishEntries(kept ++ stagedAdj, pubSchema,
          latest.statsColumn, latest.txn, rewrite = true,
          expectedVersion = Some(lv + 1L), partCols = m.partCols,
          prev = Some(latest))
      } catch {
        case e: ConcurrentCommitException =>
          if (attempt >= 8) throw new ConcurrentCommitException(
            s"SnapshotStore.compactLatest: lost the commit race $attempt " +
              s"times at $root — giving up (${e.getMessage})")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ROW-LEVEL DML — [[mergeInto]], [[applyChanges]], [[mergeClauses]],
    * [[deleteWhere]] and [[updateWhere]] — is one sequence; each op
    * supplies only its validation and its row logic, and commits ONE
    * version:
    *
    *  1. PIN the latest manifest and REFUSE an ID-mode adopted table
    *     ([[pinForWrite]]). Every later step composes against that
    *     version, and the publish expects the next one.
    *  2. CANDIDATES ([[Candidates]]): the files the op may touch,
    *     pruned at the manifest — by the source's key range on the
    *     stats column plus its bloom point set ([[keyedCandidates]]),
    *     or by the predicate's folded stats bounds plus its bloom point
    *     set ([[predicateCandidates]]). A file without stats is always
    *     a candidate, so pruning may miss but never lies. The same
    *     keep-test over the files a racer ADDED is the op's conflict
    *     test.
    *  3. TOMBSTONE or REWRITE:
    *     - COPY-ON-WRITE ([[rewrite]], the default): the candidates'
    *       live rows go through the op's row logic and the result
    *       replaces them. O(touched files) — the right physics for bulk
    *       changes. Untouched files keep their path identity, so the
    *       change feed emits only touched files' rows and readers of
    *       older versions are unaffected.
    *     - MERGE-ON-READ ([[tombstone]], `mergeOnRead = true`): no
    *       data file is rewritten. The matched LIVE rows' (file,
    *       position) pairs land in one position-list sidecar
    *       (`data/<uuid>.dv/`, an ordinary distributed parquet write —
    *       never a driver collect), each hit file's entry gains the DV
    *       reference, and the op's images are appended. [[read]]
    *       anti-joins the tombstones, the change feed emits them as
    *       honest deletes, and the next copy-on-write rewrite or
    *       [[compactLatest]] MATERIALIZES them. A scattered 1-row
    *       change in a 100 TB table costs O(1 sidecar), not a 1 GB file
    *       rewrite per hit file (Delta/Iceberg's deletion-vector idea
    *       on the manifest's terms). Stats stay conservative upper
    *       bounds.
    *  4. RE-STAGE the new rows under the table's layout ([[restage]]).
    *  5. PUBLISH with CONFLICT GRANULARITY ([[publishRowOp]]): a lost
    *     CAS rebases over racers that touched other files and added
    *     none the conflict test flags — two partition-sharded CDC
    *     appliers over disjoint key ranges run concurrently, the
    *     natural sharding at 100 TB — and fails loudly otherwise.
    */
  private final case class Candidates(files: Seq[FileEntry],
      conflicts: Seq[FileEntry] => Seq[FileEntry])

  /** Step 1 of a data-writing op: the latest manifest, refused when
    * the table resolves columns by parquet field id.
    */
  private def pinForWrite(op: String): Manifest = {
    val m = latestManifest(op)
    refuseIdWrites(m.schema, op)
    m
  }

  /** Candidates of a KEYED op: when the table's primary stats column is
    * one of `keys`, the files whose [min,max] can intersect `rows`' key
    * range (one min/max/NULL-count job over the source) — a file whose
    * range misses it holds no row sharing a source key. Unless
    * `rangeOnly`, the bloom point set composes: when the source is a
    * small point set on the bloom column, files whose filter excludes
    * every key drop out — the unclustered-key pruning range stats
    * cannot give.
    *
    * NULL keys under range pruning are refused: footer min/max never
    * cover nulls, so a null-key target row in a pruned file would
    * escape the op while one in a candidate would not (land null-key
    * rows with commitAppend). `rangeOnly` (general MERGE) lets them
    * through: a NULL source key never matches under SQL equality and
    * flows to NOT MATCHED, which is file-independent.
    */
  private def keyedCandidates(op: String, m: Manifest, rows: DataFrame,
      keys: Seq[String], rangeOnly: Boolean = false): Candidates = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    val inRange: FileEntry => Boolean =
      statsParts(m.statsColumn).headOption.filter(keys.contains) match {
        case None => _ => true
        case Some(c) =>
          val r = rows.agg(min(col(c)), max(col(c)),
            count(when(col(c).isNull, lit(1)))).head()
          require(rangeOnly || r.getLong(2) == 0L,
            s"SnapshotStore.$op: ${r.getLong(2)} rows carry a NULL '$c' key " +
              "— null merge keys are not supported under stats pruning")
          if (r.isNullAt(0)) _ => false // no matchable key: reads nothing
          else {
            val (lo, hi) = (toStatsLong(r.get(0)), toStatsLong(r.get(1)))
            e => e.min.zip(e.max).forall { case (mn, mx) => mx >= lo && mn <= hi }
          }
      }
    val bloomHs =
      if (rangeOnly) None
      else m.bloomColumn.filter(keys.contains).flatMap(deltaKeyHashes(rows, _))
    val keep = (e: FileEntry) => inRange(e) && bloomHs.forall(bloomKeep(e, _))
    Candidates(m.entries.filter(keep), _.filter(keep))
  }

  /** Refuse a source holding two rows on one key tuple (one aggregate
    * job over the source).
    */
  private def requireUniqueKeys(rows: DataFrame, keys: Seq[String],
      message: => String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L).isEmpty, message)
  }

  /** Step 3, copy-on-write: the candidates' live rows → `rows` →
    * re-staged; the candidates leave the manifest.
    */
  private def rewrite(spark: SparkSession, m: Manifest, c: Candidates,
      txn: Option[(String, Long)])(rows: DataFrame => DataFrame): Long =
    publishRowOp(m, c.files.map(_.path).toSet, Map.empty,
      restage(m, rows(scan(spark, m.schema, c.files, m.partCols, m.colMap))),
      txn, c.conflicts)

  /** Step 3, merge-on-read: tombstone the candidates' live rows that
    * `matched` keeps, then append `images(matched rows, anyHit)` when it
    * yields a frame.
    */
  private def tombstone(spark: SparkSession, m: Manifest, c: Candidates,
      txn: Option[(String, Long)])(matched: DataFrame => DataFrame,
      images: (DataFrame, Boolean) => Option[DataFrame]): Long = {
    import org.apache.spark.sql.functions.col
    val rows = matched(liveWithPos(spark, m.schema, c.files, m.partCols, m.colMap))
    val (dvRel, hitFiles) = writeDvSidecar(spark,
      rows.select(col("__file").as("file"), col("__pos").as("pos")))
    publishRowOp(m, Set.empty, hitFiles.map(_ -> dvRel).toMap,
      images(rows, hitFiles.nonEmpty).fold(Seq.empty[FileEntry])(restage(m, _)),
      txn, c.conflicts)
  }

  /** MERGE (upsert) into the latest version: every `delta` row replaces
    * the target row sharing its key tuple, or is inserted. Candidates
    * are pruned by the delta's key range and bloom point set
    * ([[keyedCandidates]]; NULL keys are refused under range pruning).
    * Copy-on-write rewrites the candidates through [[Merge.upsert]]'s
    * single-shuffle window. Merge-on-read tombstones the matched LIVE
    * target rows (null-safe key equality — the grouping the window
    * applies) and appends the WHOLE delta, replaced images and fresh
    * inserts alike: a steady CDC upsert stream then costs O(delta) per
    * micro-batch. The delta must be UNIQUE per key tuple under MoR
    * (appending two images of one key would keep both; the CoW window
    * picks an arbitrary winner — dedup upstream with
    * [[graft.ext.Dedup.latestByKey]]), refused loudly otherwise.
    */
  def mergeInto(spark: SparkSession, delta: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None, mergeOnRead: Boolean = false): Long =
    keyedApply(spark, "mergeInto", delta, keys, None, txn, mergeOnRead)

  /** Op-coded change apply — the CDC replication primitive: each row
    * carries an op marker (`"U"` replaces/inserts the key, `"D"`
    * removes it), the store-level twin of [[Merge.applyChangeLog]]
    * (q125). This is what a change-FEED consumer needs that
    * [[mergeInto]] cannot do: propagate DELETES. `changes` must be the
    * table schema plus `opCol`, UNIQUE per key tuple (collapse
    * multi-version batches upstream — the streaming sink does).
    * Copy-on-write rewrites the candidates through the single-shuffle
    * union+window apply; merge-on-read tombstones every matched live
    * row (updates AND deletes) and appends only the `"U"` images.
    * Deleting an absent key is a no-op, as MERGE semantics require.
    * Key-range pruning is sound for deletes too: a file whose stats
    * range cannot intersect the batch's key range holds no row any
    * change could touch.
    */
  def applyChanges(spark: SparkSession, changes: DataFrame, keys: Seq[String],
      opCol: String = "op", txn: Option[(String, Long)] = None,
      mergeOnRead: Boolean = false): Long =
    keyedApply(spark, "applyChanges", changes, keys, Some(opCol), txn, mergeOnRead)

  /** [[mergeInto]] (`opCol` None) and [[applyChanges]] (`opCol` Some):
    * one keyed apply — they differ only in whether rows carry an op
    * column. The CoW upsert needs no uniqueness job (its window picks
    * one image per key).
    */
  private def keyedApply(spark: SparkSession, op: String, rows: DataFrame,
      keys: Seq[String], opCol: Option[String], txn: Option[(String, Long)],
      mergeOnRead: Boolean): Long = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, s"SnapshotStore.$op: no key columns")
    opCol.foreach(o => require(rows.columns.contains(o),
      s"SnapshotStore.$op: changes lacks op column '$o'"))
    val m = pinForWrite(op)
    val data = StructType(rows.schema.fields.filterNot(f => opCol.contains(f.name)))
    require(DataType.equalsIgnoreNullability(data, m.schema),
      s"SnapshotStore.$op: " +
        opCol.fold("delta schema")(o => s"changes schema (minus '$o')") +
        s" ${data.simpleString} must match table schema ${m.schema.simpleString}")
    if (opCol.nonEmpty) requireUniqueKeys(rows, keys,
      s"SnapshotStore.$op: multiple change rows share a key tuple " +
        "— collapse to the final state per key first (Dedup.latestByKey)")
    else if (mergeOnRead) requireUniqueKeys(rows, keys,
      s"SnapshotStore.$op(mergeOnRead): multiple delta rows share a " +
        "key tuple — appending both would keep both; dedup the delta " +
        "first (Dedup.latestByKey)")
    val c = keyedCandidates(op, m, rows, keys)
    val cols = m.schema.fieldNames.toSeq.map(col)
    if (mergeOnRead) {
      val dkeys = rows.select(keys.map(k => col(k).as(s"__d_$k")): _*)
      val images = opCol.fold(rows)(o =>
        rows.filter(Merge.validatedOp(col(o)) === "U").select(cols: _*))
      tombstone(spark, m, c, txn)(
        _.join(dkeys, keys.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _),
          "left_semi"),
        (_, _) => Some(images))
    } else rewrite(spark, m, c, txn)(live => opCol match {
      case None => Merge.upsert(live, rows, keys)
      case Some(o) => Merge.applyChangeLog(live, rows.select(cols :+ col(o): _*), keys, o)
    })
  }

  /** General MERGE — the full WHEN-clause algebra
    * (`WHEN MATCHED [AND cond] THEN UPDATE SET .../DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT ...`), first-match-wins
    * per SQL, executed as ONE copy-on-write version. This is what an
    * op-coded CDC feed needs (`AND s.op = 'D' THEN DELETE`); the
    * unconditional-star upsert keeps its cheaper single-shuffle path in
    * [[mergeInto]].
    *
    * Candidates are pruned by the source's key RANGE only (sound
    * because every MATCHED effect is confined to rows sharing a source
    * key) and rewritten through one full-outer join against the source.
    * NULL source keys never match (SQL three-valued equality) and flow
    * to the NOT MATCHED arm — sound under pruning, since inserts are
    * file-independent.
    *
    * Source keys must be UNIQUE per tuple: a target row matching two
    * source rows is SQL's cardinality violation — refused loudly up
    * front (one aggregate over the source) rather than surfacing as a
    * nondeterministic update.
    *
    * `notMatchedBySource` (`WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE SET ... / DELETE`) completes the clause matrix — the
    * full-state-sync shape (source = the desired table; absent rows
    * deleted or flagged). Its effects reach target rows that share NO
    * source key, so the key-range file pruning is UNSOUND for them:
    * when any such clause is present, EVERY file is a candidate and
    * every racer-added file conflicts — the honest O(table) cost
    * full-state sync inherently carries. `UPDATE SET *` is refused
    * there (there is no source row to star from), and conditions/values
    * must address target columns only (`__t_`); a source reference
    * would evaluate against NULL.
    *
    * Clause conditions/values address columns through the `__t_`/`__s_`
    * prefix namespace — see [[SnapshotStore.MergeClause]].
    */
  def mergeClauses(spark: SparkSession, source: DataFrame, keys: Seq[String],
      matched: Seq[SnapshotStore.MergeClause],
      notMatched: Seq[SnapshotStore.MergeClause],
      notMatchedBySource: Seq[SnapshotStore.MergeClause] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    import SnapshotStore.{MergeClause, MergeDelete, MergeInsert, MergeUpdate}
    require(keys.nonEmpty, "SnapshotStore.mergeClauses: no key columns")
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "SnapshotStore.mergeClauses: INSERT is not a MATCHED action")
      case _ => ()
    }
    notMatched.foreach {
      case _: MergeInsert => ()
      case other => throw new IllegalArgumentException(
        s"SnapshotStore.mergeClauses: only INSERT is a NOT MATCHED action, got $other")
    }
    notMatchedBySource.foreach {
      case MergeUpdate(_, sets) => require(sets.nonEmpty,
        "SnapshotStore.mergeClauses: UPDATE SET * is not a NOT MATCHED BY " +
          "SOURCE action (there is no source row to star from)")
      case _: MergeDelete => ()
      case other => throw new IllegalArgumentException(
        s"SnapshotStore.mergeClauses: only UPDATE/DELETE are NOT MATCHED " +
          s"BY SOURCE actions, got $other")
    }
    val m = pinForWrite("mergeClauses")
    val tableCols = m.schema.fieldNames.toSet
    keys.foreach { k =>
      require(tableCols.contains(k) && source.columns.contains(k),
        s"SnapshotStore.mergeClauses: key '$k' must exist in the table and the source")
    }
    val starNeeded =
      matched.exists { case MergeUpdate(_, s) => s.isEmpty; case _ => false } ||
      notMatched.exists { case MergeInsert(_, s) => s.isEmpty; case _ => false }
    if (starNeeded) {
      val missing = m.schema.fieldNames.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"SnapshotStore.mergeClauses: star action needs every table column " +
          s"in the source; missing ${missing.mkString(", ")}")
    }
    (matched ++ notMatched ++ notMatchedBySource).foreach {
      case MergeUpdate(_, sets) => sets.keys.foreach(k => require(
        tableCols.contains(k), s"mergeClauses: UPDATE SET targets unknown column '$k'"))
      case MergeInsert(_, sets) => sets.keys.foreach(k => require(
        tableCols.contains(k), s"mergeClauses: INSERT targets unknown column '$k'"))
      case _ => ()
    }
    requireUniqueKeys(source, keys,
      "SnapshotStore.mergeClauses: multiple source rows share an ON key " +
        "tuple — SQL MERGE cardinality violation (dedup the source first)")
    val c = keyedCandidates("mergeClauses", m, source,
      if (notMatchedBySource.isEmpty) keys else Nil, rangeOnly = true)
    val s = source
      .select(source.columns.toSeq.map(n => col(n).as(s"__s_$n")): _*)
      .withColumn("__s_ex", lit(true))
    val tEx = coalesce(col("__t_ex"), lit(false))
    val sEx = coalesce(col("__s_ex"), lit(false))
    // first-match-wins clause index; -1 = no clause applies
    def firstMatch(clauses: Seq[MergeClause]): org.apache.spark.sql.Column =
      clauses.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
        case ((cl, i), acc) =>
          when(coalesce(cl.cond.getOrElse(lit(true)), lit(false)), lit(i))
            .otherwise(acc)
      }
    val deleteIdx = matched.zipWithIndex.collect { case (_: MergeDelete, i) => i }
    val deleteIdxB = notMatchedBySource.zipWithIndex.collect {
      case (_: MergeDelete, i) => i
    }
    val keepRow = when(tEx && !sEx,
        if (deleteIdxB.isEmpty) lit(true)
        else not(col("__bact").isInCollection(deleteIdxB)))
      .when(tEx && sEx,
        if (deleteIdx.isEmpty) lit(true)
        else not(col("__mact").isInCollection(deleteIdx)))
      .otherwise(col("__nact") >= 0) // an unmatched source row nobody inserts: dropped
    def caseOver(act: org.apache.spark.sql.Column,
        arms: Seq[(Int, org.apache.spark.sql.Column)],
        default: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      arms.foldRight(default) { case ((i, value), acc) =>
        when(act === i, value).otherwise(acc)
      }
    val outCols = m.schema.fields.toSeq.map { f =>
      val tcol = col(s"__t_${f.name}")
      val scol = col(s"__s_${f.name}")
      val updatedVal = caseOver(col("__mact"),
        matched.zipWithIndex.collect { case (MergeUpdate(_, sets), i) =>
          i -> (if (sets.isEmpty) scol else sets.getOrElse(f.name, tcol))
        }, tcol)
      val insertedVal = caseOver(col("__nact"),
        notMatched.zipWithIndex.collect { case (MergeInsert(_, sets), i) =>
          i -> (if (sets.isEmpty) scol
                else sets.getOrElse(f.name, lit(null)))
        }, lit(null))
      val orphanVal = caseOver(col("__bact"),
        notMatchedBySource.zipWithIndex.collect {
          case (MergeUpdate(_, sets), i) => i -> sets.getOrElse(f.name, tcol)
        }, tcol)
      when(tEx && sEx, updatedVal)
        .when(tEx, orphanVal)
        .otherwise(insertedVal)
        .cast(f.dataType).as(f.name)
    }
    rewrite(spark, m, c, txn) { live =>
      // two-sided join under the prefix namespace
      val t = live
        .select(m.schema.fieldNames.toSeq.map(n => col(n).as(s"__t_$n")): _*)
        .withColumn("__t_ex", lit(true))
      t.join(s, keys.map(k => col(s"__t_$k") === col(s"__s_$k")).reduce(_ && _),
          "full_outer")
        .withColumn("__mact", when(tEx && sEx, firstMatch(matched)).otherwise(lit(-1)))
        .withColumn("__nact", when(!tEx && sEx, firstMatch(notMatched)).otherwise(lit(-1)))
        .withColumn("__bact", when(tEx && !sEx, firstMatch(notMatchedBySource))
          .otherwise(lit(-1)))
        .filter(keepRow).select(outCols: _*)
    }
  }

  /** DELETE of the rows where `predicate` is TRUE (NULL keeps the row —
    * SQL DELETE semantics), candidates pruned by the predicate's folded
    * stats bounds ([[predicateCandidates]]). Copy-on-write rewrites the
    * candidates with the predicate's complement; merge-on-read
    * tombstones the matching live rows and appends nothing.
    */
  def deleteWhere(spark: SparkSession, predicate: org.apache.spark.sql.Column,
      mergeOnRead: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val m = pinForWrite("deleteWhere")
    val c = predicateCandidates(spark, m, predicate)
    val hit = coalesce(predicate, lit(false))
    if (mergeOnRead) tombstone(spark, m, c, None)(_.filter(hit), (_, _) => None)
    else rewrite(spark, m, c, None)(_.filter(not(hit)))
  }

  /** UPDATE: rows where `predicate` is TRUE get the `assignments`
    * applied (SQL semantics — NULL predicate leaves the row unchanged),
    * candidates pruned exactly like [[deleteWhere]]. Assignment values
    * may reference any table column (they resolve against the
    * candidates' scan). Updating a PARTITION column is supported —
    * re-staging is hive-partitioned, so changed rows physically move to
    * their new partition directory.
    *
    * Merge-on-read tombstones the matching live rows and appends their
    * post-assignment images: the change feed emits the honest
    * delete(old image) + insert(new image). No match commits an honest
    * empty version (the orphan sidecar is vacuum's). Assignments must
    * be deterministic under MoR (matched rows are scanned once for
    * positions and once for images — a `rand()` would tombstone one row
    * and insert a different one).
    */
  def updateWhere(spark: SparkSession, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      mergeOnRead: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "SnapshotStore.updateWhere: no assignments")
    val m = pinForWrite("updateWhere")
    assignments.keys.foreach(k => require(m.schema.fieldNames.contains(k),
      s"SnapshotStore.updateWhere: no column '$k' in ${m.schema.fieldNames.mkString(", ")}"))
    val c = predicateCandidates(spark, m, predicate)
    val hit = coalesce(predicate, lit(false))
    // every table column, an assigned one through `assign(column, value)`
    def assigned(assign: (String, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      m.schema.fields.toSeq.map(f => assignments.get(f.name) match {
        case Some(value) => assign(f.name, value.cast(f.dataType)).as(f.name)
        case None => col(f.name)
      })
    if (mergeOnRead) tombstone(spark, m, c, None)(_.filter(hit),
      (rows, anyHit) => Option.when(anyHit)(rows.select(assigned((_, v) => v): _*)))
    else rewrite(spark, m, c, None)(
      _.select(assigned((n, v) => when(hit, v).otherwise(col(n))): _*))
  }

  /** Spec hook: runs between a row-level op's staging (files written,
    * DV sidecar landed) and its first publish attempt — the window
    * where a real deployment's racing commits interleave. Lets the
    * rebase/loud-loser paths be tested DETERMINISTICALLY (a
    * CyclicBarrier here makes two concurrent ops read the same pinned
    * version and then race the CAS). No-op in production.
    */
  private[etl] var onRowOpStaged: () => Unit = () => ()

  /** Row-op step 5: publish with CONFLICT GRANULARITY — the second
    * half of optimistic concurrency for DML, mirroring what
    * [[compactLatest]] does for maintenance.
    *
    * On losing the CAS, diff the new latest against the pinned version
    * and REBASE iff all of:
    *   - partition layout unchanged and the schema unchanged or purely
    *     WIDENED (racer `ADD COLUMNS`: old rows are null there, and the
    *     staged files null-pad identically, so republishing is exact);
    *   - the stats property unchanged (added-file conflict checks read
    *     it);
    *   - every file this op REWROTE (CoW) or TOMBSTONED (DV add) is
    *     still present with a DV set identical to the pinned one — the
    *     racers were appends or row-level ops over OTHER files;
    *   - no racer-ADDED file could hold rows this op's keys/predicate
    *     would have read (`conflictsWithAdded` over manifest stats —
    *     the manifest-terms version of Delta's read-predicate check;
    *     a stats-less added file conservatively conflicts).
    * The rebased publish is (latest − removedPaths) with the DV
    * additions applied, plus the staged files. Anything else keeps
    * today's loud failure — re-decide against the new state.
    */
  private def publishRowOp(
      pinned: Manifest,
      removedPaths: Set[String],
      dvAdds: Map[String, String],
      staged: Seq[FileEntry],
      txn: Option[(String, Long)],
      conflictsWithAdded: Seq[FileEntry] => Seq[FileEntry]): Long = {
    onRowOpStaged() // spec hook: deterministic racing-commit injection
    val pinnedVersion = pinned.version
    var attempt = 0
    while (true) {
      attempt += 1
      val lv = latestVersion.get // >= pinned: versions never vanish from the top
      val latest = if (lv == pinnedVersion) pinned else readFullManifest(lv)
      if (lv != pinnedVersion) {
        if (latest.partCols != pinned.partCols)
          throw new ConcurrentCommitException(
            s"SnapshotStore: table partitioning changed " +
              s"(${pinned.partCols.mkString(",")} -> ${latest.partCols.mkString(",")}) " +
              s"while this row-level op ran against version $pinnedVersion — " +
              s"re-run against version $lv", retryable = false)
        val widened = pinned.schema.fields.forall(pf =>
          latest.schema.fields.exists(lf => lf.name == pf.name &&
            DataType.equalsIgnoreNullability(lf.dataType, pf.dataType)))
        if (!widened)
          throw new ConcurrentCommitException(
            s"SnapshotStore: table schema changed incompatibly while this " +
              s"row-level op ran against version $pinnedVersion — re-run " +
              s"against version $lv", retryable = false)
        if (latest.statsColumn != pinned.statsColumn)
          throw new ConcurrentCommitException(
            s"SnapshotStore: the stats property changed while this row-level " +
              s"op ran against version $pinnedVersion — re-run against " +
              s"version $lv", retryable = false)
        val latestByPath = latest.entries.map(e => e.path -> e).toMap
        val pinnedByPath = pinned.entries.map(e => e.path -> e).toMap
        val touched = removedPaths ++ dvAdds.keySet
        val gone = touched.filterNot(p =>
          latestByPath.get(p).exists(e =>
            pinnedByPath.get(p).exists(_.dv == e.dv)))
        if (gone.nonEmpty)
          throw new ConcurrentCommitException(
            s"SnapshotStore: ${gone.size} of the files this row-level op " +
              s"rewrote/tombstoned from version $pinnedVersion were removed " +
              s"or re-tombstoned by a concurrent commit (latest $lv; first: " +
              s"${gone.head}) — the op's row set is stale, re-run against " +
              "the new table state", retryable = false)
        val pinnedPaths = pinned.entries.map(_.path).toSet
        val added = latest.entries.filterNot(e => pinnedPaths.contains(e.path))
        val conflicting = conflictsWithAdded(added)
        if (conflicting.nonEmpty)
          throw new ConcurrentCommitException(
            s"SnapshotStore: a concurrent commit added ${conflicting.length} " +
              s"file(s) whose stats range this op's keys/predicate would have " +
              s"read (first: ${conflicting.head.path}) — rebasing could " +
              "produce duplicate or missed rows; re-run against the new " +
              "table state", retryable = false)
      }
      val entries = latest.entries.flatMap { e =>
        if (removedPaths.contains(e.path)) None
        else dvAdds.get(e.path) match {
          case Some(dv) => Some(e.copy(dv = e.dv :+ dv))
          case None => Some(e)
        }
      } ++ staged
      try {
        return publishEntries(entries, latest.schema, latest.statsColumn, txn,
          expectedVersion = Some(lv + 1L), partCols = latest.partCols,
          prev = Some(latest))
      } catch {
        case e: ConcurrentCommitException if !e.retryable => throw e
        case e: ConcurrentCommitException =>
          if (attempt >= 8) throw new ConcurrentCommitException(
            s"SnapshotStore: row-level op lost the commit race $attempt " +
              s"times at $root — giving up (${e.getMessage})")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Candidates of a PREDICATE op (DELETE / UPDATE): resolve the user's
    * Column against the table schema (a no-data analysis pass), fold
    * its conjuncts into one [lo, hi] interval per STATS COLUMN —
    * primary and secondary alike — and keep a file only if EVERY
    * recorded interval intersects. With a comma-list stats property
    * this prunes on all clustered dimensions at once (the z-order
    * payoff at the DML layer); files missing stats for a column
    * conservatively survive that column's test. Point-set skipping on
    * the BLOOM column composes: a scattered point delete/update skips
    * every file whose filter says the value cannot be there. A
    * racer-added file passing the same test would have been a
    * candidate too — rebasing past it would miss its matching rows.
    */
  private def predicateCandidates(spark: SparkSession, m: Manifest,
      predicate: org.apache.spark.sql.Column): Candidates = {
    val cols = statsParts(m.statsColumn)
    if (cols.isEmpty && m.bloomColumn.isEmpty) return Candidates(m.entries, identity)
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], m.schema).filter(predicate)
    val conds = probe.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    val boundsByCol = cols.map(c => c -> predicateBounds(c, conds)).toMap
    def intervalOf(e: FileEntry, c: String): Option[(Long, Long)] =
      if (c == cols.head) e.min.zip(e.max)
      else e.extra.collectFirst { case (`c`, mn, mx) => (mn, mx) }
    val bloomHs = m.bloomColumn.flatMap(Bloom.pointHashes(_, conds))
    val keep = (e: FileEntry) =>
      cols.forall(c => intervalOf(e, c).forall { case (mn, mx) =>
        val (lo, hi) = boundsByCol(c); mx >= lo && mn <= hi
      }) && bloomHs.forall(bloomKeep(e, _))
    Candidates(m.entries.filter(keep), _.filter(keep))
  }

  /** Fold resolved predicate conjuncts that constrain `column` into one
    * closed [lo, hi] interval — the delete-side twin of the format
    * FileIndex's planning-time fold. Foldable operands (literals,
    * coercion casts of literals) evaluate to their internal int/long
    * encoding — the same encoding the parquet footers recorded (days
    * for dates, micros for timestamps). Anything unrecognized
    * (disjunctions, other columns, non-foldable operands) widens
    * conservatively toward (-inf, +inf): pruning may miss, it never
    * lies.
    */
  private def predicateBounds(column: String,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions._
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def lit(e: Expression): Option[Long] =
      if (!e.foldable) None
      else e.eval(null) match {
        case x: Long => Some(x)
        case x: Int => Some(x.toLong)
        case x: Short => Some(x.toLong)
        case x: Byte => Some(x.toLong)
        case _ => None
      }
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case _ => false
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, x) if isCol(a) => lit(x).foreach { y => lo = lo max y; hi = hi min y }
      case EqualTo(x, a) if isCol(a) => lit(x).foreach { y => lo = lo max y; hi = hi min y }
      case GreaterThan(a, x) if isCol(a) => lit(x).foreach(y => lo = lo max (y + 1))
      case GreaterThanOrEqual(a, x) if isCol(a) => lit(x).foreach(y => lo = lo max y)
      case LessThan(a, x) if isCol(a) => lit(x).foreach(y => hi = hi min (y - 1))
      case LessThanOrEqual(a, x) if isCol(a) => lit(x).foreach(y => hi = hi min y)
      case GreaterThan(x, a) if isCol(a) => lit(x).foreach(y => hi = hi min (y - 1))
      case GreaterThanOrEqual(x, a) if isCol(a) => lit(x).foreach(y => hi = hi min y)
      case LessThan(x, a) if isCol(a) => lit(x).foreach(y => lo = lo max (y + 1))
      case LessThanOrEqual(x, a) if isCol(a) => lit(x).foreach(y => lo = lo max y)
      case In(a, vs) if isCol(a) && vs.nonEmpty =>
        val xs = vs.flatMap(lit)
        if (xs.length == vs.length) { lo = lo max xs.min; hi = hi min xs.max }
      case _ => () // unrecognized: no pruning from it
    }
    preds.map(SnapshotStore.inlineReplaceable).foreach(walk)
    (lo, hi)
  }

  /** Stats-column values as the manifest's long encoding (date → days,
    * timestamp → micros — the same physical encoding the parquet
    * footers recorded).
    */
  private def toStatsLong(v: Any): Long = v match {
    case x: Long => x
    case x: Int => x.toLong
    case x: Short => x.toLong
    case x: Byte => x.toLong
    case x: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(x).toLong
    case x: java.time.LocalDate =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(x).toLong
    case x: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(x)
    case x: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(x)
    case other => throw new IllegalArgumentException(
      s"SnapshotStore: stats column value $other is not an integer-encodable type")
  }

  /** CONVERT-in-place (Delta's CONVERT TO DELTA): adopt the parquet
    * files ALREADY under `data/` into versioned management with ZERO
    * rewrite — list them, optionally collect footer stats, publish the
    * inventory as version 0. From then on every commit/read/feed/DML
    * behaves as if the table had been born managed; the adopted files
    * are generation zero. Hive-style `col=value` layouts adopt as
    * partitioned tables when `partitionBy` names the columns (every
    * file must carry all of them in its path — a missing segment is a
    * malformed lake, refused loudly). Only an EMPTY store may adopt:
    * converting over existing history is a decision vacuum+overwrite
    * already expresses.
    */
  def convertInPlace(spark: SparkSession, statsColumn: Option[String] = None,
      partitionBy: Seq[String] = Nil): Long = {
    require(latestVersion.isEmpty,
      s"SnapshotStore.convertInPlace: store at $root already has versions " +
        s"${versions.mkString(",")} — adoption is for unmanaged directories")
    require(Files.isDirectory(dataDir),
      s"SnapshotStore.convertInPlace: no data/ directory under $root to adopt")
    val walk = Files.walk(dataDir)
    val paths = try {
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => rootPath.relativize(p).toString)
        .toSeq.sorted
    } finally walk.close()
    require(paths.nonEmpty,
      s"SnapshotStore.convertInPlace: no parquet files under $dataDir")
    partitionBy.foreach { c =>
      val missing = paths.filterNot(_.split('/').exists(_.startsWith(c + "=")))
      require(missing.isEmpty,
        s"SnapshotStore.convertInPlace: ${missing.length} files lack a '$c=' " +
          s"path segment (first: ${missing.headOption.getOrElse("")}) — " +
          "not a hive-partitioned layout")
    }
    // schema from the files themselves (footer-merged), partition
    // columns appended from the declared layout in the normalized
    // (data-then-partition) order
    val fileSchema = spark.read
      .parquet(paths.map(p => rootPath.resolve(p).toString): _*).schema
    val schema =
      if (partitionBy.isEmpty) fileSchema
      else {
        // infer each partition column's type from its observed values:
        // all-long → long, else string (the conservative hive default)
        val asLong = partitionBy.map { c =>
          val vals = paths.map(p => partitionTupleOf(p, Seq(c)).head).distinct
          c -> vals.forall(v => v != SnapshotStore.HiveNullPartition &&
            scala.util.Try(v.toLong).isSuccess)
        }.toMap
        StructType(fileSchema.fields ++ partitionBy.map(c =>
          org.apache.spark.sql.types.StructField(c,
            if (asLong(c)) LongType else StringType)))
      }
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = statsParts(statsColumn) match {
      case Seq() => paths.map(p => FileEntry(p, None, None, bytes = stagedBytes(p)))
      case cols =>
        cols.foreach(c => require(!partitionBy.contains(c),
          s"SnapshotStore.convertInPlace: stats column '$c' cannot be a partition column"))
        paths.map(rel => entryWithStats(rel, cols, conf))
    }
    publishEntries(entries, schema, statsColumn, partCols = partitionBy,
      expectedVersion = Some(0L), mappingOverride = Some((Map.empty, Nil)))
  }

  /** CONVERT FROM DELTA: adopt an existing Delta Lake table — the
    * reference's actual at-rest RAW format (`sync.py:112-114` writes
    * `format("delta")`) and therefore the first table a migrating user
    * points this engine at — as a ZERO-COPY version 0. The public
    * Delta transaction-log protocol is replayed read-only by
    * [[DeltaConvert.replay]] (JSON actions + parquet checkpoint →
    * reconciled live file list + schema + partition columns) and the
    * files are published by ABSOLUTE path, exactly the
    * [[cloneFrom]] shape: the Delta table is never touched, its
    * history stays intact, and this store's history begins
    * independently at the adopted state. Live DELETION VECTORS — the
    * modern Databricks default for DELETE/UPDATE — are decoded from
    * the public DV format ([[DeltaDv]]) and TRANSLATED into one native
    * position-list sidecar under THIS store's root, so the adopted
    * table reads its live rows exactly (merge-on-read, O(tombstones));
    * the translation is driver-side and bounded by the table's
    * tombstone count, the same order as replaying the log itself.
    * Remaining unsupported reader features (column mapping handled
    * separately, v2 checkpoints, type widening) are refused loudly
    * inside the replay. `statsColumn` triggers the same
    * footer-stats collection as [[convertInPlace]]; partitioned
    * tables adopt when the files use the hive `col=value` layout
    * Delta's writers produce (a flat layout carries partition values
    * only in log actions this manifest cannot hold — refused).
    * `versionAsOf` adopts the table AS OF an historical Delta version
    * (CLONE ... VERSION AS OF semantics): the replay simply stops
    * there, provided the log still covers it.
    */
  def convertFromDelta(spark: SparkSession, deltaRoot: String,
      statsColumn: Option[String] = None,
      versionAsOf: Option[Long] = None): Long = {
    require(latestVersion.isEmpty,
      s"SnapshotStore.convertFromDelta: store at $root already has versions " +
        s"${versions.mkString(",")} — adoption births a NEW store")
    val st = DeltaConvert.replay(spark, deltaRoot, versionAsOf)
    val deltaPath = Paths.get(deltaRoot).toAbsolutePath.normalize
    require(deltaPath != rootPath.normalize,
      "SnapshotStore.convertFromDelta: the store root cannot be the Delta " +
        "table itself — adopt into a fresh directory (files are referenced, " +
        "not copied)")
    require(st.files.nonEmpty,
      s"SnapshotStore.convertFromDelta: Delta table at $deltaRoot has no " +
        "live files")
    st.partitionColumns.foreach { c =>
      require(st.schema.fieldNames.contains(c),
        s"SnapshotStore.convertFromDelta: partition column '$c' missing " +
          "from the table schema — corrupt metaData")
      // the manifest's partition machinery decodes path values into
      // these types only; a timestamp/decimal-partitioned Delta table
      // must be refused, not adopted into wrong decodes
      st.schema(c).dataType match {
        case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
             _: StringType | _: DateType | _: BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"SnapshotStore.convertFromDelta: partition column '$c' has " +
            s"unsupported type ${other.simpleString} — supported: " +
            "byte/short/int/long/string/date/boolean")
      }
      // a column-mapped table's directories use the PHYSICAL name —
      // accept either (partitionTupleOf decodes both)
      val names = Seq(c) ++ st.colMap.get(c).filterNot(_ == c)
      val missing = st.files.map(_.path).filterNot(p =>
        p.split('/').exists(s => names.exists(n => s.startsWith(n + "="))))
      require(missing.isEmpty,
        s"SnapshotStore.convertFromDelta: ${missing.length} files lack a " +
          s"'${names.map(_ + "=").mkString("'/'")}' path segment " +
          s"(first: ${missing.headOption.getOrElse("")}) — " +
          "non-hive layouts carry partition values only in the Delta log " +
          "and cannot adopt zero-copy")
    }
    // data columns first, partition columns last — the normalized order
    // every read path and partitioned append of this store assumes
    val schema =
      if (st.partitionColumns.isEmpty) st.schema
      else StructType(
        st.schema.fields.filterNot(f => st.partitionColumns.contains(f.name)) ++
          st.partitionColumns.map(c => st.schema(c)))
    val conf = spark.sparkContext.hadoopConfiguration
    val cols = statsParts(statsColumn)
    cols.foreach(c => require(!st.partitionColumns.contains(c),
      s"SnapshotStore.convertFromDelta: stats column '$c' cannot be a " +
        "partition column"))
    // translate the live deletion vectors into ONE native position-list
    // sidecar under this store's root: same merge-on-read semantics,
    // same O(tombstones) scan cost, and the adopted store owns the
    // sidecar's lifecycle (the Delta table stays untouched)
    val dvRows: Seq[(String, Long)] = st.files.flatMap { f =>
      val abs = deltaPath.resolve(f.path).toString
      f.dvPositions.map(p => (abs, p))
    }
    val dvRel: Option[String] =
      if (dvRows.isEmpty) None
      else {
        import spark.implicits._
        Some(writeDvSidecar(spark,
          dvRows.toDF("file", "pos").coalesce(1))._1)
      }
    val entries = st.files.map { f =>
      val abs = deltaPath.resolve(f.path).toString
      require(Files.isRegularFile(Paths.get(abs)),
        s"SnapshotStore.convertFromDelta: log references missing file " +
          s"${f.path} — vacuumed or partially copied table")
      val dv = if (f.dvPositions.isEmpty) Nil else dvRel.toSeq
      val base = cols match {
        case Seq() => FileEntry(abs, None, None, bytes = f.bytes)
        case cs =>
          val e = entryWithStats(abs, cs, conf, st.colMap)
          if (e.bytes.isEmpty) e.copy(bytes = f.bytes) else e
      }
      base.copy(dv = dv)
    }
    // a name-mapped table adopts its logical→physical mapping into the
    // store's own colMap — reads resolve logical names, files keep
    // their physical ones, later renames chain on top
    publishEntries(entries, schema, statsColumn,
      partCols = st.partitionColumns, expectedVersion = Some(0L),
      mappingOverride = Some((st.colMap, Nil)))
  }

  /** EXPORT TO DELTA: write a Delta Lake transaction log
    * (`_delta_log/`) beside this store's own manifests so STOCK Delta
    * readers can consume the table in place — the write-side interop
    * twin of [[convertFromDelta]], closing the round trip for
    * downstream consumers that still read the reference's RAW zone
    * with a Delta client (`sync.py:112-114`). Public protocol only
    * ([[DeltaExport]]): no Delta library involved.
    *
    * Every surviving store version `v` exports as Delta version `v` —
    * time travel carries over. The mapping per version: file-set diff
    * → `add`/`remove` actions (an entry whose DV set changed re-adds
    * with the new descriptor, Delta's newest-add-wins); native
    * position-list DVs → Delta roaring descriptors (inline when
    * small); column mapping → name-mode field metadata; `rewrite`
    * commits → `dataChange: false`. `protocol` and `metaData` are
    * emitted in EVERY exported commit — spec-legal (newest wins), and
    * it makes re-export stateless and idempotent. A store whose oldest
    * surviving version is > 0 (vacuumed) exports a classic CHECKPOINT
    * there — exactly what Delta's own log retention produces.
    *
    * INCREMENTAL by construction: an existing `_delta_log` is extended
    * from its newest version — call again after commits to mirror them
    * (O(new versions), never a rewrite). Guards: a store referencing
    * EXTERNAL files (un-materialized clone or adoption) refuses —
    * `compactLatest` first (a Delta log must be self-contained);
    * CHECK constraints do not travel (documented, Delta expresses
    * them as writer-enforced configuration this export does not
    * claim). Vacuuming this store later deletes files old exported
    * versions reference — the same retention trade stock Delta makes.
    *
    * Returns the newest exported Delta version.
    *
    * `changeDataFeed = true` exports the store's CHANGE FEED as Delta
    * CDF: `delta.enableChangeDataFeed=true` in the metadata, the
    * `changeDataFeed` writer capability in the protocol, and for every
    * exported commit with row-level changes a `cdc` action referencing
    * a `_change_data/` parquet rendered from [[readChanges]] (per
    * partition tuple; physical column names under mapping) — so stock
    * Delta CDF readers (`table_changes`) consume the store's own
    * delete/insert algebra. Append-only commits carry no cdc action
    * (the protocol derives inserts from dataChange adds); rewrites
    * derive "no change" from dataChange=false; a checkpoint-bridged
    * gap carries no cdc (same retention trade as the checkpoint
    * itself — CDF readers start after it).
    */
  def exportToDelta(spark: SparkSession): Long =
    exportToDelta(spark, changeDataFeed = false)

  def exportToDelta(spark: SparkSession, changeDataFeed: Boolean): Long = {
    val all = versions
    require(all.nonEmpty,
      s"SnapshotStore.exportToDelta: no committed versions at $root")
    // export the self-contained SUFFIX of history: versions referencing
    // files outside this root (un-materialized adoption or clone
    // prefix) cannot enter a Delta log; once a compaction materializes
    // the table, everything from there on exports. External refs can
    // only be a prefix (adoption/clone birth an EMPTY store), so the
    // suffix is contiguous; the LATEST version must qualify or there
    // is nothing honest to export.
    def selfContained(v: Long): Boolean = {
      val m = readFullManifest(v)
      m.entries.forall(e => !Paths.get(e.path).isAbsolute &&
        e.dv.forall(d => !Paths.get(d).isAbsolute))
    }
    require(selfContained(all.last),
      s"SnapshotStore.exportToDelta: the latest version references files " +
        "outside this store (shallow clone or adoption) — a Delta log " +
        "must be self-contained; compactLatest first to materialize")
    val vs = all.reverse.takeWhile(selfContained).reverse
    val logDir = rootPath.resolve("_delta_log")
    val JsonFile = """(\d{20})\.json""".r
    val CkptFile = """(\d{20})\.checkpoint(\..*)?\.parquet""".r
    val already: Long =
      if (!Files.isDirectory(logDir)) -1L
      else {
        val s = Files.list(logDir)
        val names = try s.iterator().asScala.map(_.getFileName.toString).toVector
        finally s.close()
        (names.collect { case JsonFile(v) => v.toLong } ++
          names.collect { case CkptFile(v, _) => v.toLong })
          .reduceOption(_ max _).getOrElse(-1L)
      }
    val todo = vs.filter(_ > already)
    if (todo.isEmpty) return already
    Files.createDirectories(logDir)
    // deterministic table id: stable across incremental exports
    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft-delta-export:" + rootPath.normalize.toString).getBytes("UTF-8"))
    // positions per (sidecar, file), loaded once per sidecar — bounded
    // by the table's tombstone count (merge-on-read is for scattered
    // small deltas; bulk deletes are copy-on-write)
    val dvCache = scala.collection.mutable.Map[String, Map[String, Array[Long]]]()
    def positionsFor(e: FileEntry): Array[Long] =
      e.dv.flatMap { rel =>
        dvCache.getOrElseUpdate(rel,
          spark.read.parquet(rootPath.resolve(rel).toString)
            .select("file", "pos").collect()
            .groupBy(_.getString(0))
            .map { case (f, rs) => f -> rs.map(_.getLong(1)) })
          .getOrElse(e.path, Array.empty[Long])
      }.distinct.sorted.toArray
    def pvFor(m: Manifest, e: FileEntry): Seq[(String, Option[String])] = {
      require(!Paths.get(e.path).isAbsolute,
        s"SnapshotStore.exportToDelta: entry ${e.path} references a file " +
          "outside this store (shallow clone or adoption) — a Delta log " +
          "must be self-contained; compactLatest first to materialize")
      m.partCols.map { c =>
        val v = partitionTupleOf(e.path, Seq(c), m.colMap).head
        // partitionValues keys use the PHYSICAL name under column
        // mapping — the convention Delta's own writers follow
        m.colMap.getOrElse(c, c) ->
          (if (v == SnapshotStore.HiveNullPartition) None else Some(v))
      }
    }
    def addFor(m: Manifest, e: FileEntry): String = {
      val dv = if (e.dv.isEmpty) None else {
        val ps = positionsFor(e)
        if (ps.isEmpty) None else Some(DeltaExport.dvDescriptor(rootPath, ps))
      }
      DeltaExport.addLine(e.path, pvFor(m, e),
        e.bytes.orElse(stagedBytes(e.path)).getOrElse(0L),
        m.ts.getOrElse(0L), dataChange = !m.rewrite, dv)
    }
    todo.foreach { v =>
      val m = readFullManifest(v)
      val header = Seq(
        DeltaExport.protocolLine(
          dv = m.entries.exists(_.dv.nonEmpty), mapping = m.colMap.nonEmpty,
          cdf = changeDataFeed),
        DeltaExport.metaLine(tableId, m.schema, m.partCols, m.colMap,
          m.ts.getOrElse(0L), cdf = changeDataFeed))
      if (v == todo.head && v > 0 && v != already + 1) {
        // no clean diff base at the log tip (vacuumed prefix on a fresh
        // export, or a vacuum ate versions past the exported tip and
        // left a numbering gap): the first exported version must be
        // self-contained — a classic checkpoint, exactly what Delta's
        // own log retention produces (readers start at the newest
        // complete checkpoint; gaps before it are expected). Written
        // under the protocol's FIXED action schema (partitionValues as
        // map<string,string>, checkpoint dataChange=false) — JSON
        // inference over the rendered lines would struct-type the
        // partition map and break stock checkpoint readers.
        val rows: Seq[org.apache.spark.sql.Row] = Seq(
          DeltaExport.ckptRow(protocol = DeltaExport.protocolRow(
            dv = m.entries.exists(_.dv.nonEmpty),
            mapping = m.colMap.nonEmpty, cdf = changeDataFeed)),
          DeltaExport.ckptRow(meta = DeltaExport.metaRow(tableId, m.schema,
            m.partCols, m.colMap, m.ts.getOrElse(0L),
            cdf = changeDataFeed))) ++
          m.entries.map { e =>
            val dvF = if (e.dv.isEmpty) None else {
              val ps = positionsFor(e)
              if (ps.isEmpty) None
              else Some(DeltaExport.dvDescriptorFields(rootPath, ps))
            }
            DeltaExport.ckptRow(add = DeltaExport.addRow(e.path, pvFor(m, e),
              e.bytes.orElse(stagedBytes(e.path)).getOrElse(0L),
              m.ts.getOrElse(0L), dvF))
          }
        val stage = Files.createTempDirectory("graft-delta-ckpt")
        spark.createDataFrame(rows.asJava, DeltaExport.checkpointSchema)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val it = Files.list(stage)
        val part = try it.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally it.close()
        Files.move(part, logDir.resolve(f"$v%020d.checkpoint.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.write(logDir.resolve("_last_checkpoint"),
          s"""{"version":$v,"size":${rows.length}}""".getBytes("UTF-8"))
      } else {
        // diff base: the prior manifest when it survives; when vacuum
        // dropped already-exported versions, the exported log itself
        // (replayed, metadata-only) — otherwise stale files would stay
        // live in the Delta view
        val fromManifest = vs.contains(v - 1)
        val prevByPath: Map[String, FileEntry] =
          if (fromManifest)
            readFullManifest(v - 1).entries.map(e => e.path -> e).toMap
          else Map.empty
        val prevLive: Set[String] =
          if (fromManifest) prevByPath.keySet
          else if (v == todo.head && v == already + 1 && already >= 0)
            // metadata-only: the diff needs live PATHS, never tombstones
            DeltaConvert.replay(spark, rootPath.toString, decodeDvs = false)
              .files.map(_.path).toSet
          else Set.empty
        val curPaths = m.entries.map(_.path).toSet
        val removes = prevLive.filterNot(curPaths.contains).toSeq.sorted
          .map(p => DeltaExport.removeLine(p, m.ts.getOrElse(0L),
            dataChange = !m.rewrite))
        // re-add when new, when the DV set changed (Delta
        // newest-add-wins), or when the diff base is the replayed log
        // (re-adding an identical file is spec-legal and harmless)
        val adds = m.entries.filter(e =>
          if (!fromManifest) true
          else prevByPath.get(e.path) match {
            case None => true
            case Some(pe) => pe.dv != e.dv
          }).map(e => addFor(m, e))
        // CDF: a commit whose diff goes beyond pure new-file adds
        // (shrinking file set, or a DV grew) is NOT derivable from
        // add/remove dataChange — render the feed's own rows as cdc
        val dvChanged = fromManifest && m.entries.exists(e =>
          prevByPath.get(e.path).exists(pe => pe.dv != e.dv))
        val cdc: Seq[String] =
          if (!changeDataFeed || !fromManifest || m.rewrite) Nil
          else if (removes.isEmpty && !dvChanged) Nil
          else writeCdcFiles(spark, v, m)
        val tmpF = logDir.resolve(f".$v%020d.json.tmp")
        Files.write(tmpF, (header ++ cdc ++ removes ++ adds)
          .mkString("", "\n", "\n").getBytes("UTF-8"))
        Files.move(tmpF, logDir.resolve(f"$v%020d.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    todo.last
  }

  /** One commit's CHANGE DATA files for the CDF export: the store's
    * own feed for `(v-1, v]`, one parquet per partition tuple (data
    * columns under their PHYSICAL names + `_change_type`, partition
    * values on the `cdc` action — mirroring the data files' own
    * encoding), deterministically named so re-export overwrites
    * instead of orphaning. Returns the rendered `cdc` action lines.
    */
  private def writeCdcFiles(spark: SparkSession, v: Long,
      m: Manifest): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val changes = readChanges(spark, v - 1, Some(v))
      .drop("_commit_version").cache()
    try {
      val dataCols = m.schema.fieldNames.filterNot(m.partCols.contains).toSeq
      def phys(c: String) = m.colMap.getOrElse(c, c)
      val tuples: Seq[Seq[String]] =
        if (m.partCols.isEmpty) Seq(Nil)
        else changes.select(m.partCols.map(col): _*).distinct().collect()
          .map(_.toSeq.map(x =>
            if (x == null) null else String.valueOf(x)).toSeq).toSeq
      tuples.sortBy(t => t.map(String.valueOf).mkString("/")).zipWithIndex
        .map { case (tuple, i) =>
          val slice =
            if (m.partCols.isEmpty) changes
            else m.partCols.zip(tuple).foldLeft(changes) {
              case (df, (c, tv)) =>
                if (tv == null) df.filter(col(c).isNull)
                else df.filter(col(c).cast("string") === tv)
            }
          val out = slice.select(dataCols.map(c => col(c).as(phys(c))) :+
            col("_change_type"): _*)
          val rel = f"_change_data/cdc-$v%020d-$i%05d.parquet"
          val stage = Files.createTempDirectory("graft-cdc")
          out.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val it = Files.list(stage)
          val part = try it.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally it.close()
          val dst = rootPath.resolve(rel)
          Files.createDirectories(dst.getParent)
          Files.move(part, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          val pv = m.partCols.zip(tuple).map { case (c, tv) =>
            m.colMap.getOrElse(c, c) -> Option(tv) }
          DeltaExport.cdcLine(rel, pv, Files.size(dst))
        }
    } finally changes.unpersist()
  }

  /** RESTORE: republish version `toVersion`'s exact file list as the
    * NEXT version — the table's state rolls back (or forward) with
    * ZERO data copying, because files are immutable and the manifest
    * owns visibility (Delta's RESTORE semantics). dataChange = true:
    * rows visibly changed versus the current version, so the change
    * feed emits the honest file-set diff (current-only files out,
    * restored-only files in; files live in both manifests never move).
    * History is preserved — the undone versions remain readable until
    * [[vacuum]], and vacuum keeps any file a KEPT manifest references,
    * including re-referenced restored files. CAS-pinned: a commit
    * racing the restore fails it loudly (restoring over a state nobody
    * decided on is how rollbacks eat data).
    */
  def restore(toVersion: Long): Long = restoreImpl(toVersion, None)

  def restore(spark: SparkSession, toVersion: Long): Long =
    restoreImpl(toVersion, Some(spark))

  /** CHECK constraints are INHERITED across every commit shape —
    * including this one — so a restore must prove the OLD version's
    * rows still satisfy the CURRENT constraint set (bad rows at v1,
    * cleaned at v2, constraint added at v3: RESTORE TO v1 would
    * otherwise republish the bad rows under a property that claims
    * them impossible). One DV-aware validation scan, exactly
    * [[addConstraint]]'s; a constraint that cannot even RESOLVE
    * against the restored schema (references a column the old version
    * lacks) is refused with the drop-it-first recipe. Tables without
    * constraints keep the zero-scan signature.
    */
  private def restoreImpl(toVersion: Long, spark: Option[SparkSession]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val latest = latestManifest("restore")
    val cur = latest.version
    require(toVersion != cur,
      s"SnapshotStore.restore: version $toVersion is already current")
    val m = readFullManifest(toVersion) // loud when vacuumed
    val constraints = latest.constraints
    if (constraints.nonEmpty) {
      val s = spark.getOrElse(throw new IllegalArgumentException(
        s"SnapshotStore.restore: this table declares CHECK constraints " +
          s"(${constraints.map(_._1).mkString(", ")}) — pass a SparkSession " +
          "(restore(spark, v)) so the restored rows can be re-validated"))
      constraints.foreach { case (name, check) =>
        val expr = org.apache.spark.sql.GraftExprBridge.column(
          s.sessionState.sqlParser.parseExpression(check))
        val violations =
          try read(s, Some(toVersion))
            .filter(not(coalesce(expr, lit(true)))).count()
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"SnapshotStore.restore: constraint '$name' CHECK ($check) " +
                  s"does not resolve against version $toVersion's schema " +
                  s"(${m.schema.fieldNames.mkString(", ")}) — drop the " +
                  s"constraint first (${e.getMessage})")
          }
        require(violations == 0L,
          s"SnapshotStore.restore: $violations rows of version $toVersion " +
            s"violate constraint '$name' CHECK ($check) — restoring would " +
            "republish data the table property claims impossible; drop the " +
            "constraint first or restore a different version")
      }
    }
    publishEntries(m.entries, m.schema, m.statsColumn,
      partCols = m.partCols, expectedVersion = Some(cur + 1L),
      // the restored version's COLUMN MAPPING describes its schema and
      // files — it travels with them; `retired` is grow-only, so the
      // current (superset) list is kept
      mappingOverride = Some((m.colMap, latest.retired)))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): birth
    * THIS (empty) store as a zero-copy fork of `source` at `version`
    * (default its latest) — ONE manifest commit referencing the
    * source's data files and DV sidecars by ABSOLUTE path, no data
    * movement at any table size. Schema, stats property, partition
    * layout, CHECK constraints and the column mapping all travel. From
    * then on the two histories are independent: the clone's
    * appends/DML/compaction stage under the CLONE's root and never
    * touch a source file (immutability — nobody rewrites in place),
    * and a FULL compaction of the clone rewrites every referenced file
    * locally, materializing it into a deep copy.
    *
    * The classic shallow-clone HAZARD — source VACUUM reclaiming files
    * a clone still reads — is CLOSED here, unlike Delta: every clone
    * registers a CLONE-OUT EDGE in the source's `clones/` ledger (one
    * tiny file per clone, O(1), grow-only, no manifest contention) and
    * [[vacuum]] refuses to delete a file a registered live clone still
    * references unless called with `force = true`. The pin is exact —
    * any still-reachable clone version counts — so it releases when the
    * clone's directory is deleted, or when the clone materializes
    * (compactLatest) AND vacuums away its source-referencing history;
    * either way the source's next vacuum self-cleans the ledger entry.
    */
  def cloneFrom(source: SnapshotStore, version: Option[Long] = None): Long = {
    require(latestVersion.isEmpty,
      s"SnapshotStore.cloneFrom: store at $root already has versions " +
        s"${versions.mkString(",")} — a clone births a NEW store")
    require(source.rootPath.normalize != rootPath.normalize,
      "SnapshotStore.cloneFrom: a store cannot clone itself (use restore " +
        "for in-place time travel)")
    val v = version.orElse(source.latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.cloneFrom: source has no committed versions"))
    // register the clone-out edge BEFORE publishing the clone's v0, so
    // a racing source vacuum can never observe the clone mid-birth
    // without its pin (an aborted publish leaves a ledger entry that
    // pins the pinned VERSION's files until removed — loud, never lossy).
    // The clone ROOT must exist before the ledger entry does:
    // cloneReferencedPaths treats a nonexistent clone directory as
    // "clone deleted" and self-cleans the entry, so registering first
    // would open exactly the birth-window race the ledger closes.
    Files.createDirectories(rootPath)
    source.registerCloneOut(rootPath.normalize.toString, v)
    val m = source.readFullManifest(v)
    def abs(rel: String): String = source.rootPath.resolve(rel).toString
    // FileEntry is store-inner (path-dependent): rebuild under THIS store
    val entries: Seq[FileEntry] = m.entries.map(e =>
      FileEntry(abs(e.path), e.min, e.max, e.dv.map(abs), e.extra, e.bytes,
        e.bloom))
    publishEntries(entries, m.schema, m.statsColumn,
      partCols = m.partCols, expectedVersion = Some(0L),
      constraintsOverride = Some(m.constraints),
      mappingOverride = Some((m.colMap, m.retired)),
      bloomOverride = Some(m.bloomColumn))
  }

  private val clonesDir: Path = rootPath.resolve("clones")

  /** One clone-out ledger entry: `<cloneRoot>\t<pinnedVersion>`.
    * Unique filename per registration (atomic move), so concurrent
    * clones never contend and the source's manifest log is untouched.
    */
  private def registerCloneOut(cloneRoot: String, version: Long): Unit = {
    val payload = s"$cloneRoot\t$version\n".getBytes("UTF-8")
    // the CAS result is load-bearing: a silently-dropped entry means a
    // later source vacuum reclaims files the clone references. An id
    // collision (stale leftover, nanoTime+random repeat) just retries
    // under a fresh id; only repeated failure is a real backend fault.
    val published = (0 until 3).exists { _ =>
      val id = java.lang.Long.toHexString(System.nanoTime()) + "-" +
        Integer.toHexString(scala.util.Random.nextInt(Int.MaxValue))
      backend.publishAtomic(clonesDir.resolve(s"$id.clone"), payload)
    }
    require(published,
      s"SnapshotStore.registerCloneOut: could not publish a clone-out " +
        s"ledger entry under $clonesDir after 3 attempts — without the " +
        "pin a source vacuum may reclaim the clone's files")
  }

  /** Data-file paths under THIS store's root that registered clones
    * still reference, resolved against the live clone stores — plus
    * ledger self-cleaning: entries whose clone directory is gone, or
    * whose clone no longer references any of our files (materialized
    * by compaction), are deleted. A ledger entry whose clone has no
    * committed versions yet (mid-birth or aborted publish) pins the
    * files of its recorded source VERSION — resolvable from our own
    * manifest without touching the clone.
    */
  private def cloneReferencedPaths(clean: Boolean = true): Map[Path, String] = {
    val refs = backend.list(clonesDir).filter(_.endsWith(".clone"))
      .map(clonesDir.resolve)
    val vs = versions.toSet
    refs.flatMap { ref =>
      val line = new String(backend.readBytes(ref), "UTF-8").trim
      val Array(cloneRoot, pinned) = line.split("\t", 2)
      if (!Files.isDirectory(Paths.get(cloneRoot))) {
        if (clean) backend.delete(ref) // clone deleted -> pin released
        Nil
      } else {
        val clone = new SnapshotStore(cloneRoot)
        val cloneVs = clone.versions
        if (cloneVs.isEmpty) {
          // mid-birth or aborted: pin the recorded source version's
          // files if we still hold that manifest; a ledger entry whose
          // version is already vacuumed away cannot be resolved -> pin
          // nothing here, the refusal message names the ref file
          if (vs.contains(pinned.toLong))
            readFullManifest(pinned.toLong).entries
              .map(e => rootPath.resolve(e.path).normalize -> cloneRoot)
          else Nil
        } else {
          val mine = cloneVs.flatMap(v => clone.readFullManifest(v).entries)
            .flatMap(e => Seq(e.path) ++ e.dv)
            .map(p => Paths.get(p).normalize)
            .filter(p => p.isAbsolute && p.startsWith(rootPath.normalize))
            .map(_ -> cloneRoot)
          if (mine.isEmpty && clean) backend.delete(ref) // materialized
          mine
        }
      }
    }.toMap
  }

  /** Highest streaming batch id committed into this table by `appId` —
    * the newest version carrying that app's `#txn` marker wins
    * (versions are serial, so a later manifest is a later commit).
    * Scoping by app is what lets TWO independent streams feed one table
    * without colliding idempotence ledgers (each query names its own
    * `txnAppId`, the Delta transaction-identifier idea).
    * O(versions-scanned-back) driver text reads; in steady state each
    * app's marker is near the tail.
    */
  def lastTxn(appId: String = "default"): Option[Long] =
    versions.reverseIterator
      .map(v => readHeader(v).txn) // O(header) per version, never the file list
      .collectFirst { case Some((app, id)) if app == appId => id }

  /** Name-based top-level schema merge for evolving appends: table
    * column order is preserved, genuinely new incoming columns go last
    * (stable order — readers see columns where they were), and any
    * field absent from one side is published nullable because some
    * generation of files will null-pad it.
    */
  private def mergeSchemas(table: StructType, incoming: StructType,
      atVersion: Long): StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val kept = table.fields.map { tf =>
      inByName.get(tf.name) match {
        case Some(inf) =>
          require(DataType.equalsIgnoreNullability(tf.dataType, inf.dataType),
            s"SnapshotStore.commitAppend(mergeSchema): column '${tf.name}' type " +
              s"conflict vs version $atVersion — table has ${tf.dataType.simpleString}, " +
              s"incoming ${inf.dataType.simpleString}; evolution adds columns, " +
              "it never coerces types")
          tf.copy(nullable = tf.nullable || inf.nullable)
        case None => tf.copy(nullable = true) // new files lack it -> null-padded
      }
    }
    val tableNames = table.fieldNames.toSet
    val added = incoming.fields.collect {
      case f if !tableNames.contains(f.name) => f.copy(nullable = true)
    } // old files lack it -> null-padded
    StructType(kept ++ added)
  }

  /** Assign PHYSICAL names for columns being added to an evolving
    * table: a name colliding (case-insensitively) with any current
    * physical, any current logical, or a RETIRED physical still present
    * in old data files gets a fresh `name__k` physical and a mapping
    * entry — otherwise re-adding a dropped column would read the old
    * column's values back out of the old files.
    */
  private def extendMapping(colMap: Map[String, String], retired: Seq[String],
      existing: StructType, added: Seq[String]): Map[String, String] = {
    if (added.isEmpty) return colMap
    var used = existing.fields.map(f =>
        colMap.getOrElse(f.name, f.name).toLowerCase).toSet ++
      existing.fieldNames.map(_.toLowerCase) ++ retired.map(_.toLowerCase)
    var out = colMap
    added.foreach { n =>
      val phys =
        if (!used.contains(n.toLowerCase)) n
        else Iterator.from(2).map(k => s"${n}__$k")
          .dropWhile(p => used.contains(p.toLowerCase)).next()
      used += phys.toLowerCase
      if (phys != n) out += (n -> phys)
    }
    out
  }

  /** Column names a constraint's CHECK text references (unresolved
    * attribute walk — no data touched). What RENAME/DROP COLUMN gate
    * on: a property whose text names the column must be dropped first,
    * or every later write fails at parse with a confusing error.
    */
  private def constraintRefs(spark: SparkSession,
      constraints: Seq[(String, String)]): Seq[(String, Set[String])] =
    constraints.map { case (n, text) =>
      val refs = spark.sessionState.sqlParser.parseExpression(text).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name.toLowerCase
      }.toSet
      (n, refs)
    }

  private def refuseReferenced(spark: SparkSession, m: Manifest,
      col: String, op: String): Unit = {
    require(!m.partCols.contains(col),
      s"SnapshotStore.$op: '$col' is a partition column — partition layout " +
        "is path metadata; rewrite the table (commitOverwrite) to change it")
    require(!statsParts(m.statsColumn).contains(col),
      s"SnapshotStore.$op: '$col' is a stats column — change the stats " +
        "property first (commitOverwrite/compactLatest with a new statsColumn)")
    constraintRefs(spark, m.constraints).foreach { case (n, refs) =>
      require(!refs.contains(col.toLowerCase),
        s"SnapshotStore.$op: constraint '$n' references '$col' — drop the " +
          "constraint first (ALTER TABLE ... DROP CONSTRAINT)")
    }
    // The bloom property names a LOGICAL column and per-file filters
    // hold that column's value hashes. Renaming it would leave the
    // property dangling (pruning silently off) and a rename chain that
    // re-binds the name (a->x, then y->a) would apply old files' blooms
    // to a DIFFERENT column's data — false-negative skips, wrong rows.
    // Refused like partition/stats/constraint columns: drop the
    // property first, then rename/drop, then re-set it.
    m.bloomColumn.foreach { bc =>
      require(!bc.equalsIgnoreCase(col),
        s"SnapshotStore.$op: '$col' is the bloom-filter column — drop the " +
          s"property first (setBloomFilter(None)), then $op, then re-set it")
    }
  }

  /** `ALTER TABLE ... RENAME COLUMN old TO new` — O(manifest), zero
    * file rewrites, via COLUMN MAPPING (Delta's 'name' mode idea): the
    * schema's logical name changes, the manifest records
    * `new → physical(old)`, files keep storing the physical name, and
    * every read path renames at scan time. Old versions time-travel
    * with their own names. Refused for partition/stats/constraint-
    * referenced columns (drop the property first — silently breaking a
    * property the table declares is how readers rot). Streams pin
    * their schema at start: a rename mid-stream needs a restart.
    */
  def renameColumn(spark: SparkSession, oldName: String, newName: String): Long = {
    val m = latestManifest("renameColumn")
    require(m.schema.fieldNames.contains(oldName),
      s"SnapshotStore.renameColumn: no column '$oldName' " +
        s"(have: ${m.schema.fieldNames.mkString(", ")})")
    require(!m.schema.fieldNames.exists(n =>
        n != oldName && n.equalsIgnoreCase(newName)),
      s"SnapshotStore.renameColumn: column '$newName' already exists")
    refuseReferenced(spark, m, oldName, "renameColumn")
    val phys = m.colMap.getOrElse(oldName, oldName)
    val renamed = StructType(m.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val colMap = (m.colMap - oldName) ++
      (if (phys != newName) Map(newName -> phys) else Map.empty)
    publishEntries(m.entries, renamed, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols, prev = Some(m),
      mappingOverride = Some((colMap, m.retired)))
  }

  /** `ALTER TABLE ... DROP COLUMN c` — O(manifest), zero file rewrites:
    * the logical schema narrows, the physical column stays inside old
    * files (ignored by the schema-projected scan), and its physical
    * name is RETIRED so a later ADD COLUMNS of the same name maps to a
    * fresh physical instead of resurrecting the dropped values. Same
    * property gates as rename.
    */
  def dropColumn(spark: SparkSession, name: String): Long = {
    val m = latestManifest("dropColumn")
    require(m.schema.fieldNames.contains(name),
      s"SnapshotStore.dropColumn: no column '$name' " +
        s"(have: ${m.schema.fieldNames.mkString(", ")})")
    require(m.schema.fields.length > 1,
      s"SnapshotStore.dropColumn: cannot drop the only column")
    refuseReferenced(spark, m, name, "dropColumn")
    val phys = m.colMap.getOrElse(name, name)
    val narrowed = StructType(m.schema.fields.filterNot(_.name == name))
    publishEntries(m.entries, narrowed, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols, prev = Some(m),
      mappingOverride = Some((m.colMap - name, (m.retired :+ phys).distinct)))
  }

  /** `ALTER TABLE ... ALTER COLUMN c TYPE <wider>` — TYPE WIDENING as
    * one O(manifest) commit, zero file rewrites: Spark's parquet reader
    * (4.x) upcasts narrow physical types to a wider requested schema
    * natively (int32 files read back as long/double/decimal, float as
    * double), so publishing the SAME file list under the widened schema
    * is exact; files staged afterwards store the wide type and the two
    * generations coexist under one logical schema (Delta's
    * type-widening matrix re-derived). Only WIDENINGS in the allowlist
    * are accepted — a narrowing or cross-family change would silently
    * corrupt reads and is refused loudly. Manifest stats stay valid:
    * min/max are recorded as longs, and integral widenings preserve
    * them; the stats/partition/constraint property gates of
    * rename/drop do NOT apply (the column keeps its name and order,
    * only its width grows).
    */
  def widenColumnType(name: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val m = latestManifest("widenColumnType")
    val f = m.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.widenColumnType: no column '$name' " +
          s"(have: ${m.schema.fieldNames.mkString(", ")})"))
    require(!m.partCols.contains(name),
      s"SnapshotStore.widenColumnType: '$name' is a partition column — " +
        "partition values are typed path metadata; rewrite the table to " +
        "change them")
    // The FULL widening matrix the Spark 4.1 parquet reader upcasts
    // natively (probe-verified per cell: int32/int64/float pages read
    // back under the wider requested schema, decimals rescale, dates
    // surface as midnight NTZ): the integer chain, float -> double,
    // int/long -> decimal with enough INTEGER digits (int 10, long 20
    // — Delta's type-widening rules re-derived; byte/short pages carry
    // an INT(8/16) annotation the reader refuses to upcast to decimal,
    // so those cells are NOT offered), decimal -> decimal growing
    // precision and/or scale as long as integer digits never shrink,
    // and date -> timestamp_ntz. Everything else — any narrowing, any
    // cross-family change, decimal digit loss — is refused loudly: it
    // would silently corrupt reads.
    val isWidening: Boolean = (f.dataType, newType) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale &&
          (b.precision > a.precision || b.scale > a.scale)
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
    require(isWidening,
      s"SnapshotStore.widenColumnType: ${f.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a supported WIDENING for '$name' " +
        "(allowed: byte/short/int/long up the integer chain, float -> " +
        "double, integer family -> decimal with enough integer digits, " +
        "decimal growth, date -> timestamp_ntz)")
    // STATS columns record min/max as the INTEGER-physical encoding
    // (ints as longs, dates as days). A non-integer widening changes
    // what query literals fold to — date->ntz literals are MICROS
    // against day-encoded stats, which would WRONGLY PRUNE files — and
    // decimal/double columns collect no footer stats at all (pruning
    // silently dies). Refused like rename/drop: change the property
    // first.
    if (statsParts(m.statsColumn).contains(name)) {
      val statsSafe = newType match {
        case ShortType | IntegerType | LongType => true // same long encoding
        case _ => false
      }
      require(statsSafe,
        s"SnapshotStore.widenColumnType: '$name' is a stats column and " +
          s"${newType.simpleString} changes the recorded min/max encoding " +
          "— change the stats property first (compactLatest with a new " +
          "statsColumn), then widen")
    }
    val widened = StructType(m.schema.fields.map(fl =>
      if (fl.name == name) fl.copy(dataType = newType) else fl))
    // xxhash64 hashes byte/short/int over the SAME 4-byte path; long,
    // double, decimal and timestamp hash differently, so any widening
    // past int changes every hash (xxhash64(5:int) != xxhash64(5:long)).
    // If the widened column is the bloom column, old files' filters —
    // built at the narrow width — would return FALSE NEGATIVES against
    // wide-typed query literals and pruning would silently skip
    // matching files. Publish with those blooms STRIPPED: filterless
    // entries are always kept (conservative), and compaction / fresh
    // writes rebuild filters at the wide type. byte->short/int and
    // short->int keep their blooms — those widenings are
    // hash-compatible.
    val hashCompatible = newType match {
      case ShortType | IntegerType => true
      case _ => false
    }
    val entriesOut =
      if (!hashCompatible && m.bloomColumn.contains(name))
        m.entries.map(_.copy(bloom = None))
      else m.entries
    publishEntries(entriesOut, widened, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols, prev = Some(m),
      mappingOverride = Some((m.colMap, m.retired)))
  }

  /** Schema evolution without touching a file — the `ALTER TABLE ...
    * ADD COLUMNS` physics: publish the SAME file list under a widened
    * schema. Old files simply lack the new columns, and the parquet
    * reader null-pads missing columns per file (the same mechanism
    * `commitAppend(mergeSchema = true)` relies on), so the commit is
    * O(manifest) regardless of table size. New columns are forced
    * nullable (every existing row IS null there); name collisions are
    * refused case-insensitively — Spark's resolver would otherwise
    * produce ambiguous lookups. A name matching a RETIRED physical
    * column gets a fresh physical via the mapping, so dropped values
    * never resurrect.
    */
  def addColumns(newCols: StructType): Long = {
    require(newCols.fields.nonEmpty, "SnapshotStore.addColumns: no columns")
    val m = latestManifest("addColumns")
    val existing = m.schema.fieldNames.map(_.toLowerCase).toSet
    newCols.fields.foreach(f => require(!existing.contains(f.name.toLowerCase),
      s"SnapshotStore.addColumns: column '${f.name}' already exists"))
    val widened = StructType(m.schema.fields ++ newCols.fields.map(_.copy(nullable = true)))
    val colMap = extendMapping(m.colMap, m.retired, m.schema,
      newCols.fieldNames.toSeq)
    publishEntries(m.entries, widened, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols, prev = Some(m),
      mappingOverride = Some((colMap, m.retired)))
  }

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` — a table
    * property enforced IN-PLAN on every subsequent write (see
    * `withConstraintChecks`). Existing data must already satisfy it —
    * one DV-aware validation scan here, because a constraint the table
    * already violates is a lie every future reader would believe. The
    * expression is stored as SQL text and re-parsed per write, so it
    * survives restarts and follows the table, not the session.
    */
  def addConstraint(spark: SparkSession, name: String, check: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(name.nonEmpty && name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"SnapshotStore.addConstraint: bad constraint name '$name'")
    require(!check.contains("\t") && !check.contains("\n"),
      "SnapshotStore.addConstraint: the CHECK text cannot contain tabs/newlines")
    val m = latestManifest("addConstraint")
    require(!m.constraints.exists(_._1 == name),
      s"SnapshotStore.addConstraint: constraint '$name' already exists")
    val expr = org.apache.spark.sql.GraftExprBridge.column(
      spark.sessionState.sqlParser.parseExpression(check))
    val violations = read(spark, Some(m.version))
      .filter(not(coalesce(expr, lit(true)))).count()
    require(violations == 0L,
      s"SnapshotStore.addConstraint: $violations existing rows violate " +
        s"CHECK ($check) — clean the data first")
    publishEntries(m.entries, m.schema, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols,
      constraintsOverride = Some(m.constraints :+ (name -> check)))
  }

  /** Set (or clear) the table's BLOOM FILTER column — the point-lookup
    * file-skipping property for a column the table is NOT clustered by
    * (see [[Bloom]]): every file staged FROM NOW ON carries a 512-byte
    * membership filter over the column in its manifest entry, and
    * point predicates (`=`, `IN`), point deletes/updates and
    * small-key-set merges prune files the value cannot be in — the
    * needle-in-haystack physics range stats cannot give an unclustered
    * column. Existing files carry no filter (conservatively always
    * kept) until a compaction rewrites them; collection costs one extra
    * scan of the STAGED files' one column per commit — the price of
    * the index, paid only while the property is set.
    */
  def setBloomFilter(column: Option[String]): Long = {
    val m = latestManifest("setBloomFilter")
    column.foreach { c =>
      require(m.schema.fieldNames.contains(c),
        s"SnapshotStore.setBloomFilter: no column '$c' " +
          s"(have: ${m.schema.fieldNames.mkString(", ")})")
      require(!m.partCols.contains(c),
        s"SnapshotStore.setBloomFilter: '$c' is a partition column — its " +
          "values are path metadata, already exact at planning time")
    }
    // Re-pointing the property at a DIFFERENT column must not leave old
    // entries carrying filters built over the previous column's values —
    // probing those with the new column's hashes would false-negative.
    // Strip blooms on any change of target; filterless files are always
    // kept (conservative) until compaction/new writes rebuild them.
    val entriesOut =
      if (column == m.bloomColumn) m.entries
      else m.entries.map(_.copy(bloom = None))
    publishEntries(entriesOut, m.schema, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols, prev = Some(m),
      bloomOverride = Some(column))
  }

  /** Per-file bloom filters for freshly staged files: one distributed
    * pass over the staged files' bloom column — (file, xxhash64(value))
    * pairs aggregated into the file's DISTINCT hash set (capped at
    * [[Bloom.MaxDistinct]]+1: the cap marker), then built into a
    * capacity-sized filter on the driver, O(staged files) rows
    * collected. Files past the cap publish NO filter (saturation
    * honesty — a filter that excludes nothing only costs probes).
    * The SAME xxhash64 the query-time membership test re-derives for
    * literals, so both sides agree by construction.
    */
  /** Per-file bloom filters for freshly-staged files, built FULLY
    * DISTRIBUTED in two passes so the driver never materializes hash
    * sets (a full-table OPTIMIZE restaging 10⁴+ files would otherwise
    * collect multi-GB of them):
    *
    *  1. exact `countDistinct(hash)` per file — a map-side-combined
    *     hash aggregate whose driver result is ONE (path, long) row
    *     per file. The exact count sizes each filter (m = 12n) and
    *     keeps the saturation honesty exact: files past
    *     [[Bloom.MaxDistinct]] publish NO filter, never an estimate's
    *     borderline guess.
    *  2. per-partition local build at the FINAL per-file size (the
    *     counts broadcast), OR-merged across partitions executor-side
    *     (`reduceByKey`) — the shuffle carries only filter-sized blobs
    *     and the driver receives exactly the manifest payload it is
    *     about to write, nothing transient.
    *
    * The fold identity (`Bloom.fold(sized(m)) ≡ sized(m/2)`,
    * spec-pinned) is what makes size-at-build sound: any power-of-two
    * sizing decision commutes with the hash indices, so building at
    * the final size directly equals building big and folding down.
    */
  /** Above this staged-file count the build switches from the one-pass
    * capped-set path to the two-pass distributed path. The bound keeps
    * the one-pass path's worst-case driver transient under ~90 MB
    * (128 files × MaxDistinct hashes × 8 B) — an ordinary commit's
    * handful of files never pays the second scan, and a full-table
    * OPTIMIZE restage of 10⁴+ files never materializes hash sets on
    * the driver.
    */
  private val BloomOnePassMaxFiles = 128

  private def collectBlooms(spark: SparkSession, rels: Seq[String],
      physCol: String): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, countDistinct, regexp_replace, xxhash64}
    if (rels.isEmpty) return Map.empty
    val absToRel = rels.map(r =>
      rootPath.resolve(r).normalize.toString -> r).toMap
    def pairs = spark.read
      .parquet(rels.map(r => rootPath.resolve(r).toString): _*)
      .where(col(physCol).isNotNull)
      .select(regexp_replace(col("_metadata.file_path"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/").as("f"),
        xxhash64(col(physCol)).as("h"))
    val cap = Bloom.MaxDistinct
    def fromSets(sets: Array[(String, scala.collection.mutable.HashSet[Long])])
        : Map[String, String] =
      sets.flatMap { case (abs, hs) =>
        if (hs.size > cap) None // saturation honesty: no filter at all
        else absToRel.get(java.nio.file.Paths.get(abs).normalize.toString)
          .map { rel =>
            val bits = Bloom.sized(hs.size)
            hs.foreach(Bloom.add(bits, _))
            rel -> Bloom.encode(bits)
          }
      }.toMap
    if (rels.length <= BloomOnePassMaxFiles) {
      // ONE scan; per-file hash sets capped at MaxDistinct+1 and the
      // file count capped by the branch — the driver transient is
      // bounded by construction
      fromSets(pairs
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].rdd
        .map(r => (r.getString(0), r.getLong(1)))
        .aggregateByKey(new scala.collection.mutable.HashSet[Long]())(
          (s, h) => { if (s.size <= cap) s += h; s },
          (a, b) => { val it = b.iterator
            while (a.size <= cap && it.hasNext) a += it.next(); a })
        .collect())
    } else {
      // TWO passes, fully distributed — a full-table OPTIMIZE restage
      // of 10⁴+ files never ships hash sets to the driver:
      //  1. exact countDistinct(hash) per file (map-side-combined; one
      //     (path, long) driver row per file) sizes each filter and
      //     keeps saturation honesty exact;
      //  2. per-partition local build at the FINAL size (counts
      //     broadcast), OR-merged executor-side — the shuffle carries
      //     filter-sized blobs and the driver receives exactly the
      //     manifest payload it is about to write.
      // Sizing at build is sound by the fold identity
      // (Bloom.foldTo: fold(sized(m)) ≡ sized(m/2^k), spec-pinned).
      val counts: Map[String, Long] = pairs
        .groupBy(col("f")).agg(countDistinct(col("h")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sizesByAbs: Map[String, Int] =
        counts.collect { case (f, n) if n <= cap => f -> n.toInt }
      if (sizesByAbs.isEmpty) return Map.empty // every file saturated
      val bSizes = spark.sparkContext.broadcast(sizesByAbs)
      val built = pairs
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].rdd
        .mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap[String, Array[Long]]()
          it.foreach { r =>
            val f = r.getString(0)
            bSizes.value.get(f).foreach { n =>
              Bloom.add(acc.getOrElseUpdate(f, Bloom.sized(n)), r.getLong(1))
            }
          }
          acc.iterator
        }
        .reduceByKey(Bloom.merge)
        .collect()
      built.flatMap { case (abs, bits) =>
        absToRel.get(java.nio.file.Paths.get(abs).normalize.toString)
          .map(rel => rel -> Bloom.encode(bits))
      }.toMap
    }
  }

  /** Attach blooms to freshly staged entries when the property is set.
    * Files the collection pass returned nothing for (all-null or empty)
    * keep `None` — conservatively never pruned.
    */
  private def withBlooms(spark: SparkSession, entries: Seq[FileEntry],
      bloomColumn: Option[String],
      colMap: Map[String, String]): Seq[FileEntry] =
    bloomColumn match {
      case None => entries
      case Some(c) =>
        val blooms = collectBlooms(spark, entries.map(_.path),
          colMap.getOrElse(c, c))
        entries.map(e => e.copy(bloom = blooms.get(e.path)))
    }

  /** Keep-test for one file against a pinned point set: a file with no
    * recorded filter is always kept; one with a filter survives only if
    * ANY pinned value might be in it.
    */
  private def bloomKeep(e: FileEntry, hs: Set[Long]): Boolean =
    e.bloom.forall { enc =>
      val bits = Bloom.decode(enc)
      // legacy manifests may carry saturated filters (written before
      // saturation honesty): skip the probes, keep the file
      Bloom.saturated(bits) || hs.exists(Bloom.mightContain(bits, _))
    }

  /** The delta's distinct key hashes, capped: a small point-set delta
    * (scattered CDC deletes/upserts — the bloom's reason to exist)
    * collects its hashes for file skipping; a bulk delta (> cap
    * distinct keys, where a bloom would pass most files anyway) or one
    * carrying NULL keys (null-safe merge equality CAN match null rows,
    * which blooms never index) disables bloom pruning — sound either
    * way.
    */
  private def deltaKeyHashes(delta: DataFrame, column: String,
      cap: Int = 4096): Option[Set[Long]] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    if (!delta.where(col(column).isNull).isEmpty) return None
    val rows = delta.select(xxhash64(col(column)).as("h"))
      .distinct().limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows.map(_.getLong(0)).toSet)
  }

  /** `ALTER TABLE ... DROP CONSTRAINT name` — O(manifest). */
  def dropConstraint(name: String): Long = {
    val m = latestManifest("dropConstraint")
    require(m.constraints.exists(_._1 == name),
      s"SnapshotStore.dropConstraint: no constraint '$name' " +
        s"(have: ${m.constraints.map(_._1).mkString(", ")})")
    publishEntries(m.entries, m.schema, m.statsColumn,
      expectedVersion = Some(m.version + 1L), partCols = m.partCols,
      constraintsOverride = Some(m.constraints.filterNot(_._1 == name)))
  }

  /** Truncate: publish an empty-file-list manifest carrying the schema,
    * so reads of the new version yield an empty frame with the right
    * shape while every older version stays readable. With `partitionBy`
    * / `statsColumn` this is also the SQL-first way a table is BORN
    * with its layout and stats properties (`CREATE TABLE ... USING
    * graft-snapshot OPTIONS (path ..., partitionBy 'day', statsColumn
    * 'id')`) — later appends inherit both.
    */
  def commitTruncate(schema: StructType, statsColumn: Option[String] = None,
      partitionBy: Seq[String] = Nil): Long = {
    val normalized =
      if (partitionBy.isEmpty) schema
      else normalizePartitionedSchema(schema, partitionBy)
    statsParts(statsColumn).foreach(c => require(!partitionBy.contains(c),
      s"SnapshotStore.commitTruncate: stats column '$c' cannot be a " +
        "partition column"))
    publishEntries(Seq.empty, normalized, statsColumn, partCols = partitionBy,
      mappingOverride = Some((Map.empty, Nil)))
  }

  /** Read a committed version (default: latest). The returned frame is
    * pinned to that version's immutable file list — safe to consume
    * lazily across any number of later commits.
    */
  def read(spark: SparkSession, asOfVersion: Option[Long] = None): DataFrame = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.read: no committed versions at $root"))
    val m = readFullManifest(v)
    if (m.partCols.isEmpty) scan(spark, m.schema, m.entries, colMap = m.colMap)
    else if (m.entries.exists(_.dv.nonEmpty) || m.colMap.nonEmpty)
      // partitioned WITH live deletion vectors or an ACTIVE COLUMN
      // MAPPING: the format's FileIndex can apply neither the position
      // anti-join nor the physical-name projection, and its fallback
      // relation scans through THIS method — take the union-arm scan
      // directly (correct; loses planning-time pruning until a
      // compaction materializes deletes / clears the mapping)
      scan(spark, m.schema, m.entries, m.partCols, m.colMap)
    else
      // partitioned: plan through the format's FileIndex — ONE relation
      // with real partition pruning, not a union per partition
      spark.read.format("graft-snapshot")
        .option("path", root).option("versionAsOf", v.toString).load()
  }

  /** Range read with manifest-level data skipping: files whose recorded
    * [min,max] cannot intersect [lo,hi] are pruned before Spark lists
    * or opens them; files without stats are always kept; the exact
    * predicate is applied on the surviving scan. Requires the version
    * to have been committed with `statsColumn = Some(column)`.
    */
  def readRange(spark: SparkSession, column: String, lo: Long, hi: Long,
      asOfVersion: Option[Long] = None): DataFrame = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.readRange: no committed versions at $root"))
    val m = readFullManifest(v)
    val cols = statsParts(m.statsColumn)
    require(cols.contains(column),
      s"SnapshotStore.readRange: version $v carries stats for " +
        s"${m.statsColumn.getOrElse("no column")}, not $column")
    def interval(e: FileEntry): Option[(Long, Long)] =
      if (column == cols.head) e.min.zip(e.max)
      else e.extra.collectFirst { case (`column`, mn, mx) => (mn, mx) }
    val kept = m.entries.filter(e => interval(e) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi
      case None => true // no stats -> conservatively scanned
    })
    scan(spark, m.schema, kept, m.partCols, m.colMap)
      .filter(org.apache.spark.sql.functions.col(column).between(lo, hi))
  }

  /** Version-range change feed — the storage side of CDC (the same idea
    * Delta exposes as a change data feed, rebuilt on manifest diffs):
    * for each version v in `(fromVersion, toVersion]` emit the rows that
    * commit changed, tagged `_change_type` ('insert' | 'delete') and
    * `_commit_version`.
    *
    * The feed is a FILE-SET DIFF between consecutive manifests — sound
    * because data files are immutable and write-once, so a commit's
    * changed rows are exactly its removed files' rows (deletes) plus
    * its added files' rows (inserts):
    *
    *   - An APPEND commit (v's file list contains all of v−1's) emits
    *     only the added files' rows as inserts — O(increment), never a
    *     rescan of the table. This is the hot path: at 100 TB a nightly
    *     append feed reads one day's files, not the table.
    *   - A copy-on-write MERGE/DELETE ([[mergeInto]]/[[deleteWhere]])
    *     emits only the TOUCHED files' rows — deletes of the rewritten
    *     files' old rows, inserts of their replacements; files both
    *     manifests share never enter the feed. O(changed files).
    *   - An OVERWRITE or TRUNCATE shares no files: v−1's rows as
    *     deletes plus v's rows as inserts — O(two snapshots), the
    *     honest cost of a full replace (a consumer that only wants the
    *     new state should read the version directly instead).
    *
    * Works across schema evolution: each version's rows are read with
    * its own manifest schema, then unioned by name with null padding.
    * `fromVersion = -1` starts the feed at the table's creation.
    * Downstream exactly-once is the consumer's cursor problem — see
    * [[SnapshotStore.VersionCursor]] for the at-least-once protocol the
    * incremental ETL path uses.
    */
  def readChanges(spark: SparkSession, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to = toVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.readChanges: no committed versions at $root"))
    val have = versions.toSet
    require(fromVersion >= -1L && fromVersion <= to,
      s"SnapshotStore.readChanges: bad range ($fromVersion, $to]")
    // A vacuumed version inside the range fails LOUDLY (mirroring
    // readInserts): silently skipping it loses changes, and treating
    // its successor's missing predecessor as "insert of everything"
    // would re-deliver a full snapshot mid-feed. Repositioning to
    // earliest-1 is the explicit recovery — there the earliest
    // surviving version legitimately becomes the initial snapshot.
    val missing = ((fromVersion + 1) to to).filterNot(have.contains)
    require(missing.isEmpty,
      s"SnapshotStore.readChanges: versions ${missing.mkString(",")} in " +
        s"($fromVersion, $to] were vacuumed; reposition the cursor to " +
        s"${versions.headOption.map(_ - 1).getOrElse(-1L)} " +
        "(earliest surviving version becomes the initial snapshot)")
    // COLUMN-MAPPING coherence across the range: a RENAME mid-feed must
    // not fork one logical column into two null-padded halves, and a
    // DROP + re-ADD of the same name must not surface the retired
    // column's values under the re-bound identity. The PHYSICAL name is
    // the stable identity (rename only re-labels; re-add mints a fresh
    // physical), so each historical segment renders onto the FEED-END
    // schema: columns re-labeled to the end version's logical names by
    // physical identity, columns whose physical is retired at `to`
    // DROPPED (the feed's shape is the table's current shape plus the
    // CDC columns — Delta's CDF-under-column-mapping semantics, and
    // what applyChangeFeed replicas need).
    val endHeader = readHeader(to)
    val physToEndLogical: Map[String, String] =
      endHeader.schema.fieldNames.map(l =>
        endHeader.colMap.getOrElse(l, l) -> l).toMap
    def relabel(df: DataFrame, schema: StructType,
        colMap: Map[String, String]): DataFrame = {
      // ONE projection, not a withColumnRenamed chain: sequential renames
      // collide when one rename's target equals another kept column's
      // segment-time name (a legal two-step chain — b→c then a→b across
      // the range — would rename BOTH columns in the second step).
      val keep = schema.fieldNames.filter(c =>
        physToEndLogical.contains(colMap.getOrElse(c, c)))
      val noChange = keep.length == schema.fieldNames.length &&
        keep.forall(c => physToEndLogical(colMap.getOrElse(c, c)) == c)
      if (noChange) df
      else df.select(keep.toSeq.map(c =>
        org.apache.spark.sql.functions.col(c)
          .as(physToEndLogical(colMap.getOrElse(c, c)))): _*)
    }
    val segments: Seq[DataFrame] = ((fromVersion + 1) to to).flatMap { v =>
      val m = readFullManifest(v)
      if (m.rewrite) Nil // dataChange=false: same rows, new layout
      else {
        val prev: Option[Manifest] =
          if (!have.contains(v - 1)) None
          else Some(readFullManifest(v - 1))
        val prevPaths = prev.map(_.entries.map(_.path).toSet).getOrElse(Set.empty)
        val curPaths = m.entries.map(_.path).toSet
        def tag(df: DataFrame, tp: String) = df
          .withColumn("_change_type", lit(tp))
          .withColumn("_commit_version", lit(v))
        // FILE-SET DIFF: data files are immutable and write-once, so
        // the rows a commit changed are exactly the rows of the files
        // it removed (deletes) plus the files it added (inserts). An
        // append removes nothing — O(increment) inserts. A full
        // overwrite shares no files — delete(old snapshot) +
        // insert(new snapshot). A copy-on-write MERGE/DELETE sits in
        // between: only the TOUCHED files' rows enter the feed, the
        // untouched ones (same path in both manifests) never do.
        val removed = prev.toSeq.flatMap { p =>
          val gone = p.entries.filterNot(e => curPaths.contains(e.path))
          if (gone.isEmpty) Nil
          else Seq(tag(relabel(scan(spark, p.schema, gone, p.partCols, p.colMap),
            p.schema, p.colMap), "delete"))
        }
        // MERGE-ON-READ deletes: a commit that touched no files but GREW
        // a shared file's DV set tombstoned exactly the rows at the
        // added positions (they were live before — the write path
        // applies prior DVs). Emit them as honest deletes via a
        // position semi-join: O(tombstones), never a table rescan.
        val morDeletes = prev.toSeq.flatMap { p =>
          val prevByPath = p.entries.map(e => e.path -> e).toMap
          val grown = m.entries.flatMap { e =>
            prevByPath.get(e.path).collect {
              case pe if e.dv != pe.dv =>
                (pe, e.dv.filterNot(pe.dv.contains))
            }
          }.filter(_._2.nonEmpty)
          if (grown.isEmpty) Nil
          else {
            val addedDvs = grown.flatMap(_._2).distinct
            Seq(tag(relabel(positionJoin(spark, p.schema, grown.map(_._1),
              p.partCols, addedDvs, anti = false)
              .select(p.schema.fieldNames.toSeq
                .map(org.apache.spark.sql.functions.col): _*),
              p.schema, p.colMap), "delete"))
          }
        }
        val added = m.entries.filterNot(e => prevPaths.contains(e.path))
        val inserts =
          if (added.isEmpty) Nil
          else Seq(tag(relabel(scan(spark, m.schema, added, m.partCols, m.colMap),
            m.schema, m.colMap), "insert"))
        removed ++ morDeletes ++ inserts
      }
    }
    segments match {
      case Seq() =>
        val schema = readHeader(to).schema
        tagSchemaEmpty(spark, schema)
      case ss => ss.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Resolved manifest of a committed version (default latest) for the
    * format integration layer: (schema, statsColumn, file entries with
    * root-absolute paths + a live-DV flag, partition columns). The
    * FileIndex REFUSES versions with live deletion vectors — a plain
    * file scan cannot apply the position anti-join, and silently
    * including tombstoned rows is how a reader lies.
    */
  private[graft] def manifestAt(asOfVersion: Option[Long] = None)
      : (StructType, Option[String], Seq[SnapshotStore.EntryInfo], Seq[String]) = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.manifestAt: no committed versions at $root"))
    val m = readFullManifest(v)
    (m.schema, m.statsColumn,
      m.entries.map(e => SnapshotStore.EntryInfo(
        rootPath.resolve(e.path).toString, e.min, e.max, e.dv.nonEmpty,
        e.extra, e.bytes, e.bloom)),
      m.partCols)
  }

  /** The version's BLOOM FILTER column property (format-layer probe). */
  private[graft] def bloomColumnAt(asOfVersion: Option[Long] = None): Option[String] = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(return None)
    readHeader(v).bloomColumn
  }

  /** True when the version carries an active COLUMN MAPPING — the
    * format layer's gate: a plain file scan would surface PHYSICAL
    * names, so mapped versions plan through the TableScan fallback
    * relation (whose scan is [[read]] — mapping applied), exactly like
    * live-DV versions.
    */
  private[graft] def hasColumnMapping(asOfVersion: Option[Long] = None): Boolean = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(return false)
    readHeader(v).colMap.nonEmpty
  }

  /** Byte size of a format-layer entry: the manifest's recorded size
    * when present, a counted `stat(2)` fallback otherwise — the same
    * contract as [[entryBytes]] for absolute-path consumers.
    */
  private[graft] def infoBytes(info: SnapshotStore.EntryInfo): Long =
    info.bytes.getOrElse {
      onFileStat(info.absPath)
      val p = Paths.get(info.absPath)
      if (Files.isRegularFile(p)) Files.size(p) else 0L
    }

  /** Partition tuple of an ABSOLUTE data-file path (format-layer use):
    * decoded `col=value` strings in partition-column order.
    */
  private[graft] def partitionTupleOfAbsolute(abs: String,
      partCols: Seq[String]): Seq[String] =
    partitionTupleOf(rootPath.relativize(Paths.get(abs)).toString, partCols)

  /** Schema of a committed version (default latest) without planning a
    * scan — the streaming source pins this at query start.
    */
  def tableSchema(asOfVersion: Option[Long] = None): StructType = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.tableSchema: no committed versions at $root"))
    readHeader(v).schema
  }

  /** Insert-only increments in `(fromVersion, toVersion]` read with a
    * PINNED schema — the micro-batch body of the streaming source,
    * where the engine owns the offsets and a stream has ONE schema for
    * its lifetime (later evolved columns null-pad under the pinned
    * shape; columns added after the stream started are simply not
    * visible to it until restart).
    *
    * Appends contribute exactly their added files. A non-append commit
    * (overwrite/truncate rewrote history) is governed by `onOverwrite`:
    *   - "fail" (default): refuse loudly — a downstream that assumed
    *     append-only must not silently miss a table rewrite;
    *   - "emitNew": emit the commit's ADDED files' rows (downstream
    *     dedups or upserts — the ignore-deletes posture). For a full
    *     overwrite that is the replacing snapshot; for a copy-on-write
    *     MERGE it is just the rewritten files — O(changed files);
    *   - "skip": emit nothing for that commit (consumer only wants
    *     genuine appends).
    */
  def readInserts(spark: SparkSession, fromVersion: Long, toVersion: Long,
      pinned: StructType, onOverwrite: String = "fail"): DataFrame = {
    require(Set("fail", "emitNew", "skip").contains(onOverwrite),
      s"SnapshotStore.readInserts: unknown onOverwrite '$onOverwrite'")
    // An inverted range means the CALLER's cursor regressed (e.g. a
    // rate-limited offset counted from below the engine's committed
    // one). Returning an empty frame would let the regression COMMIT —
    // silent re-delivery on every later trigger. Fail loudly instead.
    require(fromVersion <= toVersion,
      s"SnapshotStore.readInserts: inverted range ($fromVersion, $toVersion] " +
        "— the consumer's start offset is AHEAD of the requested end; its " +
        "cursor/floor regressed")
    val have = versions.toSet
    // A vacuumed version inside the requested range MUST fail loudly:
    // silently skipping it loses data, and treating its successor's
    // missing predecessor as "append of everything" would re-deliver a
    // full snapshot mid-stream. The recovery recipe is explicit — a
    // fresh/repositioned stream starts at startingVersion = earliest-1,
    // which legitimately emits the earliest surviving version as its
    // initial snapshot (its predecessor predates the table's history).
    val missing = ((fromVersion + 1) to toVersion).filterNot(have.contains)
    require(missing.isEmpty,
      s"SnapshotStore.readInserts: versions ${missing.mkString(",")} in " +
        s"($fromVersion, $toVersion] were vacuumed; restart the stream with " +
        s"startingVersion=${versions.headOption.map(_ - 1).getOrElse(-1L)} " +
        "(earliest surviving version becomes the initial snapshot)")
    val segments = ((fromVersion + 1) to toVersion).filter(have.contains).flatMap { v =>
      val m = readFullManifest(v)
      val prevEntries: Seq[FileEntry] =
        if (v == 0L || !have.contains(v - 1)) Seq.empty
        else readFullManifest(v - 1).entries
      val prevPaths = prevEntries.map(_.path).toSet
      // A merge-on-read delete keeps every path but GROWS a DV set —
      // rows were removed, so it is NOT an append: same policy gate as
      // an overwrite (fail by default; emitNew/skip emit no rows since
      // deletes are not inserts either way).
      val prevDv = prevEntries.map(e => e.path -> e.dv).toMap
      val dvGrew = m.entries.exists(e => prevDv.get(e.path).exists(_ != e.dv))
      if (m.rewrite) Nil // compaction: same rows, new layout — never re-delivered
      else if (prevPaths.subsetOf(m.entries.map(_.path).toSet) && !dvGrew) {
        val added = m.entries.filterNot(e => prevPaths.contains(e.path))
        if (added.isEmpty) Nil else Seq(scan(spark, pinned, added, m.partCols, m.colMap))
      } else onOverwrite match {
        case "fail" => throw new IllegalStateException(
          s"SnapshotStore.readInserts: version $v is not an append " +
            s"(an overwrite/truncate rewrote the table, or a merge-on-read " +
            s"delete tombstoned rows); restart the stream from the new " +
            s"state or set onOverwrite=emitNew|skip")
        case "emitNew" =>
          val added = m.entries.filterNot(e => prevPaths.contains(e.path))
          if (added.isEmpty) Nil else Seq(scan(spark, pinned, added, m.partCols, m.colMap))
        case "skip" => Nil
      }
    }
    if (segments.isEmpty) scan(spark, pinned, Seq.empty)
    else segments.reduce(_.unionByName(_))
  }

  private def tagSchemaEmpty(spark: SparkSession, schema: StructType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val full = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType), StructField("_commit_version", LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
  }

  /** Explicit-file-list scan. Partitioned tables (hive layout: values
    * in paths, not files) re-attach partition columns per partition
    * group — one union arm per TOUCHED partition, which is exactly the
    * increment size on the feed paths that use this (readChanges /
    * readInserts / CoW candidates); whole-table reads of partitioned
    * stores go through the format's FileIndex instead ([[read]]).
    *
    * Files carrying DELETION VECTORS read through a position anti-join
    * against their sidecars — merge-on-read: the deletes cost
    * O(tombstones) at scan time instead of O(touched files) at write
    * time. Clean files take the plain path untouched, so a table with
    * no MoR history pays nothing.
    */
  private def scan(spark: SparkSession, schema: StructType,
      entries: Seq[FileEntry], partCols: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty): DataFrame = {
    val (dirty, clean) = entries.partition(_.dv.nonEmpty)
    if (dirty.isEmpty)
      scanRaw(spark, schema, clean, partCols, withPos = false, colMap)
    else {
      import org.apache.spark.sql.functions.col
      val live = positionJoin(spark, schema, dirty, partCols,
        dirty.flatMap(_.dv).distinct, anti = true, colMap)
        .select(schema.fieldNames.toSeq.map(col): _*)
      if (clean.isEmpty) live
      else scanRaw(spark, schema, clean, partCols, withPos = false, colMap)
        .unionByName(live)
    }
  }

  /** Scan joined against DV position sidecars on (file, pos):
    * `anti = true` keeps the LIVE rows (deletes applied — the read
    * path), `anti = false` keeps exactly the listed positions (the
    * change feed's honest-delete emission). The sidecar side is tiny by
    * construction (O(tombstoned rows) — merge-on-read is for scattered
    * small deltas; bulk deletes belong to copy-on-write), so AQE
    * broadcasts it.
    */
  private def positionJoin(spark: SparkSession, schema: StructType,
      entries: Seq[FileEntry], partCols: Seq[String], dvRels: Seq[String],
      anti: Boolean, colMap: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val withPos = scanRaw(spark, schema, entries, partCols, withPos = true,
      colMap, keepAbs = true)
    // Join on ABSOLUTE file identity, not the manifest-relative path: a
    // sidecar's `file` values are relative to the store that WROTE it,
    // and a shallow clone references the source's sidecars while its own
    // entries (and its later sidecars' `file` values) are absolute —
    // matching raw strings across the two stores would miss every
    // tombstone and resurrect the source's deleted rows in the clone.
    // Each sidecar's owning root is recoverable from its own path
    // (<root>/data/<uuid>.dv), so relative values absolutize per sidecar.
    val dvs = dvRels.map { d =>
      val p = Paths.get(d)
      val abs = (if (p.isAbsolute) p else rootPath.resolve(d)).normalize
      val owner = abs.getParent.getParent.toString
      spark.read.parquet(abs.toString).select(
        when(col("file").startsWith("/"), col("file"))
          .otherwise(concat(lit(owner + "/"), col("file"))).as("__dv_abs"),
        col("pos").as("__dv_pos"))
    }.reduce(_.unionByName(_))
    // keeps __file/__pos: callers project them away (scan/feed) or
    // consume them (the MoR write path's stacked-delete dedup)
    withPos.join(dvs,
        withPos("__abs") === col("__dv_abs") &&
          withPos("__pos") === col("__dv_pos"),
        if (anti) "left_anti" else "left_semi")
      .drop("__abs")
  }

  /** Live rows of `entries` with `__file`/`__pos` attached: the plain
    * positioned scan when no entry carries a deletion vector, the
    * DV anti-join otherwise — the one definition of "what a MoR write
    * may tombstone", read by [[tombstone]] for every merge-on-read op
    * (deleteWhere, updateWhere, mergeInto, applyChanges): a row two MoR
    * writes both hit must be tombstoned ONCE, or the change feed would
    * emit its delete twice.
    */
  private def liveWithPos(spark: SparkSession, schema: StructType,
      entries: Seq[FileEntry], partCols: Seq[String],
      colMap: Map[String, String] = Map.empty): DataFrame =
    if (entries.forall(_.dv.isEmpty))
      scanRaw(spark, schema, entries, partCols, withPos = true, colMap)
    else positionJoin(spark, schema, entries, partCols,
      entries.flatMap(_.dv).distinct, anti = true, colMap)

  /** Write `hits` (columns `file`, `pos`) as one position-list DV
    * sidecar — an ordinary distributed parquet write, never a driver
    * collect — and return its manifest-relative path plus the set of
    * data files that actually took a tombstone (a tiny driver read of
    * the sidecar's own `file` column: O(touched files) rows at most).
    * An all-miss sidecar is left orphaned for vacuum to reclaim.
    */
  private def writeDvSidecar(spark: SparkSession,
      hits: DataFrame): (String, Set[String]) = {
    val sub = dataDir.resolve(java.util.UUID.randomUUID.toString + ".dv")
    hits.write.mode(SaveMode.ErrorIfExists).parquet(sub.toString)
    val rel = rootPath.relativize(sub).toString
    val hitFiles = spark.read.parquet(rootPath.resolve(rel).toString)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    (rel, hitFiles)
  }

  /** The physical file-list scan. With `withPos`, every row carries
    * `__file` (its data file's manifest-relative path) and `__pos` (its
    * row index within that file) — derived from the file source's
    * `_metadata` column plus a broadcast abs→rel lookup, both computed
    * IN the scan (no extra pass).
    */
  private def scanRaw(spark: SparkSession, schema: StructType,
      entries: Seq[FileEntry], partCols: Seq[String],
      withPos: Boolean, colMap: Map[String, String] = Map.empty,
      keepAbs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
    if (entries.isEmpty) {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      val posed =
        if (!withPos) base
        else base.withColumn("__file", lit(null).cast("string"))
          .withColumn("__pos", lit(null).cast("long"))
      return if (withPos && keepAbs)
        posed.withColumn("__abs", lit(null).cast("string"))
      else posed
    }
    // COLUMN MAPPING read half: files store PHYSICAL names — request
    // the physical schema from parquet, rename back to logical right
    // after the scan (one projection, no data movement)
    def phys(c: String) = colMap.getOrElse(c, c)
    def physSchema(logical: StructType): StructType =
      if (colMap.isEmpty) logical
      else StructType(logical.fields.map(f => f.copy(name = phys(f.name))))
    def toLogical(df: DataFrame, logical: StructType,
        metaCols: Seq[String]): DataFrame =
      if (colMap.isEmpty) df
      else df.select(logical.fields.toSeq.map(f =>
        col(phys(f.name)).as(f.name)) ++ metaCols.map(col): _*)
    def addPos(df: DataFrame): DataFrame =
      if (!withPos) df
      else df
        // "file:///x" and "file:/x" both normalize to "/x" — the store
        // is local/NFS by construction (rootPath refuses other schemes)
        .withColumn("__abs", regexp_replace(
          col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
        .withColumn("__pos", col("_metadata.row_index"))
    def mapRel(df: DataFrame): DataFrame =
      if (!withPos) df
      else {
        import spark.implicits._
        val lookup = entries
          .map(e => (rootPath.resolve(e.path).normalize.toString, e.path))
          .toDF("__abs", "__file")
        val joined = df.join(broadcast(lookup), "__abs")
        if (keepAbs) joined else joined.drop("__abs")
      }
    val posCols = if (withPos) Seq("__abs", "__pos") else Nil
    if (partCols.isEmpty)
      mapRel(toLogical(addPos(spark.read.schema(physSchema(schema))
        .parquet(entries.map(e => rootPath.resolve(e.path).toString): _*)),
        schema, posCols))
    else {
      val dataSchema = StructType(
        schema.fields.filterNot(f => partCols.contains(f.name)))
      val fieldByName = schema.fields.map(f => f.name -> f).toMap
      val unioned = entries
        .groupBy(e => partitionTupleOf(e.path, partCols, colMap)).toSeq
        .sortBy(_._1.mkString("/"))
        .map { case (tuple, group) =>
          val base = toLogical(addPos(spark.read.schema(physSchema(dataSchema))
            .parquet(group.map(e => rootPath.resolve(e.path).toString): _*)),
            dataSchema, posCols)
          val withParts = partCols.zip(tuple).foldLeft(base) {
            case (df, (c, v)) =>
              val f = fieldByName(c)
              val value =
                if (v == SnapshotStore.HiveNullPartition) lit(null)
                else lit(v)
              df.withColumn(c, value.cast(f.dataType))
          }
          withParts.select((schema.fieldNames.toSeq ++ posCols).map(col): _*)
        }
        .reduce(_.unionByName(_))
      mapRel(unioned)
    }
  }

  /** Drop all but the last `keepLast` versions and delete data files no
    * kept manifest references — including half-staged orphans from
    * crashed commits. Readers of kept versions are unaffected.
    *
    * `minAgeMillis` is the retention guard for CONCURRENT writers: an
    * in-flight commit stages its files BEFORE publishing a manifest, so
    * a vacuum racing it would see them as unreferenced orphans and eat
    * the commit's data out from under it (the same reason Delta's
    * VACUUM has a retention period). Unreferenced files younger than
    * the threshold survive; crashed-commit garbage is reclaimed by the
    * next vacuum once it ages past it. Default 0 keeps the
    * single-writer behavior (reclaim immediately); any deployment that
    * pairs a streaming sink with maintenance jobs should pass an hour+.
    */
  /** DRY RUN of [[vacuum]] (Delta's `VACUUM ... DRY RUN`): the exact
    * files the same-argument vacuum would delete, each tagged with the
    * clone root that pins it (if any) — the operator's look-before-
    * you-reclaim, and the way to see WHICH clone a refusal is about
    * without triggering it. Read-only: no manifest, ledger, or data
    * mutation (the real vacuum's oldest-kept checkpoint rewrite and
    * stale-ledger cleanup do not happen here).
    */
  def vacuumPreview(keepLast: Int, minAgeMillis: Long = 0L)
      : Seq[(String, Long, Option[String])] = {
    require(keepLast >= 1, s"vacuumPreview: keepLast must be >= 1, got $keepLast")
    require(minAgeMillis >= 0L,
      s"vacuumPreview: minAgeMillis must be >= 0, got $minAgeMillis")
    val vs = versions
    val keep = vs.drop(math.max(0, vs.length - keepLast))
    val keptManifests = keep.map(readFullManifest)
    val referenced: Set[Path] =
      keptManifests.flatMap(_.entries.map(_.path))
        .map(f => rootPath.resolve(f).normalize).toSet
    val dvDirs: Seq[Path] = keptManifests
      .flatMap(_.entries.flatMap(_.dv)).distinct
      .map(d => rootPath.resolve(d).normalize)
    val pins = cloneReferencedPaths(clean = false)
    val cutoff = System.currentTimeMillis() - minAgeMillis
    if (!Files.isDirectory(dataDir)) return Nil
    val walk = Files.walk(dataDir)
    try {
      walk.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && !referenced.contains(p.normalize) &&
          !dvDirs.exists(d => p.normalize.startsWith(d)) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff
      }.map(p => (rootPath.relativize(p).toString, Files.size(p),
        pins.get(p.normalize))).toSeq
    } finally walk.close()
  }

  def vacuum(keepLast: Int, minAgeMillis: Long = 0L,
      force: Boolean = false): Unit = {
    require(keepLast >= 1, s"vacuum: keepLast must be >= 1, got $keepLast")
    require(minAgeMillis >= 0L, s"vacuum: minAgeMillis must be >= 0, got $minAgeMillis")
    val vs = versions
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepLast))
    val keptManifests = keep.map(readFullManifest)
    // CLONE-OUT pins: files a registered shallow clone still references
    // must survive retention pruning (the ledger this store writes at
    // cloneFrom time — doing better than Delta's documented hazard).
    // Resolved BEFORE any deletion so a refusal leaves the store
    // untouched; force = the operator accepts breaking those clones.
    val clonePins: Map[Path, String] =
      if (force) Map.empty else cloneReferencedPaths()
    // Log-structured retention invariant: the OLDEST KEPT version must
    // be self-contained — a delta whose chain reaches below the kept
    // range would become unreadable once its predecessors are deleted.
    // Materialize it as a checkpoint (same header, full reconstructed
    // list; content-equivalent, so an atomic in-place replace is safe —
    // racing readers see the old or the new body, both resolve to the
    // same manifest).
    keep.headOption.foreach { ok =>
      if (drop.nonEmpty && readHeader(ok).isDelta)
        rewriteAsCheckpoint(ok, keptManifests.head)
    }
    val referenced: Set[Path] =
      keptManifests.flatMap(_.entries.map(_.path))
        .map(f => rootPath.resolve(f).normalize).toSet
    // DV sidecars are DIRECTORIES of position files: keep everything
    // under one referenced by a kept manifest entry
    val dvDirs: Seq[Path] = keptManifests
      .flatMap(_.entries.flatMap(_.dv)).distinct
      .map(d => rootPath.resolve(d).normalize)
    val cutoff = System.currentTimeMillis() - minAgeMillis
    if (clonePins.nonEmpty && Files.isDirectory(dataDir)) {
      // would this vacuum delete a clone-pinned file? check BEFORE
      // touching anything — refusal must leave the store intact
      val walk = Files.walk(dataDir)
      val broken = try {
        walk.iterator().asScala.filter { p =>
          Files.isRegularFile(p) && !referenced.contains(p.normalize) &&
            !dvDirs.exists(d => p.normalize.startsWith(d)) &&
            Files.getLastModifiedTime(p).toMillis <= cutoff &&
            clonePins.contains(p.normalize)
        }.toSeq
      } finally walk.close()
      if (broken.nonEmpty) {
        val byClone = broken.map(p => clonePins(p.normalize)).distinct
        throw new IllegalStateException(
          s"SnapshotStore.vacuum: retention would delete ${broken.length} " +
            s"file(s) still referenced by shallow clone(s) " +
            s"${byClone.mkString(", ")} — materialize the clone and retire " +
            "its source-referencing history (clone.compactLatest + " +
            "clone.vacuum), delete its directory, or vacuum(force = true) " +
            "to break it deliberately")
      }
    }
    drop.foreach(v => backend.delete(manifestPath(v)))
    // the memo must not outlive the files: a cached manifest for a
    // dropped version would let a reader (or a restore!) resolve a
    // version whose data files this vacuum is about to delete
    manifestCache.synchronized {
      drop.foreach(v => manifestCache.remove(Long.box(v)))
    }
    if (Files.isDirectory(dataDir)) {
      val walk = Files.walk(dataDir)
      try {
        walk.iterator().asScala.toSeq.reverse.foreach { p =>
          if (Files.isRegularFile(p) && !referenced.contains(p.normalize) &&
              !dvDirs.exists(d => p.normalize.startsWith(d)) &&
              Files.getLastModifiedTime(p).toMillis <= cutoff)
            Files.delete(p)
          else if (Files.isDirectory(p) && p != dataDir) {
            val ls = Files.list(p)
            val empty = try !ls.iterator().hasNext finally ls.close()
            if (empty) Files.delete(p)
          }
        }
      } finally walk.close()
    }
  }

  /** Write `df` as fresh parquet files under a unique staging dir and
    * return their root-relative paths. NOT visible to readers until a
    * manifest referencing them is published — a crash here strands
    * garbage, never corrupts a version. package-private so the spec can
    * emulate exactly that crash.
    */
  /** In-plan CHECK enforcement: wrap the staged frame so any row
    * violating a table constraint raises MID-WRITE — one pass, inside
    * whole-stage codegen, no separate validation job (the same shape
    * Delta's invariant-check operator takes). SQL CHECK semantics: a
    * NULL result passes. Applied at the two staging choke points every
    * data write funnels through, so no commit shape can smuggle a
    * violating row past the property.
    */
  private def withConstraintChecks(df: DataFrame): DataFrame = {
    val cs = latestVersion.map(v => readHeader(v).constraints).getOrElse(Nil)
    if (cs.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{lit, raise_error, when}
      cs.foldLeft(df) { case (d, (name, text)) =>
        val expr = org.apache.spark.sql.GraftExprBridge.column(
          d.sparkSession.sessionState.sqlParser.parseExpression(text))
        d.filter(when(expr || expr.isNull, lit(true)).otherwise(
          raise_error(lit(
            s"graft-snapshot CHECK constraint '$name' violated: $text"))))
      }
    }
  }

  /** Rename logical columns to their PHYSICAL names before a staged
    * write — the write half of column mapping: files always store
    * physical names, so a rename never rewrites a file and a re-added
    * name never aliases a retired physical column.
    */
  private def toPhysical(df: DataFrame,
      colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toSeq.map(c =>
        col(c).as(colMap.getOrElse(c, c))): _*)
    }

  private[etl] def stage(df: DataFrame,
      colMap: Map[String, String] = Map.empty): Seq[String] = {
    val sub = dataDir.resolve(java.util.UUID.randomUUID.toString)
    toPhysical(withConstraintChecks(df), colMap)
      .write.mode(SaveMode.ErrorIfExists).parquet(sub.toString)
    val s = Files.list(sub)
    try {
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => rootPath.relativize(p).toString)
        .toSeq.sorted
    } finally s.close()
  }

  /** Hive-partitioned staging: `partitionBy` writes
    * `data/<uuid>/col=value/.../part-*.parquet`, so every staged file's
    * partition tuple is carried by its manifest path. Stats are
    * collected per file exactly as in the flat path.
    */
  private def stagePartitioned(df: DataFrame, partCols: Seq[String],
      statsColumn: Option[String],
      colMap: Map[String, String] = Map.empty,
      bloomColumn: Option[String] = None): Seq[FileEntry] = {
    normalizePartitionedSchema(df.schema, partCols) // validates cols + types
    val sub = dataDir.resolve(java.util.UUID.randomUUID.toString)
    // a MAPPED partition column (adopted from a column-mapped Delta
    // table — native rename/drop refuse partition columns) stages under
    // its physical directory name, matching the adopted layout;
    // partitionTupleOf decodes either name
    toPhysical(withConstraintChecks(df), colMap)
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(partCols.map(c => colMap.getOrElse(c, c)): _*)
      .parquet(sub.toString)
    val walk = Files.walk(sub)
    val paths = try {
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => rootPath.relativize(p).toString)
        .toSeq.sorted
    } finally walk.close()
    val entries = statsParts(statsColumn) match {
      case Seq() => paths.map(p => FileEntry(p, None, None, bytes = stagedBytes(p)))
      case cols =>
        cols.foreach(c => require(!partCols.contains(c),
          s"SnapshotStore: stats column '$c' cannot be a partition column " +
            "(partition values are path metadata, not file contents)"))
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        paths.map(rel => entryWithStats(rel, cols, conf, colMap))
    }
    withBlooms(df.sparkSession, entries, bloomColumn, colMap)
  }

  /** Footer-stats collection: one metadata-only parquet footer read per
    * staged file (no data pages), min/max over its row groups for the
    * int/long/date/timestamp stats column. None (never pruned) when the
    * column is missing, non-integer, or has no non-null values.
    */
  private def stageEntries(df: DataFrame, statsColumn: Option[String],
      colMap: Map[String, String] = Map.empty,
      bloomColumn: Option[String] = None): Seq[FileEntry] = {
    val paths = stage(df, colMap)
    val entries = statsParts(statsColumn) match {
      case Seq() => paths.map(p => FileEntry(p, None, None, bytes = stagedBytes(p)))
      case cols =>
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        paths.map(rel => entryWithStats(rel, cols, conf, colMap))
    }
    withBlooms(df.sparkSession, entries, bloomColumn, colMap)
  }

  /** Row-op step 4: stage `df` under `m`'s layout — hive-partitioned
    * when the table is, with its stats column, column mapping and bloom
    * property.
    */
  private def restage(m: Manifest, df: DataFrame): Seq[FileEntry] =
    if (m.partCols.isEmpty) stageEntries(df, m.statsColumn, m.colMap, m.bloomColumn)
    else stagePartitioned(df, m.partCols, m.statsColumn, m.colMap, m.bloomColumn)

  /** The stats property as its column list: `"a"` → Seq(a); `"a,b,c"` →
    * Seq(a, b, c). The FIRST column is the PRIMARY — the clustering /
    * readRange / merge-key-pruning authority carried in the entry's
    * min/max fields; the rest are SECONDARY, pruning-only, carried in
    * `extra` (the comma-list form is what makes every z-order dimension
    * skippable at planning time, not just one).
    */
  private def statsParts(statsColumn: Option[String]): Seq[String] =
    statsColumn.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Size of a freshly-staged file, recorded INTO its manifest entry —
    * collected in the same commit-time pass as the footer stats, so
    * every later metadata consumer (rate-limit byte budget, OPTIMIZE's
    * default target, DESCRIBE DETAIL, history) reads manifest data
    * instead of paying one stat/HEAD per file per tick.
    */
  private def stagedBytes(rel: String): Option[Long] = {
    val p = rootPath.resolve(rel)
    if (Files.isRegularFile(p)) Some(Files.size(p)) else None
  }

  private def entryWithStats(rel: String, cols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration,
      colMap: Map[String, String] = Map.empty): FileEntry = {
    // footers store PHYSICAL names; the manifest's stats keys stay
    // logical so readRange/pruning never see the mapping
    def phys(c: String) = colMap.getOrElse(c, c)
    val stats = footerStatsMulti(
      new org.apache.hadoop.fs.Path(rootPath.resolve(rel).toString),
      cols.map(phys), conf)
    val primary = stats.get(phys(cols.head))
    val extra = cols.tail.flatMap(c => stats.get(phys(c)).map(r => (c, r._1, r._2)))
    FileEntry(rel, primary.map(_._1), primary.map(_._2), Nil, extra,
      stagedBytes(rel))
  }

  /** Min/max of several integer-physical columns from ONE metadata-only
    * footer read — the multi-column variant behind comma-list stats
    * properties. Columns missing, non-integer, or all-null are simply
    * absent from the result (never pruned).
    */
  private def footerStatsMulti(p: org.apache.hadoop.fs.Path,
      columns: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Map[String, (Long, Long)] = {
    if (columns.isEmpty) return Map.empty
    val wanted = columns.toSet
    val r = SnapshotStore.openParquet(p, conf)
    try {
      val ranges = r.getFooter.getBlocks.asScala.flatMap { block =>
        block.getColumns.asScala
          .filter(c => wanted.contains(c.getPath.toDotString))
          .flatMap { col =>
            val st = col.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                Some((col.getPath.toDotString, mn.longValue, mx.longValue))
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                Some((col.getPath.toDotString, mn.longValue, mx.longValue))
              case _ => None // non-integer physical type: no pruning
            }
          }
      }
      val byCol = ranges.groupBy(_._1)
      // a column absent from ANY row group (late-added via evolution)
      // still aggregates over the groups that HAVE it — conservative,
      // because the groups without it hold only nulls for that column
      columns.flatMap { c =>
        byCol.get(c).map(rs =>
          c -> (rs.map(_._2).min, rs.map(_._3).max))
      }.toMap
    } finally r.close()
  }

  /** Rows visible at a version, counted on the driver from metadata with
    * no Spark job: the footer record count of every data file the
    * manifest lists, minus the positions its deletion vectors tombstone.
    * It counts what the manifest points at, so it checks a commit
    * independently of the writer's own counters.
    *
    * One DV sidecar can hold the positions of several data files (one
    * merge-on-read write hitting many files), and a copy-on-write
    * rewrite can since have replaced some of them, so a sidecar's rows
    * are attributed per file: a row group whose `file` column statistics
    * have min = max belongs to that one file (footer only); a sidecar
    * part with a mixed row group has its `file` column read (one short
    * string per tombstone). A caller holding a session passes its
    * `hadoopConfiguration` as `conf`.
    */
  def footerRowCount(asOfVersion: Option[Long] = None,
      conf: org.apache.hadoop.conf.Configuration = SnapshotStore.hadoopConf): Long = {
    val v = asOfVersion.orElse(latestVersion).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore.footerRowCount: no committed versions at $root"))
    val m = readFullManifest(v)
    def abs(rel: String): Path = rootPath.resolve(rel).normalize
    val rows = m.entries.map(e => SnapshotStore.parquetRows(
      new org.apache.hadoop.fs.Path(abs(e.path).toString), conf)).sum
    // (sidecar, data file) pairs whose tombstones apply at this version
    val applied = m.entries.flatMap(e => e.dv.map(d => (abs(d), abs(e.path)))).toSet
    val tombstones = applied.map(_._1).toSeq.map { dv =>
      // a sidecar's `file` values are relative to the store that wrote
      // it: <owner>/data/<uuid>.dv (see positionJoin)
      val owner = dv.getParent.getParent
      dvPositionsByFile(dv, conf).collect {
        case (f, n) if applied((dv, owner.resolve(f).normalize)) => n
      }.sum
    }.sum
    rows - tombstones
  }

  /** Tombstone count per `file` value of one DV sidecar dataset. */
  private def dvPositionsByFile(dv: Path,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Long] = {
    val parts = {
      val s = Files.list(dv)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    parts.flatMap { part =>
      val hp = new org.apache.hadoop.fs.Path(part.toString)
      val r = SnapshotStore.openParquet(hp, conf)
      val single = try r.getFooter.getBlocks.asScala.toSeq.map { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == "file")
          .map(_.getStatistics).collect {
            case st if st != null && st.hasNonNullValue && st.getNumNulls == 0 &&
                st.genericGetMin == st.genericGetMax =>
              st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8 -> block.getRowCount
          }
      } finally r.close()
      if (single.forall(_.isDefined)) single.flatten
      else {
        val c = new org.apache.hadoop.conf.Configuration(conf)
        c.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          "message dv { optional binary file (STRING); }")
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport, hp)
          .withConf(c).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => g.getString("file", 0) -> 1L).toSeq
        finally reader.close()
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spec-compat publish of bare paths (no stats). */
  private[etl] def publish(files: Seq[String], schema: StructType): Long =
    publishEntries(files.map(FileEntry(_, None, None)), schema, None)

  /** LOG-STRUCTURED COMMITS — every K versions a full CHECKPOINT
    * manifest (today's format: the complete file list), everything in
    * between a DELTA manifest carrying only `+`/`-` records against its
    * predecessor. This is the Delta-log idea (incremental commits +
    * periodic checkpoints) reduced to the manifest store's terms, and
    * it removes the last O(table)-per-commit cost in the engine: a
    * 1-row append to a 10⁶-file table writes O(1) manifest bytes
    * instead of re-listing ~100 MB of metadata, and the engine's own
    * per-minute CDC sink stops paying metadata IO proportional to
    * table size on every micro-batch. Readers reconstruct a version
    * from the nearest checkpoint at-or-below it plus the delta tail
    * (≤ K − 1 small files), memoized per store instance in a tiny LRU
    * so consecutive-version consumers (change feeds, history walks,
    * streaming offsets) pay O(increment) amortized.
    *
    * A commit whose delta would be no SMALLER than the full list
    * (overwrite, truncate, restore across a large diff) publishes a
    * checkpoint regardless of cadence — the delta form never loses.
    * Spec-tunable cadence; 16 balances append cost against worst-case
    * reconstruction fan-in.
    */
  private[etl] var checkpointInterval: Int = 16

  private def isCheckpointVersion(v: Long): Boolean =
    v == 0L || (checkpointInterval > 0 && v % checkpointInterval == 0)

  /** Reconstructed-manifest memo (immutable per version, so never
    * invalidated): access-ordered, a handful of entries — enough for
    * the consecutive-version access patterns without holding many
    * O(files) lists on the driver.
    */
  private val manifestCache =
    new java.util.LinkedHashMap[java.lang.Long, Manifest](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.lang.Long, Manifest]): Boolean = size() > 4
    }
  private def cacheGet(v: Long): Option[Manifest] =
    manifestCache.synchronized(Option(manifestCache.get(Long.box(v))))
  private def cachePut(v: Long, m: Manifest): Unit =
    manifestCache.synchronized { manifestCache.put(Long.box(v), m); () }

  /** Atomically publish ONE version via compare-and-swap: dot-temp
    * write, fsync, then `Files.createLink` onto the version name —
    * `link(2)` is atomic create-if-absent, so exactly one of any number
    * of racing writers wins the version and every loser gets a loud
    * [[ConcurrentCommitException]] (never the silent last-writer-wins a
    * POSIX `rename(2)` would give). `expectedVersion` pins the version
    * the caller composed its file list against — when another commit
    * landed in between, the composition is stale and must be rebuilt
    * (appends rebase in [[commitAppend]]; overwrites/compactions
    * propagate the failure). A crash between link and tmp-delete
    * strands a dot-temp file — ignored by readers, reclaimed by
    * [[vacuum]]. package-private for the crash-emulation spec.
    *
    * `prev`, when given, MUST be version `expectedVersion − 1`'s
    * manifest — it saves the delta computation a re-read the caller
    * already paid for. The body is a checkpoint or a delta per the
    * cadence/size rule above; the CAS and the recorded semantics are
    * identical either way (the log format is internal).
    */
  private[etl] def publishEntries(entries: Seq[FileEntry], schema: StructType,
      statsColumn: Option[String], txn: Option[(String, Long)] = None,
      rewrite: Boolean = false, expectedVersion: Option[Long] = None,
      partCols: Seq[String] = Nil,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      prev: Option[Manifest] = None,
      mappingOverride: Option[(Map[String, String], Seq[String])] = None,
      bloomOverride: Option[Option[String]] = None): Long = {
    val v = expectedVersion.getOrElse(latestVersion.map(_ + 1L).getOrElse(0L))
    // CHECK constraints and the COLUMN MAPPING are table PROPERTIES
    // that must survive every commit shape (append, CoW, compaction,
    // restore) — inherited from the predecessor version here, at the
    // one choke point every publish passes, so no write path can
    // silently drop them; only the DDL ops (and full replaces, which
    // reset the mapping) override
    lazy val prevProps: (Seq[(String, String)], Map[String, String],
        Seq[String], Option[String]) =
      if (v == 0L) (Nil, Map.empty, Nil, None)
      else prev match {
        case Some(pm) if pm.version == v - 1L =>
          (pm.constraints, pm.colMap, pm.retired, pm.bloomColumn)
        case _ =>
          val h = readHeader(v - 1L)
          (h.constraints, h.colMap, h.retired, h.bloomColumn)
      }
    val constraints = constraintsOverride.getOrElse(prevProps._1)
    val (colMap, retired) =
      mappingOverride.getOrElse((prevProps._2, prevProps._3))
    val bloomColumn = bloomOverride.getOrElse(prevProps._4)
    val (bodyLines, isDelta) =
      if (isCheckpointVersion(v)) (entries.map(fileLine), false)
      else {
        val prevM = prev.getOrElse(readFullManifest(v - 1L))
        require(prevM.version == v - 1L,
          s"SnapshotStore.publishEntries: prev manifest is version " +
            s"${prevM.version}, expected ${v - 1L} (internal error)")
        val prevByPath = prevM.entries.map(e => e.path -> e).toMap
        val newByPath = entries.map(e => e.path -> e).toMap
        val removes = prevM.entries.collect {
          case e if !newByPath.get(e.path).contains(e) => e.path
        }
        val adds = entries.filterNot(e => prevByPath.get(e.path).contains(e))
        if (removes.length + adds.length >= entries.length)
          (entries.map(fileLine), false) // the delta form never loses
        else
          (removes.map(p => s"-\t$p") ++ adds.map(e => s"+\t${fileLine(e)}"),
            true)
      }
    val now = System.currentTimeMillis()
    writeManifest(v, schema, statsColumn, txn, rewrite, partCols,
      constraints, bodyLines, isDelta, now, colMap, retired, bloomColumn)
    // we KNOW v's content — memoize it so the read most callers issue
    // next (and every delta composed against v) is free
    cachePut(v, Manifest(schema, statsColumn, txn, rewrite, entries,
      Some(now), partCols, constraints, v, colMap, retired, bloomColumn))
    v
  }

  /** O(increment) append publish: a `+`-only delta manifest written
    * WITHOUT ever materializing the previous file list — the whole
    * point of the log-structured format. At checkpoint cadence the full
    * list is reconstructed once (checkpoint + ≤ K−1 deltas) and a
    * checkpoint published instead: amortized O(increment + files/K) per
    * commit, against O(files) for every commit before.
    */
  private def publishAppend(adds: Seq[FileEntry], schema: StructType,
      statsColumn: Option[String], txn: Option[(String, Long)],
      partCols: Seq[String], expectedVersion: Long,
      mapping: Option[(Map[String, String], Seq[String])] = None): Long = {
    val v = expectedVersion
    if (isCheckpointVersion(v)) {
      val prevM = readFullManifest(v - 1L)
      return publishEntries(prevM.entries ++ adds, schema, statsColumn, txn,
        expectedVersion = Some(v), partCols = partCols, prev = Some(prevM),
        mappingOverride = mapping)
    }
    val h = readHeader(v - 1L)
    val (colMap, retired) = mapping.getOrElse((h.colMap, h.retired))
    writeManifest(v, schema, statsColumn, txn, rewrite = false, partCols,
      h.constraints, adds.map(e => s"+\t${fileLine(e)}"), isDelta = true,
      System.currentTimeMillis(), colMap, retired, h.bloomColumn)
    // no cachePut: composing v's full list would defeat the O(increment)
    // write; the first reader reconstructs (and memoizes) it
    v
  }

  private def manifestBody(schema: StructType, statsColumn: Option[String],
      txn: Option[(String, Long)], rewrite: Boolean, partCols: Seq[String],
      constraints: Seq[(String, String)], bodyLines: Seq[String],
      isDelta: Boolean, ts: Long,
      colMap: Map[String, String], retired: Seq[String],
      bloomColumn: Option[String]): String = {
    val headerLines = Seq(s"#ts\t$ts") ++
      (if (isDelta) Seq("#delta") else Nil) ++
      statsColumn.map(c => s"#stats\t$c").toSeq ++
      (if (partCols.nonEmpty) Seq(s"#partcols\t${partCols.mkString(",")}") else Nil) ++
      txn.map { case (app, id) => s"#txn\t$app\t$id" }.toSeq ++
      (if (rewrite) Seq("#rewrite") else Nil) ++
      constraints.map { case (n, e) => s"#constraint\t$n\t$e" } ++
      (if (colMap.nonEmpty)
        Seq(s"#colmap\t${colMap.toSeq.sorted.map { case (l, ph) => s"$l=$ph" }.mkString(",")}")
      else Nil) ++
      (if (retired.nonEmpty) Seq(s"#retired\t${retired.mkString(",")}") else Nil) ++
      bloomColumn.map(c => s"#bloomcol\t$c").toSeq
    ((Header +: schema.json +: headerLines) ++ bodyLines).mkString("\n") + "\n"
  }

  /** Vacuum's retention helper: replace version `v`'s delta file with a
    * content-equivalent CHECKPOINT (same header instants and markers,
    * full reconstructed list) via atomic rename — the one place a
    * manifest file is ever rewritten, and only with its own meaning.
    */
  private def rewriteAsCheckpoint(v: Long, m: Manifest): Unit = {
    val body = manifestBody(m.schema, m.statsColumn, m.txn, m.rewrite,
      m.partCols, m.constraints, m.entries.map(fileLine), isDelta = false,
      ts = m.ts.getOrElse(backend.modifiedMillis(manifestPath(v))),
      colMap = m.colMap, retired = m.retired, bloomColumn = m.bloomColumn)
    // content-equivalent replace: racing readers see old or new body,
    // both resolving to the same manifest — plain PUT on object stores
    backend.replaceAtomic(manifestPath(v), body.getBytes(StandardCharsets.UTF_8))
  }

  private def writeManifest(v: Long, schema: StructType,
      statsColumn: Option[String], txn: Option[(String, Long)],
      rewrite: Boolean, partCols: Seq[String],
      constraints: Seq[(String, String)], bodyLines: Seq[String],
      isDelta: Boolean, ts: Long,
      colMap: Map[String, String], retired: Seq[String],
      bloomColumn: Option[String]): Unit = {
    val body = manifestBody(schema, statsColumn, txn, rewrite, partCols,
      constraints, bodyLines, isDelta, ts, colMap, retired, bloomColumn)
    // THE commit CAS — durable create-if-absent through the backend
    // seam (link(2) on the nio backend; a conditional PUT on an object
    // store). The loser of a race gets `false`, never a torn body.
    if (!backend.publishAtomic(manifestPath(v),
        body.getBytes(StandardCharsets.UTF_8)))
      throw new ConcurrentCommitException(
        s"SnapshotStore: version $v was committed by a concurrent writer at " +
          s"$root — this commit composed against a stale snapshot " +
          "(appends rebase automatically; overwrites/compactions must be " +
          "re-decided against the new table state)")
    if (v > cachedLatest) cachedLatest = v // we VERIFIED v exists (we made it)
  }

  /** One manifest entry line. Grow-only grammar: 3 fields (path, min,
    * max) for the legacy common case, a 4th when DVs exist, a 5th when
    * SECONDARY stats exist, a 6th when the file's BYTE SIZE is recorded
    * ('-' = absent slot) — manifests without the newer features stay
    * byte-compatible with old readers, and every field after the path
    * is independently optional.
    */
  private def fileLine(e: FileEntry): String = {
    val width =
      if (e.bloom.nonEmpty) 7
      else if (e.bytes.nonEmpty) 6
      else if (e.extra.nonEmpty) 5
      else if (e.dv.nonEmpty) 4
      else if (e.min.nonEmpty && e.max.nonEmpty) 3
      else 1
    val fields = Seq(
      e.path,
      e.min.map(_.toString).getOrElse("-"),
      e.max.map(_.toString).getOrElse("-"),
      if (e.dv.nonEmpty) e.dv.mkString(",") else "-",
      if (e.extra.nonEmpty)
        e.extra.map { case (c, mn, mx) => s"$c=$mn:$mx" }.mkString(",")
      else "-",
      e.bytes.map(_.toString).getOrElse("-"),
      e.bloom.getOrElse("-"))
    fields.take(width).mkString("\t")
  }


  /** Full parsed manifest. `txn` is the streaming sink's committed
    * batch id — the idempotence marker that makes micro-batch replay a
    * no-op (see [[SnapshotStore.lastTxn]]). `rewrite` marks a
    * dataChange=false commit (compaction): same rows, new layout —
    * change feeds skip it. `entries` is the RECONSTRUCTED full file
    * list regardless of whether the version was stored as a checkpoint
    * or a delta — the log format is invisible above this type.
    */
  private[graft] final case class Manifest(schema: StructType,
      statsColumn: Option[String], txn: Option[(String, Long)], rewrite: Boolean,
      entries: Seq[FileEntry], ts: Option[Long] = None,
      partCols: Seq[String] = Nil,
      constraints: Seq[(String, String)] = Nil,
      version: Long = -1L,
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      bloomColumn: Option[String] = None)

  /** Per-version header (everything except the file list) — what the
    * O(1) metadata paths (txn ledger scans, timestamp resolution,
    * schema pins, constraint inheritance, append validation) read
    * instead of reconstructing a full manifest.
    */
  private[graft] final case class ManifestHeader(schema: StructType,
      statsColumn: Option[String], txn: Option[(String, Long)],
      rewrite: Boolean, ts: Option[Long], partCols: Seq[String],
      constraints: Seq[(String, String)], isDelta: Boolean,
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      bloomColumn: Option[String] = None)

  private def parseHeader(v: Long, schemaLine: String,
      headerLines: Seq[String]): ManifestHeader = {
    val schema = DataType.fromJson(schemaLine).asInstanceOf[StructType]
    val statsCol = headerLines.find(_.startsWith("#stats\t"))
      .map(_.stripPrefix("#stats\t"))
    val txn = headerLines.find(_.startsWith("#txn\t"))
      .flatMap { line =>
        line.stripPrefix("#txn\t").split("\t", -1) match {
          case Array(app, id) => Some((app, id.toLong))
          case Array(id) => Some(("default", id.toLong)) // legacy 1-field line
          case _ => None
        }
      }
    val rewrite = headerLines.contains("#rewrite")
    val ts = headerLines.find(_.startsWith("#ts\t"))
      .map(_.stripPrefix("#ts\t").toLong)
    val partCols = headerLines.find(_.startsWith("#partcols\t"))
      .map(_.stripPrefix("#partcols\t").split(",").toSeq).getOrElse(Nil)
    val constraints = headerLines.filter(_.startsWith("#constraint\t")).map { l =>
      val parts = l.stripPrefix("#constraint\t").split("\t", 2)
      require(parts.length == 2,
        s"SnapshotStore: malformed #constraint line '${l.take(120)}'")
      (parts(0), parts(1))
    }
    // COLUMN MAPPING (Delta's 'name'-mode idea): `#colmap` lists the
    // logical→physical renames in force for this version's files;
    // `#retired` lists physical names still present INSIDE current data
    // files but no longer mapped (dropped columns) — what stops a
    // later ADD COLUMNS from resurrecting old values under a reused name
    val colMap = headerLines.find(_.startsWith("#colmap\t"))
      .map(_.stripPrefix("#colmap\t").split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        require(eq > 0, s"SnapshotStore: malformed #colmap field '$kv'")
        (kv.substring(0, eq), kv.substring(eq + 1))
      }.toMap).getOrElse(Map.empty[String, String])
    val retired = headerLines.find(_.startsWith("#retired\t"))
      .map(_.stripPrefix("#retired\t").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    val bloomCol = headerLines.find(_.startsWith("#bloomcol\t"))
      .map(_.stripPrefix("#bloomcol\t"))
    ManifestHeader(schema, statsCol, txn, rewrite, ts, partCols, constraints,
      headerLines.contains("#delta"), colMap, retired, bloomCol)
  }

  /** Header-only read: a buffered scan that STOPS at the first entry
    * line, so it is O(header) even on a checkpoint manifest listing
    * 10⁶ files — the difference between an O(1) `lastTxn`/`versionAt`
    * probe and re-reading megabytes of file list per version walked.
    */
  private[graft] def readHeader(v: Long): ManifestHeader = {
    val p = manifestPath(v)
    require(backend.exists(p),
      s"SnapshotStore: version $v does not exist at $root " +
        s"(have: ${versions.mkString(",")})")
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(backend.open(p), StandardCharsets.UTF_8))
    try {
      val first = br.readLine()
      require(first == Header,
        s"SnapshotStore: ${p.getFileName} is not a $Header manifest")
      val schemaLine = br.readLine()
      require(schemaLine != null,
        s"SnapshotStore: ${p.getFileName} is truncated (no schema line)")
      val hdr = scala.collection.mutable.ArrayBuffer.empty[String]
      var line = br.readLine()
      while (line != null && (line.isEmpty || line.startsWith("#"))) {
        if (line.nonEmpty) hdr += line
        line = br.readLine()
      }
      parseHeader(v, schemaLine, hdr.toSeq)
    } finally br.close()
  }

  /** One version file, parsed but NOT reconstructed: a checkpoint
    * carries `entries`, a delta carries `removes`/`adds` records.
    */
  private final case class RawManifest(header: ManifestHeader,
      entries: Seq[FileEntry], removes: Seq[String], adds: Seq[FileEntry])

  private def parseRaw(v: Long): RawManifest = {
    val p = manifestPath(v)
    require(backend.exists(p),
      s"SnapshotStore: version $v does not exist at $root " +
        s"(have: ${versions.mkString(",")})")
    val lines = new String(backend.readBytes(p), StandardCharsets.UTF_8)
      .linesIterator.toSeq
    require(lines.nonEmpty && lines.head == Header,
      s"SnapshotStore: ${p.getFileName} is not a $Header manifest")
    val rest = lines.drop(2).filter(_.nonEmpty)
    val header = parseHeader(v, lines(1), rest.takeWhile(_.startsWith("#")))
    val body = rest.dropWhile(_.startsWith("#"))
    if (!header.isDelta) RawManifest(header, body.map(parseFileLine), Nil, Nil)
    else {
      val removes = scala.collection.mutable.ArrayBuffer.empty[String]
      val adds = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      body.foreach { l =>
        if (l.startsWith("-\t")) removes += l.substring(2)
        else if (l.startsWith("+\t")) adds += parseFileLine(l.substring(2))
        else throw new IllegalArgumentException(
          s"SnapshotStore: malformed delta record '${l.take(120)}' in v$v")
      }
      RawManifest(header, Nil, removes.toSeq, adds.toSeq)
    }
  }

  private def toManifest(v: Long, h: ManifestHeader,
      entries: Seq[FileEntry]): Manifest =
    Manifest(h.schema, h.statsColumn, h.txn, h.rewrite, entries, h.ts,
      h.partCols, h.constraints, v, h.colMap, h.retired, h.bloomColumn)

  /** Apply one delta's records: removals first (path-keyed), then the
    * added entries appended — a DV/stats CHANGE to an existing file is
    * recorded as `-path` + `+line`, so remove-then-add is the one
    * ordering every record shape needs.
    */
  private def applyDelta(prev: Seq[FileEntry], removes: Seq[String],
      adds: Seq[FileEntry]): Seq[FileEntry] = {
    val base =
      if (removes.isEmpty) prev
      else { val rm = removes.toSet; prev.filterNot(e => rm.contains(e.path)) }
    base ++ adds
  }

  /** Resolve version `v` to its full manifest: a checkpoint directly,
    * a delta by walking back to the nearest checkpoint (or memoized
    * version) and replaying the record tail forward — ≤ K−1 small
    * reads, O(increment) each, memoized so consecutive-version readers
    * pay one delta per step. Loud when any version in the chain is
    * missing (vacuum materializes the oldest kept version as a
    * checkpoint precisely so this cannot happen through the API).
    */
  private[graft] def readFullManifest(v: Long): Manifest = {
    cacheGet(v).foreach(return _)
    val raw = parseRaw(v)
    val m =
      if (!raw.header.isDelta) toManifest(v, raw.header, raw.entries)
      else {
        var chain = List(raw) // ascending tail ending at v
        var b = v - 1L
        var base: Seq[FileEntry] = null
        while (base == null) {
          cacheGet(b) match {
            case Some(cached) => base = cached.entries
            case None =>
              val r = parseRaw(b) // loud when the chain is broken
              if (!r.header.isDelta) base = r.entries
              else { chain = r :: chain; b -= 1L }
          }
        }
        val entries = chain.foldLeft(base)((acc, r) =>
          applyDelta(acc, r.removes, r.adds))
        toManifest(v, raw.header, entries)
      }
    cachePut(v, m)
    m
  }

  /** Parse one entry line of the grow-only grammar (see [[fileLine]]). */
  private def parseFileLine(line: String): FileEntry = {
    def stat(s: String) = if (s == "-") None else Some(s.toLong)
    def dvsOf(s: String) = if (s == "-") Nil else s.split(",").toSeq.filter(_.nonEmpty)
    def extraOf(s: String): Seq[(String, Long, Long)] =
      if (s == "-" || s.isEmpty) Nil
      else s.split(",").toSeq.map { kv =>
        val eq = kv.indexOf('='); val colon = kv.lastIndexOf(':')
        require(eq > 0 && colon > eq,
          s"SnapshotStore: malformed secondary-stats field '$kv'")
        (kv.substring(0, eq), kv.substring(eq + 1, colon).toLong,
          kv.substring(colon + 1).toLong)
      }
    line.split("\t", -1) match {
      case Array(path, mn, mx) => FileEntry(path, stat(mn), stat(mx))
      case Array(path, mn, mx, dvs) =>
        FileEntry(path, stat(mn), stat(mx), dvsOf(dvs))
      case Array(path, mn, mx, dvs, extra) =>
        FileEntry(path, stat(mn), stat(mx), dvsOf(dvs), extraOf(extra))
      case Array(path, mn, mx, dvs, extra, bytes) =>
        FileEntry(path, stat(mn), stat(mx), dvsOf(dvs), extraOf(extra),
          stat(bytes))
      case Array(path, mn, mx, dvs, extra, bytes, bloom) =>
        FileEntry(path, stat(mn), stat(mx), dvsOf(dvs), extraOf(extra),
          stat(bytes), if (bloom == "-") None else Some(bloom))
      case Array(path) => FileEntry(path, None, None)
      case _ => throw new IllegalArgumentException(
        s"SnapshotStore: malformed manifest line '${line.take(120)}'")
    }
  }

  /** Commit instant of version `v`: the `#ts` embedded in the manifest
    * (survives filesystem copy/restore), mtime fallback for manifests
    * published before the header existed.
    */
  private def commitMillis(v: Long): Long =
    readHeader(v).ts.getOrElse(backend.modifiedMillis(manifestPath(v)))
}

/** A commit lost the version CAS: another writer published the version
  * this commit composed against. Appends rebase-retry automatically in
  * [[SnapshotStore.commitAppend]]; overwrites and copy-on-write merges
  * surface it — their composition is stale and must be re-decided
  * against the new table state; compactions rebase when the racers
  * didn't touch their rewritten file set.
  *
  * `retryable = false` marks a conflict no amount of retrying can
  * resolve (the table's partition LAYOUT changed under an append: the
  * staged files have the wrong directory shape) — the rebase loops
  * rethrow it on first sight instead of spinning out their attempt
  * budget against a certainty.
  */
final class ConcurrentCommitException(msg: String, val retryable: Boolean = true)
  extends IllegalStateException(msg)

object SnapshotStore {

  /** Hadoop configuration of the driver-side footer reads where no
    * session is at hand: the store is local/NFS only, so the defaults
    * serve every store in the JVM. It ignores a session's `spark.hadoop.*`
    * settings, so a caller holding a session passes that session's
    * `hadoopConfiguration` instead.
    */
  private[etl] lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** A parquet file opened for its footer. The read options come from
    * `conf`: parquet's default options build a fresh `Configuration`,
    * parsing `core-default.xml`, on every open.
    */
  private[etl] def openParquet(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** The record count a parquet file's footer holds: one footer read, no
    * data page.
    */
  private[etl] def parquetRows(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val r = openParquet(p, conf)
    try r.getRecordCount finally r.close()
  }

  /** Hive's sentinel directory name for a NULL partition value. */
  val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Format-layer view of one manifest entry: absolute data-file path,
    * primary stats interval, live-DV flag, secondary stats, and the
    * commit-time byte size (None on pre-size manifests — consumers fall
    * back through [[SnapshotStore.infoBytes]]'s counted stat).
    */
  private[graft] final case class EntryInfo(absPath: String,
      min: Option[Long], max: Option[Long], hasDv: Boolean,
      extra: Seq[(String, Long, Long)], bytes: Option[Long],
      bloom: Option[String])

  /** One WHEN clause of a general MERGE ([[SnapshotStore.mergeClauses]]).
    * Conditions and set/insert values are opaque [[org.apache.spark.sql.Column]]s
    * over the PREFIXED join namespace: `__t_<col>` is the target row's
    * column, `__s_<col>` the source row's — the two-sided references a
    * MERGE condition like `t.v <> s.v` needs, without attribute
    * ambiguity. An empty `sets` map means the star action (`UPDATE SET *`
    * / `INSERT *`: every table column from the same-named source
    * column); a partial UPDATE keeps unassigned columns, a partial
    * INSERT null-pads them. Clause order is first-match-wins, per SQL.
    */
  sealed trait MergeClause { def cond: Option[org.apache.spark.sql.Column] }
  final case class MergeUpdate(cond: Option[org.apache.spark.sql.Column],
      sets: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  final case class MergeDelete(cond: Option[org.apache.spark.sql.Column])
      extends MergeClause
  final case class MergeInsert(cond: Option[org.apache.spark.sql.Column],
      sets: Map[String, org.apache.spark.sql.Column]) extends MergeClause

  /** Normalize an analyzed predicate to plain comparable conjuncts:
    * RuntimeReplaceable nodes (BETWEEN & co.) become their replacement,
    * and With/CommonExpressionRef common-subexpression factoring is
    * inlined — the forms the bounds fold and the DML re-bind can
    * actually walk. Purely structural; the expression is never
    * executed in this form.
    */
  private[graft] def inlineReplaceable(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef,
      RuntimeReplaceable, With}
    val replaced = e.transformUp {
      case r: RuntimeReplaceable => r.replacement
    }
    replaced.transformUp {
      case With(child, defs) =>
        val byId = defs.map(d => d.id -> d.child).toMap
        child.transformUp {
          case ref: CommonExpressionRef if byId.contains(ref.id) => byId(ref.id)
        }
    }
  }

  /** Undo the hive path escaping `partitionBy` applies to special
    * characters in partition values (percent-encoded, e.g. `%3A` for
    * ':'). Malformed escapes pass through literally — a tuple that
    * compares unequal, never an exception.
    */
  def unescapePathValue(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** [[Pipeline.Sink]] over a [[SnapshotStore]] — drop-in for the
    * ParquetSink/FileSink positions in `processTable`, upgrading the
    * RAW zone to atomic versioned semantics: K2/K4 append lands as a
    * new version extending the old file list (none for an empty frame,
    * the [[Pipeline.Sink]] contract); K3 truncate publishes an
    * empty manifest instead of deleting history; `overwrite` is the
    * full-refresh path (sync.py:112-114 parity).
    */
  final case class SnapshotSink(store: SnapshotStore,
      mergeSchema: Boolean = false) extends Pipeline.Sink {
    def append(df: DataFrame): Unit =
      store.commitAppendNonEmpty(df, mergeSchema)
    def truncate(spark: SparkSession, schema: StructType): Unit =
      store.commitTruncate(schema)
    def overwrite(df: DataFrame): Long = store.commitOverwrite(df)
  }

  /** Checkpointed consumer position for [[SnapshotStore.readChanges]] —
    * the version-keyed twin of [[Pipeline.WatermarkStore]]'s wall-clock
    * protocol, with the same at-least-once contract: process the feed
    * FIRST, advance the cursor AFTER, so a crash in between replays the
    * last range instead of losing it. Unlike the wall-clock watermark
    * there is no overlap re-send in steady state — versions are exact,
    * so steady-state delivery is exactly-once. Written dot-temp +
    * ATOMIC_MOVE like a manifest: a crashed advance leaves the old
    * cursor, never a torn one.
    */
  final class VersionCursor(dir: String) {
    private def path(table: String): Path =
      Paths.get(dir, s"last_version_$table.txt")

    /** Last consumed version; -1 before any consumption (so the first
      * `readChanges(last, ...)` feed starts at the table's creation).
      */
    def last(table: String): Long =
      if (Files.isRegularFile(path(table)))
        new String(Files.readAllBytes(path(table)), StandardCharsets.UTF_8).trim.toLong
      else -1L

    def advance(table: String, version: Long): Unit = {
      Files.createDirectories(Paths.get(dir))
      val tmp = Paths.get(dir, s".tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, path(table), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** [[Pipeline.Source]] over a [[SnapshotStore]]: reads one committed
    * version (default latest) — the consumer side of the versioned RAW
    * zone, pinned to its manifest for the whole downstream pipeline
    * regardless of concurrent re-syncs.
    */
  final case class SnapshotSource(store: SnapshotStore,
      asOfVersion: Option[Long] = None) extends Pipeline.Source {
    def load(spark: SparkSession): DataFrame = store.read(spark, asOfVersion)
  }
}
