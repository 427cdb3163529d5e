package graft.streaming

import java.sql.Timestamp
import graft.etl.JdbcQuarantine
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference's "incremental" path is a batch loop with a persisted
  * watermark file (ingest.py:475-505,802-822) — at-least-once, wall-clock
  * watermark. Structured Streaming is the native generalization: the
  * watermark is data-driven (`withWatermark`), state is managed by the
  * engine, and exactly-once sinks replace the truncate/on_error
  * absorption strategy.
  *
  * Every transform here is defined on a plain DataFrame so the SAME
  * function serves batch (testdata parquet, DuckDB-oracle-checkable) and
  * streaming (readStream) inputs — the Dataset API is identical by
  * design. Specs drive them through MemoryStream.
  */
object EventStreams {

  /** Tumbling-window aggregate: count + sum(value) per (window, type).
    * Streaming: late rows beyond `delay` are dropped, state is evicted
    * once the watermark passes the window end — bounded memory at any
    * throughput.
    */
  def tumblingCounts(events: DataFrame, windowLen: String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("total"))

  /** Sliding-window per-type event rate. */
  def slidingCounts(events: DataFrame, windowLen: String, slide: String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** One user session: bounded by an inactivity gap, aggregated stats. */
  final case class Session(
      userId: Long, startTs: Timestamp, endTs: Timestamp, nEvents: Long, total: Double)

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  // State as a tuple (start, last, n, total): tuple encoders survive
  // whole-stage codegen where a nested private case class trips Janino.
  private type SessionState = (Long, Long, Long, Double)

  /** One prequentially-scored event from [[seasonalAnomalies]]. */
  final case class SlotScore(
      event_type: String, phase: Long, ts: Timestamp, event_id: Long,
      value: Double, baseline: Double, is_anomaly: Boolean)

  /** Streaming twin of the batch seasonal-naive anomaly screen
    * (q194, [[graft.ext.TimeSeries.seasonalNaiveResidual]]): per
    * (event_type, hour-of-week slot), a running (n, Σv, Σv²) state
    * scores each arriving event PREQUENTIALLY — against the slot
    * statistics accumulated from all earlier events only — then folds
    * it in. `|v − mean| > 3σ` flags, gated on `minObs` prior
    * observations so a cold slot never alarms. Within a micro-batch,
    * rows are scored in (ts, event_id) order, so a replay of the same
    * feed produces the identical verdict sequence.
    *
    * The batch operator answers "which events were anomalous against
    * the season's final statistics"; this one answers the question a
    * live monitor actually asks — "was this event anomalous given what
    * we knew when it arrived".
    *
    * State is deliberately NoTimeout: the key space is bounded by
    * construction (168 slots × |event types|), so there is nothing to
    * evict — the state is the model. flatMapGroupsWithState because
    * the declarative API has no score-then-update primitive
    * (aggregation would fold the event in before scoring it).
    */
  def seasonalAnomalies(
      events: Dataset[Event], minObs: Long, delay: String): Dataset[SlotScore] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(e => (e.event_type, (e.ts.getTime / 1000L / 3600L) % 168L))
      .flatMapGroupsWithState[(Long, Double, Double), SlotScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((etype, phase), rows, state) =>
          var (n, s1, s2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val baseline = if (n >= 1) s1 / n else e.value
            val sd =
              if (n >= 2)
                math.sqrt(math.max((n * s2 - s1 * s1) / (n.toDouble * n), 0.0))
              else 0.0
            val anomaly = n >= minObs && math.abs(e.value - baseline) > 3.0 * sd
            n += 1
            s1 += e.value
            s2 += e.value * e.value
            SlotScore(etype, phase, e.ts, e.event_id, e.value, baseline, anomaly)
          }
          state.update((n, s1, s2))
          out.iterator
      }
  }

  /** One per-key sketch update from [[kmvDistinctUsers]]. */
  final case class KmvEstimate(
      event_type: String, n_seen: Long, n_state: Int, est: Long)

  /** Streaming KMV distinct-user sketch — the live twin of the batch
    * q207 operator ([[graft.ext.Retrieval.kmvDistinct]]): per event
    * type, a `mapGroupsWithState` keeps the k smallest distinct
    * 2⁴⁰-space user-id hashes and emits the updated cardinality
    * estimate every micro-batch. Same hash, same (k−1)·2⁴⁰/h₍k₎
    * estimator, same sub-k-is-exact degenerate case, so after the
    * feed drains the streaming estimate EQUALS the batch sketch on
    * the same data — the mergeable-summary property exercised live
    * (each micro-batch is "union new hashes, re-take k smallest",
    * exactly how per-shard sketches compose at rest).
    *
    * State is NoTimeout and k-bounded per key (k longs — there is
    * nothing to evict; the sketch IS the state), which is the entire
    * point: distinct-counting a 100 TB stream in O(k·|keys|) memory.
    */
  def kmvDistinctUsers(
      events: Dataset[Event], k: Int, delay: String): Dataset[KmvEstimate] = {
    require(k >= 8 && k <= 65536, s"kmvDistinctUsers: k in [8, 65536], got $k")
    import events.sparkSession.implicits._
    val space = 1L << 40
    events
      .withWatermark("ts", delay)
      .groupByKey(_.event_type)
      .mapGroupsWithState[(Long, Long, Array[Long]), KmvEstimate](
        GroupStateTimeout.NoTimeout()) {
        case (etype, rows, state) =>
          // overflowed=1 once a (k+1)-th distinct hash was ever seen —
          // below that the sketch IS the distinct set and est is exact,
          // the same boundary the batch operator draws at exact <= k
          val (seen0, over0, arr0) =
            state.getOption.getOrElse((0L, 0L, Array.empty[Long]))
          val merged = scala.collection.mutable.TreeSet[Long](
            scala.collection.immutable.ArraySeq.unsafeWrapArray(arr0): _*)
          var seen = seen0
          var over = over0
          rows.foreach { e =>
            seen += 1
            merged += graft.ext.TextHash.hash64Local(e.user_id.toString) % space
            if (merged.size > k) { merged -= merged.last; over = 1L }
          }
          val arr = merged.toArray
          state.update((seen, over, arr))
          val est =
            if (over == 0L) arr.length.toLong
            else (k - 1).toLong * space / arr.last
          KmvEstimate(etype, seen, arr.length, est)
      }
  }

  /** One doc arriving at the admission gate. */
  final case class DocArrival(source: String, doc_id: Long, n_tokens: Long, ts: Timestamp)

  /** One per-source admission summary from [[budgetAdmission]]. */
  final case class AdmissionUpdate(
      source: String, budget: Long, n_seen: Long,
      n_admitted: Long, tokens_admitted: Long, cut_hash: Long)

  /** Streaming token-budget admission — the live twin of the batch
    * [[graft.ext.Sampling.budgetMixtureSample]] cut: per source, a
    * `mapGroupsWithState` maintains EXACTLY the set the batch operator
    * would keep over the docs seen so far — the maximal
    * (hash64(doc_id), doc_id)-ordered prefix whose token sum fits the
    * source's budget — and emits a summary every micro-batch.
    *
    * Order-insensitivity argument (why the final state equals the
    * batch cut regardless of arrival order): inserting a doc into the
    * hash-ordered set only INCREASES prefix sums at later positions,
    * so a doc outside the cut can never re-enter, and a doc inside
    * can only be displaced by smaller-hash arrivals — the invariant
    * "state = batch cut of everything seen" holds per arrival by
    * induction. The admitted (count, cut_hash) pair identifies the
    * set: the cut is by construction a hash-order prefix of the feed.
    *
    * State is O(admitted docs) per source — what any admission
    * controller must hold (it has to know who is in) — with budget /
    * min-token-size as the hard ceiling. Budgets come from the same
    * [[graft.ext.Sampling.budgetAllocations]] floor split as the
    * batch cut.
    */
  def budgetAdmission(
      docs: Dataset[DocArrival],
      weights: Seq[(String, Long)],
      totalBudget: Long): Dataset[AdmissionUpdate] = {
    import docs.sparkSession.implicits._
    val budgets = graft.ext.Sampling.budgetAllocations(weights, totalBudget).toMap
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[(Long, Array[Long], Array[Long], Array[Long]), AdmissionUpdate](
        GroupStateTimeout.NoTimeout()) {
        case (src, rows, state) =>
          val budget = budgets.getOrElse(src, 0L)
          val (seen0, hs0, ids0, toks0) =
            state.getOption.getOrElse((0L, Array.empty[Long], Array.empty[Long], Array.empty[Long]))
          // merge the batch's arrivals into the (hash, id)-sorted state
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          var i = 0
          while (i < hs0.length) { buf += ((hs0(i), ids0(i), toks0(i))); i += 1 }
          var seen = seen0
          rows.foreach { d =>
            seen += 1
            if (budget > 0L)
              buf += ((graft.ext.TextHash.hash64Local(d.doc_id.toString),
                d.doc_id, math.max(0L, d.n_tokens)))
          }
          val sorted = buf.sortBy(t => (t._1, t._2))
          // re-cut: the maximal prefix within budget (the batch rule —
          // the first doc that would cross is dropped, and everything
          // after it, since the running sum never decreases)
          var cum = 0L
          var kept = 0
          while (kept < sorted.length && cum + sorted(kept)._3 <= budget) {
            cum += sorted(kept)._3
            kept += 1
          }
          val cut = sorted.take(kept)
          state.update((seen, cut.map(_._1).toArray, cut.map(_._2).toArray,
            cut.map(_._3).toArray))
          AdmissionUpdate(src, budget, seen, kept.toLong, cum,
            if (kept > 0) cut(kept - 1)._1 else -1L)
      }
  }

  /** One per-key quantile-sketch update from [[quantileSketchState]]. */
  final case class QuantileSketchUpdate(
      event_type: String, n: Long, t: Int, n_items: Int,
      p50_est: Long, p90_est: Long)

  /** Streaming mergeable quantile sketch — the live twin of the batch
    * q232 operator ([[graft.ext.Retrieval.quantileSketch]]): per event
    * type, a `mapGroupsWithState` holds the hash-leveled sketch
    * (items at level ≥ t for the smallest t fitting the k budget) and
    * emits updated p50/p90 estimates every micro-batch. Levels are
    * per-row constants of the row id hash, so "insert then
    * re-threshold" is EXACTLY the batch merge rule — after the feed
    * drains, (n, t, items) equal the batch sketch of the same rows,
    * whatever the arrival order (the q229→KMV-state pattern for rank
    * queries). State is ≤ k (value, hash, level) triples per key.
    */
  def quantileSketchState(
      events: Dataset[Event], k: Int, delay: String): Dataset[QuantileSketchUpdate] = {
    require(k >= 16 && k <= 65536, s"quantileSketchState: k in [16, 65536], got $k")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.event_type)
      .mapGroupsWithState[(Long, Int, Array[Long], Array[Long], Array[Int]), QuantileSketchUpdate](
        GroupStateTimeout.NoTimeout()) {
        case (etype, rows, state) =>
          val (n0, t0, vs0, hs0, ls0) = state.getOption
            .getOrElse((0L, 0, Array.empty[Long], Array.empty[Long], Array.empty[Int]))
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          var i = 0
          while (i < vs0.length) { buf += ((vs0(i), hs0(i), ls0(i))); i += 1 }
          var n = n0
          var t = t0
          rows.foreach { e =>
            n += 1
            val h = graft.ext.TextHash.hash64Local(e.event_id.toString)
            val l = if (h == 0L) 40 else math.min(40, java.lang.Long.numberOfTrailingZeros(h))
            // value truncates toward zero — the batch cast("long") rule
            if (l >= t) buf += ((e.value.toLong, h, l))
          }
          // re-threshold: smallest t' >= t whose filtered buffer fits k
          while (buf.count(_._3 >= t) > k) t += 1
          val kept = buf.filter(_._3 >= t).sortBy(x => (x._1, x._2)).toArray
          state.update((n, t, kept.map(_._1), kept.map(_._2), kept.map(_._3)))
          def estAt(qPpm: Long): Long = {
            if (kept.isEmpty) return 0L
            val target = math.max(1L, (qPpm * n + 999999L) / 1000000L)
            val p2t = 1L << t
            val idx = math.min(kept.length.toLong, (target + p2t - 1) / p2t).toInt
            kept(idx - 1)._1
          }
          QuantileSketchUpdate(etype, n, t, kept.length, estAt(500000L), estAt(900000L))
      }
  }

  /** One confirmed cross-boundary near-dup from [[leakageGate]]. */
  final case class LeakFlag(doc_id: Long, eval_id: Long, eval_split: String, jaccard: Double)

  /** Streaming split-leakage gate — the live twin of the batch q238
    * audit ([[graft.ext.Dedup.splitLeakage]]): incoming candidate
    * TRAIN documents are checked, at admission time, against a frozen
    * eval-split LSH band index; a doc that verifies as a near-dup of
    * any val/test doc is flagged BEFORE it enters the corpus, instead
    * of surfacing in next release's leakage report.
    *
    * Identical machinery to the batch path, so the twin equality is
    * exact: the streaming side computes the SAME compiled
    * shingle → minhash → band-key expressions in its scan stage, the
    * eval index holds the same band keys, and the verify is the same
    * distinct-shingle Jaccard (`|∩| / (|A|+|B|−|∩|)`, NaN on empty
    * sets fails the threshold on both sides) — a (train, eval) pair
    * is flagged here iff [[graft.ext.Dedup.minhashLshPairs]] emits it
    * over the union corpus.
    *
    * Grouping is by doc_id, not band key: one owner per doc means
    * multi-band candidate collisions dedup inside the group function
    * (the batch `.distinct()`), and the Boolean state drops re-
    * delivered ids (the dedupWithinWatermark discipline; NoTimeout —
    * admission decisions must not expire). The eval index is a
    * closure-captured plan-time constant — the broadcast contract:
    * eval sets are frozen and orders smaller than the corpus
    * (`maxEvalDocs` fail-fast guards the collect, exactly like the
    * tokenizer-model and centroid collects).
    */
  def leakageGate(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      evalSplitCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxEvalDocs: Int = 100000): Dataset[LeakFlag] = {
    import docs.sparkSession.implicits._
    val k = bands * rowsPerBand
    def prep(df: DataFrame, extra: Seq[Column]): DataFrame = df
      .select(Seq(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.wordShingleHashes(
          col(textCol), shingleSize, graft.ext.TextHash.MinhashPrime).as("shingles")) ++
        extra: _*)
      .withColumn("sig", graft.ext.TextHash.minhashSignature(col("shingles"), k))
      .withColumn("bands", graft.ext.TextHash.bandKeys(col("sig"), bands, rowsPerBand))
    val evalRows = prep(evalDocs, Seq(col(evalSplitCol).cast("string").as("esplit")))
      .select(col("doc_id"), col("esplit"), col("shingles"), col("bands"))
      .collect()
    require(evalRows.length <= maxEvalDocs,
      s"leakageGate: eval index ${evalRows.length} docs exceeds maxEvalDocs=$maxEvalDocs " +
        "— the index is a broadcast-sized model artifact, not a corpus")
    // doc COUNT alone doesn't bound driver/executor memory: 100k docs
    // of book-length text is GBs of shingle hashes. Cap total index
    // payload at 8 bytes per hash against the same order of budget
    // (~80 MB at the default maxEvalDocs) and fail loudly past it.
    val totalShingles = evalRows.iterator.map(_.getSeq[Long](2).length.toLong).sum
    require(totalShingles <= 100L * maxEvalDocs,
      s"leakageGate: eval index carries $totalShingles shingle hashes " +
        s"(> ${100L * maxEvalDocs} = 100 x maxEvalDocs) — " +
        "the index must stay broadcast-sized; shrink the eval set or raise maxEvalDocs")
    val index: Map[String, Array[(Long, String, Array[Long])]] = evalRows
      .flatMap { r =>
        val entry = (r.getLong(0), r.getString(1), r.getSeq[Long](2).toArray)
        r.getSeq[String](3).distinct.map(b => b -> entry)
      }
      .groupBy(_._1).map { case (b, es) => b -> es.map(_._2) }
    // ship the index ONCE per executor as an explicit broadcast, not
    // once per task inside the state-function closure
    val indexBc = docs.sparkSession.sparkContext.broadcast(index)
    prep(docs, Nil)
      .select(col("doc_id"), col("shingles"), col("bands"))
      .as[(Long, Seq[Long], Seq[String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, LeakFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (docId, rows, state) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else {
            state.update(true)
            val (_, shingles, bandKeys) = rows.next()
            val mine = new java.util.HashSet[java.lang.Long](shingles.length * 2)
            shingles.foreach(h => mine.add(java.lang.Long.valueOf(h)))
            val seen = scala.collection.mutable.Set.empty[Long]
            val out = scala.collection.mutable.ArrayBuffer.empty[LeakFlag]
            bandKeys.foreach { b =>
              indexBc.value.getOrElse(b, Array.empty).foreach { case (eid, esplit, esh) =>
                if (eid != docId && seen.add(eid)) {
                  var inter = 0
                  var i = 0
                  while (i < esh.length) {
                    if (mine.contains(java.lang.Long.valueOf(esh(i)))) inter += 1
                    i += 1
                  }
                  // the batch verify expression: double division, so an
                  // empty-vs-empty 0/0 is NaN and fails the threshold
                  val j = inter.toDouble / (shingles.length + esh.length - inter).toDouble
                  if (j >= threshold) out += LeakFlag(docId, eid, esplit, j)
                }
              }
            }
            out.iterator
          }
      }
  }

  /** One admission decision from [[audioAdmissionGate]]. */
  final case class BoilerplateVerdict(
      doc_id: Long, n_chunks: Long, n_dropped: Long,
      admitted: Boolean, kept_text: String)

  /** Streaming boilerplate gate — [[graft.ext.Dedup.frequentChunkFilter]]
    * (the q265 corpus-frequency stage) applied at ingest time: the
    * frequent-chunk index is built ONCE from a static reference corpus
    * with the SAME chunking + 60-bit hash as the batch stage, capped to
    * broadcast size ([[leakageGate]]'s model-artifact discipline, with
    * an explicit broadcast so the index ships once per executor), and
    * each arriving document has its boilerplate chunks stripped before
    * it enters the corpus. Documents whose dropped-chunk share exceeds
    * `maxDroppedPpm` — or that carry no tokens at all — are rejected
    * outright (a page that is mostly navigation chrome is not worth
    * keeping even after stripping).
    *
    * The stream-side chunking is pure scan-stage column algebra
    * (slice/transform over the token array — no per-batch shuffle);
    * membership + recomposition run in the state function against the
    * broadcast index. State is one Boolean per doc_id for re-delivery
    * dedup (NoTimeout: admission decisions must not expire).
    */
  def boilerplateGate(
      docs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 8,
      maxDf: Int = 3,
      maxDroppedPpm: Long = 500000L,
      maxIndexChunks: Int = 1000000): Dataset[BoilerplateVerdict] = {
    import docs.sparkSession.implicits._
    require(maxDf >= 2, s"boilerplateGate: maxDf >= 2, got $maxDf")
    require(maxDroppedPpm >= 0L && maxDroppedPpm <= 1000000L,
      s"boilerplateGate: maxDroppedPpm in [0, 1e6], got $maxDroppedPpm")
    val freqRows = graft.ext.Dedup.chunkRelation(corpus, idCol, textCol, chunkTokens)
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= maxDf)
      .select(col("h"))
      .collect()
    require(freqRows.length <= maxIndexChunks,
      s"boilerplateGate: frequent-chunk index ${freqRows.length} entries exceeds " +
        s"maxIndexChunks=$maxIndexChunks — the index is a broadcast-sized model " +
        "artifact, not a corpus; raise maxDf or the cap")
    val indexBc = docs.sparkSession.sparkContext.broadcast(
      freqRows.map(_.getLong(0)).toSet)
    val ct = chunkTokens
    // scan-stage chunking, byte-identical to Dedup.chunkRelation's
    // (slice over the token array in original order, space re-join)
    val toks = graft.ext.TextHash.tokens(col(textCol))
    val chunksExpr = when(size(toks) > 0,
      transform(
        sequence(lit(0), ((size(toks) + (ct - 1)) / ct).cast("int") - 1),
        i => array_join(slice(toks, i * ct + 1, lit(ct)), " ")))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol).cast("long").as("doc_id"), chunksExpr.as("chunks"))
      .as[(Long, Seq[String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, BoilerplateVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (docId, rows, state) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else {
            state.update(true)
            val chunks = rows.next()._2
            val kept = chunks.filterNot(c =>
              indexBc.value.contains(graft.ext.TextHash.hash64Local(c)))
            val n = chunks.length.toLong
            val dropped = n - kept.length
            val droppedPpm = if (n > 0) dropped * 1000000L / n else 1000000L
            Iterator.single(BoilerplateVerdict(
              docId, n, dropped,
              admitted = n > 0 && droppedPpm <= maxDroppedPpm,
              kept_text = kept.mkString(" ")))
          }
      }
  }

  final case class AudioVerdict(
      media_id: Long, admitted: Boolean, reason: String,
      duration_ms: Long, clip_ppm: Long)

  /** Streaming audio admission gate — the multimodal row of the
    * admission family (q253's QA screen applied at ingest time, the
    * way [[leakageGate]] applies q238): each incoming clip is decoded
    * by the same pure-JVM [[graft.functions.WavDecode]] expression in
    * the scan stage and admitted or rejected BEFORE it enters the
    * corpus, with the reason attached:
    *
    *   - `undecodable` — the RIFF walk failed (corrupt container,
    *     non-PCM, truncated raster): decode failure is data;
    *   - `too_short`  — duration below `minDurationMs`;
    *   - `clipped`    — rail-pinned sample share above `maxClipPpm`
    *     (the recording-chain-defect screen);
    *   - `ok`         — admitted.
    *
    * Thresholds evaluate on the SAME integer formulas as the batch
    * [[graft.multimodal.Media.audioStats]] (duration = n·10³ div
    * rate; clip share = clips·10⁶ div n, the clips counted by the same
    * [[graft.functions.PcmStats]] kernel), so the stream's verdict for
    * any clip equals the batch screen's — the twin contract. State is
    * one Boolean per media_id for re-delivery dedup (NoTimeout:
    * admission decisions must not expire), exactly the
    * [[leakageGate]] discipline.
    */
  def audioAdmissionGate(
      clips: DataFrame,
      idCol: String,
      bytesCol: String,
      minDurationMs: Long,
      maxClipPpm: Long): Dataset[AudioVerdict] = {
    import clips.sparkSession.implicits._
    import graft.functions.AudioFunctions._
    val scored = clips
      .select(col(idCol).cast("long").as("media_id"),
        wavDecode(col(bytesCol).cast("binary")).as("__wav"))
      .select(col("media_id"),
        col("__wav").isNotNull.as("__ok"),
        coalesce(expr("CAST(__wav.n_samples AS BIGINT) * 1000L div __wav.sample_rate"),
          lit(0L)).as("duration_ms"),
        coalesce(
          when(col("__wav.n_samples") > 0,
            pcmStats(col("__wav.samples"), col("__wav.bits")).getField("clip_count") *
              lit(1000000L)),
          lit(0L)).as("__clips_x1m"),
        coalesce(col("__wav.n_samples").cast("long"), lit(0L)).as("__n"))
      .select(col("media_id"), col("__ok"), col("duration_ms"),
        when(col("__n") > 0L, expr("__clips_x1m div __n")).otherwise(lit(0L))
          .as("clip_ppm"))
      .withColumn("reason",
        when(!col("__ok"), "undecodable")
          .when(col("duration_ms") < minDurationMs, "too_short")
          .when(col("clip_ppm") > maxClipPpm, "clipped")
          .otherwise("ok"))
      .select(col("media_id"), (col("reason") === "ok").as("admitted"),
        col("reason"), col("duration_ms"), col("clip_ppm"))
      .as[AudioVerdict]
    scored.groupByKey(_.media_id)
      .flatMapGroupsWithState[Boolean, AudioVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else { state.update(true); Iterator.single(rows.next()) }
      }
  }

  final case class VideoVerdict(
      media_id: Long, admitted: Boolean, reason: String,
      n_frames: Long, mean_luma: Long)

  /** Streaming video admission gate — the q269 decode screen applied
    * at ingest time, completing the image/audio/video admission
    * family: each incoming container goes through the same pure-JVM
    * [[graft.functions.AviFrames]] RIFF walk in the scan stage and is
    * admitted or rejected BEFORE entering the corpus:
    *
    *   - `undecodable` — the RIFF walk failed (bad magic, compressed
    *     stream, truncated or geometry-mismatched frames);
    *   - `too_short`   — fewer container frames than `minFrames`;
    *   - `exposure`    — mean sampled-frame luma outside
    *     [minLuma, maxLuma] (the all-black / blown-out screen);
    *   - `ok`          — admitted.
    *
    * The luma mean is the SAME integer formula as the batch
    * [[graft.multimodal.Media.videoFrameStats]] (per-frame sums in
    * long, floor division) — the twin contract. One Boolean per
    * media_id for re-delivery dedup, NoTimeout, the
    * [[audioAdmissionGate]] discipline.
    */
  def videoAdmissionGate(
      videos: DataFrame,
      idCol: String,
      bytesCol: String,
      every: Int = 2,
      minFrames: Int = 2,
      minLuma: Long = 16L,
      maxLuma: Long = 240L): Dataset[VideoVerdict] = {
    import videos.sparkSession.implicits._
    import graft.functions.MediaFunctions._
    val scored = videos
      .select(col(idCol).cast("long").as("media_id"),
        aviFrames(col(bytesCol).cast("binary"), lit(every)).as("__v"))
      .select(col("media_id"),
        col("__v").isNotNull.as("__ok"),
        coalesce(col("__v.n_frames").cast("long"), lit(0L)).as("n_frames"),
        coalesce(
          expr("aggregate(__v.frames, 0L, (a, f) -> a + " +
            "aggregate(f.gray, 0L, (b, x) -> b + x) div size(f.gray)) " +
            "div size(__v.frames)"),
          lit(0L)).as("mean_luma"))
      .withColumn("reason",
        when(!col("__ok"), "undecodable")
          .when(col("n_frames") < minFrames, "too_short")
          .when(col("mean_luma") < minLuma || col("mean_luma") > maxLuma,
            "exposure")
          .otherwise("ok"))
      .select(col("media_id"), (col("reason") === "ok").as("admitted"),
        col("reason"), col("n_frames"), col("mean_luma"))
      .as[VideoVerdict]
    scored.groupByKey(_.media_id)
      .flatMapGroupsWithState[Boolean, VideoVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else { state.update(true); Iterator.single(rows.next()) }
      }
  }

  /** One per-bucket update from [[runningFingerprint]]. */
  final case class BucketFingerprint(bucket: Long, n_rows: Long, xor_fp: Long)

  /** Streaming XOR dataset fingerprint — the live twin of the batch
    * q214/q220 reconciliation operators: per key-hash bucket, a
    * running (count, XOR-of-row-hashes) state updated each
    * micro-batch. XOR is commutative/associative/self-inverse, so
    * after any prefix of the feed the state EQUALS the batch
    * [[graft.ext.Profile.datasetFingerprint]] of the rows seen so far
    * — a continuously-maintained merkle layer: compare the live
    * buckets against a warehouse snapshot's and only differing
    * buckets need a rescan. State is exactly 2 longs per bucket
    * (B-bounded, NoTimeout — the fingerprint IS the state).
    */
  def runningFingerprint(
      rows: DataFrame, ts: String, key: Column, rowRepr: Column,
      buckets: Int, delay: String): Dataset[BucketFingerprint] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"runningFingerprint: buckets in [2, 2^20], got $buckets")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .withWatermark(ts, delay)
      .select(
        pmod(graft.ext.TextHash.hash64(key.cast("string")), lit(buckets.toLong))
          .as("bucket"),
        graft.ext.TextHash.hash64(rowRepr).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), BucketFingerprint](
        GroupStateTimeout.NoTimeout()) {
        case (bucket, rs, state) =>
          var (n, fp) = state.getOption.getOrElse((0L, 0L))
          rs.foreach { case (_, h) => n += 1; fp ^= h }
          state.update((n, fp))
          BucketFingerprint(bucket, n, fp)
      }
  }

  /** Custom stateful operator: gap-based sessionization via
    * flatMapGroupsWithState with an event-time timeout — the piece the
    * declarative API can't express (KeyValueGroupedDataset surface).
    * Emits a session once `gapMs` of event-time passes with no activity.
    */
  def sessionize(events: Dataset[Event], gapMs: Long, delay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val (start, last, n, total) = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(start), new Timestamp(last), n, total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // within the gap of the open session's INTERVAL — a
                // cross-batch late event may extend it backward, not
                // just forward
                case Some((start, last, n, total))
                    if t >= start - gapMs && t - last <= gapMs =>
                  cur = Some((math.min(start, t), math.max(last, t), n + 1, total + e.value))
                // late beyond the open session's reach: emit as its own
                // closed session (bounded approximation — anything that
                // could still merge with it is older than the watermark)
                case Some((start, _, _, _)) if t < start - gapMs =>
                  closed += Session(userId, new Timestamp(t), new Timestamp(t), 1L, e.value)
                case Some((start, last, n, total)) =>
                  closed += Session(userId, new Timestamp(start), new Timestamp(last), n, total)
                  cur = Some((t, t, 1L, e.value))
                case None =>
                  cur = Some((t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s._2 + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** A silence alert: `userId` produced nothing for `silenceMs` of
    * event time after `lastTs`. */
  final case class GapAlert(userId: Long, lastTs: Timestamp, deadlineTs: Timestamp)

  /** Silent-key detection — the streaming twin of the batch gap
    * statistics (q108 `TimeSeries.gapStats`). Emits one [[GapAlert]]
    * when a key goes `silenceMs` of EVENT TIME without an event; a new
    * event after the alert re-arms the key, so each silence episode
    * alerts exactly once. State per key is one (lastTs) long, evicted
    * at alert time — bounded by the live-key count, not history.
    *
    * Timeout semantics worth spelling out: flatMapGroupsWithState's
    * event-time timeout fires only for groups with NO data in the
    * triggering batch, so a key whose next event arrives in the same
    * batch that crosses its deadline is (correctly) not alerted — the
    * event proves it wasn't silent.
    */
  def gapAlerts(events: Dataset[Event], silenceMs: Long, delay: String): Dataset[GapAlert] = {
    // a non-positive silence would set timeouts at-or-before the
    // watermark, which Spark rejects MID-BATCH — fail fast instead
    require(silenceMs > 0, s"gapAlerts: silenceMs must be positive, got $silenceMs")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, GapAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(
              GapAlert(userId, new Timestamp(last), new Timestamp(last + silenceMs)))
          } else {
            val latest = rows.map(_.ts.getTime).max
            val last = math.max(latest, state.getOption.getOrElse(Long.MinValue))
            state.update(last)
            state.setTimeoutTimestamp(last + silenceMs)
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch keyed
    * dropDuplicates (q50). Plain `dropDuplicates` on a stream keeps
    * every key ever seen (unbounded state); the WithinWatermark variant
    * guarantees dedup for duplicates arriving within `delay` of the
    * first sighting and EVICTS the key's state once the watermark
    * passes it — bounded memory under unbounded input. The contract is
    * deliberately one-sided: a duplicate re-arriving after eviction is
    * emitted again (at-least-once dedup), which is the only semantics a
    * finite-state operator can honor.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String, keyCols: String*): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Stream-stream inner join: match each event with later events of a
    * second stream for the same user within `withinMs`. Both sides carry
    * watermarks and the join has a two-sided time-bound condition, so
    * state on either side is evicted once the watermark passes the
    * window — bounded memory under unbounded input (the requirement for
    * any stream-stream join Spark will accept in append mode).
    */
  def correlate(clicks: DataFrame, views: DataFrame, withinMs: Long, delay: String): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", delay)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        // milliseconds, not a /1000 second truncation: a 500 ms window
        // must not silently become zero
        col("view_ts") <= col("click_ts") + expr(s"INTERVAL $withinMs MILLISECONDS"))
      .select(col("click_id"), col("view_id"), col("user_id"), col("click_ts"), col("view_ts"))
  }

  /** Stream-stream LEFT OUTER correlate: like [[correlate]], but a
    * click with NO view inside the window still emits — with null view
    * columns — once the watermark passes the point where a matching
    * view could still arrive. The attribution shape ("which clicks
    * never converted") that an inner join silently drops; Spark holds
    * the unmatched left rows in state until the time bound + watermark
    * expire them, so state stays bounded by the window, not the
    * stream. Both event-time bounds on the join condition are REQUIRED
    * for that eviction — without them the state would grow forever and
    * unmatched rows would never emit.
    */
  def correlateLeftOuter(
      clicks: DataFrame, views: DataFrame, withinMs: Long, delay: String): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", delay)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr(s"INTERVAL $withinMs MILLISECONDS"),
      "left_outer")
      .select(col("click_id"), col("view_id"), col("user_id"), col("click_ts"), col("view_ts"))
  }

  /** Stream-static gate: drop incoming rows whose key appears in a
    * STATIC reference relation — the streaming shape of benchmark
    * decontamination (live ingest vs a fixed eval-fingerprint table)
    * and of block-list filtering. A left-anti stream-static join is
    * stateless on the stream side (no watermark bookkeeping: the
    * static side is a plain relation Spark re-plans per micro-batch,
    * broadcast when small enough), so throughput is scan-speed. The
    * mirror `keep = true` flips to an allow-list semi-join.
    */
  def staticKeyGate(
      stream: DataFrame, static: DataFrame, keyCol: String,
      keep: Boolean = false): DataFrame =
    stream.join(static.select(col(keyCol)).distinct(), Seq(keyCol),
      if (keep) "left_semi" else "left_anti")

  /** Wire a streaming source of the events shape from a directory of
    * parquet (file-source streaming — the prod pattern for landed data).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Standard sink wiring: parquet append with checkpointing (exactly-once
    * file sink), trigger left to the caller.
    */
  def writeEventStream(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)

  /** One micro-batch of the exactly-once JDBC warehouse sink — public
    * so a retry is directly testable. Idempotence protocol (the
    * batchId-ledger pattern; the reference absorbs the same
    * at-least-once gap via warehouse-connector options,
    * `/root/reference/ingest.py:813-819`):
    *
    *   1. `<table>_commits` is the commit ledger (one batch_id row per
    *      durably applied batch, PRIMARY KEY); created on first use;
    *   2. a batch whose id is already in the ledger is SKIPPED — a
    *      replayed/retried micro-batch cannot double-append;
    *   3. an uncommitted batch first DELETEs its own batch_id rows
    *      from the data table (repairing a crashed half-written
    *      attempt), appends all rows tagged with `batch_id`, and only
    *      then inserts the ledger row — the commit point.
    *
    * Rows are thus applied exactly once as of each ledger insert; the
    * only anomaly window is a crashed attempt's partial rows before
    * its retry repairs them, which strict readers exclude by joining
    * the ledger. Returns true when the batch was applied, false when
    * skipped.
    *
    * `quarantine` opts into the reference's `on_error=CONTINUE`
    * semantics (ingest.py:795-799): when the bulk append dies on a
    * poison row, the batch's partial rows are wiped and re-applied
    * row-wise via [[graft.etl.JdbcQuarantine.rowwiseAppend]] — good
    * rows land, each reject files into the quarantine table with the
    * database's error text. Quarantine rows carry the batch_id and are
    * DELETE-repaired on retry exactly like data rows, so the ledger's
    * exactly-once contract extends to them unchanged.
    */
  def jdbcIdempotentAppend(
      batch: DataFrame,
      batchId: Long,
      url: String,
      table: String,
      props: java.util.Properties,
      quarantine: Option[String] = None): Boolean = {
    val ledger = table + "_commits"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url, props)
      try f(c) finally c.close()
    }
    val committed = withConn { c =>
      try {
        val st = c.prepareStatement(s"SELECT 1 FROM $ledger WHERE batch_id = ?")
        try { st.setLong(1, batchId); st.executeQuery().next() } finally st.close()
      } catch {
        case _: java.sql.SQLException => // first use: create the ledger
          val st = c.createStatement()
          try st.executeUpdate(s"CREATE TABLE $ledger (batch_id BIGINT PRIMARY KEY)")
          catch { case _: java.sql.SQLException => () } // lost a create race: fine
          finally st.close()
          false
      }
    }
    if (committed) false
    else {
      withConn { c =>
        // probe existence first so a real DELETE failure propagates
        // (the writer creates quoted-lowercase columns, so quote it)
        val exists =
          try {
            val st = c.createStatement()
            try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0"); true }
            finally st.close()
          } catch { case _: java.sql.SQLException => false } // first batch ever
        if (exists) {
          val st = c.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
          try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
        }
        // a retried batch's quarantine rows are repaired with the same
        // DELETE-by-batch_id discipline as its data rows
        quarantine.foreach { q =>
          try {
            val st = c.prepareStatement(s"DELETE FROM $q WHERE batch_id = ?")
            try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
          } catch { case _: java.sql.SQLException => () } // not created yet
        }
      }
      val tagged = batch.withColumn("batch_id", lit(batchId))
      try tagged.write.mode("append").jdbc(url, table, props)
      catch {
        case e: Throwable if quarantine.isDefined &&
            JdbcQuarantine.rootSql(e).isDefined =>
          // the reference's on_error=CONTINUE (ingest.py:795-799): the
          // warehouse loads the good rows and files the bad ones;
          // plain JDBC aborts the whole batch on one poison row.
          // Fallback: wipe this batch's partial rows (some partitions'
          // transactions may have committed before the failure), then
          // re-apply ROW-WISE with per-row error capture — good rows
          // land, rejects go to the quarantine table with the cause.
          withConn { c =>
            val st = c.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
            try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
          }
          JdbcQuarantine.rowwiseAppend(tagged, url, table, quarantine.get, props)
      }
      withConn { c =>
        val st = c.prepareStatement(s"INSERT INTO $ledger VALUES (?)")
        try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
      }
      true
    }
  }

  /** Streaming warehouse sink with exactly-once EFFECTS over plain
    * JDBC: checkpointed foreachBatch + [[jdbcIdempotentAppend]]'s
    * batch-ledger, so Structured Streaming's at-least-once batch
    * replay (checkpoint recovery, speculative retries) never
    * double-appends.
    */
  def jdbcExactlyOnceSink(
      df: DataFrame,
      url: String,
      table: String,
      props: java.util.Properties,
      checkpointDir: String,
      quarantine: Option[String] = None) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        jdbcIdempotentAppend(batch.toDF(), batchId, url, table, props, quarantine)
        ()
      }

  /** Continuous CDC apply: merge a change-log stream into a
    * materialized current-state table — the streaming twin of
    * [[graft.etl.Merge.upsert]] and the native generalization of the
    * reference's incremental loop (`/root/reference/ingest.py:783-807`,
    * `delta_insert` + reader-side last-wins).
    *
    * Per microbatch: collapse the batch to its newest row per key
    * ([[graft.ext.Dedup.latestByKey]] — a batch can carry several
    * versions of one key), read the current table, upsert, write the
    * merge to a staging directory and swap it in. The swap is
    * last-wins, not transactional — a concurrent reader can catch the
    * gap; a transactional table format (Delta/Iceberg, jar-gated here
    * like the jobs' `--format delta`) is the production sink, and this
    * parquet swap is the format-free equivalent with the same plan
    * shape. Restart safety comes from the checkpoint + idempotence:
    * re-merging an already-applied batch is a no-op upsert.
    */
  def cdcApply(
      changes: DataFrame,
      key: String,
      orderCol: String,
      tiebreak: String,
      tableDir: String,
      checkpointDir: String,
      opCol: Option[String] = None) = {
    val spark = changes.sparkSession
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val delta = graft.ext.Dedup
            .latestByKey(batch.toDF(), col(key), col(orderCol), col(tiebreak))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val table = new org.apache.hadoop.fs.Path(tableDir)
          // with opCol set, rows marked "D" are delete tombstones
          // (Merge.applyChangeLog); the in-batch latest-by-key collapse
          // runs FIRST, so an update then delete of one key in a single
          // batch correctly deletes
          val dataCols = delta.columns.filterNot(opCol.contains).map(col).toSeq
          val merged =
            if (fs.exists(table)) {
              val base = spark.read.parquet(tableDir).select(dataCols: _*)
              opCol match {
                case Some(op) => graft.etl.Merge.applyChangeLog(base, delta, Seq(key), op)
                case None => graft.etl.Merge.upsert(base, delta, Seq(key))
              }
            } else
              opCol.map(op =>
                delta.filter(graft.etl.Merge.validatedOp(col(op)) =!= "D").drop(op))
                .getOrElse(delta)
          // materialize fully to staging BEFORE touching the live dir —
          // the merge reads the live dir lazily
          val tmp = new org.apache.hadoop.fs.Path(tableDir + ".staging")
          merged.write.mode("overwrite").parquet(tmp.toString)
          if (fs.exists(table)) fs.delete(table, true)
          fs.rename(tmp, table)
          ()
        }
      }
  }
}
