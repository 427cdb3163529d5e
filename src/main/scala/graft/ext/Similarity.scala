package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{cosineSim, signLshBuckets}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Designs and their scale rationale:
  *   - dot/cosine and sign-LSH bucketing run as native Catalyst
  *     expressions with codegen (graft.functions.VectorExprs) — compiled
  *     loops, not interpreted HOF folds; summation is a fixed 0.0-seeded
  *     left fold so the DuckDB oracle reproduces the exact IEEE double;
  *   - brute-force top-k is a scan + TakeOrderedAndProject — correct
  *     baseline, O(n·d), embarrassingly parallel, no shuffle of the
  *     corpus; fine whenever k ≪ n;
  *   - the scale path is sign-LSH (random-hyperplane) bucketing: each
  *     vector maps to `tables` bucket keys; candidate generation is an
  *     equi-join on the bucket key carrying (id, bucket) pairs only —
  *     the d-dim vectors re-join only for the verified candidate set.
  *     Hyperplanes are md5-derived: deterministic and engine-portable.
  */
object Similarity {

  /** Reference (any-dimension) fold formulations. The operator paths
    * below use the codegen'd CosineSim expression instead; these exist
    * as the executable spec of the summation-order contract.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      transform(sequence(lit(1), size(a)), i => element_at(a, i) * element_at(b, i)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Centroids packed into an array column of (cent_id, cent_vec)
    * structs sorted by cent_id, one row per `keys` group (no keys =
    * one global row) — the broadcast side of the IN-ROW argmin/argmax
    * below. The former shape — crossJoin against the k-row centroid
    * relation + a row_number() window partitioned by vid — re-shuffled
    * the whole n·k scored relation every k-means iteration just to
    * pick each row's best centroid; packing the k centroids into one
    * broadcast array makes the pick a per-row fold with no Exchange at
    * all (guide §2.4), and collapses the job churn that made the ANN
    * training chains scheduling-bound (52 sub-second one-task jobs
    * measured on q244). */
  private def centsPacked(cents: DataFrame, keys: String*): DataFrame = {
    val packed = array_sort(collect_list(
      struct(col("cent_id"), col("cent_vec")))).as("__cents")
    if (keys.isEmpty) cents.groupBy().agg(packed)
    else cents.groupBy(keys.map(col): _*).agg(packed)
  }

  /** In-row argmax-cosine cell over a packed centroid array:
    * lexicographic array_max of (cc, -cent_id) structs reproduces the
    * former row_number() over (cc DESC, cent_id ASC) rank-1 verdict
    * EXACTLY — equal cosines break to the LOWEST cent_id (max of the
    * negated id), a null cosine loses to any real one (a null struct
    * field ranks lowest), and the all-null row falls back to the
    * lowest cent_id, the same row the window's nulls-last ordering
    * ranked first. Cosines evaluate on the identical expression tree,
    * so every double is bit-equal to the crossJoin formulation's. */
  private def argmaxCosCell(vec: Column, cents: Column): Column =
    -array_max(transform(cents, c =>
      struct(cosineSim(vec, c.getField("cent_vec")).as("cc"),
        (-c.getField("cent_id")).as("nid")))).getField("nid")

  /** In-row argmin micro-L2 code: array_min of (d, cent_id) structs ==
    * the former row_number() over (d ASC, cent_id ASC) rank 1 — ties
    * to the lowest cent_id, null distances rank first exactly like the
    * window's asc-nulls-first default. */
  private def argminL2Code(svec: Column, cents: Column): Column =
    array_min(transform(cents, c =>
      struct(sqDistMicro(svec, c.getField("cent_vec")).as("d"),
        c.getField("cent_id").as("cid")))).getField("cid")

  /** The Lloyd's update step of every k-means trainer here, under
    * [[kmeansCentroids]]' determinism contract: per (`groups`, `cell`,
    * pos) the exact-decimal mean of `assigned`'s `vec` components,
    * packed back into a pos-ordered `cent_vec` per (`groups`, `cell` as
    * `cent_id`).
    */
  private def centroidUpdate(assigned: DataFrame, vec: String,
      groups: String*): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = groups.map(col)
    assigned
      .select(g :+ col("cell") :+ posexplode(col(vec)).as(Seq("pos", "v")): _*)
      .groupBy(g :+ col("cell") :+ col("pos"): _*)
      .agg((sum(col("v").cast(DecimalType(38, 10))).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy(g :+ col("cell"): _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(g :+ col("cell").as("cent_id") :+
        transform(col("pm"), x => x.getField("m")).as("cent_vec"): _*)
  }

  /** Brute-force top-k by cosine against one query vector (itself a row
    * of `df` identified by `queryId`). The 1-row query side is
    * broadcast; the corpus is never shuffled (TakeOrderedAndProject).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = broadcast(
      df.filter(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("q_vec")))
    df.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("vec"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= queryId)
      .select(col("neighbor_id"), cosineSim(col("vec"), col("q_vec")).as("cos"))
      .orderBy(col("cos").desc, col("neighbor_id"))
      .limit(k)
  }

  /** Near-duplicate embedding pairs: candidates from `tables` sign-LSH
    * bucketings (equi-join per table), verified with exact cosine.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 2, planes: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    // (id, bucket) only through the join/distinct — the d-dim vectors
    // re-join after candidate pairs collapse, keeping the shuffle narrow.
    val bucketed = base.select(col("vid"),
      explode(signLshBuckets(col("vec"), tables, planes)).as("bucket"))
    // identical-plan self-join → ReuseExchange computes buckets once
    val cand = bucketed.as("a").join(bucketed.as("b"), col("a.bucket") === col("b.bucket"))
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("vid").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("vid").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosineSim(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Seeded Lloyd's k-means over an embedding column, fully
    * deterministic so an external engine can replicate the exact
    * centroids: init = the k lowest-id vectors; assignment = max cosine
    * (spherical k-means — cosine is scale-invariant in the centroid, so
    * the mean needs no re-normalization), ties to the lowest cent_id;
    * update = per-dimension mean through exact DECIMAL(38,10) summation
    * cast to double, then one IEEE double division by the member count
    * (double summation is order-dependent across engines; exact decimal
    * is not). A cell that loses all members drops out, identically on
    * every engine.
    *
    * Scale posture: each iteration is one broadcast of k tiny centroid
    * rows + one partial-aggregating groupBy((cell, pos)) — the corpus is
    * never shuffled by vector, only (cell, pos, value) triples move. At
    * 100 TB you train on a sampled subset and persist the centroids;
    * the iteration count is a fixed small constant, not data-dependent.
    */
  def kmeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    val base = vecs.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    var cents = base.filter(col("vid") < k)
      .select(col("vid").as("cent_id"), col("vec").as("cent_vec"))
    for (_ <- 1 to iters) {
      // in-row argmax against the packed broadcast centroids — the
      // assignment step moves ZERO corpus bytes (the former window
      // shuffled n·k scored rows per iteration); [[argmaxCosCell]]
      // pins the rank-1 verdict bit-identical to the window form
      val assigned = base.crossJoin(broadcast(centsPacked(cents)))
        .select(col("vid"), col("vec"),
          argmaxCosCell(col("vec"), col("__cents")).as("cell"))
      cents = centroidUpdate(assigned, "vec")
    }
    cents
  }

  /** Semantic (embedding-space) near-duplicate pairs, cluster-scoped —
    * the SemDeDup recipe (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023):
    * k-means the corpus ([[kmeansCentroids]], deterministic seeded
    * Lloyd's), then compare pairs ONLY within each cluster. Near-
    * duplicates land in the same cell with high probability, so the
    * pair space shrinks from O(n²) to Σ|cell|² — with balanced cells a
    * ~nCells× reduction, and each cell's pairing is an independent
    * task. Complements [[cosineNearDupPairs]] (sign-LSH buckets): LSH
    * is oblivious and per-vector-cheap; clustering adapts to the data's
    * actual density and gives the dedup a semantic partition to
    * report against (`cell` rides along in the output).
    *
    * The self-join is cell-keyed with vectors in place (cells are few
    * and every candidate needs its vector verified, so a narrow
    * id-only join would just re-join the vectors immediately). At
    * 100 TB: assign once to cell-partitioned storage and run the
    * pairing per cell on bucketed reads — no re-shuffle per run, and a
    * skewed mega-cell splits under AQE or a finer nCells.
    *
    * Cell-count contract: `nCells = 0` (the default) derives the count
    * from the corpus as ⌈n / targetCellSize⌉ (one count() preflight),
    * so balanced-cell pair cost Σ|cell|² ≈ n·targetCellSize stays
    * LINEAR in corpus size — a fixed cell count would go quadratic the
    * moment the corpus outgrows it. An explicit `nCells > 0` skips the
    * preflight and takes the stated cost.
    *
    * The next bound up (measured at 100×: 55.6× time, output-linear
    * pair stage): with k derived as n/target, flat k-means ASSIGNMENT
    * is n·k = n²/target cosine evaluations. At true 100 TB scale train
    * the centroids on a fixed-size sample and make assignment two-level
    * — a coarse ⌈√k⌉-cell quantizer first, then the fine cell within it
    * — which cuts assignment to O(n·√k) (the IVF coarse-quantizer
    * pattern); or fall back to [[cosineNearDupPairs]], whose sign-LSH
    * bucketing is per-vector O(planes·d) with no trained state.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 0, kmeansIters: Int = 2,
      targetCellSize: Long = 1024L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetCellSize >= 2,
      s"semanticNearDupPairs: targetCellSize >= 2 required, got $targetCellSize")
    val cells =
      if (nCells > 0) nCells
      else {
        val n = df.count()
        require(n > 0, "semanticNearDupPairs: empty corpus")
        derivedCells(n, targetCellSize)
      }
    val cents = broadcast(
      centsPacked(kmeansCentroids(df, idCol, vecCol, cells, kmeansIters))
        .localCheckpoint(false))
    val assigned = df
      .select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
      .crossJoin(cents)
      .select(col("vid"), col("vec"),
        argmaxCosCell(col("vec"), col("__cents")).as("cell"))
    assigned.as("a").join(assigned.as("b"), col("a.cell") === col("b.cell"))
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.cell").as("cell"), col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        cosineSim(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style ANN: the corpus is partitioned into `nCells` cells by
    * nearest trained centroid ([[kmeansCentroids]], seeded Lloyd's);
    * each query probes its `nProbe` nearest cells and ranks exact
    * cosine within them. At 100 TB the assignment is a one-off
    * materialization (cell column, partitioned storage) and query
    * batches touch nProbe/nCells of the data — no full-corpus scan
    * per query, no full-corpus shuffle ever.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // lazy checkpoint = the "train once, persist the index" step in
    // query form: the k-means chain (which scans the corpus per
    // iteration) executes ONCE at first action and both downstream
    // uses (corpus assignment + query probing) read the k cached rows,
    // instead of re-deriving the training chain per use. Lazy, so the
    // query stays analyzable/plannable without side effects.
    val cents = broadcast(
      centsPacked(kmeansCentroids(corpus, idCol, vecCol, nCells, kmeansIters))
        .localCheckpoint(false))
    // corpus side (keep=1): in-row argmax, zero shuffle; query side
    // (keep=nProbe>1): explode the same packed array and keep the
    // window rank — it runs over the handful of query rows only
    def nearestCells(df: DataFrame, idAs: String, vecAs: String, keep: Int) = {
      val prepped = df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vecAs))
        .crossJoin(cents)
      if (keep == 1)
        prepped.select(col(idAs), col(vecAs),
          argmaxCosCell(col(vecAs), col("__cents")).as("cell"))
      else {
        val w = Window.partitionBy(col(idAs)).orderBy(col("__cc").desc, col("cent_id"))
        prepped
          .select(col(idAs), col(vecAs), explode(col("__cents")).as("__c"))
          .select(col(idAs), col(vecAs), col("__c.cent_id").as("cent_id"),
            cosineSim(col(vecAs), col("__c.cent_vec")).as("__cc"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= keep)
          .select(col(idAs), col(vecAs), col("cent_id").as("cell"))
      }
    }
    val assigned = nearestCells(corpus, "cid", "cvec", 1)
    val probes = nearestCells(queries, "qid", "qvec", nProbe)
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        cosineSim(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Batched ANN: top-k neighbors for EVERY query in a (small) query set,
    * via LSH-bucket join + per-query window top-k. The full-corpus
    * variant of this at 100 TB keeps the corpus bucketed/bucketed-sorted
    * on disk so query batches join without reshuffling the corpus.
    *
    * Id contract (also [[ivfTopK]]): queries are assumed to be drawn
    * from the corpus id space — a corpus row whose id EQUALS the query
    * id is excluded as "itself". Pass disjoint ids (or re-key) when
    * querying with external vectors.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 2, planes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prep(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vecAs))
    def bucketize(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(idAs),
        explode(signLshBuckets(col(vecAs), tables, planes)).as("bucket"))
    val c = prep(corpus, "neighbor_id", "c_vec")
    val q = prep(queries, "query_id", "q_vec")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    bucketize(q, "query_id", "q_vec")
      .join(bucketize(c, "neighbor_id", "c_vec"), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
      .join(q, Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosineSim(col("q_vec"), col("c_vec")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** ⌈n / targetCellSize⌉ clamped to [2, 2²⁰] — the
    * [[semanticNearDupPairs]] cell-count derivation, exposed for the
    * sizing spec. The upper clamp is a sanity rail only; flat k-means
    * degrades well before it (see the scaladoc there).
    */
  private[ext] def derivedCells(n: Long, targetCellSize: Long): Int =
    // (n-1)/t + 1 is ⌈n/t⌉ without the n+t-1 overflow at huge n
    math.max(2L, math.min((n - 1) / targetCellSize + 1, 1L << 20)).toInt

  /** Two-level (coarse → fine) deterministic cell assignment — the
    * IVF-coarse-quantizer escape from [[semanticNearDupPairs]]'s n·k
    * assignment bound. Level 1 trains ⌈√k⌉ coarse centroids globally
    * ([[kmeansCentroids]], same seeded Lloyd's); level 2 trains
    * ⌈k/⌈√k⌉⌉ FINE centroids independently INSIDE each coarse cell
    * (one grouped aggregate trains all coarse cells' fine centroids in
    * parallel — init = the k₂ lowest-id members per coarse cell, the
    * per-cell twin of the global init). Every vector then compares to
    * ⌈√k⌉ coarse + its cell's ≤k₂ fine centroids: O(n·√k) cosine
    * evaluations instead of O(n·k), with the same deterministic
    * decimal-mean/lowest-id-tiebreak contract at both levels.
    *
    * Output: (vid, vec, cell) where `cell` is the composite
    * "coarse:fine" string key — unique across coarse cells because
    * fine ids only resolve within their coarse parent.
    *
    * Scale posture: both centroid tables stay broadcast-sized (√k and
    * k rows); the corpus is never shuffled by vector — level-2
    * training moves (coarse cell, fine cell, pos, value) triples through
    * partial-aggregating groupBys exactly like the flat trainer. At
    * 100 TB train both levels on a hash-sample
    * ([[graft.ext.Sampling.hashSample]]) and reuse the centroids.
    */
  def twoLevelCells(df: DataFrame, idCol: String, vecCol: String,
      k: Int, kmeansIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"twoLevelCells: k >= 2 required, got $k")
    val kCoarse = math.ceil(math.sqrt(k.toDouble)).toInt
    val kFine = (k + kCoarse - 1) / kCoarse
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))

    // level 1: global coarse assignment, n·√k
    val coarseCents = broadcast(
      kmeansCentroids(df, idCol, vecCol, kCoarse, kmeansIters).localCheckpoint(false))
    val wc = Window.partitionBy(col("vid")).orderBy(col("__cc").desc, col("cent_id"))
    val coarse = base.crossJoin(coarseCents)
      .select(col("vid"), col("vec"), col("cent_id"),
        cosineSim(col("vec"), col("cent_vec")).as("__cc"))
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") === 1)
      .select(col("vid"), col("vec"), col("cent_id").as("ccell"))
      .localCheckpoint(false)

    // level 2: per-coarse-cell fine centroids, trained for ALL cells in
    // one grouped chain (keys carry ccell alongside cent_id)
    val wInit = Window.partitionBy(col("ccell")).orderBy(col("vid"))
    var fine = coarse
      .withColumn("__rn", row_number().over(wInit))
      .filter(col("__rn") <= kFine)
      .select(col("ccell"), col("__rn").as("cent_id"), col("vec").as("cent_vec"))
    val wf = Window.partitionBy(col("vid")).orderBy(col("__cc").desc, col("cent_id"))
    for (_ <- 1 to kmeansIters) {
      val assigned = coarse.join(broadcast(fine), Seq("ccell"))
        .select(col("ccell"), col("vid"), col("vec"), col("cent_id"),
          cosineSim(col("vec"), col("cent_vec")).as("__cc"))
        .withColumn("__rn", row_number().over(wf))
        .filter(col("__rn") === 1)
        .select(col("ccell"), col("vid"), col("vec"), col("cent_id").as("cell"))
      fine = centroidUpdate(assigned, "vec", "ccell")
    }
    coarse.join(broadcast(fine), Seq("ccell"))
      .select(col("ccell"), col("vid"), col("vec"), col("cent_id"),
        cosineSim(col("vec"), col("cent_vec")).as("__cc"))
      .withColumn("__rn", row_number().over(wf))
      .filter(col("__rn") === 1)
      .select(col("vid"), col("vec"),
        concat(col("ccell").cast("string"), lit(":"),
          col("cent_id").cast("string")).as("cell"))
  }

  /** [[semanticNearDupPairs]] with [[twoLevelCells]] assignment — the
    * form whose assignment cost is O(n·√k), for corpora where the
    * derived k makes flat assignment (n·k) the bottleneck. Same pair
    * semantics: exact cosine within each (coarse, fine) cell, pairs
    * meeting `threshold`. Slightly different cells than the flat
    * trainer (coarse boundaries quantize first), so this is a recall/
    * cost trade documented by the ExtSpec parity case, not a
    * bit-identical drop-in.
    */
  def semanticNearDupPairsScaled(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, kmeansIters: Int = 2,
      targetCellSize: Long = 1024L): DataFrame = {
    require(targetCellSize >= 2,
      s"semanticNearDupPairsScaled: targetCellSize >= 2 required, got $targetCellSize")
    val n = df.count()
    require(n > 0, "semanticNearDupPairsScaled: empty corpus")
    val assigned = twoLevelCells(df, idCol, vecCol,
      derivedCells(n, targetCellSize), kmeansIters)
    assigned.as("a").join(assigned.as("b"), col("a.cell") === col("b.cell"))
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.cell").as("cell"), col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        cosineSim(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-group embedding centroids in long format: (group, dim, 1-based
    * dimension index, exact-mean component) — the class/source
    * prototype vectors that seed centroid-init k-means, power
    * nearest-centroid classification, and feed per-slice drift checks
    * (centroid shift between two crawl snapshots).
    *
    * Long format is deliberate: the (group, dim)-keyed mean is one
    * aggregate with map-side partials and needs no array re-assembly
    * (callers that want arrays sort-collect per group; callers that
    * want drift join two long relations on (group, dim)). Components
    * are NANO-QUANTIZED before summing: each rounds to an integer
    * count of 1e-9 units (one IEEE multiply + round, identical on any
    * engine; a tie at the cut is impossible for a dyadic input), the
    * sum runs in exact DECIMAL(38,0) integers, and one division
    * recovers the mean — raw embedding floats have arbitrary binary
    * tails, which a direct fixed-scale decimal cast rounds
    * engine-dependently. Null vectors are excluded; ragged dimensions
    * simply contribute to the dims they have.
    *
    * Scale: one posexplode (scan-stage Generate) + one keyed
    * aggregate; shuffle width is groups × dims, never row count.
    */
  def groupCentroids(df: DataFrame, grp: Column, vecCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    df.filter(vecCol.isNotNull && grp.isNotNull)
      .select(grp.as("grp"), posexplode(vecCol).as(Seq("__p", "__v")))
      .groupBy(col("grp"), (col("__p") + 1).cast("long").as("dim"))
      .agg((sum(round(col("__v").cast("double") * lit(1.0e9))
          .cast(DecimalType(38, 0))).cast("double") /
        count(lit(1)).cast("double") / lit(1.0e9)).as("centroid"))
  }

  /** Squared L2 distance as MICRO-units (⌊d²·10⁶ + 0.5⌋, long): a
    * left-fold of per-dimension squared diffs — the identical
    * operation shape DuckDB's `list_reduce` replays — then one
    * quantization, so downstream sums and compares are exact integer
    * arithmetic on every engine (the q177 rule applied to distances).
    */
  private def sqDistMicro(a: Column, b: Column): Column =
    floor(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v) * 1000000.0 + 0.5).cast("long")

  /** Seeded Lloyd's k-means under squared-L2, training ALL `m`
    * subspaces' codebooks in ONE grouped chain keyed by `subspace` —
    * the codebook trainer for [[pqTopK]]. Same determinism contract as
    * [[kmeansCentroids]] (init = the ksub lowest-id vectors per
    * subspace, exact-decimal means, ties to the lowest cent_id) but
    * with micro-quantized L2 assignment, the metric PQ codebooks are
    * trained under (subvector norms carry information — cosine would
    * erase them). Formerly each subspace trained as an independent
    * chain (m× the jobs and m× the corpus scans per iteration, union'd
    * after); carrying `subspace` through the SAME per-subspace
    * aggregations yields identical per-subspace codebooks from one
    * chain, and [[argminL2Code]] pins assignment bit-identical to the
    * old per-vid window.
    */
  private def kmeansSubCentroidsAll(subs: DataFrame, ksub: Int, iters: Int): DataFrame = {
    var cents = subs.filter(col("vid") < ksub)
      .select(col("subspace"), col("vid").as("cent_id"), col("svec").as("cent_vec"))
    for (_ <- 1 to iters) {
      val assigned = subs
        .join(broadcast(centsPacked(cents, "subspace")), Seq("subspace"))
        .select(col("subspace"), col("vid"), col("svec"),
          argminL2Code(col("svec"), col("__cents")).as("cell"))
      cents = centroidUpdate(assigned, "svec", "subspace")
    }
    cents
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011) with
    * ADC scoring — the third leg of the ANN family next to sign-LSH
    * (q51) and IVF (q55), and the 100 TB embedding-store pattern IVF
    * alone doesn't give: vectors live as `m` one-byte-ish codes, not
    * floats, so the exhaustive scan runs in the compressed domain.
    *
    *   - TRAIN: the D dims split into `m` contiguous subspaces of
    *     `subDim` each; each subspace learns `ksub` codewords by
    *     seeded L2 Lloyd's ([[kmeansSubCentroids]] — deterministic, so
    *     an external engine rebuilds the identical codebooks).
    *   - ENCODE: every corpus vector → `m` codes (nearest codeword per
    *     subspace, micro-L2, ties to the lowest code).
    *   - ADC: each query precomputes its `m × ksub` distance table to
    *     every codeword; a candidate's approximate distance is the sum
    *     of `m` table lookups — INTEGER micro-unit sums, so the
    *     ranking is bit-stable across engines.
    *
    * Scale: codebooks and query tables are tiny broadcasts (`m·ksub`
    * rows); the corpus moves once to encode (scan-stage after a
    * broadcast join) and the ADC scan is a narrow (cid, subspace,
    * code) relation joined to the broadcast table — no vector ever
    * shuffles after encoding. Production composes with IVF — coarse
    * cells prune candidates, PQ codes rank them — which is exactly
    * [[ivfPqTopK]]; here the scan is exhaustive by design (the
    * ground-truth-shaped variant).
    *
    * Id contracts: codebook init needs ids 0..ksub-1 present per
    * subspace (the corpus id space, same as q55); queries are drawn
    * from the corpus and never match themselves.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, subDim: Int, ksub: Int = 8, kmeansIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1 && subDim >= 1 && ksub >= 1 && k >= 1, "degenerate PQ shape")
    val base = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val qbase = queries.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val cb = broadcast(pqCodebooks(base, m, subDim, ksub, kmeansIters))
    val codes = pqEncode(base, cb, m, subDim)
    val qtable = pqQueryTable(qbase, cb, m, subDim)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("neighbor_id"))
    codes.join(broadcast(qtable), Seq("subspace", "code"))
      .groupBy(col("qid").as("query_id"), col("cid").as("neighbor_id"))
      .agg(sum(col("dmicro")).as("adc_micro"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("adc_micro").cast("double") / 1000000.0).as("adc"))
  }

  /** One codebook per subspace, trained independently ([[kmeansSubCentroids]])
    * and stacked as (subspace, cent_id, cent_vec); lazily checkpointed —
    * the train-once step shared by [[pqTopK]] and [[ivfPqTopK]].
    */
  private def pqCodebooks(base: DataFrame, m: Int, subDim: Int, ksub: Int,
      iters: Int): DataFrame =
    kmeansSubCentroidsAll(pqSubspaces(base, "vid", m, subDim), ksub, iters)
      .localCheckpoint(false)

  /** (id, subspace, svec) slices of a (vid, vec) relation — scan-stage. */
  private def pqSubspaces(base: DataFrame, idAs: String, m: Int, subDim: Int): DataFrame =
    base.select(col("vid").as(idAs), posexplode(
      array((0 until m).map(j => slice(col("vec"), j * subDim + 1, subDim)): _*))
      .as(Seq("subspace", "svec")))

  /** ENCODE: nearest codeword per (corpus vector, subspace) — micro-L2,
    * ties to the lowest code. Output (cid, subspace, code).
    */
  private def pqEncode(base: DataFrame, cb: DataFrame, m: Int, subDim: Int): DataFrame =
    pqSubspaces(base, "cid", m, subDim)
      .join(broadcast(centsPacked(cb, "subspace")), Seq("subspace"))
      .select(col("cid"), col("subspace"),
        argminL2Code(col("svec"), col("__cents")).as("code"))

  /** Per-query ADC lookup table: micro-L2 distance to EVERY codeword —
    * (qid, subspace, code, dmicro), `m·ksub` rows per query.
    */
  private def pqQueryTable(qbase: DataFrame, cb: DataFrame, m: Int, subDim: Int): DataFrame =
    pqSubspaces(qbase, "qid", m, subDim)
      .join(cb, Seq("subspace"))
      .select(col("qid"), col("subspace"), col("cent_id").as("code"),
        sqDistMicro(col("svec"), col("cent_vec")).as("dmicro"))

  /** Composed IVF + PQ ANN — the production billion-vector
    * configuration (IVFADC, Jégou/Douze/Schmid TPAMI 2011 §V, here in
    * the direct-coding variant — codes quantize the raw vectors, not
    * cell residuals, so both halves reuse the q55/q200 machinery
    * verbatim and every distance stays engine-replayable): the trained
    * coarse quantizer ([[kmeansCentroids]], the q55 index) prunes
    * candidates to each query's `nProbe` nearest cells, and PQ codes
    * ([[pqTopK]]'s codebooks, the q200 index) rank ONLY those survivors
    * by ADC table lookups in the compressed domain.
    *
    * What the composition buys at 10⁹ vectors: IVF alone still ranks
    * its probed cells with full float vectors (memory- and
    * scan-bound); PQ alone scans every code in the corpus. Composed,
    * a query touches nProbe/nCells of the corpus AND reads only `m`
    * bytes-ish per candidate — the two cost cuts multiply.
    *
    * Scale shape: both trainings are broadcast-sized chains
    * (checkpointed once); the corpus moves once to assign cells and
    * once to encode — at 100 TB both are one-off materializations to
    * cell-partitioned storage, and a query batch shuffles only the
    * (qid, cid) candidate relation, never vectors (the ADC join is
    * against a broadcast query table). Same id contracts as q55/q200.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, m: Int = 4, subDim: Int = 16,
      ksub: Int = 8, kmeansIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1 && subDim >= 1 && ksub >= 1 && k >= 1 &&
      nCells >= 1 && nProbe >= 1, "degenerate IVF+PQ shape")
    val base = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val qbase = queries.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    // coarse quantizer (the q55 index), trained once; corpus
    // assignment (keep=1) is the in-row argmax, the nProbe query side
    // explodes the packed array and keeps the window rank (query rows
    // are a handful)
    val cents = broadcast(
      centsPacked(kmeansCentroids(corpus, idCol, vecCol, nCells, kmeansIters))
        .localCheckpoint(false))
    def cells(df: DataFrame, idAs: String, keep: Int): DataFrame = {
      val prepped = df.select(col("vid").as(idAs), col("vec")).crossJoin(cents)
      if (keep == 1)
        prepped.select(col(idAs), argmaxCosCell(col("vec"), col("__cents")).as("cell"))
      else {
        val w = Window.partitionBy(col(idAs)).orderBy(col("__cc").desc, col("cent_id"))
        prepped
          .select(col(idAs), col("vec"), explode(col("__cents")).as("__c"))
          .select(col(idAs), col("__c.cent_id").as("cent_id"),
            cosineSim(col("vec"), col("__c.cent_vec")).as("__cc"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= keep)
          .select(col(idAs), col("cent_id").as("cell"))
      }
    }
    val assigned = cells(base, "cid", 1)
    val probes = cells(qbase, "qid", nProbe)
    // fine quantizer (the q200 index), trained once
    val cb = broadcast(pqCodebooks(base, m, subDim, ksub, kmeansIters))
    val codes = pqEncode(base, cb, m, subDim)
    val qtable = pqQueryTable(qbase, cb, m, subDim)
    // candidates = probed cells only; (qid, cid) is unique by
    // construction (one cell per corpus vector, distinct probe cells)
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("neighbor_id"))
    cand.join(codes, Seq("cid"))
      .join(broadcast(qtable), Seq("qid", "subspace", "code"))
      .groupBy(col("qid").as("query_id"), col("cid").as("neighbor_id"))
      .agg(sum(col("dmicro")).as("adc_micro"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("adc_micro").cast("double") / 1000000.0).as("adc"))
  }

  /** Per-cluster simplified silhouette (Rousseeuw'87's silhouette with
    * the centroid surrogate — the O(n·k) form that scales where the
    * O(n²) pairwise original cannot): after a deterministic
    * [[kmeansCentroids]] fit, each vector scores
    * s = (c₁ − c₂) / (1 − c₂) where c₁/c₂ are its best/second-best
    * centroid cosines — 10⁶ means "far inside its cluster", 0 means
    * "on the boundary". The cluster-quality gate a SemDeDup/IVF
    * pipeline runs before trusting its cells (q55/q141/q200 all
    * inherit this fit).
    *
    * Parity: cosines evaluate on identical expression trees in both
    * engines (the q55 contract); per-vector s floors to ppm FIRST,
    * then per-cluster means are integer divisions — no float
    * aggregation anywhere.
    *
    * Scale: one broadcast crossJoin against k centroids + one
    * per-vector two-row aggregate + one cluster aggregate; the fit
    * itself is the proven q55 trainer.
    */
  def silhouetteScore(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2): DataFrame = {
    require(k >= 2 && k <= 65536, s"silhouetteScore: k in [2, 65536], got $k")
    // no null screen: the fit ([[kmeansCentroids]]) sees the same
    // unfiltered relation, so scorer and trainer stay aligned (the
    // q55 contract — cosine of a null vector is null and drops in rank)
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val cents = broadcast(centsPacked(kmeansCentroids(df, idCol, vecCol, k, iters)))
    // in-row rank-1/rank-2 over the packed centroid array: __b1 is the
    // [[argmaxCosCell]] struct (same nulls-last/lowest-id verdicts as
    // the former per-vid window), __c2 the best cosine among the k-1
    // remaining centroids (k >= 2, so the filtered array is non-empty)
    val perVec = base.crossJoin(cents)
      .select(col("vid"), transform(col("__cents"), c =>
        struct(cosineSim(col("vec"), c.getField("cent_vec")).as("cc"),
          (-c.getField("cent_id")).as("nid"))).as("__sc"))
      .select(col("vid"), col("__sc"), array_max(col("__sc")).as("__b1"))
      .select(col("vid"), (-col("__b1.nid")).as("cell"), col("__b1.cc").as("__c1"),
        array_max(filter(col("__sc"),
          x => x.getField("nid") =!= col("__b1.nid"))).getField("cc").as("__c2"))
      .withColumn("__s",
        when(lit(1.0) - col("__c2") > 0.0,
          floor((col("__c1") - col("__c2")) / (lit(1.0) - col("__c2")) * 1000000.0 + 0.5)
            .cast("long"))
          .otherwise(lit(0L)))
    perVec.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("__ss"))
      .select(col("cell"), col("n"),
        expr("CAST(__ss div n AS BIGINT)").as("mean_s_ppm"))
  }

  /** Dominant principal component by power iteration (von Mises &
    * Pollaczek-Geiringer 1929; the PCA workhorse at matrix scale —
    * iterate v ← XᵀX·v, normalize): the direction of maximum variance
    * of an embedding corpus. The whitening / drift-probe primitive:
    * projecting onto it gives the 1-D shadow used for embedding-drift
    * monitoring and coarse semantic binning, and deflating it is the
    * first step of any top-m PCA.
    *
    * Engine-exact integer pipeline: embeddings quantize to integer
    * grid units (⌊x·quantUnit⌋ — float→double cast is exact, floor is
    * exact), center by the integer per-dimension mean (Σ div n), and
    * iterate with ℓ∞ ppm normalization (w·10⁶ div max|w|) — the same
    * fixed-point discipline as [[graft.ext.Graph.hits]]. XᵀX is never
    * materialized (d² would be fine, but X is tall: two aggregates
    * per round beat a d×d build at corpus scale).
    *
    * Scale: ONE posexplode posting relation, locally checkpointed
    * (2·iters consumers); per round one broadcast join with the d-row
    * vector + a row-keyed aggregate, then a d-keyed aggregate whose
    * ℓ∞ norm rides a single-partition window over d rows —
    * dimension-bounded, safe at any corpus size. Row dots stay in
    * longs (d·maxq·quantUnit·10⁶ ≪ 2⁶³ for d ≤ 10⁴); the d-keyed
    * sums accumulate in DECIMAL(38,0).
    */
  def powerIterationPC(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int = 3,
      quantUnit: Long = 1000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"powerIterationPC: iters in [1,20], got $iters")
    require(quantUnit >= 1L && quantUnit <= 1000000L,
      s"powerIterationPC: quantUnit in [1, 1e6], got $quantUnit")
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val posting = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("pos", "__x")))
      .select(col("__id"), col("pos"),
        floor(col("__x").cast("double") * quantUnit.toDouble).cast("long").as("__xq"))
    // d rows, but three consumers (centering join, v₀, final output)
    // each re-aggregating the full corpus — pin it
    val means = posting.groupBy(col("pos"))
      .agg(expr("CAST(sum(CAST(__xq AS DECIMAL(38,0))) div count(1) AS BIGINT)")
        .as("mean_q"))
      .localCheckpoint()
    val centered = posting
      .join(broadcast(means), Seq("pos"))
      .select(col("__id"), col("pos"), (col("__xq") - col("mean_q")).as("__xc"))
      .localCheckpoint()
    val wNorm = Window.partitionBy(lit(0))
    var v = means.select(col("pos")).withColumn("v_ppm", lit(1000000L))
    for (_ <- 1 to iters) {
      val s = centered.join(broadcast(v), Seq("pos"))
        .groupBy(col("__id"))
        .agg(sum(col("__xc") * col("v_ppm")).as("__s"))
      v = centered.join(s, Seq("__id"))
        .groupBy(col("pos"))
        .agg(sum((col("__xc") * col("__s")).cast(dec)).as("__w"))
        .withColumn("__mx", max(abs(col("__w"))).over(wNorm))
        .select(col("pos"),
          expr("CAST(__w * 1000000 div __mx AS BIGINT)").as("v_ppm"))
    }
    v.join(broadcast(means), Seq("pos"))
      .select(col("pos").as("dim"), col("mean_q"), col("v_ppm"))
  }
}
