package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large text corpora.
  *
  * Scale posture (the whole point of these designs):
  *   - exact + latest-by-key are single-shuffle hash aggregations;
  *   - MinHash-LSH replaces the O(n²) pair space with an equi-join on
  *     band keys — only docs sharing a band collide, so the shuffle
  *     carries O(n·bands) rows and the join output is ~(candidate
  *     pairs), not n²;
  *   - n-gram Jaccard uses an inverted-index self-join (explode on
  *     shingle), which is exact but O(sum of postings²) per shingle —
  *     the LSH path is the 100 TB variant, this is the oracle-grade
  *     exact variant;
  *   - SimHash reduces each doc to 64 bits; near-dup = small Hamming
  *     distance, candidate generation via chunk equality (pigeonhole).
  *
  * No collect(), no cross join, no UDFs anywhere.
  */
object Dedup {

  /** Exact dedup: one canonical row (min of `keepKey`) per distinct value
    * of `on`, plus the duplicate count. Single hash aggregation.
    */
  def exact(df: DataFrame, on: Column, keepKey: Column): DataFrame =
    df.groupBy(md5(on).as("content_hash"))
      .agg(min(keepKey).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Latest-record dedup: keep the newest row per key (deterministic
    * tiebreak), the generalization of the reference's watermark intent.
    */
  def latestByKey(df: DataFrame, key: Column, orderCol: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCol.desc, tiebreak)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** LSH band plan S-curve table — the PRESCRIPTIVE half of the
    * blocking family (q224 scores a scheme after the fact; this picks
    * one before): for every (bands b, rows r) factorization of the
    * signature length, the banding catch probability
    * P(candidate | J=s) = 1 − (1 − sʳ)ᵇ at the target Jaccard
    * threshold and at a stated false-positive level, the gap between
    * them, and the chosen operating point (max gap, fewest bands on
    * ties — fewer bands = fewer bucket rows shuffled). All powers are
    * ppm integer folds (x·s div 10⁶ per step), so the S-curve is
    * engine-exact, not float-approximate.
    *
    * Data-independent (a plan, not a scan) — the relation exists so
    * the choice is auditable and oracle-checkable; [[lshPlan]] is the
    * driver-side twin that [[minhashLshPairsAuto]] wires into the LSH
    * defaults.
    */
  def lshBandPlan(
      spark: org.apache.spark.sql.SparkSession,
      sigLen: Int,
      targetPpm: Long,
      fpPpm: Long): DataFrame = {
    require(sigLen >= 2 && sigLen <= 4096, s"lshBandPlan: sigLen in [2, 4096], got $sigLen")
    require(targetPpm > 0L && targetPpm < 1000000L,
      s"lshBandPlan: targetPpm in (0, 1e6), got $targetPpm")
    require(fpPpm >= 0L && fpPpm < targetPpm,
      s"lshBandPlan: fpPpm in [0, targetPpm), got $fpPpm")
    import spark.implicits._
    val pairs = (1 to sigLen).filter(sigLen % _ == 0).map(b => (b, sigLen / b))
    def catchP(sPpm: Long): Column = expr(
      s"""1000000 - aggregate(sequence(1, bands), CAST(1000000 AS BIGINT),
         |  (acc, i) -> acc * (1000000 - aggregate(sequence(1, rows_per_band),
         |      CAST(1000000 AS BIGINT), (a2, j) -> a2 * ${sPpm}L div 1000000))
         |    div 1000000)""".stripMargin)
    val w = Window.orderBy(col("gap_ppm").desc, col("bands").asc)
    pairs.toDF("bands", "rows_per_band")
      .withColumn("p_catch_ppm", catchP(targetPpm))
      .withColumn("p_fp_ppm", catchP(fpPpm))
      .withColumn("gap_ppm", col("p_catch_ppm") - col("p_fp_ppm"))
      .withColumn("chosen", row_number().over(w) === 1)
  }

  /** Driver-side twin of [[lshBandPlan]]'s selection rule: the (bands,
    * rows-per-band) with the widest catch-vs-fp gap, fewest bands on
    * ties — identical ppm fold, usable at plan-construction time.
    */
  def lshPlan(sigLen: Int, targetPpm: Long, fpPpm: Long): (Int, Int) = {
    require(sigLen >= 2 && sigLen <= 4096 && targetPpm > 0L && targetPpm < 1000000L &&
      fpPpm >= 0L && fpPpm < targetPpm,
      s"lshPlan: bad arguments (sigLen=$sigLen, targetPpm=$targetPpm, fpPpm=$fpPpm)")
    def pow(x: Long, k: Int): Long = (1 to k).foldLeft(1000000L)((a, _) => a * x / 1000000L)
    val cands = (1 to sigLen).filter(sigLen % _ == 0).map { b =>
      val r = sigLen / b
      val gap = (1000000L - pow(1000000L - pow(targetPpm, r), b)) -
        (1000000L - pow(1000000L - pow(fpPpm, r), b))
      (b, r, gap)
    }
    val best = cands.maxBy(t => (t._3, -t._1))
    (best._1, best._2)
  }

  /** [[minhashLshPairs]] with the banding auto-tuned by [[lshPlan]]
    * for the requested threshold: state the signature budget and the
    * verify threshold, get the widest-gap (bands, rows) operating
    * point — the defaults stop being folklore.
    */
  def minhashLshPairsAuto(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      sigLen: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val tPpm = math.round(threshold * 1e6)
    val (b, r) = lshPlan(sigLen, tPpm, tPpm / 2)
    minhashLshPairs(docs, idCol, textCol, shingleSize, b, r, threshold)
  }

  /** Train/val/test near-dup LEAKAGE audit — the report a training
    * pipeline must run before shipping a split: a hash split assigns
    * docs to partitions independently of content, so near-duplicate
    * pairs straddle split boundaries at the background rate, and every
    * cross-split pair is evaluation contamination (the test set
    * contains a paraphrase of a training doc). Composes
    * [[graft.ext.Sampling.hashSplit]] with [[minhashLshPairs]] and
    * reports, per unordered (split, split) combination, the verified
    * near-dup pair count, whether it crosses the boundary, and its ppm
    * share of all pairs.
    *
    * Scale: the LSH pair machinery bounds the pair space (banded
    * signatures, no all-pairs); split labels join onto pairs as two
    * id-keyed projections of the already-tiny pair relation; the
    * share denominator is a 1-row broadcast (the q230 pattern).
    */
  def splitLeakage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Double)],
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val lbl = Sampling.hashSplit(docs.select(col(idCol)), col(idCol), splits)
      .select(col(idCol).as("__sid"), col("split"))
    val pairs = minhashLshPairs(docs, idCol, textCol, shingleSize, bands,
      rowsPerBand, threshold)
    val tagged = pairs
      .join(lbl.select(col("__sid").as("id_a"), col("split").as("__la")), Seq("id_a"))
      .join(lbl.select(col("__sid").as("id_b"), col("split").as("__lb")), Seq("id_b"))
      .select(least(col("__la"), col("__lb")).as("split_a"),
        greatest(col("__la"), col("__lb")).as("split_b"))
    val counts = tagged.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n_pairs")).as("__tot"))))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).as("cross"),
        expr("n_pairs * 1000000L div __tot").as("share_ppm"))
  }

  /** MinHash + LSH near-duplicate pairs, exact-verified.
    *
    * docs(idCol, textCol) → pairs (id_a, id_b, jaccard) with
    * jaccard >= threshold OR sharing an LSH band (banding is the
    * candidate generator; the final filter keeps verified pairs only).
    *
    * numHashes = bands * rowsPerBand. With 16 hashes as 8 bands × 2 rows,
    * P(candidate | J) = 1-(1-J²)⁸: ≈ 0.90 at J=0.5, ≈ 0.9995 at J=0.78,
    * ≈ 1 at J≥0.9 — high recall at the default 0.5 threshold; the extra
    * low-J candidates are discarded by the exact-Jaccard verify.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    // One compiled pass per doc: tokenize → shingle → md5 → [0,P) ints.
    // All downstream set math (minhash, verify-Jaccard) runs on 8-byte
    // hashes, never strings.
    val base = docs.select(
      col(idCol).as("doc_id"),
      graft.functions.TextFunctions
        .wordShingleHashes(col(textCol), shingleSize, TextHash.MinhashPrime).as("shingles"))
    // sig lands in its OWN Project (withColumn) so the 2k element_at
    // references in bandKeys see a cheap attribute, not an inlined copy.
    val banded = base
      .withColumn("sig", TextHash.minhashSignature(col("shingles"), k))
      .select(col("doc_id"), explode(
        TextHash.bandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    // Candidate generation joins (id, band) pairs only — the shuffle
    // carries ~50-byte rows, not shingle arrays; arrays re-join after
    // the distinct collapses multi-band collisions. The self-join keeps
    // BOTH sides the identical plan (alias, not re-projection) so
    // ReuseExchange computes the shingle→minhash pipeline once.
    val cand = banded.as("a").join(banded.as("b"), col("a.band") === col("b.band"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", graft.functions.TextFunctions.longSetIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .select(col("id_a"), col("id_b"),
        (col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The AllPairs prefix index of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: `sh` (doc_id, shingles) pinned, `post` its
    * postings (doc_id, __n, g), and `indexed` — each document's first
    * |d| − ⌈t·|d|⌉ + 1 shingles (doc_id, g, __n) in rarest-first order.
    * Unless `maxCandidatePairs <= 0`, `indexed` is a lazy
    * localCheckpoint materialized by the candidate-space preflight: the
    * Σ_g c_g² estimate of joining it with `probe(indexed, post)` must
    * stay within the bound, or the op fails with `advice`.
    */
  private final case class PrefixIndex(sh: DataFrame, post: DataFrame,
      indexed: DataFrame)

  private def prefixIndex(op: String, docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, threshold: Double,
      maxCandidatePairs: Long, advice: String)(
      probe: (DataFrame, DataFrame) => DataFrame): PrefixIndex = {
    // The shingle relation feeds FIVE consumers (postings→dfreq,
    // postings→prefix join, and both verify-join sides) — without a pin
    // each consumer re-runs tokenize+shingle-hash over the corpus text
    // (the q171/q147 multi-consumer lesson). Pin it once: everything
    // downstream reads 8-byte hash arrays, the text is scanned once.
    val sh = docs.select(
      col(idCol).as("doc_id"),
      graft.functions.TextFunctions
        .wordShingleHashes(col(textCol), shingleSize, TextHash.MinhashPrime).as("shingles"))
      .localCheckpoint(false)
    // Canonical order = rarest-first (ascending document frequency,
    // hash as tiebreak): prefixes then hold each document's most
    // selective shingles, so prefix-join candidates approach the true
    // pair count instead of colliding on boilerplate shingles.
    // __n (set size) rides along from BEFORE the explode — computing it
    // as count().over(partitionBy(doc_id)) after the explode would cost
    // a second window pass over the whole postings relation
    val post = sh.select(col("doc_id"), size(col("shingles")).as("__n"),
      explode(col("shingles")).as("g"))
    val dfreq = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val tDec = lit(java.math.BigDecimal.valueOf(threshold))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val prefix = post.join(dfreq, Seq("g"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__n") - ceil(tDec * col("__n")).cast("int") + 1)
      .select(col("doc_id"), col("g"), col("__n"))
    val indexed =
      if (maxCandidatePairs <= 0) prefix
      else {
        // the preflight's job materializes the checkpointed prefix, so
        // the candidate join re-reads blocks instead of re-running the
        // posting window (the q37 pattern)
        val ck = prefix.localCheckpoint(false)
        val est = Profile.joinCardinality(ck, col("g"), probe(ck, post), col("g"))
          .agg(sum(col("out_rows")).as("est"))
          .head().getDecimal(0)
        require(est == null ||
            est.compareTo(java.math.BigDecimal.valueOf(maxCandidatePairs)) <= 0,
          s"$op: estimated candidate space $est exceeds " +
            s"maxCandidatePairs=$maxCandidatePairs — $advice")
        ck
      }
    PrefixIndex(sh, post, indexed)
  }

  /** EXACT n-gram Jaccard pairs with prefix filtering (the AllPairs
    * scheme, Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW'07): shingle sets are 60-bit md5 hashes sorted in a global
    * canonical order; only the first |d| − ⌈t·|d|⌉ + 1 elements of each
    * document are indexed. Any pair with Jaccard ≥ t MUST share a
    * prefix element, so pruned candidates are provably below threshold —
    * the posting self-join shrinks ~(1−t)² with NO recall loss; the
    * survivors are verified with the full exact intersection.
    * ⌈t·|d|⌉ is computed in exact decimal arithmetic: a double ceil of
    * e.g. 0.6·10 = 6.000000000000001 would over-shorten the prefix and
    * silently drop borderline pairs.
    *
    * Scale contract: cost (like the output itself) is quadratic in the
    * number of docs per near-duplicate cluster — measured 21× time at
    * 10× docs on a corpus where every doc had 10 exact copies (the true
    * pair count grew 100×). The production composition is therefore
    * [[exact]] first (collapse identical docs, O(n)), this on the
    * canonical survivors; or [[minhashLshPairs]] when probabilistic
    * recall is acceptable (measured ~5× time at 10× docs).
    *
    * That contract is MECHANICAL, not advisory: before the candidate
    * self-join runs, a [[Profile.joinCardinality]] preflight estimates
    * the ordered candidate space Σ_g c_g² over the prefix postings and
    * fails fast above `maxCandidatePairs` (same spirit as pageRank's
    * resolution guard — a misuse dies in one cheap job, not a 10¹²-row
    * explosion). The prefix relation is lazily localCheckpointed and
    * materialized by the preflight, so the guarded query is CHEAPER
    * than the unguarded one: the self-join's two sides re-read the
    * checkpointed blocks instead of recomputing the posting window
    * twice. Pass `maxCandidatePairs <= 0` to disable (fully lazy, no
    * checkpoint), e.g. after an [[exact]] collapse has already bounded
    * the pair space.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxCandidatePairs: Long = 100000000L): DataFrame = {
    val PrefixIndex(sh, _, indexed) = prefixIndex("ngramJaccardPairs", docs,
      idCol, textCol, shingleSize, threshold, maxCandidatePairs,
      "the verified-pair space is " +
        "quadratic in per-cluster duplication. Collapse identical docs first " +
        "(Dedup.exact / nearDupCanonical, the q64 composition), use " +
        "minhashLshPairs for probabilistic recall, or raise/disable the " +
        "bound (maxCandidatePairs <= 0) if the cost is intended")((ck, _) => ck)
    val tDec = lit(java.math.BigDecimal.valueOf(threshold))
    val cand = indexed.as("a").join(indexed.as("b"), col("a.g") === col("b.g"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      // length filter: J ≥ t ⟹ min(|A|,|B|)/max(|A|,|B|) ≥ t
      .filter(col("b.__n") >= tDec * col("a.__n") && col("a.__n") >= tDec * col("b.__n"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", graft.functions.TextFunctions.longSetIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .select(col("id_a"), col("id_b"),
        (col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Containment near-dup pairs: C(A, B) = |A∩B| / |A| >= threshold
    * with A the smaller shingle set — the asymmetric twin of
    * [[ngramJaccardPairs]] that catches doc-INSIDE-doc duplication
    * (a quote, a boilerplate-wrapped article, a page embedding a whole
    * smaller page), where resemblance J = |∩|/|∪| stays low because
    * the big doc's size dominates the union. The containment family is
    * the contract behind quote-aware dedup and contamination sweeps.
    *
    * Candidate generation is prefix-filtered ON THE CONTAINED SIDE
    * only: C(A, B) >= t forces |A∩B| >= ⌈t·|A|⌉, so A must share one
    * of its |A| − ⌈t·|A|⌉ + 1 rarest shingles with B — but no bound
    * restricts B (anything can contain A), so B joins with its FULL
    * posting list and there is no symmetric length filter. That makes
    * the candidate space df-bounded, not size-filtered; the same
    * mechanical [[Profile.joinCardinality]] preflight as
    * [[ngramJaccardPairs]] fails fast when boilerplate shingles would
    * explode it. Pairs with |A| = |B| emit once (smaller id as A).
    *
    * Verification is exact set intersection on the candidate pairs;
    * output (id_small, id_big, containment), deterministic.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxCandidatePairs: Long = 100000000L): DataFrame = {
    // the contained side's prefix joins the containing side's FULL
    // postings, so the preflight estimates prefix × postings
    val PrefixIndex(sh, full, indexed) = prefixIndex("containmentPairs", docs,
      idCol, textCol, shingleSize, threshold, maxCandidatePairs,
      "prefix-side postings are " +
        "colliding on common shingles. Collapse identical docs first " +
        "(Dedup.exact), raise the shingle size, or disable the bound " +
        "(maxCandidatePairs <= 0) if the cost is intended")((_, post) => post)
    val cand = indexed.as("a").join(full.as("b"),
        col("a.g") === col("b.g") &&
          (col("b.__n") > col("a.__n") ||
            (col("b.__n") === col("a.__n") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("id_small"), col("b.doc_id").as("id_big"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("id_small"), col("shingles").as("sh_a")), Seq("id_small"))
      .join(sh.select(col("doc_id").as("id_big"), col("shingles").as("sh_b")), Seq("id_big"))
      .select(col("id_small"), col("id_big"),
        (graft.functions.TextFunctions.longSetIntersectCount(col("sh_a"), col("sh_b")).cast("double") /
          size(col("sh_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental near-dup: pairs between an INCOMING batch and the
    * existing corpus (plus pairs inside the batch), never corpus ×
    * corpus — the daily-ingest shape, where re-pairing the full corpus
    * with itself every day would be quadratic in corpus size for
    * answers already known. Same AllPairs prefix filtering as
    * [[ngramJaccardPairs]] (document frequencies and prefix order are
    * computed over the union — the pruning bound holds for any pair, so
    * restricting one join side to the batch loses no recall); the
    * candidate join is batch-prefix × all-prefix, so cost scales with
    * batch size × matches, not corpus².
    *
    * Returns (id_new, id_b, in_batch, jaccard): one row per qualifying
    * pair, id_new always from the batch; in_batch says whether the
    * partner is also new (such pairs appear once, smaller id first).
    * Ids must be distinct across corpus and batch.
    */
  def incrementalNearDupPairs(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    def side(df: DataFrame, isNew: Boolean) = df.select(
      col(idCol).as("doc_id"), col(textCol).as("__text"), lit(isNew).as("is_new"))
    val all = side(corpus, isNew = false).unionByName(side(incoming, isNew = true))
    val sh = all.select(col("doc_id"), col("is_new"),
      graft.functions.TextFunctions
        .wordShingleHashes(col("__text"), shingleSize, TextHash.MinhashPrime).as("shingles"))
    val post = sh.select(col("doc_id"), col("is_new"),
      size(col("shingles")).as("__n"), explode(col("shingles")).as("g"))
    val dfreq = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val tDec = lit(java.math.BigDecimal.valueOf(threshold))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val prefix = post.join(dfreq, Seq("g"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__n") - ceil(tDec * col("__n")).cast("int") + 1)
      .select(col("doc_id"), col("is_new"), col("g"), col("__n"))
    val cand = prefix.filter(col("is_new")).as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          // batch-batch pairs once (smaller id indexes), batch-corpus always
          (!col("b.is_new") || col("a.doc_id") < col("b.doc_id")))
      .filter(col("b.__n") >= tDec * col("a.__n") && col("a.__n") >= tDec * col("b.__n"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_b"),
        col("b.is_new").as("in_batch"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("id_new"), col("shingles").as("sh_a")), Seq("id_new"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", graft.functions.TextFunctions.longSetIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .select(col("id_new"), col("id_b"), col("in_batch"),
        (col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The PRODUCTION near-dup path: exact dedup first (collapse identical
    * docs, one O(n) hash aggregation), then exact n-gram Jaccard on the
    * canonical survivors only. [[ngramJaccardPairs]] is quadratic in the
    * size of each near-duplicate cluster — on a corpus where every doc
    * has c exact copies, running it raw costs c² per cluster; collapsing
    * the copies first removes that factor entirely (measured: 21× time
    * at 10× docs raw vs ~linear composed, BASELINE.md scale-up table).
    *
    * Output: one row per near-dup pair of CANONICAL docs
    * (id_a, id_b, jaccard, copies_a, copies_b) — copies_x is how many
    * exact duplicates the canonical doc stands for, so pair weight in
    * the original corpus is copies_a · copies_b.
    *
    * Grouping by md5(text) carries the text through the aggregation
    * (constant within each group), so no join back to the input is
    * needed. The canonical relation feeds three consumers (the Jaccard
    * input and both copies joins), so it is lazily checkpointed — the
    * corpus scan + hash aggregation run once and the (much smaller)
    * canonical rows are reused; a 100 TB deployment would persist the
    * canonical corpus to storage at this point instead.
    */
  def nearDupCanonical(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val canon = docs
      .groupBy(md5(col(textCol)).as("__content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        // text is constant per md5 group; min() is a deterministic pick
        min(col(textCol)).as("__text"),
        count(lit(1)).as("n_copies"))
      .localCheckpoint(false)
    val copies = canon.select(col("keep_id"), col("n_copies"))
    ngramJaccardPairs(
        canon.select(col("keep_id"), col("__text")), "keep_id", "__text",
        shingleSize, threshold)
      .join(copies.select(col("keep_id").as("id_a"), col("n_copies").as("copies_a")), Seq("id_a"))
      .join(copies.select(col("keep_id").as("id_b"), col("n_copies").as("copies_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("copies_a"), col("copies_b"))
  }

  /** Near-duplicate CLUSTERS: pair generation ([[ngramJaccardPairs]],
    * exact) followed by transitive closure ([[Graph.connectedComponents]])
    * — the step that turns pairwise similarity into an actual dedup
    * decision. A≈B and B≈C collapse into one cluster even when (A, C)
    * was never emitted as a pair, and the cluster's minimum doc id is
    * the canonical survivor.
    *
    * Output: one row per clustered doc — (doc_id, cluster_id,
    * cluster_size, is_canonical). Docs in no near-dup pair are trivially
    * their own canonical singleton and are NOT emitted (at corpus scale
    * the clustered subset is orders of magnitude smaller than the
    * corpus; a full dedup keeps `docs` anti-joined with the
    * `is_canonical = false` rows of this result).
    *
    * Scale: pair generation dominates (see [[ngramJaccardPairs]]'s
    * contract — compose with [[exact]] via [[nearDupCanonical]]-style
    * collapse first on heavily-copied corpora); the closure itself
    * iterates on a relation of one row per CLUSTERED doc, converging in
    * O(log d) rounds for cluster diameter d.
    */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, shingleSize, threshold)
    val cc = Graph.connectedComponents(pairs, "id_a", "id_b")
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("comp"))
      .select(
        col("id").as("doc_id"),
        col("comp").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("comp")).as("is_canonical"))
  }

  /** Benchmark decontamination: for every training doc, the fraction of
    * its n-gram shingles that appear ANYWHERE in the benchmark corpus —
    * the standard eval-leakage gate (drop or flag docs above a
    * threshold). Inverted-index formulation: the benchmark collapses to
    * a distinct shingle-hash SET, the join key is the 8-byte hash, and
    * the shuffle carries (shingle, doc) pairs — never doc×doc pairs, so
    * cost is linear in corpus shingle volume regardless of how
    * contaminated it is. Docs with no shingles report 0.0.
    */
  def contamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    def sh(df: DataFrame) = df.select(
      col(idCol).as("doc_id"),
      graft.functions.TextFunctions
        .wordShingleHashes(col(textCol), shingleSize, TextHash.MinhashPrime).as("sh"))
    // the shingled corpus is lazily checkpointed: the md5 shingling —
    // the dominant cost — runs once and feeds both the overlap branch
    // and the per-doc size projection. The overlap aggregation shuffles
    // ONLY bench-matching postings (a semi-join-sized relation), not
    // the full exploded corpus; its small result left-joins back to the
    // un-exploded per-doc rows, so zero-overlap and zero-shingle docs
    // keep their 0 row.
    val tr = sh(train).localCheckpoint(false)
    val benchSet = sh(bench).select(explode(col("sh")).as("g")).distinct()
    val overlap = tr.select(col("doc_id"), explode(col("sh")).as("g"))
      .join(benchSet, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__ov"))
    tr.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(overlap, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("__ov"), lit(0L)).as("n_overlap"),
        when(col("n_shingles") > 0,
          coalesce(col("__ov"), lit(0L)).cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)).as("overlap_frac"))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprints, candidates via
    * the pigeonhole trick (maxHamming+1 chunks — any pair within the
    * bound shares at least one exact chunk), verified by true Hamming
    * distance. Equi-join on (chunkIdx, chunkValue): no pair explosion.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val base = docs.select(
      col(idCol).as("doc_id"),
      graft.functions.TextFunctions.simhash64(
        // n=1 shingles = tokens; distinct=false so every occurrence votes
        graft.functions.TextFunctions.wordShingleHashes(
          col(textCol), 1, 0L, distinct = false)).as("sim"))
    val chunked = base.withColumn("chunk", explode(array((0 until chunks).map { i =>
      struct(lit(i).as("idx"),
        shiftrightunsigned(col("sim"), i * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)).as("v"))
    }: _*)))
    // identical-plan self-join → ReuseExchange computes simhashes once
    chunked.as("a").join(chunked.as("b"), col("a.chunk") === col("b.chunk"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextHash.hamming64(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Frequency-capped soft dedup: keep at most `cap` documents of each
    * near-dup cluster instead of collapsing to one canonical survivor
    * ([[nearDupClusters]]' `is_canonical`). Training mixes often WANT a
    * couple of near-duplicate variants (paraphrases, quote-with-
    * commentary) while still bounding how much one viral page can
    * dominate the corpus — this is the dedup twin of the per-source cap
    * (q77). Docs outside any cluster are their own cluster of one and
    * always survive.
    *
    * Survivor pick is the bounded-heap grouped top-k aggregate
    * ([[graft.functions.TopK.perKey]]): map-side k-heaps ship ≤ cap ids
    * per (cluster, task) — no full-shuffle row_number window over the
    * corpus. Deterministic: lowest `cap` doc ids per cluster win.
    */
  def capPerCluster(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cap: Int,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(docs, idCol, textCol, shingleSize, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val labeled = docs.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    graft.functions.TopK
      .perKey(labeled, Seq("cluster_id"), -col("doc_id").cast("double"), col("doc_id"), cap)
      .select(col("cluster_id"), col("rank"), col("id").as("doc_id"))
  }

  /** Passage-level exact-substring dedup: find the SPANS (token
    * offsets) of each document covered by a `window`-token passage that
    * also occurs verbatim in at least `minDocs − 1` other documents —
    * the within-doc-granular signal behind suffix-array substring dedup
    * (syndicated paragraphs, license blocks, quoted chunks inside
    * otherwise-unique pages), where whole-doc dedup sees nothing.
    *
    * Plan shape at 100 TB: one compiled tokenize pass → window hashes
    * via `transform(sequence)` in the scan stage (full 60-bit space, no
    * modulus) → hash-keyed distinct-doc aggregate (map-side partial;
    * one row per distinct passage) → narrow (hash, doc, start) join
    * back → per-doc overlapping-window merge with ONE window pass. The
    * corpus text itself never shuffles — only (doc_id, start, hash)
    * triples, and only for windows that pass the frequency gate.
    *
    * Output: (doc_id, span_start, span_end, n_windows) per maximal
    * merged span, token offsets, end exclusive.
    */
  def passageDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int,
      minDocs: Int = 2): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = col("__toks")
    val wins = docs
      .select(col(idCol).as("doc_id"), TextHash.tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= window)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - window, lit(stride)),
        st => struct(st.cast("long").as("start"),
          TextHash.hash64(concat_ws(" ", slice(toks, st + 1, lit(window)))).as("h"))))
        .as("w"))
      .select(col("doc_id"), col("w.start").as("start"), col("w.h").as("h"))
    val dupHashes = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("h")
    val marked = wins.join(dupHashes, Seq("h"))
      .select(col("doc_id"), col("start"), (col("start") + window).as("end"))
    // merge overlapping/adjacent windows into maximal spans: a window
    // starts a new span iff it begins after every earlier window's end
    val w = Window.partitionBy("doc_id").orderBy("start")
    marked
      .withColumn("__prevmax",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("__prevmax").isNull || col("start") > col("__prevmax")).cast("long"))
      .withColumn("__span",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Cross-document exact-substring dedup: for every PAIR of documents
    * sharing a verbatim `window`-token passage, the maximal ALIGNED
    * span in each — the train-set repeated-sequence operator (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — there via suffix arrays; here the distributed
    * window-hash formulation): [[passageDupSpans]] says WHERE a doc
    * repeats the corpus, this says WITH WHOM and span-for-span, the
    * shape needed to actually cut one side of each repeat (keep the
    * span in the lower-id doc, drop it from the higher).
    *
    * Mechanics: window hashes at stride 1 (alignment-exact — matched
    * substrings land on a common hash regardless of where they sit in
    * each doc) → posting-list df gate `2 ≤ distinct docs ≤ maxDf` →
    * hash-keyed self-join emits (id_a, id_b, start_a, start_b) matched
    * windows → per (pair, DIAGONAL start_b − start_a), overlapping
    * windows merge into maximal islands (one window pass — the q91
    * running-max idiom); a diagonal run of w matched windows is a
    * (w + window − 1)-token verbatim match.
    *
    * The df cap is the Σdf² pair-cost bound (the q190 rule): a viral
    * passage in d docs would emit d² pairs, so hashes past `maxDf`
    * are EXCLUDED from pairing BY DESIGN — boilerplate that common is
    * [[passageDupSpans]]'/q104-blocklist territory, not pairwise
    * surgery (Lee et al. cap identically). The cap is a documented
    * semantic, not a silent truncation: pass maxDf = Int.MaxValue to
    * disable and accept the quadratic cost. `maxPerDoc` is the
    * WITHIN-doc twin: only the first maxPerDoc start-ordered
    * occurrences of a hash inside one doc enter pairing, so
    * intra-doc repetition contributes at most maxPerDoc² windows per
    * pair instead of k².
    *
    * Scale: the text never shuffles — (h, doc, start) triples do,
    * and only for hashes that pass the df gate; the island merge
    * windows over (pair, diag) keys. Output: (id_a, id_b, a_start,
    * a_end, b_start, b_end, n_windows), token offsets, end exclusive.
    */
  def crossDocDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      maxDf: Int = 64,
      maxPerDoc: Int = 8): DataFrame = {
    require(window > 0, s"need window > 0, got $window")
    require(maxDf >= 2, s"need maxDf >= 2, got $maxDf")
    require(maxPerDoc >= 1, s"need maxPerDoc >= 1, got $maxPerDoc")
    val toks = col("__toks")
    // lazy checkpoint: wins feeds the df gate AND the postings join
    val wins = docs
      .select(col(idCol).as("doc_id"), TextHash.tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= window)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - window, lit(1)),
        st => struct(st.cast("long").as("start"),
          TextHash.hash64(concat_ws(" ", slice(toks, st + 1, lit(window)))).as("h"))))
        .as("w"))
      .select(col("doc_id"), col("w.start").as("start"), col("w.h").as("h"))
      .localCheckpoint(false)
    val okHashes = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__docs"))
      .filter(col("__docs") >= 2 && col("__docs") <= maxDf)
      .select("h")
    // WITHIN-doc multiplicity cap: the df gate bounds cross-doc
    // fan-out, but a passage repeated k times inside each of two docs
    // would still emit k² matched windows per pair. Keep only the
    // first `maxPerDoc` occurrences of each (doc, hash) — start-order,
    // deterministic — so the pair cost bound Σdf² holds with the
    // per-posting constant maxPerDoc² even on adversarially
    // repetitive docs (the case Lee et al.'s suffix arrays absorb).
    val posts = wins.join(okHashes, Seq("h"))
      .withColumn("__occ", row_number().over(
        Window.partitionBy(col("doc_id"), col("h")).orderBy(col("start"))))
      .filter(col("__occ") <= maxPerDoc)
      .drop("__occ")
    val matched = posts.as("a").join(posts.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.start").as("start_a"),
        (col("b.start") - col("a.start")).as("__diag"))
    val w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("start_a")
    matched
      .withColumn("__end_a", col("start_a") + window)
      .withColumn("__prevmax",
        max(col("__end_a")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("__prevmax").isNull || col("start_a") > col("__prevmax")).cast("long"))
      .withColumn("__island",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__island"))
      .agg(min(col("start_a")).as("a_start"), max(col("__end_a")).as("a_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id_a"), col("id_b"), col("a_start"), col("a_end"),
        (col("a_start") + col("__diag")).as("b_start"),
        (col("a_end") + col("__diag")).as("b_end"),
        col("n_windows"))
  }

  /** Measured MinHash-LSH recall on a deterministic sample — the
    * "measure, don't guess" gate before trusting LSH parameters on a
    * real corpus: LSH's miss probability depends on the corpus's OWN
    * similarity distribution (pairs barely above threshold are exactly
    * the ones bands miss), so the only honest recall number is one
    * measured on the data.
    *
    * Mechanics: hash-sample the corpus ([[Sampling.hashSample]] — the
    * sample is a pure function of the id, so reruns and other engines
    * probe the identical subset), compute ground truth with the EXACT
    * [[ngramJaccardPairs]] (affordable BECAUSE of the sample — that is
    * the sample's whole purpose), run [[minhashLshPairs]] with the
    * candidate parameters on the same sample, and count. Both
    * operators share one shingle universe and one verify formula, so
    * LSH pairs ⊆ truth pairs by construction and the single number
    * that can differ is recall. Output (1 row):
    * (n_true_pairs, n_found_pairs, recall_ppb) — recall in exact
    * parts-per-billion (integer floor-division, the engine-portable
    * convention), null when the sample has no qualifying pairs.
    */
  def lshRecallProbe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sampleRate: Double,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    require(sampleRate > 0 && sampleRate <= 1,
      s"lshRecallProbe: sampleRate in (0,1], got $sampleRate")
    val sample = Sampling.hashSample(docs, col(idCol), sampleRate)
    val truth = ngramJaccardPairs(sample, idCol, textCol, shingleSize, threshold)
      .select(col("id_a"), col("id_b"))
    val lsh = minhashLshPairs(sample, idCol, textCol, shingleSize, bands,
      rowsPerBand, threshold).select(col("id_a"), col("id_b"))
    val found = truth.join(lsh, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found_pairs"))))
      .select(col("n_true_pairs"), col("n_found_pairs"),
        when(col("n_true_pairs") > 0,
          expr("n_found_pairs * 1000000000L div n_true_pairs"))
          .otherwise(lit(null).cast("long")).as("recall_ppb"))
  }

  /** Per-source exact-duplication report: for each source slice —
    * document count, documents whose canonical content hash occurs
    * MORE THAN ONCE in the WHOLE corpus (not just within the source),
    * and the duplicated fraction. The dedup dashboard number that
    * decides which feed gets the aggressive near-dup pass and which
    * gets a pass-through: a crawl dump at 40% exact-dup is a different
    * problem than a curated set at 0.1%.
    *
    * Corpus-wide by design: a doc duplicated ACROSS sources counts in
    * both — that is the number that predicts cross-source dedup yield.
    * Null-text docs are excluded (no content, no duplication
    * evidence).
    *
    * Scale: one hash-keyed count aggregate (map-side partials), one
    * equi-join back on the hash (AQE-handled like any skewed key), one
    * source-keyed rollup — all keyed shuffles, output is
    * source-count-sized.
    */
  def dupRateBySource(
      df: DataFrame,
      source: Column,
      textCol: Column): DataFrame = {
    val h = md5(TextAnalysis.canonicalize(textCol))
    val base = df.filter(textCol.isNotNull)
      .select(source.as("__src"), h.as("__h"))
    val counts = base.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
    base.join(counts, Seq("__h"))
      .groupBy(col("__src").as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_frac",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
  }

  /** Cross-source n-gram-overlap pairs: for every source pair — the
    * number of DISTINCT word-shingle hashes present in both, and that
    * count as a fraction of the smaller side's distinct shingle
    * vocabulary (containment, so a small feed whose content is
    * entirely re-treaded by a big one reads 1.0, where a symmetric
    * Jaccard would hide it). The "which dumps duplicate each other"
    * matrix that decides source precedence before a cross-source dedup
    * pass — n-gram-level rather than whole-doc hashes because real
    * feeds share boilerplate and passages long before they share
    * byte-identical documents.
    *
    * Scale: the corpus collapses to DISTINCT (shingle, source) rows
    * first (bounded by per-source shingle vocabulary, not token
    * volume), so the hash-keyed self-join fans out per shingle only
    * over the sources that share it — with S sources a
    * universally-shared shingle costs C(S,2) rows, never doc×doc;
    * per-source totals ride a broadcast.
    */
  def sourceOverlap(
      df: DataFrame,
      source: Column,
      textCol: Column,
      shingleSize: Int = 3): DataFrame = {
    val sh = df.filter(textCol.isNotNull && source.isNotNull)
      .select(source.as("__src"),
        explode(graft.functions.TextFunctions
          .wordShingleHashes(TextAnalysis.canonicalize(textCol), shingleSize, 0L))
          .as("__h"))
      .distinct()
    val totals = sh.groupBy(col("__src")).agg(count(lit(1)).as("__tot"))
    sh.select(col("__h"), col("__src").as("source_a"))
      .join(sh.select(col("__h"), col("__src").as("source_b")), Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("__src").as("source_a"), col("__tot").as("__ta"))),
        Seq("source_a"))
      .join(broadcast(totals.select(col("__src").as("source_b"), col("__tot").as("__tb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("__ta"), col("__tb")).cast("double")).as("containment"))
  }

  /** Sorted-neighborhood near-duplicate pairs (Hernández & Stolfo,
    * SIGMOD'95 merge/purge): sort docs by a canonical key, compare each
    * doc only with its next `windowSize − 1` neighbors in that order,
    * keep pairs whose exact token-set Jaccard clears `minJaccard`.
    * Near-identical texts canonicalize to near-identical keys and land
    * adjacent, so a tiny window catches them at LINEAR pair cost —
    * the third candidate generator next to [[minhashLshPairs]]
    * (probabilistic, join-based) and [[ngramJaccardPairs]] (exact,
    * quadratic in cluster size): deterministic, join-FREE, and immune
    * to cluster-size blowup — a 10⁶-copy cluster emits
    * windowSize−1 pairs per member, never the 10¹² of a pair join.
    * The price is sort-order recall only: a pair whose keys diverge in
    * the first `blockPrefix` chars (e.g. a different leading word) is
    * never compared. Run it as the cheap first pass, LSH for the rest.
    *
    * Plan: ONE window shuffle, zero joins. Docs hash-partition by the
    * first `blockPrefix` chars of the canonical key (the sliding
    * window runs inside each block — unbounded-key global sorts don't
    * exist at 100 TB; a block boundary costs at most windowSize−1
    * candidate pairs) and sort by (key, id) within the block; each row
    * carries its `windowSize − 1` lead neighbors out of the window
    * operator, and the verify — array_intersect on distinct token
    * sets, fixed-shape double division — is scan-stage. Pairs are
    * emitted (least, greatest) so output ids are canonically ordered
    * regardless of sort position; the same unordered pair can only
    * appear once (forward-only leads from a total order).
    */
  def sortedNeighborPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowSize: Int = 4,
      blockPrefix: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    require(windowSize >= 2 && windowSize <= 64,
      s"sortedNeighborPairs: windowSize in [2, 64], got $windowSize")
    require(blockPrefix >= 1, s"sortedNeighborPairs: blockPrefix >= 1 required")
    val key = TextAnalysis.canonicalize(col(textCol))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), key.as("__key"),
        array_distinct(TextHash.tokens(key)).as("__toks"))
      .withColumn("__blk", substring(col("__key"), 1, blockPrefix))
    val w = Window.partitionBy(col("__blk")).orderBy(col("__key"), col("doc_id"))
    val leads = array((1 until windowSize).map(j =>
      lead(struct(col("doc_id").as("id"), col("__toks").as("toks")), j).over(w)): _*)
    val inter = size(array_intersect(col("__toks"), col("__nb.toks"))).cast("double")
    base
      // window expressions can't sit under a Generate — materialize the
      // neighbor array in its own Project, then explode the attribute
      .select(col("doc_id"), col("__toks"), leads.as("__nbs"))
      .select(col("doc_id"), col("__toks"), explode(col("__nbs")).as("__nb"))
      .filter(col("__nb").isNotNull)
      .select(
        least(col("doc_id"), col("__nb.id")).as("id_a"),
        greatest(col("doc_id"), col("__nb.id")).as("id_b"),
        (inter / (size(col("__toks")) + size(col("__nb.toks")) - inter).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Duplication-mass-weighted canonical sampling — the sampling rule
    * that follows exact dedup in corpus assembly: each exact-duplicate
    * cluster keeps ONE canonical document (min id over the canonical
    * text hash), and the canonical is admitted with probability
    * min(1, base·√m) where m is the cluster size — duplication count
    * is a popularity signal worth SUBLINEAR upweighting, never the
    * linear oversampling that keeping all copies would give (the
    * Pile/RedPajama-style dedup-then-reweight recipe). Sampling is the
    * deterministic hash threshold (the q68 discipline): admitted ⇔
    * hash64("ws:" ++ key) mod 1e6 < threshold_ppm, so re-runs and the
    * oracle agree row-for-row with no RNG state.
    *
    * Output: one row per CLUSTER —
    * (doc_id, cluster_size, threshold_ppm, sampled).
    *
    * Scale posture: one hash aggregation keyed by the 60-bit canonical
    * hash (the q33 shape) and a scan-stage threshold — no join, no
    * pair space, no driver state; √ is exact here (m < 2^52 makes
    * floor(sqrt(double)) the integer square root on any engine).
    */
  def weightedCanonicalSample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      basePpm: Long = 200000L): DataFrame = {
    require(basePpm >= 1L && basePpm <= 1000000L,
      s"weightedCanonicalSample: basePpm in [1, 1e6], got $basePpm")
    val key = TextHash.hash64(TextAnalysis.canonicalize(col(textCol)))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), key.as("__k"))
      .groupBy(col("__k"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("cluster_size"))
      .withColumn("threshold_ppm",
        least(lit(1000000L),
          floor(sqrt(col("cluster_size").cast("double"))).cast("long") * basePpm))
      .withColumn("sampled",
        pmod(TextHash.hash64(concat(lit("ws:"), col("__k").cast("string"))),
          lit(1000000L)) < col("threshold_ppm"))
      .select(col("doc_id"), col("cluster_size"),
        col("threshold_ppm"), col("sampled"))
  }

  /** Within-document repeated-span removal — the TRANSFORM complement
    * of the repetition metrics (q69) and the cross-doc span finder
    * (q245): every token position covered by a DUPLICATE n-gram window
    * (one whose n-gram already occurred earlier in the same document)
    * is removed, keeping the first occurrence — the intra-document
    * half of exact-substring deduplication (Lee et al., ACL'22), the
    * "stuck-key / copy-paste loop" cleanup every web corpus needs.
    *
    * Semantics (exists-coverage, engine-replayable): with grams
    * g(p) = toks[p..p+n-1], dup(p) ⇔ ∃q<p: g(q)=g(p); position j is
    * removed ⇔ ∃ dup window w with w ≤ j ≤ w+n-1. Docs with fewer
    * than n tokens pass through unchanged.
    *
    * Output: (doc_id, n_tokens, n_removed, kept_text).
    *
    * Scale posture: every window/aggregate is keyed by doc_id (plus
    * the in-doc gram for first-occurrence ranking) — state is bounded
    * by the longest document, never the corpus; one doc-keyed shuffle
    * end-to-end, no pair space, no corpus-wide gram table.
    */
  def dedupSpansWithinDoc(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 2, s"dedupSpansWithinDoc: n >= 2, got $n")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextHash.tokens(col(textCol))).as(Seq("pos", "w")))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = toks
      .withColumn("__g", concat_ws("\u0001",
        col("w") +: (1 until n).map(j => lead(col("w"), j).over(byPos)): _*))
      // trailing positions have no full window; lead() is null there and
      // concat_ws silently skips nulls, so gate on window count instead
      .withColumn("__T", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("__isWin", col("pos") <= col("__T") - n)
    val dupWin = gram.filter(col("__isWin"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("doc_id"), col("__g")).orderBy(col("pos"))))
      .filter(col("__rk") > 1)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1)))
        .as("pos"))
      .distinct()
    toks
      .join(dupWin.withColumn("__rm", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rm").isNull, struct(col("pos"), col("w"))))),
            x => x.getField("w")), " ").as("kept_text"))
  }

  /** Corpus-frequent chunk removal (the RefinedWeb / C4 "repeated
    * line" filter, re-expressed for token-chunk units): every document
    * is segmented into fixed-size token chunks, each chunk's document
    * frequency is counted across the WHOLE corpus, and chunks that
    * appear in >= `maxDf` distinct documents are dropped from every
    * document before recomposition — boilerplate (navigation chrome,
    * license footers, templated headers) is exactly the text that
    * repeats verbatim across many pages.
    *
    * Output: one row per input document —
    * (doc_id, n_chunks, n_dropped, kept_text) where kept_text is the
    * surviving chunks re-joined in original order ('' when everything
    * was boilerplate). Docs with no tokens are absent.
    *
    * Scale posture: chunking is one keyed aggregation on
    * (doc, chunk_idx); the corpus df table is a hash aggregate keyed
    * by the 60-bit chunk hash (8-byte keys through the shuffle, never
    * the chunk text — the text rides only the doc-keyed side); the df
    * join is an equi-join on that hash; recomposition is one final
    * doc-keyed aggregate. No pair space exists at any point — cost is
    * linear in corpus tokens, the property that lets this run as the
    * FIRST stage at 100 TB where pairwise dedup would be the last.
    */
  /** (doc_id, cidx, chunk, h): every document segmented into
    * fixed-size token chunks with the 60-bit chunk hash — the unit
    * relation shared by [[frequentChunkFilter]] and the streaming
    * boilerplate gate (their chunking MUST be byte-identical or the
    * stream's verdicts drift from the batch stage's).
    */
  private[graft] def chunkRelation(
      docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkRelation: chunkTokens >= 1, got $chunkTokens")
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextHash.tokens(col(textCol))).as(Seq("pos", "w")))
      .groupBy(col("doc_id"), (col("pos") / chunkTokens).cast("long").as("cidx"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("chunk"))
      .withColumn("h", TextHash.hash64(col("chunk")))
  }

  def frequentChunkFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 8,
      maxDf: Int = 3): DataFrame = {
    require(maxDf >= 2, s"frequentChunkFilter: maxDf >= 2, got $maxDf")
    // lazy localCheckpoint: chunks feeds BOTH the df aggregate and the
    // df join below — unpinned, the chunking aggregation would run
    // twice (the q147 multi-consumer shape)
    val chunks = chunkRelation(docs, idCol, textCol, chunkTokens)
      .localCheckpoint(false)
    // corpus-wide document frequency per chunk — only the 8-byte hash
    // crosses this shuffle
    val dfTab = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks
      .join(dfTab, Seq("h"))
      .withColumn("dropped", col("df") >= maxDf)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("dropped").cast("long")).as("n_dropped"),
        // collect_list skips nulls: only surviving chunks are gathered,
        // then re-ordered by their original chunk index
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("dropped"), struct(col("cidx"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("kept_text"))
  }
}
