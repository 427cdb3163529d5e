package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen, no shuffle, no UDF) — they run in the
  * same stage as the scan at any scale.
  */
object TextAnalysis {

  /** Tiny built-in stopword lists for the n-gram/stopword language
    * heuristic. Deliberately small: the operator is the heuristic's
    * plumbing; swap lists freely.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ein", "eine", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"))

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(toks: Column, lang: String): Column = {
    val hits = size(filter(toks, t => lower(t).isin(stopwords(lang): _*)))
    hits.cast("double") / greatest(size(toks), lit(1)).cast("double")
  }

  /** Language-ID heuristic: argmax of stopword ratio across the lists
    * (compiled one-pass expression, graft.functions.LangIdExpr), "und"
    * (undetermined) when every ratio is zero. Tiebreak = max by
    * (ratio, lang) — the lexicographically last language wins a tie.
    */
  def langId(text: Column): Column =
    graft.functions.TextFunctions.langId(text, stopwords)

  /** Unicode-script character census — the multilingual-curation
    * complement to [[langId]] (stopword lists only see SPACE-DELIMITED
    * languages; script ratios catch CJK, Cyrillic and mixed-script
    * mojibake regardless of tokenization). Counts characters in fixed
    * CODEPOINT RANGES (not named script classes — Java regex and RE2
    * spell those differently; ranges replay identically on any
    * engine): Latin letters A-z, CJK Unified Ideographs U+4E00-9FFF,
    * Cyrillic U+0400-04FF, with everything else (digits, punctuation,
    * space, other scripts) as the remainder. Output columns:
    * n_chars, n_latin, n_han, n_cyrillic, and the dominant script
    * ('latin' | 'han' | 'cyrillic' | 'other', max count with that
    * fixed precedence on ties). One scan-stage pass, codegen regex.
    */
  def scriptCensus(text: Column): Column = {
    def cnt(keep: String) =
      length(regexp_replace(text, s"[^$keep]", "")).cast("long")
    val latin = cnt("A-Za-z")
    val han = cnt("一-鿿")
    val cyr = cnt("Ѐ-ӿ")
    val other = length(text).cast("long") - latin - han - cyr
    val m = greatest(latin, han, cyr, other)
    struct(
      length(text).cast("long").as("n_chars"),
      latin.as("n_latin"), han.as("n_han"), cyr.as("n_cyrillic"),
      when(latin === m, "latin").when(han === m, "han")
        .when(cyr === m, "cyrillic").otherwise("other").as("dominant"))
  }

  /** Quality score in [0,1]: weighted mix of length band, mean word
    * length band, alpha ratio and digit penalty — the standard
    * cheap-filter shape for pretraining corpora.
    */
  def qualityScore(text: Column): Column = {
    val toks = TextHash.tokens(text)
    val nChars = length(text).cast("double")
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val meanWordLen = nChars / nToks
    val alpha = length(regexp_replace(text, "[^A-Za-z ]", "")).cast("double") / greatest(nChars, lit(1.0))
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double") / greatest(nChars, lit(1.0))
    val lenBand = when(nChars >= 200 && nChars <= 20000, lit(1.0))
      .when(nChars >= 50, lit(0.5)).otherwise(lit(0.0))
    val wordBand = when(meanWordLen >= 3.0 && meanWordLen <= 10.0, lit(1.0)).otherwise(lit(0.5))
    lenBand * 0.4 + wordBand * 0.2 + alpha * 0.3 + (lit(1.0) - digits) * 0.1
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(TextHash.tokens(text)).cast("long")

  /** BPE-ish subword estimate: words + punctuation runs counted
    * separately (a cheap stand-in for a real tokenizer's token count).
    */
  def subwordCountEstimate(text: Column): Column = {
    val words = size(filter(split(text, "[^A-Za-z0-9]+"), t => t =!= "")).cast("long")
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("long")
    // long words split into ~4-char subword units; explicit floor —
    // Spark's double→long cast truncates but DuckDB's ROUNDS
    val longWordExtra = aggregate(
      TextHash.tokens(text), lit(0L),
      (acc, t) => acc +
        when(length(t) > 4, floor((length(t) - lit(1)) / lit(4)).cast("long")).otherwise(lit(0L)))
    words + punct + longWordExtra
  }

  /** Within-document repetition fractions — the standard pretraining
    * quality signals for template/spam detection: 1 − distinct/total
    * over tokens and over token 2-grams (0.0 for empty docs). Pure
    * scan-stage expressions: `array_distinct`/`size` are codegen'd
    * collection ops and the 2-gram hashes come from the native
    * WordShingleHashes expression — no lambda HOFs, no shuffle.
    */
  def dupTokenFraction(text: Column): Column = {
    val toks = TextHash.tokens(text)
    when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  def dupBigramFraction(text: Column): Column = {
    val bi = graft.functions.TextFunctions.wordShingleHashes(text, 2, 0L, distinct = false)
    when(size(bi) > 0,
      lit(1.0) - size(array_distinct(bi)).cast("double") / size(bi).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Redaction scrub for training corpora: URLs, emails and phone-like
    * digit runs become typed placeholder tokens, then whitespace
    * collapses to single spaces. A pure codegen'd regexp chain (runs in
    * the scan stage, no shuffle); patterns are plain greedy constructs
    * that Java regex and RE2 (DuckDB) evaluate identically, which is
    * what lets q65 oracle-check the exact output.
    */
  def scrub(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^\\s]+", "<URL>")
    val noMail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>")
    val noPhone = regexp_replace(noMail, "\\+?[0-9][0-9() .-]{7,}[0-9]", "<PHONE>")
    trim(regexp_replace(noPhone, "\\s+", " "))
  }

  /** Canonical text form for hash-based dedup: lowercase → collapse
    * whitespace runs to single spaces → trim → Unicode NFC
    * (precomposed code points). Formatting/encoding variants of the
    * same prose — trailing spaces, CRLF vs LF, combining vs composed
    * accents — hash identically after this, so exact/minhash dedup
    * catches them. Pure scan-stage expression chain; the NFC step is a
    * compiled [[graft.functions.NfcNormalize]] with an O(n)
    * already-normalized fast path (all-ASCII text never allocates).
    * DuckDB replicates with `nfc_normalize` — both implement UAX #15.
    */
  def canonicalize(text: Column): Column =
    // collapse BEFORE trim: trim strips only 0x20, so a trailing tab or
    // newline must first become a space for trim to remove it
    graft.functions.TextFunctions.nfcNormalize(
      trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Gopher-style repetition/format quality rules ("Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", Rae et
    * al. 2021, §A1.1) as one scan-stage expression bundle: word count,
    * mean word length, symbol-to-word ratio (# and ellipsis), bullet-
    * and ellipsis-line ratios, alphabetic-word ratio and a stopword
    * hit count. Every metric is a plain regexp/length formula with
    * identical leftmost-first match semantics in Java regex and RE2,
    * which is what lets the DuckDB oracle re-derive the exact values.
    * Denominators are clamped with greatest(..,1): ANSI mode makes
    * even double division-by-zero an error, and an empty doc should
    * score 0, not kill the job.
    */
  object Gopher {
    /** Count of non-whitespace runs — the word count. */
    def wordCount(text: Column): Column = regexp_count(text, lit("\\S+"))
    private def words(text: Column): Column = greatest(wordCount(text), lit(1)).cast("double")

    def meanWordLen(text: Column): Column =
      length(regexp_replace(text, "\\s+", "")).cast("double") / words(text)

    /** (# chars + '...' occurrences) per word. */
    def symbolWordRatio(text: Column): Column =
      ((length(text) - length(regexp_replace(text, "#", ""))).cast("double") +
        ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)).cast("double")) /
        words(text)

    private def lineCount(text: Column): Column =
      ((length(text) - length(regexp_replace(text, "\n", ""))) + lit(1)).cast("double")

    /** Fraction of lines that start with a bullet marker. */
    def bulletLineRatio(text: Column): Column =
      regexp_count(text, lit("(?m)^\\s*[-*•]")).cast("double") / lineCount(text)

    /** Fraction of lines that end with an ellipsis. */
    def ellipsisLineRatio(text: Column): Column =
      regexp_count(text, lit("(?m)\\.\\.\\.$")).cast("double") / lineCount(text)

    /** Fraction of words containing at least one alphabetic character. */
    def alphaWordRatio(text: Column): Column =
      regexp_count(text, lit("\\S*[A-Za-z]\\S*")).cast("double") / words(text)

    /** Hits of a tiny English stopword list ("the/and/of/to/in/is"). */
    def stopwordHits(text: Column): Column =
      regexp_count(lower(text), lit("\\b(the|and|of|to|in|is)\\b"))
  }

  /** Token-window chunk plan: one row per (doc, chunk) for splitting
    * long documents into overlapping `window`-token training chunks
    * with `window - stride` tokens of overlap. Emits the PLAN (token
    * offsets), not the text: at 100 TB the slicing belongs next to the
    * tokenizer, and the plan relation is what the packing/shuffling
    * stages join against. Pure Generate over a codegen'd sequence — no
    * shuffle; an empty doc still yields one empty chunk ([0, 0)) so
    * every document survives into the chunked relation.
    */
  def chunkPlan(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      window: Int,
      overlap: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"chunkPlan: need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = (window - overlap).toLong
    df.select(id.as("doc_id"),
        Gopher.wordCount(text).cast("long").as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        posexplode(sequence(lit(0L), greatest(col("n_tok") - 1L, lit(0L)), lit(stride)))
          .as(Seq("chunk_id", "tok_start")))
      .withColumn("tok_end", least(col("tok_start") + lit(window.toLong), col("n_tok")))
  }

  /** Corpus-statistical quality score: each document's mean corpus
    * frequency of its tokens ("common-token ratio") — the log-free,
    * bit-reproducible core of a unigram language-model score. Gibberish
    * and OOV-heavy documents score near 0; documents of common words
    * score high. Log-probability variants differ across libm builds,
    * so the operator stays in exact arithmetic: counts are longs,
    * per-token frequency is one exact double division, and the per-doc
    * mean runs through the DECIMAL(38,10) order-insensitive sum.
    *
    * Plan shape: explode → token-count aggregate (map-side partial) →
    * token-keyed join back → per-doc aggregate. The token join key is
    * Zipf-skewed exactly like q63's TF/DF join and is covered the same
    * way: the frequency side carries ONE row per token, so AQE
    * skew-join splits hot partitions cleanly.
    */
  def unigramScore(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(id.as("doc_id"),
      explode(TextHash.tokens(lower(text))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__t"))
    toks.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (col("__c").cast("double") / col("__t").cast("double")).as("__f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        (sum(col("__f").cast(org.apache.spark.sql.types.DecimalType(38, 10))).cast("double")
          / count(lit(1)).cast("double")).as("mean_tok_freq"))
  }

  /** Cross-document boilerplate measurement: for each document, the
    * fraction of its distinct word n-grams that occur in at least
    * `minDocs` documents corpus-wide (itself included — minDocs=2 means
    * "shared with at least one other doc") — the corpus-level signal
    * behind C4-style boilerplate filtering (navigation chrome, license
    * headers, templated listings score high; original prose scores
    * low). The within-doc twins are [[dupTokenFraction]]/
    * [[dupBigramFraction]]; this one needs the corpus.
    *
    * Plan shape: one compiled shingle pass per doc (distinct hashes) →
    * explode → n-gram document-frequency aggregate (map-side partial;
    * one row per distinct n-gram) → join back on the hash → per-doc
    * aggregate. Same Zipf-skew posture as [[unigramScore]]: the
    * frequency side is one row per n-gram, so AQE splits hot
    * partitions cleanly. Docs too short for a single n-gram keep a
    * 0.0 fraction via the left join back to the base relation.
    */
  def boilerplateFractions(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      shingleSize: Int = 3,
      minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    // mod = 0 ⇒ full 60-bit hash space. The corpus-wide distinct-gram count
    // exceeds 2^31 at multi-TB scale, so hashing into MinhashPrime (2^31−1)
    // would make cross-doc collisions — false "boilerplate" — systematic.
    val base = df.select(id.as("doc_id"),
      graft.functions.TextFunctions
        .wordShingleHashes(text, shingleSize, 0L).as("__sh"))
    val post = base.select(col("doc_id"), explode(col("__sh")).as("g"))
    // distinct hashes per doc ⇒ COUNT(*) per gram == document frequency
    val dfreq = post.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val perDoc = post.join(dfreq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)).as("boiler_frac"))
  }

  /** Rolling-hash document fingerprint: min of the char-8-gram hashes
    * (one winnowing window over the whole doc), as a compiled single
    * pass (graft.functions.Fingerprint64). Identical prose → identical
    * fingerprint; robust to doc-level reordering of rare n-grams.
    */
  def fingerprint(text: Column): Column =
    graft.functions.TextFunctions.fingerprint64(text, 8)

  /** Token-level blocklist hits per document — the wordlist-filter
    * primitive (NSFW/spam/PII-keyword gates run exactly this shape).
    *
    * Token-exact by design: an IN-set over tokens, not a substring
    * regex, so "classic" never trips a "ass" entry (the classic
    * wordlist-filter false positive). Tokens are matched in canonical
    * form — [[canonicalize]]d text, then leading/trailing
    * non-letter/digit characters stripped — so "Slow." and "slow"
    * both hit a "slow" entry while interior characters stay exact.
    * Blocklist terms get the IDENTICAL normalization at plan time
    * (lowercase, NFC, edge strip) — an asymmetry here would make a
    * term like "slow." or an NFD-typed "café" silently unmatchable,
    * a gate that reports success while dropping nothing. The match
    * runs as a scan-stage explode + codegen'd regexp strip + literal
    * IN-set filter (no join at any blocklist size that fits a literal
    * list), then one keyed aggregate per doc.
    *
    * Output: (doc_id, hits, n_terms) for documents with at least one
    * hit — anti-join the source against it to apply the gate, or join
    * to annotate.
    */
  def blocklistHits(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "blocklistHits: empty blocklist")
    val lowered = terms.map { t =>
      java.text.Normalizer
        .normalize(t.toLowerCase, java.text.Normalizer.Form.NFC)
        .replaceAll("^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$", "")
    }.filter(_.nonEmpty).distinct
    require(lowered.nonEmpty,
      s"blocklistHits: every term normalized to empty: ${terms.mkString(",")}")
    df.select(id.as("doc_id"), explode(TextHash.tokens(canonicalize(text))).as("__raw"))
      .select(col("doc_id"),
        regexp_replace(col("__raw"),
          "^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$", "").as("__t"))
      .filter(col("__t") =!= "" && col("__t").isin(lowered: _*))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("hits"),
        count_distinct(col("__t")).as("n_terms"))
  }

  /** Frequency-ranked vocabulary with stable integer ids — the
    * tokenizer-training precursor (a BPE trainer starts from exactly
    * this table). Rank order is (occurrences desc, token asc): total,
    * so ids are reproducible on any engine.
    *
    * Two cardinality-bounded aggregates — (doc, token) then token — so
    * the shuffle carries type counts, not token instances, and df
    * (document frequency) comes free from the first level. The global
    * rank window runs AFTER the top-`vocabSize` cut, over at most
    * `vocabSize` rows on one task — never over the full vocabulary.
    *
    * Output: (vocab_id 0-based, token, n_occ, n_docs).
    */
  def buildVocab(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0, s"buildVocab: vocabSize must be positive, got $vocabSize")
    val perDoc = df
      .select(id.as("__id"), explode(TextHash.tokens(text)).as("token"))
      .groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).as("__n"))
    val ranked = perDoc
      .groupBy(col("token"))
      .agg(sum(col("__n")).as("n_occ"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(vocabSize)
    ranked
      .withColumn("vocab_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occ").desc, col("token"))) - 1).cast("long"))
      .select(col("vocab_id"), col("token"), col("n_occ"), col("n_docs"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of each probe doc's distinct word n-grams that the
    * corpus has never seen — the memorization/regurgitation triage
    * signal ([[graft.ext.Dedup.contamination]] asks "does my training
    * set contain the benchmark"; this asks "how much of this output is
    * actually new"). Novelty 0 = every phrase exists in the corpus;
    * novelty 1 = entirely unseen text.
    *
    * Shingles hash in the FULL 60-bit space (mod = 0 — the
    * [[boilerplateFractions]] rationale: at corpus scale a 31-bit
    * space would alias unseen grams onto seen ones and deflate
    * novelty systematically). Scale posture: the corpus collapses to
    * one distinct-hash relation (one aggregate); the probe side joins
    * on the hash with ONE row per distinct corpus gram on the build
    * side, so AQE splits hot partitions cleanly. Docs too short for a
    * single n-gram (or with null text) come back via the left join
    * with n_grams = 0 and novelty_frac NULL — "no evidence", not
    * "entirely seen" (the repo's clamped-denominator convention, cf.
    * binDrift), so a keep-novel gate can decide their fate explicitly
    * instead of silently dropping them. Probe ids are assumed unique:
    * a duplicated id fans out one output row per input row.
    */
  def ngramNovelty(
      probes: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      corpus: org.apache.spark.sql.DataFrame,
      corpusText: Column,
      shingleSize: Int = 3): org.apache.spark.sql.DataFrame = {
    val base = probes.select(id.as("doc_id"),
      graft.functions.TextFunctions
        .wordShingleHashes(text, shingleSize, 0L).as("__sh"))
    val post = base.select(col("doc_id"), explode(col("__sh")).as("g"))
    val seen = corpus
      .select(explode(graft.functions.TextFunctions
        .wordShingleHashes(corpusText, shingleSize, 0L)).as("g"))
      .distinct()
      .withColumn("__seen", lit(1))
    val perDoc = post.join(seen, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty_frac"))
  }

  /** Per-document TOKEN-distribution diversity — the log-free twins of
    * entropy that curation gates actually threshold on:
    *
    *   - `concentration` — Σc²/n² (Simpson/Herfindahl index; 1.0 = one
    *     token repeated, →1/n_types under a uniform distribution);
    *   - `top_frac` — max c / n (the single dominating token's share);
    *   - `ttr` — type–token ratio n_types/n (template spam ≪ prose).
    *
    * All three are ratios of exact integers evaluated once in IEEE
    * doubles, so they hash-match any engine — no `log`, whose last-ulp
    * disagreement between libm and the JVM is why the repo's quality
    * family ([[unigramScore]], [[charStats]]) is log-free by
    * convention. Docs with no tokens (null/blank text) are ABSENT from
    * the output, matching [[ngramNovelty]]'s no-evidence contract.
    *
    * Two keyed shuffles, both on doc-sized keys: (doc, token) counts,
    * then the per-doc rollup. Token counts per doc bound the state;
    * nothing is corpus-global, so 100 TB shards clean.
    */
  def tokenDiversity(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame =
    df.select(id.as("doc_id"), explode(TextHash.tokens(text)).as("__tok"))
      .groupBy(col("doc_id"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        max(col("__c")).as("__maxc"),
        sum(col("__c") * col("__c")).as("__c2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (col("__c2").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("concentration"),
        (col("__maxc").cast("double") / col("n_tokens").cast("double")).as("top_frac"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"))

  /** Per-document character-class distribution, one compiled pass per
    * doc ([[graft.functions.CharClassStats]]): code-point count, ASCII
    * count, whitespace/digit/alpha/upper counts, distinct-ASCII count,
    * and the max single-character occurrence — the log-free entropy
    * proxy (top_ascii_count/n_ascii high ⇒ one character dominates;
    * n_distinct_ascii low ⇒ tiny alphabet; both mark mash/padding).
    * Scan-stage only: no explode, no shuffle, no `log`.
    */
  def charStats(df: org.apache.spark.sql.DataFrame, id: Column, text: Column)
      : org.apache.spark.sql.DataFrame =
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        graft.functions.TextFunctions.charClassStats(text).as("__cs"))
      .select(col("doc_id"), col("__cs.*"))

  /** Per-document sentence-shape signals: terminator-run count (a run
    * of `.!?` ends one sentence — "Wait...!?" is one boundary, not
    * five), token count, mean tokens per sentence, and whether the doc
    * ends at a sentence boundary — the C4/Gopher-family gates that
    * kill marquee text, nav fragments, and truncated crawls (prose
    * runs 10–30 tokens/sentence and ends terminated; listings don't).
    *
    * Everything is counts and one fixed-shape division — the quality
    * family's log-free, engine-stable discipline — and every regex is
    * RE2-safe (character classes only, no lookaround: DuckDB's RE2 has
    * no lookbehind, so a split on `(?<=[.!?])` could never be
    * replicated by the oracle). The end-of-doc check strips trailing
    * whitespace by regex (NOT rtrim, which both engines limit to
    * spaces) and tests the last character. Docs with zero terminators
    * report null mean (no sentence evidence — the no-evidence
    * convention), not a div-by-zero.
    *
    * Scale: scan-stage only — no explode, no shuffle, no join.
    */
  def sentenceStats(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val nSent = regexp_count(text, lit("[.!?]+")).cast("long")
    val nTok = size(TextHash.tokens(text)).cast("long")
    // explicit class, not \s: Java's \s includes vertical tab (\x0B),
    // RE2's does not — an explicit [ \t\n\f\r] is identical in both
    val lastChar = substring(regexp_replace(text, "[ \\t\\n\\f\\r]+$", ""), -1, 1)
    df.filter(text.isNotNull)
      .select(id.as("doc_id"), nSent.as("n_sentences"), nTok.as("n_tokens"),
        lastChar.isin(".", "!", "?").as("ends_terminal"))
      .withColumn("mean_sent_tokens",
        when(col("n_sentences") > 0,
          col("n_tokens").cast("double") / col("n_sentences").cast("double")))
      .select(col("doc_id"), col("n_sentences"), col("n_tokens"),
        col("mean_sent_tokens"), col("ends_terminal"))
  }

  /** Corpus-wide adjacent token-pair counts, top `topK` by frequency —
    * the counting step a BPE/WordPiece tokenizer trainer iterates:
    * every merge round asks exactly "which adjacent pair is most
    * frequent". Pair extraction is a scan-stage zip_with over each
    * doc's token array (no self-join, no window): tokens t₁..tₙ emit
    * (tᵢ, tᵢ₊₁) for i < n. The top-k order is fully deterministic —
    * count desc, then (a, b) lexicographic — so the k-boundary never
    * depends on partitioning. Docs with < 2 tokens contribute nothing.
    *
    * Scale: one (a, b)-keyed count aggregate (map-side partial
    * combine bounds the shuffle at distinct-pair counts, ~vocab², not
    * token count) + a TakeOrdered top-k, which ships k rows per
    * partition. A full trainer loops this operator, rewriting the
    * token arrays after each merge.
    */
  def bpePairCounts(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, s"bpePairCounts: topK >= 1 required, got $topK")
    val toks = TextHash.tokens(text)
    val pairs = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))
    df.filter(text.isNotNull && size(toks) >= 2)
      .select(explode(pairs).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Mojibake signature regex — UTF-8 text that was decoded as
    * Latin-1/CP1252 and re-encoded, the classic double-encoding scar:
    * `Ã` followed by any Latin-1 symbol (the continuation-byte range
    * as characters), the CP1252 smart-quote lead `â€`, and `Â` glued
    * to the NBSP/degree/guillemet family. RE2-safe (code-point classes
    * and literal alternation only), and the three alternatives start
    * with distinct characters, so leftmost-first and leftmost-longest
    * engines count identically.
    */
  val MojibakePattern: String = "Ã[¡-¿]|â€|Â[ °·«»©®]"

  /** Encoding-sanity screen — step zero of curation, BEFORE langId or
    * any quality gate: per doc, character count, structurally invalid
    * UTF-8 byte count, U+FFFD replacement-char count, C0-control count
    * (via the compiled [[graft.functions.Utf8Stats]] state machine over
    * the re-encoded bytes) and mojibake-signature count
    * ([[MojibakePattern]]). `suspect` is an all-integer decision — any
    * invalid byte, any control char, replacement density > 1/1000
    * chars, or mojibake density > 1/200 chars — so both engines agree
    * exactly (no float thresholds).
    *
    * Scale: pure scan-stage expressions, one pass per doc, no shuffle.
    */
  def utf8Screen(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.EncodingFunctions.utf8Stats(encode(text, "UTF-8"))
    df.filter(text.isNotNull)
      .select(id.as("doc_id"), length(text).cast("long").as("n_chars"),
        st.as("__s"),
        regexp_count(text, lit(MojibakePattern)).cast("long").as("n_moji"))
      .select(col("doc_id"), col("n_chars"),
        col("__s.n_invalid").as("n_invalid"),
        col("__s.n_replacement").as("n_replacement"),
        col("__s.n_ctl").as("n_ctl"), col("n_moji"),
        (col("__s.n_invalid") > 0 || col("__s.n_ctl") > 0 ||
          col("__s.n_replacement") * 1000 > col("n_chars") ||
          col("n_moji") * 200 > col("n_chars")).as("suspect"))
  }

  /** Card-number candidate span: digits possibly separated by
    * spaces/dashes, 12–22 chars. RE2-safe (plain classes + bounded
    * greedy repeat); both engines extract leftmost non-overlapping
    * greedy matches identically.
    */
  val CardCandidatePattern: String = "[0-9][0-9 -]{10,20}[0-9]"

  /** Compact IBAN candidate: country code, two check digits, 11–30
    * alphanumerics. RE2-safe.
    */
  val IbanCandidatePattern: String = "[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}"

  /** Checksum-validated PII screen (q199): regexes PROPOSE card/IBAN
    * candidate spans, integer checksums CONFIRM them — Luhn mod-10 for
    * cards, ISO 13616 mod-97 for IBANs, both as compiled expressions
    * ([[graft.functions.LuhnValid]]/[[graft.functions.IbanValid]]).
    * This is what separates a real leaked identifier from an order id
    * or hash that merely looks like one: a random 16-digit run passes
    * the regex 100% of the time and Luhn only 10%.
    *
    * Output per doc: candidate and checksum-valid counts per family
    * plus `has_pii` (any valid hit). All integer — the DuckDB oracle
    * replays the same regexes and the same checksums (unrolled
    * mod-97 chunk arithmetic) exactly.
    *
    * Scale: scan-stage; candidate arrays are near-empty on clean text,
    * so the interpreted HOF filter over them costs nothing next to the
    * regex scan itself.
    */
  def piiScreen(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    import graft.functions.PiiFunctions
    // idx 0 = the whole match: the patterns are group-free, and Spark's
    // two-arg form defaults to group 1 (DuckDB's to group 0)
    val cards = regexp_extract_all(text, lit(CardCandidatePattern), lit(0))
    val ibans = regexp_extract_all(text, lit(IbanCandidatePattern), lit(0))
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        size(cards).cast("long").as("n_card_cand"),
        size(filter(cards, c => PiiFunctions.luhnValid(c))).cast("long")
          .as("n_card_valid"),
        size(ibans).cast("long").as("n_iban_cand"),
        size(filter(ibans, c => PiiFunctions.ibanValid(c))).cast("long")
          .as("n_iban_valid"))
      .withColumn("has_pii",
        col("n_card_valid") > 0 || col("n_iban_valid") > 0)
  }

  /** BPE/WordPiece-style tokenizer TRAINING loop: `rounds` iterations
    * of (count adjacent pairs → argmax with deterministic tie-break →
    * merge every greedy left-to-right occurrence in the corpus).
    * Returns the learned merge table `(round, a, b, merged, n)` —
    * the artifact a tokenizer trainer persists. [[bpePairCounts]] is
    * one round's counting step; this is the loop that makes it a
    * trainer.
    *
    * Representation: each doc is ONE string with every token wrapped
    * in \u0001 delimiters (`␁tok₁␁␁tok₂␁…`). A merge of pair (a, b)
    * is then a plain `replace` of `␁a␁␁b␁` with `␁a b␁` — and because
    * `replace` substitutes non-overlapping occurrences left to right,
    * it IS the greedy BPE merge ("a a a" merges once, not twice), with
    * per-token wrapping guaranteeing adjacent matches never consume a
    * shared boundary character ("a b a b" merges twice). Merged tokens
    * spell `a + " " + b`; base tokens are space-split so the joiner
    * can never collide with a pre-existing token.
    *
    * Determinism: integer counts end-to-end; argmax tie-break is
    * (count desc, a asc, b asc) — the merge sequence is a pure
    * function of the corpus. The per-round argmax is a TakeOrdered
    * limit-1 collect (one row per round — the learned merge itself,
    * not a data-path collect; the corpus state never leaves the
    * executors). Training stops early if no pair remains.
    *
    * Scale: per round, one scan-stage pair explode + one (a, b)-keyed
    * count (map-side partial combine bounds the shuffle at distinct
    * adjacent pairs, ~vocab², not token volume) + one map-stage
    * `replace` rewrite. Corpus state is localCheckpoint-ed per round
    * and the superseded round's blocks freed explicitly — the
    * [[Graph.connectedComponents]] iterative-state discipline. A
    * production trainer runs this on a sampled sub-corpus (vocab
    * learning saturates long before 100 TB) and persists the merge
    * table once.
    */
  def bpeTrain(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      rounds: Int,
      maxTrainDocs: Int = 1000000): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && rounds <= 4096,
      s"bpeTrain: 1 <= rounds <= 4096 required, got $rounds")
    require(maxTrainDocs >= 1, s"bpeTrain: maxTrainDocs >= 1, got $maxTrainDocs")
    val ss = df.sparkSession
    val sc = ss.sparkContext
    val D = "\u0001"
    val toks = TextHash.tokens(text)
    val trainable = df.filter(text.isNotNull && size(toks) >= 2)
    // fail-fast BEFORE the R-round training loop if pointed at a
    // corpus: training is sample-scoped by contract (the leakageGate
    // maxEvalDocs discipline). limit(n+1).count() stops scanning at
    // the bound instead of counting 100 TB just to reject it.
    val probed = trainable.limit(maxTrainDocs + 1).count()
    require(probed <= maxTrainDocs,
      s"bpeTrain: > $maxTrainDocs training docs -- the trainer runs $rounds " +
        "sequential full-relation rounds and is sample-scoped by contract; " +
        "train on a hashSample and encode the corpus with bpeEncode " +
        "(or raise maxTrainDocs explicitly)")
    // The training sample usually arrives as ONE scan partition (it is
    // sample-scoped by contract, often a single small file), which would
    // run every round's pair-count job single-threaded. Spread it across
    // the cluster once at checkpoint — round-robin is fine, the rounds
    // are pure per-row maps + a global aggregate.
    var docs = trainable.select(concat(lit(D), array_join(toks, D + D), lit(D)).as("s"))
      .repartition(math.min(8, sc.defaultParallelism))
      .localCheckpoint(false)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    // One relation-wide job per round, not two: each round's best-pair
    // collect is ALSO the action that materializes the (lazy) checkpoint
    // of the replace from the previous round, so the separate count()
    // pass is gone; the superseded generation's blocks are freed the
    // moment the collect proves the new generation materialized. The
    // FINAL round's replace is never consumed by anything (the merge
    // table is the output), so it is not even constructed — together
    // that is R+1 full passes over the training relation instead of
    // 2R+1 for the same merges.
    var pendingFree = Option.empty[org.apache.spark.sql.DataFrame]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val tArr = split(trim(col("s"), D), D + D)
        val pairs = zip_with(
          slice(tArr, lit(1), size(tArr) - 1),
          slice(tArr, lit(2), size(tArr) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))
        val best = docs
          .select(explode(pairs).as("__p"))
          .select(col("__p.a").as("a"), col("__p.b").as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1)
          .collect() // materializes the current generation's checkpoint
        Graph.free(pendingFree.toSeq: _*) // previous generation fully consumed
        pendingFree = None
        if (best.isEmpty) exhausted = true
        else {
          val a = best.head.getString(0)
          val b = best.head.getString(1)
          merges += ((r.toLong, a, b, a + " " + b, best.head.getLong(2)))
          if (r < rounds) {
            pendingFree = Some(docs)
            docs = docs.select(
              replace(col("s"),
                lit(D + a + D + D + b + D), lit(D + a + " " + b + D)).as("s"))
              .localCheckpoint(false)
          }
        }
        r += 1
      }
    } finally Graph.free(docs +: pendingFree.toSeq: _*)
    import ss.implicits._
    merges.toSeq.toDF("round", "a", "b", "merged", "n")
  }

  /** BPE tokenizer ENCODE — the inference half of [[bpeTrain]]: apply
    * a learned merge table to new text, in merge-priority order (the
    * standard BPE apply rule: merges replay in the order they were
    * learned, each greedily left-to-right). Same ␁-delimited string
    * representation and non-overlapping `replace` mechanics as
    * training, so train-then-encode on the training corpus itself
    * reproduces the trainer's final state exactly.
    *
    * The merge table IS the model — R tiny (a, b) rows collected once
    * and folded into the plan as literals; at 100 TB this is the
    * operator that actually runs corpus-wide (training happens once,
    * on a sample). Output per doc: raw/encoded token counts, the
    * integer ppm compression ratio, and the first 5 encoded tokens as
    * a `|`-joined sample (array cells can't be hash-compared — the
    * q165 stringify rule).
    *
    * Scale: scan-stage only — R chained `replace` calls compile into
    * one codegen stage; no shuffle, no join, no state.
    */
  def bpeEncode(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val D = "\u0001"
    val toks = TextHash.tokens(text)
    val enc0 = concat(lit(D), array_join(toks, D + D), lit(D))
    val encS = merges.foldLeft(enc0) { case (c, (a, b)) =>
      replace(c, lit(D + a + D + D + b + D), lit(D + a + " " + b + D))
    }
    val encToks = split(trim(encS, D), D + D)
    df.filter(text.isNotNull && size(toks) >= 1)
      .select(id.as("doc_id"), size(toks).cast("long").as("n_raw"),
        size(encToks).cast("long").as("n_enc"),
        concat_ws("|", slice(encToks, 1, 5)).as("head_tokens"))
      .withColumn("ratio_ppm", expr("n_enc * 1000000L div n_raw"))
      .select(col("doc_id"), col("n_raw"), col("n_enc"), col("ratio_ppm"),
        col("head_tokens"))
  }

  /** Unigram-LM tokenizer TRAINER (SentencePiece-style, Kudo ACL'18) —
    * the second dominant tokenizer family next to BPE ([[bpeTrain]]):
    * instead of growing merges bottom-up, start from a rich substring
    * inventory and let hard-EM rounds re-segment and prune it down to
    * a vocabulary.
    *
    *   1. SEED: every character substring of length ≤ maxPieceLen of
    *      every distinct word, usage-weighted by word frequency;
    *      score_ppb(p) = usage·10⁹ div Σusage.
    *   2. E-STEP (Viterbi, [[graft.functions.UnigramSegment]]): each
    *      distinct word re-segments under the current scores with the
    *      additive integer objective Σ(score − λ) — the q201 trick
    *      generalized: λ is the −log-base surrogate, so likelihood
    *      maximization runs in exact longs with no float products.
    *   3. M-STEP + PRUNE: piece usage = word-frequency-weighted count
    *      over the canonical segmentations; keep every single char
    *      (the UNK-free floor) plus the top `vocabSize` multi-char
    *      pieces (usage desc, piece asc); rescore ppb over the kept
    *      total. Repeat.
    *
    * The vocab table is the MODEL: the driver holds only piece→score
    * maps (bounded by the seed inventory / vocab cap — the
    * [[bpeTrain]] merge-table contract); every corpus-sized pass is a
    * distributed aggregate. The E-step runs on the DISTINCT-WORD
    * relation — the shape SentencePiece itself trains on — so at
    * 100 TB the per-round cost is one token-count aggregate (vocab-
    * bounded after map-side partials) plus vocab-sized segmentation.
    *
    * Output: the final model relation (piece, usage, score_ppb,
    * is_char). Deterministic end-to-end: floor divisions, canonical
    * tie-breaks, no randomness.
    */
  def unigramLmTrain(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      vocabSize: Int,
      rounds: Int,
      maxPieceLen: Int = 4,
      lambdaPpb: Long = 10000000000L,
      maxTrainDocs: Int = 1000000): org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1 && vocabSize <= (1 << 18),
      s"unigramLmTrain: vocabSize in [1, 2^18], got $vocabSize")
    require(rounds >= 1 && rounds <= 16, s"unigramLmTrain: rounds in [1, 16], got $rounds")
    require(maxPieceLen >= 2 && maxPieceLen <= 16,
      s"unigramLmTrain: maxPieceLen in [2, 16], got $maxPieceLen")
    require(maxTrainDocs >= 1, s"unigramLmTrain: maxTrainDocs >= 1, got $maxTrainDocs")
    val ss = df.sparkSession
    import ss.implicits._
    // sample-scoped trainer contract (the bpeTrain guard): stop the
    // scan at the bound, don't count a corpus to reject it
    val probed = df.filter(text.isNotNull).limit(maxTrainDocs + 1).count()
    require(probed <= maxTrainDocs,
      s"unigramLmTrain: > $maxTrainDocs training docs — the trainer collects " +
        "the piece-usage table and is sample-scoped by contract; train on a " +
        "hashSample and encode the corpus with unigramEncode " +
        "(or raise maxTrainDocs explicitly)")
    val words = df.filter(text.isNotNull)
      .select(explode(TextHash.tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // every round re-reads it; cut the corpus scan
    val subs = expr(
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> transform(sequence(i, least(length(w), i + ${maxPieceLen - 1})),
         |    j -> substring(w, i, j - i + 1))))""".stripMargin)
    def rescoreAndPrune(usage: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
      // model-sized collect (the bpeTrain merge-table contract)
      val rows = usage.collect().map(r => (r.getString(0), r.getLong(1)))
      require(rows.length <= (1 << 22),
        s"unigramLmTrain: piece inventory ${rows.length} exceeds the model bound")
      val chars = rows.filter(_._1.length == 1)
      val multi = rows.filter(_._1.length > 1).filter(_._2 > 0L)
        .sortBy { case (p, u) => (-u, p) }.take(vocabSize)
      val kept = chars ++ multi
      val total = kept.map(_._2).sum.max(1L)
      kept.map { case (p, u) => (p, u * 1000000000L / total) }
    }
    var model = rescoreAndPrune(
      words.select(explode(subs).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("usage")))
    var usageFinal: Map[String, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val seg = graft.functions.TokenizerFunctions
        .unigramSegment(col("w"), model, lambdaPpb, maxPieceLen)
      val usage = words.select(explode(seg).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("usage"))
      usageFinal = usage.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      model = rescoreAndPrune(usage)
    }
    model.map { case (p, s) =>
      (p, usageFinal.getOrElse(p, 0L), s, p.length == 1)
    }.toDF("piece", "usage", "score_ppb", "is_char")
  }

  /** Unigram-LM tokenizer ENCODE — the inference half of
    * [[unigramLmTrain]] (the [[bpeEncode]] twin): Viterbi-segment new
    * text under a trained piece table. The heavy DP runs ONCE per
    * DISTINCT word (vocab-bounded relation), then broadcast-joins back
    * to the token stream — at 100 TB the corpus-side cost is one
    * scan + one broadcast join, not per-token DP. Output per doc:
    * raw token count, total piece count, ppm expansion ratio, and the
    * first word's pieces as a `|`-joined sample (the q165 stringify
    * rule).
    */
  def unigramLmEncode(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      model: Seq[(String, Long)],
      maxPieceLen: Int = 4,
      lambdaPpb: Long = 10000000000L): org.apache.spark.sql.DataFrame = {
    require(model.nonEmpty, "unigramLmEncode: empty model")
    val toks = TextHash.tokens(text)
    val base = df.filter(text.isNotNull && size(toks) >= 1)
      .select(id.as("doc_id"), posexplode(toks).as(Seq("pos", "w")))
    val wordSeg = base.select(col("w")).distinct()
      .withColumn("pieces",
        graft.functions.TokenizerFunctions.unigramSegment(
          col("w"), model, lambdaPpb, maxPieceLen))
      .select(col("w"), size(col("pieces")).cast("long").as("k"),
        array_join(col("pieces"), "|").as("enc"))
    base.join(broadcast(wordSeg), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_raw"), sum(col("k")).as("n_pieces"),
        max(when(col("pos") === 0, col("enc"))).as("head_pieces"))
      .withColumn("ratio_ppm", expr("n_pieces * 1000000L div n_raw"))
      .select(col("doc_id"), col("n_raw"), col("n_pieces"), col("ratio_ppm"),
        col("head_pieces"))
  }

  /** Vocabulary growth curve (the Heaps-law probe): per ingest bucket —
    * token volume, NEW types (tokens first seen in that bucket), and
    * the running distinct-type total. The saturation signal a corpus
    * build watches: when cum_types flattens while n_tokens keeps
    * climbing, new data is re-treading the existing vocabulary
    * (diminishing diversity returns; time to change sources).
    *
    * Dedup-first discipline (the [[TimeSeries.firstSeenCumulative]]
    * pattern generalized to tokens): each token collapses to one
    * (token → first bucket) row via min-aggregate BEFORE any window,
    * so the running sum sees only bucket-count rows. Buckets with
    * tokens but no new types report 0 (evidence of saturation is
    * still evidence — unlike docless buckets, which are absent).
    *
    * Scale: two token-keyed aggregates (both vocabulary-bounded after
    * map-side partials) + one bucket-keyed count; the unpartitioned
    * running-sum window is over the bucket-sized relation (thousands
    * of rows at any corpus size — documented single-partition step).
    */
  def vocabGrowth(
      df: org.apache.spark.sql.DataFrame,
      bucket: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val tokBucket = df.filter(text.isNotNull && bucket.isNotNull)
      .select(bucket.as("__b"), explode(TextHash.tokens(text)).as("__t"))
    val newTypes = tokBucket.groupBy(col("__t")).agg(min(col("__b")).as("__b0"))
      .groupBy(col("__b0").as("bucket")).agg(count(lit(1)).as("n_new_types"))
    val tokCounts = tokBucket.groupBy(col("__b").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
  }

  /** Total-variation distance between the unigram distributions of two
    * corpus slices: TV = ½ Σ_t |p_t − q_t| over the union vocabulary,
    * plus the union vocabulary size. THE distribution-drift number for
    * text — bounded [0, 1], exactly 0 iff the term distributions
    * match, and (unlike KL/JS) log-free — the text twin of
    * [[Profile.binDrift]]. Compare a new crawl snapshot against the
    * training corpus, or any two `source` slices.
    *
    * Exactness: the naive Σ|n/T_A − m/T_B| runs per-term float
    * divisions whose decimal accumulation is NOT engine-stable (a
    * double→high-scale-decimal cast rounds through double arithmetic
    * on some engines). Instead everything stays in integer decimals —
    * Σ|n_t·T_B − m_t·T_A| with (18,0) operands (products bounded by
    * 10^37, fine past 10^13 tokens/slice) — and floating point enters
    * exactly twice, in the final fixed-shape division
    * S / (T_A·T_B) / 2. Hash-exact on any engine.
    *
    * Scale: two token-keyed count aggregates + one union-vocab
    * aggregate — all bounded by vocabulary size, not token count;
    * 1-row totals ride a broadcast join.
    */
  def termDrift(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      sliceCol: Column,
      a: String,
      b: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d18 = DecimalType(18, 0)
    val cnt = df.filter(text.isNotNull && sliceCol.isin(a, b))
      .select(sliceCol.as("__s"), explode(TextHash.tokens(text)).as("__tok"))
      .groupBy(col("__s"), col("__tok")).agg(count(lit(1)).as("__n"))
    val tot = cnt.groupBy(col("__s")).agg(sum(col("__n")).as("__t"))
    val totA = when(col("__s") === a, col("__t"))
    val totB = when(col("__s") === b, col("__t"))
    cnt.join(broadcast(tot), Seq("__s"))
      .groupBy(col("__tok"))
      .agg(
        coalesce(max(when(col("__s") === a, col("__n"))), lit(0L)).as("__na"),
        coalesce(max(when(col("__s") === b, col("__n"))), lit(0L)).as("__nb"))
      .crossJoin(broadcast(tot.agg(
        max(totA).as("__ta"), max(totB).as("__tb"))))
      .agg(
        sum(abs(col("__na").cast(d18) * col("__tb").cast(d18) -
                col("__nb").cast(d18) * col("__ta").cast(d18))).as("__sum"),
        count(lit(1)).as("n_terms"),
        max(col("__ta")).as("__ta"),
        max(col("__tb")).as("__tb"))
      .select(
        (col("__sum").cast("double") /
          (col("__ta").cast("double") * col("__tb").cast("double")) / 2)
          .as("tv_distance"),
        col("n_terms"))
  }

  /** Zipf head/tail concentration profile per corpus slice — the
    * log-free rank-frequency summary (a faithful Zipf exponent needs a
    * log-log regression; the ratios below carry the same screening
    * signal with exact integer arithmetic): top-1 and top-10 token
    * share, hapax (freq-1) type fraction, and type count. A natural
    * corpus sits near top1≈6–7% ("the") with a long hapax tail ≳40%;
    * template/boilerplate slices collapse the tail, synthetic slices
    * flatten the head — both directions are anomalies a curator reads
    * off this one row per slice.
    *
    * Plan: one (slice, token) count aggregate (map-side combined; the
    * only event-scale shuffle), then a rank window over TYPE rows —
    * bounded by vocabulary, not corpus — and one per-slice fold.
    */
  def zipfProfile(df: org.apache.spark.sql.DataFrame, slice: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val cnt = df.filter(text.isNotNull)
      .select(slice.as("slice"), explode(TextHash.tokens(text)).as("__tok"))
      .groupBy(col("slice"), col("__tok")).agg(count(lit(1)).as("__n"))
    val byFreq = Window.partitionBy(col("slice"))
      .orderBy(col("__n").desc, col("__tok"))
    cnt
      .withColumn("__rk", row_number().over(byFreq))
      .groupBy(col("slice"))
      .agg(
        sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__rk") === 1, col("__n")).otherwise(0L)).as("__top1"),
        sum(when(col("__rk") <= 10, col("__n")).otherwise(0L)).as("__top10"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("__hapax"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        (col("__top1").cast("double") / col("n_tokens").cast("double")).as("top1_share"),
        (col("__top10").cast("double") / col("n_tokens").cast("double")).as("top10_share"),
        (col("__hapax").cast("double") / col("n_types").cast("double")).as("hapax_frac"))
  }

  /** Bytes-per-token compression proxy per corpus slice: total UTF-8
    * bytes over total whitespace tokens (the cheap stand-in for
    * tokenizer fertility — a slice whose bytes/token drifts high is
    * binary junk or an unsegmented language; drifting low is
    * single-char noise), plus the distinct-token byte share (how much
    * of the byte volume survives type-level dedup — a vocabulary-
    * compressibility signal).
    *
    * Everything is two integer aggregates off one token explode (doc
    * bytes ride a separate scan-stage aggregate so multi-space runs
    * between tokens still count); the divisions are the only doubles.
    */
  def byteTokenStats(df: org.apache.spark.sql.DataFrame, slice: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val base = df.filter(text.isNotNull)
    val docAgg = base
      .select(slice.as("slice"), octet_length(text).cast("long").as("__b"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__b")).as("total_bytes"))
    val tokAgg = base
      .select(slice.as("slice"), explode(TextHash.tokens(text)).as("__tok"))
      .withColumn("__tb", octet_length(col("__tok")).cast("long"))
      .groupBy(col("slice"), col("__tok"))
      .agg(count(lit(1)).as("__n"), max(col("__tb")).as("__tb"))
      .groupBy(col("slice"))
      .agg(
        sum(col("__n")).as("n_tokens"),
        sum(col("__tb") * col("__n")).as("__tok_bytes"),
        sum(col("__tb")).as("__type_bytes"))
    docAgg.join(tokAgg, Seq("slice"))
      .select(col("slice"), col("n_docs"), col("total_bytes"), col("n_tokens"),
        (col("total_bytes").cast("double") / col("n_tokens").cast("double"))
          .as("bytes_per_token"),
        (col("__type_bytes").cast("double") / col("__tok_bytes").cast("double"))
          .as("type_byte_share"))
  }

  /** Readability profile — Flesch Reading Ease with the standard
    * vowel-group syllable heuristic, in INTEGER MILLIPOINTS:
    * `206835 − 1015·W div S − 84600·Y div W` (the classic
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word),
    * ×1000, each ratio a single floor division). Syllables = runs of
    * `[aeiouy]+` in the lowercased text (whitespace breaks runs, so
    * counting over the whole doc equals the per-word sum); sentences
    * = runs of terminal punctuation, floored at 1 so fragments score
    * rather than divide by zero. Both patterns are RE2-safe literal
    * classes — identical in Java and DuckDB regex engines.
    *
    * A curation pipeline uses the band as a quality/complexity facet
    * (alongside Gopher q78 and LM scores): very-low FRE flags run-on
    * boilerplate and OCR sludge, implausibly-high FRE flags token
    * salad. Scale: pure scan-stage expressions, no shuffle at all.
    */
  def readability(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        size(TextHash.tokens(text)).cast("long").as("n_words"),
        greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("long")
          .as("n_sents"),
        regexp_count(lower(text), lit("[aeiouy]+")).cast("long").as("n_syll"))
      .withColumn("fre_milli",
        when(col("n_words") > 0,
          lit(206835L) - expr("1015L * n_words div n_sents") -
            expr("84600L * n_syll div n_words"))
          .otherwise(lit(null).cast("long")))
      .withColumn("band",
        when(col("fre_milli").isNull, lit(null).cast("string"))
          .when(col("fre_milli") >= 90000L, lit("very_easy"))
          .when(col("fre_milli") >= 70000L, lit("easy"))
          .when(col("fre_milli") >= 50000L, lit("standard"))
          .when(col("fre_milli") >= 30000L, lit("difficult"))
          .otherwise(lit("very_difficult")))
  }

  /** URL pattern: scheme then everything up to ASCII whitespace — the
    * explicit class, not `\\s` (Java's `\\s` includes VT, RE2's does
    * not; the q178 lesson).
    */
  val UrlPattern: String = "https?://[^ \\t\\n\\f\\r]+"

  /** Per-domain URL census over a document corpus — the link-profile
    * facet of web curation: which hosts a corpus cites, how often,
    * from how many docs, and how deep the cited paths run. Domain
    * blocklists (q104 is term-level), spam-host down-weighting, and
    * citation-density features all read from this table.
    *
    * URLs are extracted with [[UrlPattern]], the domain is the
    * authority up to the first `/`, the path depth counts `/`
    * segments after it — every step a RE2-safe regex or a length
    * difference, integers end to end.
    *
    * Scale: scan-stage extract+explode; ONE domain-keyed aggregate
    * (distinct doc count rides the same shuffle as a two-level
    * partial). Output is domain-bounded, not corpus-bounded.
    */
  def urlDomainProfile(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val urls = df.filter(text.isNotNull)
      .select(id.as("__id"),
        explode(regexp_extract_all(text, lit(UrlPattern), lit(0))).as("__url"))
      .select(col("__id"),
        regexp_extract(col("__url"), "^https?://([^/]+)", 1).as("domain"),
        regexp_extract(col("__url"), "^https?://[^/]+(.*)$", 1).as("__path"))
      .filter(col("domain") =!= "")
    urls
      .withColumn("__depth",
        (length(col("__path")) -
          length(regexp_replace(col("__path"), "/", ""))).cast("long"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("__id")).as("n_docs"),
        sum(col("__depth")).as("total_path_depth"))
  }

  /** Collocation mining by lift (Church & Hanks CL'90's PMI family,
    * reported as the log-free monotone equivalent): for each adjacent
    * token bigram, lift = p(xy) / (p(x)·p(y)) = c_xy·N / (c_x·c_y),
    * with the marginals taken over the SAME bigram relation (c_x =
    * occurrences as a left word, c_y = as a right word, N = total
    * bigrams). lift·10⁶ ranks exactly as PMI does — a fixed phrase
    * ("hong kong") scores orders of magnitude above chance — without
    * ever calling log, so the ranking is integer-exact on both
    * engines. `minCount` is the standard low-frequency gate: a
    * 1-occurrence pair of two rare words has sky-high lift and zero
    * evidence.
    *
    * The phrase-mining step that feeds tokenizer vocabularies (q197's
    * BPE pair counts are the UNGATED first iteration of this) and
    * stopword/boilerplate diagnosis.
    *
    * Scale: one scan-stage explode → one (w1, w2) aggregate; the pair
    * relation is locally checkpointed because three consumers fold it
    * (two marginals + the join), then everything downstream is
    * pair-vocabulary-bound, not corpus-bound. N rides a single-row
    * broadcast.
    */
  def collocations(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1L, s"collocations: minCount >= 1, got $minCount")
    val toks = df.filter(text.isNotNull)
      .select(TextHash.tokens(text).as("__t"))
      .filter(size(col("__t")) >= 2)
    val pairs = toks
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__p"))
      .select(col("__p.w1"), col("__p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()
    val left = pairs.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
    val right = pairs.groupBy(col("w2")).agg(sum(col("c_xy")).as("c_y"))
    val total = pairs.agg(sum(col("c_xy")).as("__N"))
    pairs.filter(col("c_xy") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        expr("CAST(CAST(c_xy AS DECIMAL(38,0)) * __N * 1000000 div " +
          "(CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)").as("lift_ppm"))
  }
}
