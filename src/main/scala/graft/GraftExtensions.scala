package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{ArraySum, CosineSim, Int8QuantStats, LangIdExpr, MinhashSig, SignLshBuckets, Simhash64, WordShingleHashes}
import graft.ext.TextAnalysis

/** SparkSessionExtensions entry point: exposes the engine's native
  * Catalyst expressions to SQL (`spark.sql.extensions=graft.GraftExtensions`
  * or `builder.withExtensions`). The DataFrame API reaches the same
  * expressions through graft.functions.{TextFunctions, VectorFunctions};
  * this registration makes them first-class for SQL users — the
  * extension point SURVEY.md §7.3 reserved.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL DML parity for the snapshot store: INSERT INTO / INSERT
    // OVERWRITE on `USING graft-snapshot` tables commit manifest
    // versions instead of falling through to a bare parquet write
    ext.injectResolutionRule(session =>
      new graft.streaming.SnapshotInsertRule(session))
    // ...and row-level DML: DELETE / UPDATE / MERGE as copy-on-write
    // manifest commits (V1 tables otherwise refuse all three)
    ext.injectResolutionRule(session =>
      new graft.streaming.SnapshotDmlRule(session))
    // ...and SQL time travel: VERSION AS OF / TIMESTAMP AS OF folded
    // onto the format's reader options (the DSv2-only RelationTimeTravel
    // path never reaches a V1 relation). Hint-resolution batch: it runs
    // BEFORE the main resolution batch, so the rewrite lands before
    // Spark's own lookup refuses time travel on a V1 table.
    ext.injectHintResolutionRule(session =>
      new graft.streaming.SnapshotTimeTravelRule(session))
    // ...and the OPS statements Delta exposes that Spark has no grammar
    // for: DESCRIBE HISTORY / OPTIMIZE [ZORDER BY] / VACUUM RETAIN /
    // RESTORE ... AS OF / ALTER TABLE ADD COLUMNS (schema evolution as
    // one O(manifest) commit). Unmatched text falls through untouched.
    ext.injectParser((session, delegate) =>
      new graft.streaming.SnapshotSqlParser(session, delegate))
    // ...and the change feed as a SQL table-valued function:
    // `SELECT * FROM table_changes('t-or-path', from [, to])` — rows
    // with _change_type/_commit_version, same algebra as the CDC stream
    // (Delta's table_changes re-derived on the manifest store)
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      info("table_changes",
        "table_changes(table_or_path, fromVersion[, toVersion]) - change rows " +
          "of a graft-snapshot table in (from, to]"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "table_changes(table_or_path, fromVersion[, toVersion])")
        val target = args.head match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"table_changes expects a literal table name or store path, got $other")
        }
        val from = longArg(args(1), "table_changes")
        val to = args.lift(2).map(longArg(_, "table_changes"))
        val spark = org.apache.spark.sql.SparkSession.active
        val store = graft.streaming.SnapshotSqlParser
          .storeForNameOrPath(spark, target)
        store.readChanges(spark, from, to).queryExecution.logical
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_cosine_sim"),
      info("graft_cosine_sim", "graft_cosine_sim(a, b) - cosine similarity of two float/double arrays"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_sign_lsh_buckets"),
      info("graft_sign_lsh_buckets",
        "graft_sign_lsh_buckets(vec, tables, planes) - sign-LSH bucket keys"),
      (args: Seq[Expression]) =>
        SignLshBuckets(args(0),
          intArg(args(1), "graft_sign_lsh_buckets"),
          intArg(args(2), "graft_sign_lsh_buckets"))))

    ext.injectFunction((
      FunctionIdentifier("graft_array_sum"),
      info("graft_array_sum",
        "graft_array_sum(v) - left-fold sum of a float/double array, exact bigint sum of an int one"),
      (args: Seq[Expression]) => ArraySum(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_int8_quant_stats"),
      info("graft_int8_quant_stats",
        "graft_int8_quant_stats(v) - struct(scale, code_sum, mae) of symmetric int8 quantization"),
      (args: Seq[Expression]) => Int8QuantStats(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(hashes, k) - k-entry minhash signature"),
      (args: Seq[Expression]) => MinhashSig(args(0), intArg(args(1), "graft_minhash_sig"))))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(hashes) - 64-bit simhash of token hashes"),
      (args: Seq[Expression]) => Simhash64(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_word_shingle_hashes"),
      info("graft_word_shingle_hashes",
        "graft_word_shingle_hashes(text, n[, mod]) - md5 hashes of word n-gram shingles"),
      (args: Seq[Expression]) =>
        WordShingleHashes(args(0),
          intArg(args(1), "graft_word_shingle_hashes"),
          if (args.length > 2) longArg(args(2), "graft_word_shingle_hashes") else 0L)))

    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint64"),
      info("graft_fingerprint64", "graft_fingerprint64(text, n) - min char n-gram md5 fingerprint"),
      (args: Seq[Expression]) =>
        graft.functions.Fingerprint64(args(0), intArg(args(1), "graft_fingerprint64"))))

    ext.injectFunction((
      FunctionIdentifier("graft_lenient_timestamp"),
      info("graft_lenient_timestamp",
        "graft_lenient_timestamp(s) - lenient NY-zone timestamp parse, future-clamped"),
      (args: Seq[Expression]) =>
        graft.functions.LenientTimestamp(args(0), graft.functions.ParseExprs.nowMicros())))

    ext.injectFunction((
      FunctionIdentifier("graft_lenient_date"),
      info("graft_lenient_date", "graft_lenient_date(s) - lenient date parse, future -> null"),
      (args: Seq[Expression]) =>
        graft.functions.LenientDate(args(0), graft.functions.ParseExprs.nowMicros())))

    ext.injectFunction((
      FunctionIdentifier("graft_lang_id"),
      info("graft_lang_id", "graft_lang_id(text) - stopword-ratio language id"),
      (args: Seq[Expression]) => LangIdExpr(args(0), TextAnalysis.stopwords.toSeq)))

    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity over Unicode code points (0.7-gated prefix boost)"),
      (args: Seq[Expression]) => graft.functions.JaroWinkler(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_nfc_normalize"),
      info("graft_nfc_normalize",
        "graft_nfc_normalize(s) - Unicode NFC normalization (UAX #15), ASCII fast path"),
      (args: Seq[Expression]) => graft.functions.NfcNormalize(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_char_class_stats"),
      info("graft_char_class_stats",
        "graft_char_class_stats(s) - struct of char/ascii/ws/digit/alpha/upper/distinct/top counts"),
      (args: Seq[Expression]) => graft.functions.CharClassStats(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_utf8_stats"),
      info("graft_utf8_stats",
        "graft_utf8_stats(bytes) - struct(n_bytes, n_invalid, n_replacement, n_ctl) from the RFC 3629 state machine"),
      (args: Seq[Expression]) => graft.functions.Utf8Stats(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_luhn_valid"),
      info("graft_luhn_valid",
        "graft_luhn_valid(s) - Luhn mod-10 over a card candidate (space/dash separators allowed)"),
      (args: Seq[Expression]) => graft.functions.LuhnValid(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_iban_valid"),
      info("graft_iban_valid",
        "graft_iban_valid(s) - ISO 13616 IBAN mod-97 over a compact candidate"),
      (args: Seq[Expression]) => graft.functions.IbanValid(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      info("graft_bloom_might_contain",
        "graft_bloom_might_contain(key, filter_bytes) - probe a serialized spark BloomFilter (foldable bytes)"),
      (args: Seq[Expression]) =>
        graft.functions.BloomMightContainBytes(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_luma_grid"),
      info("graft_luma_grid",
        "graft_luma_grid(bytes) - 64-cell box-filter luma grid of a binary payload"),
      (args: Seq[Expression]) => graft.functions.LumaGrid(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_ahash64"),
      info("graft_ahash64", "graft_ahash64(grid) - 64-bit average perceptual hash of a 64-cell grid"),
      (args: Seq[Expression]) => graft.functions.AHash64(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_dhash64"),
      info("graft_dhash64", "graft_dhash64(grid) - 64-bit difference perceptual hash of a 64-cell grid"),
      (args: Seq[Expression]) => graft.functions.DHash64(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_topk_pairs"),
      info("graft_topk_pairs",
        "graft_topk_pairs(score, id, k) - aggregate: k best (score desc, id asc) pairs per group as array<struct<score,id>>"),
      (args: Seq[Expression]) =>
        graft.functions.TopKPairs(args(0), args(1), intArg(args(2), "graft_topk_pairs"))
          .toAggregateExpression()))

    ext.injectFunction((
      FunctionIdentifier("graft_pack_bytes"),
      info("graft_pack_bytes",
        "graft_pack_bytes(ints) - binary from the low byte of each array element"),
      (args: Seq[Expression]) => graft.functions.PackBytes(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_pnm_decode"),
      info("graft_pnm_decode",
        "graft_pnm_decode(bytes) - decode raw PGM/PPM (P5/P6): struct(fmt, width, height, maxval, gray)"),
      (args: Seq[Expression]) => graft.functions.PnmDecode(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_luma_grid_2d"),
      info("graft_luma_grid_2d",
        "graft_luma_grid_2d(pixels, width, height) - 64-cell 2-D box-filter grid of row-major pixels"),
      (args: Seq[Expression]) => graft.functions.LumaGrid2D(args(0), args(1), args(2))))

    ext.injectFunction((
      FunctionIdentifier("graft_km_fold_ppm"),
      info("graft_km_fold_ppm",
        "graft_km_fold_ppm(steps) - linear Kaplan-Meier product-limit fold: " +
          "array<struct<...,n,d,...>> sorted by time -> running survival ppm array"),
      (args: Seq[Expression]) => graft.functions.KmFoldPpm(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_wav_decode"),
      info("graft_wav_decode",
        "graft_wav_decode(bytes) - decode RIFF/WAVE PCM (8/16-bit): " +
          "struct(sample_rate, channels, bits, n_samples, samples)"),
      (args: Seq[Expression]) => graft.functions.WavDecode(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_amplitude_envelope"),
      info("graft_amplitude_envelope",
        "graft_amplitude_envelope(samples, n_windows) - box-filter mean-|amplitude| envelope"),
      (args: Seq[Expression]) => graft.functions.AmplitudeEnvelope(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_png_encode"),
      info("graft_png_encode",
        "graft_png_encode(rgb_pixels, width, height) - lossless PNG bytes from " +
          "row-major packed 0xRRGGBB ints (JDK javax.imageio encoder)"),
      (args: Seq[Expression]) => graft.functions.PngEncode(args(0), args(1), args(2))))

    ext.injectFunction((
      FunctionIdentifier("graft_html_extract"),
      info("graft_html_extract",
        "graft_html_extract(html) - main-content extraction: strip tags, drop " +
          "script/style/comment blocks, decode core entities, collapse whitespace"),
      (args: Seq[Expression]) => graft.functions.HtmlExtract(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_imageio_decode"),
      info("graft_imageio_decode",
        "graft_imageio_decode(bytes) - decode PNG/JPEG/BMP/GIF via JDK javax.imageio: " +
          "struct(fmt, width, height, gray)"),
      (args: Seq[Expression]) => graft.functions.ImageIoDecode(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_avi_encode"),
      info("graft_avi_encode",
        "graft_avi_encode(frames, width, height) - uncompressed 24-bit DIB AVI bytes " +
          "from array<array<int>> packed 0xRRGGBB frames"),
      (args: Seq[Expression]) => graft.functions.AviEncode(args(0), args(1), args(2))))

    ext.injectFunction((
      FunctionIdentifier("graft_avi_frames"),
      info("graft_avi_frames",
        "graft_avi_frames(bytes, every) - RIFF walk of an uncompressed AVI: " +
          "struct(width, height, n_frames, frames) sampling every k-th frame"),
      (args: Seq[Expression]) => graft.functions.AviFrames(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_mp4_frames"),
      info("graft_mp4_frames",
        "graft_mp4_frames(bytes, every) - ISO BMFF walk of a Motion-JPEG " +
          "MP4/MOV: struct(width, height, n_frames, frames) sampling every " +
          "k-th sample through the JDK JPEG reader"),
      (args: Seq[Expression]) => graft.functions.Mp4Frames(args(0), args(1))))
  }
}
