package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ext.TextHash

/** Parity specs for the native expressions: each compiled loop must
  * produce bit-identical results to a plain-Scala reference built from
  * the same md5 formulas (the same contract the DuckDB oracle checks
  * end-to-end at sf0.01).
  */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("functions-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private val P = TextHash.MinhashPrime

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog tonight",
    "a b", // below shingle size
    "", // empty
    "repeated repeated repeated words words here",
    "  double  spaced   tokens  everywhere  ")

  private def refShingleHashes(text: String, n: Int, mod: Long): Seq[Long] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < n) Seq.empty
    else {
      val hs = toks.sliding(n).map(w => TextHash.hash64Local(w.mkString(" ")))
        .map(h => if (mod > 0) h % mod else h).toSeq
      hs.distinct
    }
  }

  test("WordShingleHashes matches the scala md5 reference (distinct + multiset)") {
    import spark.implicits._
    val df = texts.toDF("text")
    val got = df.select(TextFunctions.wordShingleHashes($"text", 3, P).as("h"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val want = texts.map(refShingleHashes(_, 3, P))
    assert(got.toSeq == want)
    // non-distinct keeps every occurrence (simhash votes)
    val gotAll = df.select(TextFunctions.wordShingleHashes($"text", 1, 0L, distinct = false).as("h"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val wantAll = texts.map(t => t.split(" ").filter(_.nonEmpty).toSeq.map(TextHash.hash64Local(_)))
    assert(gotAll.toSeq == wantAll)
  }

  test("MinhashSig matches the affine-family reference") {
    import spark.implicits._
    val params = TextHash.minhashParams(16)
    val hashes = texts.map(refShingleHashes(_, 3, P))
    val got = hashes.toDF("h")
      .select(TextFunctions.minhashSig($"h", 16).as("sig"))
      .collect().map(r => r.getSeq[Any](0).toSeq)
    val want = hashes.map { hs =>
      params.map { case (a, b) =>
        if (hs.isEmpty) null else hs.map(h => (h * a + b) % P).min
      }
    }
    assert(got.toSeq == want.map(_.toSeq))
  }

  test("Simhash64 matches the majority-vote reference") {
    import spark.implicits._
    val tokenHashes = texts.map(t => t.split(" ").filter(_.nonEmpty).toSeq.map(TextHash.hash64Local(_)))
    val got = tokenHashes.toDF("h")
      .select(TextFunctions.simhash64($"h").as("s")).collect().map(_.getLong(0))
    val want = tokenHashes.map { hs =>
      (0 until 64).map { j =>
        val vote = hs.map(h => if (((h >> j) & 1L) == 1L) 1L else -1L).sum
        if (vote > 0) 1L << j else 0L
      }.sum
    }
    assert(got.toSeq == want)
  }

  test("CosineSim matches the HOF fold formulation bit-for-bit") {
    import spark.implicits._
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.1f, -0.4f, 0.9f), Array(0.5f, 0.2f, -0.7f)))
    val df = vecs.toDF("a", "b")
      .select(transform($"a", _.cast("double")).as("a"), transform($"b", _.cast("double")).as("b"))
    val got = df.select(VectorFunctions.cosineSim($"a", $"b").as("c")).collect().map(_.getDouble(0))
    val want = df.select(graft.ext.Similarity.cosine($"a", $"b").as("c")).collect().map(_.getDouble(0))
    assert(got.zip(want).forall { case (g, w) =>
      java.lang.Double.doubleToLongBits(g) == java.lang.Double.doubleToLongBits(w)
    }, s"${got.toSeq} vs ${want.toSeq}")
    // length mismatch and zero-norm → null (DuckDB /0 semantics)
    val m = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)))
      .toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b").as("c")).collect()
    assert(m.forall(_.isNullAt(0)))
  }

  test("ArraySum matches the HOF fold formulation bit-for-bit, nulls propagate") {
    import spark.implicits._
    val vecs = Seq(
      Array(1.0f, 2.5f, -3.25f, 0.125f),
      Array(0.1f, 0.2f, 0.3f),
      Array.empty[Float])
    val df = vecs.toDF("v")
    val got = df.select(VectorFunctions.arraySum($"v").as("s")).collect().map(_.getDouble(0))
    val want = df.select(
      aggregate(transform($"v", _.cast("double")), lit(0.0), (a, x) => a + x).as("s"))
      .collect().map(_.getDouble(0))
    assert(got.zip(want).forall { case (g, w) =>
      java.lang.Double.doubleToLongBits(g) == java.lang.Double.doubleToLongBits(w)
    }, s"${got.toSeq} vs ${want.toSeq}")
    // null array and null element → null
    val nulls = spark.sql(
      "SELECT graft_array_sum(CAST(NULL AS ARRAY<DOUBLE>)) AS a, " +
        "graft_array_sum(array(1.0D, CAST(NULL AS DOUBLE))) AS b").collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("SignLshBuckets matches a scala reference over the same hyperplanes") {
    import spark.implicits._
    val vecs = Seq(
      Array.tabulate(8)(i => (i + 1) * 0.25f),
      Array.tabulate(8)(i => math.cos(i + 1).toFloat),
      Array.fill(8)(0.0f))
    val got = vecs.toDF("v")
      .select(VectorFunctions.signLshBuckets($"v", 3, 5).as("b"))
      .collect().map(_.getSeq[String](0).toSeq)
    val want = vecs.map { v =>
      (0 until 3).map { t =>
        var key = 0L
        for (p <- 0 until 5) {
          var proj = 0.0
          for (i <- v.indices) {
            val comp = (TextHash.hash64Local(s"$t:$p:${i + 1}") % 1000L).toDouble / 1000.0 - 0.5
            proj += v(i).toDouble * comp
          }
          if (proj > 0.0) key |= (1L << p)
        }
        s"$t#$key"
      }
    }
    assert(got.toSeq == want)
  }

  test("WordShingleHashes property: agrees with reference on 200 generated strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wordGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const(" "),
      Gen.oneOf("düber", "καλό", "日本語", "a-b", "x!y"))
    val textGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    val texts = (0 until 200).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    import spark.implicits._
    val got = texts.toDF("text")
      .select(TextFunctions.wordShingleHashes($"text", 2, P).as("h"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val want = texts.map { t =>
      val toks = t.split(" ").filter(_.nonEmpty)
      if (toks.length < 2) Seq.empty
      else toks.sliding(2).map(w => TextHash.hash64Local(w.mkString(" ")) % P).toSeq.distinct
    }
    assert(got.toSeq == want)
  }

  test("Fingerprint64 matches the charShingles+hash HOF formulation (incl. non-ASCII)") {
    import spark.implicits._
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short", // below 8 chars → null
      "exactly8",
      "καλημέρα κόσμε unicode content here",
      "aaaaaaaaaa") // repeated grams collapse to one hash
    val df = samples.toDF("text")
    val got = df.select(TextFunctions.fingerprint64($"text", 8).as("fp")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val ref = df.select(
      array_min(transform(TextHash.charShingles($"text", 8), s => TextHash.hash64(s))).as("fp"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == ref.toSeq)
  }

  test("Int8QuantStats matches a scala reference; zero and null edges hold") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f)), // all-zero → scale 0, mae 0
      (3L, Seq(1e-8f, -1e-8f)), // tiny but nonzero scale
      (4L, Seq(127.0f, -127.0f, 63.5f)))
    val out = vecs.toDF("id", "v")
      .select($"id", VectorFunctions.int8QuantStats($"v").as("q"))
      .select($"id", $"q.scale", $"q.code_sum", $"q.mae")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap
    def ref(v: Seq[Float]): (Double, Long, Double) = {
      val d = v.map(_.toDouble)
      val maxAbs = d.map(math.abs).foldLeft(0.0)(math.max)
      if (maxAbs == 0.0) (0.0, 0L, 0.0)
      else {
        val scale = maxAbs / 127.0
        val codes = d.map(x => math.min(127.0, math.max(-127.0, math.floor(x / scale + 0.5))).toLong)
        val err = d.zip(codes).map { case (x, c) => math.abs(x - c * scale) }.foldLeft(0.0)(_ + _)
        (scale, codes.sum, err / d.length)
      }
    }
    vecs.foreach { case (id, v) => assert(out(id) == ref(v), s"vec $id") }
    // reconstruction error of any element is bounded by scale/2 → so is the mean
    vecs.foreach { case (id, v) => assert(out(id)._3 <= out(id)._1 / 2 + 1e-15, s"vec $id mae") }
    // a null element nulls the row (same contract as ArraySum)
    val withNull = Seq((1L, Seq(Some(1.0f), None))).toDF("id", "v")
      .select(VectorFunctions.int8QuantStats($"v").as("q")).collect()
    assert(withNull.head.isNullAt(0))
    // SQL registration
    val viaSql = spark.sql(
      "SELECT graft_int8_quant_stats(array(1.0D, -0.5D)).code_sum AS cs").collect()
    // codes: 1.0 → 127; -0.5 → floor(-63.5 + 0.5) = -63
    assert(viaSql.head.getLong(0) == 127L - 63L)
  }

  test("interpreted eval path agrees with codegen (direct Expression.eval)") {
    import org.apache.spark.unsafe.types.UTF8String
    val e = WordShingleHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(UTF8String.fromString(texts.head), org.apache.spark.sql.types.StringType),
      3, P)
    val viaEval = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(viaEval == refShingleHashes(texts.head, 3, P))
  }

  test("Utf8Stats: RFC 3629 state machine on hand-built byte sequences") {
    def stats(bytes: Array[Byte]): (Long, Long, Long, Long) = {
      val r = Utf8Stats.compute(bytes)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // clean ASCII with allowed whitespace
    assert(stats("ok\tfine\nyes\r".getBytes("UTF-8")) == (12L, 0L, 0L, 0L))
    // BEL is a C0 control; tab/LF/CR are not counted
    assert(stats("a\u0007b".getBytes("UTF-8")) == (3L, 0L, 0L, 1L))
    // valid 2/3/4-byte sequences: é, €, emoji
    assert(stats("é€😀".getBytes("UTF-8")) == (9L, 0L, 0L, 0L))
    // U+FFFD replacement char = EF BF BD
    assert(stats("x\uFFFDy\uFFFD".getBytes("UTF-8")) == (8L, 0L, 2L, 0L))
    // overlong encoding C0 AF: lead invalid, then stray continuation
    assert(stats(Array(0x41, 0xC0, 0xAF).map(_.toByte)) == (3L, 2L, 0L, 0L))
    // stray continuation alone
    assert(stats(Array(0x80).map(_.toByte)) == (1L, 1L, 0L, 0L))
    // truncated 3-byte lead at end of input: E2 80
    assert(stats(Array(0xE2, 0x80).map(_.toByte)) == (2L, 2L, 0L, 0L))
    // CESU-8 surrogate ED A0 80 is invalid UTF-8 (3 bad bytes after resync)
    assert(stats(Array(0xED, 0xA0, 0x80).map(_.toByte)) == (3L, 3L, 0L, 0L))
    // E0 overlong guard: E0 9F BF is overlong, E0 A0 80 (U+0800) is valid
    assert(stats(Array(0xE0, 0x9F, 0xBF).map(_.toByte))._2 == 3L)
    assert(stats(Array(0xE0, 0xA0, 0x80).map(_.toByte)) == (3L, 0L, 0L, 0L))
    // F4 90 80 80 is above U+10FFFF; F4 8F BF BF (U+10FFFF) is valid
    assert(stats(Array(0xF4, 0x90, 0x80, 0x80).map(_.toByte))._2 == 4L)
    assert(stats(Array(0xF4, 0x8F, 0xBF, 0xBF).map(_.toByte)) == (4L, 0L, 0L, 0L))
    // F5..FF are never valid leads
    assert(stats(Array(0xF5, 0xFF).map(_.toByte)) == (2L, 2L, 0L, 0L))
  }

  test("utf8Screen: planted mojibake/replacement/control flag exactly as designed") {
    import spark.implicits._
    val clean = "perfectly ordinary prose that says nothing unusual at all"
    val docs = Seq(
      (1L, clean),
      (2L, clean + " Ã©Ã¨ â€™ Â°"), // mojibake burst: 4 signature hits
      (3L, clean + " \uFFFD"), // one replacement char in a short doc
      (4L, clean + "\u0007"), // any control char flags
      (5L, "x" * 5000 + " \uFFFD") // 1 repl in 5002 chars: under density
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.utf8Screen(docs, col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6)))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 0L, 0L, false),
      (2L, 0L, 0L, 0L, 4L, true),
      (3L, 0L, 1L, 0L, 0L, true),
      (4L, 0L, 0L, 1L, 0L, true),
      (5L, 0L, 1L, 0L, 0L, false)))
  }

  test("LuhnValid/IbanValid: published test vectors, separators, corruption, shape edges") {
    import spark.implicits._
    def luhn(s: String): Boolean =
      Seq(s).toDF("c").select(PiiFunctions.luhnValid(col("c"))).collect().head.getBoolean(0)
    def iban(s: String): Boolean =
      Seq(s).toDF("c").select(PiiFunctions.ibanValid(col("c"))).collect().head.getBoolean(0)
    assert(luhn("4532015112830366"))
    assert(luhn("4532 0151 1283 0366")) // separators skipped
    assert(luhn("4532-0151-1283-0366"))
    assert(!luhn("4532015112830367")) // one digit off
    assert(luhn("378282246310005")) // 15-digit Amex shape
    assert(!luhn("49927398716")) // valid checksum but 11 digits — too short
    assert(!luhn("4532a15112830366")) // stray letter fails outright
    assert(iban("DE89370400440532013000"))
    assert(iban("GB82WEST12345698765432")) // letters in the BBAN
    assert(iban("FR1420041010050500013M02606")) // 27 chars
    assert(!iban("DE89370400440532013001"))
    assert(!iban("DE8937040044")) // under 15 chars
    assert(!iban("DE89 37040044 0532013000")) // spaces are not in contract
  }

  test("expressions are registered for SQL via GraftExtensions") {
    val one = spark.sql(
      "SELECT graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").collect()
    assert(one.head.getDouble(0) == 1.0)
    val lang = spark.sql("SELECT graft_lang_id('the cat sat on the mat') AS l").collect()
    assert(lang.head.getString(0) == "en")
    val sh = spark.sql(
      s"SELECT graft_word_shingle_hashes('a b c d', 3, ${P}L) AS h").collect()
    assert(sh.head.getSeq[Long](0).toSeq ==
      Seq(TextHash.hash64Local("a b c") % P, TextHash.hash64Local("b c d") % P))
    // round-8 registrations: parity with the Column API on each
    val nfc = spark.sql("SELECT graft_nfc_normalize('éclair') AS s").collect()
    assert(nfc.head.getString(0) == "éclair")
    val ccs = spark.sql("SELECT graft_char_class_stats('Ab1 x').n_alpha AS a").collect()
    assert(ccs.head.getLong(0) == 3L)
    // X'6F6BEFBFBD' = "ok" + the U+FFFD triple, as a raw binary literal
    val u8 = spark.sql(
      "SELECT graft_utf8_stats(X'6F6BEFBFBD').n_replacement AS r, " +
        "graft_utf8_stats(X'6F6BEFBFBD').n_bytes AS b, " +
        "graft_utf8_stats(X'80C0').n_invalid AS i").collect().head
    assert(u8.getLong(0) == 1L && u8.getLong(1) == 5L && u8.getLong(2) == 2L)
    val pii = spark.sql(
      "SELECT graft_luhn_valid('4532 0151 1283 0366') AS c, " +
        "graft_iban_valid('DE89370400440532013000') AS i, " +
        "graft_luhn_valid('4532 0151 1283 0367') AS cb, " +
        "graft_iban_valid('DE89370400440532013001') AS ib").collect().head
    assert(pii.getBoolean(0) && pii.getBoolean(1) && !pii.getBoolean(2) && !pii.getBoolean(3))
    // bloom probe over a foldable binary literal (hex form of a tiny
    // serialized filter): present keys hit, absent keys can miss
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(42L); bf.putLong(7L)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val hex = bos.toByteArray.map("%02X".format(_)).mkString
    val bl = spark.sql(
      s"SELECT graft_bloom_might_contain(42L, X'$hex') AS yes, " +
        s"graft_bloom_might_contain(99999L, X'$hex') AS no").collect().head
    assert(bl.getBoolean(0))
    assert(!bl.getBoolean(1), "99999 must miss in a 2-key 1% filter")
    // the top-k AGGREGATE registers too (toAggregateExpression path)
    val tk = spark.sql("""
      SELECT g, graft_topk_pairs(s, i, 2) AS t
      FROM VALUES ('a', 1.0D, 10L), ('a', 3.0D, 11L), ('a', 2.0D, 12L), ('b', 9.0D, 13L)
        AS v(g, s, i)
      GROUP BY g ORDER BY g""").collect()
    assert(tk(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getDouble(0), r.getLong(1)))
      == Seq((3.0, 11L), (2.0, 12L)))
    assert(tk(1).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getDouble(0), r.getLong(1)))
      == Seq((9.0, 13L)))
    // round-9 perceptual-hash registrations: 64 bytes of 0x64 → a flat
    // grid of 100s → no strict inequalities → both hashes 0
    val ph = spark.sql(
      s"SELECT graft_ahash64(graft_luma_grid(X'${"64" * 64}')) AS a, " +
        s"graft_dhash64(graft_luma_grid(X'${"64" * 64}')) AS d, " +
        s"size(graft_luma_grid(X'${"64" * 64}')) AS n").collect().head
    assert(ph.getLong(0) == 0L && ph.getLong(1) == 0L && ph.getInt(2) == 64)
    // round-10 registrations: PNM decode chain + KM fold.
    // "P5\n2 2\n255\n" = 50 35 0A 32 20 32 0A 32 35 35 0A, raster 01 02 03 04
    val pnm = spark.sql(
      "SELECT graft_pnm_decode(X'50350A3220320A3235350A01020304').gray AS g, " +
        "graft_pnm_decode(X'00FF').fmt AS bad, " +
        "graft_pack_bytes(array(80, 256 + 53)) AS pk, " + // low bytes → 'P5'
        "size(graft_luma_grid_2d(array(1, 2, 3, 4), 2, 2)) AS n2").collect().head
    assert(pnm.getSeq[Int](0).toSeq == Seq(1, 2, 3, 4))
    assert(pnm.isNullAt(1))
    assert(new String(pnm.getAs[Array[Byte]](2), "US-ASCII") == "P5")
    assert(pnm.getInt(3) == 64)
    val km = spark.sql(
      "SELECT graft_km_fold_ppm(array(named_struct('n', 10L, 'd', 1L), " +
        "named_struct('n', 9L, 'd', 3L))) AS s").collect().head
    // 1e6*9//10 = 900000; 900000*6//9 = 600000
    assert(km.getSeq[Long](0).toSeq == Seq(900000L, 600000L))
  }

  test("graft_html_extract: tags, blocks, entities, whitespace — the state-machine contract") {
    import org.apache.spark.sql.functions.lit
    def x(html: String): String = spark.range(1)
      .select(graft.functions.HtmlFunctions.htmlExtract(lit(html)).as("t"))
      .collect().head.getString(0)
    // tag strip emits a separator space; whitespace collapses; trims
    assert(x("<p>a</p><p>b</p>") == "a b")
    assert(x("  <div> a \n\n b </div>  ") == "a b")
    // script/style/comment blocks drop WHOLESALE, case-insensitive,
    // including '<' inside script that must not open a tag
    assert(x("a<script>if (x < y) { no(); }</script>b") == "a b")
    assert(x("a<SCRIPT type=\"x\">ignored</SCRIPT>b") == "a b")
    assert(x("a<style>p { c: d; }</style>b") == "a b")
    assert(x("a<!-- <p>hidden</p> -->b") == "a b")
    // unclosed blocks/tags drop to EOF
    assert(x("keep<script>lost forever") == "keep")
    assert(x("keep<!-- lost") == "keep")
    assert(x("keep<unclosed") == "keep")
    // entities: named core set, numeric dec/hex, amp decoded ONCE
    assert(x("&lt;x&gt; &amp; &quot;q&quot; &apos;a&apos;") == "<x> & \"q\" 'a'")
    assert(x("&#65;&#x42;") == "AB")
    assert(x("&amp;lt;") == "&lt;") // no double decode
    assert(x("a&nbsp;&nbsp;b") == "a b") // nbsp is whitespace, collapses
    // unrecognized entities stay verbatim
    assert(x("AT&T &bogus; &#; &") == "AT&T &bogus; &#; &")
    // scriptify lookalikes are ordinary tags, not blocks
    assert(x("<scripty>inner</scripty>") == "inner")
    // astral-plane numeric entity survives
    assert(x("&#x1F600;") == new String(Character.toChars(0x1F600)))
    // the collapse class is EXACTLY RE2's \s (measured against DuckDB):
    // \x0B, U+00A0, U+2028, U+3000 are NOT whitespace there and pass
    // through verbatim — the oracle-parity contract on CJK web text
    assert(x("a\tb\nc\fd\re") == "a b c d e")
    assert(x("ab") == "ab")
    assert(x("a b") == "a b")
    assert(x("a　b") == "a　b")
    assert(x("a b") == "a b")
    // surrogate-range numeric entities would be ill-formed lone
    // surrogates after UTF8String conversion — left verbatim
    assert(x("&#55296;x") == "&#55296;x")
    assert(x("&#xD800;x") == "&#xD800;x")
    assert(x("&#xDFFF;x") == "&#xDFFF;x")
    assert(x("&#xE000;") == "") // first post-surrogate cp decodes
    // null in, null out
    assert(spark.sql("SELECT graft_html_extract(CAST(NULL AS STRING)) AS t")
      .collect().head.isNullAt(0))
  }

  test("graft_avi_encode/graft_avi_frames: SQL round-trip through the real container") {
    // one 2x1 frame: pixel luma 7 and 9 (0x010101-packed grays)
    val r = spark.sql(
      "SELECT graft_avi_frames(graft_avi_encode(" +
        "array(array(7 * 65793, 9 * 65793)), 2, 1), 1) AS v").collect().head
    val v = r.getStruct(0)
    assert(v.getInt(0) == 2 && v.getInt(1) == 1 && v.getInt(2) == 1)
    val frame = v.getSeq[org.apache.spark.sql.Row](3).head
    assert(frame.getInt(0) == 0 && frame.getSeq[Int](1) == Seq(7, 9))
    // malformed bytes are null through the SQL surface too
    assert(spark.sql("SELECT graft_avi_frames(X'DEADBEEF', 1) AS v")
      .collect().head.isNullAt(0))
  }

  test("graft_km_fold_ppm: n=0 step poisons the tail with nulls instead of crashing") {
    // malformed input is data, not an error (the pnm_decode contract):
    // a zero at-risk count has no product-limit factor — that step and
    // every later one come back null, like the former SQL div fold
    val r = spark.sql(
      "SELECT graft_km_fold_ppm(array(named_struct('n', 4L, 'd', 1L), " +
        "named_struct('n', 0L, 'd', 0L), named_struct('n', 3L, 'd', 1L))) AS s")
      .collect().head.getSeq[Any](0).toSeq
    assert(r == Seq(750000L, null, null))
    // null input → null output, no exception
    assert(spark.sql(
      "SELECT graft_km_fold_ppm(CAST(NULL AS ARRAY<STRUCT<n: BIGINT, d: BIGINT>>)) AS s")
      .collect().head.isNullAt(0))
  }

  test("LongSetIntersectCount == size(array_intersect) on random long sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // adversarial shapes: empty sides, disjoint, identical, duplicates in
    // the probe side (builtin dedups — the count must too), tiny + big
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(40)
      val m = rnd.nextInt(40)
      val pool = 30 // small pool forces collisions and duplicates
      val a = Seq.fill(n)(rnd.nextInt(pool).toLong)
      val b = Seq.fill(m)(rnd.nextInt(pool).toLong)
      (a, b)
    } ++ Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq(5L, 5L, 5L), Seq(5L, 5L)),
      (Seq(Long.MaxValue, Long.MinValue, 0L), Seq(0L, Long.MinValue)))
    val df = rows.toDF("a", "b")
      // element-level containsNull=false, like the shingle relations
      .select(expr("transform(a, x -> x)").as("a"), expr("transform(b, x -> x)").as("b"))
    val got = df.select(
      TextFunctions.longSetIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), s"mismatch: $r"))
  }

  test("RunTimestamp: interpreted eval equals generated code; the optimizer keeps it unfolded") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.TimestampType
    val at = java.time.Instant.parse("2024-05-06T07:08:09.123456Z")
    val e = RunTimestamp(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(at))
    val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).getLong(0)
    assert(e.eval(InternalRow.empty) == generated)
    assert(generated == e.epochMicros)

    // in a fused stage, next to terms ConstantFolding does collapse
    val df = spark.range(3).select(
      coalesce(lit(null).cast(TimestampType), RunTimestamp.column(at)).as("t"),
      (RunTimestamp.column(at) > lit(java.sql.Timestamp.from(at.minusSeconds(60)))).as("after"))
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    val rows = df.collect()
    assert(rows.forall(r => r.getTimestamp(0).toInstant == at && r.getBoolean(1)))
    val optimized = df.queryExecution.optimizedPlan.expressions
    assert(optimized.exists(_.exists(_ == e)), df.queryExecution.optimizedPlan.toString)
    assert(!optimized.exists(_.exists {
      case l: Literal => l.dataType == TimestampType && l.value == e.epochMicros
      case _ => false
    }), "a RunTimestamp was folded into a timestamp Literal")
  }
}
