package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Multimodal plumbing semantics: metadata math, frame planning, and the
  * batched feature-extraction pipeline (deterministic stub codec).
  */
class MediaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("media-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  test("fitWithin preserves aspect ratio, never upscales, floors at 1px") {
    val meta = Media.MediaMeta("image", 4000, 3000, 0, 0L, "jpeg")
    assert(Media.fitWithin(meta, 1000, 1000) == (1000, 750))
    assert(Media.fitWithin(meta, 8000, 8000) == (4000, 3000)) // no upscale
    assert(Media.fitWithin(Media.MediaMeta("image", 10000, 1, 0, 0L, "x"), 100, 100) == (100, 1))
    assert(Media.fitWithin(Media.MediaMeta("image", 0, 0, 0, 0L, "x"), 100, 100) == (0, 0))
  }

  test("frameOffsets: every `everyMs` in [0, duration), empty for non-positive durations") {
    import spark.implicits._
    val out = Seq(1000L, 250L, 249L, 0L, -5L).toDF("d")
      .select(Media.frameOffsets($"d", 250L).as("o"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(out(0) == Seq(0L, 250L, 500L, 750L)) // 1000ms → 4 frames
    assert(out(1) == Seq(0L)) // exactly one period → frame 0 only
    assert(out(2) == Seq(0L))
    assert(out(3) == Seq.empty)
    assert(out(4) == Seq.empty)
  }

  test("extractFeatures is deterministic, dimension-correct, and batch-shaped") {
    import spark.implicits._
    val df = Seq((1L, "payload-one"), (2L, "payload-two"), (3L, "payload-one"))
      .toDF("id", "data")
      .select($"id", $"data".cast("binary").as("data"))
    val media = Media.asMedia(df, "id", "data", kind = "audio")
    val feats = Media.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L, 3L))
    assert(feats.forall(_.dim == 16))
    assert(feats.forall(_.features.length == 16))
    assert(feats.forall(_.kind == "audio"))
    // identical payloads → identical features; distinct → distinct
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
    assert(feats(0).features.toSeq != feats(1).features.toSeq)
    // stub codec range contract
    assert(feats.flatMap(_.features).forall(f => f >= 0.0f && f < 1.0f))
  }

  test("lumaGrid: 64 cells, box-filter means, empty cells 0, locality") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    // 128 bytes of value 100 → every cell holds exactly two bytes → 100
    val flat = Array.fill(128)(100.toByte)
    // short payload (32 bytes): positions map to every other cell; the
    // 32 untouched cells read 0
    val short = Array.fill(32)(100.toByte)
    val rows = Seq((1L, flat), (2L, short), (3L, Array.empty[Byte]))
      .toDF("id", "b")
      .select($"id", lumaGrid($"b").as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows(1L) == Seq.fill(64)(100))
    assert(rows(2L).count(_ == 100) == 32 && rows(2L).count(_ == 0) == 32)
    assert(rows(3L) == Seq.fill(64)(0))
    // locality: editing the first 8 of 512 bytes moves ONLY cell 0
    val base = Array.tabulate(512)(i => (i % 251).toByte)
    val edited = base.clone(); (0 until 8).foreach(i => edited(i) = 255.toByte)
    val Seq(g1, g2) = Seq((1L, base), (2L, edited)).toDF("id", "b")
      .orderBy($"id").select(lumaGrid($"b")).collect()
      .map(_.getSeq[Int](0)).toSeq
    assert(g1.zip(g2).zipWithIndex.count { case ((a, b), _) => a != b } == 1)
    assert(g1.drop(1) == g2.drop(1))
  }

  test("aHash/dHash: integer-exact bits, null off-contract grids") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    // grid: cell i = i → mean floor(2016/64)=31; aHash bits 32..63 set
    val ramp = Array.tabulate(256)(i => (i / 4).toByte) // cell c = c
    val out = Seq((1L, ramp)).toDF("id", "b")
      .select(aHash64(lumaGrid($"b")).as("a"), dHash64(lumaGrid($"b")).as("d"))
      .collect().head
    val expectA = (32 until 64).map(1L << _).reduce(_ | _)
    assert(out.getLong(0) == expectA)
    // ramp rows: within each row cells strictly increase; the wraparound
    // bit (col 7 → col 0) is the only unset bit per row
    val expectD = (0 until 64).filter(i => i % 8 != 7).map(1L << _).foldLeft(0L)(_ | _)
    assert(out.getLong(1) == expectD)
    // non-64-cell grid → null hash
    val bad = Seq((1L, Seq(1, 2, 3))).toDF("id", "g")
      .select(aHash64($"g").as("a"), dHash64($"g").as("d")).collect().head
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  private def pgm(header: String, raster: Array[Byte]): Array[Byte] =
    header.getBytes("US-ASCII") ++ raster

  test("pnmDecode: P5 header variants — comments, whitespace runs, trailing bytes") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    val raster = Array.tabulate(6)(i => (i * 10).toByte) // 3x2
    val plain = pgm("P5\n3 2\n255\n", raster)
    val comments = pgm("P5 # format\n# a comment line\n 3 # width\n\t2\r255\n", raster)
    val trailing = pgm("P5\n3 2\n255\n", raster ++ Array[Byte](9, 9, 9))
    val rows = Seq((1L, plain), (2L, comments), (3L, trailing))
      .toDF("id", "b").select($"id", pnmDecode($"b").as("d"))
      .select($"id", $"d.fmt", $"d.width", $"d.height", $"d.maxval", $"d.gray")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getSeq[Int](5).toSeq))).toMap
    val expect = (5, 3, 2, 255, Seq(0, 10, 20, 30, 40, 50))
    assert(rows(1L) == expect)
    assert(rows(2L) == expect)
    assert(rows(3L) == expect) // bytes past the raster are ignored
  }

  test("pnmDecode: P6 Rec.709 integer luma and 2-byte big-endian samples") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    // one RGB pixel (200, 100, 50): luma = (2126*200+7152*100+722*50)//10000 = 117
    val p6 = pgm("P6\n1 1\n255\n", Array(200.toByte, 100.toByte, 50.toByte))
    // maxval 65535 → 2-byte samples: P5 pixel 0x1234 = 4660
    val p5wide = pgm("P5\n1 1\n65535\n", Array(0x12.toByte, 0x34.toByte))
    // P6 wide: (256, 512, 1024) → (2126*256+7152*512+722*1024)//10000 = 494
    val p6wide = pgm("P6\n1 1\n65535\n",
      Array(0x01, 0x00, 0x02, 0x00, 0x04, 0x00).map(_.toByte))
    val rows = Seq((1L, p6), (2L, p5wide), (3L, p6wide))
      .toDF("id", "b").select($"id", pnmDecode($"b").as("d"))
      .select($"id", $"d.gray").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(rows(1L) == Seq((2126 * 200 + 7152 * 100 + 722 * 50) / 10000))
    assert(rows(2L) == Seq(0x1234))
    assert(rows(3L) == Seq((2126L * 256 + 7152L * 512 + 722L * 1024).toInt / 10000))
  }

  test("pnmDecode: malformed payloads decode to null, not errors") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    val good = pgm("P5\n2 2\n255\n", Array[Byte](1, 2, 3, 4))
    val cases = Seq(
      2L -> pgm("P4\n2 2\n255\n", Array[Byte](1, 2, 3, 4)), // unsupported magic
      3L -> pgm("P5\n2 2\n255\n", Array[Byte](1, 2, 3)), // truncated raster
      4L -> pgm("P5\n2 2\n", Array[Byte](1, 2, 3, 4)), // missing maxval
      5L -> pgm("P5\n2 2\n70000\n", Array[Byte](1, 2, 3, 4)), // maxval > 65535
      6L -> pgm("P5\n0 2\n255\n", Array[Byte](1, 2, 3, 4)), // zero width
      7L -> pgm("P5\n2 2\n255", Array[Byte](1, 2, 3, 4)), // no ws after maxval
      8L -> pgm("P5\n99999 99999\n255\n", Array[Byte](1)), // > 2^24 pixel bomb
      9L -> Array.empty[Byte],
      10L -> pgm("P5\n-2 2\n255\n", Array[Byte](1, 2, 3, 4))) // negative width
    val rows = ((1L -> good) +: cases).toDF("id", "b")
      .select($"id", pnmDecode($"b").as("d")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L))
    cases.foreach { case (id, _) => assert(rows(id), s"case $id should be null") }
  }

  test("lumaGrid2d: 2-D box-filter means, small images, shape mismatch null") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    // 16x16 ramp by row: pixel(r,c) = r → cell(R,C) = (2R + 2R+1)/2 = 2R
    val ramp = (0 until 256).map(i => i / 16)
    // 4x4 (smaller than the grid): pixels land on even (R,C) cells only
    val tiny = (0 until 16).map(_ => 7)
    val rows = Seq((1L, ramp, 16, 16), (2L, tiny, 4, 4), (3L, ramp, 16, 15))
      .toDF("id", "px", "w", "h")
      .select($"id", lumaGrid2d($"px", $"w", $"h").as("g")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1).toSeq)).toMap
    assert(rows(1L) == (0 until 64).map(i => (i / 8) * 2))
    val tinyGrid = rows(2L)
    assert(tinyGrid.count(_ == 7) == 16 && tinyGrid.count(_ == 0) == 48)
    assert(rows(3L) == null) // 256 pixels != 16*15
    // locality: a patch confined to pixels (r<2, c<4) moves only cells (0,0),(0,1)
    val base = (0 until 256).map(i => (i * 37) % 251)
    val patched = base.zipWithIndex.map { case (p, i) =>
      if (i < 32 && i % 16 < 4) math.min(255, p + 40) else p }
    val Seq(gb, gp) = Seq((1L, base), (2L, patched)).toDF("id", "px")
      .orderBy($"id").select(lumaGrid2d($"px", lit(16), lit(16))).collect()
      .map(_.getSeq[Int](0).toSeq).toSeq
    val moved = gb.zip(gp).zipWithIndex.filter { case ((a, b), _) => a != b }.map(_._2)
    assert(moved.toSet.subsetOf(Set(0, 1)) && moved.nonEmpty)
  }

  test("packBytes round-trips through pnmDecode") {
    import spark.implicits._
    import graft.functions.MediaFunctions._
    val px = (0 until 256).map(i => (i * 7) % 256)
    val out = Seq(Tuple1(px)).toDF("px")
      .select(concat(lit("P5\n16 16\n255\n").cast("binary"), packBytes($"px")).as("b"))
      .select(pnmDecode($"b").as("d"))
      .select($"d.width", $"d.height", $"d.gray").collect().head
    assert(out.getInt(0) == 16 && out.getInt(1) == 16)
    assert(out.getSeq[Int](2).toSeq == px)
  }

  test("pnmPhashPairs: planted PGM patches found over real decode, corrupt dropped, no cartesian") {
    import spark.implicits._
    val header = "P5\n16 16\n255\n"
    val docs = (0 until 30).map { i =>
      val px = Array.tabulate(256)(j =>
        (graft.ext.TextHash.hash64Local(s"$i:$j") % 256).toByte)
      (i.toLong * 2, pgm(header, px))
    }
    val variants = docs.map { case (id, b) =>
      val v = b.clone()
      val off = header.length
      (0 until 32).foreach { j =>
        if (j % 16 < 4) v(off + j) = math.min(255, (v(off + j) & 0xff) + 40).toByte }
      (id + 1, v)
    }
    val corrupt = Seq((1000L, pgm("P5\n16 16\n255\n", Array[Byte](1, 2, 3))))
    val df = (docs ++ variants ++ corrupt).toDF("media_id", "payload")
    val pairs = Media.pnmPhashPairs(df, "media_id", "payload", maxHamming = 4)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = got.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(planted.length == 30)
    assert(planted.forall(_._3 <= 4))
    assert(!got.exists { case (a, b, _) => a == 1000L || b == 1000L })
  }

  test("phashPairs: planted local edits found, different content excluded, no cartesian") {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      val body = Array.tabulate(400)(j => (((i * 131 + j * 17) % 83) + 40).toByte)
      (i.toLong * 2, body)
    }
    val variants = docs.map { case (id, b) =>
      val v = b.clone(); (0 until 6).foreach(i => v(i) = (v(i) + 60).toByte); (id + 1, v)
    }
    val df = (docs ++ variants).toDF("media_id", "payload")
    val pairs = Media.phashPairs(df, "media_id", "payload", maxHamming = 4)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every planted (2i, 2i+1) pair present with small hamming
    val planted = got.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(planted.length == 40)
    assert(planted.forall(_._3 <= 4))
    // identical payloads → hamming 0
    val twin = Seq((1L, "same-bytes"), (2L, "same-bytes"), (3L, "other-content"))
      .toDF("id", "p").select($"id", $"p".cast("binary").as("p"))
    val tp = Media.phashPairs(twin, "id", "p", maxHamming = 0).collect()
    assert(tp.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L, 0L)))
  }

  /** Canonical WAV bytes: header + little-endian PCM raster. */
  private def wav(samples: Seq[Int], rate: Int = 8000, channels: Int = 1,
      bits: Int = 16): Array[Byte] = {
    val frames = samples.length / channels
    val header = Media.wavHeader(frames, rate, channels, bits)
    val body =
      if (bits == 16) samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
      else samples.map(s => ((s + 128) & 0xff).toByte)
    header ++ body
  }

  test("wavDecode: 16-bit mono round-trip — header fields and signed LE samples") {
    import spark.implicits._
    import graft.functions.AudioFunctions._
    val s = Seq(0, 1, -1, 32767, -32768, 12345, -12345)
    val out = Seq(Tuple1(wav(s))).toDF("b")
      .select(wavDecode($"b").as("d"))
      .select($"d.sample_rate", $"d.channels", $"d.bits", $"d.n_samples", $"d.samples")
      .collect().head
    assert(out.getInt(0) == 8000 && out.getInt(1) == 1 && out.getInt(2) == 16)
    assert(out.getInt(3) == s.length)
    assert(out.getSeq[Int](4).toSeq == s)
  }

  test("wavDecode: 8-bit recentring, stereo channel-0, chunk skipping with odd-size pad") {
    import spark.implicits._
    import graft.functions.AudioFunctions._
    // 8-bit: stored unsigned, decoded re-centered
    val b8 = wav(Seq(0, 127, -128, 50), bits = 8)
    // stereo 16-bit: frames (L,R) — channel 0 only
    val st = wav(Seq(10, -99, 20, -99, 30, -99), channels = 2)
    // an alien odd-sized chunk between "WAVE" and "fmt " must be
    // skipped with its pad byte
    val base = wav(Seq(7, -7))
    val alien = "LIST".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val withAlien = base.take(12) ++ alien ++ base.drop(12)
    val rows = Seq((1L, b8), (2L, st), (3L, withAlien)).toDF("id", "b")
      .select($"id", wavDecode($"b").as("d")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(rows(1L).getInt(2) == 8 && rows(1L).getSeq[Int](4).toSeq == Seq(0, 127, -128, 50))
    assert(rows(2L).getInt(1) == 2 && rows(2L).getSeq[Int](4).toSeq == Seq(10, 20, 30))
    assert(rows(3L).getSeq[Int](4).toSeq == Seq(7, -7))
  }

  test("wavDecode: malformed payloads decode to null, not errors") {
    import spark.implicits._
    import graft.functions.AudioFunctions._
    val good = wav(Seq(1, 2, 3))
    def patch(b: Array[Byte], off: Int, v: Byte) = { val c = b.clone(); c(off) = v; c }
    val cases = Seq(
      2L -> patch(good, 0, 'X'),                  // bad RIFF magic
      3L -> patch(good, 8, 'X'),                  // bad WAVE form
      4L -> patch(good, 20, 3),                   // audioFormat != 1 (PCM)
      5L -> patch(good, 34, 24),                  // bits = 24 unsupported
      6L -> good.dropRight(1),                    // truncated raster
      7L -> patch(good, 22, 0),                   // zero channels
      8L -> good.take(36),                        // data header cut off
      9L -> Array.empty[Byte],
      // data chunk before any fmt chunk
      10L -> (good.take(12) ++ good.drop(36) ++ good.slice(12, 36)))
    val rows = ((1L -> good) +: cases).toDF("id", "b")
      .select($"id", wavDecode($"b").as("d")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L))
    cases.foreach { case (id, _) => assert(rows(id), s"case $id should be null") }
  }

  test("wavDecode: sample-count bomb guard nulls a >2^22-sample clip") {
    import spark.implicits._
    import graft.functions.AudioFunctions._
    val n = (1 << 22) + 1
    val header = Media.wavHeader(n, 8000, 1, 8)
    val big = header ++ Array.fill[Byte](n)(0)
    val ok = Media.wavHeader(1 << 22, 8000, 1, 8) ++ Array.fill[Byte](1 << 22)(0)
    val rows = Seq((1L, big), (2L, ok)).toDF("id", "b")
      .select($"id", wavDecode($"b").as("d")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows(1L) && !rows(2L))
  }

  test("amplitudeEnvelope: rectified box-filter means, short input zero-fills") {
    import spark.implicits._
    import graft.functions.AudioFunctions._
    // 8 samples into 4 windows of 2: means of |x|
    val out = Seq(Tuple1(Seq(1, -3, 10, 20, -5, -5, 0, 7))).toDF("s")
      .select(amplitudeEnvelope($"s", lit(4)).as("e")).collect().head.getSeq[Int](0)
    assert(out.toSeq == Seq(2, 15, 5, 3))
    // 2 samples into 4 windows: windows 0 and 2 hit, others 0
    val sparse = Seq(Tuple1(Seq(9, -9))).toDF("s")
      .select(amplitudeEnvelope($"s", lit(4)).as("e")).collect().head.getSeq[Int](0)
    assert(sparse.toSeq == Seq(9, 0, 9, 0))
    val bad = Seq(Tuple1(Seq(1))).toDF("s")
      .select(amplitudeEnvelope($"s", lit(0)).as("e")).collect().head
    assert(bad.isNullAt(0))
  }

  test("audioStats: hand-folded peak, energy, clips, zero crossings; corrupt dropped") {
    import spark.implicits._
    val s = Seq(0, 100, -100, 32767, -32768, 50, -50, 0)
    val df = Seq((1L, wav(s)), (2L, Array[Byte](1, 2, 3))).toDF("id", "b")
    val rows = Media.audioStats(df, "id", "b").collect()
    assert(rows.length == 1) // corrupt clip dropped, not errored
    val r = rows.head
    assert(r.getLong(4) == 8L)                        // n_samples
    assert(r.getLong(5) == 1L)                        // 8 * 1000 div 8000
    assert(r.getLong(6) == 32768L)                    // peak |−32768|
    assert(r.getLong(7) ==
      100L * 100 * 2 + 32767L * 32767 + 32768L * 32768 + 50L * 50 * 2)
    assert(r.getLong(8) == 2L)                        // rail-pinned samples
    assert(r.getLong(9) == 6L)                        // sign flips
  }

  test("audioPitch: recovers a square wave's true period; short and corrupt clips drop") {
    import spark.implicits._
    val square = Seq.tabulate(256)(i => if (i % 24 < 12) 8000 else -8000)
    val df = Seq(
      (1L, wav(square)),
      (2L, wav(Seq.fill(40)(100))),     // shorter than maxLag+2
      (3L, Array[Byte](9, 9, 9)))       // undecodable
      .toDF("id", "b")
    val rows = Media.audioPitch(df, "id", "b", minLag = 16, maxLag = 64).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getInt(1) == 24, s"period: $r")       // the fundamental, not 48
    assert(r.getLong(2) == 8000L / 24)             // f0 = rate div period
    assert(r.getLong(3) > 0L)
  }

  test("audioNeardupPairs: planted level bumps found over real decode, no cartesian") {
    import spark.implicits._
    val docs = (0 until 25).map { i =>
      val s = Seq.tabulate(256)(j =>
        ((graft.ext.TextHash.hash64Local(s"$i:$j") % 80001L) - 40000L).toInt
          .max(-32768).min(32767))
      (i.toLong * 2, wav(s))
    }
    val variants = (0 until 25).map { i =>
      val s = Seq.tabulate(256) { j =>
        val raw = ((graft.ext.TextHash.hash64Local(s"$i:$j") % 80001L) - 40000L).toInt
        val adj = if (j < 8) raw + 6000 else raw
        adj.max(-32768).min(32767)
      }
      (i.toLong * 2 + 1, wav(s))
    }
    val df = (docs ++ variants).toDF("media_id", "payload")
    val pairs = Media.audioNeardupPairs(df, "media_id", "payload", maxHamming = 4)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = got.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(planted.length == 25)
    assert(planted.forall(_._3 <= 3)) // only envelope cells 0-1 can move
  }

  test("pngEncode/imageIoDecode: lossless RGB round-trip, Rec.709 luma, format name") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{pngEncode, imageIoDecode}
    // 4x2 image with known channel values, including rails
    val px = Seq(0x000000, 0xFFFFFF, 0xFF0000, 0x00FF00,
      0x0000FF, 0x102030, 0x7F7F7F, 0x010203)
    val want = px.map { p =>
      val (r, g, b) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
      ((2126L * r + 7152L * g + 722L * b) / 10000L).toInt
    }
    val row = Seq(1).toDF("x")
      .select(imageIoDecode(pngEncode(
        typedLit(px), lit(4), lit(2))).as("d"))
      .select($"d.fmt", $"d.width", $"d.height", $"d.gray")
      .collect().head
    assert(row.getString(0) == "png")
    assert(row.getInt(1) == 4 && row.getInt(2) == 2)
    assert(row.getSeq[Int](3).toSeq == want)
  }

  test("imageIoDecode: malformed payloads and header bombs decode to null, not errors") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{pngEncode, imageIoDecode}
    val realPng = {
      val img = new java.awt.image.BufferedImage(1, 1,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val truncated = realPng.take(realPng.length / 2)
    // PNG header DECLARING 8192x8192 (> 2^24 pixels) with no raster: the
    // bomb guard must null it from the header peek alone
    val bomb = {
      val sig = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      val ihdrBody = java.nio.ByteBuffer.allocate(17)
      ihdrBody.put("IHDR".getBytes("US-ASCII"))
        .putInt(8192).putInt(8192).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      val crc = new java.util.zip.CRC32(); crc.update(ihdrBody.array())
      val len = java.nio.ByteBuffer.allocate(4).putInt(13).array()
      val crcB = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
      sig ++ len ++ ihdrBody.array() ++ crcB
    }
    val rows = Seq(
      ("garbage", "not an image at all".getBytes("UTF-8")),
      ("empty", Array.empty[Byte]),
      ("truncated", truncated),
      ("bomb", bomb),
      ("ok", realPng)).toDF("name", "payload")
      .select($"name", imageIoDecode($"payload").as("d"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(rows("garbage") && rows("empty") && rows("truncated") && rows("bomb"))
    assert(!rows("ok"))
    // encoder-side shape guards: bad dims / wrong length / bomb dims
    val enc = Seq(1).toDF("x").select(
      pngEncode(typedLit(Seq(1, 2)), lit(3), lit(1)).as("badlen"),
      pngEncode(typedLit(Seq(1)), lit(0), lit(1)).as("zerow"),
      pngEncode(typedLit(Seq(1)), lit(8192), lit(8192)).as("bomb"))
      .collect().head
    assert(enc.isNullAt(0) && enc.isNullAt(1) && enc.isNullAt(2))
  }

  test("imageDecode unifies PNM and ImageIO containers; imagePhashPairs pairs across formats") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{pngEncode, packBytes}
    // the SAME 16x16 grayscale pixels shipped twice: once as raw PGM
    // bytes, once as an RGB PNG (r=g=b → identical luma) — the decoded
    // grids match exactly, so the pair lands at Hamming 0
    def pix(i: Int, j: Int) =
      ((graft.ext.TextHash.hash64Local(s"img$i:$j") % 256L) + 256L).toInt % 256
    val rows = (0 until 8).flatMap { i =>
      val px = Seq.tabulate(256)(j => pix(i, j))
      val pgm = s"P5\n16 16\n255\n".getBytes("US-ASCII") ++ px.map(_.toByte)
      Seq((i.toLong * 2, pgm, "pgm"))
    }
    val pngDf = (0 until 8).map(i => i.toLong * 2 + 1 -> i).toDF("media_id", "i")
      .select($"media_id", pngEncode(
        transform(sequence(lit(0), lit(255)), { j =>
          val p = (graft.ext.TextHash.hash64(
            concat(lit("img"), ($"media_id" / 2).cast("int").cast("string"),
              lit(":"), j.cast("string"))) % 256).cast("int")
          (shiftleft(p, 16) + shiftleft(p, 8) + p).cast("int")
        }), lit(16), lit(16)).as("payload"))
    val pgmDf = rows.map(r => (r._1, r._2)).toDF("media_id", "payload")
    val media = pgmDf.unionByName(pngDf)
    // decode screen sees both containers
    val decoded = media.select($"media_id",
        graft.multimodal.Media.imageDecode($"payload").as("d"))
      .filter($"d".isNotNull)
      .select($"media_id", $"d.fmt".as("fmt")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decoded.size == 16)
    assert(decoded(0L) == "p5" && decoded(1L) == "png")
    // cross-format pairing at Hamming 0
    val pairs = graft.multimodal.Media
      .imagePhashPairs(media, "media_id", "payload", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = pairs.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(planted.length == 8, pairs.mkString(","))
    assert(planted.forall(_._3 == 0L))
  }

  test("aviEncode/aviFrames: stride-padded round-trip, top-down rows, frame sampling") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{aviEncode, aviFrames}
    // w=3 (stride 12, 3 pad bytes/row), h=2, 2 frames of known pixels:
    // frame f pixel j packs (10f+j) into all three channels -> luma 10f+j
    def px(f: Int) = Seq.tabulate(6)(j => (10 * f + j) * 0x010101)
    val df = Seq((1L, Seq(px(0), px(1)))).toDF("id", "frames")
      .select($"id", aviFrames(
        aviEncode($"frames", lit(3), lit(2)), lit(1)).as("v"))
    val r = df.collect().head.getStruct(1)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 2)
    val frames = r.getSeq[org.apache.spark.sql.Row](3)
    assert(frames.map(_.getInt(0)) == Seq(0, 1))
    // gray of 0x010101·k is (2126k + 7152k + 722k)/10000 = k
    assert(frames(0).getSeq[Int](1) == Seq(0, 1, 2, 3, 4, 5))
    assert(frames(1).getSeq[Int](1) == Seq(10, 11, 12, 13, 14, 15))

    // 6 frames, every = 2 -> idx 0,2,4 sampled; n_frames still 6
    val sampled = Seq((1L, Seq.tabulate(6)(px)))
      .toDF("id", "frames")
      .select(aviFrames(aviEncode($"frames", lit(3), lit(2)), lit(2)).as("v"))
      .collect().head.getStruct(0)
    assert(sampled.getInt(2) == 6)
    assert(sampled.getSeq[org.apache.spark.sql.Row](3).map(_.getInt(0)) == Seq(0, 2, 4))
  }

  test("aviFrames: malformations and header bombs decode to null, not errors") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviFrames
    val enc = graft.functions.AviEncode(null, null, null)
    def avi(w: Int, h: Int, frames: Seq[Seq[Int]]): Array[Byte] = {
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        frames.map(f => new org.apache.spark.sql.catalyst.util.GenericArrayData(
          f.toArray).asInstanceOf[Any]).toArray)
      enc.encode(ad, w, h)
    }
    val good = avi(3, 2, Seq(Seq.tabulate(6)(identity)))
    assert(good != null)
    def find(hay: Array[Byte], s: String): Int = {
      val pat = s.getBytes("US-ASCII")
      hay.indices.indexWhere(i => i + 4 <= hay.length &&
        pat.indices.forall(k => hay(i + k) == pat(k)))
    }
    def patched(f: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); f(c); c
    }
    val bb = (a: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val strf = find(good, "strf")
    val cases: Seq[(String, Array[Byte])] = Seq(
      "truncated" -> good.take(good.length - 5),
      "bad magic" -> patched(c => c(0) = 'X'.toByte),
      "not avi" -> patched(c => c(8) = 'W'.toByte),
      "compressed bpp" -> patched(c => bb(c).putShort(strf + 8 + 14, 16.toShort)),
      "nonzero compression" -> patched(c => bb(c).putInt(strf + 8 + 16, 1)),
      // header bomb: huge geometry, every frame chunk now mismatched
      "bomb" -> patched { c =>
        bb(c).putInt(strf + 8 + 4, 1 << 14); bb(c).putInt(strf + 8 + 8, 1 << 14)
      },
      "frame size mismatch" -> patched { c =>
        val db = find(c, "00db"); bb(c).putInt(db + 4, 7)
      })
    val out = cases.map(_._2).zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "payload")
      .select($"id", aviFrames($"payload", lit(1)).as("v"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    cases.zipWithIndex.foreach { case ((name, _), i) =>
      assert(out(i.toLong), s"case '$name' must decode to null")
    }
    // every <= 0 is null too
    val z = Seq((1L, good)).toDF("id", "payload")
      .select(aviFrames($"payload", lit(0)).as("v")).collect().head
    assert(z.isNullAt(0))
  }

  test("videoKeyframeNeardupPairs: planted key-frame pairs found, corrupt dropped, no cartesian") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviEncode
    // 4 videos: 0/1 share a key frame (1 gets a +2 luma corner nudge),
    // 2/3 have unrelated random-ish key frames; fillers identical
    def key(seed: Int) = Seq.tabulate(256) { j =>
      // md5-derived so distinct seeds give UNCORRELATED images — a
      // shifted polynomial in j is the same dHash up to wraparound
      ((graft.ext.TextHash.hash64Local(s"vid$seed:$j") % 256L).toInt) * 0x010101
    }
    def nudged(base: Seq[Int]) = base.zipWithIndex.map { case (p, j) =>
      if (j < 16) math.min(255, (p & 0xff) + 2) * 0x010101 else p
    }
    val filler = Seq.tabulate(256)(j => (j % 256) * 0x010101)
    val clips = Seq(
      (0L, Seq(key(1), filler)), (1L, Seq(nudged(key(1)), filler)),
      (2L, Seq(key(77), filler)), (3L, Seq(key(191), filler)))
    val media = clips.toDF("media_id", "frames")
      .select($"media_id", aviEncode($"frames", lit(16), lit(16)).as("payload"))
      .unionAll(Seq((9L, Array[Byte](1, 2))).toDF("media_id", "payload"))
    val pairs = graft.multimodal.Media.videoKeyframeNeardupPairs(
        media, "media_id", "payload", every = 1, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), pairs.mkString(","))
    // unrelated key frames (2, 3) must NOT pair with anything
    assert(!pairs.exists(p => p._1 >= 2L || p._2 >= 2L), pairs.mkString(","))
    val plan = graft.multimodal.Media.videoKeyframeNeardupPairs(
      media, "media_id", "payload").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("aviFrames: real Motion-JPEG frames decode through the JDK reader") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviFrames
    // hand-built MJPG AVI: same hdrl shape as AviEncode but
    // biCompression = 'MJPG' and one '00dc' JPEG chunk per frame
    def jpeg(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      javax.imageio.ImageIO.write(img, "jpg", ios); ios.flush(); ios.close()
      out.toByteArray
    }
    def mjpgAvi(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      val padded = frames.map(f => f ++ Array.fill[Byte](f.length & 1)(0))
      val moviSize = 4 + padded.map(8 + _.length).sum
      val hdrl = 4 + 64 + (8 + 4 + 64 + 48)
      val total = 12 + (8 + hdrl) + (8 + moviSize)
      val b = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String) = b.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); b.putInt(total - 8); fcc("AVI ")
      fcc("LIST"); b.putInt(hdrl); fcc("hdrl")
      fcc("avih"); b.putInt(56)
      b.putInt(40000).putInt(0).putInt(0).putInt(0)
      b.putInt(frames.length).putInt(0).putInt(1).putInt(0)
      b.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      fcc("LIST"); b.putInt(4 + 64 + 48); fcc("strl")
      fcc("strh"); b.putInt(56)
      fcc("vids"); fcc("MJPG")
      b.putInt(0).putShort(0).putShort(0).putInt(0)
      b.putInt(1).putInt(25).putInt(0).putInt(frames.length)
      b.putInt(0).putInt(-1).putInt(0)
      b.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      fcc("strf"); b.putInt(40)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      fcc("MJPG") // biCompression fourcc
      b.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      fcc("LIST"); b.putInt(moviSize); fcc("movi")
      frames.zip(padded).foreach { case (f, pad) =>
        fcc("00dc"); b.putInt(f.length); b.put(pad)
      }
      b.array()
    }
    // two flat frames: mid gray (0x808080 -> luma 128), dark (0x202020 -> 32)
    val payload = mjpgAvi(Seq(jpeg(0x808080, 16, 16), jpeg(0x202020, 16, 16)), 16, 16)
    val r = Seq((1L, payload)).toDF("id", "p")
      .select(aviFrames($"p", lit(1)).as("v")).collect().head.getStruct(0)
    assert(r.getInt(0) == 16 && r.getInt(1) == 16 && r.getInt(2) == 2)
    val fr = r.getSeq[org.apache.spark.sql.Row](3)
    assert(fr.map(_.getInt(0)) == Seq(0, 1))
    // flat-color JPEG round-trips near-exactly; allow codec tolerance
    def grays(i: Int) = fr(i).getSeq[Int](1)
    assert(grays(0).forall(g => math.abs(g - 128) <= 3), grays(0).take(8))
    assert(grays(1).forall(g => math.abs(g - 32) <= 3), grays(1).take(8))
    // a corrupt JPEG chunk nulls the whole decode (malformation is data)
    val broken = payload.clone()
    val dc = payload.indexOfSlice("00dc".getBytes("US-ASCII"))
    broken(dc + 12) = 0x7f.toByte // stomp JPEG SOI region
    val z = Seq((1L, broken)).toDF("id", "p")
      .select(aviFrames($"p", lit(1)).as("v")).collect().head
    assert(z.isNullAt(0))
  }

  test("mp4Frames: Motion-JPEG in MP4 decodes for real; remuxed AVI-MJPG twin is gray-identical") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviFrames
    import graft.functions.Mp4Functions.{mp4Frames, mp4Probe}
    def jpeg(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      javax.imageio.ImageIO.write(img, "jpg", ios); ios.flush(); ios.close()
      out.toByteArray
    }
    val frames = Seq(jpeg(0x808080, 16, 16), jpeg(0x202020, 16, 16),
      jpeg(0xe0e0e0, 16, 16))
    val mp4 = graft.functions.Mp4.container("jpeg", 16, 16, frames, 2)
    assert(mp4 != null)
    // decode every sample: planted flat lumas within codec tolerance
    val r = Seq((1L, mp4)).toDF("id", "p")
      .select(mp4Frames($"p", lit(1)).as("v")).collect().head.getStruct(0)
    assert(r.getInt(0) == 16 && r.getInt(1) == 16 && r.getInt(2) == 3)
    val fr = r.getSeq[org.apache.spark.sql.Row](3)
    assert(fr.map(_.getInt(0)) == Seq(0, 1, 2))
    def grays(i: Int) = fr(i).getSeq[Int](1)
    assert(grays(0).forall(g => math.abs(g - 128) <= 3), grays(0).take(8))
    assert(grays(1).forall(g => math.abs(g - 32) <= 3), grays(1).take(8))
    assert(grays(2).forall(g => math.abs(g - 224) <= 3), grays(2).take(8))
    // every-2nd sampling: frames 0 and 2; n_frames still counts all
    val s2 = Seq((1L, mp4)).toDF("id", "p")
      .select(mp4Frames($"p", lit(2)).as("v")).collect().head.getStruct(0)
    assert(s2.getInt(2) == 3 &&
      s2.getSeq[org.apache.spark.sql.Row](3).map(_.getInt(0)) == Seq(0, 2))
    // mp4Probe still triages the same container (sizes/keyframes intact)
    val p = Seq((1L, mp4)).toDF("id", "p")
      .select(mp4Probe($"p").as("v")).collect().head.getStruct(0)
    assert(p.getString(0) == "jpeg" && p.getInt(3) == 3 && p.getInt(4) == 2)
    // an H.264-class container does NOT decode (metadata triage only)
    val avc = graft.functions.Mp4.container("avc1", 16, 16, frames, 2)
    assert(Seq((1L, avc)).toDF("id", "p")
      .select(mp4Frames($"p", lit(1)).as("v")).collect().head.isNullAt(0))
    // a corrupt JPEG sample nulls the whole decode
    val broken = mp4.clone()
    val mdat = {
      val pat = "mdat".getBytes("US-ASCII")
      broken.indices.indexWhere(i => i + 4 <= broken.length &&
        pat.indices.forall(k => broken(i + k) == pat(k)))
    }
    broken(mdat + 4) = 0x00.toByte // stomp the first sample's SOI marker
    assert(Seq((1L, broken)).toDF("id", "p")
      .select(mp4Frames($"p", lit(1)).as("v")).collect().head.isNullAt(0))
    // container-agnostic rail: the same JPEG payloads remuxed into an
    // MJPG AVI must decode GRAY-IDENTICAL (same bytes, same JDK reader)
    def mjpgAvi(fs: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      val padded = fs.map(f => f ++ Array.fill[Byte](f.length & 1)(0))
      val moviSize = 4 + padded.map(8 + _.length).sum
      val hdrl = 4 + 64 + (8 + 4 + 64 + 48)
      val total = 12 + (8 + hdrl) + (8 + moviSize)
      val b = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String) = b.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); b.putInt(total - 8); fcc("AVI ")
      fcc("LIST"); b.putInt(hdrl); fcc("hdrl")
      fcc("avih"); b.putInt(56)
      b.putInt(40000).putInt(0).putInt(0).putInt(0)
      b.putInt(fs.length).putInt(0).putInt(1).putInt(0)
      b.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      fcc("LIST"); b.putInt(4 + 64 + 48); fcc("strl")
      fcc("strh"); b.putInt(56)
      fcc("vids"); fcc("MJPG")
      b.putInt(0).putShort(0).putShort(0).putInt(0)
      b.putInt(1).putInt(25).putInt(0).putInt(fs.length)
      b.putInt(0).putInt(-1).putInt(0)
      b.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      fcc("strf"); b.putInt(40)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      fcc("MJPG")
      b.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      fcc("LIST"); b.putInt(moviSize); fcc("movi")
      fs.zip(padded).foreach { case (f, pad) =>
        fcc("00dc"); b.putInt(f.length); b.put(pad)
      }
      b.array()
    }
    val avi = mjpgAvi(frames, 16, 16)
    val both = Seq((1L, avi), (2L, mp4)).toDF("id", "p")
      .select($"id", graft.multimodal.Media.videoFrames($"p", 1).as("v"))
      .collect().sortBy(_.getLong(0))
    assert(both.forall(!_.isNullAt(1)), "videoFrames must decode BOTH containers")
    val g1 = both(0).getStruct(1).getSeq[org.apache.spark.sql.Row](3)
      .map(_.getSeq[Int](1))
    val g2 = both(1).getStruct(1).getSeq[org.apache.spark.sql.Row](3)
      .map(_.getSeq[Int](1))
    assert(g1 == g2, "remux must be gray-identical: same JPEG bytes, same reader")
    // videoFrameStats rides the agnostic rail end-to-end
    val stats = graft.multimodal.Media.videoFrameStats(
      Seq((7L, mp4)).toDF("media_id", "payload"), "media_id", "payload", every = 1)
      .orderBy("frame_idx").collect()
    assert(stats.length == 3 &&
      math.abs(stats(0).getAs[Long]("mean_luma") - 128L) <= 3 &&
      math.abs(stats(1).getAs[Long]("mean_luma") - 32L) <= 3)
  }

  test("audioResample: exact rational grid, up/down, toward-zero lerp, corrupt dropped") {
    import spark.implicits._
    def wav(samples: Seq[Int], rate: Int): Array[Byte] =
      graft.multimodal.Media.wavHeader(samples.length, rate, 1, 16) ++
        samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    // downsample 8000 -> 4000: every other sample, no interpolation
    val down = Seq((1L, wav((0 until 16).map(_ * 100), 8000)))
      .toDF("media_id", "payload")
    val d = graft.multimodal.Media.audioResample(down, "media_id", "payload", 4000)
      .collect().head
    assert(d.getLong(2) == 16L && d.getLong(3) == 8L)           // n_in, n_out
    assert(d.getLong(4) == (0 until 16 by 2).map(_ * 100).sum)  // evens only
    // upsample 8000 -> 16000: midpoints lerp, negative diffs truncate toward zero
    val up = Seq((2L, wav(Seq(10, -5), 8000))).toDF("media_id", "payload")
    val u = graft.multimodal.Media.audioResample(up, "media_id", "payload", 16000)
      .collect().head
    // out = [10, 10 + (-15*8000) div 16000 = 3, -5]
    assert(u.getLong(3) == 3L && u.getLong(4) == 8L)
    assert(u.getLong(5) == -5L && u.getLong(6) == 10L)
    // corrupt payloads drop, never throw
    val bad = Seq((3L, Array[Byte](1))).toDF("media_id", "payload")
    assert(graft.multimodal.Media.audioResample(bad, "media_id", "payload", 4000)
      .count() == 0)
  }

  test("videoFrameStats: per-frame luma stats over real container decode") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviEncode
    // frame 0: luma 0..5 (mean 15 div 6 = 2); frame 1: 10..15 (mean 12)
    def px(f: Int) = Seq.tabulate(6)(j => (10 * f + j) * 0x010101)
    val media = Seq((7L, Seq(px(0), px(1)))).toDF("media_id", "frames")
      .select($"media_id", aviEncode($"frames", lit(3), lit(2)).as("payload"))
    val out = Media.videoFrameStats(media, "media_id", "payload", every = 1)
      .orderBy($"frame_idx").collect()
    assert(out.map(r => (r.getInt(1), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq ==
      Seq((0, 2L, 0L, 5L), (1, 12L, 10L, 15L)))
    assert(out.forall(r => r.getInt(2) == 3 && r.getInt(3) == 2 && r.getInt(4) == 2))
    // corrupt payloads drop, never throw
    val bad = Seq((8L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Media.videoFrameStats(bad, "media_id", "payload").count() == 0)
  }

  test("aviEncodeMeta/aviProbe: planted codec, geometry, sizes, keyframes round-trip") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{aviEncodeMeta, aviProbe}
    val df = Seq((1L, "H264", 32, 24, Seq(100, 201, 50), 2))
      .toDF("id", "codec", "w", "h", "sizes", "ke")
    val out = df.select(aviProbe(aviEncodeMeta(
        col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("c"))
      .select("c.codec", "c.width", "c.height", "c.n_frames",
        "c.n_keyframes", "c.frame_sizes")
      .head()
    assert(out.getString(0) == "H264")
    assert((out.getInt(1), out.getInt(2)) == (32, 24))
    assert(out.getInt(3) == 3)
    assert(out.getInt(4) == 2) // frames 0 and 2 keyed at ke=2
    assert(out.getSeq[Int](5) == Seq(100, 201, 50))
    // "DIB " plants biCompression 0 -> probe reports "DIB"
    val dib = Seq(("DIB ", 8, 8, Seq(7), 1)).toDF("codec", "w", "h", "sizes", "ke")
      .select(aviProbe(aviEncodeMeta(
        col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("c"))
      .select("c.codec", "c.n_keyframes").head()
    assert(dib.getString(0) == "DIB" && dib.getInt(1) == 1)
    // odd frame size exercises the WORD-alignment pad on both sides
    val odd = Seq(("MJPG", 4, 4, Seq(3, 5), 1)).toDF("codec", "w", "h", "sizes", "ke")
      .select(aviProbe(aviEncodeMeta(
        col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("c"))
      .select("c.frame_sizes").head()
    assert(odd.getSeq[Int](0) == Seq(3, 5))
  }

  test("aviProbe: triage and decode agree on the decodable fixture; no idx1 reads -1") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{aviEncode, aviFrames, aviProbe}
    val frames = transform(sequence(lit(0), lit(3)), f =>
      transform(sequence(lit(0), lit(11)), i => (f * 16 + i).cast("int")))
    val df = spark.range(1).select(
      aviEncode(frames, lit(4), lit(3)).as("payload"))
    val r = df.select(
        aviProbe(col("payload")).as("c"),
        aviFrames(col("payload"), lit(1)).as("v"))
      .select("c.codec", "c.width", "c.height", "c.n_frames", "c.n_keyframes",
        "c.frame_sizes", "v.width", "v.height", "v.n_frames")
      .head()
    assert(r.getString(0) == "DIB")
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) == (r.getInt(6), r.getInt(7), r.getInt(8)))
    assert(r.getInt(4) == -1) // AviEncode writes no idx1
    // every DIB frame chunk is stride*h = 12*3
    assert(r.getSeq[Int](5).forall(_ == 36))
  }

  test("aviProbe/aviEncodeMeta: malformations null out, never throw") {
    import spark.implicits._
    import graft.functions.MediaFunctions.{aviEncodeMeta, aviProbe}
    val meta = graft.functions.AviEncodeMeta(Seq(null, null, null, null, null))
    def enc(codec: String, w: Int, h: Int, sizes: Seq[Int], ke: Int): Array[Byte] =
      meta.encode(org.apache.spark.unsafe.types.UTF8String.fromString(codec),
        w, h, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sizes.toArray[Any]), ke)
    // encoder-side shape violations
    assert(enc("H2", 8, 8, Seq(1), 1) == null)       // bad fourcc length
    assert(enc("H264", 0, 8, Seq(1), 1) == null)     // bad geometry
    assert(enc("H264", 8, 8, Seq(-1), 1) == null)    // negative size
    assert(enc("H264", 8, 8, Seq(1), 0) == null)     // bad cadence
    assert(enc("H264", 8, 8, Seq(1 << 27), 1) == null) // payload bomb
    val good = enc("H264", 8, 8, Seq(10, 20), 2)
    assert(good != null)
    val probe = graft.functions.AviProbe(null)
    assert(probe.probe(good) != null)
    // probe-side malformations
    assert(probe.probe(Array[Byte](1, 2, 3)) == null)
    assert(probe.probe(good.take(good.length - 3)) == null) // truncated
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(probe.probe(badMagic) == null)
    // idx1 size not a multiple of 16 -> refuse
    def find(hay: Array[Byte], s: String): Int = {
      val pat = s.getBytes("US-ASCII")
      hay.indices.indexWhere(i => i + 4 <= hay.length &&
        pat.indices.forall(k => hay(i + k) == pat(k)))
    }
    val badIdx = good.clone()
    val ip = find(badIdx, "idx1")
    // shrinking the declared idx1 size desyncs the trailing walk too,
    // so corrupt the ENTRY GRANULARITY instead: declared size 16n -> 8
    java.nio.ByteBuffer.wrap(badIdx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(ip + 4, 8)
    assert(probe.probe(badIdx) == null)
    // null column in, null out
    val r = Seq((1L)).toDF("id")
      .select(aviProbe(lit(null).cast("binary")).as("c"),
        aviEncodeMeta(lit(null).cast("string"), lit(8), lit(8),
          lit(null).cast("array<int>"), lit(1)).as("e"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("mp4EncodeMeta/mp4Probe: planted codec, geometry, sizes, keyframes round-trip") {
    import spark.implicits._
    import graft.functions.Mp4Functions.{mp4EncodeMeta, mp4Probe}
    val df = Seq((1L, "avc1", 640, 360, Seq(1000, 2100, 50, 7), 3))
      .toDF("id", "codec", "w", "h", "sizes", "ke")
    val out = df.select(mp4Probe(mp4EncodeMeta(
        col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("c"))
      .select("c.codec", "c.width", "c.height", "c.n_frames",
        "c.n_keyframes", "c.frame_sizes")
      .head()
    assert(out.getString(0) == "avc1")
    assert((out.getInt(1), out.getInt(2)) == (640, 360))
    assert(out.getInt(3) == 4)
    assert(out.getInt(4) == 2) // samples 1 and 4 sync at ke=3
    assert(out.getSeq[Int](5) == Seq(1000, 2100, 50, 7))
    // every sample sync at ke=1
    val all = Seq(("hvc1", 8, 8, Seq(5, 6), 1)).toDF("codec", "w", "h", "sizes", "ke")
      .select(mp4Probe(mp4EncodeMeta(
        col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("c"))
      .select("c.n_keyframes").head()
    assert(all.getInt(0) == 2)
    // the probes are mutually exclusive by magic: AVI bytes null under
    // mp4Probe and vice versa
    import graft.functions.MediaFunctions.{aviEncodeMeta, aviProbe}
    val cross = Seq(("H264", 16, 16, Seq(9), 1)).toDF("codec", "w", "h", "sizes", "ke")
      .select(
        mp4Probe(aviEncodeMeta(
          col("codec"), col("w"), col("h"), col("sizes"), col("ke"))).as("m"),
        aviProbe(mp4EncodeMeta(
          lit("avc1"), col("w"), col("h"), col("sizes"), col("ke"))).as("a"))
      .head()
    assert(cross.isNullAt(0) && cross.isNullAt(1))
  }

  test("mp4Probe/mp4EncodeMeta: malformations null out, never throw") {
    import spark.implicits._
    import graft.functions.Mp4Functions.{mp4EncodeMeta, mp4Probe}
    val meta = graft.functions.Mp4EncodeMeta(Seq(null, null, null, null, null))
    def enc(codec: String, w: Int, h: Int, sizes: Seq[Int], ke: Int): Array[Byte] =
      meta.encode(org.apache.spark.unsafe.types.UTF8String.fromString(codec),
        w, h, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sizes.toArray[Any]), ke)
    assert(enc("av", 8, 8, Seq(1), 1) == null)         // bad fourcc length
    assert(enc("avc1", 0, 8, Seq(1), 1) == null)       // bad geometry
    assert(enc("avc1", 8, 1 << 17, Seq(1), 1) == null) // height > u16
    assert(enc("avc1", 8, 8, Seq(-1), 1) == null)      // negative size
    assert(enc("avc1", 8, 8, Seq(1), 0) == null)       // bad cadence
    assert(enc("avc1", 8, 8, Seq(1 << 27), 1) == null) // payload bomb
    val good = enc("avc1", 320, 240, Seq(10, 20, 30), 2)
    assert(good != null)
    val probe = graft.functions.Mp4Probe(null)
    assert(probe.probe(good) != null)
    // probe-side malformations
    assert(probe.probe(Array[Byte](1, 2, 3)) == null)
    assert(probe.probe(good.take(good.length - 3)) == null) // truncated moov
    val badMagic = good.clone(); badMagic(4) = 'X'.toByte   // not ftyp
    assert(probe.probe(badMagic) == null)
    // a box size smaller than its header desyncs the walk -> refuse
    def find(hay: Array[Byte], s: String): Int = {
      val pat = s.getBytes("US-ASCII")
      hay.indices.indexWhere(i => i + 4 <= hay.length &&
        pat.indices.forall(k => hay(i + k) == pat(k)))
    }
    val badBox = good.clone()
    java.nio.ByteBuffer.wrap(badBox).putInt(find(badBox, "stsz") - 4, 4)
    assert(probe.probe(badBox) == null)
    // stss claiming more entries than its box holds -> refuse
    val badStss = good.clone()
    java.nio.ByteBuffer.wrap(badStss).putInt(find(badStss, "stss") + 8, 1 << 10)
    assert(probe.probe(badStss) == null)
    // a VisualSampleEntry whose size overruns stsd but stays inside the
    // enclosing stbl must null out, not read sibling-box bytes as codec
    // bytes (the bound is the stsd box's own end, not the stbl's)
    val badEntry = good.clone()
    val stsdBox = find(badEntry, "stsd") - 4
    val stsdSize = java.nio.ByteBuffer.wrap(badEntry).getInt(stsdBox)
    java.nio.ByteBuffer.wrap(badEntry).putInt(stsdBox + 16, stsdSize)
    assert(probe.probe(badEntry) == null,
      "entry overrunning stsd into a sibling box must be a malformation")
    // null column in, null out
    val r = Seq((1L)).toDF("id")
      .select(mp4Probe(lit(null).cast("binary")).as("c"),
        mp4EncodeMeta(lit(null).cast("string"), lit(8), lit(8),
          lit(null).cast("array<int>"), lit(1)).as("e"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("videoContainerStats triages a mixed AVI+MP4 corpus in one pass; remuxed copies share a fingerprint") {
    import spark.implicits._
    import graft.functions.MediaFunctions.aviEncodeMeta
    import graft.functions.Mp4Functions.mp4EncodeMeta
    // same codec/geometry/size plan through BOTH containers: a remux
    // (same encoded stream, new container) must land in one dup group
    val plan = Seq((1L, 0), (2L, 1)) // 1 = AVI, 2 = MP4
      .toDF("media_id", "c")
    val media = plan.select($"media_id",
      when($"c" === 0,
        aviEncodeMeta(lit("H264"), lit(32), lit(24),
          array(lit(100), lit(200)), lit(2)))
      .otherwise(
        mp4EncodeMeta(lit("H264"), lit(32), lit(24),
          array(lit(100), lit(200)), lit(2))).as("payload"))
    val stats = Media.videoContainerStats(media, "media_id", "payload")
      .orderBy("media_id").collect()
    assert(stats.length == 2)
    assert(stats.map(_.getAs[String]("codec")).toSeq == Seq("H264", "H264"))
    assert(stats.map(_.getAs[Long]("container_fp")).distinct.length == 1,
      "an AVI->MP4 remux of the same stream must share the container fingerprint")
    assert(stats.forall(r => r.getAs[Int]("width") == 32 &&
      r.getAs[Int]("n_frames") == 2 && r.getAs[Int]("n_keyframes") == 1))
  }

  /** Seeded clips over the audio kernels' edge cases: 8- and 16-bit with
    * samples on the rails, n = 0, 1, 2, maxLag+1, maxLag+2 and up to 600,
    * constant clips (all zero: every lag ties), at four source rates.
    */
  private val kernelMaxLag = 64
  private val kernelRates = Seq(1, 7, 8000, 44100)
  private lazy val kernelClips: Seq[(Long, Int, Array[Byte])] = {
    val rng = new scala.util.Random(20261020L)
    var id = 0L
    for {
      bits <- Seq(8, 16)
      rate <- kernelRates
      samples <- {
        val (lo, hi) = if (bits == 16) (-32768, 32767) else (-128, 127)
        def noise(n: Int) = Seq.fill(n)(rng.nextInt(6) match {
          case 0 => hi
          case 1 => lo
          case 2 => 0
          case _ => lo + rng.nextInt(hi - lo + 1)
        })
        Seq(0, 1, 2, kernelMaxLag + 1, kernelMaxLag + 2, 3 + rng.nextInt(598), 600).map(noise) ++
          Seq(Seq.fill(kernelMaxLag + 2)(0), Seq.fill(300)(0), Seq.fill(300)(hi),
            Seq.fill(kernelMaxLag + 2)(lo))
      }
    } yield { id += 1; (id, rate, wav(samples, rate = rate, bits = bits)) }
  }

  private def kernelFrame(rates: Seq[Int]) = {
    import spark.implicits._
    kernelClips.filter(c => rates.contains(c._2)).map(c => (c._1, c._3)).toDF("id", "b")
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame) = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (got.collect().map(_.toSeq).sortBy(_.toString), want.collect().map(_.toSeq).sortBy(_.toString))
    assert(g.nonEmpty && g.toSeq == w.toSeq, s"${g.length} vs ${w.length} rows")
  }

  test("audioStats' kernel equals the lambda formulation on seeded 8/16-bit clips") {
    val df = kernelFrame(kernelRates)
    sameRows(Media.audioStats(df, "id", "b"), ReferenceAudio.audioStats(df, "id", "b"))
  }

  test("audioPitch's kernel equals the lambda formulation, ties to the smallest lag") {
    val df = kernelFrame(kernelRates)
    for ((lo, hi) <- Seq((16, kernelMaxLag), (1, 8)))
      sameRows(Media.audioPitch(df, "id", "b", lo, hi),
        ReferenceAudio.audioPitch(df, "id", "b", lo, hi))
    // the all-zero clips tie on every lag: the first one wins
    val zero = Media.audioPitch(df, "id", "b", 16, kernelMaxLag).filter("peak_corr = 0").collect()
    assert(zero.nonEmpty && zero.forall(_.getInt(1) == 16), zero.toSeq)
  }

  test("audioResample's kernel equals the lambda formulation up, down and at equal rates") {
    for (src <- kernelRates) {
      val df = kernelFrame(Seq(src))
      for (dst <- Seq(math.max(1, src / 5), src - src / 3, src, src + src / 2 + 1).distinct)
        sameRows(Media.audioResample(df, "id", "b", dst),
          ReferenceAudio.audioResample(df, "id", "b", dst))
    }
  }

  test("the audio kernels' interpreted eval equals their generated code") {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    import graft.functions.{AutocorrPeak, PcmStats, Resample}
    def same(e: Expression) = {
      val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
      val want = CatalystTypeConverters.convertToScala(e.eval(InternalRow.empty), e.dataType)
      assert(CatalystTypeConverters.convertToScala(generated.get(0, e.dataType), e.dataType) == want,
        s"$e: $want")
      want
    }
    val rng = new scala.util.Random(7L)
    val arrays = Seq(0, 1, 2, 3, 65, 66, 600).map(n => Seq.fill(n)(rng.nextInt(65536) - 32768)) ++
      Seq(Seq.fill(70)(0), Seq.fill(70)(-128))
    for (a <- arrays) {
      val s = Literal.create(a, ArrayType(IntegerType, containsNull = false))
      for (bits <- Seq(8, 16)) same(PcmStats(s, Literal(bits)))
      for ((lo, hi) <- Seq((16, 64), (1, 8), (0, 3), (5, 1000), (3, 2))) same(AutocorrPeak(s, Literal(lo), Literal(hi)))
      for (src <- Seq(1, 7, 8000, 44100); dst <- Seq(1, 3, 7, 6000, 8000, 48000) if dst <= 7 * src)
        same(Resample(s, Literal(src), Literal(dst)))
    }
    // a null element, a negative lag and a zero rate read null on both paths
    val withNull = Literal.create(Seq(1, null, 3), ArrayType(IntegerType, containsNull = true))
    assert(same(PcmStats(withNull, Literal(16))) == null)
    assert(same(AutocorrPeak(withNull, Literal(1), Literal(2))) == null)
    assert(same(Resample(withNull, Literal(8000), Literal(6000))) == null)
    val one = Literal.create(Seq(1, 2, 3), ArrayType(IntegerType, containsNull = false))
    assert(same(AutocorrPeak(one, Literal(-1), Literal(2))) == null)
    assert(same(Resample(one, Literal(0), Literal(6000))) == null)
  }

  test("the audio operators plan no lambda beyond bindOnce's one-element wrappers") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform,
      CreateArray, HigherOrderFunction}
    import spark.implicits._
    val df = spark.sparkContext.parallelize(Seq((1L, wav(Seq.fill(100)(5))))).toDF("id", "b")
    def hofs(d: org.apache.spark.sql.DataFrame) =
      graft.CodegenFallbacks(d).collect { case h: HigherOrderFunction => h }
    // the helper sees the lambdas the kernels replaced
    assert(hofs(ReferenceAudio.audioPitch(df, "id", "b", 16, 64)).exists(_.isInstanceOf[ArrayAggregate]))
    for ((name, d) <- Seq(
        "audioPitch" -> Media.audioPitch(df, "id", "b", 16, 64),
        "audioResample" -> Media.audioResample(df, "id", "b", 6000),
        "audioStats" -> Media.audioStats(df, "id", "b"))) {
      val found = hofs(d)
      assert(found.size == 2, s"$name: $found")
      assert(found.forall {
        case ArrayFilter(CreateArray(Seq(_), _), _) => true
        case ArrayTransform(ArrayFilter(CreateArray(Seq(_), _), _), _) => true
        case _ => false
      }, s"$name: $found")
    }
  }
}

/** The audio operators as lambda (higher-order function) column algebra,
  * kept verbatim as the reference for the compiled kernels that replaced
  * them in [[Media]]: [[graft.functions.PcmStats]],
  * [[graft.functions.AutocorrPeak]] and [[graft.functions.Resample]].
  */
private object ReferenceAudio {
  import org.apache.spark.sql.{Column, DataFrame}

  private def bindOnce(once: Column, keep: Column => Column)(
      body: Column => Column): Column =
    explode(transform(filter(array(once), keep), body))

  private def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftExprBridge.expression(a.cast("long")),
        org.apache.spark.sql.GraftExprBridge.expression(b.cast("long"))))

  def audioStats(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    import graft.functions.AudioFunctions._
    df.select(col(idCol).as("media_id"),
        bindOnce(wavDecode(col(bytesCol).cast("binary")), _.isNotNull)(
          identity).as("__wav"))
      .select(col("media_id"),
        col("__wav.sample_rate").as("sample_rate"),
        col("__wav.channels").as("channels"),
        col("__wav.bits").as("bits"),
        col("__wav.n_samples").cast("long").as("n_samples"),
        col("__wav.samples").as("__s"))
      .withColumn("__hi", when(col("bits") === 16, 32767).otherwise(127))
      .withColumn("__lo", when(col("bits") === 16, -32768).otherwise(-128))
      .select(col("media_id"), col("sample_rate"), col("channels"), col("bits"),
        col("n_samples"),
        expr("n_samples * 1000L div sample_rate").as("duration_ms"),
        coalesce(array_max(transform(col("__s"),
          x => when(x < 0, -x).otherwise(x))).cast("long"), lit(0L)).as("peak"),
        aggregate(col("__s"), lit(0L),
          (acc, x) => acc + x.cast("long") * x.cast("long")).as("energy"),
        size(filter(col("__s"),
          x => x >= col("__hi") || x <= col("__lo"))).cast("long").as("clip_count"),
        when(col("n_samples") < 2L, lit(0L)).otherwise(
          size(filter(sequence(lit(1), col("n_samples").cast("int") - 1),
            i => (element_at(col("__s"), i) < 0) =!=
              (element_at(col("__s"), i + 1) < 0))).cast("long"))
          .as("zero_crossings"))
  }

  def audioResample(
      df: DataFrame, idCol: String, bytesCol: String, dstRate: Int): DataFrame = {
    import graft.functions.AudioFunctions._
    require(dstRate >= 1, s"audioResample: dstRate >= 1, got $dstRate")
    df.select(col(idCol).as("media_id"),
        bindOnce(wavDecode(col(bytesCol).cast("binary")),
          w => w.isNotNull && w.getField("n_samples") >= 1)(
          identity).as("__wav"))
      .select(col("media_id"),
        col("__wav.sample_rate").as("src_rate"),
        col("__wav.n_samples").cast("long").as("n_in"),
        resampleExpr(col("__wav.samples"), col("__wav.sample_rate"), dstRate)
          .as("__r"))
      .select(col("media_id"), col("src_rate"), col("n_in"),
        size(col("__r")).cast("long").as("n_out"),
        aggregate(col("__r"), lit(0L), (a, x) => a + x.cast("long")).as("sum_out"),
        array_min(col("__r")).cast("long").as("min_out"),
        array_max(col("__r")).cast("long").as("max_out"))
  }

  def resampleExpr(samples: Column, srcRate: Column, dstRate: Int): Column = {
    val s = samples
    val nIn = size(s)
    // j ranges over 0 .. (n_in-1)*dst div src
    val lastJ = ldiv((nIn - 1).cast("long") * dstRate, srcRate.cast("long"))
    transform(sequence(lit(0L), lastJ.cast("long")), { j =>
      val posNum = j * srcRate.cast("long")
      val idx = ldiv(posNum, lit(dstRate)).cast("int")
      val rem = posNum % dstRate
      val a = element_at(s, idx + 1)
      val b = element_at(s, least(idx + 2, nIn))
      (a + ldiv((b - a).cast("long") * rem, lit(dstRate)).cast("int")).cast("int")
    })
  }

  def audioPitch(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      minLag: Int,
      maxLag: Int): DataFrame = {
    require(minLag >= 1 && maxLag > minLag && maxLag <= 2048,
      s"audioPitch: need 1 <= minLag < maxLag <= 2048, got ($minLag, $maxLag)")
    import graft.functions.AudioFunctions._
    val lagCorr = transform(sequence(lit(minLag), lit(maxLag)), l =>
      struct(
        aggregate(sequence(lit(1), col("__a.__n") - l), lit(0L),
          (acc, i) => acc +
            element_at(col("__a.__s"), i).cast("long") *
            element_at(col("__a.__s"), i + l).cast("long")).as("r"),
        l.as("lag")))
    df.select(col(idCol).as("media_id"),
        bindOnce(wavDecode(col(bytesCol).cast("binary")),
          w => w.isNotNull && w.getField("n_samples") >= maxLag + 2)(w =>
          struct(
            w.getField("sample_rate").as("sample_rate"),
            w.getField("n_samples").as("__n"),
            w.getField("samples").as("__s"))).as("__a"))
      .withColumn("__best",
        aggregate(lagCorr, struct(lit(Long.MinValue).as("r"), lit(0).as("lag")),
          (best, x) => when(x.getField("r") > best.getField("r"), x).otherwise(best)))
      .select(col("media_id"),
        col("__best.lag").as("period"),
        expr("CAST(__a.sample_rate AS BIGINT) div __best.lag").as("f0_hz"),
        col("__best.r").as("peak_corr"))
  }
}
