package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow,
  TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Pure-JVM decoder for RIFF/WAVE PCM audio — the audio sibling of
  * [[PnmDecode]] (raw uncompressed samples, deterministic integer
  * parse end to end, no codec library), extending the multimodal
  * family from images to audio. Covers the format every capture
  * pipeline can emit losslessly: canonical RIFF container, PCM
  * (`audioFormat = 1`), 8-bit unsigned or 16-bit signed
  * little-endian samples, any channel count up to 8.
  *
  * Container walk (RIFF spec / WAVE PCM profile):
  *   - "RIFF" magic, 4-byte LE riff size (not trusted — the payload
  *     length is), "WAVE" form type;
  *   - chunk sequence from offset 12: 4-byte id + 4-byte LE size;
  *     unknown chunks are skipped; chunks are WORD-aligned, so an
  *     odd-sized chunk is followed by one pad byte;
  *   - "fmt " must precede "data" and declare PCM with bits ∈ {8, 16},
  *     channels ∈ [1, 8], sampleRate ≥ 1;
  *   - "data" holds ⌊size / blockAlign⌋ frames; CHANNEL 0 of each
  *     frame is decoded (the mono projection every fingerprint /
  *     QA screen runs on; a stereo-aware caller re-decodes per
  *     channel by remixing upstream). 8-bit samples are unsigned and
  *     re-centered (b − 128); 16-bit are signed LE — both land in
  *     the same int range convention (negative = below center).
  *
  * Any malformation — bad magic, missing/short chunk, non-PCM format,
  * unsupported bits, truncated raster — decodes to NULL (decode
  * failure is data, not an error: a 100 TB media scan must not abort
  * on one corrupt blob). More than 2²² samples also decodes to NULL —
  * the in-plan bomb guard (≈8.7 min at 8 kHz; long-form assets are
  * chunk-split upstream, same contract as PnmDecode's 16 MP cap).
  *
  * Output: struct(sample_rate, channels, bits, n_samples,
  * samples array<int>).
  */
case class WavDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("samples", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"wav_decode requires binary, got $other")
  }

  /** Full parse; null on any malformation. Public so codegen can call it. */
  def decode(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length
    if (n < 12) return null

    def u8(p: Int): Int = bytes(p) & 0xff
    def u16(p: Int): Int = u8(p) | (u8(p + 1) << 8)
    def u32(p: Int): Long = u16(p).toLong | (u16(p + 2).toLong << 16)
    def tag(p: Int, s: String): Boolean =
      bytes(p) == s.charAt(0) && bytes(p + 1) == s.charAt(1) &&
        bytes(p + 2) == s.charAt(2) && bytes(p + 3) == s.charAt(3)

    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return null
    var pos = 12
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var blockAlign = -1
    while (pos + 8 <= n) {
      val size = u32(pos + 4)
      val body = pos + 8
      if (size < 0L || body + size > n) return null
      if (tag(pos, "fmt ")) {
        if (size < 16L) return null
        val audioFormat = u16(body)
        channels = u16(body + 2)
        sampleRate = u32(body + 4).toInt
        blockAlign = u16(body + 12)
        bits = u16(body + 14)
        if (audioFormat != 1 || channels < 1 || channels > 8 ||
          sampleRate < 1 || (bits != 8 && bits != 16) ||
          blockAlign != channels * (bits / 8)) return null
      } else if (tag(pos, "data")) {
        if (sampleRate < 0) return null // fmt must precede data
        val frames = size / blockAlign
        if (frames > (1L << 22)) return null
        val out = new Array[Int](frames.toInt)
        var i = 0
        var p = body
        while (i < out.length) {
          // channel 0 of each frame
          out(i) = if (bits == 8) u8(p) - 128 else u16(p).toShort.toInt
          p += blockAlign
          i += 1
        }
        return new GenericInternalRow(Array[Any](
          sampleRate, channels, bits, out.length,
          // zero-boxing wrap for the PCM sample array (same GC story
          // as the video frame grays)
          UnsafeArrayData.fromPrimitiveArray(out)))
      }
      pos = body + size.toInt + (size.toInt & 1) // WORD-aligned chunks
    }
    null // no data chunk
  }

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wavDecode", this, classOf[WavDecode].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.decode($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): WavDecode =
    copy(child = newChild)
}

/** (samples array<int>, nWindows) → nWindows-cell amplitude envelope:
  * cell C is the floor mean of |sample_i| over samples with
  * ⌊i·nW/n⌋ = C — the 1-D box filter of the rectified signal, the
  * audio analogue of [[LumaGrid2D]]. The envelope is what survives
  * re-encoding (level structure), which makes it the dHash input for
  * audio near-dup. Cells with no source sample (n < nW) read 0.
  */
case class AmplitudeEnvelope(first: Expression, second: Expression)
    extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"amplitude_envelope requires (array<int>, int), got $other")
    }

  /** Public so codegen can call it; null on a non-positive window count. */
  def envelope(ad: ArrayData, nw: Int): GenericArrayData = {
    if (nw <= 0 || nw > 4096) return null
    val n = ad.numElements()
    val sums = new Array[Long](nw)
    val counts = new Array[Long](nw)
    var i = 0
    while (i < n) {
      val c = ((i.toLong * nw) / n).toInt
      val v = ad.getInt(i)
      sums(c) += (if (v < 0) -v.toLong else v.toLong)
      counts(c) += 1L
      i += 1
    }
    val out = new Array[Int](nw)
    var c = 0
    while (c < nw) {
      if (counts(c) > 0L) out(c) = (sums(c) / counts(c)).toInt
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(s: Any, w: Any): Any =
    envelope(s.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ampEnvelope", this, classOf[AmplitudeEnvelope].getName)
    nullSafeCodeGen(ctx, ev, (s, w) => s"""
      ${ev.value} = $ref.envelope($s, $w);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AmplitudeEnvelope =
    copy(first = newLeft, second = newRight)
}

/** (samples array<int>, bits) → struct(peak, energy, clip_count,
  * zero_crossings), all bigint, in one pass over the samples: peak is
  * max |sᵢ| (0 on an empty clip), energy Σ sᵢ², clip_count the samples
  * at or beyond the rails (32767 / −32768 at 16 bits, 127 / −128 at any
  * other width), zero_crossings the adjacent pairs whose signs differ
  * (negative vs not; 0 when n < 2). Null when the array holds a null.
  */
case class PcmStats(first: Expression, second: Expression) extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = StructType(
    Seq("peak", "energy", "clip_count", "zero_crossings")
      .map(StructField(_, LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pcm_stats requires (array<int>, int), got $other")
    }

  /** Public so codegen can call it. */
  def stats(ad: ArrayData, bits: Int): InternalRow = {
    if (AudioKernels.hasNull(ad)) return null
    val s = ad.toIntArray()
    val (hi, lo) = if (bits == 16) (32767, -32768) else (127, -128)
    var peak = 0L
    var energy = 0L
    var clips = 0L
    var crossings = 0L
    var i = 0
    while (i < s.length) {
      val v = s(i).toLong
      peak = math.max(peak, math.abs(v))
      energy += v * v
      if (v >= hi || v <= lo) clips += 1L
      if (i > 0 && (s(i - 1) < 0) != (v < 0)) crossings += 1L
      i += 1
    }
    new GenericInternalRow(Array[Any](peak, energy, clips, crossings))
  }

  override protected def nullSafeEval(s: Any, b: Any): Any =
    stats(s.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pcmStats", this, classOf[PcmStats].getName)
    nullSafeCodeGen(ctx, ev, (s, b) => s"""
      ${ev.value} = $ref.stats($s, $b);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcmStats =
    copy(first = newLeft, second = newRight)
}

/** (samples array<int>, minLag, maxLag) → struct(r bigint, lag int): the
  * autocorrelation peak over lags L = minLag, minLag + 1, …, maxLag,
  * where r_L = Σᵢ sᵢ·sᵢ₊L is summed exactly in a long over the n − L
  * overlapping pairs (0 when L ≥ n). A lag replaces the best so far only
  * when its r is strictly greater, starting from (Long.MinValue, 0), so
  * the smallest of tied lags wins. One O(n·L) loop of multiply-adds.
  * Null when minLag < 0 or the array holds a null.
  */
case class AutocorrPeak(samples: Expression, minLag: Expression, maxLag: Expression)
    extends TernaryExpression {

  override def first: Expression = samples
  override def second: Expression = minLag
  override def third: Expression = maxLag
  override def dataType: DataType = StructType(Seq(
    StructField("r", LongType, nullable = false),
    StructField("lag", IntegerType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (samples.dataType, minLag.dataType, maxLag.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"autocorr_peak requires (array<int>, int, int), got $other")
    }

  /** Public so codegen can call it. */
  def peak(ad: ArrayData, lo: Int, hi: Int): InternalRow = {
    if (lo < 0 || AudioKernels.hasNull(ad)) return null
    val s = ad.toIntArray()
    val n = s.length
    var bestR = Long.MinValue
    var bestLag = 0
    // every lag past max(lo, n) has no pairs: r = 0 cannot beat that lag's 0
    val last = math.min(hi.toLong, math.max(lo, n).toLong)
    var lag = lo.toLong
    while (lag <= last) {
      val l = lag.toInt
      var r = 0L
      var i = 0
      while (i < n - l) {
        r += s(i).toLong * s(i + l)
        i += 1
      }
      if (r > bestR) { bestR = r; bestLag = l }
      lag += 1
    }
    new GenericInternalRow(Array[Any](bestR, bestLag))
  }

  override protected def nullSafeEval(s: Any, lo: Any, hi: Any): Any =
    peak(s.asInstanceOf[ArrayData], lo.asInstanceOf[Int], hi.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("autocorrPeak", this, classOf[AutocorrPeak].getName)
    nullSafeCodeGen(ctx, ev, (s, lo, hi) => s"""
      ${ev.value} = $ref.peak($s, $lo, $hi);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AutocorrPeak =
    copy(samples = newFirst, minLag = newSecond, maxLag = newThird)
}

/** (samples array<int>, srcRate, dstRate) → array<int>: linear
  * resampling on the exact rational grid. Output sample j sits at source
  * position j·src/dst: idx = j·src div dst, rem = j·src mod dst,
  * out[j] = a + (b − a)·rem div dst with a = s[idx] and b = s[idx + 1]
  * clamped to the last sample, the division truncating toward zero.
  * n_out = (n_in − 1)·dst div src + 1, so the last output lands on the
  * last input; an empty clip resamples to an empty array. Null when a
  * rate is below 1, the array holds a null, or the output would not fit
  * in an array.
  */
case class Resample(samples: Expression, srcRate: Expression, dstRate: Expression)
    extends TernaryExpression {

  override def first: Expression = samples
  override def second: Expression = srcRate
  override def third: Expression = dstRate
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (samples.dataType, srcRate.dataType, dstRate.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"resample requires (array<int>, int, int), got $other")
    }

  /** Public so codegen can call it. */
  def resample(ad: ArrayData, src: Int, dst: Int): ArrayData = {
    if (src < 1 || dst < 1 || AudioKernels.hasNull(ad)) return null
    val s = ad.toIntArray()
    val n = s.length
    val nOut = if (n == 0) 0L else (n - 1).toLong * dst / src + 1
    if (nOut > org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH) return null
    val out = new Array[Int](nOut.toInt)
    var j = 0
    while (j < out.length) {
      val pos = j.toLong * src
      val idx = (pos / dst).toInt
      val a = s(idx)
      val b = s(math.min(idx + 1, n - 1))
      out(j) = a + ((b.toLong - a) * (pos % dst) / dst).toInt
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(s: Any, src: Any, dst: Any): Any =
    resample(s.asInstanceOf[ArrayData], src.asInstanceOf[Int], dst.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("resample", this, classOf[Resample].getName)
    nullSafeCodeGen(ctx, ev, (s, src, dst) => s"""
      ${ev.value} = $ref.resample($s, $src, $dst);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Resample =
    copy(samples = newFirst, srcRate = newSecond, dstRate = newThird)
}

private object AudioKernels {
  def hasNull(ad: ArrayData): Boolean = {
    var i = 0
    while (i < ad.numElements()) {
      if (ad.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** Column-API wrappers for the audio expressions. */
object AudioFunctions {
  def wavDecode(bytes: Column): Column =
    GraftExprBridge.column(WavDecode(GraftExprBridge.expression(bytes)))
  def amplitudeEnvelope(samples: Column, nWindows: Column): Column =
    GraftExprBridge.column(AmplitudeEnvelope(
      GraftExprBridge.expression(samples),
      GraftExprBridge.expression(nWindows)))
  def pcmStats(samples: Column, bits: Column): Column =
    GraftExprBridge.column(PcmStats(
      GraftExprBridge.expression(samples), GraftExprBridge.expression(bits)))
  def autocorrPeak(samples: Column, minLag: Column, maxLag: Column): Column =
    GraftExprBridge.column(AutocorrPeak(GraftExprBridge.expression(samples),
      GraftExprBridge.expression(minLag), GraftExprBridge.expression(maxLag)))
  def resample(samples: Column, srcRate: Column, dstRate: Column): Column =
    GraftExprBridge.column(Resample(GraftExprBridge.expression(samples),
      GraftExprBridge.expression(srcRate), GraftExprBridge.expression(dstRate)))
}
