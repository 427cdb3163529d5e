package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ext.TextHash

/** Native Catalyst expressions for the embedding hot paths.
  *
  * Rationale: higher-order functions (`transform`/`aggregate`) are
  * CodegenFallback — every lambda step is an interpreted expression-tree
  * eval, which makes O(tables·planes·d) per-row math ~100× slower than a
  * compiled loop. Flattening to literal expression trees explodes plan
  * size (thousands of nodes) and breaks whole-stage codegen instead.
  * A custom Expression with `doGenCode` is the idiomatic Spark answer:
  * tiny plan node, straight-line generated Java, hyperplane matrix
  * shipped once per task as a reference object.
  *
  * Numeric parity contract (mirrored by the DuckDB oracle): every sum is
  * a 0.0-seeded LEFT fold in element order; float inputs widen exactly
  * to double; sqrt is IEEE-correctly-rounded in both engines.
  */
object VectorExprs {
  /** Hyperplane components are defined for dims 1..MaxDim; longer
    * vectors yield the all-zero bucket key (the same degenerate result
    * as the HOF formulation, whose element_at past MaxDim is null).
    */
  val MaxDim = 256
}

/** array<float|double> → array<string> of `tables` sign-LSH bucket keys
  * "t#<bits>", where bit p of <bits> is [vec · hyperplane(t,p)] > 0.
  * Hyperplane components are md5-derived ([[TextHash.hash64Local]]) so
  * any engine can reproduce them: h(t,p,i) = (md5_60("0:t:p:i") mod
  * 1000)/1000 - 0.5.
  */
case class SignLshBuckets(child: Expression, tables: Int, planes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val hyper: Array[Array[Double]] =
    Array.tabulate(tables * planes) { tp =>
      val (t, p) = (tp / planes, tp % planes)
      Array.tabulate(VectorExprs.MaxDim)(i =>
        (TextHash.hash64Local(s"$t:$p:${i + 1}") % 1000L).toDouble / 1000.0 - 0.5)
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_buckets requires array<float|double>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val ad = input.asInstanceOf[ArrayData]
    val n0 = ad.numElements()
    val n = math.min(n0, VectorExprs.MaxDim)
    var hasNull = n0 > VectorExprs.MaxDim
    val v = new Array[Double](n)
    var i = 0
    while (i < n && !hasNull) {
      if (ad.isNullAt(i)) hasNull = true
      else v(i) = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
      i += 1
    }
    val keys = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      if (!hasNull) {
        var p = 0
        while (p < planes) {
          val comps = hyper(t * planes + p)
          var proj = 0.0
          var j = 0
          while (j < n) { proj += v(j) * comps(j); j += 1 }
          if (proj > 0.0) key |= (1L << p)
          p += 1
        }
      }
      keys(t) = UTF8String.fromString(s"$t#$key")
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val hyperRef = ctx.addReferenceObj("hyper", hyper, "double[][]")
      val maxDim = VectorExprs.MaxDim
      // every local through freshName: this snippet inlines into the
      // enclosing generated method, where bare names collide
      val n0 = ctx.freshName("n0")
      val n = ctx.freshName("n")
      val hasNull = ctx.freshName("hasNull")
      val v = ctx.freshName("v")
      val j = ctx.freshName("j")
      val keys = ctx.freshName("keys")
      val t = ctx.freshName("t")
      val key = ctx.freshName("key")
      val p = ctx.freshName("p")
      val comps = ctx.freshName("comps")
      val proj = ctx.freshName("proj")
      val getter = if (isFloat) s"(double) $c.getFloat($j)" else s"$c.getDouble($j)"
      s"""
        int $n0 = $c.numElements();
        int $n = $n0 > $maxDim ? $maxDim : $n0;
        boolean $hasNull = $n0 > $maxDim;
        double[] $v = new double[$n];
        for (int $j = 0; $j < $n && !$hasNull; $j++) {
          if ($c.isNullAt($j)) { $hasNull = true; } else { $v[$j] = $getter; }
        }
        Object[] $keys = new Object[$tables];
        for (int $t = 0; $t < $tables; $t++) {
          long $key = 0L;
          if (!$hasNull) {
            for (int $p = 0; $p < $planes; $p++) {
              double[] $comps = $hyperRef[$t * $planes + $p];
              double $proj = 0.0;
              for (int $j = 0; $j < $n; $j++) { $proj += $v[$j] * $comps[$j]; }
              if ($proj > 0.0) { $key |= (1L << $p); }
            }
          }
          $keys[$t] = org.apache.spark.unsafe.types.UTF8String.fromString($t + "#" + $key);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)
}

/** Cosine similarity of two equal-length float/double arrays: one
  * compiled pass accumulating dot, |a|², |b|² (each a 0.0-seeded left
  * fold — bit-identical to three list_reduce folds). Null when lengths
  * differ, any element is null, or either norm is zero (double division
  * by zero is NULL in the DuckDB oracle and an error under Spark ANSI —
  * null is the portable contract).
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def floatSide(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val leftFloat = floatSide(left)
  @transient private lazy val rightFloat = floatSide(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires two array<float|double>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (ad, bd) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = ad.numElements()
    if (n != bd.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < n) {
      if (ad.isNullAt(j) || bd.isNullAt(j)) return null
      val x = if (leftFloat) ad.getFloat(j).toDouble else ad.getDouble(j)
      val y = if (rightFloat) bd.getFloat(j).toDouble else bd.getDouble(j)
      dot += x * y; na += x * x; nb += y * y
      j += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val getX = if (leftFloat) s"(double) $a.getFloat($j)" else s"$a.getDouble($j)"
      val getY = if (rightFloat) s"(double) $b.getFloat($j)" else s"$b.getDouble($j)"
      s"""
        int $n = $a.numElements();
        boolean $bad = $n != $b.numElements();
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        if (!$bad) {
          for (int $j = 0; $j < $n; $j++) {
            if ($a.isNullAt($j) || $b.isNullAt($j)) { $bad = true; break; }
            double $x = $getX; double $y = $getY;
            $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
        }
        double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        if ($bad || $denom == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / $denom;
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Sum of an array<float|double> as a 0.0-seeded left fold in element
  * order — the compiled replacement for the CodegenFallback HOF
  * `aggregate(transform(v, cast), 0.0, _+_)`; an array<int> sums exactly
  * into a bigint (`aggregate(v, 0L, (a, x) => a + x)`). Null when the
  * array or any element is null (matching the HOF's null propagation).
  */
case class ArraySum(child: Expression) extends UnaryExpression {

  @transient private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = child.dataType match {
    case ArrayType(IntegerType, _) => LongType
    case _ => DoubleType
  }
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_sum requires array<float|double|int>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val ad = input.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var sum = 0.0
    var longSum = 0L
    var j = 0
    while (j < n) {
      if (ad.isNullAt(j)) return null
      elementType match {
        case IntegerType => longSum += ad.getInt(j)
        case FloatType => sum += ad.getFloat(j).toDouble
        case _ => sum += ad.getDouble(j)
      }
      j += 1
    }
    if (elementType == IntegerType) longSum else sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val j = ctx.freshName("j")
      val (acc, getter) = elementType match {
        case IntegerType => ("long", s"$c.getInt($j)")
        case FloatType => ("double", s"(double) $c.getFloat($j)")
        case _ => ("double", s"$c.getDouble($j)")
      }
      s"""
        int $n = $c.numElements();
        $acc $sum = 0;
        for (int $j = 0; $j < $n; $j++) {
          if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
          $sum += $getter;
        }
        if (!${ev.isNull}) { ${ev.value} = $sum; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ArraySum =
    copy(child = newChild)
}

/** Symmetric int8 scalar quantization stats for an embedding column:
  * struct(scale, code_sum, mae) where scale = max|v|/127, code_i =
  * clamp(floor(v_i/scale + 0.5), ±127) and mae is the mean absolute
  * reconstruction error |v_i − code_i·scale|. The stats (not the code
  * array) are the query-facing shape: they are what a compression
  * sweep aggregates, and scalar columns hash cleanly in the oracle
  * harness where array cells don't.
  *
  * Rounding is written out as floor(x + 0.5) rather than an engine
  * round(): Spark's round is HALF_UP, DuckDB's is half-away-from-zero
  * — they disagree on negative halves, floor(x+0.5) is one IEEE
  * formula everywhere. The mae sum is a 0.0-seeded left fold in
  * element order (the module's parity contract). An all-zero vector
  * quantizes to scale 0 / mae 0 rather than dividing by zero.
  */
case class Int8QuantStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("code_sum", LongType, nullable = false),
    StructField("mae", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_quant_stats requires array<float|double>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val ad = input.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var maxAbs = 0.0
    var j = 0
    while (j < n) {
      if (ad.isNullAt(j)) return null
      val v = if (isFloat) ad.getFloat(j).toDouble else ad.getDouble(j)
      val a = java.lang.Math.abs(v)
      if (a > maxAbs) maxAbs = a
      j += 1
    }
    if (maxAbs == 0.0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.0, 0L, 0.0))
    val scale = maxAbs / 127.0
    var codeSum = 0L
    var errSum = 0.0
    j = 0
    while (j < n) {
      val v = if (isFloat) ad.getFloat(j).toDouble else ad.getDouble(j)
      var code = java.lang.Math.floor(v / scale + 0.5)
      if (code > 127.0) code = 127.0
      if (code < -127.0) code = -127.0
      val c = code.toLong
      codeSum += c
      errSum += java.lang.Math.abs(v - c * scale)
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, codeSum, errSum / n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val a = ctx.freshName("a")
      val maxAbs = ctx.freshName("maxAbs")
      val scale = ctx.freshName("scale")
      val code = ctx.freshName("code")
      val codeL = ctx.freshName("codeL")
      val codeSum = ctx.freshName("codeSum")
      val errSum = ctx.freshName("errSum")
      val out = ctx.freshName("out")
      val getter = (idx: String) =>
        if (isFloat) s"(double) $c.getFloat($idx)" else s"$c.getDouble($idx)"
      s"""
        int $n = $c.numElements();
        double $maxAbs = 0.0;
        for (int $j = 0; $j < $n; $j++) {
          if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
          double $a = java.lang.Math.abs(${getter(j)});
          if ($a > $maxAbs) $maxAbs = $a;
        }
        if (!${ev.isNull}) {
          Object[] $out = new Object[3];
          if ($maxAbs == 0.0) {
            $out[0] = 0.0; $out[1] = 0L; $out[2] = 0.0;
          } else {
            double $scale = $maxAbs / 127.0;
            long $codeSum = 0L;
            double $errSum = 0.0;
            for (int $j = 0; $j < $n; $j++) {
              double $v = ${getter(j)};
              double $code = java.lang.Math.floor($v / $scale + 0.5);
              if ($code > 127.0) $code = 127.0;
              if ($code < -127.0) $code = -127.0;
              long $codeL = (long) $code;
              $codeSum += $codeL;
              $errSum += java.lang.Math.abs($v - $codeL * $scale);
            }
            $out[0] = $scale; $out[1] = $codeSum; $out[2] = $errSum / $n;
          }
          ${ev.value} =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($out);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

/** Column-API wrappers. */
object VectorFunctions {
  def signLshBuckets(vec: Column, tables: Int, planes: Int): Column =
    GraftExprBridge.column(SignLshBuckets(GraftExprBridge.expression(vec), tables, planes))

  def cosineSim(a: Column, b: Column): Column =
    GraftExprBridge.column(CosineSim(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))

  def arraySum(vec: Column): Column =
    GraftExprBridge.column(ArraySum(GraftExprBridge.expression(vec)))

  def int8QuantStats(vec: Column): Column =
    GraftExprBridge.column(Int8QuantStats(GraftExprBridge.expression(vec)))
}
