package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.etl.LenientParse

/** The lenient timestamp/date parsers (graft.etl.LenientParse — the JVM
  * re-expression of the reference's two Python UDFs) as native Catalyst
  * expressions. The Python originals split every plan at a
  * BatchEvalPython node; the Scala UDF v1 kept the JVM but still broke
  * whole-stage codegen at each call site. These generate a single static
  * call, so the 101-column conform projection stays one codegen stage
  * (SURVEY.md §7.3 "v2").
  *
  * Marked non-deterministic-SAFE: output depends only on the input (the
  * future-clamp clock is injectable and fixed per run), so Catalyst may
  * freely push/duplicate them like any deterministic expression.
  */
case class LenientTimestamp(child: Expression, nowEpochMicros: Long) extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"lenient_timestamp requires string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    ParseExprs.tsMicros(input.asInstanceOf[UTF8String], nowEpochMicros)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      val now = RunTimestamp.longRef(ctx, "lenientNow", nowEpochMicros)
      s"""
        Long $r = graft.functions.ParseExprs.tsMicros($c, $now);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LenientTimestamp =
    copy(child = newChild)
}

case class LenientDate(child: Expression, nowEpochMicros: Long) extends UnaryExpression {
  override def dataType: DataType = DateType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"lenient_date requires string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    ParseExprs.dateDays(input.asInstanceOf[UTF8String], nowEpochMicros)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      val now = RunTimestamp.longRef(ctx, "lenientNow", nowEpochMicros)
      s"""
        Integer $r = graft.functions.ParseExprs.dateDays($c, $now);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.intValue(); }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LenientDate =
    copy(child = newChild)
}

object ParseExprs {
  /** The future-clamp clock, captured ONCE at plan construction (driver)
    * and carried in the expression — every row, task retry, and duplicated
    * evaluation of one query clamps against the same instant. Generated
    * code reads it through a reference, not a `…L` literal: Spark caches
    * compiled classes by source text, and a literal that changes every run
    * would recompile the whole conform stage on every run (see
    * [[RunTimestamp]]).
    */
  def nowMicros(): Long = DateTimeUtils.instantToMicros(LenientParse.effectiveNow)

  /** internal micros-since-epoch, or null when unparseable. */
  def tsMicros(s: UTF8String, nowEpochMicros: Long): java.lang.Long = {
    val t = LenientParse.timestamp(s.toString, DateTimeUtils.microsToInstant(nowEpochMicros))
    if (t == null) null else java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t))
  }

  /** internal days-since-epoch, or null when unparseable/future. */
  def dateDays(s: UTF8String, nowEpochMicros: Long): java.lang.Integer = {
    val d = LenientParse.date(s.toString, DateTimeUtils.microsToInstant(nowEpochMicros))
    if (d == null) null else java.lang.Integer.valueOf(DateTimeUtils.fromJavaDate(d))
  }
}

object ParseFunctions {
  def lenientTimestamp(c: Column): Column =
    GraftExprBridge.column(
      LenientTimestamp(GraftExprBridge.expression(c), ParseExprs.nowMicros()))

  def lenientDate(c: Column): Column =
    GraftExprBridge.column(
      LenientDate(GraftExprBridge.expression(c), ParseExprs.nowMicros()))
}
