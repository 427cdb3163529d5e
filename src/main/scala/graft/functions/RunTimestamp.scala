package graft.functions

import java.time.Instant
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp fixed for one run — the ETL clock, a watermark bound.
  *
  * Generated code reads the value from the stage's `references` array
  * instead of splicing it in as a `…L` literal. Spark caches compiled
  * classes by source text, so a literal that changes every run makes
  * every stage it touches compile again; a reference keeps the source
  * byte-identical from run to run. `foldable = false` keeps
  * ConstantFolding (and so the `Literal` codegen) away from it.
  */
case class RunTimestamp(epochMicros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = epochMicros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val v = RunTimestamp.longRef(ctx, "runTimestamp", epochMicros)
    ev.copy(code = code"final long ${ev.value} = $v;", isNull = FalseLiteral)
  }

  override def toString: String = s"run_timestamp(${DateTimeUtils.microsToInstant(epochMicros)})"
}

object RunTimestamp {
  def column(at: Instant): Column =
    GraftExprBridge.column(RunTimestamp(DateTimeUtils.instantToMicros(at)))

  /** Java expression that reads `v` from the stage's references array. */
  private[functions] def longRef(ctx: CodegenContext, name: String, v: Long): String =
    s"${ctx.addReferenceObj(name, java.lang.Long.valueOf(v))}.longValue()"
}
