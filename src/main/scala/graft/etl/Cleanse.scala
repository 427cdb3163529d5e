package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The cleanse/conform expression library: every rule the reference applies
  * to a column, as a pure `Column => Column` function. Single-expression
  * (not `withColumn`-loop) style so a whole table conforms in ONE `select`
  * and Catalyst keeps the plan flat — the reference stacks 101 Project
  * nodes per table instead (ingest.py:672-679).
  *
  * Rule sources (behavioral spec only):
  *   - garbage-timestamp null-out          ingest.py:507-536
  *   - per-type transform dispatch          ingest.py:538-622
  *   - boolean parse / canonicalization     ingest.py:594-618
  *   - final timestamp sweep                ingest.py:763-778
  *   - future-date clamp                    ingest.py:744-752
  *
  * All functions are total: bad input yields null, never an exception —
  * matching the reference UDFs' catch-all behavior (ingest.py:416-422).
  *
  * `clock` is injectable everywhere the reference uses
  * `current_timestamp()` so tests and oracle runs are deterministic
  * (SURVEY.md §7.4.3).
  *
  * No rule carries an arm that is an identity on its input. Each conform
  * stage is its own `Project`, and Ingest's watermark filter sits on the
  * conformed `MODIFY_DATE`: the optimizer pushes that predicate through
  * every stage by substituting the stage's expression for each column
  * reference. A stage that reads its input k times multiplies the
  * filter by k, so an arm that changes nothing still costs a copy of the
  * whole chain below it. With the reference's identity arms,
  * `lead_assignment`'s filter grows past 1,600 expression nodes, and
  * generating its Java source takes most of the Ingest driver's time.
  */
object Cleanse {

  /** Per-query clock = plan-time current_timestamp(), like the reference.
    * The optimizer inlines a new literal into each query: one clock per
    * streaming batch, paid for by compiling each query's code afresh. A
    * clock shared by several queries of one run is a
    * [[graft.functions.RunTimestamp]] instead, which generated code reads
    * through a reference (see `Pipeline.processTable`).
    */
  def now(): Column = current_timestamp()

  /** True when the value's string form is obvious garbage for a temporal
    * column: length <= 3 (which covers the reference's 1-3 letters arm),
    * or no ASCII digit (ingest.py:521-527 — the isNull arm is handled by
    * callers).
    */
  def garbageTemporal(c: Column): Column = {
    val s = c.cast("string")
    length(s) <= 3 || !s.rlike("\\d")
  }

  /** ETL_* columns are never null: default to the clock (ingest.py:530-535). */
  def defaultEtlTimestamp(c: Column, clock: Column): Column = coalesce(c, clock)

  /** Timestamp conform: garbage → null, then native-first parse with a
    * lenient fallback (ingest.py:552-570). Native `to_timestamp` wins on
    * anything it can parse; the lenient parser (a native expression,
    * graft.functions.LenientTimestamp — not a UDF, so the whole conform
    * projection stays one codegen stage) only sees its rejects. The
    * reference's outer `null → null` arm is left out: `try_to_timestamp`
    * and the null-intolerant lenient parser both map null to null.
    */
  def toTimestampLenient(c: Column): Column = {
    val cleaned = when(garbageTemporal(c), lit(null)).otherwise(c)
    // try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4
    // default) the non-try variant THROWS on malformed input, while the
    // reference's Spark 3 semantics return null (ingest.py:566).
    coalesce(
      try_to_timestamp(cleaned),
      graft.functions.ParseFunctions.lenientTimestamp(cleaned.cast("string")))
  }

  /** Date conform: native-first, lenient fallback (ingest.py:573-582). */
  def toDateLenient(c: Column): Column =
    when(c.isNull, lit(null))
      .otherwise(coalesce(
        try_to_date(c),
        graft.functions.ParseFunctions.lenientDate(c.cast("string"))))

  /** Boolean parse: ("true","1","yes")→true, ("false","0","no")→false,
    * single-char t/f, else null (ingest.py:594-608).
    */
  def parseBoolean(c: Column): Column = {
    val l = lower(c)
    when(l.isin("true", "1", "yes"), lit(true))
      .when(l.isin("false", "0", "no"), lit(false))
      .when(c.isNull, lit(null))
      .otherwise(
        when(length(c) === 1,
          when(l === "t", lit(true)).when(l === "f", lit(false)).otherwise(lit(null)))
          .otherwise(lit(null)))
  }

  /** Boolean-like string canonicalization to "TRUE"/"FALSE", unknown
    * values pass through unchanged (ingest.py:611-618).
    */
  def canonicalizeBooleanString(c: Column): Column = {
    val l = lower(c)
    when(l.isin("true", "1", "yes", "t"), lit("TRUE"))
      .when(l.isin("false", "0", "no", "f"), lit("FALSE"))
      .when(c.isNull, lit(null))
      .otherwise(c)
  }

  /** JSON passthrough: kept as an opaque string, never flattened
    * (ingest.py:543-549; docs/qa_observations.md:7).
    */
  def jsonPassthrough(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(c.cast(StringType))

  /** Clamp future timestamps to the clock (ingest.py:744-752). */
  def clampFuture(c: Column, clock: Column): Column =
    when(c > clock, clock).otherwise(c)

  /** Final sanity sweep: any timestamp whose string form has characters
    * outside [0-9-:. ] (or is null) becomes null — or the clock for
    * ETL_* columns (ingest.py:763-778). Only the ETL_* sweep tests for
    * null: elsewhere a null makes the condition null, and the CASE falls
    * through to the null input.
    */
  def finalTimestampSweep(c: Column, isEtl: Boolean, clock: Column): Column = {
    val outOfAlphabet = regexp_replace(c.cast("string"), "[0-9\\-:. ]", "").rlike(".+")
    if (isEtl) when(c.isNull || outOfAlphabet, clock).otherwise(c)
    else when(outOfAlphabet, lit(null)).otherwise(c)
  }

  /** The per-type conform dispatch (ingest.py:538-622): returns the
    * cleansing expression for one target field.
    */
  def conformExpr(
      c: Column,
      field: StructField,
      jsonCols: Set[String],
      boolStringCols: Set[String]): Column = {
    val e =
      if (jsonCols.contains(field.name)) jsonPassthrough(c)
      else field.dataType match {
        case _: TimestampType => toTimestampLenient(c)
        case _: DateType => toDateLenient(c)
        // try_cast: ANSI-mode plain cast throws on malformed numerics;
        // the reference's Spark 3 cast yields null (ingest.py:587,591).
        case d: DecimalType => c.try_cast(d)
        case _: DoubleType => c.try_cast(DoubleType)
        case _: BooleanType => parseBoolean(c)
        case _: StringType if boolStringCols.contains(field.name) =>
          canonicalizeBooleanString(c)
        case _ => c.cast(StringType)
      }
    e.as(field.name)
  }
}
