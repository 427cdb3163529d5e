package graft.etl

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Ports the reference's unit/integration assertions 1:1 and adds
  * property coverage for the cleanse expression library.
  * Reference assertions: tests/unit/test_ingest.py:8-32,
  * tests/integration/test_ingest_integration.py:12-23.
  */
class CleanseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("cleanse-spec", cores = 4)
  import scala.jdk.CollectionConverters._

  override def afterAll(): Unit = spark.stop()

  private def strDf(values: Seq[String], name: String = "v"): DataFrame =
    spark.createDataFrame(
      values.map(Row(_)).asJava,
      StructType(Seq(StructField(name, StringType, nullable = true))))

  // tests/unit/test_ingest.py:8-21 — boolean-string canonicalization
  test("boolean-string canonicalization matches reference exactly") {
    val out = strDf(Seq("true", "false", null))
      .select(Cleanse.canonicalizeBooleanString(col("v")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("TRUE", "FALSE", null))
  }

  test("boolean-string canonicalization full input table") {
    val cases = Map(
      "true" -> "TRUE", "1" -> "TRUE", "yes" -> "TRUE", "t" -> "TRUE",
      "TRUE" -> "TRUE", "Yes" -> "TRUE",
      "false" -> "FALSE", "0" -> "FALSE", "no" -> "FALSE", "f" -> "FALSE",
      "garbage" -> "garbage", "2" -> "2", "" -> "")
    val out = strDf(cases.keys.toSeq)
      .select(col("v"), Cleanse.canonicalizeBooleanString(col("v")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == cases)
  }

  test("boolean parse matches reference truth table") {
    val cases: Seq[(String, Any)] = Seq(
      "true" -> true, "1" -> true, "yes" -> true, "T" -> true, "t" -> true,
      "false" -> false, "0" -> false, "no" -> false, "F" -> false,
      "tr" -> null, "x" -> null, "2" -> null, "yess" -> null, (null: String) -> null)
    val out = strDf(cases.map(_._1))
      .select(col("v"), Cleanse.parseBoolean(col("v")).as("b"))
      .collect().map(r => Option(r.getString(0)) -> (if (r.isNullAt(1)) null else r.getBoolean(1)))
      .toMap
    cases.foreach { case (in, want) =>
      assert(out(Option(in)) == want, s"input '$in'")
    }
  }

  test("boolean parse property: random case variants follow the reference truth table") {
    // the reference lowercases before the isin checks (ingest.py:596-607),
    // so every case variant of a recognized word parses; whitespace does NOT
    // get trimmed — ' true' is unrecognized → null
    val rnd = new scala.util.Random(7)
    def randomCase(s: String): String =
      s.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)
    val words = Seq("true" -> true, "yes" -> true, "false" -> false, "no" -> false)
    val inputs = (0 until 50).map { i =>
      val (w, want) = words(i % words.length)
      randomCase(w) -> want
    } ++ Seq(" true" -> null, "true " -> null, "TRUEE" -> null)
    val out = strDf(inputs.map(_._1))
      .select(col("v"), Cleanse.parseBoolean(col("v")).as("b"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1)))
      .toMap
    inputs.foreach { case (in, want) =>
      assert(out(in) == want, s"input '$in'")
    }
  }

  // tests/unit/test_ingest.py:24-32 — rename + pad
  test("renameAndPad renames mapped columns and materializes every schema field") {
    val src = spark.createDataFrame(
      Seq(Row("g-1", "lc-1", "extra")).asJava,
      StructType(Seq(
        StructField("LeadXrefGuid", StringType), // case-insensitive match
        StructField("leadcode", StringType),
        StructField("unmapped_col", StringType))))
    val out = Conform.renameAndPad(src, "lead_xref")
    assert(out.columns.contains("LEAD_XREF_GUID"))
    assert(out.columns.contains("LEAD_CODE"))
    assert(out.columns.contains("unmapped_col")) // passes through until reorder
    TableSchemas.schemas("lead_xref").fields.foreach(f =>
      assert(out.columns.contains(f.name), s"missing ${f.name}"))
    val row = out.select(col("LEAD_XREF_GUID"), col("LEAD_CODE"), col("LEAD_LEVEL")).head()
    assert(row.getString(0) == "g-1" && row.getString(1) == "lc-1" && row.isNullAt(2))
  }

  // tests/integration/test_ingest_integration.py:12-23 — full chain, 1 row
  test("full conform chain on one lead_xref row keeps the row and yields the exact schema") {
    val src = spark.createDataFrame(
      Seq(Row("g-9", "lc-9", "2024-03-01 10:00:00", "true")).asJava,
      StructType(Seq(
        StructField("leadxrefguid", StringType),
        StructField("leadcode", StringType),
        StructField("createdate", StringType),
        StructField("isdeletedsource", StringType))))
    val out = Conform.conform(src, "lead_xref")
    assert(out.count() == 1)
    assert(out.columns.toSeq == TableSchemas.schemas("lead_xref").fields.map(_.name).toSeq)
    Conform.validate(out, "lead_xref")
    val row = out.select(col("IS_DELETED_SOURCE"), col("CREATE_DATE"), col("CREATED_BY"),
      col("TO_PROCESS"), col("EDW_EXTERNAL_SOURCE_SYSTEM")).head()
    assert(row.getString(0) == "TRUE")
    assert(!row.isNullAt(1))
    assert(row.getString(2) == "ETL_PROCESS")
    assert(row.getBoolean(3))
    assert(row.getString(4) == "LeadCustodyRepository")
  }

  test("garbage timestamp predicate: reference rules (ingest.py:521-527)") {
    val garbage = Seq("abc", "xy", "Z", "-", "no digits here")
    val valid = Seq("2024-01-01", "2024-01-01 10:00:00", "1999", "12/31/2020")
    val out = strDf(garbage ++ valid)
      .select(col("v"), Cleanse.garbageTemporal(col("v")).as("g"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    garbage.foreach(g => assert(out(g), s"'$g' should be garbage"))
    valid.foreach(v => assert(!out(v), s"'$v' should be valid"))
  }

  test("garbage predicate property: agrees with the spec on 200 generated strings") {
    // non-ASCII digits: the reference's rlike `\d` (like Spark's, i.e.
    // java.util.regex without UNICODE_CHARACTER_CLASS) matches 0-9 only
    val otherDigits = Gen.oneOf('\u0663', '\u0967', '\uff15')
    val gen = Gen.oneOf(
      Gen.alphaStr.map(_.take(20)).suchThat(_.nonEmpty),
      Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', ':', '/', '.'), otherDigits))
        .map(_.mkString.take(24)).suchThat(_.nonEmpty),
      Gen.const(null: String))
    val samples = (0 until 200).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("ab\u0663d", null)
    val got = strDf(samples)
      .select(col("v"), Cleanse.garbageTemporal(col("v")).as("g"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getBoolean(1))))
    got.foreach { case (s, g) =>
      val expected = Option(s).map(s =>
        s.matches("^[A-Za-z]{1,3}$") || s.length <= 3 || !s.exists(c => c >= '0' && c <= '9'))
      assert(g == expected, s"input '$s'")
    }
    assert(got.toMap.apply("ab\u0663d") == Some(true), "a non-ASCII digit is not a digit")
  }

  test("lenient timestamp parser: formats, NY zone, future clamp, fuzzy fallback") {
    val fixedNow = Instant.parse("2025-06-01T00:00:00Z")
    LenientParse.clockOverride = Some(fixedNow)
    try {
      // naive → America/New_York (2024-03-01 is EST, UTC-5)
      val t1 = LenientParse.timestamp("2024-03-01 10:30:00")
      assert(t1.toInstant == Instant.parse("2024-03-01T15:30:00Z"))
      // zone-aware → converted
      val t2 = LenientParse.timestamp("2024-03-01T10:30:00Z")
      assert(t2.toInstant == Instant.parse("2024-03-01T10:30:00Z"))
      // m/d/y
      val t3 = LenientParse.timestamp("03/01/2024")
      assert(t3.toInstant == Instant.parse("2024-03-01T05:00:00Z"))
      // month name
      val t4 = LenientParse.timestamp("Mar 1, 2024 10:30")
      assert(t4.toInstant == Instant.parse("2024-03-01T15:30:00Z"))
      // future → clamped to now
      val t5 = LenientParse.timestamp("2030-01-01 00:00:00")
      assert(t5.toInstant == fixedNow)
      // fuzzy: date embedded in text (dateutil fuzzy=True analogue)
      val t6 = LenientParse.timestamp("updated on 2024-03-01 oops")
      assert(t6 != null && t6.toInstant == Instant.parse("2024-03-01T05:00:00Z"))
      // garbage guard
      assert(LenientParse.timestamp("abc") == null)
      assert(LenientParse.timestamp("ab1") == null) // len <= 3
      assert(LenientParse.timestamp(null) == null)
      assert(LenientParse.timestamp("13/45/2024") == null) // invalid ranges
      // date: future → null (not clamped)
      assert(LenientParse.date("2030-01-01") == null)
      assert(LenientParse.date("2024-03-01").toLocalDate.toString == "2024-03-01")
      assert(LenientParse.date("garbage 2024-03-01") == null) // no fuzzy for dates
    } finally LenientParse.clockOverride = None
  }

  test("lenient parser: widened dateutil grammar (compact, dotted, day-first rescue, dashed month)") {
    val fixedNow = Instant.parse("2025-06-01T00:00:00Z")
    LenientParse.clockOverride = Some(fixedNow)
    try {
      // compact YYYYMMDD and YYYYMMDDTHHMMSS
      assert(LenientParse.date("20240301").toLocalDate.toString == "2024-03-01")
      val tc = LenientParse.timestamp("20240301T103000")
      assert(tc.toInstant == Instant.parse("2024-03-01T15:30:00Z"))
      // dotted separators (y-first and m-first)
      assert(LenientParse.date("2024.03.01").toLocalDate.toString == "2024-03-01")
      assert(LenientParse.date("03.01.2024").toLocalDate.toString == "2024-03-01")
      // dateutil's day-first rescue: 15 can't be a month
      assert(LenientParse.date("15/03/2024").toLocalDate.toString == "2024-03-15")
      // dash-delimited month name
      assert(LenientParse.date("15-Mar-2024").toLocalDate.toString == "2024-03-15")
      // still rejected: both fields impossible, bad compact digits
      assert(LenientParse.timestamp("13/45/2024") == null)
      assert(LenientParse.timestamp("20241345") == null)
    } finally LenientParse.clockOverride = None
  }

  test("final sweep nulls timestamps with out-of-alphabet string forms, clock for ETL_") {
    val fixed = lit(java.sql.Timestamp.from(Instant.parse("2025-01-01T00:00:00Z")))
    val df = spark.createDataFrame(
      Seq(Row(java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), null)).asJava,
      StructType(Seq(
        StructField("OK_TS", TimestampType, nullable = true),
        StructField("ETL_CREATED_DATE", TimestampType, nullable = true))))
    val out = df.select(
      Cleanse.finalTimestampSweep(col("OK_TS"), isEtl = false, fixed).as("ok"),
      Cleanse.finalTimestampSweep(col("ETL_CREATED_DATE"), isEtl = true, fixed).as("etl"))
      .head()
    assert(out.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))
    assert(out.getTimestamp(1) == java.sql.Timestamp.from(Instant.parse("2025-01-01T00:00:00Z")))
  }

  test("future clamp (ingest.py:744-752)") {
    val clock = lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
    val df = spark.createDataFrame(
      Seq(Row(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")),
        Row(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
        Row(null)).asJava,
      StructType(Seq(StructField("ts", TimestampType, nullable = true))))
    val out = df.select(Cleanse.clampFuture(col("ts"), clock).as("c"))
      .collect().map(r => Option(r.getTimestamp(0)))
    assert(out(0).contains(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
    assert(out(1).contains(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    assert(out(2).isEmpty)
  }

  test("conform pads every lead column (101 fields) as typed nulls in one select") {
    val src = strDf(Seq("g-1"), name = "leadguid")
    val out = Conform.conform(src, "lead")
    assert(out.columns.length == 101)
    Conform.validate(out, "lead")
    // plan stays shallow: a single-digit Project count, not one per column
    val planDepth = out.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planDepth < 12, s"optimized plan has $planDepth nodes")
  }

  test("schemaDiff: added/removed/retyped columns; case-insensitive; nullability ignored") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("amount", DoubleType),
      StructField("created", TimestampType)))
    val observed = StructType(Seq(
      StructField("ID", LongType, nullable = false),      // case + nullability: no change
      StructField("name", StringType),
      StructField("amount", StringType),                  // retyped
      StructField("extra", IntegerType)))                 // added; created removed
    val diff = Conform.schemaDiff(expected, observed)
    assert(diff == Seq(
      Conform.SchemaChange("amount", "retyped", Some("DOUBLE"), Some("STRING")),
      Conform.SchemaChange("created", "removed", Some("TIMESTAMP"), None),
      Conform.SchemaChange("extra", "added", None, Some("INT"))))
    assert(Conform.schemaDiff(expected, expected).isEmpty)
    // NESTED nullability must be ignored too, not just top-level
    val nested = StructType(Seq(StructField("s",
      StructType(Seq(StructField("a", IntegerType, nullable = true))))))
    val nestedObs = StructType(Seq(StructField("s",
      StructType(Seq(StructField("a", IntegerType, nullable = false))))))
    assert(Conform.schemaDiff(nested, nestedObs).isEmpty)
  }

  test("schemaDiff: case-only duplicate names fail loud instead of vanishing") {
    import org.apache.spark.sql.types._
    val clean = StructType(Seq(StructField("id", LongType)))
    val dup = StructType(Seq(
      StructField("Id", LongType), StructField("ID", StringType)))
    val e = intercept[IllegalArgumentException] { Conform.schemaDiff(clean, dup) }
    assert(e.getMessage.contains("collision") && e.getMessage.contains("Id/ID"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] { Conform.schemaDiff(dup, clean) }
    assert(e2.getMessage.contains("collision"), e2.getMessage)
  }
}
