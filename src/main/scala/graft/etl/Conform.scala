package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-conformance operators. Same observable behavior as the
  * reference's rename/pad/transform/metadata/reorder/validate chain
  * (ingest.py:652-700, 759-778, 445-473), built from composed column
  * expressions so the plan stays a few `Project` nodes deep instead of
  * one per column: the difference between a 100 ms and a multi-second
  * analysis phase at 101 columns, and whole-stage codegen stays fused.
  *
  * [[conform]] is three `select`s, not one per reference stage. Each
  * `select` is analyzed eagerly, so every stage costs driver time in
  * proportion to its width, and a filter on the conformed frame is
  * inlined through all of them by substitution (see the [[Cleanse]]
  * header). The boundaries sit where a rule reads its input more than
  * once: the clamp and the final sweep each read the conformed column
  * two or three times, so they read it as a column reference. The
  * reference's identity stages are left out: see [[conform]].
  */
object Conform {

  /** Each RAW column under its target name — case-insensitive rename per
    * mapping (ingest.py:652-662); unmapped columns keep their name — then
    * every target-schema field the RAW frame lacks as a typed null
    * (ingest.py:664-670). The presence check is case-INSENSITIVE: an
    * unmapped source column that matches a target field in different
    * case must count as present, or the pad would create a duplicate
    * that Spark's case-insensitive resolver rejects as ambiguous. (The
    * reference's `not in df.columns` check, ingest.py:664, shares the
    * case-sensitivity bug this avoids — intent over letter.)
    */
  private def renamedAndPadded(df: DataFrame, table: String): Seq[(String, Column, DataType)] = {
    val mapping = TableSchemas.columnMappings(table)
    val renamed = df.schema.fields.toSeq.map(f =>
      (mapping.getOrElse(f.name.toLowerCase, f.name), col(f.name), f.dataType))
    val present = renamed.map(_._1.toLowerCase).toSet
    renamed ++ TableSchemas.schemas(table).fields.toSeq.collect {
      case f if !present.contains(f.name.toLowerCase) =>
        (f.name, lit(null).cast(f.dataType), f.dataType)
    }
  }

  /** Rename + pad as one `select`. Unmapped source columns pass through
    * ([[conform]] drops them, as the reference's reorder does).
    */
  def renameAndPad(df: DataFrame, table: String): DataFrame =
    df.select(renamedAndPadded(df, table).map { case (n, c, _) => c.as(n) }: _*)

  /** ETL metadata values (ingest.py:681-700), cast to their schema types. */
  private def metadata(clock: Column): Map[String, Column] = Map(
    "ETL_CREATED_DATE" -> clock,
    "ETL_LAST_UPDATE_DATE" -> clock,
    "CREATED_BY" -> lit("ETL_PROCESS"),
    "TO_PROCESS" -> lit(true),
    "EDW_EXTERNAL_SOURCE_SYSTEM" -> lit("LeadCustodyRepository"))

  /** The full conformance chain for one table (ingest.py:702-778, steps
    * 1-7), load and write excluded, in three `select`s:
    *
    *  1. per target field in schema order (ingest.py:759-760, which also
    *     drops unmapped columns): the ETL metadata value
    *     (ingest.py:681-700), or the renamed/padded RAW column with an
    *     ETL_* timestamp defaulted to the clock (ingest.py:507-536) and
    *     the per-type conform (ingest.py:672-679), whose JSON arm is the
    *     METADATA passthrough (ingest.py:744-753) as well;
    *  2. the future-date clamp on the capped columns (ingest.py:734-742),
    *     only for a table that has them;
    *  3. the final timestamp sweep (ingest.py:762-778).
    *
    * The reference also nulls "garbage" in every timestamp-typed column
    * before the conform and again before the sweep. Both are identities:
    * a timestamp's string form is at least 19 characters and holds
    * digits, so [[Cleanse.garbageTemporal]] never holds for it, and a
    * null stays null. Its second ETL_* default, null → clock, is the
    * sweep's null arm already.
    */
  def conform(df: DataFrame, table: String, clock: Column = Cleanse.now()): DataFrame = {
    val schema = TableSchemas.schemas(table)
    val json = TableSchemas.jsonColumns(table)
    val byName = schema.fields.map(f => f.name -> f).toMap
    val meta = metadata(clock)
    // a rule keys on a column's exact name, as each reference stage does;
    // the reorder resolves a target field case-insensitively
    val sources = renamedAndPadded(df, table).filterNot { case (n, _, _) => meta.contains(n) }
    val conformed = df.select(schema.fields.toSeq.map { f =>
      meta.get(f.name) match {
        case Some(v) => v.cast(f.dataType).as(f.name)
        case None =>
          val matches = sources.filter(_._1.equalsIgnoreCase(f.name))
          require(matches.size == 1,
            s"conform: target column ${f.name} is ambiguous: ${matches.map(_._1).mkString(", ")}")
          val (n, c, t) = matches.head
          val etl = if (t == TimestampType && n.startsWith("ETL_")) Cleanse.defaultEtlTimestamp(c, clock) else c
          byName.get(n).fold(etl.as(n))(target =>
            Cleanse.conformExpr(etl, target, json, TableSchemas.booleanStringColumns))
      }
    }: _*)
    val capped = TableSchemas.futureCappedColumns(table).toSet
    val clamped =
      if (capped.isEmpty) conformed
      else conformed.select(conformed.columns.toSeq.map {
        case c if capped.contains(c) => Cleanse.clampFuture(col(c), clock).as(c)
        case c => col(c)
      }: _*)
    clamped.select(clamped.columns.toSeq.map { c =>
      byName.get(c) match {
        case Some(t) if t.dataType.isInstanceOf[TimestampType] =>
          Cleanse.finalTimestampSweep(col(c), c.startsWith("ETL_"), clock).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** Presence + type-class validation; throws with ALL errors listed
    * (ingest.py:445-473). Type compare is by class, so DecimalType of any
    * precision matches — same as the reference's `isinstance` check.
    */
  def validate(df: DataFrame, table: String): Unit = {
    val schema = TableSchemas.schemas(table)
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val errors = schema.fields.toSeq.flatMap { f =>
      actual.get(f.name) match {
        case None => Some(s"Column ${f.name} is missing from the DataFrame")
        case Some(dt) if dt.getClass != f.dataType.getClass =>
          Some(s"Column ${f.name} has type $dt, but should be ${f.dataType}")
        case _ => None
      }
    }
    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        "DataFrame validation failed with errors:\n" + errors.mkString("\n"))
  }

  /** One schema change detected by [[schemaDiff]]: `change` is
    * "added" (observed only), "removed" (expected only), or "retyped"
    * (both, different type). Types are Spark DDL strings.
    */
  final case class SchemaChange(
      column: String,
      change: String,
      expectedType: Option[String],
      observedType: Option[String])

  /** Schema drift report between the declared (expected) schema and an
    * observed one — the check a production sync runs BEFORE loading,
    * so an upstream ALTER TABLE surfaces as one structured report
    * instead of a mid-load cast failure. Name matching is
    * case-insensitive (the conform module's own P1 rename rule);
    * nullability changes are deliberately ignored (the reference pads
    * missing fields with nulls, so nullability is not load-breaking).
    * Driver-side metadata only — no Spark job runs.
    */
  def schemaDiff(expected: StructType, observed: StructType): Seq[SchemaChange] = {
    // case-insensitive matching needs case-UNIQUE names: a schema with
    // "Id" and "ID" would collapse in the lowercase map (last wins) and
    // a real field would silently vanish from the report — fail loud
    def collisions(st: StructType): Seq[String] =
      st.fields.groupBy(_.name.toLowerCase).collect {
        case (_, fs) if fs.length > 1 => fs.map(_.name).mkString("/")
      }.toSeq.sorted
    val (expColl, obsColl) = (collisions(expected), collisions(observed))
    require(expColl.isEmpty && obsColl.isEmpty,
      "schemaDiff: case-insensitive name collisions — expected: " +
        s"[${expColl.mkString(", ")}]; observed: [${obsColl.mkString(", ")}]")
    val exp = expected.fields.map(f => f.name.toLowerCase -> f).toMap
    val obs = observed.fields.map(f => f.name.toLowerCase -> f).toMap
    val removed = expected.fields.filterNot(f => obs.contains(f.name.toLowerCase))
      .map(f => SchemaChange(f.name, "removed", Some(f.dataType.sql), None))
    val added = observed.fields.filterNot(f => exp.contains(f.name.toLowerCase))
      .map(f => SchemaChange(f.name, "added", None, Some(f.dataType.sql)))
    // Recursive nullability normalization before comparing: plain
    // DataType equality (and even the .sql form) carries NESTED
    // nullable flags inside struct/array/map, which the contract
    // promises to ignore at every depth
    def norm(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          StructField(f.name, norm(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
      case other => other
    }
    val retyped = expected.fields.flatMap { f =>
      obs.get(f.name.toLowerCase).collect {
        case o if norm(o.dataType) != norm(f.dataType) =>
          SchemaChange(f.name, "retyped", Some(f.dataType.sql), Some(o.dataType.sql))
      }
    }
    (removed ++ added ++ retyped).sortBy(c => (c.column, c.change))
  }
}
