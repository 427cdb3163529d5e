package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-conformance operators. Same observable behavior as the
  * reference's rename/pad/transform/metadata/reorder/validate chain
  * (ingest.py:652-700, 759-778, 445-473), but each stage is ONE `select`
  * over composed expressions — the plans stay one Project node deep
  * instead of one per column, which is the difference between a 100 ms
  * and a multi-second analysis phase at 101 columns, and keeps
  * whole-stage codegen fused at any scale.
  *
  * The stages still stack as several `Project`s, and a filter on the
  * conformed frame is inlined through all of them, so a stage that only
  * restates its input is not free (see the [[Cleanse]] header). The
  * reference's identity stages are left out: see [[cleanInvalidTimestamps]]
  * and [[finalSweep]].
  */
object Conform {

  /** Case-insensitive rename per mapping + pad missing target columns as
    * typed nulls (ingest.py:652-670). Unmapped source columns pass
    * through untouched (dropped later by [[reorder]], as in the
    * reference).
    */
  def renameAndPad(df: DataFrame, table: String): DataFrame = {
    val mapping = TableSchemas.columnMappings(table)
    val schema = TableSchemas.schemas(table)
    val renamed = df.columns.toSeq.map { c =>
      mapping.get(c.toLowerCase) match {
        case Some(target) => col(c).as(target)
        case None => col(c)
      }
    }
    // presence check is case-INSENSITIVE: an unmapped source column that
    // matches a target field in different case must count as present, or
    // the pad would create a duplicate that Spark's case-insensitive
    // resolver later rejects as ambiguous. (The reference's `not in
    // df.columns` check, ingest.py:664, shares the case-sensitivity bug
    // this avoids — intent over letter.)
    val present = df.columns.map(c => mapping.getOrElse(c.toLowerCase, c).toLowerCase).toSet
    val padding = schema.fields.toSeq.collect {
      case f if !present.contains(f.name.toLowerCase) =>
        lit(null).cast(f.dataType).as(f.name)
    }
    df.select(renamed ++ padding: _*)
  }

  /** Default ETL_* timestamps to the clock (ingest.py:507-536). The
    * reference also nulls out "garbage" in every timestamp-typed column;
    * that is an identity here: a timestamp's string form is at least 19
    * characters and holds digits, so [[Cleanse.garbageTemporal]] never
    * holds for it, and a null stays null.
    */
  def cleanInvalidTimestamps(df: DataFrame, clock: Column): DataFrame = {
    val exprs = df.schema.fields.toSeq.map {
      case f if f.dataType == TimestampType && f.name.startsWith("ETL_") =>
        Cleanse.defaultEtlTimestamp(col(f.name), clock).as(f.name)
      case f => col(f.name)
    }
    df.select(exprs: _*)
  }

  /** Per-type conform of every target-schema column (ingest.py:672-679):
    * clean timestamps first, then the dispatch table. Non-schema columns
    * pass through (the reference's loop leaves them in place too).
    */
  def transformColumns(df: DataFrame, table: String, clock: Column): DataFrame = {
    val schema = TableSchemas.schemas(table)
    val json = TableSchemas.jsonColumns(table)
    val boolStr = TableSchemas.booleanStringColumns
    val byName = schema.fields.map(f => f.name -> f).toMap
    val cleaned = cleanInvalidTimestamps(df, clock)
    val exprs = cleaned.schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some(target) => Cleanse.conformExpr(col(f.name), target, json, boolStr)
        case None => col(f.name)
      }
    }
    cleaned.select(exprs: _*)
  }

  /** ETL metadata columns, cast to their schema types (ingest.py:681-700). */
  def addMetadata(df: DataFrame, table: String, clock: Column): DataFrame = {
    val schema = TableSchemas.schemas(table)
    def typed(name: String, v: Column): Column = v.cast(schema(name).dataType).as(name)
    val meta = Map(
      "ETL_CREATED_DATE" -> clock,
      "ETL_LAST_UPDATE_DATE" -> clock,
      "CREATED_BY" -> lit("ETL_PROCESS"),
      "TO_PROCESS" -> lit(true),
      "EDW_EXTERNAL_SOURCE_SYSTEM" -> lit("LeadCustodyRepository"))
    val kept = df.columns.toSeq.collect { case c if !meta.contains(c) => col(c) }
    df.select(kept ++ meta.map { case (n, v) => typed(n, v) }: _*)
  }

  /** lead_assignment special handling: future-date clamp on 6 columns +
    * METADATA JSON passthrough (ingest.py:734-753).
    */
  def specialHandling(df: DataFrame, table: String, clock: Column): DataFrame = {
    val capped = TableSchemas.futureCappedColumns(table).toSet
    val json = TableSchemas.jsonColumns(table)
    if (capped.isEmpty && json.isEmpty) return df
    val exprs = df.columns.toSeq.map {
      case c if capped.contains(c) => Cleanse.clampFuture(col(c), clock).as(c)
      case c if json.contains(c) => Cleanse.jsonPassthrough(col(c)).as(c)
      case c => col(c)
    }
    df.select(exprs: _*)
  }

  /** Column reorder to exact target-schema order — also drops any
    * unmapped passthrough columns (ingest.py:759-760).
    */
  def reorder(df: DataFrame, table: String): DataFrame =
    df.select(TableSchemas.schemas(table).fields.toSeq.map(f => col(f.name)): _*)

  /** Final timestamp sanity sweep after reorder (ingest.py:762-778). The
    * reference runs [[cleanInvalidTimestamps]] first; its only effect,
    * null ETL_* → clock, is the ETL_* sweep's null arm already.
    */
  def finalSweep(df: DataFrame, table: String, clock: Column): DataFrame = {
    val schema = TableSchemas.schemas(table)
    val exprs = df.schema.fields.toSeq.map { f =>
      schema.find(_.name == f.name) match {
        case Some(t) if t.dataType.isInstanceOf[TimestampType] =>
          Cleanse.finalTimestampSweep(col(f.name), f.name.startsWith("ETL_"), clock).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(exprs: _*)
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

  /** The full conformance chain for one table (ingest.py:702-778, steps
    * 1-7), load and write excluded.
    */
  def conform(df: DataFrame, table: String, clock: Column = Cleanse.now()): DataFrame = {
    val renamed = renameAndPad(df, table)
    val transformed = transformColumns(renamed, table, clock)
    val special = specialHandling(transformed, table, clock)
    val withMeta = addMetadata(special, table, clock)
    finalSweep(reorder(withMeta, table), table, clock)
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
