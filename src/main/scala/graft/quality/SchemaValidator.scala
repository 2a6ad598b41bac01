package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StructField, StructType}

/** Schema-contract enforcement between layers.
  *
  * Semantics: reference `lakehouse_pipelines/silver/utils/schema_validator.py`
  * (`validate_schema` :13-57, `compare_schemas` :60-94). Pure StructType
  * diffing — no Spark job.
  */
object SchemaValidator {

  final case class TypeMismatch(column: String, expected: String, actual: String)

  final case class ValidationResult(
      passed: Boolean,
      missingColumns: Seq[String],
      extraColumns: Seq[String],
      typeMismatches: Seq[TypeMismatch])

  final case class SchemaDiff(
      onlyInA: Seq[String],
      onlyInB: Seq[String],
      typeDifferences: Seq[TypeMismatch],
      nullableDifferences: Seq[String],
      compatible: Boolean)

  /** Validate a DataFrame against an expected schema; `strict` forbids
    * extra columns (`schema_validator.py:13-57`). The [[compareSchemas]]
    * diff of expected against actual: missing columns are only in the
    * expected schema, extra ones only in the frame. */
  def validateSchema(df: DataFrame, expected: StructType, strict: Boolean = false): ValidationResult = {
    val d = compareSchemas(expected, df.schema)
    ValidationResult(d.compatible && (!strict || d.onlyInB.isEmpty),
      d.onlyInA, d.onlyInB, d.typeDifferences)
  }

  /** Diff two schemas incl. nullability (`schema_validator.py:60-94`); the
    * one schema diff of the DQ and reconciliation layers. */
  def compareSchemas(a: StructType, b: StructType): SchemaDiff = {
    val fa = a.fields.map(f => f.name -> f).toMap
    val fb = b.fields.map(f => f.name -> f).toMap
    def only(x: Map[String, StructField], y: Map[String, StructField]) =
      (x.keySet -- y.keySet).toSeq.sorted
    val onlyA = only(fa, fb)
    val common = fa.keySet.intersect(fb.keySet).toSeq.sorted
    val typeDiffs = common.flatMap { n =>
      if (fa(n).dataType != fb(n).dataType)
        Some(TypeMismatch(n, fa(n).dataType.toString, fb(n).dataType.toString))
      else None
    }
    val nullableDiffs = common.filter(n => fa(n).nullable != fb(n).nullable)
    SchemaDiff(onlyA, only(fb, fa), typeDiffs, nullableDiffs,
      onlyA.isEmpty && typeDiffs.isEmpty)
  }
}
