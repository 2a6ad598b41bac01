package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reusable scalar-function helpers (SURVEY §2.8).
  *
  * Everything here is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen — no UDFs on any hot path.
  */
object Funcs {

  /** dbt_utils-style MD5 surrogate key:
    * `md5(concat_ws("|", coalesce(cast(c as string), "_null_")...))`.
    * Semantics: reference macro
    * `legacy_dbt_project/macros/generate_surrogate_key.sql:5-12` and
    * `lakehouse_pipelines/gold/dim_policy.py:15-22`.
    */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("|", cols.map(c => coalesce(c.cast(StringType), lit("_null_"))): _*))

  /** Empty-string → typed NULL normalization (Redshift semantics carried
    * into the lakehouse; reference `clean_claims.py:38-42`, pinned by
    * `test_silver_transforms.py:83-87`). */
  def emptyToNull(c: Column, toType: DataType): Column =
    when(trim(c) === "", lit(null).cast(toType)).otherwise(c.cast(toType))

  /** UPPER(TRIM(x)) — canonical code normalization
    * (`stg_claims.sql:16-17`, `clean_claims.py:43-44`). */
  def normCode(c: Column): Column = upper(trim(c))

  /** Null-safe divide: a / NULLIF(b, 0)
    * (`int_policy_claims.sql:40`, `fact_claims.py:61-64`). */
  def safeDiv(a: Column, b: Column): Column = a / nullif(b, lit(0))

  /** Email masking: first 2 chars + `***@***.***` — the reference masks
    * the domain too (`governance/access_controls.sql:57-62`:
    * `LEFT(email,2) || '***@***.***'`). */
  def maskEmail(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType))
      .otherwise(concat(substring(c, 1, 2), lit("***@***.***")))

  /** Name masking: first char + repeat('*', length-1)
    * (`governance/access_controls.sql:65-70`). [[graft.plans.GraftExtensions]]
    * serves this and [[maskEmail]] to SQL as `mask_name` / `mask_email`. */
  def maskName(c: Column): Column =
    when(c.isNull || length(c) === 0, c)
      .otherwise(concat(substring(c, 1, 1), repeat(lit("*"), (length(c) - 1).cast(IntegerType))))
}
