package graft.governance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Funcs

/** Column-level security: role-gated PII masking + the masked secure
  * view over dim_policy.
  *
  * Semantics: reference `governance/access_controls.sql:50-103`. Unity
  * Catalog's `IS_MEMBER('pii_authorized')` group check is
  * platform-specific — per SURVEY §2.10 it is parameterized here as an
  * explicit role flag (the caller's auth layer decides membership).
  * GRANT/REVOKE statements are catalog-level configuration outside an
  * OSS single-user session and intentionally out of scope.
  */
object AccessControls {

  /** PII columns of dim_policy (`access_controls.sql:80-83`). */
  val PolicyPiiNameCols: Seq[String] =
    Seq("policyholder_first_name", "policyholder_last_name", "policyholder_full_name")
  val PolicyPiiEmailCol = "policyholder_email"

  /** `mask_email` gated on the pii_authorized role
    * (`access_controls.sql:57-62`). */
  def maskEmailFor(c: Column, piiAuthorized: Boolean): Column =
    if (piiAuthorized) c else Funcs.maskEmail(c)

  /** `mask_name` gated on the pii_authorized role
    * (`access_controls.sql:65-70`). */
  def maskNameFor(c: Column, piiAuthorized: Boolean): Column =
    if (piiAuthorized) c else Funcs.maskName(c)

  /** The `v_dim_policy_masked` projection (`access_controls.sql:76-101`):
    * PII columns masked unless the caller is pii-authorized, everything
    * else passes through unchanged. */
  def maskedPolicyFrame(dimPolicy: DataFrame, piiAuthorized: Boolean): DataFrame =
    dimPolicy.select(dimPolicy.columns.toSeq.map {
      case c if PolicyPiiNameCols.contains(c) => maskNameFor(col(c), piiAuthorized).as(c)
      case c if c == PolicyPiiEmailCol => maskEmailFor(col(c), piiAuthorized).as(c)
      case c => col(c)
    }: _*)

  /** Keyed pseudonymization (GDPR art. 4(5)): a stable salted surrogate
    * for an identifying key — `md5(salt ":" key)` — so analytics run on
    * tokens instead of identities while REFERENTIAL INTEGRITY survives:
    * the same (salt, key) maps to the same surrogate in every table, so
    * joins, group-bys, and distinct counts give identical results on the
    * pseudonymized frames as on the clear ones (the gate's oracle
    * exploits exactly this — it joins on the CLEAR key and must match).
    * Unlike [[maskNameFor]]-style redaction this is a bijection per salt
    * (md5 collisions ~2⁻⁶⁴ at any realistic key count): re-identification
    * requires the salt, rotating the salt re-keys the whole corpus, and
    * the projection is pure codegen — no shuffle, no UDF. NULL keys stay
    * NULL (concat_ws would silently SKIP the null and collapse every
    * NULL key onto md5(salt), making surrogate joins match rows a
    * clear-key join drops — the r13 ADVICE finding). */
  def pseudonymizeKey(c: Column, salt: String): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(md5(concat_ws(":", lit(salt), c.cast("string"))))

  /** Right-to-erasure (GDPR art. 17): split a frame into the retained
    * rows and the per-subject erasure tally for the compliance record.
    * The erase set joins as a broadcast left_anti / left_semi pair —
    * two passes over the frame, zero over the (tiny) subject list; at
    * 100 TB this is the partition-rewrite driver, with the anti-join
    * exactly the reference's orphan-check idiom (J5) reused for
    * deletion. Erasure is by KEY; physical file rewrite is the caller's
    * write (e.g. `Tables.overwritePartitioned`). */
  def eraseSubjects(df: DataFrame, keyCol: String,
      subjects: DataFrame, subjectCol: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val keys = broadcast(subjects.select(col(subjectCol).as(keyCol)).distinct())
    val retained = df.join(keys, Seq(keyCol), "left_anti")
    val erasedTally = df.join(keys, Seq(keyCol), "left_semi")
      .groupBy(keyCol).agg(count(lit(1)).as("rows_erased"))
    (retained, erasedTally)
  }

  /** k-anonymity equivalence classes: one row per distinct
    * quasi-identifier combination with its population and a
    * below-`k` violation flag — the audit behind "can any row be
    * re-identified by joining these columns to an external dataset"
    * (Sweeney '02). ONE map-side-combinable hash aggregate; null quasi
    * values form their own class (groupBy semantics), matching the
    * null-safe join in [[suppressBelowK]]. */
  def kAnonymityClasses(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("violates_k", col("class_size") < k)
  }

  /** Suppression repair for k-anonymity: rows in below-`k` equivalence
    * classes get their quasi-identifier columns nulled (cell
    * suppression), everything else passes through — after this, every
    * non-null quasi combination has ≥ k rows. The violating-class list
    * is the ONLY state: typically a tiny fraction of classes, it
    * broadcasts, so the repair is one aggregate + one broadcast join —
    * no second shuffle of the data. Joins null-safely (`<=>`), so
    * classes keyed by null quasi values are suppressed too, not
    * silently skipped. */
  def suppressBelowK(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    val bad = kAnonymityClasses(df, quasiCols, k)
      .filter(col("violates_k"))
      .select(quasiCols.map(c => col(c).as(s"_q_$c")) :+ lit(true).as("_viol"): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"_q_$c")).reduce(_ && _)
    df.join(broadcast(bad), cond, "left")
      .select(df.columns.map { c =>
        if (quasiCols.contains(c))
          when(coalesce(col("_viol"), lit(false)), lit(null)).otherwise(col(c)).as(c)
        else col(c)
      }: _*)
  }

  /** Create the masked secure view over a dim_policy table (BI analysts
    * query the view, never the base table). */
  def createMaskedPolicyView(spark: SparkSession, dimPolicyTable: String,
      viewName: String): Unit = {
    val maskedCols = spark.read.table(dimPolicyTable).columns.toSeq.map {
      case c if PolicyPiiNameCols.contains(c) => s"mask_name($c) AS $c"
      case c if c == PolicyPiiEmailCol => s"mask_email($c) AS $c"
      case c => c
    }
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $viewName AS
                 |SELECT ${maskedCols.mkString(", ")} FROM $dimPolicyTable""".stripMargin)
  }
}
