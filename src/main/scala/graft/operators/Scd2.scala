package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD Type 2 merge as pure DataFrame algebra (no Delta).
  *
  * Semantics: reference `lakehouse_pipelines/gold/dim_policy.py:98-148`
  * (Delta `MERGE INTO` with whenMatchedUpdate/whenNotMatchedInsertAll) and
  * `MIGRATION_PLAYBOOK.md:196-221`. Our build has no row-level-ops DSv2
  * table (Parquet cannot MERGE), so the merge is re-expressed as
  * join + union + full rewrite (SURVEY §7.4).
  *
  * NOTE — intentional divergence, documented: the reference's MERGE closes
  * the old version of a changed row but never inserts the NEW version (its
  * playbook admits the simplification, `MIGRATION_PLAYBOOK.md:219-221`).
  * A correct SCD2 needs both, and this merge always inserts the new
  * version.
  *
  * Scale shape: ONE shuffle of `current` and `source` on the key drives
  * every row fate (kept / closed / new-version / brand-new); closed-out
  * history rows pass through untouched with no shuffle at all. The four
  * fate branches re-read the same joined plan — Spark's ReuseExchange
  * reuses the single shuffle, so at 100 TB this costs one exchange of each
  * side plus a union, not four joins.
  */
object Scd2 {

  /** Merge `source` (the freshly built dimension, all rows
    * `is_current=true`, `effective_end_date=null`) into `target` (the
    * existing dimension table contents).
    *
    * @param keyCols     natural-key columns (e.g. `policy_id`)
    * @param trackedCols columns whose change triggers a new version
    *                    (reference `dim_policy.py:117-125`)
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String]): DataFrame = {

    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"target/source schemas differ: ${target.columns.toSeq} vs ${source.columns.toSeq}")

    // Null-safe split: a NULL is_current must not vanish from the table
    // (plain filter(!col) would drop it from both branches).
    val isCur = coalesce(col("is_current"), lit(false))
    val history = target.filter(!isCur)
    val current = target.filter(isCur)

    // Side-PRESENCE sentinels, not key-null checks, drive the fates: a
    // source row with a NULL natural key is unmatched in the full-outer
    // join (equi-join keys never match NULL), and the old `s.k IS NULL ⇒
    // keep` spelling classified it keep with an ABSENT target side — the
    // explode then emitted struct(t.*) = an all-NULL output row (r14
    // ADVICE, medium). A literal true survives the join exactly when its
    // side is present, so the fates below are Delta MERGE's, null keys
    // included: null-key source row → not matched → insert; null-key
    // target row → not matched by source → keep.
    val t = current.withColumn("__t_present", lit(true)).alias("t")
    val s = source.withColumn("__s_present", lit(true)).alias("s")
    val keyMatch = keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    // Null-safe "any tracked attribute differs" (Delta MERGE `!=` treats
    // NULL-vs-value as no-change; `<=>` negation is the null-safe form we
    // actually want for correctness).
    val changed = trackedCols.map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _)

    val joined = t.join(s, keyMatch, "full_outer")
      .withColumn("__fate",
        when(col("s.__s_present").isNull, lit("keep"))      // current row, no source
          .when(col("t.__t_present").isNull, lit("insert")) // brand-new (or null) key
          .when(changed, lit("close"))                      // attribute change
          .otherwise(lit("keep")))                          // unchanged

    val targetCols = target.columns.toSeq

    def fromSide(side: String) = targetCols.map(c => col(s"$side.$c").as(c))

    // ONE pass over the joined stream: each row emits its 0-2 output
    // rows (keep → the target row; insert → the source row; close →
    // the closed-out target row plus the source's new version) through
    // a single explode. The previous four-branch union re-instantiated
    // the sort-merge join per branch — ReuseExchange dedupes only the
    // exchanges, so the sort+merge and fate evaluation ran four times
    // over the same shuffled bytes
    // (measured in st20: 1.14 M shuffle-read records for 0.76 M
    // written). A keep-fate row always has a target side — the fates
    // are keyed on side PRESENCE above, so keep ⇒ t present and
    // insert ⇒ s present by construction, null keys included.
    val keepRow = struct(fromSide("t"): _*)
    val newRow = struct(fromSide("s"): _*)
    val closedRow = struct(targetCols.map {
      case "is_current" => lit(false).as("is_current")
      case "effective_end_date" => col("s.effective_start_date").as("effective_end_date")
      case c => col(s"t.$c").as(c)
    }: _*)

    val emitted = joined
      .select(explode(
        when(col("__fate") === "keep", array(keepRow))
          .when(col("__fate") === "insert", array(newRow))
          .otherwise(array(closedRow, newRow))).as("__r"))
      .select(targetCols.map(c => col(s"__r.$c").as(c)): _*)

    history.unionByName(emitted)
  }

  /** The reference's tracked-attribute list for dim_policy
    * (`dim_policy.py:117-125`). */
  val policyTrackedCols: Seq[String] = Seq(
    "status", "annual_premium", "deductible", "coverage_limit",
    "agent_id", "channel", "coverage_type_code")
}
