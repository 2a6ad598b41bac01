package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level table diff that scales: every reconciliation method in
  * [[Reconciler]] compares AGGREGATES (counts, sums, distributions); a
  * real migration sign-off also needs "which ROWS differ" — and the
  * naive answers (collect both sides, or a full-width exceptAll both
  * directions) die at 100 TB.
  *
  * Shape: each side reduces to (row_hash, count) — a 16-byte MD5 of the
  * canonicalized compare columns, counted so duplicate rows diff
  * correctly — then the two hash sets full-outer join and rows whose
  * counts disagree come back. Cost: one scan + one hash-agg shuffle of
  * ~32 bytes/row per side, independent of row width; the join runs on
  * already-aggregated (distinct-hash) frames. No collect anywhere; the
  * diff itself is a DataFrame the caller can count, sample, or join
  * back to a side by recomputing the hash (`rowHash`) to recover the
  * offending rows.
  *
  * Canonicalization matches the reference's surrogate-key recipe
  * (`legacy_dbt_project/macros/generate_surrogate_key.sql:5-12`):
  * cast-to-string, NULL → `_null_` sentinel, `|` separator — so any
  * engine with md5+concat reproduces the hashes bit-for-bit (the DuckDB
  * oracle does exactly that). Caveat: columns whose string rendering is
  * engine-dependent (DOUBLE) should be cast/rounded by the caller
  * first; integral, string, date, and decimal renderings agree.
  */
object TableDiff {

  /** Canonical row hash over `cols` — stable across engines. */
  def rowHash(cols: Seq[String]): Column =
    md5(concat_ws("|", cols.map(c =>
      coalesce(col(c).cast("string"), lit("_null_"))): _*))

  /** All row hashes whose multiplicity differs between the sides:
    * (row_hash, left_count, right_count), absent = 0. Empty result ⇔
    * the two tables are equal as MULTISETS of the compare columns. */
  def diff(left: DataFrame, right: DataFrame, cols: Seq[String]): DataFrame =
    Reconciler.countDiff(left, right, rowHash(cols))
      .filter(col("left") =!= col("right"))
      .select(col("key").as("row_hash"), col("left").as("left_count"),
        col("right").as("right_count"))

  final case class DiffSummary(equal: Boolean, onlyLeft: Long, onlyRight: Long,
      countMismatches: Long)

  /** One-line verdict: hashes only on the left (dropped rows), only on
    * the right (spurious rows), and present-both-but-multiplicity-
    * differs (duplicated rows). One job over the count diff. */
  def summarize(left: DataFrame, right: DataFrame, cols: Seq[String]): DiffSummary = {
    val (onlyL, onlyR, both) = Reconciler.countTally(Reconciler.countDiff(left, right, rowHash(cols)))
    DiffSummary(onlyL == 0 && onlyR == 0 && both == 0, onlyL, onlyR, both)
  }

  /** Recover the actual offending rows on one side: semi-join the side
    * against the diff hashes (broadcast when the diff is small — the
    * expected case for a near-clean migration). */
  def offendingRows(side: DataFrame, cols: Seq[String], theDiff: DataFrame): DataFrame =
    side.withColumn("row_hash", rowHash(cols))
      .join(broadcast(theDiff.select("row_hash")), Seq("row_hash"), "left_semi")

  /** The playbook's "random 1000-row sample compare"
    * (`MIGRATION_PLAYBOOK.md:235`, SURVEY §2 O4), made deterministic
    * and distributed: the sample is the `n` keys with the SMALLEST
    * md5(key) — a uniform draw that both engines and every rerun agree
    * on without a seed or coordination, taken over the UNION of both
    * sides' keys so a row missing from one side still surfaces. Each
    * sampled key's full row reduces to [[rowHash]] per side; a key
    * mismatches when the hashes differ or one side lacks it.
    *
    * Cost at 100 TB: two narrow key scans, a top-n (TakeOrdered — no
    * global sort materialization), then two broadcast semi-joins of the
    * tiny key sample against the tables — the full rows of only ~n keys
    * are ever hashed or moved. `keyCol` must be unique per side (it is
    * the row identity being compared). */
  def sampledCompare(source: DataFrame, target: DataFrame, keyCol: String,
      cols: Seq[String], n: Int = 1000): DataFrame = {
    val keys = source.select(col(keyCol))
      .union(target.select(col(keyCol))).distinct()
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .limit(n)
    def sideHash(df: DataFrame, name: String) =
      df.join(broadcast(keys), Seq(keyCol), "left_semi")
        .select(col(keyCol), rowHash(cols).as(name))
    keys.join(sideHash(source, "source_hash"), Seq(keyCol), "left")
      .join(sideHash(target, "target_hash"), Seq(keyCol), "left")
      .select(col(keyCol), col("source_hash"), col("target_hash"),
        (col("source_hash") <=> col("target_hash")).as("is_match"))
  }

  /** Sketch-based key-universe reconciliation: how far apart are two
    * tables' key sets, WITHOUT co-locating either key universe?
    *
    * The exact forms of the reference's count reconciliation
    * (`migration_validation/reconciliation.py` row counts; [[diff]]'s
    * hash multisets) shuffle keys; at 100 TB a migration often only
    * needs "are the key sets the same to within a fraction of a
    * percent, and how big is the disagreement?". Each side reduces to a
    * CONSTANT-size HLL sketch in one map-side-combinable pass (the two
    * scans can run on different clusters — sketches are bytes, shippable
    * like the reference ships Redshift aggregates to Spark). By
    * inclusion–exclusion over the merged sketch:
    * `|A∆B| = 2·|A∪B| − |A| − |B|`.
    *
    * Output: ONE row — `est_a`, `est_b`, `est_union`, `est_sym_diff`.
    * Estimates are sketch-derived (exact below the sparse threshold
    * ~2^lgK; ±1.6% at lgK=12 beyond). The driver gate pairs them with
    * independently computed exact counts and emits within-bound
    * verdicts (`recon_hll_keyset`). */
  def hllKeysetCompare(source: DataFrame, target: DataFrame, keyCol: String,
      lgK: Int = 12): DataFrame = {
    def sk(df: DataFrame, name: String) =
      df.agg(hll_sketch_agg(col(keyCol).cast("string"), lit(lgK)).as(name))
    sk(source, "sk_a").crossJoin(sk(target, "sk_b"))
      .select(
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
          .as("est_union"))
      .withColumn("est_sym_diff",
        lit(2L) * col("est_union") - col("est_a") - col("est_b"))
  }
}
