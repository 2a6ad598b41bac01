package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Reduce

/** In-engine quality-classifier training: full-batch gradient descent for
  * a linear classifier over embedding features, entirely in DataFrame
  * algebra — the distributed stand-in for the fastText-style quality
  * model every curation pipeline trains (positives = a trusted slice,
  * negatives = the crawl).
  *
  * Each iteration is ONE job: rows compute their residual against the
  * broadcast weight literal, and the dim+1 per-dimension gradient sums
  * are observed ([[graft.operators.Reduce.observed]]) on one scan of the
  * cached (intercept-augmented) feature frame, each task's partial sums
  * merging on the driver — no exchange, no second job to fetch a row.
  * The weight vector (65 doubles here) is the only driver-side state —
  * the standard parameter-server shape, so the data path scales linearly
  * and the driver never sees a row.
  *
  * Link function: SOFTSIGN, p = 0.5 + 0.5·z/(1+|z|), not the logistic
  * sigmoid — deliberately. p must reproduce bit-for-bit on any engine
  * (the DuckDB oracle replays training end-to-end), and exp() does not:
  * JVM Math.exp disagrees with libm exp on ~0.3% of inputs (measured on
  * this host), while softsign uses only +,×,÷,|·| — all correctly
  * rounded IEEE ops. Softsign is monotone, (0,1)-bounded, and symmetric,
  * so thresholding and ranking behave like the sigmoid's; a true-sigmoid
  * variant exists for JVM-only use ([[sigmoidProb]]) and is pinned to
  * similar accuracy in ClassifierSpec.
  *
  * Class imbalance: positive-class residuals scale by `posWeight`
  * (default n_neg/n_pos — balanced effective classes); without it a rare
  * positive class collapses to the majority predictor.
  *
  * Cross-engine determinism: gradients accumulate in FIXED POINT —
  * `floor(term·10¹²)` summed as DECIMAL(38,0) (exact and
  * order-independent; the product is the same IEEE multiply everywhere
  * and floor is exact), then one correctly-rounded division back to
  * double. `round(term, 12)` is NOT portable: Spark rounds the shortest
  * string repr via BigDecimal.valueOf while DuckDB rounds the scaled
  * double, and over many terms a divergent boundary is near-certain
  * (observed in the PageRank gate at sf0.1). Margin = one left fold
  * over the augmented vector; weight updates are plain IEEE ops
  * mirrored verbatim in SQL.
  */
object Classifier {

  /** Softsign link: p = 0.5 + 0.5·z/(1+|z|) — monotone (0,1) squash out
    * of correctly-rounded IEEE primitives only. */
  def softsignProb(z: Column): Column =
    lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))

  /** True logistic sigmoid — JVM-side only (exp is not cross-engine
    * reproducible); use for serving, not for oracle-gated training. */
  def sigmoidProb(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Intercept-augmented feature vector: [1.0, x_1 … x_dim], so the bias
    * trains as weight 0 in the same aggregation as the rest. */
  def augment(xCol: Column): Column =
    concat(array(lit(1.0)), Similarity.asDoubleVec(xCol))

  /** Margin z = w·[1,x] as one left fold against the broadcast weight
    * literal. */
  def margin(xCol: Column, w: Seq[Double]): Column =
    marginAug(augment(xCol), w)

  /** Margin over an ALREADY-augmented vector column (the training loop
    * materializes [1,x] once and reuses it every iteration). */
  private def marginAug(xaCol: Column, w: Seq[Double]): Column =
    aggregate(zip_with(xaCol, typedLit(w), (xi, wi) => xi * wi),
      lit(0.0), (acc, t) => acc + t)

  /** Train by full-batch GD: `iters` rounds of
    * w_j ← w_j − eta·(Σ_i ⌊r_i·x_ij·10¹²⌋/10¹² / n), r = (p−y)·classWeight.
    * Returns dim+1 weights, index 0 = intercept. `yCol` must be 0/1.
    *
    * Iterative-workload shape: the augmented feature frame is projected
    * ONCE to (xa, y) and persisted MEMORY_AND_DISK by the counts pass
    * (whose observed counts ride the write that fills the cache) for all
    * `iters` gradient passes — re-reading the source and
    * re-deriving [1,x] per iteration pays the scan+decode `iters`+1
    * times for identical bits (values are unchanged by the cache; only
    * where they're read from). At cluster scale the projected frame is
    * 8·(dim+1) bytes/row and spills to local disk when it outgrows
    * executor memory, which still beats a cold columnar re-scan. */
  def trainSoftsignGD(df: DataFrame, xCol: String, yCol: String, dim: Int,
      iters: Int, eta: Double, posWeight: Option[Double] = None): Seq[Double] = {
    val prepped = df
      .select(augment(col(xCol)).as("xa"), col(yCol).cast("double").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val y = col("y")
      // The counts ride the write that fills the cache: COUNTs, not a
      // SUM, so an empty frame reads 0 of 0 and reaches the require.
      val (_, counts) = Reduce.observed(prepped,
        count(when(y === 1.0, lit(1))).as("npos"), count(lit(1)).as("n"))(scan)
      val (npos, n) = (counts.getLong(0), counts.getLong(1))
      require(npos > 0 && npos < n,
        s"Classifier.trainSoftsignGD: need both classes present, got $npos of $n positive")
      val cw = posWeight.getOrElse((n - npos).toDouble / npos.toDouble)
      var w: Seq[Double] = Vector.fill(dim + 1)(0.0)
      for (_ <- 1 to iters) {
        val p = softsignProb(marginAug(col("xa"), w))
        val r = (p - y) * when(y === 1.0, lit(cw)).otherwise(lit(1.0))
        // dim+1 sum columns observed on ONE scan of the cached frame, not
        // a posexplode to (dim+1)·n rows + a (dim+1)-group shuffle: the
        // residual is projected once per row, each dimension's term is
        // floor(r·x_j·10¹²), and each task's buffer merges on the driver
        // with no exchange.
        val terms = (0 to dim).map { j =>
          (sum(floor((col("r") * element_at(col("xa"), j + 1)) * lit(1.0e12))
            .cast("decimal(38,0)")).cast("double") / lit(1.0e12)).as(s"g$j")
        }
        val (_, row) = Reduce.observed(prepped.select(r.as("r"), col("xa")), terms: _*)(scan)
        val g = (0 to dim).map(row.getDouble)
        w = w.indices.map(j => w(j) - eta * (g(j) / n.toDouble)).toVector
      }
      w
    } finally prepped.unpersist(blocking = false)
  }

  /** Run a frame's plan to the end and keep nothing: one job, no output. */
  private def scan(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Score a frame with trained weights: adds `p` (softsign probability)
    * and `pred` (p ≥ 0.5). Pure projection — no shuffle. */
  def scoreSoftsign(df: DataFrame, xCol: String, w: Seq[Double]): DataFrame = {
    val p = softsignProb(margin(col(xCol), w))
    df.withColumn("p", p).withColumn("pred", (col("p") >= 0.5).cast("int"))
  }
}
