package graft

import org.apache.spark.sql.functions._

import graft.llm.Classifier
import graft.tools.Measure

/** Softsign-GD classifier ([[graft.llm.Classifier]]): learns a linearly
  * separable problem, class weighting defaults to n_neg/n_pos, training
  * is deterministic across runs, the softsign link tracks the true
  * sigmoid's decisions, degenerate label sets and empty input fail
  * loudly, and each GD iteration is one job.
  */
class ClassifierSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  /** Linearly separable: positives shifted +1 along dims 0-1. */
  private def separable = {
    val rows = (0 until 60).map { i =>
      val pos = i % 3 == 0
      val base = Array.tabulate(dim)(j => math.sin(i * 1.7 + j * 0.9) * 0.3)
      if (pos) { base(0) += 1.0; base(1) += 1.0 }
      (i.toLong, base, if (pos) 1 else 0)
    }
    rows.toDF("id", "x", "y")
  }

  test("learns a separable problem well above the base rate") {
    val df = separable
    val w = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 8, eta = 2.0)
    assert(w.length == dim + 1)
    val scored = Classifier.scoreSoftsign(df, "x", w)
    val acc = scored.filter(col("pred") === col("y")).count().toDouble / 60.0
    assert(acc >= 0.9, s"accuracy $acc")
    // weights on the shifted dims dominate
    assert(math.abs(w(1)) > math.abs(w(4)) && math.abs(w(2)) > math.abs(w(4)))
  }

  test("training is deterministic run-to-run") {
    val df = separable
    val w1 = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 4, eta = 2.0)
    val w2 = Classifier.trainSoftsignGD(df.repartition(7), "x", "y", dim, iters = 4, eta = 2.0)
    assert(w1 == w2, "weights must not depend on partitioning")
  }

  test("softsign decisions track the true sigmoid's at the 0.5 threshold") {
    // Both links cross 0.5 exactly at z = 0, so predictions agree for any
    // weight vector; only calibration differs.
    val df = separable
    val w = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 8, eta = 2.0)
    val both = df.select(col("y"),
      (Classifier.softsignProb(Classifier.margin(col("x"), w)) >= 0.5).as("soft"),
      (Classifier.sigmoidProb(Classifier.margin(col("x"), w)) >= 0.5).as("sig"))
    assert(both.filter(col("soft") =!= col("sig")).count() == 0)
  }

  test("explicit posWeight overrides the n_neg/n_pos default") {
    val df = separable
    val wDefault = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 2, eta = 2.0)
    val wSame = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 2, eta = 2.0,
      posWeight = Some(2.0)) // 40 neg / 20 pos = 2.0 — must equal the default
    val wOther = Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 2, eta = 2.0,
      posWeight = Some(1.0))
    assert(wDefault == wSame)
    assert(wDefault != wOther)
  }

  test("single-class input fails loudly") {
    val df = separable.filter(col("y") === 0)
    val ex = intercept[IllegalArgumentException] {
      Classifier.trainSoftsignGD(df, "x", "y", dim, iters = 1, eta = 1.0)
    }
    assert(ex.getMessage.contains("both classes"))
  }

  test("empty input fails on purpose, naming the trainer and the class counts") {
    val ex = intercept[IllegalArgumentException] {
      Classifier.trainSoftsignGD(separable.filter(lit(false)), "x", "y", dim, iters = 1, eta = 1.0)
    }
    assert(ex.getMessage.contains("trainSoftsignGD") &&
      ex.getMessage.contains("both classes present, got 0 of 0 positive"), ex.getMessage)
  }

  test("each GD iteration is one job") {
    val df = separable
    def jobs(iters: Int): Int = Measure.counted(spark)(
      Classifier.trainSoftsignGD(df, "x", "y", dim, iters = iters, eta = 2.0))._2.jobs
    val (two, four) = (jobs(2), jobs(4))
    assert(four - two === 2, s"jobs at 2 iterations $two, at 4 iterations $four")
  }
}
