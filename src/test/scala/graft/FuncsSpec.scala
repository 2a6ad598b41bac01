package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Funcs
import graft.quality.SchemaValidator

/** Scalar helpers (SURVEY §2.8) incl. ScalaCheck-generated properties for
  * surrogate-key determinism, plus the pure schema validator. */
class FuncsSpec extends SparkTestBase {
  import spark.implicits._

  /** Minimal property driver over a Gen (no scalatestplus bridge in the
    * offline cache): deterministic seed, n samples. */
  private def forAllSampled[A](gen: Gen[A], n: Int = 20)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  test("surrogateKey matches the dbt macro shape and handles NULLs") {
    val df = Seq(("A", Some("B")), ("A", None)).toDF("k1", "k2")
      .select(Funcs.surrogateKey(col("k1"), col("k2")).as("sk"))
    val sks = df.collect().map(_.getString(0))
    assert(sks.forall(_.matches("[0-9a-f]{32}")))
    // null becomes the literal '_null_' inside the hash, so the two differ
    assert(sks.distinct.length === 2)
  }

  test("surrogateKey is deterministic across evaluations (property)") {
    val samples = scala.collection.mutable.ListBuffer[String]()
    forAllSampled(Gen.alphaNumStr.suchThat(_.length < 50), n = 20)(samples += _)
    val df = samples.distinct.toSeq.toDF("k")
      .select(col("k"), Funcs.surrogateKey(col("k")).as("sk"))
    val twice = df.select("sk").collect().map(_.getString(0)).toSeq
    val again = samples.distinct.toSeq.toDF("k")
      .select(Funcs.surrogateKey(col("k")).as("sk")).collect().map(_.getString(0)).toSeq
    assert(twice === again)
    assert(twice.forall(_.matches("[0-9a-f]{32}")))
  }

  test("emptyToNull nulls blank strings, casts the rest (property)") {
    forAllSampled(Gen.oneOf("", " ", "  ", "2024-01-02", "2025-12-31"), n = 10) { s =>
      val out = Seq(s).toDF("v")
        .select(Funcs.emptyToNull(col("v"), DateType).as("d")).head()
      if (s.trim.isEmpty) assert(out.isNullAt(0))
      else assert(out.getDate(0).toString === s)
    }
  }

  test("maskEmail masks user and domain like the reference policy") {
    val out = Seq("john.doe@corp.com", null).toDF("e")
      .select(Funcs.maskEmail(col("e")).as("m")).collect()
    assert(out(0).getString(0) === "jo***@***.***")
    assert(out(1).isNullAt(0))
  }

  test("maskName keeps first char only") {
    val out = Seq("Smith", "", null).toDF("n")
      .select(Funcs.maskName(col("n")).as("m")).collect()
    assert(out(0).getString(0) === "S****")
    assert(out(1).getString(0) === "")
    assert(out(2).isNullAt(0))
  }

  test("SQL UDF registration mirrors the Column helpers") {
    val r = spark.sql(
      "SELECT mask_email('john.doe@corp.com') AS e, mask_name('Smith') AS n").head()
    assert(r.getString(0) === "jo***@***.***" && r.getString(1) === "S****")
  }

  test("validateSchema flags missing/extra/type mismatches") {
    val df = Seq((1, "x")).toDF("a", "b")
    val expected = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.IntegerType)))
    val r = SchemaValidator.validateSchema(df, expected, strict = true)
    assert(!r.passed)
    assert(r.missingColumns === Seq("c"))
    assert(r.extraColumns === Seq("b"))
    assert(r.typeMismatches.map(_.column) === Seq("a"))
  }

  test("compareSchemas reports nullability differences") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("x", IntegerType, nullable = true)))
    val b = StructType(Seq(StructField("x", IntegerType, nullable = false)))
    val diff = SchemaValidator.compareSchemas(a, b)
    assert(diff.compatible && diff.nullableDifferences === Seq("x"))
  }
}
