package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + the reference's dirty-row fixtures
  * (`tests/conftest.py:11-169` ported verbatim: padded strings, lowercase
  * codes, a NULL policy_id row, an empty-string closed_date).
  */
object SparkTestBase {
  lazy val spark: SparkSession = graft.tools.Measure.session(cpus = 2)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  import org.apache.spark.sql.types._

  private def policySchema = StructType(Seq(
    "policy_id", "policyholder_first_name", "policyholder_last_name",
    "policyholder_email", "property_id", "coverage_type_code",
    "effective_date", "expiration_date", "status").map(StructField(_, StringType)) ++
    Seq("annual_premium", "deductible", "coverage_limit").map(StructField(_, DoubleType)) ++
    Seq("agent_id", "channel", "created_at", "updated_at").map(StructField(_, StringType)))

  /** `conftest.py:29-108`: POL-001 padded everywhere, POL-002 lowercase
    * code, one NULL policy_id row. Expected post-transform count: 2. */
  def samplePolicies: DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("POL-001", " John ", " Smith ", " john@test.com ",
        "PROP-001", "HO3", "2024-01-01", "2025-01-01", " active ",
        1200.50, 1000.0, 300000.0, "AGT-001", "ONLINE",
        "2023-12-15T00:00:00", "2024-01-01T00:00:00"),
      org.apache.spark.sql.Row("POL-002", "Jane", "Doe", "jane@test.com",
        "PROP-002", "ho5", "2024-03-15", "2025-03-15", "CANCELLED",
        2500.00, 2000.0, 500000.0, "AGT-002", "AGENT",
        "2024-03-01T00:00:00", "2024-06-01T00:00:00"),
      org.apache.spark.sql.Row(null, "Bad", "Record", "bad@test.com",
        "PROP-003", "DP1", "2024-05-01", "2025-05-01", "ACTIVE",
        800.0, 500.0, 100000.0, "AGT-003", "ONLINE",
        "2024-04-20T00:00:00", "2024-05-01T00:00:00"))
    spark.createDataFrame(rows.asJava, policySchema)
  }

  private def claimSchema = StructType(Seq(
    "claim_id", "policy_id", "claim_date", "reported_date", "closed_date",
    "claim_type", "claim_status").map(StructField(_, StringType)) ++
    Seq("claim_amount", "approved_amount", "deductible_applied").map(StructField(_, DoubleType)) ++
    Seq("adjuster_id", "cause_of_loss", "description", "created_at", "updated_at")
      .map(StructField(_, StringType)))

  /** `conftest.py:111-169`: CLM-001 closed; CLM-002 with empty-string
    * closed_date and lowercase claim_type. */
  def sampleClaims: DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("CLM-001", "POL-001", "2024-06-15", "2024-06-16",
        "2024-08-01", "WIND_DAMAGE", "CLOSED", 15000.0, 12000.0, 1000.0,
        "ADJ-001", "HURRICANE", "Wind damage claim",
        "2024-06-16T00:00:00", "2024-08-01T00:00:00"),
      org.apache.spark.sql.Row("CLM-002", "POL-001", "2024-09-01", "2024-09-03",
        "", "water_damage", "OPEN", 5000.0, 0.0, 0.0,
        "ADJ-002", "BURST_PIPE", "Pipe burst",
        "2024-09-03T00:00:00", "2024-09-10T00:00:00"))
    spark.createDataFrame(rows.asJava, claimSchema)
  }
}
