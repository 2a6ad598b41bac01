package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GoldDims, GoldFacts, Scd2, SilverTransforms}
import graft.quality.Checks
import graft.validation.Reconciler
import Registry.T

/** Driver-gradable queries for the reference's named pipeline transforms
  * (SURVEY §2.11-§2.12): the TPC-H testdata is shaped into the insurance
  * raw schemas (with deliberate dirty rows: padded strings, lowercase
  * codes, NULL keys, empty-string dates, negative amounts), then the REAL
  * library code (SilverTransforms / GoldDims / GoldFacts / Scd2 / Checks /
  * Reconciler) runs on it, and the DuckDB oracle replicates both the
  * shaping and the reference semantics in SQL.
  */
object PipelineQueries {

  private val clock = to_timestamp(lit("2026-01-01 00:00:00"))
  private[queries] val asOf = lit("2026-06-01").cast("date")

  // ----- TPC-H → insurance shaping (Spark side) -------------------------

  private def rawPolicies(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").alias("o")
      .join(T(s, dir, "customer").alias("c"), col("o.o_custkey") === col("c.c_custkey"))
      .select(
        when(col("o.o_orderkey") % 97 === 0, lit(null).cast("string"))
          .otherwise(col("o.o_orderkey").cast("string")).as("policy_id"),
        concat(lit("  "), col("c.c_name")).as("policyholder_first_name"),
        concat(col("c.c_mktsegment"), lit(" ")).as("policyholder_last_name"),
        concat(lit(" "), col("c.c_name"), lit("@example.com ")).as("policyholder_email"),
        col("o.o_custkey").cast("string").as("property_id"),
        when(col("o.o_orderpriority") === "1-URGENT", "ho3")
          .when(col("o.o_orderpriority") === "2-HIGH", "ho5")
          .when(col("o.o_orderpriority") === "3-MEDIUM", "dp1")
          .when(col("o.o_orderpriority") === "4-NOT SPECIFIED", "flood")
          .otherwise("wind").as("coverage_type_code"),
        col("o.o_orderdate").cast("date").cast("string").as("effective_date"),
        date_add(col("o.o_orderdate").cast("date"), 365).cast("string").as("expiration_date"),
        when(col("o.o_orderstatus") === "O", " active ")
          .when(col("o.o_orderstatus") === "F", "EXPIRED")
          .otherwise("pending").as("status"),
        col("o.o_totalprice").as("annual_premium"),
        ((col("o.o_orderkey") % 2000).cast("double") + 0.5).as("deductible"),
        (col("o.o_totalprice") * 10).as("coverage_limit"),
        concat(lit("AGT-"), (col("o.o_custkey") % 100).cast("string")).as("agent_id"),
        when(col("o.o_custkey") % 5 === 0, "ONLINE")
          .when(col("o.o_custkey") % 5 === 1, "AGENT")
          .when(col("o.o_custkey") % 5 === 2, "REFERRAL")
          .when(col("o.o_custkey") % 5 === 3, "PARTNER")
          .otherwise("DIRECT_MAIL").as("channel"),
        col("o.o_orderdate").cast("date").cast("string").as("created_at"),
        date_add(col("o.o_orderdate").cast("date"), (col("o.o_orderkey") % 5).cast("int"))
          .cast("string").as("updated_at"))

  private val rawPoliciesSql =
    """SELECT
      |  CASE WHEN o.o_orderkey % 97 = 0 THEN NULL
      |       ELSE CAST(o.o_orderkey AS VARCHAR) END AS policy_id,
      |  '  ' || c.c_name AS policyholder_first_name,
      |  c.c_mktsegment || ' ' AS policyholder_last_name,
      |  ' ' || c.c_name || '@example.com ' AS policyholder_email,
      |  CAST(o.o_custkey AS VARCHAR) AS property_id,
      |  CASE o.o_orderpriority WHEN '1-URGENT' THEN 'ho3' WHEN '2-HIGH' THEN 'ho5'
      |       WHEN '3-MEDIUM' THEN 'dp1' WHEN '4-NOT SPECIFIED' THEN 'flood'
      |       ELSE 'wind' END AS coverage_type_code,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS effective_date,
      |  CAST(CAST(o.o_orderdate AS DATE) + 365 AS VARCHAR) AS expiration_date,
      |  CASE o.o_orderstatus WHEN 'O' THEN ' active ' WHEN 'F' THEN 'EXPIRED'
      |       ELSE 'pending' END AS status,
      |  o.o_totalprice AS annual_premium,
      |  CAST(o.o_orderkey % 2000 AS DOUBLE) + 0.5 AS deductible,
      |  o.o_totalprice * 10 AS coverage_limit,
      |  'AGT-' || CAST(o.o_custkey % 100 AS VARCHAR) AS agent_id,
      |  CASE CAST(o.o_custkey % 5 AS INT) WHEN 0 THEN 'ONLINE' WHEN 1 THEN 'AGENT'
      |       WHEN 2 THEN 'REFERRAL' WHEN 3 THEN 'PARTNER'
      |       ELSE 'DIRECT_MAIL' END AS channel,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS created_at,
      |  CAST(CAST(o.o_orderdate AS DATE) + CAST(o.o_orderkey % 5 AS INT) AS VARCHAR) AS updated_at
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  private val silverPoliciesSql =
    s"""SELECT policy_id,
       |  trim(policyholder_first_name) AS policyholder_first_name,
       |  trim(policyholder_last_name) AS policyholder_last_name,
       |  concat_ws(' ', trim(policyholder_first_name), trim(policyholder_last_name))
       |    AS policyholder_full_name,
       |  trim(policyholder_email) AS policyholder_email,
       |  property_id,
       |  upper(trim(coverage_type_code)) AS coverage_type_code,
       |  CAST(effective_date AS DATE) AS effective_date,
       |  CAST(expiration_date AS DATE) AS expiration_date,
       |  upper(trim(status)) AS status,
       |  CAST(annual_premium AS DECIMAL(12,2)) AS annual_premium,
       |  CAST(deductible AS DECIMAL(12,2)) AS deductible,
       |  CAST(coverage_limit AS DECIMAL(14,2)) AS coverage_limit,
       |  trim(agent_id) AS agent_id,
       |  trim(channel) AS channel,
       |  CAST(created_at AS TIMESTAMP) AS created_at,
       |  CAST(updated_at AS TIMESTAMP) AS updated_at,
       |  TIMESTAMP '2026-01-01 00:00:00' AS _cleaned_timestamp
       |FROM ($rawPoliciesSql) rp
       |WHERE policy_id IS NOT NULL AND effective_date IS NOT NULL""".stripMargin

  private def rawClaims(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").select(
      when(col("l_partkey") % 41 === 0, lit(null).cast("string"))
        .otherwise(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"), lit("-"),
          col("l_partkey").cast("string"), lit("-"),
          col("l_suppkey").cast("string"))).as("claim_id"),
      col("l_orderkey").cast("string").as("policy_id"),
      col("l_shipdate").cast("date").cast("string").as("claim_date"),
      date_add(col("l_shipdate").cast("date"), col("l_quantity").cast("int"))
        .cast("string").as("reported_date"),
      when(col("l_linestatus") === "O", lit(""))
        .otherwise(date_add(col("l_shipdate").cast("date"), 60).cast("string"))
        .as("closed_date"),
      when(col("l_returnflag") === "R", "water_damage")
        .when(col("l_returnflag") === "A", "fire")
        .otherwise("theft").as("claim_type"),
      when(col("l_linestatus") === "O", "open").otherwise("closed").as("claim_status"),
      when(col("l_partkey") % 31 === 0, -col("l_extendedprice"))
        .otherwise(col("l_extendedprice")).as("claim_amount"),
      (col("l_extendedprice") - col("l_quantity")).as("approved_amount"),
      col("l_quantity").as("deductible_applied"),
      concat(lit("ADJ-"), (col("l_suppkey") % 50).cast("string")).as("adjuster_id"),
      concat(lit(" "), col("l_returnflag"), lit(" ")).as("cause_of_loss"),
      concat(lit("line "), col("l_linenumber").cast("string")).as("description"),
      col("l_shipdate").cast("date").cast("string").as("created_at"),
      col("l_shipdate").cast("date").cast("string").as("updated_at"))

  private val rawClaimsSql =
    """SELECT
      |  CASE WHEN l_partkey % 41 = 0 THEN NULL
      |       ELSE CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) ||
      |            '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)
      |       END AS claim_id,
      |  CAST(l_orderkey AS VARCHAR) AS policy_id,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS claim_date,
      |  CAST(CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS VARCHAR) AS reported_date,
      |  CASE WHEN l_linestatus = 'O' THEN ''
      |       ELSE CAST(CAST(l_shipdate AS DATE) + 60 AS VARCHAR) END AS closed_date,
      |  CASE l_returnflag WHEN 'R' THEN 'water_damage' WHEN 'A' THEN 'fire'
      |       ELSE 'theft' END AS claim_type,
      |  CASE WHEN l_linestatus = 'O' THEN 'open' ELSE 'closed' END AS claim_status,
      |  CASE WHEN l_partkey % 31 = 0 THEN -l_extendedprice
      |       ELSE l_extendedprice END AS claim_amount,
      |  l_extendedprice - l_quantity AS approved_amount,
      |  l_quantity AS deductible_applied,
      |  'ADJ-' || CAST(l_suppkey % 50 AS VARCHAR) AS adjuster_id,
      |  ' ' || l_returnflag || ' ' AS cause_of_loss,
      |  'line ' || CAST(l_linenumber AS VARCHAR) AS description,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS created_at,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS updated_at
      |FROM lineitem""".stripMargin

  private val silverClaimsSql =
    s"""SELECT claim_id, policy_id,
       |  CAST(claim_date AS DATE) AS claim_date,
       |  CAST(reported_date AS DATE) AS reported_date,
       |  CASE WHEN closed_date = '' THEN NULL
       |       ELSE CAST(closed_date AS DATE) END AS closed_date,
       |  upper(trim(claim_type)) AS claim_type,
       |  upper(trim(claim_status)) AS claim_status,
       |  CAST(claim_amount AS DECIMAL(12,2)) AS claim_amount,
       |  CAST(approved_amount AS DECIMAL(12,2)) AS approved_amount,
       |  CAST(deductible_applied AS DECIMAL(12,2)) AS deductible_applied,
       |  trim(adjuster_id) AS adjuster_id,
       |  trim(cause_of_loss) AS cause_of_loss,
       |  trim(description) AS description,
       |  CAST(created_at AS TIMESTAMP) AS created_at,
       |  CAST(updated_at AS TIMESTAMP) AS updated_at,
       |  TIMESTAMP '2026-01-01 00:00:00' AS _cleaned_timestamp
       |FROM ($rawClaimsSql) rc
       |WHERE claim_id IS NOT NULL AND policy_id IS NOT NULL AND claim_amount >= 0""".stripMargin

  private def rawPremiums(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").select(
      when(col("l_suppkey") % 43 === 0, lit(null).cast("string"))
        .otherwise(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"), lit("-"),
          col("l_partkey").cast("string"), lit("-"),
          col("l_suppkey").cast("string"))).as("premium_id"),
      col("l_orderkey").cast("string").as("policy_id"),
      col("l_shipdate").cast("date").cast("string").as("payment_date"),
      date_add(col("l_shipdate").cast("date"), col("l_quantity").cast("int") - 25)
        .cast("string").as("due_date"),
      when(col("l_partkey") % 37 === 0, lit(0.0)).otherwise(col("l_extendedprice"))
        .as("amount"),
      when(col("l_suppkey") % 5 === 0, "ach")
        .when(col("l_suppkey") % 5 === 1, "credit_card")
        .when(col("l_suppkey") % 5 === 2, "check")
        .when(col("l_suppkey") % 5 === 3, "wire")
        .otherwise("escrow").as("payment_method"),
      when(col("l_returnflag") === "A", "completed")
        .when(col("l_returnflag") === "R", "failed")
        .otherwise("pending").as("payment_status"),
      lit(" MONTHLY ").as("billing_period"),
      col("l_shipdate").cast("date").cast("string").as("period_start_date"),
      date_add(col("l_shipdate").cast("date"), 30).cast("string").as("period_end_date"),
      col("l_shipdate").cast("date").cast("string").as("created_at"))

  private val rawPremiumsSql =
    """SELECT
      |  CASE WHEN l_suppkey % 43 = 0 THEN NULL
      |       ELSE CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) ||
      |            '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)
      |       END AS premium_id,
      |  CAST(l_orderkey AS VARCHAR) AS policy_id,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS payment_date,
      |  CAST(CAST(l_shipdate AS DATE) + (CAST(l_quantity AS INT) - 25) AS VARCHAR) AS due_date,
      |  CASE WHEN l_partkey % 37 = 0 THEN 0.0 ELSE l_extendedprice END AS amount,
      |  CASE CAST(l_suppkey % 5 AS INT) WHEN 0 THEN 'ach' WHEN 1 THEN 'credit_card'
      |       WHEN 2 THEN 'check' WHEN 3 THEN 'wire' ELSE 'escrow' END AS payment_method,
      |  CASE l_returnflag WHEN 'A' THEN 'completed' WHEN 'R' THEN 'failed'
      |       ELSE 'pending' END AS payment_status,
      |  ' MONTHLY ' AS billing_period,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS period_start_date,
      |  CAST(CAST(l_shipdate AS DATE) + 30 AS VARCHAR) AS period_end_date,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS created_at
      |FROM lineitem""".stripMargin

  private val silverPremiumsSql =
    s"""SELECT premium_id, policy_id,
       |  CAST(payment_date AS DATE) AS payment_date,
       |  CAST(due_date AS DATE) AS due_date,
       |  CAST(amount AS DECIMAL(12,2)) AS amount,
       |  upper(trim(payment_method)) AS payment_method,
       |  upper(trim(payment_status)) AS payment_status,
       |  trim(billing_period) AS billing_period,
       |  CAST(period_start_date AS DATE) AS period_start_date,
       |  CAST(period_end_date AS DATE) AS period_end_date,
       |  CAST(created_at AS TIMESTAMP) AS created_at,
       |  TIMESTAMP '2026-01-01 00:00:00' AS _cleaned_timestamp
       |FROM ($rawPremiumsSql) rp
       |WHERE premium_id IS NOT NULL AND policy_id IS NOT NULL AND amount > 0""".stripMargin

  private def rawProperties(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
      when(col("p_partkey") % 89 === 0, lit(null).cast("string"))
        .otherwise(col("p_partkey").cast("string")).as("property_id"),
      concat(lit(" "), col("p_name")).as("street_address"),
      col("p_brand").as("city"),
      when(col("p_partkey") % 4 === 0, "tx").when(col("p_partkey") % 4 === 1, "FL")
        .when(col("p_partkey") % 4 === 2, "ca").otherwise("ny").as("state"),
      (lit(10000) + col("p_size") * 100).cast("string").as("zip_code"),
      col("p_type").as("county"),
      (col("p_size").cast("double") + 0.5).as("latitude"),
      (-(col("p_size").cast("double") + 0.25)).as("longitude"),
      (lit(1900) + (col("p_partkey") % 120).cast("int")).as("year_built"),
      (col("p_size") * 100).as("square_footage"),
      ((col("p_partkey") % 3).cast("int") + 1).as("stories"),
      when(col("p_partkey") % 6 === 0, "frame").when(col("p_partkey") % 6 === 1, "masonry")
        .when(col("p_partkey") % 6 === 2, "concrete").when(col("p_partkey") % 6 === 3, "steel")
        .when(col("p_partkey") % 6 === 4, "wood").otherwise("manufactured")
        .as("construction_type"),
      when(col("p_partkey") % 6 === 0, "shingle").when(col("p_partkey") % 6 === 1, "tile")
        .when(col("p_partkey") % 6 === 2, "metal").when(col("p_partkey") % 6 === 3, "flat")
        .when(col("p_partkey") % 6 === 4, "slate").otherwise("wood_shake").as("roof_type"),
      when(col("p_partkey") % 4 === 0, "primary").when(col("p_partkey") % 4 === 1, "secondary")
        .when(col("p_partkey") % 4 === 2, "rental").otherwise("vacant").as("occupancy_type"),
      when(col("p_partkey") % 8 === 0, "a").when(col("p_partkey") % 8 === 1, "ae")
        .when(col("p_partkey") % 8 === 2, "v").when(col("p_partkey") % 8 === 3, "ve")
        .when(col("p_partkey") % 8 === 4, "b").when(col("p_partkey") % 8 === 5, "c")
        .when(col("p_partkey") % 8 === 6, "x").otherwise("x500").as("flood_zone"),
      ((col("p_partkey") % 5) + 1).cast("string").as("wind_zone"),
      col("p_retailprice").as("property_value"),
      lit("2024-01-02 03:04:05").as("created_at"),
      lit("2024-01-02 03:04:05").as("updated_at"))

  private val rawPropertiesSql =
    """SELECT
      |  CASE WHEN p_partkey % 89 = 0 THEN NULL
      |       ELSE CAST(p_partkey AS VARCHAR) END AS property_id,
      |  ' ' || p_name AS street_address,
      |  p_brand AS city,
      |  CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN 'tx' WHEN 1 THEN 'FL'
      |       WHEN 2 THEN 'ca' ELSE 'ny' END AS state,
      |  CAST(10000 + p_size * 100 AS VARCHAR) AS zip_code,
      |  p_type AS county,
      |  CAST(p_size AS DOUBLE) + 0.5 AS latitude,
      |  -(CAST(p_size AS DOUBLE) + 0.25) AS longitude,
      |  1900 + CAST(p_partkey % 120 AS INT) AS year_built,
      |  p_size * 100 AS square_footage,
      |  CAST(p_partkey % 3 AS INT) + 1 AS stories,
      |  CASE CAST(p_partkey % 6 AS INT) WHEN 0 THEN 'frame' WHEN 1 THEN 'masonry'
      |       WHEN 2 THEN 'concrete' WHEN 3 THEN 'steel' WHEN 4 THEN 'wood'
      |       ELSE 'manufactured' END AS construction_type,
      |  CASE CAST(p_partkey % 6 AS INT) WHEN 0 THEN 'shingle' WHEN 1 THEN 'tile'
      |       WHEN 2 THEN 'metal' WHEN 3 THEN 'flat' WHEN 4 THEN 'slate'
      |       ELSE 'wood_shake' END AS roof_type,
      |  CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN 'primary' WHEN 1 THEN 'secondary'
      |       WHEN 2 THEN 'rental' ELSE 'vacant' END AS occupancy_type,
      |  CASE CAST(p_partkey % 8 AS INT) WHEN 0 THEN 'a' WHEN 1 THEN 'ae' WHEN 2 THEN 'v'
      |       WHEN 3 THEN 've' WHEN 4 THEN 'b' WHEN 5 THEN 'c' WHEN 6 THEN 'x'
      |       ELSE 'x500' END AS flood_zone,
      |  CAST(CAST(p_partkey % 5 AS INT) + 1 AS VARCHAR) AS wind_zone,
      |  p_retailprice AS property_value,
      |  '2024-01-02 03:04:05' AS created_at,
      |  '2024-01-02 03:04:05' AS updated_at
      |FROM part""".stripMargin

  private val silverPropertiesSql =
    s"""SELECT property_id,
       |  trim(street_address) AS street_address,
       |  trim(city) AS city,
       |  upper(trim(state)) AS state,
       |  trim(zip_code) AS zip_code,
       |  trim(county) AS county,
       |  CAST(latitude AS DECIMAL(10,7)) AS latitude,
       |  CAST(longitude AS DECIMAL(10,7)) AS longitude,
       |  CAST(year_built AS INT) AS year_built,
       |  CAST(square_footage AS INT) AS square_footage,
       |  upper(trim(construction_type)) AS construction_type,
       |  upper(trim(roof_type)) AS roof_type,
       |  CAST(stories AS INT) AS stories,
       |  upper(trim(occupancy_type)) AS occupancy_type,
       |  upper(trim(flood_zone)) AS flood_zone,
       |  upper(trim(wind_zone)) AS wind_zone,
       |  CAST(property_value AS DECIMAL(14,2)) AS property_value,
       |  CAST(created_at AS TIMESTAMP) AS created_at,
       |  CAST(updated_at AS TIMESTAMP) AS updated_at,
       |  TIMESTAMP '2026-01-01 00:00:00' AS _cleaned_timestamp
       |FROM ($rawPropertiesSql) rp
       |WHERE property_id IS NOT NULL""".stripMargin

  private val premiumSummarySql =
    s"""SELECT policy_id,
       |  count(*) AS total_premium_payments,
       |  CAST(SUM(amount) AS DECIMAL(12,2)) AS total_paid,
       |  CAST(SUM(CASE WHEN payment_status = 'COMPLETED' THEN amount ELSE 0 END)
       |       AS DECIMAL(12,2)) AS total_premium_collected,
       |  CAST(SUM(CASE WHEN payment_status = 'FAILED' THEN amount ELSE 0 END)
       |       AS DECIMAL(12,2)) AS total_failed,
       |  CAST(SUM(CASE WHEN payment_status = 'PENDING' THEN amount ELSE 0 END)
       |       AS DECIMAL(12,2)) AS total_pending,
       |  MIN(payment_date) AS first_payment_date,
       |  MAX(payment_date) AS last_payment_date,
       |  CAST(count(CASE WHEN payment_date > due_date THEN 1 END) AS INT)
       |    AS late_premium_payments,
       |  AVG(date_diff('day', due_date, payment_date)) AS avg_days_from_due
       |FROM ($silverPremiumsSql) sp GROUP BY policy_id""".stripMargin

  // Spark pipeline stages (the real library code under test)
  private[queries] def silverPolicies(s: SparkSession, dir: String) =
    SilverTransforms.transformPolicies(rawPolicies(s, dir), clock)
  private[queries] def silverClaims(s: SparkSession, dir: String) =
    SilverTransforms.transformClaims(rawClaims(s, dir), clock)
  private[queries] def silverPremiums(s: SparkSession, dir: String) =
    SilverTransforms.transformPremiums(rawPremiums(s, dir), clock)
  private[queries] def silverProperties(s: SparkSession, dir: String) =
    SilverTransforms.transformProperties(rawProperties(s, dir), clock)

  /** Exposed for SparkEntry.entry (driver smoke check at sf0.001). */
  def factClaimsQuery(s: SparkSession, dir: String): DataFrame =
    GoldFacts.buildFactClaims(silverClaims(s, dir), silverPolicies(s, dir),
      silverProperties(s, dir)).orderBy("claim_id")

  // Terminal gate projections cast DECIMAL→DOUBLE on both sides (see
  // Registry.decimalsToDouble scaladoc); the library builders under test
  // keep their DECIMAL schemas untouched.
  private def dbl(df: DataFrame): DataFrame = Registry.decimalsToDouble(df)

  // Mart oracles shared with SqlMartQueries: the SQL-text twins are
  // gated against the SAME oracle text as the DataFrame builders.
  private[queries] val dimPolicyOracle: String =
    s"""WITH sp AS ($silverPoliciesSql), ps AS ($premiumSummarySql)
              |SELECT p.policy_id, p.policyholder_first_name, p.policyholder_last_name,
              |  p.policyholder_full_name, p.policyholder_email, p.property_id,
              |  p.coverage_type_code, p.effective_date, p.expiration_date, p.status,
              |  CAST(p.annual_premium AS DOUBLE) AS annual_premium,
              |  CAST(p.deductible AS DOUBLE) AS deductible,
              |  CAST(p.coverage_limit AS DOUBLE) AS coverage_limit,
              |  p.agent_id, p.channel,
              |  COALESCE(ps.total_premium_payments, 0) AS total_premium_payments,
              |  CAST(COALESCE(ps.total_premium_collected, CAST(0 AS DECIMAL(12,2)))
              |    AS DOUBLE) AS total_premium_collected,
              |  COALESCE(ps.late_premium_payments, 0) AS late_premium_payments,
              |  date_diff('day', p.effective_date, p.expiration_date) AS policy_term_days,
              |  CASE WHEN p.status = 'ACTIVE' AND p.expiration_date >= DATE '2026-06-01'
              |         THEN 'IN FORCE'
              |       WHEN p.status = 'ACTIVE' AND p.expiration_date < DATE '2026-06-01'
              |         THEN 'EXPIRED'
              |       WHEN p.status = 'CANCELLED' THEN 'CANCELLED'
              |       WHEN p.status = 'PENDING' THEN 'PENDING'
              |       ELSE 'UNKNOWN' END AS policy_status_category,
              |  p.updated_at AS effective_start_date,
              |  CAST(NULL AS TIMESTAMP) AS effective_end_date,
              |  TRUE AS is_current,
              |  p.created_at, p.updated_at,
              |  md5(concat_ws('|', COALESCE(CAST(p.policy_id AS VARCHAR), '_null_'),
              |      COALESCE(CAST(p.updated_at AS VARCHAR), '_null_'))) AS policy_sk
              |FROM sp p LEFT JOIN ps ON p.policy_id = ps.policy_id
              |ORDER BY p.policy_id""".stripMargin

  private[queries] val dimPropertyOracle: String =
    s"""WITH sp AS ($silverPropertiesSql)
              |SELECT
              |  md5(concat_ws('|', COALESCE(CAST(property_id AS VARCHAR), '_null_'),
              |      COALESCE(CAST(updated_at AS VARCHAR), '_null_'))) AS property_sk,
              |  property_id, street_address, city, state, zip_code, county,
              |  CAST(latitude AS DOUBLE) AS latitude,
              |  CAST(longitude AS DOUBLE) AS longitude,
              |  year_built, square_footage, construction_type,
              |  roof_type, stories, occupancy_type, flood_zone, wind_zone,
              |  CAST(property_value AS DOUBLE) AS property_value,
              |  2026 - year_built AS property_age_years,
              |  CASE WHEN construction_type IN ('MASONRY', 'CONCRETE') THEN 'LOW'
              |       WHEN construction_type IN ('FRAME', 'WOOD') THEN 'HIGH'
              |       ELSE 'MEDIUM' END AS construction_risk_tier,
              |  CASE WHEN flood_zone IN ('A', 'AE', 'V', 'VE') THEN 'HIGH'
              |       WHEN flood_zone IN ('B', 'X500') THEN 'MODERATE'
              |       ELSE 'LOW' END AS flood_risk_tier,
              |  CASE WHEN wind_zone IN ('4', '5') THEN 'HIGH'
              |       WHEN wind_zone = '3' THEN 'MODERATE'
              |       ELSE 'LOW' END AS wind_risk_tier,
              |  updated_at AS effective_start_date,
              |  CAST(NULL AS TIMESTAMP) AS effective_end_date,
              |  TRUE AS is_current,
              |  created_at, updated_at
              |FROM sp ORDER BY property_id""".stripMargin

  private[queries] val dimCoverageOracle: String =
    s"""WITH sp AS ($silverPoliciesSql),
              |codes AS (SELECT DISTINCT coverage_type_code FROM sp)
              |SELECT
              |  md5(concat_ws('|', COALESCE(coverage_type_code, '_null_'))) AS coverage_sk,
              |  coverage_type_code,
              |  CASE coverage_type_code
              |    WHEN 'HO3' THEN 'Special Form Homeowners'
              |    WHEN 'HO5' THEN 'Comprehensive Form Homeowners'
              |    WHEN 'HO6' THEN 'Condo Unit Owners'
              |    WHEN 'DP1' THEN 'Basic Dwelling Fire'
              |    WHEN 'DP3' THEN 'Special Dwelling Fire'
              |    WHEN 'HO4' THEN 'Renters Insurance'
              |    WHEN 'FLOOD' THEN 'Flood Insurance'
              |    WHEN 'WIND' THEN 'Wind/Hurricane Coverage'
              |    ELSE 'Other' END AS coverage_type_name,
              |  CASE WHEN coverage_type_code IN ('HO3', 'HO5', 'HO6') THEN 'Homeowners'
              |       WHEN coverage_type_code IN ('DP1', 'DP3') THEN 'Dwelling'
              |       WHEN coverage_type_code = 'HO4' THEN 'Renters'
              |       WHEN coverage_type_code IN ('FLOOD', 'WIND') THEN 'Specialty'
              |       ELSE 'Other' END AS coverage_category,
              |  TRUE AS is_current
              |FROM codes ORDER BY coverage_type_code""".stripMargin

  private[queries] val factClaimsOracle: String =
    s"""WITH sc AS ($silverClaimsSql), sp AS ($silverPoliciesSql),
              |spr AS ($silverPropertiesSql)
              |SELECT c.claim_id, c.policy_id, p.property_id, p.coverage_type_code,
              |  c.claim_date AS claim_date_key,
              |  c.reported_date AS reported_date_key,
              |  c.closed_date AS closed_date_key,
              |  c.claim_type, c.claim_status, c.cause_of_loss, c.adjuster_id,
              |  CAST(c.claim_amount AS DOUBLE) AS claim_amount,
              |  CAST(c.approved_amount AS DOUBLE) AS approved_amount,
              |  CAST(c.deductible_applied AS DOUBLE) AS deductible_applied,
              |  CAST(LEAST(c.claim_amount, p.coverage_limit) AS DOUBLE) AS capped_claim_amount,
              |  CAST(c.approved_amount - c.deductible_applied AS DOUBLE) AS net_claim_payout,
              |  CAST(p.annual_premium AS DOUBLE) AS annual_premium,
              |  CAST(p.deductible AS DOUBLE) AS policy_deductible,
              |  CAST(p.coverage_limit AS DOUBLE) AS coverage_limit,
              |  CAST(c.claim_amount AS DOUBLE) /
              |    NULLIF(CAST(p.annual_premium AS DOUBLE), 0) AS claim_to_premium_ratio,
              |  date_diff('day', c.claim_date, c.reported_date) AS days_to_report,
              |  date_diff('day', c.reported_date, c.closed_date) AS days_to_close,
              |  pr.state AS property_state,
              |  pr.flood_zone, pr.wind_zone,
              |  c.claim_amount > p.coverage_limit AS exceeds_coverage_limit,
              |  date_diff('day', c.claim_date, c.reported_date) > 30 AS late_reported,
              |  c.claim_status = 'CLOSED' AS is_closed,
              |  c.approved_amount > 0 AS is_paid
              |FROM sc c
              |JOIN sp p ON c.policy_id = p.policy_id
              |LEFT JOIN spr pr ON p.property_id = pr.property_id
              |ORDER BY c.claim_id""".stripMargin

  private[queries] val factPremiumsOracle: String =
    s"""WITH spr AS ($silverPremiumsSql), sp AS ($silverPoliciesSql)
              |SELECT pr.premium_id, pr.policy_id, p.property_id, p.coverage_type_code,
              |  pr.payment_date AS payment_date_key,
              |  pr.due_date AS due_date_key,
              |  pr.period_start_date, pr.period_end_date,
              |  pr.payment_method, pr.payment_status, pr.billing_period,
              |  p.agent_id, p.channel,
              |  CAST(pr.amount AS DOUBLE) AS premium_amount,
              |  CAST(CASE WHEN pr.payment_status = 'COMPLETED' THEN pr.amount
              |       ELSE 0 END AS DOUBLE) AS collected_amount,
              |  CAST(CASE WHEN pr.payment_status = 'FAILED' THEN pr.amount
              |       ELSE 0 END AS DOUBLE) AS failed_amount,
              |  date_diff('day', pr.due_date, pr.payment_date) AS days_from_due,
              |  pr.payment_date > pr.due_date AS is_late_payment,
              |  pr.payment_status = 'COMPLETED' AS is_collected,
              |  pr.payment_status = 'FAILED' AS is_failed
              |FROM spr pr
              |LEFT JOIN sp p ON pr.policy_id = p.policy_id
              |ORDER BY pr.premium_id""".stripMargin

  /** The tail of the SCD2 integrity-audit oracle: per-key violation
    * counts `pk` over `r(k, <start>, e, c, prev_e, has_prev)`, then the
    * seven counters of Checks.scd2IntegrityReport. dq_scd2_integrity and
    * its streaming twin st22 differ only in the start column's name. */
  private[queries] def scd2AuditSql(start: String): String =
    s"""pk AS (SELECT k,
       |    SUM(CASE WHEN c THEN 1 ELSE 0 END) AS n_cur,
       |    SUM(CASE WHEN NOT c AND e IS NULL THEN 1 ELSE 0 END) AS n_open,
       |    SUM(CASE WHEN c AND e IS NOT NULL THEN 1 ELSE 0 END) AS n_cwe,
       |    SUM(CASE WHEN has_prev AND (prev_e IS NULL OR prev_e > $start)
       |      THEN 1 ELSE 0 END) AS n_ov,
       |    SUM(CASE WHEN has_prev AND prev_e IS NOT NULL AND prev_e < $start
       |      THEN 1 ELSE 0 END) AS n_gap
       |  FROM r GROUP BY k)
       |SELECT count(*) AS n_keys,
       |  CAST(SUM(CASE WHEN n_cur > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS keys_multi_current,
       |  CAST(SUM(CASE WHEN n_cur = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS keys_no_current,
       |  CAST(SUM(n_open) AS BIGINT) AS rows_open_noncurrent,
       |  CAST(SUM(n_cwe) AS BIGINT) AS rows_current_with_end,
       |  CAST(SUM(CASE WHEN n_ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS keys_overlapping,
       |  CAST(SUM(CASE WHEN n_gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS keys_gapped
       |FROM pk""".stripMargin

  val defs: Seq[(String, Q)] = Seq(

    // ----- silver transforms (§2.12) -----------------------------------
    "t_transform_policies" -> Q((s, dir) =>
      dbl(silverPolicies(s, dir)).orderBy("policy_id"),
      Some(s"""SELECT * EXCLUDE (annual_premium, deductible, coverage_limit),
              |  CAST(annual_premium AS DOUBLE) AS annual_premium,
              |  CAST(deductible AS DOUBLE) AS deductible,
              |  CAST(coverage_limit AS DOUBLE) AS coverage_limit
              |FROM ($silverPoliciesSql) x ORDER BY policy_id""".stripMargin), bench = true),

    "t_transform_claims" -> Q((s, dir) =>
      dbl(silverClaims(s, dir)).orderBy("claim_id"),
      Some(s"""SELECT * EXCLUDE (claim_amount, approved_amount, deductible_applied),
              |  CAST(claim_amount AS DOUBLE) AS claim_amount,
              |  CAST(approved_amount AS DOUBLE) AS approved_amount,
              |  CAST(deductible_applied AS DOUBLE) AS deductible_applied
              |FROM ($silverClaimsSql) x ORDER BY claim_id""".stripMargin)),

    "t_transform_premiums" -> Q((s, dir) =>
      dbl(silverPremiums(s, dir)).orderBy("premium_id"),
      Some(s"""SELECT * EXCLUDE (amount), CAST(amount AS DOUBLE) AS amount
              |FROM ($silverPremiumsSql) x ORDER BY premium_id""".stripMargin)),

    "t_transform_properties" -> Q((s, dir) =>
      dbl(silverProperties(s, dir)).orderBy("property_id"),
      Some(s"""SELECT * EXCLUDE (latitude, longitude, property_value),
              |  CAST(latitude AS DOUBLE) AS latitude,
              |  CAST(longitude AS DOUBLE) AS longitude,
              |  CAST(property_value AS DOUBLE) AS property_value
              |FROM ($silverPropertiesSql) x ORDER BY property_id""".stripMargin)),

    // ----- gold builders (§2.12, A2, J3, F4, F7...) --------------------
    "g_premium_summary" -> Q((s, dir) =>
      dbl(GoldDims.buildPremiumSummary(silverPremiums(s, dir))).orderBy("policy_id"),
      Some(s"""SELECT * EXCLUDE (total_paid, total_premium_collected, total_failed, total_pending),
              |  CAST(total_paid AS DOUBLE) AS total_paid,
              |  CAST(total_premium_collected AS DOUBLE) AS total_premium_collected,
              |  CAST(total_failed AS DOUBLE) AS total_failed,
              |  CAST(total_pending AS DOUBLE) AS total_pending
              |FROM ($premiumSummarySql) x ORDER BY policy_id""".stripMargin), bench = true),

    "g_dim_policy" -> Q((s, dir) =>
      dbl(GoldDims.buildDimPolicy(silverPolicies(s, dir),
        GoldDims.buildPremiumSummary(silverPremiums(s, dir)), asOf))
        .orderBy("policy_id"),
      Some(dimPolicyOracle), bench = true),

    "g_dim_property" -> Q((s, dir) =>
      dbl(GoldDims.buildDimProperty(silverProperties(s, dir), asOf)).orderBy("property_id"),
      Some(dimPropertyOracle)),

    "g_dim_coverage" -> Q((s, dir) =>
      GoldDims.buildDimCoverage(silverPolicies(s, dir)).orderBy("coverage_type_code"),
      Some(dimCoverageOracle)),

    "g_fact_claims" -> Q((s, dir) => dbl(factClaimsQuery(s, dir)),
      Some(factClaimsOracle), bench = true),

    "g_fact_premiums" -> Q((s, dir) =>
      dbl(GoldFacts.buildFactPremiums(silverPremiums(s, dir), silverPolicies(s, dir)))
        .orderBy("premium_id"),
      Some(factPremiumsOracle)),

    // ----- SCD2 merge (S10, §7.4) --------------------------------------
    "scd2_merge" -> Q((s, dir) => {
      val o = T(s, dir, "orders")
      def shape(df: DataFrame, statusCol: org.apache.spark.sql.Column,
          startCol: org.apache.spark.sql.Column, endCol: org.apache.spark.sql.Column,
          isCur: Boolean) =
        df.select(
          col("o_orderkey").cast("string").as("order_id"),
          statusCol.as("status"),
          col("o_totalprice").cast("decimal(12,2)").as("total"),
          startCol.as("effective_start_date"),
          endCol.as("effective_end_date"),
          lit(isCur).as("is_current"))
      val cur = shape(o.filter(col("o_orderkey") % 10 < 8),
        col("o_orderstatus"), col("o_orderdate"),
        lit(null).cast("timestamp"), isCur = true)
      val hist = shape(o.filter(col("o_orderkey") % 20 === 1),
        col("o_orderstatus"), expr("o_orderdate - INTERVAL 30 DAY"),
        col("o_orderdate"), isCur = false)
      val source = shape(o,
        when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")),
        expr("o_orderdate + INTERVAL 1 DAY"), lit(null).cast("timestamp"), isCur = true)
      dbl(Scd2.merge(cur.unionByName(hist), source, Seq("order_id"), Seq("status", "total")))
        .orderBy("order_id", "effective_start_date", "is_current")
    }, Some("""WITH cur AS (
              |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id, o_orderstatus AS status,
              |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
              |    o_orderdate AS effective_start_date,
              |    CAST(NULL AS TIMESTAMP) AS effective_end_date, TRUE AS is_current
              |  FROM orders WHERE o_orderkey % 10 < 8),
              |hist AS (
              |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id, o_orderstatus AS status,
              |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
              |    o_orderdate - INTERVAL 30 DAY AS effective_start_date,
              |    o_orderdate AS effective_end_date, FALSE AS is_current
              |  FROM orders WHERE o_orderkey % 20 = 1),
              |src AS (
              |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
              |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
              |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
              |    o_orderdate + INTERVAL 1 DAY AS effective_start_date,
              |    CAST(NULL AS TIMESTAMP) AS effective_end_date, TRUE AS is_current
              |  FROM orders),
              |changed AS (
              |  SELECT c.order_id FROM cur c JOIN src s USING (order_id)
              |  WHERE (c.status IS DISTINCT FROM s.status)
              |     OR (c.total IS DISTINCT FROM s.total)),
              |merged AS (
              |  SELECT * FROM hist
              |  UNION ALL
              |  SELECT c.* FROM cur c WHERE c.order_id NOT IN (SELECT order_id FROM changed)
              |  UNION ALL
              |  SELECT c.order_id, c.status, c.total, c.effective_start_date,
              |    s.effective_start_date, FALSE
              |  FROM cur c JOIN src s USING (order_id)
              |  WHERE c.order_id IN (SELECT order_id FROM changed)
              |  UNION ALL
              |  SELECT s.* FROM src s WHERE s.order_id IN (SELECT order_id FROM changed)
              |  UNION ALL
              |  SELECT s.* FROM src s WHERE s.order_id NOT IN (SELECT order_id FROM cur))
              |SELECT * EXCLUDE (total), CAST(total AS DOUBLE) AS total FROM merged
              |ORDER BY order_id, effective_start_date, is_current""".stripMargin), bench = true),

    // ----- DQ framework (§2.11) ----------------------------------------
    "dq_not_null" -> Q((s, dir) => {
      import s.implicits._
      val r1 = Checks.checkNotNull(T(s, dir, "lineitem"), "l_quantity")
      val r2 = Checks.checkNotNull(T(s, dir, "events"), "props")
      Seq(("events.props", r2.nullCount, r2.totalCount, r2.passed),
        ("lineitem.l_quantity", r1.nullCount, r1.totalCount, r1.passed))
        .toDF("target", "null_count", "total_count", "passed").orderBy("target")
    }, Some("""SELECT * FROM (
              |  SELECT 'events.props' AS target,
              |    count(CASE WHEN props IS NULL THEN 1 END) AS null_count,
              |    count(*) AS total_count,
              |    count(CASE WHEN props IS NULL THEN 1 END) = 0 AS passed FROM events
              |  UNION ALL
              |  SELECT 'lineitem.l_quantity',
              |    count(CASE WHEN l_quantity IS NULL THEN 1 END), count(*),
              |    count(CASE WHEN l_quantity IS NULL THEN 1 END) = 0 FROM lineitem
              |) ORDER BY target""".stripMargin)),

    "dq_unique" -> Q((s, dir) => {
      import s.implicits._
      val r1 = Checks.checkUnique(T(s, dir, "orders"), "o_orderkey")
      val r2 = Checks.checkUnique(T(s, dir, "lineitem"), "l_orderkey")
      Seq(("lineitem.l_orderkey", r2.totalCount, r2.distinctCount, r2.duplicateCount, r2.passed),
        ("orders.o_orderkey", r1.totalCount, r1.distinctCount, r1.duplicateCount, r1.passed))
        .toDF("target", "total_count", "distinct_count", "duplicate_count", "passed")
        .orderBy("target")
    }, Some("""SELECT * FROM (
              |  SELECT 'lineitem.l_orderkey' AS target, count(*) AS total_count,
              |    count(DISTINCT l_orderkey) AS distinct_count,
              |    count(*) - count(DISTINCT l_orderkey) AS duplicate_count,
              |    count(*) = count(DISTINCT l_orderkey) AS passed FROM lineitem
              |  UNION ALL
              |  SELECT 'orders.o_orderkey', count(*), count(DISTINCT o_orderkey),
              |    count(*) - count(DISTINCT o_orderkey),
              |    count(*) = count(DISTINCT o_orderkey) FROM orders
              |) ORDER BY target""".stripMargin)),

    "dq_accepted_values" -> Q((s, dir) => {
      import s.implicits._
      val r = Checks.checkAcceptedValues(T(s, dir, "orders"), "o_orderstatus", Seq("O", "F"))
      Seq((r.column, r.invalidCount, r.totalCount, r.passed,
        r.sampleInvalidValues.sorted.mkString(",")))
        .toDF("column_name", "invalid_count", "total_count", "passed", "sample_invalid")
    }, Some("""SELECT 'o_orderstatus' AS column_name,
              |  count(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 END) AS invalid_count,
              |  count(*) AS total_count,
              |  count(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 END) = 0 AS passed,
              |  'P' AS sample_invalid
              |FROM orders""".stripMargin)),

    "dq_relationships" -> Q((s, dir) => {
      import s.implicits._
      val orders = T(s, dir, "orders")
      val r1 = Checks.checkRelationships(T(s, dir, "lineitem"), "l_orderkey",
        orders, "o_orderkey")
      val r2 = Checks.checkRelationships(T(s, dir, "customer"), "c_custkey",
        orders, "o_custkey")
      Seq(("customer.c_custkey->orders.o_custkey", r2.orphanCount, r2.totalCount, r2.passed),
        ("lineitem.l_orderkey->orders.o_orderkey", r1.orphanCount, r1.totalCount, r1.passed))
        .toDF("relationship", "orphan_count", "total_count", "passed").orderBy("relationship")
    }, Some("""SELECT * FROM (
              |  SELECT 'customer.c_custkey->orders.o_custkey' AS relationship,
              |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
              |      (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS orphan_count,
              |    (SELECT count(*) FROM customer) AS total_count,
              |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
              |      (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) = 0 AS passed
              |  UNION ALL
              |  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
              |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
              |    (SELECT count(*) FROM lineitem),
              |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
              |) ORDER BY relationship""".stripMargin)),

    "dq_row_count_range" -> Q((s, dir) => {
      import s.implicits._
      val o = T(s, dir, "orders")
      val wide = Checks.checkRowCountRange(o, 1L, 1000000000L)
      val narrow = Checks.checkRowCountRange(o, 1L, 5L)
      Seq(("narrow", narrow.actualCount, narrow.expectedMin, narrow.expectedMax, narrow.passed),
        ("wide", wide.actualCount, wide.expectedMin, wide.expectedMax, wide.passed))
        .toDF("check_name", "actual_count", "expected_min", "expected_max", "passed")
        .orderBy("check_name")
    }, Some("""SELECT * FROM (
              |  SELECT 'narrow' AS check_name, count(*) AS actual_count,
              |    CAST(1 AS BIGINT) AS expected_min, CAST(5 AS BIGINT) AS expected_max,
              |    count(*) BETWEEN 1 AND 5 AS passed FROM orders
              |  UNION ALL
              |  SELECT 'wide', count(*), CAST(1 AS BIGINT), CAST(1000000000 AS BIGINT),
              |    count(*) BETWEEN 1 AND 1000000000 FROM orders
              |) ORDER BY check_name""".stripMargin)),

    "dq_composite_key" -> Q((s, dir) => {
      import s.implicits._
      val li = T(s, dir, "lineitem")
      val r1 = Checks.checkCompositeKey(li, Seq("l_orderkey", "l_linenumber"))
      val r2 = Checks.checkCompositeKey(li, Seq("l_orderkey", "l_suppkey"))
      Seq(("l_orderkey+l_linenumber", r1.duplicateCount, r1.totalCount, r1.passed),
        ("l_orderkey+l_suppkey", r2.duplicateCount, r2.totalCount, r2.passed))
        .toDF("key_columns", "duplicate_count", "total_count", "passed").orderBy("key_columns")
    }, Some("""SELECT * FROM (
              |  SELECT 'l_orderkey+l_linenumber' AS key_columns,
              |    count(*) - (SELECT count(*) FROM
              |      (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS duplicate_count,
              |    count(*) AS total_count,
              |    count(*) = (SELECT count(*) FROM
              |      (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS passed
              |  FROM lineitem
              |  UNION ALL
              |  SELECT 'l_orderkey+l_suppkey',
              |    count(*) - (SELECT count(*) FROM
              |      (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)),
              |    count(*),
              |    count(*) = (SELECT count(*) FROM
              |      (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
              |  FROM lineitem
              |) ORDER BY key_columns""".stripMargin)),

    "dq_fused_profile" -> Q((s, dir) => {
      import s.implicits._
      val results = Checks.fusedProfile(T(s, dir, "orders"), Seq(
        Checks.ColumnSpec("o_orderkey", notNull = true, unique = true),
        Checks.ColumnSpec("o_custkey", notNull = true),
        Checks.ColumnSpec("o_orderstatus", acceptedValues = Some(Seq("O", "F", "P")))))
      results.toSeq.sortBy(_._1).map { case (name, r) =>
        val bad = r match {
          case n: Checks.NotNullResult => n.nullCount
          case u: Checks.UniqueResult => u.duplicateCount
          case a: Checks.AcceptedValuesResult => a.invalidCount
          case _ => 0L
        }
        (name, bad, r.passed)
      }.toDF("check_name", "bad_count", "passed").orderBy("check_name")
    }, Some("""SELECT * FROM (
              |  SELECT 'accepted_values_o_orderstatus' AS check_name,
              |    count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS bad_count,
              |    count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) = 0 AS passed
              |  FROM orders
              |  UNION ALL
              |  SELECT 'not_null_o_custkey',
              |    count(CASE WHEN o_custkey IS NULL THEN 1 END),
              |    count(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 FROM orders
              |  UNION ALL
              |  SELECT 'not_null_o_orderkey',
              |    count(CASE WHEN o_orderkey IS NULL THEN 1 END),
              |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) = 0 FROM orders
              |  UNION ALL
              |  SELECT 'unique_o_orderkey',
              |    count(*) - count(DISTINCT o_orderkey),
              |    count(*) = count(DISTINCT o_orderkey) FROM orders
              |) ORDER BY check_name""".stripMargin)),

    "dq_approx_distinct" -> Q((s, dir) => {
      import s.implicits._
      // HLL++ sketch check — the affordable uniqueness probe at 100 TB
      // (constant-size sketch vs a full distinct shuffle). The estimate
      // itself is engine-specific, so the gate compares the CHECK
      // VERDICT (within-tolerance boolean) and exact totals, not the
      // sketch value.
      val o = T(s, dir, "orders")
      val li = T(s, dir, "lineitem")
      val r1 = Checks.checkApproxDistinct(o, "o_orderkey", o.count(), tolerance = 0.05)
      val r2 = Checks.checkApproxDistinct(li, "l_orderkey",
        expected = 1L, tolerance = 0.05) // wrong expectation must FAIL
      Seq(("lineitem.l_orderkey_vs_1", r2.passed, r2.totalCount),
        ("orders.o_orderkey_unique", r1.passed, r1.totalCount))
        .toDF("check_target", "passed", "total_count").orderBy("check_target")
    }, Some("""SELECT * FROM (
              |  SELECT 'lineitem.l_orderkey_vs_1' AS check_target, FALSE AS passed,
              |    (SELECT count(*) FROM lineitem) AS total_count
              |  UNION ALL
              |  SELECT 'orders.o_orderkey_unique', TRUE,
              |    (SELECT count(*) FROM orders)
              |) ORDER BY check_target""".stripMargin)),

    "dq_scd2_integrity" -> Q((s, dir) => {
      // SCD2 invariant audit (Checks.scd2IntegrityReport) — the DQ twin
      // of the merge and the streaming CDC gates: one window pass per
      // key + one rollup verifies at-most-one-current, closed-rows-are-
      // closed, current-rows-are-open, and range overlap/gap health.
      // The fixture INJECTS every violation class (a second current
      // row, an open non-current row, a gapped closed row, a current
      // row carrying an end date, and keys whose only row is closed),
      // so all seven counters are non-trivially exercised and an audit
      // that under- or over-counts any class diverges.
      import graft.quality.Checks
      val o = T(s, dir, "orders")
      def rowsOf(pred: org.apache.spark.sql.Column,
          start: org.apache.spark.sql.Column,
          end: org.apache.spark.sql.Column, isCur: Boolean) =
        o.filter(pred).select(col("o_orderkey").as("k"),
          start.as("effective_start_date"), end.as("effective_end_date"),
          lit(isCur).as("is_current"))
      val nullTs = lit(null).cast("timestamp")
      val dim = rowsOf(col("o_orderkey") % 10 < 8, col("o_orderdate"), nullTs, isCur = true)
        .unionByName(rowsOf(col("o_orderkey") % 20 === 1,
          expr("o_orderdate - INTERVAL 30 DAY"), col("o_orderdate"), isCur = false))
        .unionByName(rowsOf(col("o_orderkey") % 10 === 8,
          expr("o_orderdate - INTERVAL 30 DAY"), col("o_orderdate"), isCur = false))
        .unionByName(rowsOf(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 10 < 8,
          expr("o_orderdate + INTERVAL 40 DAY"), nullTs, isCur = true))
        .unionByName(rowsOf(col("o_orderkey") % 89 === 0 && col("o_orderkey") % 10 < 8,
          expr("o_orderdate - INTERVAL 60 DAY"), nullTs, isCur = false))
        .unionByName(rowsOf(col("o_orderkey") % 83 === 0 && col("o_orderkey") % 10 < 8,
          expr("o_orderdate - INTERVAL 100 DAY"),
          expr("o_orderdate - INTERVAL 90 DAY"), isCur = false))
        .unionByName(rowsOf(col("o_orderkey") % 79 === 0 && col("o_orderkey") % 10 < 8,
          expr("o_orderdate + INTERVAL 50 DAY"),
          expr("o_orderdate + INTERVAL 60 DAY"), isCur = true))
      Checks.scd2IntegrityReport(dim, "k")
    }, Some(s"""WITH dim AS (
              |  SELECT o_orderkey AS k, o_orderdate AS s,
              |    CAST(NULL AS TIMESTAMP) AS e, TRUE AS c
              |  FROM orders WHERE o_orderkey % 10 < 8
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate - INTERVAL 30 DAY,
              |    o_orderdate, FALSE
              |  FROM orders WHERE o_orderkey % 20 = 1
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate - INTERVAL 30 DAY,
              |    o_orderdate, FALSE
              |  FROM orders WHERE o_orderkey % 10 = 8
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate + INTERVAL 40 DAY,
              |    CAST(NULL AS TIMESTAMP), TRUE
              |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 10 < 8
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate - INTERVAL 60 DAY,
              |    CAST(NULL AS TIMESTAMP), FALSE
              |  FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 10 < 8
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate - INTERVAL 100 DAY,
              |    o_orderdate - INTERVAL 90 DAY, FALSE
              |  FROM orders WHERE o_orderkey % 83 = 0 AND o_orderkey % 10 < 8
              |  UNION ALL
              |  SELECT o_orderkey, o_orderdate + INTERVAL 50 DAY,
              |    o_orderdate + INTERVAL 60 DAY, TRUE
              |  FROM orders WHERE o_orderkey % 79 = 0 AND o_orderkey % 10 < 8),
              |r AS (SELECT k, s, e, c,
              |    lag(e) OVER w AS prev_e,
              |    lag(s) OVER w IS NOT NULL AS has_prev
              |  FROM dim WINDOW w AS (PARTITION BY k ORDER BY s, c, e NULLS FIRST)),
              |${scd2AuditSql("s")}""".stripMargin)),

    "dq_table_sweep" -> Q((s, dir) => {
      import s.implicits._
      // Post-pipeline sweep (notebooks/run_data_quality_checks.py): one
      // clean table, one with NULL keys, one missing.
      s.sql("CREATE DATABASE IF NOT EXISTS graft_sweepq")
      T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").saveAsTable("graft_sweepq.clean_orders")
      T(s, dir, "orders").select(
        when(col("o_orderkey") % 100 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey")).as("o_orderkey"))
        .write.mode("overwrite").saveAsTable("graft_sweepq.nullkey_orders")
      s.sql("DROP TABLE IF EXISTS graft_sweepq.missing_orders")
      Checks.sweepTables(s, Seq(
        ("graft_sweepq.clean_orders", "o_orderkey"),
        ("graft_sweepq.missing_orders", "o_orderkey"),
        ("graft_sweepq.nullkey_orders", "o_orderkey")))
        .map(r => (r.table, r.exists, r.rowCount, r.nullKeyCount, r.passed))
        .toDF("table_name", "table_exists", "row_count", "null_key_count", "passed")
        .orderBy("table_name")
    }, Some("""SELECT * FROM (
              |  SELECT 'graft_sweepq.clean_orders' AS table_name, TRUE AS table_exists,
              |    (SELECT count(*) FROM orders) AS row_count,
              |    CAST(0 AS BIGINT) AS null_key_count, TRUE AS passed
              |  UNION ALL
              |  SELECT 'graft_sweepq.missing_orders', FALSE, CAST(0 AS BIGINT),
              |    CAST(0 AS BIGINT), FALSE
              |  UNION ALL
              |  SELECT 'graft_sweepq.nullkey_orders', TRUE,
              |    (SELECT count(*) FROM orders),
              |    (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 0),
              |    (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 0) = 0
              |) ORDER BY table_name""".stripMargin)),

    // ----- MigrationReconciler (§2.11) ---------------------------------
    "recon_row_counts" -> Q((s, dir) => {
      import s.implicits._
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val r1 = Reconciler.compareRowCounts(li, li.filter(col("l_quantity") >= 0),
        "lineitem_all_vs_nonneg")
      val r2 = Reconciler.compareRowCounts(o, o.filter(col("o_orderstatus") === "O"),
        "orders_all_vs_open")
      Seq((r1.check, r1.sourceCount, r1.targetCount, r1.matched, r1.difference),
        (r2.check, r2.sourceCount, r2.targetCount, r2.matched, r2.difference))
        .toDF("check_name", "source_count", "target_count", "matched", "difference")
        .orderBy("check_name")
    }, Some("""SELECT * FROM (
              |  SELECT 'lineitem_all_vs_nonneg' AS check_name,
              |    (SELECT count(*) FROM lineitem) AS source_count,
              |    (SELECT count(*) FROM lineitem WHERE l_quantity >= 0) AS target_count,
              |    (SELECT count(*) FROM lineitem) =
              |      (SELECT count(*) FROM lineitem WHERE l_quantity >= 0) AS matched,
              |    abs((SELECT count(*) FROM lineitem) -
              |      (SELECT count(*) FROM lineitem WHERE l_quantity >= 0)) AS difference
              |  UNION ALL
              |  SELECT 'orders_all_vs_open',
              |    (SELECT count(*) FROM orders),
              |    (SELECT count(*) FROM orders WHERE o_orderstatus = 'O'),
              |    (SELECT count(*) FROM orders) =
              |      (SELECT count(*) FROM orders WHERE o_orderstatus = 'O'),
              |    abs((SELECT count(*) FROM orders) -
              |      (SELECT count(*) FROM orders WHERE o_orderstatus = 'O'))
              |) ORDER BY check_name""".stripMargin)),

    "recon_aggregates" -> Q((s, dir) => {
      import s.implicits._
      val o = T(s, dir, "orders")
      val results = Reconciler.compareAggregates(o, o.filter(col("o_orderkey") % 3 =!= 0),
        Seq("o_totalprice", "o_orderkey"), tolerance = 1e-4)
      results.map { r =>
        def r2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.column, r2(r.sourceSum), r2(r.targetSum), r.withinTolerance)
      }.toDF("column_name", "source_sum", "target_sum", "within_tolerance")
        .orderBy("column_name")
    }, Some("""SELECT * FROM (
              |  SELECT 'o_orderkey' AS column_name,
              |    round((SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders), 2) AS source_sum,
              |    round((SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders
              |      WHERE o_orderkey % 3 <> 0), 2) AS target_sum,
              |    abs((SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders) -
              |        (SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders WHERE o_orderkey % 3 <> 0))
              |      / greatest(abs((SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders)),
              |                 abs((SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders
              |                   WHERE o_orderkey % 3 <> 0))) <= 0.0001 AS within_tolerance
              |  UNION ALL
              |  SELECT 'o_totalprice',
              |    round((SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders), 2),
              |    round((SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders
              |      WHERE o_orderkey % 3 <> 0), 2),
              |    abs((SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders) -
              |        (SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders WHERE o_orderkey % 3 <> 0))
              |      / greatest(abs((SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders)),
              |                 abs((SELECT SUM(CAST(o_totalprice AS DOUBLE)) FROM orders
              |                   WHERE o_orderkey % 3 <> 0))) <= 0.0001
              |) ORDER BY column_name""".stripMargin)),

    "recon_distribution_diff" -> Q((s, dir) => {
      val o = T(s, dir, "orders")
      Reconciler.distributionDiff(o, o.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
        .orderBy("value")
    }, Some("""WITH s AS (SELECT o_orderstatus AS value, count(*) AS source_count
              |  FROM orders GROUP BY o_orderstatus),
              |t AS (SELECT o_orderstatus AS value, count(*) AS target_count
              |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderstatus)
              |SELECT COALESCE(s.value, t.value) AS value,
              |  COALESCE(s.source_count, 0) AS source_count,
              |  COALESCE(t.target_count, 0) AS target_count,
              |  COALESCE(s.source_count, 0) = COALESCE(t.target_count, 0) AS matched
              |FROM s FULL OUTER JOIN t ON s.value = t.value
              |ORDER BY value""".stripMargin)),

    "recon_schema_compare" -> Q((s, dir) => {
      import s.implicits._
      val o = T(s, dir, "orders")
      val a = o.withColumn("_batch_id", lit(1L)) // metadata cols are ignored
      val b = o.drop("o_orderpriority").withColumn("extra_col", lit(1))
      val r = Reconciler.compareSchemas(a, b)
      Seq((r.matched, r.onlyInSource.mkString(","), r.onlyInTarget.mkString(",")))
        .toDF("matched", "only_in_source", "only_in_target")
    }, Some("""SELECT FALSE AS matched, 'o_orderpriority' AS only_in_source,
              |  'extra_col' AS only_in_target""".stripMargin)),

    "g_incremental_summary" -> Q((s, dir) => {
      // Incremental summary maintenance (operators/IncrementalAgg): the
      // daily-batch alternative to rebuilding gold aggregates from full
      // history. Base and delta are aggregated separately and keywise-
      // MERGED (counts/sums add, min/max fold) — shuffle cost is the
      // key cardinality, independent of history size. The oracle is the
      // full recompute over everything: merge(state(base), state(delta))
      // must equal state(base ∪ delta) exactly.
      import graft.operators.IncrementalAgg
      import graft.operators.IncrementalAgg.{Add, TakeMax, TakeMin}
      val o = T(s, dir, "orders")
      def summarize(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_custkey").agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
      val base = summarize(o.filter(col("o_orderkey") % 5 =!= 0))
      val delta = summarize(o.filter(col("o_orderkey") % 5 === 0))
      IncrementalAgg.merge(base, delta, Seq("o_custkey"),
        Seq("n_orders" -> Add, "sum_price" -> Add,
          "min_price" -> TakeMin, "max_price" -> TakeMax))
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("double").as("sum_price"),
          col("min_price"), col("max_price"))
        .orderBy("o_custkey")
    }, Some("""SELECT o_custkey, count(*) AS n_orders,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              |  MIN(o_totalprice) AS min_price,
              |  MAX(o_totalprice) AS max_price
              |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    "recon_drift_chi2" -> Q((s, dir) => {
      // Distribution DRIFT (Reconciler.distributionDriftChi2): the urgent
      // subset has a different status mix than all orders — chi2 over
      // (observed − expected)²/expected quantifies it, robust to the
      // sides' size difference (exact-equality reconciliation is not).
      // The few-category double sum is rounded for the cross-engine
      // compare.
      val o = T(s, dir, "orders")
      graft.validation.Reconciler.distributionDriftChi2(
          o, o.filter(col("o_orderpriority") === "1-URGENT"), "o_orderstatus")
        .select(col("categories"), col("new_categories"),
          round(col("chi2"), 6).as("chi2"))
    }, Some("""WITH s AS (SELECT o_orderstatus AS v, count(*) AS sc
              |  FROM orders GROUP BY 1),
              |t AS (SELECT o_orderstatus AS v, count(*) AS tc FROM orders
              |  WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
              |j AS (SELECT COALESCE(s.v, t.v) AS v, COALESCE(sc, 0) AS sc,
              |    COALESCE(tc, 0) AS tc
              |  FROM s FULL OUTER JOIN t ON s.v = t.v),
              |tot AS (SELECT CAST(SUM(sc) AS BIGINT) AS st,
              |    CAST(SUM(tc) AS BIGINT) AS tt FROM j)
              |SELECT CAST(count(CASE WHEN sc > 0 THEN 1 END) AS BIGINT) AS categories,
              |  CAST(count(CASE WHEN sc = 0 AND tc > 0 THEN 1 END) AS BIGINT)
              |    AS new_categories,
              |  round(SUM(CASE WHEN CAST(tt AS DOUBLE) * sc / st > 0 THEN
              |    pow(tc - CAST(tt AS DOUBLE) * sc / st, 2)
              |      / (CAST(tt AS DOUBLE) * sc / st) END), 6) AS chi2
              |FROM j, tot""".stripMargin)),

    "recon_table_diff" -> Q((s, dir) => {
      // Row-LEVEL diff at scale (validation/TableDiff): each side
      // reduces to (row_hash, multiplicity), the hash sets full-outer
      // join, disagreements come back — no collect, no full-width
      // compare. Injected drift: every 97th key dropped, every 101st
      // duplicated, every 103rd modified; the diff must surface exactly
      // those hashes. The oracle rebuilds the same drift and the same
      // canonical hash (cast|sentinel|md5) independently in DuckDB.
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      val left = T(s, dir, "orders").select(cols.map(col): _*)
      val right = left.filter(col("o_orderkey") % 97 =!= 0)
        .unionByName(left.filter(col("o_orderkey") % 101 === 0))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 103 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      graft.validation.TableDiff.diff(left, right, cols)
        .orderBy("row_hash")
    }, Some("""WITH l AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
              |    FROM orders),
              |r0 AS (SELECT * FROM l WHERE o_orderkey % 97 <> 0
              |  UNION ALL SELECT * FROM l WHERE o_orderkey % 101 = 0),
              |r AS (SELECT o_orderkey,
              |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
              |         ELSE o_orderstatus END AS o_orderstatus,
              |    o_orderpriority FROM r0),
              |lh AS (SELECT md5(concat_ws('|',
              |      COALESCE(CAST(o_orderkey AS VARCHAR), '_null_'),
              |      COALESCE(o_orderstatus, '_null_'),
              |      COALESCE(o_orderpriority, '_null_'))) AS row_hash,
              |    count(*) AS left_count FROM l GROUP BY 1),
              |rh AS (SELECT md5(concat_ws('|',
              |      COALESCE(CAST(o_orderkey AS VARCHAR), '_null_'),
              |      COALESCE(o_orderstatus, '_null_'),
              |      COALESCE(o_orderpriority, '_null_'))) AS row_hash,
              |    count(*) AS right_count FROM r GROUP BY 1)
              |SELECT COALESCE(lh.row_hash, rh.row_hash) AS row_hash,
              |  COALESCE(left_count, 0) AS left_count,
              |  COALESCE(right_count, 0) AS right_count
              |FROM lh FULL OUTER JOIN rh ON lh.row_hash = rh.row_hash
              |WHERE COALESCE(left_count, 0) <> COALESCE(right_count, 0)
              |ORDER BY row_hash""".stripMargin,
      ), bench = true),

    "recon_sampled_compare" -> Q((s, dir) => {
      // O4: deterministic sampled row compare (TableDiff.sampledCompare)
      // — the 200 keys with the smallest md5 drawn from BOTH sides'
      // keys, each key's full row hashed per side. Injected drift:
      // every 97th key dropped from the target, every 103rd modified;
      // sampled keys hitting either must come back is_match=false with
      // the exact hash evidence. Oracle rebuilds the identical sample
      // and hashes in DuckDB.
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      val source = T(s, dir, "orders").select(cols.map(col): _*)
      val target = source.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 103 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      graft.validation.TableDiff
        .sampledCompare(source, target, "o_orderkey", cols, n = 200)
        .orderBy("o_orderkey")
    }, Some("""WITH l AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
              |    FROM orders),
              |r AS (SELECT o_orderkey,
              |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
              |         ELSE o_orderstatus END AS o_orderstatus,
              |    o_orderpriority FROM l WHERE o_orderkey % 97 <> 0),
              |keys AS (SELECT o_orderkey FROM (
              |    SELECT o_orderkey FROM l UNION SELECT o_orderkey FROM r)
              |  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 200),
              |sh AS (SELECT o_orderkey, md5(concat_ws('|',
              |      COALESCE(CAST(o_orderkey AS VARCHAR), '_null_'),
              |      COALESCE(o_orderstatus, '_null_'),
              |      COALESCE(o_orderpriority, '_null_'))) AS source_hash FROM l),
              |th AS (SELECT o_orderkey, md5(concat_ws('|',
              |      COALESCE(CAST(o_orderkey AS VARCHAR), '_null_'),
              |      COALESCE(o_orderstatus, '_null_'),
              |      COALESCE(o_orderpriority, '_null_'))) AS target_hash FROM r)
              |SELECT k.o_orderkey, sh.source_hash, th.target_hash,
              |  sh.source_hash IS NOT DISTINCT FROM th.target_hash AS is_match
              |FROM keys k
              |LEFT JOIN sh ON sh.o_orderkey = k.o_orderkey
              |LEFT JOIN th ON th.o_orderkey = k.o_orderkey
              |ORDER BY k.o_orderkey""".stripMargin)),

    "recon_hll_keyset" -> Q((s, dir) => {
      // Sketch-based key-universe reconciliation
      // (TableDiff.hllKeysetCompare): each side collapses to a
      // constant-size HLL sketch in one pass; |A∆B| falls out of the
      // merged sketch by inclusion-exclusion — neither key universe
      // ever shuffles, and the two scans could run on different
      // clusters. Injected drift: every 11th customer dropped from the
      // target. The gate pairs the estimates with independently
      // computed exact counts (a22 verdict pattern).
      import graft.validation.TableDiff
      val src = T(s, dir, "orders").select(col("o_custkey").as("k"))
      val tgt = T(s, dir, "customer")
        .filter(col("c_custkey") % 11 =!= 0).select(col("c_custkey").as("k"))
      val est = TableDiff.hllKeysetCompare(src, tgt, "k")
      val exact = src.distinct().agg(count(lit(1)).as("exact_a"))
        .crossJoin(tgt.distinct().agg(count(lit(1)).as("exact_b")))
        .crossJoin(src.union(tgt).distinct().agg(count(lit(1)).as("exact_union")))
        .withColumn("exact_sym_diff",
          lit(2L) * col("exact_union") - col("exact_a") - col("exact_b"))
      val bound = graft.operators.Sketches.hllBound(12)
      est.crossJoin(exact).select(
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_sym_diff"),
        (abs(col("est_a") - col("exact_a")) <= col("exact_a") * bound)
          .as("est_a_within"),
        (abs(col("est_b") - col("exact_b")) <= col("exact_b") * bound)
          .as("est_b_within"),
        (abs(col("est_union") - col("exact_union")) <= col("exact_union") * bound)
          .as("est_union_within"),
        (abs(col("est_sym_diff") - col("exact_sym_diff"))
          <= (col("exact_a") + col("exact_b")) * bound).as("est_sym_within"))
    }, Some("""WITH s AS (SELECT DISTINCT o_custkey AS k FROM orders),
              |t AS (SELECT DISTINCT c_custkey AS k FROM customer
              |  WHERE c_custkey % 11 <> 0),
              |u AS (SELECT k FROM s UNION SELECT k FROM t)
              |SELECT (SELECT count(*) FROM s) AS exact_a,
              |  (SELECT count(*) FROM t) AS exact_b,
              |  (SELECT count(*) FROM u) AS exact_union,
              |  2 * (SELECT count(*) FROM u) - (SELECT count(*) FROM s)
              |    - (SELECT count(*) FROM t) AS exact_sym_diff,
              |  TRUE AS est_a_within, TRUE AS est_b_within,
              |  TRUE AS est_union_within, TRUE AS est_sym_within""".stripMargin)))
}
