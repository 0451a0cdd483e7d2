package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.DataChecks
import graft.models._

/** Driver-oracle entries for the three reference models themselves —
  * the flagship deliverable (locations_clean.sql, 168 LoC;
  * stacked_users_partners.sql, 118 LoC; user_base.sql, 83 LoC, all
  * under /root/reference/models/). The models run over the shared
  * [[RefFixtures]] tables (the driver's testdata has no
  * reference-shaped sources), and the DuckDB oracle replays the same
  * fixtures as self-contained VALUES CTEs
  * ([[ReferenceModelOracles]]) — so the driver's rows/schema/hash
  * compare exercises the full model SQL semantics end-to-end.
  *
  * `sfDir` is deliberately unused: fixture-driven queries must be
  * scale-invariant, and running them at any sf dir yields the same
  * rows (the driver runs sf0.01).
  */
object ReferenceModelQueries {

  /** Fixed as-of date (risk register §7.3: current_date is
    * nondeterministic) — same date ReferenceModelsSpec pins. */
  val asOfDate = "2026-08-12"

  private def withUpstream(spark: SparkSession): Map[String, DataFrame] = {
    val src = RefFixtures.sources(spark)
    src +
      ("locations_clean" -> LocationsClean(src)) +
      ("stacked_users_partners" -> StackedUsersPartners(src))
  }

  def qLocationsClean(spark: SparkSession, dir: String): DataFrame =
    LocationsClean(RefFixtures.sources(spark))

  def qStackedUsersPartners(spark: SparkSession, dir: String): DataFrame =
    StackedUsersPartners(RefFixtures.sources(spark))

  def qUserBase(spark: SparkSession, dir: String): DataFrame =
    UserBase(withUpstream(spark), asOf = to_date(lit(asOfDate)))

  /** The mart's two declared data tests (marts_schema.yml:6-15) as one
    * result: violation count per check. not_null(user_id) must be 0;
    * the unique (user_id, partner_id, site_id) triple is violated by
    * design on fixture user 1 (SURVEY §2.3 fan-out looseness), so the
    * count being *stable and explained* is the assertion. */
  def qUserBaseChecks(spark: SparkSession, dir: String): DataFrame = {
    // materialize the mart once — both checks read the checkpoint
    // instead of re-executing the 3-model DAG (callers reclaim via
    // Checkpoints.releaseAll, as Verify does between queries)
    val mart = qUserBase(spark, dir).localCheckpoint()
    val notNull = DataChecks.notNull(mart, "user_id")
      .agg(count(lit(1)).as("violations"))
      .select(lit("not_null_user_id").as("check_name"), col("violations"))
    val uniq = DataChecks.uniqueCombination(mart,
        Seq("user_id", "partner_id", "site_id"))
      .agg(count(lit(1)).as("violations"))
      .select(lit("unique_user_partner_site").as("check_name"), col("violations"))
    notNull.unionAll(uniq)
  }
}
