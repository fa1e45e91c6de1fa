package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{MailSource, MoodleConfig, MoodleNormalize, RenderMail}
import graft.fixtures.Fixtures
import graft.oracle.Duck
import graft.sources.Tables

/** Core reference-parity queries (SURVEY.md §2.1-§2.6): the Moodle
  * normalization pipeline, the three mail-source dialects, template
  * rendering, and the ordinal send plan. Every query is paired with a
  * DuckDB oracle assembled from the same compiled templates/fragments.
  *
  * All ORDER BYs are on unique ASCII keys so row order (and therefore the
  * driver's hash) is deterministic in both engines.
  */
object EtlQueries extends QueryModule {

  /** Password pattern exercising 3 of the 4 placeholders and giving every
    * row a unique `contrasena` (rut is unique), which downstream queries
    * use as a total order.
    */
  val Cfg: MoodleConfig = MoodleConfig(passwordPattern = "{username}{year}-{rut}")

  val CourseName = "Analitica de Datos 101"
  val AulaUrl    = "https://aula.example.org/"

  def moodleNormalize(spark: SparkSession, dir: String): DataFrame =
    MoodleNormalize(Fixtures.roster(spark, dir), Cfg)
      .orderBy(Cfg.profileFieldName)

  /** Pre-upload validation over the dirty roster (the reference's own
    * roadmap item — README.md:73-74): per-row error classes + the
    * deterministic numeric-suffix username fix. Runs on [[Fixtures
    * .rosterDirty]] so the duplicate-rut class actually fires.
    */
  def rosterValidate(spark: SparkSession, dir: String): DataFrame =
    // Sort keys must be ASCII (verify gotcha: Spark binary UTF-8 vs
    // DuckDB collation diverge on accented letters), so the name
    // tiebreakers enter deaccented; remaining ties are fully identical
    // rows, which hash order-free.
    graft.etl.RosterValidate(Fixtures.rosterDirty(spark, dir))
      .orderBy(coalesce(col("username_final"), lit("")),
        coalesce(col("rut"), lit("")),
        graft.functions.TextFunctions.deaccent(coalesce(col("nombres"), lit(""))),
        graft.functions.TextFunctions.deaccent(col("apellidos")),
        col("email"))

  def mailUsersOld(spark: SparkSession, dir: String): DataFrame =
    MailSource.normalize(Fixtures.mailOld(spark, dir)).orderBy("usuario")

  def mailUsersMoodle(spark: SparkSession, dir: String): DataFrame =
    MailSource.normalize(MoodleNormalize(Fixtures.roster(spark, dir), Cfg))
      .orderBy("contrasena")

  def mailUsersFallback(spark: SparkSession, dir: String): DataFrame =
    MailSource.normalize(Fixtures.mailFallback(spark, dir)).orderBy("email")

  def mailRender(spark: SparkSession, dir: String): DataFrame =
    RenderMail(
      MailSource.normalize(MoodleNormalize(Fixtures.roster(spark, dir), Cfg)),
      CourseName, AulaUrl)
      .orderBy("contrasena")

  /** W1/A2 — 1-based ordinal + remaining count. The global window is the
    * POINT of this operator (strictly sequential delivery, `app.py:338-339`)
    * and is guarded by mail-batch scale; large-scale paths drop order
    * semantics (SURVEY.md §7.4.1).
    */
  def sendPlan(spark: SparkSession, dir: String): DataFrame =
    graft.send.SmtpSink.withOrdinals(
      MailSource.normalize(Fixtures.mailOld(spark, dir)), "email")
      .withColumn("remaining", (col("total") - col("idx")).cast("long"))
      .orderBy("idx")

  /** Course-count and per-course capacity for the enrolment fixture.
    * 7 derived courses, but the catalog carries only nation keys 0-5
    * ([[EnrolCatalog]] = 6) — a DELIBERATE catalog gap so course_id 6
    * candidates exercise `EnrolPlan`'s LEFT-join `unassigned` branch at
    * the gate (round-17 advice: the old INNER-join oracle could never
    * verify it). Capacities 2/4/6 by course_id % 3 — sized so all three
    * statuses (enrolled + waitlist + unassigned) fire at sf0.001 AND
    * sf0.01 after the orders-ledger anti-join thins the candidate set.
    */
  val EnrolCourses = 7
  val EnrolCatalog = 6
  val EnrolCapacitySql = "2 + (n_nationkey % 3) * 2"

  /** Enrolment execution plan (the reference's roadmap bullets
    * README.md:75-77 — "subir usuarios automáticamente a Moodle",
    * "ejecución de matrícula por curso"): validated roster rows,
    * already-enrolled excluded via LEFT ANTI on orders-as-enrolments,
    * capacity-bounded per-course seating with a deterministic ordinal.
    * The delivery side of the plan is [[graft.send.MoodleApiSink]].
    */
  private def enrolCustkey = split(col("rut"), "-").getItem(0).cast("long")

  private def enrolLedger(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "orders")
      .select(col("o_custkey").cast("long").as("custkey"),
        (col("o_orderkey").cast("long") % EnrolCourses).as("course_id"))

  private def enrolCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "nation")
      .filter(col("n_nationkey") < EnrolCatalog)
      .select(col("n_nationkey").cast("long").as("course_id"),
        col("n_name").as("course"),
        (lit(2) + (col("n_nationkey") % 3) * 2).cast("long").as("capacity"))

  def enrolPlan(spark: SparkSession, dir: String): DataFrame = {
    val validated = graft.etl.RosterValidate(Fixtures.rosterDirty(spark, dir))
    graft.etl.EnrolPlan(validated, enrolCustkey % EnrolCourses,
      enrolLedger(spark, dir), enrolCustkey, enrolCatalog(spark, dir))
      .orderBy("course_id", "seat")
  }

  /** Per-course enrolment audit — the last reference-roadmap noun
    * (`/root/reference/README.md:74`: "auditoría, métricas y reporte de
    * resultados"). One row per course (plus the catalog-gap course and
    * the `-1` bucket for invalid rows whose rut derives no course),
    * rolling every roster row's final outcome into counts:
    * enrolled/waitlist/unassigned from the seating plan, `already` =
    * candidates the idempotency anti-join excluded, `invalid` =
    * validator-rejected rows; `utilization` = enrolled/capacity (null
    * for the catalog gap). The registrar's one-page answer to "what did
    * the enrolment run actually do".
    *
    * Scale shape: three branch frames each linear in roster size, one
    * union, one course-keyed aggregation (course-count-sized output),
    * catalog re-joined via broadcast.
    */
  def enrolAudit(spark: SparkSession, dir: String): DataFrame = {
    val validated = graft.etl.RosterValidate(Fixtures.rosterDirty(spark, dir))
    val invalid = validated
      .filter(col("missing_required") === 1L || col("duplicate_rut") === 1L)
      .select(coalesce(enrolCustkey % EnrolCourses, lit(-1L)).as("course_id"),
        lit("invalid").as("status"))
    val candidates = validated
      .filter(col("missing_required") === 0L && col("duplicate_rut") === 0L)
      .select((enrolCustkey % EnrolCourses).as("course_id"),
        enrolCustkey.as("custkey"))
    val already = candidates
      .join(enrolLedger(spark, dir).distinct(), Seq("custkey", "course_id"),
        "left_semi")
      .select(col("course_id"), lit("already").as("status"))
    val planned = graft.etl.EnrolPlan(validated, enrolCustkey % EnrolCourses,
        enrolLedger(spark, dir), enrolCustkey, enrolCatalog(spark, dir))
      .select(col("course_id"), col("status"))
    planned.unionByName(already).unionByName(invalid)
      .groupBy("course_id")
      .agg(
        sum(when(col("status") === "enrolled", 1L).otherwise(0L)).as("n_enrolled"),
        sum(when(col("status") === "waitlist", 1L).otherwise(0L)).as("n_waitlist"),
        sum(when(col("status") === "unassigned", 1L).otherwise(0L)).as("n_unassigned"),
        sum(when(col("status") === "already", 1L).otherwise(0L)).as("n_already"),
        sum(when(col("status") === "invalid", 1L).otherwise(0L)).as("n_invalid"))
      .join(broadcast(enrolCatalog(spark, dir)), Seq("course_id"), "left")
      .select(col("course_id"), col("course"), col("capacity"),
        col("n_enrolled"), col("n_waitlist"), col("n_unassigned"),
        col("n_already"), col("n_invalid"),
        round(col("n_enrolled").cast("double") / col("capacity"), 6)
          .as("utilization"))
      .orderBy("course_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "moodle_normalize"    -> (moodleNormalize _),
    "roster_validate"     -> (rosterValidate _),
    "enrol_plan"          -> (enrolPlan _),
    "enrol_audit"         -> (enrolAudit _),
    "mail_users_old"      -> (mailUsersOld _),
    "mail_users_moodle"   -> (mailUsersMoodle _),
    "mail_users_fallback" -> (mailUsersFallback _),
    "mail_render"         -> (mailRender _),
    "send_plan"           -> (sendPlan _))

  val oracle: Map[String, String] = Map(
    "moodle_normalize"    -> Duck.moodleNormalizeSql(Cfg),
    "roster_validate"     -> Duck.rosterValidateSql,
    "enrol_plan"          -> Duck.enrolPlanSql(EnrolCourses, EnrolCatalog, EnrolCapacitySql),
    "enrol_audit"         -> Duck.enrolAuditSql(EnrolCourses, EnrolCatalog, EnrolCapacitySql),
    "mail_users_old"      -> Duck.mailUsersOldSql,
    "mail_users_moodle"   -> Duck.mailUsersMoodleSql(Cfg),
    "mail_users_fallback" -> Duck.mailUsersFallbackSql,
    "mail_render"         -> Duck.mailRenderSql(CourseName, AulaUrl, Cfg),
    "send_plan"           -> Duck.sendPlanSql)
}
