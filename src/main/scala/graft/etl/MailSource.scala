package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** The typed mail-queue record (`list[dict]` with 4 string fields in the
  * reference, `app.py:309-314`).
  */
final case class MailUser(email: String, nombre: String, usuario: String, contrasena: String)

/** Mail-source dialect detection + normalization
  * (`load_users_from_csv`, `app.py:277-315`).
  *
  * Three dialects, detected by case-insensitive header probe with
  * precedence old > moodle > fallback (`app.py:284-287`):
  *   - old:      has `email` + `usuario`
  *   - moodle:   has `email` + `username` + `password`
  *   - fallback: anything else with `email`
  *
  * Deliberate divergence (SURVEY.md §1.3): we normalize headers to
  * lowercase before dispatch AND access; the reference detects on
  * lowercase but reads original-case keys, silently dropping rows under
  * uppercase headers.
  */
object MailSource {

  sealed trait Dialect
  case object OldDialect      extends Dialect
  case object MoodleDialect   extends Dialect
  case object FallbackDialect extends Dialect

  def detect(columns: Seq[String]): Dialect = {
    val f = columns.map(_.toLowerCase).toSet
    if (f("email") && f("usuario")) OldDialect
    else if (f("email") && f("username") && f("password")) MoodleDialect
    else FallbackDialect
  }

  /** Normalize any dialect to the 4-column MailUser shape, dropping rows
    * whose stripped email is empty (`app.py:308`). Pure projection+filter:
    * no shuffle, codegen'd end-to-end.
    */
  def normalize(df: DataFrame): DataFrame = {
    val lowered = df.toDF(df.columns.map(_.toLowerCase): _*)
    def has(name: String): Boolean = lowered.columns.contains(name)
    def colOr(name: String, default: Column = lit("")): Column =
      if (has(name)) coalesce(col(name), lit("")) else default

    val localPart = emailLocalPart(trim(colOr("email")))

    val projected = detect(df.columns) match {
      case OldDialect =>
        lowered.select(
          trim(colOr("email")).as("email"),
          trim(colOr("nombre")).as("nombre"),
          trim(colOr("usuario")).as("usuario"),
          trim(colOr("contrasena")).as("contrasena"))
      case MoodleDialect =>
        // nombre = "firstname lastname".strip() or title(local-part)
        // (`app.py:296-299`)
        val joined = trim(concat_ws(" ", trim(colOr("firstname")), trim(colOr("lastname"))))
        lowered.select(
          trim(colOr("email")).as("email"),
          coalesce(nullIfEmpty(joined), initcap(localPart)).as("nombre"),
          trim(colOr("username")).as("usuario"),
          trim(colOr("password")).as("contrasena"))
      case FallbackDialect =>
        // Python-truthiness fallbacks on the RAW values, single final
        // strip (`app.py:303-306`).
        lowered.select(
          trim(colOr("email")).as("email"),
          coalesce(nullIfEmpty(trim(colOr("nombre"))), initcap(localPart)).as("nombre"),
          trim(coalesce(
            nullIfEmpty(colOr("usuario", lit(null).cast("string"))),
            nullIfEmpty(colOr("username", lit(null).cast("string"))),
            localPart)).as("usuario"),
          trim(coalesce(
            nullIfEmpty(colOr("contrasena", lit(null).cast("string"))),
            nullIfEmpty(colOr("password", lit(null).cast("string"))),
            lit(""))).as("contrasena"))
    }
    projected.filter(length(col("email")) > 0)
  }
}
