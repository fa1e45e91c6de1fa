package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Capacity-bounded enrolment planning — the execution half of the
  * reference's stated roadmap (`/root/reference/README.md:75-77`:
  * "ejecución de matrícula por curso", the step after the
  * [[RosterValidate]] validation bullet). Given validated roster rows,
  * an already-enrolled ledger, and a course catalog with per-course
  * capacity, produce the deterministic per-course seating plan a Moodle
  * bulk-enrol run would execute:
  *
  *   1. candidates = validated rows that import as-is or are
  *      auto-fixable (`missing_required = 0 AND duplicate_rut = 0`;
  *      username collisions are already repaired by the validator's
  *      deterministic numeric suffix, so they stay in);
  *   2. already-enrolled (student, course) pairs leave via LEFT ANTI
  *      against the enrolment ledger — re-running the plan after a
  *      partial upload never re-enrols anyone (idempotent planning, the
  *      same discipline [[graft.send.SmtpSink.sendAllDeduped]] applies
  *      to delivery);
  *   3. remaining candidates get a deterministic 1-based per-course
  *      ordinal (`seat`), ordered by the collision-free
  *      `username_final`; seats ≤ capacity are `enrolled`, the rest
  *      `waitlist` in seat order — the registrar convention.
  *
  * Scale shape: the course catalog is dimension-sized → broadcast
  * join; the anti-join shuffles both sides on (custkey, course_id) —
  * the one necessary rendezvous, linear in ledger size; the seat
  * ordinal is a window keyed BY COURSE (never a global window), so
  * parallelism is course-count wide and each partition sorts one
  * course's candidates. At a 10⁶-student course the same plan holds
  * because capacity selection is a per-key top-k: AQE handles the skew,
  * and only the waitlist tail beyond capacity could be truncated with a
  * rank-filter pushdown if a deployment wanted to cap output size.
  */
object EnrolPlan {

  /** @param validated   [[RosterValidate]] output (error flags +
    *                    `username_final`)
    * @param assignCourse column deriving the target course_id for a
    *                    validated row
    * @param enrolments  already-enrolled ledger: (custkey, course_id)
    * @param ledgerKey   column deriving the ledger's custkey from a
    *                    validated row (the roster identity the ledger is
    *                    keyed by)
    * @param courses     catalog: (course_id, course, capacity)
    */
  def apply(validated: DataFrame, assignCourse: org.apache.spark.sql.Column,
            enrolments: DataFrame,
            ledgerKey: org.apache.spark.sql.Column,
            courses: DataFrame): DataFrame = {
    val candidates = validated
      .filter(col("missing_required") === 0L && col("duplicate_rut") === 0L)
      .withColumn("course_id", assignCourse)
      .withColumn("custkey", ledgerKey)
    // no distinct on the ledger: an anti join ignores duplicate keys
    val fresh = candidates.join(enrolments.select("custkey", "course_id"),
      Seq("custkey", "course_id"), "left_anti")
    val seatW = Window.partitionBy("course_id").orderBy("username_final")
    // LEFT join on the catalog: a candidate whose derived course has no
    // catalog row must SURFACE as `unassigned` (null course/capacity),
    // never vanish — every other exclusion in this planner is explicit
    // (validator flags, the enrolment anti-join), and a silent
    // inner-join drop would hide a catalog gap from the registrar.
    fresh
      .join(broadcast(courses), Seq("course_id"), "left")
      .withColumn("seat", row_number().over(seatW).cast("long"))
      .select(
        col("course_id"), col("course"), col("capacity"), col("seat"),
        when(col("capacity").isNull, "unassigned")
          .when(col("seat") <= col("capacity"), "enrolled")
          .otherwise("waitlist").as("status"),
        col("username_final").as("username"),
        col("rut"), col("email"))
  }
}
