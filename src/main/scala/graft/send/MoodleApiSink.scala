package graft.send

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One planned enrolment action (a `status = 'enrolled'` row of the
  * `enrol_plan` query, keyed for the upload ledger).
  */
final case class EnrolAction(
    course_id: Long, seat: Long, username: String, email: String, rut: String)

/** Outcome row collected back from the API sink. `status` ∈
  * `enrolled` (both calls landed), `failed_user` (user upsert exhausted
  * retries; enrol never attempted), `failed_enrol` (user landed, enrol
  * exhausted retries).
  */
final case class EnrolResult(
    course_id: Long, username: String, status: String,
    user_attempts: Int, enrol_attempts: Int, error: String)

/** Pluggable Moodle web-service seam — the REST shape of a bulk upload
  * (`core_user_create_users` then `enrol_manual_enrol_users` per row,
  * the API rendition of the reference's roadmap bullet
  * `/root/reference/README.md:75`: "subir usuarios automáticamente a
  * Moodle mediante la API"). The real HTTP client is swapped for a
  * recording fake in tests; the retry/ledger/ordering logic around it
  * is identical either way — the same seam discipline as
  * [[MailTransport]].
  *
  * Implementations must be Serializable: one instance is constructed
  * PER PARTITION on the executor (one authenticated session per
  * partition, never per row).
  */
trait MoodleApi extends Serializable {
  /** Open the session (token handshake); called once per partition. */
  def open(): Unit = ()
  /** Create-or-update the user; throw to signal failure. MUST be
    * idempotent server-side (Moodle keys users by username), which is
    * what makes at-least-once retry safe.
    */
  def upsertUser(a: EnrolAction): Unit
  /** Enrol the (existing) user in the course; throw to signal failure.
    * Moodle treats a repeated manual enrolment as a no-op — same
    * idempotence contract.
    */
  def enrol(a: EnrolAction): Unit
  def close(): Unit = ()
}

/** Factory so each partition gets a fresh session on the executor. */
trait MoodleApiFactory extends Serializable {
  def create(): MoodleApi
}

/** The enrolment-execution sink: upload each planned action through the
  * [[MoodleApi]] seam with the SAME delivery discipline as
  * [[SmtpSink]] — per-partition session, per-call retry with linear
  * backoff, fixed throttle, graceful per-row failure (a dead row never
  * aborts the batch), and a status frame back instead of a UI log.
  *
  * Two-phase per row: the user upsert must land before the enrol call
  * is attempted (Moodle rejects enrolling an unknown username); a
  * user-phase failure therefore short-circuits to `failed_user` with
  * zero enrol attempts.
  *
  * Effectively-once ACROSS RUNS comes from [[uploadAllDeduped]]'s
  * ledger anti-join, exactly like mail delivery; WITHIN a run the
  * exposure is at-least-once on ambiguous failure, which the seam's
  * idempotence contract (upsert + no-op re-enrol) makes safe.
  */
object MoodleApiSink {

  def uploadAll(actions: Dataset[EnrolAction], factory: MoodleApiFactory,
                policy: SendPolicy = SendPolicy(),
                sleeper: Long => Unit = Thread.sleep): Dataset[EnrolResult] = {
    import actions.sparkSession.implicits._
    // per-course seat order within partitions (registrar convention);
    // partitions deliver independently over their own sessions — the
    // parallel shape, matching SmtpSink with strictGlobalOrder off
    val arranged = actions.sortWithinPartitions("course_id", "seat")
    arranged.mapPartitions { rows =>
      SessionLoop(rows) { val api = factory.create(); api.open(); api } (_.close()) { (api, a) =>
        // the SHARED retry ladder ([[Retry.attempt]]) — success is the
        // done flag, so an empty-message exception or a zero-retry
        // policy can never be misread as a landed call
        val (ua, uok, uerr) =
          Retry.attempt(policy, sleeper)(api.upsertUser(a))
        val res =
          if (!uok)
            EnrolResult(a.course_id, a.username, "failed_user", ua, 0, uerr)
          else {
            val (ea, eok, eerr) =
              Retry.attempt(policy, sleeper)(api.enrol(a))
            if (!eok)
              EnrolResult(a.course_id, a.username, "failed_enrol", ua, ea, eerr)
            else EnrolResult(a.course_id, a.username, "enrolled", ua, ea, "")
          }
        if (policy.throttleMillis > 0) sleeper(policy.throttleMillis)
        res
      }
    }
  }

  /** Ledger-guarded upload: exclude every action whose
    * (course_id, username) already appears in the done ledger — e.g.
    * the accumulated `status = 'enrolled'` rows of previous runs — then
    * upload the remainder. LEFT ANTI join: a plan, not a driver loop,
    * so the crash-and-rerun path scales with the ledger like any other
    * join and a replayed batch touches the API zero times for rows
    * already landed.
    */
  def uploadAllDeduped(actions: Dataset[EnrolAction], factory: MoodleApiFactory,
                       doneLedger: DataFrame,
                       policy: SendPolicy = SendPolicy(),
                       sleeper: Long => Unit = Thread.sleep): Dataset[EnrolResult] = {
    import actions.sparkSession.implicits._
    val fresh = actions
      .join(doneLedger.select(col("course_id"), col("username")),
        Seq("course_id", "username"), "left_anti")
      .as[EnrolAction]
    uploadAll(fresh, factory, policy, sleeper)
  }
}
