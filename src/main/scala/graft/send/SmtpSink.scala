package graft.send

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** One rendered outgoing message (columns produced by RenderMail + the
  * ordinal columns from the send plan).
  */
final case class OutgoingMail(
    idx: Long, total: Long, email: String, nombre: String,
    subject: String, plain_body: String, html_body: String)

/** Delivery outcome row collected back from the sink. */
final case class SendResult(
    idx: Long, email: String, status: String, attempts: Int, error: String)

/** Pluggable transport: the only side-effecting seam. The real SMTP
  * transport (`smtplib.SMTP_SSL` in the reference, `app.py:335-337`) is
  * swapped for a recording fake in tests; the retry/throttle/ordering
  * logic around it is identical either way.
  *
  * Implementations must be Serializable: one instance is constructed PER
  * PARTITION on the executor (the reference's one-connection-per-batch
  * becomes one-connection-per-partition).
  */
trait MailTransport extends Serializable {
  /** Open the connection; called once per partition. */
  def open(): Unit = ()
  /** Send one message; throw to signal failure. */
  def send(mail: OutgoingMail): Unit
  def close(): Unit = ()
}

/** Factory so each partition gets a fresh transport on the executor. */
trait TransportFactory extends Serializable {
  def create(): MailTransport
}

/** Retry/throttle policy (reference constants at `app.py:44-45`):
  * `maxRetries` attempts with `2*attempt`-seconds linear backoff, then a
  * terminal failure that does NOT abort the batch; `throttleMillis`
  * pacing between messages.
  */
final case class SendPolicy(
    maxRetries: Int = 3,
    backoffMillisPerAttempt: Long = 2000L,
    throttleMillis: Long = 1000L)

/** The one linear-backoff retry ladder both delivery sinks run
  * ([[SmtpSink]] per message, [[MoodleApiSink]] per API call) — shared
  * so the success test can never drift between them. Success is the
  * DONE flag, never an error-message test: an exception with an empty
  * message still counts as failure, and `maxRetries = 0` (zero
  * attempts) reports failure rather than silently succeeding without a
  * call.
  */
object Retry {
  /** @return (attempts made, succeeded, last error message) */
  def attempt(policy: SendPolicy, sleeper: Long => Unit)(f: => Unit)
      : (Int, Boolean, String) = {
    var attempt = 0
    var done    = false
    var lastErr = ""
    while (!done && attempt < policy.maxRetries) {
      attempt += 1
      try { f; done = true } catch {
        case e: Exception =>
          lastErr = String.valueOf(e.getMessage)
          if (attempt < policy.maxRetries)
            sleeper(policy.backoffMillisPerAttempt * attempt)
      }
    }
    if (!done && lastErr.isEmpty) lastErr = "no attempts made or empty error"
    (attempt, done, lastErr)
  }
}

/** The per-partition session loop both delivery sinks run
  * ([[SmtpSink]] over a [[MailTransport]], [[MoodleApiSink]] over a
  * [[MoodleApi]]): a non-empty partition opens ONE session (`open`),
  * maps every row through `f` on it, and closes it exactly once —
  * eagerly at exhaustion (so batch callers outside a task context
  * release it promptly) or at task end, whichever comes first (a
  * downstream limit can cut the iterator short). An empty partition
  * opens nothing.
  */
private[send] object SessionLoop {
  def apply[S, A, B](rows: Iterator[A])(open: => S)(close: S => Unit)
      (f: (S, A) => B): Iterator[B] =
    if (rows.isEmpty) Iterator.empty
    else {
      val session = open
      var closed = false
      def closeOnce(): Unit = if (!closed) { closed = true; close(session) }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      val out = rows.map(f(session, _))
      new Iterator[B] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) closeOnce()
          h
        }
        def next(): B = out.next()
      }
    }
}

/** S5/E1-E3 — the delivery sink (`send_all`, `app.py:328-377`),
  * re-expressed as a `mapPartitions` over an ordinal-sorted Dataset that
  * RETURNS a result DataFrame (status per message) instead of mutating a
  * UI log.
  *
  * Semantics preserved: strict source order within a partition, 1-based
  * `[idx/total]` accounting, per-message retry with linear backoff,
  * fixed throttle, at-least-once on ambiguous failure (same exposure as
  * the reference).
  *
  * Scale: `strictGlobalOrder=true` coalesces to one partition — the
  * reference's sequential contract, for human-sized batches. With it off,
  * each partition delivers independently in parallel over its own
  * connection (the 100 TB-era shape), still ordered within partitions.
  */
object SmtpSink {

  def sendAll(mails: Dataset[OutgoingMail], factory: TransportFactory,
              policy: SendPolicy = SendPolicy(),
              strictGlobalOrder: Boolean = true,
              sleeper: Long => Unit = Thread.sleep): Dataset[SendResult] = {
    import mails.sparkSession.implicits._
    val arranged =
      if (strictGlobalOrder) mails.coalesce(1).sortWithinPartitions("idx")
      else mails.sortWithinPartitions("idx")

    arranged.mapPartitions { rows =>
      SessionLoop(rows) { val t = factory.create(); t.open(); t } (_.close()) { (transport, m) =>
        val (attempt, done, lastErr) =
          Retry.attempt(policy, sleeper)(transport.send(m))
        if (policy.throttleMillis > 0) sleeper(policy.throttleMillis)
        if (done) SendResult(m.idx, m.email, "sent", attempt, "")
        else SendResult(m.idx, m.email, "failed", attempt, lastErr)
      }
    }
  }

  /** Ledger-guarded delivery (SURVEY §7.4.5): exclude every message
    * whose key already appears in the sent ledger, then deliver the
    * remainder. The ledger is a plain DataFrame — e.g. the accumulated
    * `status = 'sent'` rows of previous runs persisted to parquet — and
    * the exclusion is a LEFT ANTI join (a plan, not a driver loop), so
    * it scales with the ledger like any other join. Duplicate ledger
    * keys need no `distinct`: an anti join only asks whether a match
    * exists.
    *
    * This turns crash-and-rerun into effectively-once ACROSS RUNS; task
    * retry WITHIN a run keeps the reference's at-least-once exposure
    * (`app.py:363-375` has the same ambiguous-failure window).
    */
  def sendAllDeduped(mails: Dataset[OutgoingMail], factory: TransportFactory,
                     sentLedger: DataFrame, keyCol: String = "email",
                     policy: SendPolicy = SendPolicy(),
                     strictGlobalOrder: Boolean = true,
                     sleeper: Long => Unit = Thread.sleep): Dataset[SendResult] = {
    import mails.sparkSession.implicits._
    val fresh = mails
      .join(sentLedger.select(col(keyCol)), Seq(keyCol), "left_anti")
      .as[OutgoingMail]
    sendAll(fresh, factory, policy, strictGlobalOrder, sleeper)
  }

  /** Attach the 1-based ordinal + total to a rendered-mail frame, by an
    * explicit order column. Global window by design — see sendPlan notes.
    */
  def withOrdinals(rendered: DataFrame, orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
    rendered
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("total",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("long"))
  }
}
