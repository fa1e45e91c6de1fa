package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._
import graft.send._

/** The `moodle_chain` workload: the product path from the roster sheet to
  * the enrolment upload, one timed operation per step. Each step rebuilds
  * from the files it consumes; nothing is cached between steps.
  *
  * roster.csv → RosterReader.read → RosterValidate / MoodleNormalize →
  * MoodleCsvSink.write → mail source (moodle CSV, old and fallback CSVs,
  * each through MailSource.normalize) → RenderMail → withOrdinals →
  * sendAllDeduped (sent ledger) → EnrolPlan → uploadAllDeduped (done ledger).
  */
final class Chain(spark: SparkSession, in: Inputs, work: Path) {
  import spark.implicits._

  val Cfg = MoodleConfig(passwordPattern = "{username}{year}-{rut}")
  val Policy = SendPolicy(maxRetries = 3, backoffMillisPerAttempt = 2000L, throttleMillis = 0L)
  val MailSchedule = Schedule(in.seed, failPercent = 15)
  val ApiSchedule = Schedule(in.seed + 1, failPercent = 10)

  private val moodleCsv = work.resolve("moodle_upload.csv")
  private val sendOut = work.resolve("send_results.parquet").toString
  private val uploadOut = work.resolve("upload_results.parquet").toString
  private val doneLedger = work.resolve("done_ledger.parquet").toString

  /** What the checked send and upload steps did, for the per-layer metrics. */
  @volatile var lastSend: Option[SendStats] = None
  @volatile var lastUpload: Option[UploadStats] = None

  private def csv(p: Path): DataFrame =
    spark.read.option("header", "true").option("encoding", "UTF-8").csv(p.toString)
  private def roster(): DataFrame = RosterReader.read(spark, in.roster.toString)
  private def custkey = split(col("rut"), "-").getItem(0).cast("long")
  private def mailQueue(): DataFrame =
    Seq(csv(moodleCsv), csv(in.mailOld), csv(in.mailFallback))
      .map(MailSource.normalize).reduce(_ unionByName _)
  private def rendered(): DataFrame = RenderMail(mailQueue(), "Analitica de Datos 101", "https://aula.example.org/")
  private def outgoing(): org.apache.spark.sql.Dataset[OutgoingMail] =
    SmtpSink.withOrdinals(rendered(), "email")
      .select("idx", "total", "email", "nombre", "subject", "plain_body", "html_body")
      .as[OutgoingMail]
  private def plan(): DataFrame =
    EnrolPlan(RosterValidate(roster()), custkey % Inputs.Courses,
      spark.read.parquet(in.enrolments.toString), custkey,
      spark.read.parquet(in.courses.toString))
  private def actions(): org.apache.spark.sql.Dataset[EnrolAction] =
    plan().filter(col("status") === "enrolled")
      .select(col("course_id"), col("seat"), col("username"), col("email"), col("rut"))
      .as[EnrolAction]

  private abstract class Step(val name: String, val span: String) extends Op {
    val module = ""
  }

  private def step(n: String, s: String)(b: => DataFrame)(c: DataFrame => Seq[String]): Op =
    new Step(n, s) {
      def build(): DataFrame = b
      def check(df: DataFrame): Seq[String] = c(df)
    }

  private def rows(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what: $got rows, expected $want")

  /** Writes the done ledger the upload step dedups against: every tenth
    * planned enrolment, chosen by a seeded hash. Untimed set-up.
    */
  def prepare(): Unit =
    actions().filter(pmod(xxhash64(col("username"), lit(in.seed)), lit(10)) === 0)
      .select("course_id", "username").write.mode("overwrite").parquet(doneLedger)

  val ops: Seq[Op] = Seq(
    step("read", "etl.read")(roster()) { df =>
      rows("read", df.count(), in.rosterRows) },
    step("validate", "etl.validate")(RosterValidate(roster())) { df =>
      rows("validate", df.count(), in.rosterRows) ++
        rows("validate missing_required", df.filter(col("missing_required") === 1L).count(),
          in.missingRequired) },
    step("normalize", "etl.normalize")(MoodleNormalize(roster(), Cfg)) { df =>
      rows("normalize", df.count(), in.normalizedRows) },
    new Step("csv_sink", "etl.csv_sink") {
      def build(): DataFrame = MoodleNormalize(roster(), Cfg)
      override def act(df: DataFrame): Unit = MoodleCsvSink.write(df, moodleCsv.toString)
      def check(df: DataFrame): Seq[String] = {
        val lines = Files.readAllLines(moodleCsv).size - 1L
        rows("csv_sink file", lines, in.normalizedRows)
      }
    },
    step("mail_source", "etl.mail_source")(mailQueue()) { df =>
      rows("mail_source", df.count(), in.mails) },
    step("render", "etl.render")(rendered()) { df =>
      rows("render", df.count(), in.mails) ++
        rows("render null bodies", df.filter(col("html_body").isNull || col("subject").isNull).count(), 0) },
    new Step("send", "send.sink") {
      def build(): DataFrame = {
        Calls.reset()
        SmtpSink.sendAllDeduped(outgoing(), new Fakes.Mail(MailSchedule),
          spark.read.parquet(in.sentLedger.toString), "email", Policy, sleeper = Calls.sleeper).toDF()
      }
      override def act(df: DataFrame): Unit = df.write.mode("overwrite").parquet(sendOut)
      def check(df: DataFrame): Seq[String] = checkSend()
    },
    step("enrol_plan", "etl.enrol_plan")(plan()) { df =>
      val over = df.filter(col("status") === "enrolled").groupBy("course_id", "capacity").count()
        .filter(col("count") > col("capacity")).count()
      val bad = df.filter(!col("status").isin("enrolled", "waitlist", "unassigned") ||
        (col("status") === "unassigned") =!= col("capacity").isNull).count()
      (if (over == 0) Nil else Seq(s"enrol_plan: $over courses over capacity")) ++
        (if (bad == 0) Nil else Seq(s"enrol_plan: $bad rows with an inconsistent status")) ++
        (if (df.count() > 0) Nil else Seq("enrol_plan: empty plan"))
    },
    new Step("upload", "send.api_sink") {
      def build(): DataFrame = {
        Calls.reset()
        MoodleApiSink.uploadAllDeduped(actions(), new Fakes.Api(ApiSchedule),
          spark.read.parquet(doneLedger), Policy, Calls.sleeper).toDF()
      }
      override def act(df: DataFrame): Unit = df.write.mode("overwrite").parquet(uploadOut)
      def check(df: DataFrame): Seq[String] = checkUpload()
    })

  /** Accounting of the send step: every message reached a terminal status,
    * attempts and backoff follow the schedule, the ledger skipped exactly
    * the ledgered addresses.
    */
  private def checkSend(): Seq[String] = {
    val attempts = Calls.mailAttempts.get
    val backoff = Calls.backoffMs.get
    val res = spark.read.parquet(sendOut).as[SendResult].collect().toSeq
    val errs = Seq.newBuilder[String]
    val sent = res.count(_.status == "sent")
    val failed = res.count(_.status == "failed")
    val offered = in.mails - in.ledgerHits
    if (sent + failed != res.size) errs += s"send: ${res.size - sent - failed} non-terminal statuses"
    if (res.size != offered) errs += s"send: ${res.size} messages reached the sink, expected $offered"
    var wantBackoff = 0L
    res.foreach { r =>
      val (n, ok, b) = MailSchedule.replay(s"${r.email}#${r.idx}", Policy)
      wantBackoff += b
      if (n != r.attempts || ok != (r.status == "sent"))
        errs += s"send: ${r.email}#${r.idx} made ${r.attempts} attempts (${r.status}), schedule says $n ($ok)"
    }
    if (attempts != res.map(_.attempts.toLong).sum) errs += s"send: transport saw $attempts attempts"
    if (backoff != wantBackoff) errs += s"send: backoff $backoff ms requested, schedule says $wantBackoff"
    lastSend = Some(SendStats(res.size, sent, attempts, backoff, in.mails - res.size))
    errs.result().take(5)
  }

  /** A second send against the ledger extended with this run's deliveries
    * must offer only the addresses that were never delivered.
    */
  def checkRerun(): Seq[String] = {
    val first = spark.read.parquet(sendOut)
    val ledger = spark.read.parquet(in.sentLedger.toString)
      .unionByName(first.filter(col("status") === "sent").select("email"))
    val delivered = ledger.as[String].collect().toSet
    Calls.reset()
    val again = SmtpSink.sendAllDeduped(outgoing(), new Fakes.Mail(MailSchedule), ledger,
      "email", Policy, sleeper = Calls.sleeper).collect().toSeq
    val want = first.as[SendResult].collect().count(r => !delivered(r.email))
    val dup = again.count(r => delivered(r.email))
    (if (dup == 0) Nil else Seq(s"rerun: $dup ledgered addresses sent again")) ++
      (if (again.size == want) Nil else Seq(s"rerun: ${again.size} messages offered, expected $want"))
  }

  private def checkUpload(): Seq[String] = {
    val calls = Calls.apiCalls.get
    val backoff = Calls.backoffMs.get
    val res = spark.read.parquet(uploadOut).as[EnrolResult].collect().toSeq
    val offered = actions().join(spark.read.parquet(doneLedger), Seq("course_id", "username"), "left_anti").count()
    val errs = Seq.newBuilder[String]
    if (res.size != offered) errs += s"upload: ${res.size} actions reached the sink, expected $offered"
    var wantBackoff = 0L
    res.foreach { r =>
      val a = EnrolAction(r.course_id, 0L, r.username, "", "")
      val (un, uok, ub) = ApiSchedule.replay(Fakes.apiKey("user", a), Policy)
      val (en, eok, eb) = if (uok) ApiSchedule.replay(Fakes.apiKey("enrol", a), Policy) else (0, false, 0L)
      wantBackoff += ub + eb
      val status = if (!uok) "failed_user" else if (!eok) "failed_enrol" else "enrolled"
      if (un != r.user_attempts || en != r.enrol_attempts || status != r.status)
        errs += s"upload: ${r.username}@${r.course_id} ${r.status} ${r.user_attempts}/${r.enrol_attempts}, schedule says $status $un/$en"
    }
    val made = res.map(r => (r.user_attempts + r.enrol_attempts).toLong).sum
    if (calls != made) errs += s"upload: api saw $calls calls, results account for $made"
    if (backoff != wantBackoff) errs += s"upload: backoff $backoff ms requested, schedule says $wantBackoff"
    lastUpload = Some(UploadStats(res.size, calls, backoff))
    errs.result().take(5)
  }
}

final case class SendStats(messages: Long, sent: Long, attempts: Long, backoffMs: Long, skipped: Long)
final case class UploadStats(actions: Long, calls: Long, backoffMs: Long)
