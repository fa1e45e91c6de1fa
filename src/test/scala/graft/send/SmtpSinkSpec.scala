package graft.send

import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, TestSpark}

/** Recording fake transport: failure schedule keyed by email, static
  * journals so executor-side state is visible to the test (local mode =
  * same JVM).
  */
object FakeTransport {
  val sent: ConcurrentLinkedQueue[String]   = new ConcurrentLinkedQueue[String]()
  val sleeps: ConcurrentLinkedQueue[Long]   = new ConcurrentLinkedQueue[Long]()
  @volatile var failFirstN: Map[String, Int] = Map.empty
  val attemptCount = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def reset(fail: Map[String, Int] = Map.empty): Unit = {
    sent.clear(); sleeps.clear(); attemptCount.clear(); failFirstN = fail
  }
}

class RecordingFactory extends TransportFactory {
  def create(): MailTransport = new MailTransport {
    def send(mail: OutgoingMail): Unit = {
      val n = FakeTransport.attemptCount.merge(mail.email, 1, (a, b) => a + b)
      if (n <= FakeTransport.failFirstN.getOrElse(mail.email, 0))
        throw new RuntimeException(s"boom-$n")
      FakeTransport.sent.add(mail.email)
    }
  }
}

class SmtpSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val recordSleep: Long => Unit = ms => FakeTransport.sleeps.add(ms)

  private def mails(n: Int) = (1 to n).map(i =>
    OutgoingMail(i.toLong, n.toLong, s"u$i@x.cl", s"U$i", "s", "p", "<html/>")).toDS()

  test("delivers strictly in ordinal order with per-message throttle") {
    FakeTransport.reset()
    val res = SmtpSink.sendAll(mails(20), new RecordingFactory,
      SendPolicy(throttleMillis = 5), sleeper = recordSleep).collect()
    assert(FakeTransport.sent.toArray.toSeq == (1 to 20).map(i => s"u$i@x.cl"))
    assert(res.forall(_.status == "sent"))
    assert(FakeTransport.sleeps.toArray.count(_ == 5L) == 20)
  }

  test("retry with linear backoff then success (app.py:363-375)") {
    FakeTransport.reset(fail = Map("u2@x.cl" -> 2))
    val res = SmtpSink.sendAll(mails(3), new RecordingFactory,
      SendPolicy(backoffMillisPerAttempt = 7, throttleMillis = 0), sleeper = recordSleep)
      .collect().sortBy(_.idx)
    assert(res(1).status == "sent" && res(1).attempts == 3)
    // backoff after attempts 1 and 2: 7ms, 14ms
    assert(FakeTransport.sleeps.toArray.toSeq == Seq(7L, 14L))
  }

  test("terminal failure after maxRetries does not abort the batch") {
    FakeTransport.reset(fail = Map("u2@x.cl" -> 99))
    val res = SmtpSink.sendAll(mails(3), new RecordingFactory,
      SendPolicy(backoffMillisPerAttempt = 0, throttleMillis = 0), sleeper = recordSleep)
      .collect().sortBy(_.idx)
    assert(res.map(_.status).toSeq == Seq("sent", "failed", "sent"))
    assert(res(1).attempts == 3 && res(1).error.contains("boom"))
    assert(FakeTransport.sent.size == 2)
  }

  test("parallel mode keeps per-partition order without a global sort") {
    FakeTransport.reset()
    val res = SmtpSink.sendAll(mails(50).repartition(4), new RecordingFactory,
      SendPolicy(throttleMillis = 0), strictGlobalOrder = false, sleeper = recordSleep)
      .collect()
    assert(res.length == 50 && res.forall(_.status == "sent"))
    assert(FakeTransport.sent.size == 50)
  }

  test("sent-ledger dedup: a rerun after partial delivery sends only the remainder") {
    import org.apache.spark.sql.functions.col
    // run 1: message 2 fails terminally, 1 and 3 go through
    FakeTransport.reset(fail = Map("u2@x.cl" -> 99))
    val run1 = SmtpSink.sendAll(mails(3), new RecordingFactory,
      SendPolicy(backoffMillisPerAttempt = 0, throttleMillis = 0), sleeper = recordSleep)
      .toDF().filter(col("status") === "sent").cache()
    assert(run1.count() == 2)

    // run 2 (simulated crash-and-rerun over the SAME batch, ledger from
    // run 1): only the previously-failed message may reach the transport
    FakeTransport.reset()
    val res2 = SmtpSink.sendAllDeduped(mails(3), new RecordingFactory,
      sentLedger = run1,
      policy = SendPolicy(backoffMillisPerAttempt = 0, throttleMillis = 0),
      sleeper = recordSleep).collect()
    run1.unpersist()
    assert(res2.map(_.email).toSeq == Seq("u2@x.cl"))
    assert(FakeTransport.sent.toArray.toSeq == Seq("u2@x.cl"))
  }

  test("the sent-ledger anti join aggregates nothing on the ledger side") {
    // duplicate ledger keys are harmless to an anti join, so the plan
    // carries no distinct (an Aggregate) over the ledger
    val ledger = Seq("u1@x.cl", "u1@x.cl", "u3@x.cl").toDF("email")
    val plan = SmtpSink.sendAllDeduped(mails(3), new RecordingFactory, ledger)
      .queryExecution.optimizedPlan
    assert(plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      .isEmpty, plan)
  }

  test("withOrdinals computes idx and total over one single-partition exchange") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val rendered = spark.range(0, 40, 1, 4).select(concat(lit("u"), col("id"), lit("@x.cl")).as("email"))
    val withOrd = SmtpSink.withOrdinals(rendered, "email")
    val parts = CostGuard.shuffles(withOrd).map(_.outputPartitioning)
    assert(parts == Seq(org.apache.spark.sql.catalyst.plans.physical.SinglePartition),
      withOrd.queryExecution.executedPlan)
    assert(withOrd.select("idx", "total").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (1 to 40).map(i => (i.toLong, 40L)))
  }
}
