package perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.send._

/** The seeded failure schedule: whether attempt `n` of the call identified
  * by `key` fails. Pure, so the checker can replay it.
  */
final case class Schedule(seed: Long, failPercent: Int) {
  def fails(key: String, n: Int): Boolean = {
    var h = seed * 0x9E3779B97F4A7C15L + n
    key.foreach(c => h = (h ^ c) * 0x100000001B3L)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    java.lang.Math.floorMod(h, 100L) < failPercent
  }

  /** (attempts, succeeded, backoff ms asked for) under the retry ladder. */
  def replay(key: String, p: SendPolicy): (Int, Boolean, Long) = {
    var n = 0; var ok = false; var backoff = 0L
    while (!ok && n < p.maxRetries) {
      n += 1
      if (!fails(key, n)) ok = true
      else if (n < p.maxRetries) backoff += p.backoffMillisPerAttempt * n
    }
    (n, ok, backoff)
  }
}

/** Counters the fake transports and the sleeper write. Local mode runs tasks
  * in this JVM, so a static object sees every call.
  */
object Calls {
  val mailAttempts = new AtomicLong
  val apiCalls     = new AtomicLong
  val backoffMs    = new AtomicLong
  def reset(): Unit = Seq(mailAttempts, apiCalls, backoffMs).foreach(_.set(0))
  /** Sleeps zero and records what was asked for. */
  val sleeper: Long => Unit = ms => { backoffMs.addAndGet(ms); () }
}

object Fakes {
  /** Retries of one message reuse the same object, so identity tells a
    * retry from the next message.
    */
  def mailKey(m: OutgoingMail): String = s"${m.email}#${m.idx}"
  def apiKey(phase: String, a: EnrolAction): String = s"$phase#${a.course_id}#${a.username}"

  final class Mail(s: Schedule) extends TransportFactory {
    def create(): MailTransport = new MailTransport {
      private var last: AnyRef = null
      private var n = 0
      def send(m: OutgoingMail): Unit = {
        if (m eq last) n += 1 else { last = m; n = 1 }
        Calls.mailAttempts.incrementAndGet()
        if (s.fails(mailKey(m), n)) throw new RuntimeException(s"421 try again ($n)")
      }
    }
  }

  final class Api(s: Schedule) extends MoodleApiFactory {
    def create(): MoodleApi = new MoodleApi {
      private var last: AnyRef = null
      private var phase = ""
      private var n = 0
      private def call(p: String, a: EnrolAction): Unit = {
        if ((a eq last) && p == phase) n += 1 else { last = a; phase = p; n = 1 }
        Calls.apiCalls.incrementAndGet()
        if (s.fails(apiKey(p, a), n)) throw new RuntimeException(s"503 $p ($n)")
      }
      def upsertUser(a: EnrolAction): Unit = call("user", a)
      def enrol(a: EnrolAction): Unit = call("enrol", a)
    }
  }
}
