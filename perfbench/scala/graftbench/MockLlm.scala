package graftbench

import graft.enrich.{LlmPayload, LlmResponse, LlmTransport}
import com.fasterxml.jackson.databind.ObjectMapper

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** JVM-wide record of what the benchmark's transport and sleeper saw. Spark
  * runs `local[N]`, so every executor thread lives in this JVM and sees the
  * same object. Reset before each pass of the chain.
  */
object LlmRecorder {
  final case class Call(key: String, attempt: Int, startNs: Long, endNs: Long, status: Int)

  val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  val calls = new AtomicLong()
  val retries = new AtomicLong()
  val inflight = new AtomicInteger()
  val inflightPeak = new AtomicInteger()
  val limiterSleepMs = new AtomicLong()
  val backoffSleepMs = new AtomicLong()
  @volatile var keepSpans = false
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Call]()

  /** Set by the transport when its answer will make the caller back off;
    * the next sleep on this thread is then a backoff, not a limiter wait.
    */
  private[graftbench] val backoffNext = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  def reset(): Unit = {
    attempts.clear(); calls.set(0); retries.set(0); inflight.set(0)
    inflightPeak.set(0); limiterSleepMs.set(0); backoffSleepMs.set(0); spans.clear()
  }

  /** Keys called at least once since the last reset. */
  def calledKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    attempts.keySet().asScala.toSet
  }
}

/** The mock LLM endpoint: fixed latency per call, 503s for the documents and
  * attempts [[Faults]] names, success otherwise. Never answers 429.
  */
final class BenchTransport(faults: Faults, latencyMs: Long, maxRetries: Int)
    extends LlmTransport {
  import BenchTransport._

  override def post(payload: LlmPayload): LlmResponse = {
    val R = LlmRecorder
    val user = payload.messages.find(_.role == "user").map(_.content).getOrElse("")
    val key = KeyPattern.findFirstMatchIn(user).map(_.group(1)).getOrElse("?")
    val attempt = R.attempts.computeIfAbsent(key, _ => new AtomicInteger()).getAndIncrement()
    R.calls.incrementAndGet()
    if (attempt > 0) R.retries.incrementAndGet()
    val now = R.inflight.incrementAndGet()
    R.inflightPeak.accumulateAndGet(now, math.max)
    val t0 = System.nanoTime()
    try {
      Thread.sleep(latencyMs)
      val fail = attempt < faults.failingAttempts(key)
      if (fail && attempt < maxRetries) R.backoffNext.set(true)
      val resp =
        if (fail) LlmResponse(503, "{\"error\": \"service unavailable\"}")
        else LlmResponse(200, body(key, user.length))
      if (R.keepSpans) R.spans.add(LlmRecorder.Call(key, attempt, t0, System.nanoTime(), resp.status))
      resp
    } finally R.inflight.decrementAndGet()
  }
}

object BenchTransport {
  /** The markdown template's `Skolkod: {SchoolCode}` line names the document. */
  val KeyPattern = "Skolkod: (\\S+)".r

  /** Backoff sleeps are slept at 1/BackoffScale of their requested length
    * (a failing document's 1+2+4 s ladder costs 350 ms of wall time);
    * limiter waits are slept in full. Both are recorded as requested.
    */
  val BackoffScale = 20L

  private val mapper = new ObjectMapper()

  def body(key: String, n: Int): String = {
    val root = mapper.createObjectNode()
    root.putArray("choices").addObject().putObject("message")
      .put("role", "assistant")
      .put("content", s"```markdown\n## Skolan och eleverna\n\n$key har ett underlag på $n tecken.\n```")
    root.put("model", "bench-mock")
    mapper.writeValueAsString(root)
  }

  /** The sleeper handed to `EnrichJob.run`. */
  def sleeper(ms: Long): Unit = {
    val R = LlmRecorder
    if (R.backoffNext.get()) {
      R.backoffNext.set(false)
      R.backoffSleepMs.addAndGet(ms)
      if (ms > 0) Thread.sleep(math.max(1L, ms / BackoffScale))
    } else {
      R.limiterSleepMs.addAndGet(ms)
      if (ms > 0) Thread.sleep(ms)
    }
  }
}
