package graft.enrich

import graft.SparkSpec

import java.io.IOException
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Counts transport calls per document, by the `# <id>` heading of its
  * prompt. A document whose text holds `RETRY` gets one 503 before its
  * answer; one holding `FAIL` gets a 500 on every attempt.
  */
object DocCalls {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def of(id: String): Int = calls.getOrDefault(id, 0).toInt
  def total: Int = calls.values.stream().mapToInt(_.intValue).sum
  def reset(): Unit = calls.clear()
}

final class DocCallsTransport extends LlmTransport {
  private val inner = new MockLlmTransport
  override def post(p: LlmPayload): LlmResponse = {
    val user = p.messages.find(_.role == "user").map(_.content).getOrElse("")
    val id = "# (\\S+)".r.findFirstMatchIn(user).map(_.group(1)).getOrElse("?")
    val n = DocCalls.calls.merge(id, 1, (a, b) => a + b)
    if (user.contains("FAIL")) LlmResponse(500, "server error")
    else if (user.contains("RETRY") && n == 1) LlmResponse(503, "unavailable")
    else inner.post(p)
  }
}

/** Mirrors the reference's mocked-session tests for the E1-E7 state machine
  * (`tests/test_program2_all.py:122-307`): 429 sleeps, 500-retry-then-fail,
  * network error, timeout, invalid JSON no-retry, empty choices/content with
  * retry-then-success, fence cleaning, skip-if-exists.
  */
class EnrichSpec extends SparkSpec {

  /** Transport that replays a script of responses/throwables. */
  private class Scripted(script: Seq[Either[Throwable, LlmResponse]]) extends LlmTransport {
    val calls = new AtomicInteger(0)
    override def post(p: LlmPayload): LlmResponse = {
      val i = calls.getAndIncrement()
      script(math.min(i, script.length - 1)) match {
        case Left(t) => throw t
        case Right(r) => r
      }
    }
  }

  private def ok(content: String): LlmResponse = {
    val esc = content.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    LlmResponse(200, s"""{"choices":[{"message":{"role":"assistant","content":"$esc"}}]}""")
  }

  private def callerWith(t: Scripted, sleeps: mutable.Buffer[Long]) =
    new RetryingLlmCaller(t, EnrichConfig(), sleeps.append(_))

  private val payload = LlmPayload(Seq(LlmMessage("system", "s"), LlmMessage("user", "u")), 10, 0.1)

  test("success first try, fences cleaned (F3)") {
    val t = new Scripted(Seq(Right(ok("```markdown\n# Hej\nText\n```"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("# Hej\nText"))
    assert(t.calls.get() == 1)
  }

  test("HTTP 500 retries with exponential backoff then fails with status json") {
    val sleeps = mutable.Buffer.empty[Long]
    val t = new Scripted(Seq(Right(LlmResponse(500, "boom"))))
    val r = callerWith(t, sleeps).call(payload)
    assert(!r.ok && t.calls.get() == 4) // 1 + MAX_RETRIES(3)
    assert(sleeps.toSeq == Seq(1000L, 2000L, 4000L)) // 2.0^attempt seconds
    assert(r.raw.get.contains("\"status_code\":500"))
  }

  test("HTTP 429 sleeps 60*(attempt+1)s each time, returns raw=None after exhaustion") {
    val sleeps = mutable.Buffer.empty[Long]
    val t = new Scripted(Seq(Right(LlmResponse(429, "slow down"))))
    val r = callerWith(t, sleeps).call(payload)
    assert(!r.ok && r.raw.isEmpty && t.calls.get() == 4)
    assert(sleeps.toSeq == Seq(60000L, 120000L, 180000L, 240000L)) // sleeps on final attempt too
  }

  test("429 then success recovers") {
    val t = new Scripted(Seq(Right(LlmResponse(429, "")), Right(ok("done"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("done") && t.calls.get() == 2)
  }

  test("invalid JSON on 200 fails immediately without retry") {
    val t = new Scripted(Seq(Right(LlmResponse(200, "<html>not json"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(!r.ok && t.calls.get() == 1)
    assert(r.raw.get.contains("raw_response_text"))
  }

  test("empty choices retries then succeeds") {
    val t = new Scripted(Seq(
      Right(LlmResponse(200, """{"choices":[]}""")),
      Right(ok("recovered"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("recovered") && t.calls.get() == 2)
  }

  test("empty content retries then fails with response body as raw") {
    val body = """{"choices":[{"message":{"content":""}}]}"""
    val t = new Scripted(Seq(Right(LlmResponse(200, body))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(!r.ok && t.calls.get() == 4 && r.raw.contains(body))
  }

  test("network error and timeout are retried, typed error after exhaustion") {
    val tNet = new Scripted(Seq(Left(new IOException("conn reset"))))
    val rNet = callerWith(tNet, mutable.Buffer.empty).call(payload)
    assert(!rNet.ok && tNet.calls.get() == 4 && rNet.raw.get.contains("ClientError"))

    val tTo = new Scripted(Seq(Left(new TimeoutException())))
    val rTo = callerWith(tTo, mutable.Buffer.empty).call(payload)
    assert(!rTo.ok && tTo.calls.get() == 4 && rTo.raw.get.contains("TimeoutError"))
  }

  test("F4 payload build: markers split, data substituted, missing markers throw") {
    val tpl = "SYSTEM:\nDu är en assistent.\nUSER:\nBeskriv:\n{school_data}\nKort."
    val p = PromptTemplate.buildPayload(tpl, "DATA HERE")
    assert(p.messages.map(_.role) == Seq("system", "user"))
    assert(p.messages(0).content == "Du är en assistent.")
    assert(p.messages(1).content == "Beskriv:\nDATA HERE\nKort.")
    intercept[IllegalArgumentException] {
      PromptTemplate.buildPayload("no markers {school_data}", "x")
    }
  }

  test("EnrichJob end-to-end: enrich, skip-if-exists on rerun, stats") {
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    write(s"$dir/in/A100.md", "# Alpha\ndata")
    write(s"$dir/in/B200.md", "# Beta\ndata")
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")

    val s1 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s1 == EnrichJob.Stats(2, 0, 2, 2, 0))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/outmd/A100_ai_description.md")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/outjson/B200_gpt4o_response.json")))
    // deterministic mock output, fences cleaned
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/outmd/A100_ai_description.md")), "UTF-8")
    assert(md.startsWith("## Sammanfattning"))

    // rerun: everything skipped (P9/J2 anti-join)
    val s2 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s2 == EnrichJob.Stats(2, 2, 0, 0, 0))
  }

  test("EnrichJob routes failures to FAILED json sink") {
    val dir = java.nio.file.Files.createTempDirectory("enrichfail").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    write(s"$dir/in/X1.md", "# X\ndata")
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    val failing: () => LlmTransport = () => new LlmTransport {
      override def post(p: LlmPayload) = LlmResponse(500, "server error")
    }
    val s = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", transportFactory = failing, sleeper = _ => ())
    assert(s == EnrichJob.Stats(1, 0, 1, 0, 1))
    val failed = java.nio.file.Paths.get(s"$dir/outjson/X1_gpt4o_FAILED_response.json")
    assert(java.nio.file.Files.exists(failed))
    assert(new String(java.nio.file.Files.readAllBytes(failed), "UTF-8").contains("500"))
  }

  private def docsDir(prefix: String, docs: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    java.nio.file.Files.createDirectories(dir.resolve("in"))
    docs.foreach { case (id, text) => java.nio.file.Files.write(
      dir.resolve(s"in/$id.md"), s"# $id\n$text".getBytes("UTF-8")) }
    java.nio.file.Files.write(dir.resolve("prompt.txt"),
      "SYSTEM:\nsys\nUSER:\n{school_data}".getBytes("UTF-8"))
    dir.toString
  }

  private def runJob(dir: String, limit: Option[Int] = None): EnrichJob.Stats =
    EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", transportFactory = () => new DocCallsTransport,
      limit = limit, sleeper = _ => ())

  private def namesIn(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("EnrichJob calls the transport once per fresh document attempt") {
    DocCalls.reset()
    val dir = docsDir("enrich_calls", "E1" -> "data", "E2" -> "data",
      "E3" -> "RETRY", "E4" -> "FAIL", "E5" -> "data")
    assert(runJob(dir) == EnrichJob.Stats(5, 0, 5, 4, 1))
    // ok documents once; the retried one twice; the permanent failure
    // 1 + maxRetries times — never once more per output written
    assert(Seq("E1", "E2", "E3", "E4", "E5").map(DocCalls.of) == Seq(1, 1, 2, 4, 1))
    assert(namesIn(s"$dir/outmd") ==
      Set("E1", "E2", "E3", "E5").map(_ + "_ai_description.md"))
    assert(namesIn(s"$dir/outjson") ==
      Set("E1", "E2", "E3", "E5").map(_ + "_gpt4o_response.json") +
        "E4_gpt4o_FAILED_response.json")
    // raw JSON is pretty-printed on both json outputs
    val okJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/outjson/E1_gpt4o_response.json")), "UTF-8")
    assert(okJson.startsWith("{\n  \""), okJson)

    // rerun: only the failed document is fresh, and it is called again
    DocCalls.reset()
    assert(runJob(dir) == EnrichJob.Stats(5, 4, 1, 0, 1))
    assert(DocCalls.calls.keySet().toArray.toSeq == Seq("E4") && DocCalls.of("E4") == 4)
  }

  test("EnrichJob runs in a fixed handful of Spark jobs, FAILED output or not") {
    // a fresh output dir: the one enrich pass and the input count (two jobs,
    // its partial counts and their sum). The plan with a sort, a cached
    // result, two counts and three sink passes took 12 jobs on these inputs.
    val docs = (1 to 8).map(i => s"J$i" -> "data")
    val clean = docsDir("enrich_jobs", docs: _*)
    val withFailure = docsDir("enrich_jobs_fail", docs.updated(3, "J4" -> "FAIL"): _*)
    var stats = Seq.empty[EnrichJob.Stats]
    val jobs = Seq(clean, withFailure).map(d => jobsDuring { stats :+= runJob(d) })
    assert(stats == Seq(EnrichJob.Stats(8, 0, 8, 8, 0), EnrichJob.Stats(8, 0, 8, 7, 1)))
    assert(namesIn(s"$withFailure/outjson").contains("J4_gpt4o_FAILED_response.json"))
    assert(jobs == Seq(3, 3), s"jobs per EnrichJob.run: $jobs")
  }

  test("limit (O4) enriches the first n new keys in key order") {
    val dir = docsDir("enrich_limit", "B200" -> "data", "A100" -> "data", "C300" -> "data")
    assert(runJob(dir, limit = Some(1)) == EnrichJob.Stats(3, 2, 1, 1, 0))
    assert(namesIn(s"$dir/outmd") == Set("A100_ai_description.md"))
    assert(runJob(dir, limit = Some(1)) == EnrichJob.Stats(3, 2, 1, 1, 0))
    assert(namesIn(s"$dir/outmd") ==
      Set("A100_ai_description.md", "B200_ai_description.md"))
  }
}
