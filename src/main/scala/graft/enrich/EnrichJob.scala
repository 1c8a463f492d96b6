package graft.enrich

import graft.core.RefConfig
import graft.sinks.KeyedFileSink
import graft.sources.SchoolCsv
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Program 2 equivalent (SURVEY.md §3.2): Markdown dir → LLM → cleaned
  * Markdown + raw/FAILED JSON, with idempotent incremental skip.
  *
  * Spark plan, one action: `document-dir scan → LEFT ANTI join(existing
  * outputs) → [orderBy(key) → limit, only when a limit is set] →
  * mapPartitions(enrich) → one keyed-file pass writing the description, the
  * raw JSON and the FAILED JSON`. The anti-join is the distributed form of
  * the reference's skip-if-exists check (`_filter_already_processed_files`,
  * `src/program2_ai_processor.py:692-724`). Without a limit the processing
  * order only shows in the logs (O3), so there is no sort.
  */
object EnrichJob {

  /** A2/A3 run stats (`_build_stats_dict`, `src/program2_ai_processor.py:726-760`). */
  final case class Stats(total: Long, skipped: Long, attempted: Long,
      successful: Long, failed: Long)

  private val json = new ObjectMapper()

  private def prettyJson(s: String): String =
    try json.writerWithDefaultPrettyPrinter().writeValueAsString(json.readTree(s))
    catch { case _: Exception => s }

  /** The E2/E3 exact-global envelope: ONE driver-hosted lease server owning
    * the token-bucket clock ([[EnrichConfig.exactGlobalRpm]]) and/or the
    * concurrency slots ([[EnrichConfig.exactGlobalConcurrency]]), plus the
    * partition-side factories [[EnrichOperator.enrich]] threads to every
    * executor. `stop()` when the enrich actions have run. Shared by this
    * job and the crawl pipeline's `10_enrich` stage, so the exact options
    * behave identically on both paths (the reference's Semaphore(250) /
    * 10k-RPM contract, `src/config.py:91-92`) and can never be silently
    * dropped on one of them. When neither flag is set this is a no-op
    * envelope (no server, no factories — the per-partition approximation).
    */
  final case class ExactEnvelope(server: Option[RateLimiterServer],
      limiterFactory: Option[() => RateLimiter],
      slotFactory: Option[() => RemoteConcurrencyLimiter]) {
    def stop(): Unit = server.foreach(_.stop())
  }

  def exactEnvelope(spark: SparkSession, config: EnrichConfig,
      sleeper: Long => Unit = Thread.sleep): ExactEnvelope = {
    val server =
      if (config.exactGlobalRpm || config.exactGlobalConcurrency)
        Some(RateLimiterServer.start(config.targetRpm.toDouble,
          if (config.exactGlobalConcurrency) config.maxConcurrent else Int.MaxValue))
      else None
    val host = spark.sparkContext.getConf.get("spark.driver.host", "127.0.0.1")
    val limiterFactory = server.filter(_ => config.exactGlobalRpm).map { srv =>
      val port = srv.port
      () => new RemoteRateLimiter(host, port, sleeper): RateLimiter
    }
    val slotFactory = server.filter(_ => config.exactGlobalConcurrency).map { srv =>
      val port = srv.port
      () => new RemoteConcurrencyLimiter(host, port)
    }
    ExactEnvelope(server, limiterFactory, slotFactory)
  }

  def run(
      spark: SparkSession,
      inputMarkdownDir: String,
      outputMarkdownDir: String,
      outputJsonDir: String,
      promptTemplatePath: String,
      transportFactory: () => LlmTransport = () => new MockLlmTransport,
      config: EnrichConfig = EnrichConfig(),
      limit: Option[Int] = None,
      sleeper: Long => Unit = Thread.sleep): Stats = {
    import spark.implicits._

    val promptTemplate = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(promptTemplatePath)),
      java.nio.charset.StandardCharsets.UTF_8)
    // fail fast on a malformed template (reference raises at init, `:236-251`)
    PromptTemplate.buildPayload(promptTemplate, "")

    val inputs = SchoolCsv.readDocumentDir(spark, inputMarkdownDir, ".md")
      .filter(!col("key").endsWith("_ai_description"))
    val existing = SchoolCsv
      .readDocumentDir(spark, outputMarkdownDir, RefConfig.AiProcessedSuffix)
      .select(col("key"))

    // P9/J2: incremental skip as a left anti-join on the key
    val fresh = inputs.join(existing, Seq("key"), "left_anti")
    // O4: the first n new keys in key order
    val todo = limit.fold(fresh)(n => fresh.orderBy(col("key")).limit(n))

    // E2/E3 exact modes: one driver-hosted server owns the token-bucket
    // clock and/or the concurrency slots for every partition; it lives for
    // the duration of the enrich action
    val envelope = exactEnvelope(spark, config, sleeper)
    val written =
      try writeEnriched(todo.select(col("key"), col("content")).as[EnrichOperator.Doc],
        outputMarkdownDir, outputJsonDir, transportFactory, promptTemplate, config,
        sleeper, envelope.limiterFactory, envelope.slotFactory)
      finally envelope.stop()
    // counted after the enrich action, so it never delays the first call
    val total = inputs.count()
    val attempted = written.rows
    val successful = written.files.head
    Stats(
      total = total,
      skipped = total - attempted,
      attempted = attempted,
      successful = successful,
      failed = attempted - successful)
  }

  /** Enriches `docs` and writes, in one pass over them, each document's
    * `{key}_ai_description.md` (ok), `{key}_gpt4o_response.json` (ok, raw
    * JSON pretty-printed) or `{key}_gpt4o_FAILED_response.json` (failed with
    * a raw body), as the reference saves each answer when it arrives
    * (`src/program2_ai_processor.py:587-613`). Every document reaches the
    * transport once. `rows` of the result is the documents attempted;
    * `files.head` is the descriptions written.
    */
  def writeEnriched(
      docs: Dataset[EnrichOperator.Doc],
      outputMarkdownDir: String,
      outputJsonDir: String,
      transportFactory: () => LlmTransport,
      promptTemplate: String,
      config: EnrichConfig,
      sleeper: Long => Unit = Thread.sleep,
      limiterFactory: Option[() => RateLimiter] = None,
      slotFactory: Option[() => RemoteConcurrencyLimiter] = None): KeyedFileSink.Written = {
    val enriched = EnrichOperator.enrich(docs, transportFactory, promptTemplate,
      config, sleeper, limiterFactory, slotFactory)
    val prettify = udf(prettyJson _)
    val ok = col("ok")
    val raw = col("raw")
    KeyedFileSink.writeAll(
      enriched.select(col("key"),
        when(ok, col("description")).as("md"),
        when(ok, prettify(raw)).as("okJson"),
        when(!ok && raw.isNotNull, prettify(raw)).as("failJson")),
      "key", Seq(
        KeyedFileSink.Output("md", outputMarkdownDir, RefConfig.AiProcessedSuffix),
        KeyedFileSink.Output("okJson", outputJsonDir, RefConfig.AiRawResponseSuffix),
        KeyedFileSink.Output("failJson", outputJsonDir, RefConfig.AiFailedResponseSuffix)))
  }
}
