package graft.enrich

import graft.core.RefConfig
import graft.sinks.KeyedFileSink
import graft.sources.SchoolCsv
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Program 2 equivalent (SURVEY.md §3.2): Markdown dir → LLM → cleaned
  * Markdown + raw/FAILED JSON, with idempotent incremental skip.
  *
  * Spark plan: `document-dir scan → LEFT ANTI join(existing outputs) → limit →
  * mapPartitions(enrich) → split ok/fail → keyed-file sinks`. The anti-join
  * is the distributed form of the reference's skip-if-exists check
  * (`_filter_already_processed_files`, `src/program2_ai_processor.py:692-724`).
  */
object EnrichJob {

  /** A2/A3 run stats (`_build_stats_dict`, `src/program2_ai_processor.py:726-760`). */
  final case class Stats(total: Long, skipped: Long, attempted: Long,
      successful: Long, failed: Long)

  private def prettyJson(s: String): String = {
    val m = new ObjectMapper()
    try m.writerWithDefaultPrettyPrinter().writeValueAsString(m.readTree(s))
    catch { case _: Exception => s }
  }

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

    val total = inputs.count()
    // P9/J2: incremental skip as a left anti-join on the key
    val fresh = inputs.join(existing, Seq("key"), "left_anti")
    val ordered = fresh.orderBy(col("key")) // O3 deterministic order
    val limited = limit.fold(ordered)(n => ordered.limit(n)) // O4
    val attempted = limited.count()

    // E2/E3 exact modes: one driver-hosted server owns the token-bucket
    // clock and/or the concurrency slots for every partition; it lives for
    // the duration of the job's actions below
    val envelope = exactEnvelope(spark, config, sleeper)
    try {

    val enriched = EnrichOperator
      .enrich(
        limited.select(col("key"), col("content")).as[EnrichOperator.Doc],
        transportFactory, promptTemplate, config, sleeper,
        envelope.limiterFactory, envelope.slotFactory)
      .cache()

    val okDf = enriched.filter(col("ok")).toDF()
    val failDf = enriched.filter(!col("ok") && col("raw").isNotNull).toDF()

    val prettify = udf(prettyJson _)
    val successful = KeyedFileSink.write(
      okDf, "key", "description", outputMarkdownDir, RefConfig.AiProcessedSuffix)
    KeyedFileSink.write(
      okDf.withColumn("rawPretty", prettify(col("raw"))),
      "key", "rawPretty", outputJsonDir, RefConfig.AiRawResponseSuffix)
    KeyedFileSink.write(
      failDf.withColumn("rawPretty", prettify(col("raw"))),
      "key", "rawPretty", outputJsonDir, RefConfig.AiFailedResponseSuffix)

    val stats = Stats(
      total = total,
      skipped = total - attempted,
      attempted = attempted,
      successful = successful,
      failed = attempted - successful)
    enriched.unpersist()
    stats

    } finally envelope.stop()
  }
}
