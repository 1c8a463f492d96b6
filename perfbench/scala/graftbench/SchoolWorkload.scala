package graftbench

import graft.core.RefConfig
import graft.enrich.{EnrichConfig, EnrichJob, LlmTransport}
import graft.pipeline.{MarkdownJob, SiteJob}
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The paper's chain: CSV → Markdown → LLM → HTML, then a rerun after new
  * schools are appended to the CSV.
  */
final class SchoolWorkload(spark: SparkSession, seed: Long, work: Path, nSchools: Int,
    nAppended: Int, latencyMs: Long) extends Workload {
  private val in = work.resolve("inputs")
  private val baseRows = SchoolGen.base(seed, nSchools)
  private val newRows = SchoolGen.appended(seed, nSchools, nAppended)
  private val allRows = baseRows ++ newRows
  private val baseCodes = baseRows.map(_.code).toSet
  private val newCodes = newRows.map(_.code).toSet
  // picked over every code at once, so an appended school is as likely to
  // be enriched as any other
  private val faults = Faults.pick(seed, (baseCodes ++ newCodes).toSeq.sorted)
  private val basePermanent = faults.permanent.intersect(baseCodes)
  private val config = EnrichConfig()
  private val template = SchoolGen.markdownTemplate

  def prepare(): Unit = {
    Files2.write(in.resolve("base.csv"), SchoolGen.csv(baseRows))
    Files2.write(in.resolve("rerun.csv"), SchoolGen.csv(allRows))
    Files2.write(in.resolve("school_template.md"), template)
    Files2.write(in.resolve("ai_prompt_template.txt"), SchoolGen.PromptTemplate)
    Files2.write(in.resolve("website_template.html"), SchoolGen.SiteTemplate)
  }

  private def transport: () => LlmTransport = {
    val f = faults; val lat = latencyMs; val retries = config.maxRetries
    () => new BenchTransport(f, lat, retries)
  }

  private def markdown(csv: String, out: Path) = MarkdownJob.run(spark, csv,
    in.resolve("school_template.md").toString, out.resolve("md").toString)

  private def enrich(out: Path) = EnrichJob.run(spark, out.resolve("md").toString,
    out.resolve("aimd").toString, out.resolve("aijson").toString,
    in.resolve("ai_prompt_template.txt").toString, transport, config,
    sleeper = BenchTransport.sleeper)

  private def site(csv: String, out: Path) = SiteJob.run(spark, csv,
    out.resolve("aimd").toString, in.resolve("website_template.html").toString,
    out.resolve("site/index.html").toString)

  def iteration(iter: Int, tr: Tracer): IterResult = {
    val out = work.resolve(s"iter-$iter")
    Files2.deleteTree(out)
    val base = in.resolve("base.csv").toString
    LlmRecorder.reset()
    LlmRecorder.keepSpans = tr.enabled
    val watch = new Files2.FirstFile(out.resolve("aimd"), RefConfig.AiProcessedSuffix)
    val (md, mdS) = tr.phase(iter, "markdown")(markdown(base, out))
    val (st, enS) = tr.phase(iter, "enrich")(enrich(out))
    tr.children(iter, {
      val epochNs = System.currentTimeMillis() * 1e6 - System.nanoTime()
      LlmRecorder.spans.asScala.toSeq.map(c => (s"llm ${c.key}#${c.attempt} ${c.status}",
        (epochNs + c.startNs) / 1e6, (epochNs + c.endNs) / 1e6))
    })
    tr.set("enrich", enrichCounters(enS, st.successful))
    val (siteRes, siteS) = tr.phase(iter, "site")(site(base, out))
    val firstS = watch.close()
    val (files, bytes) = Files2.usage(out)
    tr.set("sink", Seq("files" -> files.toDouble, "mb" -> bytes / 1048576.0))
    checkBuild(out, md, st, siteRes)

    LlmRecorder.reset()
    val rerun = in.resolve("rerun.csv").toString
    val ((md2, st2, site2), rerunS) = tr.phase(iter, "rerun")(
      (markdown(rerun, out), enrich(out), site(rerun, out)))
    checkRerun(out, md2, st2, site2)

    val buildS = mdS + enS + siteS
    IterResult(buildS, rerunS, 2L * baseCodes.size + nAppended, buildS + rerunS, firstS,
      attempted = 2)
  }

  private def enrichCounters(wallS: Double, successful: Long): Seq[(String, Double)] = {
    val R = LlmRecorder
    val calls = R.calls.get.toDouble
    val rpm = calls / (wallS / 60.0)
    Seq("calls" -> calls, "retries" -> R.retries.get.toDouble,
      "inflight_peak" -> R.inflightPeak.get.toDouble,
      "rpm_achieved" -> rpm, "rpm_ratio" -> rpm / config.targetRpm,
      "sleep_s" -> (R.limiterSleepMs.get + R.backoffSleepMs.get) / 1000.0,
      "useful_frac" -> (if (calls > 0) successful / calls else 0.0))
  }

  private def keysWith(dir: Path, suffix: String): Set[String] =
    Files2.names(dir).filter(_.endsWith(suffix)).map(_.stripSuffix(suffix)).toSet

  private def checkMarkdown(out: Path, rows: Seq[SchoolGen.School], written: Long): Unit = {
    val winners = SchoolGen.lastWins(rows)
    Check.same("markdown files written", written, winners.size.toLong)
    Check.same("markdown files on disk", keysWith(out.resolve("md"), ".md"), winners.keySet)
    val dupCode = baseRows.last.code
    val sample = (dupCode +: winners.keys.toSeq.sorted
      .sortBy(k => Gen.hash(seed + 3, k)).take(12)).distinct
    sample.foreach { code =>
      val got = Files2.read(out.resolve("md").resolve(code + ".md"))
      Check(got == SchoolGen.expectedMarkdown(template, winners(code)),
        s"markdown for $code differs from TemplateRender.renderString on its row")
    }
  }

  private def checkEnrich(out: Path, codes: Set[String], permanent: Set[String]): Unit = {
    Check.same("enriched documents", keysWith(out.resolve("aimd"), RefConfig.AiProcessedSuffix),
      codes -- permanent)
    Check.same("failed documents",
      keysWith(out.resolve("aijson"), RefConfig.AiFailedResponseSuffix), permanent)
  }

  private def checkSite(out: Path, rows: Seq[SchoolGen.School], n: Long,
      permanent: Set[String]): Unit = {
    val firsts = SchoolGen.firstWins(rows)
    Check.same("site schools", n, firsts.size.toLong)
    val html = Files2.read(out.resolve("site/index.html"))
    val start = html.indexOf("const schools = ") + "const schools = ".length
    val end = html.lastIndexOf(";\n</script>")
    val recs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(html.substring(start, end)).elements().asScala.toSeq
    Check.same("site JSON records", recs.size, firsts.size)
    val names = recs.map(_.get("name").asText())
    Check(names.zip(names.drop(1)).forall { case (a, b) => a.compareTo(b) <= 0 },
      "site records are not sorted by name")
    recs.foreach { r =>
      val id = r.get("id").asText()
      val nm = firsts.get(id).map(_.values("SchoolName").trim).getOrElse("?")
      val want = if (nm.isEmpty) RefConfig.FallbackSchoolNameFormat.format(id) else nm
      Check.same(s"site name of $id", r.get("name").asText(), want)
      val html = r.get("ai_description_html").asText()
      Check(if (permanent(id)) html == RefConfig.FallbackDescriptionHtml else html.contains(id),
        s"site description of $id does not match its enrichment outcome")
    }
  }

  private def checkBuild(out: Path, md: MarkdownJob.Result, st: EnrichJob.Stats,
      site: SiteJob.Result): Unit = {
    checkMarkdown(out, baseRows, md.written)
    Check.same("enrich attempted", st.attempted, baseCodes.size.toLong)
    Check.same("enrich successful", st.successful, (baseCodes -- basePermanent).size.toLong)
    checkEnrich(out, baseCodes, basePermanent)
    checkSite(out, baseRows, site.schools, basePermanent)
  }

  private def checkRerun(out: Path, md: MarkdownJob.Result, st: EnrichJob.Stats,
      site: SiteJob.Result): Unit = {
    checkMarkdown(out, allRows, md.written)
    Check.same("rerun transport calls", LlmRecorder.calledKeys, newCodes ++ basePermanent)
    Check.same("rerun skipped", st.skipped, (baseCodes -- basePermanent).size.toLong)
    checkEnrich(out, baseCodes ++ newCodes, faults.permanent)
    checkSite(out, allRows, site.schools, faults.permanent)
  }
}
