package graftbench

import graft.core.RefConfig
import graft.functions.{Normalize, TemplateRender}

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Seeded input generators. Every generator is a pure function of its seed
  * and size arguments: the same arguments give the same bytes. The program
  * under test only ever sees the files written from these values.
  */
object Gen {

  /** SplitMix64 step — a stable, platform-independent mixing function. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, s: String): Long = mix(seed ^ mix(s.hashCode.toLong))

  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(mix(seed * 1000003L + stream))
}

/** The school CSV (FIXTURES.md §1 shape) and the three templates. */
object SchoolGen {

  val SurveyQs: Seq[String] = {
    val parents = Seq("ParentsReceivingInformationAboutTheirChildsDevelopment",
      "ParentsSatisfactionWithTheirChildsSchool", "ParentsPerceptionOfStudentInteractions")
      .map("SurveyAnswerCategoryParentsRegarding" + _)
    val teachers = Seq("NecessaryDevelopmentMeasures", "TeacherPerceptionOfStudentSupport",
      "TeacherPerceptionOfStudentInteractions")
      .map("SurveyAnswerCategoryTeachersRegarding" + _)
    val pupils = Seq("ClassroomDisruptions", "AdultSupervisionDuringBreaks",
      "StudentSatisfaction", "StudentSafety")
    parents ++ teachers ++
      pupils.map("SurveyAnswerCategoryGrade8Regarding" + _) ++
      pupils.map("SurveyAnswerCategoryGrade5Regarding" + _)
  }

  private val identity = Seq("SchoolCode", "SchoolName", "SchoolNameWithMunicipality",
    "SchoolOrganisation")
  private val orgCounts = Seq("", "LowerStage", "MiddleStage", "UpperStage",
    "LowerAndMiddleStage", "MiddleAndUpperStage", "AllStages")
    .map(s => s"SchoolOrganisationNumberOf${s}Schools")
  private val enrollment = Seq("TotalNumberOfStudents", "GradeFNumberOfStudents") ++
    (1 to 9).map(g => s"Grade${g}NumberOfStudents") ++
    Seq("LowerStageNumberOfStudents", "MiddleStageNumberOfStudents",
      "UpperStageNumberOfStudents")
  private val decimals = Seq("ForeignBackgroundPercentage", "ParentalEducationPercentage",
    "StudentTeacherRatio", "FullTimeTeachers", "TeacherQualificationPercentage",
    "ResultGrade6AverageScore", "ResultGrade9AverageScore", "ResultGrade3NationalExams")
  private val ordinals = Seq("ForeignBackgroundComparison", "ParentalEducationComparison",
    "StudentTeacherRatioComparison", "TeacherQualificationComparison",
    "ResultCategoryGrade6AverageScore", "ResultCategoryGrade9AverageScore",
    "ResultCategoryGrade3NationalExams")
  private val municipality = Seq("MunicipalityNumberOfSchoolsManaged",
    "MunicipalityNumberOfSchools")
  private val historyMetrics = Seq("TotalNumberOfStudents", "LowerStageNumberOfStudents",
    "MiddleStageNumberOfStudents", "UpperStageNumberOfStudents", "ResultGrade6AverageScore",
    "ResultGrade9AverageScore", "ResultCategoryGrade6AverageScore",
    "ResultCategoryGrade9AverageScore", "ResultGrade3NationalExams",
    "ResultCategoryGrade3NationalExams")
  private val history = for {
    yr <- Seq("1819", "1920", "2021", "2122", "2223"); m <- historyMetrics
  } yield yr + m
  private val survey = for {
    q <- SurveyQs; suf <- RefConfig.SurveyYearSuffixes
  } yield q + suf

  /** The 122 columns, in file order. */
  val Header: Seq[String] = identity ++ orgCounts ++ Seq("SchoolStages") ++ enrollment ++
    decimals ++ ordinals ++ municipality ++ Seq("FirstSchoolyearInCurrentRecords") ++
    history ++ survey

  private val stages = Seq("Lågstadieskola", "Låg- och mellanstadieskola",
    "Mellan- och högstadieskola", "Högstadieskola", "Låg-, mellan- och högstadieskola")
  private val levels = Seq("Över medel", "Medel", "Under medel")
  private val syllables = Seq("bra", "as", "vi", "da", "lin", "ek", "by", "holm", "sjö",
    "berg", "dal", "ros", "gran", "lund", "ny", "ö", "strand", "vik", "äng", "borg")
  private val towns = Seq("Lund", "Malmö", "Uppsala", "Umeå", "Växjö", "Örebro", "Gävle")

  /** One CSV data row: `values` are the cell texts as Spark reads them
    * (quotes removed); `quoted` names the cells written inside quotes.
    */
  final case class School(code: String, values: Map[String, String], quoted: Set[String])

  /** Row `index` of the school universe; independent of how many rows a
    * file holds, so a rerun's appended schools never disturb earlier ones.
    */
  def school(seed: Long, index: Int): School = {
    val r = Gen.rng(seed, 1000L + index)
    val name = (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.size)))
      .mkString.capitalize + "skolan"
    val code = f"s$index%05d" + syllables(r.nextInt(syllables.size)).filter(_ < 'z')
    def hole(): Option[String] = r.nextInt(100) match {
      case x if x < 3 => Some("N/A")
      case x if x < 5 => Some("n/a")
      case x if x < 9 => Some("")
      case _ => None
    }
    def num(max: Int): String =
      if (r.nextBoolean()) (r.nextInt(max) + 1).toString else s"${r.nextInt(max) + 1}.0"
    def dec(lo: Double, hi: Double): String = f"${lo + r.nextDouble() * (hi - lo)}%.1f"
    val surveyMode = r.nextInt(4) // 0: both years, 1: old year only, 2: new only, 3: none
    val values = Header.map { h =>
      val v = h match {
        case "SchoolCode" => code
        case "SchoolName" => if (r.nextInt(25) == 0) "" else name
        case "SchoolNameWithMunicipality" => s"$name, ${towns(r.nextInt(towns.size))}"
        case "SchoolOrganisation" => if (r.nextBoolean()) "Kommunal" else "Fristående"
        case "SchoolStages" => stages(r.nextInt(stages.size))
        case "FirstSchoolyearInCurrentRecords" =>
          val y = 2005 + r.nextInt(15); s"$y/${y + 1}"
        case _ if orgCounts.contains(h) || municipality.contains(h) => num(40)
        case _ if enrollment.contains(h) => num(600)
        case _ if decimals.contains(h) => dec(5, 95)
        case _ if ordinals.contains(h) => levels(r.nextInt(3))
        case _ if history.contains(h) =>
          if (r.nextInt(5) < 2) ""
          else if (h.contains("Category")) levels(r.nextInt(3))
          else num(500)
        case _ => // survey, year-suffixed
          val newYear = h.endsWith(RefConfig.SurveyYearSuffixes.head)
          val present = surveyMode match {
            case 0 => r.nextInt(5) > 0
            case 1 => !newYear
            case 2 => newYear && r.nextBoolean()
            case _ => false
          }
          if (present) levels(r.nextInt(3)) else ""
      }
      h -> (if (h == "SchoolCode" || h == "SchoolName") v else hole().getOrElse(v))
    }.toMap
    val quoted = Set("SchoolNameWithMunicipality") ++
      (if (r.nextInt(3) == 0) Set("SchoolName") else Set.empty[String])
    School(code, values, quoted)
  }

  /** `n` distinct schools plus one duplicate of an earlier code (with other
    * values) at the end: `n + 1` data rows, `n` distinct codes.
    */
  def base(seed: Long, n: Int): Seq[School] = {
    val rows = (0 until n).map(school(seed, _))
    val twin = school(seed, n + 1000000)
    rows :+ twin.copy(code = rows(n / 2).code,
      values = twin.values.updated("SchoolCode", rows(n / 2).code))
  }

  /** Schools appended for the incremental rerun (indices after the base). */
  def appended(seed: Long, n: Int, k: Int): Seq[School] = (n until n + k).map(school(seed, _))

  def csv(rows: Seq[School]): Array[Byte] = {
    val sb = new StringBuilder("﻿")
    sb.append(Header.mkString(";")).append('\n')
    rows.foreach { s =>
      sb.append(Header.map { h =>
        val v = s.values(h)
        if (s.quoted(h)) "\"" + v + "\"" else v
      }.mkString(";")).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Each code's row as the markdown job keeps it: the LAST row of a code wins. */
  def lastWins(rows: Seq[School]): Map[String, School] = rows.map(s => s.code -> s).toMap

  /** Each code's row as the site keeps it: the FIRST row of a code wins. */
  def firstWins(rows: Seq[School]): Map[String, School] =
    rows.reverse.map(s => s.code -> s).toMap

  // ------------------------------------------------------------ templates

  /** The 110 template placeholders: every non-survey column, the 14 survey
    * bases, the derived `SurveySchoolYear` and the CSV-absent
    * `NumberOfNearbySchools`.
    */
  val Placeholders: Seq[String] =
    Header.filterNot(_.startsWith("SurveyAnswerCategory")) ++ SurveyQs ++
      Seq("SurveySchoolYear", "NumberOfNearbySchools")

  def markdownTemplate: String = {
    val sb = new StringBuilder
    sb.append("# {SchoolName}\n\nSkolkod: {SchoolCode}\n\n")
    sb.append("## Om skolan\n\n{SchoolNameWithMunicipality} drivs av {SchoolOrganisation} " +
      "och är en {SchoolStages}. Närliggande skolor: {NumberOfNearbySchools}.\n\n")
    sb.append("## Nyckeltal\n\n")
    Placeholders.filterNot(p => Set("SchoolName", "SchoolCode", "SchoolNameWithMunicipality",
        "SchoolOrganisation", "SchoolStages", "NumberOfNearbySchools", "SurveySchoolYear")(p) ||
        p.startsWith("SurveyAnswerCategory"))
      .foreach(p => sb.append(s"- $p: {$p}\n"))
    sb.append("\n## Enkäter ({SurveySchoolYear})\n\n")
    SurveyQs.foreach(q => sb.append(s"- ${q.stripPrefix("SurveyAnswerCategory")}: {$q}\n"))
    sb.toString
  }

  val PromptTemplate: String =
    "SYSTEM:\nDu är en hjälpsam assistent som skriver skolbeskrivningar på svenska.\n" +
      "USER:\nSkriv en beskrivning på 350-550 ord av skolan nedan.\n\n{school_data}\n"

  val SiteTemplate: String =
    "<!DOCTYPE html><html lang=\"sv\"><head><meta charset=\"UTF-8\"><title>Skolor</title>" +
      "</head><body><div id=\"list\"></div>\n<script>\nconst schools = " +
      "{school_list_json};\n</script></body></html>\n"

  /** The rendered Markdown the program must write for `s`: the template
    * context built the way the reference builds it (P1/P4/P5), rendered by
    * the program's own plain-Scala renderer.
    */
  def expectedMarkdown(template: String, s: School): String = {
    val placeholders = TemplateRender.extractPlaceholders(template)
    val surveyPs = placeholders.filter(_.startsWith("SurveyAnswerCategory"))
    def norm(name: String): String =
      s.values.get(name).map(Normalize.normalizeMissingStr).getOrElse(Normalize.Missing)
    def present(name: String): Boolean =
      s.values.contains(name) && norm(name) != Normalize.Missing
    val ctx = placeholders.map { p =>
      val v =
        if (p == "SurveySchoolYear")
          RefConfig.SurveyYearSuffixes.find(suf => surveyPs.exists(q => present(q + suf)))
            .map(_.stripPrefix("_")).getOrElse(Normalize.Missing)
        else if (p.startsWith("SurveyAnswerCategory"))
          RefConfig.SurveyYearSuffixes.map(p + _).find(present).map(norm)
            .getOrElse(Normalize.Missing)
        else norm(p)
      p -> v
    }.toMap
    TemplateRender.renderString(template, ctx)
  }
}

/** Which documents the mock LLM fails, and how: a small set that fails every
  * attempt, and a set whose first one or two attempts get a 503.
  */
final case class Faults(permanent: Set[String], transient: Map[String, Int]) {
  def failingAttempts(key: String): Int =
    if (permanent(key)) Int.MaxValue else transient.getOrElse(key, 0)
}

object Faults {
  /** ~1% permanent (at least one) and ~3% transient (at least two) of
    * `keys`, chosen by a seeded hash order.
    */
  def pick(seed: Long, keys: Seq[String]): Faults = {
    val order = keys.distinct.sortBy(k => (Gen.hash(seed, k), k))
    val nPerm = math.max(1, math.round(keys.size * 0.01).toInt)
    val nTrans = math.max(2, math.round(keys.size * 0.03).toInt)
    val perm = order.take(nPerm).toSet
    val trans = order.slice(nPerm, nPerm + nTrans)
      .map(k => k -> (1 + (Gen.hash(seed + 1, k) & 1L).toInt)).toMap
    Faults(perm, trans)
  }

}

/** Crawl snapshots as WARC files: per-host robots.txt, `utm_` duplicates of
  * pages, near-duplicate pages, site chrome and English prose that passes
  * the default Gopher quality rules.
  */
object WarcGen {

  private val nouns = Seq("river", "garden", "market", "school", "village", "harbor",
    "library", "forest", "bridge", "kitchen", "museum", "station", "teacher", "farmer",
    "painter", "student", "island", "mountain", "valley", "festival", "orchard", "castle",
    "workshop", "theater", "meadow", "lantern", "window", "journey", "country", "winter")
  private val verbs = Seq("describes", "follows", "remembers", "explains", "shows",
    "visits", "builds", "watches", "shares", "collects", "repairs", "discovers")
  private val adjs = Seq("quiet", "old", "bright", "small", "famous", "local", "green",
    "careful", "gentle", "early", "northern", "busy", "hidden", "simple")

  /** One sentence: alphabetic words, several Gopher stopwords. */
  private def sentence(r: java.util.Random): String = {
    def p[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val s = s"the ${p(adjs)} ${p(nouns)} ${p(verbs)} that the ${p(nouns)} of the " +
      s"${p(adjs)} ${p(nouns)} have to be seen with care and ${p(adjs)} ${p(nouns)}"
    s.capitalize + "."
  }

  private def paragraph(r: java.util.Random): String =
    (0 until 3 + r.nextInt(3)).map(_ => sentence(r)).mkString(" ")

  /** A term no generated page holds, naming document `id`. */
  def token(id: Long): String = s"tok$id"

  /** A document for the lexical index: a paragraph and its `token`. */
  def doc(seed: Long, id: Long): String =
    paragraph(Gen.rng(seed, 9000000L + id)) + " " + token(id)

  /** Two or three words of the page vocabulary. */
  def queryTerms(seed: Long, q: Int): Seq[String] = {
    val r = Gen.rng(seed, 12000000L + q)
    val words = nouns ++ adjs
    (0 until 2 + r.nextInt(2)).map(_ => words(r.nextInt(words.size))).distinct
  }

  final case class Page(url: String, body: String)

  /** Boilerplate paragraphs shared across pages (paragraph dedup drops
    * their repeats).
    */
  private def shared(seed: Long): IndexedSeq[String] = {
    val r = Gen.rng(seed, 7L)
    (0 until 6).map(_ => paragraph(r))
  }

  /** Page `i` of the page universe (independent of the snapshot it lands in). */
  def page(seed: Long, i: Int, nHosts: Int): Page = {
    val r = Gen.rng(seed, 5000000L + i)
    val host = f"host${i % nHosts}%03d.example"
    val url = s"http://$host/articles/$i/${nouns(r.nextInt(nouns.size))}"
    val sh = shared(seed)
    val paras = (0 until 2 + r.nextInt(3)).map(_ => paragraph(r)) ++
      (if (r.nextInt(3) == 0) Seq(sh(r.nextInt(sh.size))) else Nil)
    val body = "Home | News | About | Contact\n\n" + paras.mkString("\n\n") +
      "\n\n(c) 2026 - all rights reserved"
    Page(url, body)
  }

  /** A near-duplicate of `p`: one word of the first sentence changed. */
  private def nearDup(p: Page, i: Int): Page = {
    val url = p.url.replace("/articles/", s"/mirror$i/")
    Page(url, p.body.replaceFirst("\\bthe\\b", "this"))
  }

  /** Every host's robots.txt: `/private/` is disallowed for all agents. */
  val Robots: String =
    "User-agent: *\nDisallow: /private/\n\nUser-agent: graftbot\nDisallow: /drafts/\n"

  private def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
    head.append(s"Content-Length: ${payload.length}\r\n\r\n")
    head.toString.getBytes(ISO_8859_1) ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  private def response(uri: String, body: String, contentType: String): Array[Byte] =
    record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
      "WARC-Date" -> "2026-01-02T03:04:05Z"),
      s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n\r\n$body".getBytes(UTF_8))

  /** A snapshot over pages `[from, until)`: every page, `utm_` duplicates of
    * ~1/8, near duplicates of ~1/10, pages under disallowed paths, and the
    * hosts' robots.txt. Returns the WARC files' bytes (split `nFiles` ways)
    * and the number of response records.
    */
  def snapshot(seed: Long, from: Int, until: Int, nHosts: Int,
      nFiles: Int): (Seq[Array[Byte]], Int) = {
    val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    (0 until nHosts).foreach { h =>
      val host = f"host$h%03d.example"
      recs += response(s"http://$host/robots.txt", Robots, "text/plain")
    }
    (from until until).foreach { i =>
      val p = page(seed, i, nHosts)
      recs += response(p.url, p.body, "text/html")
      if (i % 8 == 3) recs += response(p.url + "?utm_source=feed&utm_medium=rss", p.body,
        "text/html")
      if (i % 10 == 7) { val d = nearDup(p, i); recs += response(d.url, d.body, "text/html") }
      if (i % 25 == 11)
        recs += response(p.url.replace("/articles/", "/private/"), p.body, "text/html")
    }
    val files = (0 until nFiles).map { f =>
      val out = new ByteArrayOutputStream()
      recs.indices.filter(_ % nFiles == f).foreach(j => out.write(recs(j)))
      out.toByteArray
    }
    (files, recs.size)
  }
}

/** Clustered unit-scale vectors plus jittered copies, and queries near the
  * corpus.
  */
object VecGen {
  val Dim = 64

  private def centers(seed: Long, k: Int): IndexedSeq[Array[Float]] = {
    val r = Gen.rng(seed, 77L)
    (0 until k).map(_ => Array.fill(Dim)((r.nextGaussian() * 0.2).toFloat))
  }

  /** Vector `id`: a cluster center plus noise. Ids >= `copiesFrom` are
    * jittered copies of vector `id - copiesFrom`.
    */
  def vector(seed: Long, id: Long, copiesFrom: Long = Long.MaxValue): Array[Float] =
    if (id >= copiesFrom) {
      val base = vector(seed, id - copiesFrom)
      val r = Gen.rng(seed, 30000000L + id)
      base.map(x => (x + r.nextGaussian() * 0.01).toFloat)
    } else {
      val cs = centers(seed, 24)
      val r = Gen.rng(seed, 20000000L + id)
      val c = cs(r.nextInt(cs.size))
      c.map(x => (x + r.nextGaussian() * 0.08).toFloat)
    }

  def query(seed: Long, q: Int, corpusIds: IndexedSeq[Long], copiesFrom: Long): Array[Float] = {
    val r = Gen.rng(seed, 40000000L + q)
    val base = vector(seed, corpusIds(r.nextInt(corpusIds.size)), copiesFrom)
    base.map(x => (x + r.nextGaussian() * 0.05).toFloat)
  }
}
