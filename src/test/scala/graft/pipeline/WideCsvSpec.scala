package graft.pipeline

import graft.SparkSpec

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Full-width integration test: a synthetic CSV with the real input's shape
  * (FIXTURES.md §1 — 122 columns, BOM, quoted cells, `/` in column names,
  * year-suffixed survey families, `.0` numerics, N/A holes, 3-level
  * ordinals) through the complete markdown → enrich → site chain.
  */
class WideCsvSpec extends SparkSpec {
  import WideCsvSpec._

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }
  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  test("synthetic schema is the real width") { assert(headers.size == 122) }

  test("122-column chain: markdown -> enrich -> site") {
    val dir = Files.createTempDirectory("wide").toString

    def row(code: String, name: String, fill: String => String): String =
      headers.map {
        case "SchoolCode" => code
        case "SchoolName" => name
        case "SchoolStages" => "Låg- och mellanstadieskola"
        case "TotalNumberOfStudents" => "355.0"
        case "StudentTeacherRatio" => "12.3"
        case "ForeignBackgroundComparison" => "Över medel"
        case h => fill(h)
      }.mkString(";")

    // row 1: survey data only in the OLD year for one question, new year for
    // another (exercises the P5-vs-P4 mismatch); BOM + quoted cells
    val r1 = row("wide1", "\"Vidaskolan\"", {
      case h if h == s"${surveyQs.head}_2023/2024" => "Över medel"
      case h if h == s"${surveyQs(2)}_2022/2023" => "Under medel"
      case h if h.startsWith("SurveyAnswerCategory") => ""
      case h if h.startsWith("Grade") => "25"
      case _ => "N/A"
    })
    // row 2: everything missing except identity
    val r2 = row("wide2", "", _ => "")
    val bom = "﻿"
    write(s"$dir/data.csv", bom + headers.mkString(";") + "\n" + r1 + "\n" + r2 + "\n")

    val template =
      s"""# {SchoolName} ({SchoolCode})
         |Stadium: {SchoolStages}
         |Elever: {TotalNumberOfStudents}
         |Lärartäthet: {StudentTeacherRatio}
         |Bakgrund: {ForeignBackgroundComparison}
         |Enkätår: {SurveySchoolYear}
         |Föräldrar: {${surveyQs.head}}
         |Trygghet åk8: {${surveyQs(2)}}
         |Näraliggande: {NumberOfNearbySchools}
         |Historik: {2223TotalNumberOfStudents}
         |""".stripMargin
    write(s"$dir/tpl.md", template)

    val md = MarkdownJob.run(spark, s"$dir/data.csv", s"$dir/tpl.md", s"$dir/md")
    assert(md.written == 2)

    val w1 = read(s"$dir/md/wide1.md")
    assert(w1.contains("# Vidaskolan (wide1)")) // quote-strip + BOM-tolerant header
    assert(w1.contains("Elever: 355"))          // .0-strip
    assert(w1.contains("Lärartäthet: 12.3"))    // non-.0 untouched
    assert(w1.contains("Bakgrund: Över medel"))
    assert(w1.contains("Enkätår: 2023/2024"))   // P5: newest year with ANY data
    assert(w1.contains("Föräldrar: Över medel"))
    assert(w1.contains("Trygghet åk8: Under medel")) // P4 fell back to 2022/2023
    assert(w1.contains("Näraliggande: [Data Saknas]")) // unknown placeholder
    assert(w1.contains("Historik: [Data Saknas]"))     // N/A normalized

    val w2 = read(s"$dir/md/wide2.md")
    assert(w2.contains("# [Data Saknas] (wide2)"))
    assert(w2.contains("Enkätår: [Data Saknas]"))

    // enrich + site over the generated markdowns
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    val st = graft.enrich.EnrichJob.run(spark, s"$dir/md", s"$dir/aimd",
      s"$dir/aijson", s"$dir/prompt.txt", sleeper = _ => ())
    assert(st.successful == 2)

    write(s"$dir/site.html", "<body>{school_list_json}</body>")
    val site = SiteJob.run(spark, s"$dir/data.csv", s"$dir/aimd",
      s"$dir/site.html", s"$dir/out/index.html")
    assert(site.schools == 2)
    val html = read(s"$dir/out/index.html")
    assert(html.contains("Vidaskolan"))
    assert(html.contains("School (Code: wide2)"))
    assert(html.contains("Sammanfattning")) // enriched description flowed through
  }
}

object WideCsvSpec {
  /** 122 columns: identity + counts + stages + enrollment + demographics +
    * results + ordinals + history year-prefixed + survey year-suffixed.
    */
  val surveyQs = Seq(
    "SurveyAnswerCategoryParentsRegardingParentsSatisfactionWithTheirChildsSchool",
    "SurveyAnswerCategoryTeachersRegardingNecessaryDevelopmentMeasures",
    "SurveyAnswerCategoryGrade8RegardingStudentSafety",
    "SurveyAnswerCategoryGrade5RegardingStudentSatisfaction")
  val headers: Seq[String] = {
    val base = Seq("SchoolCode", "SchoolName", "SchoolNameWithMunicipality",
      "SchoolOrganisation", "SchoolStages", "TotalNumberOfStudents",
      "StudentTeacherRatio", "TeacherQualificationPercentage",
      "ForeignBackgroundComparison", "ResultGrade6AverageScore",
      "ResultCategoryGrade9AverageScore", "FirstSchoolyearInCurrentRecords")
    val grades = (1 to 9).map(g => s"Grade${g}NumberOfStudents")
    val history = for {
      yr <- Seq("1819", "1920", "2021", "2122", "2223")
      m <- Seq("TotalNumberOfStudents", "ResultGrade6AverageScore",
        "ResultCategoryGrade6AverageScore")
    } yield s"$yr$m"
    val survey = for {
      q <- surveyQs
      suf <- Seq("_2023/2024", "_2022/2023")
    } yield s"$q$suf"
    val filler = (1 to (122 - base.size - grades.size - history.size - survey.size))
      .map(i => s"ExtraMetric$i")
    base ++ grades ++ history ++ survey ++ filler
  }
}
