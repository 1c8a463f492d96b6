package graft.pipeline

import graft.SparkSpec
import graft.functions.ColumnRender

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** `MarkdownJob`'s plain-Scala render pass against the Column oracle
  * ([[ColumnRender]]): on 122-column rows (WideCsvSpec's shape) with the
  * cells the two paths could disagree on, every written document must be
  * byte-identical to the Column-rendered one.
  */
class MarkdownParitySpec extends SparkSpec {
  import WideCsvSpec.{headers, surveyQs}

  private def write(p: Path, content: String): Unit =
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))

  test("MarkdownJob output equals the Column render on edge-case rows") {
    val dir = Files.createTempDirectory("mdparity")
    val newQ = surveyQs.map(_ + "_2023/2024")
    val oldQ = surveyQs.map(_ + "_2022/2023")
    def row(code: String, cell: String => String): String = headers.map {
      case "SchoolCode" => code
      case h => cell(h)
    }.mkString(";")
    val rows = Seq(
      row("p1", {
        case "SchoolName" => "\tTabbad skola\t"
        case "TotalNumberOfStudents" => "007.0"
        case "StudentTeacherRatio" => "-0.0"
        case "ForeignBackgroundComparison" => "n/a"
        case h if newQ.contains(h) => ""        // empty newest year...
        case h if oldQ.contains(h) => "Medel"   // ...falls back to the old one
        case h if h.startsWith("Grade") => " 12.0 "
        case _ => "\t"
      }),
      row(" p2 ", {
        case "SchoolName" => " \u00a0Nbsp\u00a0 "
        case h if h == newQ.head => "Över medel" // newest year has ANY data
        case h if oldQ.contains(h) => "Under medel"
        case h if newQ.contains(h) => " N/A "
        case "TotalNumberOfStudents" => "10.00"
        case _ => ""
      }),
      row("p4", _ => "Första raden"),
      row("", _ => "x"),                        // no code: skipped
      row("p3", _ => ""),
      row("p4", {                               // duplicate code: last row wins
        case "SchoolName" => "Sista raden"
        case "TotalNumberOfStudents" => "-3.0"
        case _ => "N/A"
      }))
    val csv = dir.resolve("data.csv")
    write(csv, "\uFEFF" + headers.mkString(";") + "\n" + rows.mkString("\n") + "\n")

    val template = headers.filterNot(h => h.startsWith("SurveyAnswerCategory"))
      .map(h => s"$h: {$h}").mkString("# {SchoolName}\n", "\n", "\n") +
      surveyQs.map(q => s"$q: {$q}").mkString("\n") +
      "\nÅr: {SurveySchoolYear}\nSaknas: {NumberOfNearbySchools} {SurveyAnswerCategoryNone}" +
      "\nLiteral: {not a placeholder}\n"
    val tpl = dir.resolve("tpl.md")
    write(tpl, template)

    val md = MarkdownJob.run(spark, csv.toString, tpl.toString, dir.resolve("md").toString)
    val got = Files.list(dir.resolve("md")).iterator().asScala.map { p =>
      p.getFileName.toString.stripSuffix(".md") ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    }.toMap
    val want = ColumnRender.markdownDocs(spark, csv.toString, template)

    assert(md.written == 4)
    assert(got.keySet == Set("p1", "p2", "p3", "p4"))
    assert(got == want)
    // spot checks that the rows exercised what they were built for
    assert(got("p1").startsWith("# \tTabbad skola\t\n"))
    assert(got("p1").contains("TotalNumberOfStudents: 7\nStudentTeacherRatio: 0\n"))
    assert(got("p1").contains("SchoolStages: \t\n"))
    assert(got("p1").contains(s"${surveyQs.head}: Medel\n"))
    assert(got("p4").startsWith("# Sista raden\n"))
    assert(got("p4").contains("TotalNumberOfStudents: -3\n"))
    assert(got("p2").startsWith("# \u00a0Nbsp\u00a0\n"))
    assert(got("p2").contains("År: 2023/2024\n"))
    assert(got("p2").contains(s"${surveyQs(1)}: Under medel\n"))
    assert(got("p3").contains("År: [Data Saknas]\n"))
    assert(got("p3").contains("Saknas: [Data Saknas] [Data Saknas]\n"))
  }

  test("Scala render keeps the Column path's tab, -0.0 and 007.0 handling") {
    val dir = Files.createTempDirectory("mdparity2")
    val csv = dir.resolve("data.csv")
    // a backtick header no placeholder can name must not fail the job
    write(csv, "SchoolCode;SchoolName;A;B;Odd`Name;" + surveyQs.head + "_2023/2024\n" +
      "t1;\tx\t;007.0;-0.0;odd;\t\n")
    val template = s"{SchoolName}|{A}|{B}|{${surveyQs.head}}|{SurveySchoolYear}"
    val tpl = dir.resolve("tpl.md")
    write(tpl, template)
    MarkdownJob.run(spark, csv.toString, tpl.toString, dir.resolve("md").toString)
    val got = new String(Files.readAllBytes(dir.resolve("md/t1.md")), StandardCharsets.UTF_8)
    assert(got == "\tx\t|7|0|\t|2023/2024")
    assert(Map("t1" -> got) == ColumnRender.markdownDocs(spark, csv.toString, template))
  }
}
