package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Mirrors the reference doctests for P1/F2/P4/P5
  * (`src/program1_generate_markdowns.py:92-123`, `:282-297`, `:222-251`,
  * `:183-219`) and asserts the Column and plain-Scala paths agree.
  */
class NormalizeSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def colNorm(vs: Seq[String]): Seq[String] =
    vs.toDF("v").select(Normalize.normalizeMissing($"v")).as[String].collect().toSeq

  private def colFmt(vs: Seq[String]): Seq[String] =
    vs.toDF("v").select(Normalize.formatNumber($"v")).as[String].collect().toSeq

  test("P1 missing-normalize doctest cases") {
    assert(Normalize.normalizeMissingStr("  123  ") == "123")
    assert(Normalize.normalizeMissingStr("N/A") == "[Data Saknas]")
    assert(Normalize.normalizeMissingStr("n/a") == "[Data Saknas]")
    assert(Normalize.normalizeMissingStr("") == "[Data Saknas]")
    assert(Normalize.normalizeMissingStr("   ") == "[Data Saknas]")
    assert(Normalize.normalizeMissingStr(null) == "[Data Saknas]")
    assert(Normalize.normalizeMissingStr("ok value") == "ok value")
  }

  test("P1 Column path agrees with Scala path") {
    val inputs = Seq("  123  ", "N/A", "n/A", "", "  ", "Över medel", "31.6", "x",
      // Spark's trim strips spaces only: tabs, newlines and NBSP survive
      "\tx\t", "\t", " \tN/A\t ", "\nx\n", "\n", "\u00a0x\u00a0", "\u00a0", " N/A\u00a0")
    assert(colNorm(inputs) == inputs.map(Normalize.normalizeMissingStr))
    assert(Normalize.normalizeMissingStr("\tx\t") == "\tx\t")
    assert(Normalize.normalizeMissingStr("\t") == "\t")
  }

  test("F2 number format doctest cases") {
    val cases = Table(
      ("in", "out"),
      ("10.0", "10"), ("-3.0", "-3"), ("31.6", "31.6"),
      ("10.0.0", "10.0.0"), ("abc", "abc"), ("355", "355"),
      ("-0.0", "0"), ("10.00", "10.00"), (" 10.0", " 10.0"))
    forAll(cases) { (i, o) => assert(Normalize.formatNumberStr(i) == o) }
    assert(colFmt(cases.toSeq.map(_._1)) == cases.toSeq.map(_._2))
  }

  test("F2 property: Column and Scala paths agree on arbitrary numeric-ish strings") {
    val numericish = Gen.oneOf(
      Gen.chooseNum(-10000L, 10000L).map(n => s"$n.0"),
      Gen.chooseNum(-1000.0, 1000.0).map(_.toString),
      Gen.alphaNumStr.map(_.take(19)))
    val samples = (0 until 200).flatMap(i =>
      numericish.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(colFmt(samples) == samples.map(Normalize.formatNumberStr))
  }

  test("P4 year-coalesce prefers newest year, falls back, then sentinel") {
    val df = Seq(
      ("85", "80"), ("", "72"), ("N/A", ""), ("", ""))
      .toDF("SurveyAnswerCategory_Math_2023/2024", "SurveyAnswerCategory_Math_2022/2023")
    val got = df
      .select(ColumnRender.yearCoalesce(df.schema, "SurveyAnswerCategory_Math"))
      .as[String].collect().toSeq
    assert(got == Seq("85", "72", "[Data Saknas]", "[Data Saknas]"))
    assert(df.collect().map(r => Normalize.yearCoalesceStr(Seq(r.getString(0), r.getString(1))))
      .toSeq == got)
  }

  test("P5 survey year: newest year with ANY data wins; value may still fall back") {
    val df = Seq(
      ("85", "80", "", "70"),   // newest has data somewhere -> 2023/2024
      ("", "80", "", "70"),     // only old years -> 2022/2023
      ("", "", "", ""))         // nothing -> sentinel
      .toDF(
        "SurveyAnswerCategoryA_2023/2024", "SurveyAnswerCategoryA_2022/2023",
        "SurveyAnswerCategoryB_2023/2024", "SurveyAnswerCategoryB_2022/2023")
    val year = ColumnRender.surveyYear(df.schema,
      Seq("SurveyAnswerCategoryA", "SurveyAnswerCategoryB"))
    assert(df.select(year).as[String].collect().toSeq ==
      Seq("2023/2024", "2022/2023", "[Data Saknas]"))
    // the P5-vs-P4 mismatch quirk: year says 2023/2024 but B's value fell back
    val bVal = ColumnRender.yearCoalesce(df.schema, "SurveyAnswerCategoryB")
    assert(df.select(bVal).as[String].collect().head == "70")
    // Scala twins: candidates per suffix, newest first
    val scalaYears = df.collect().toSeq.map(r => Normalize.surveyYearStr(
      Seq(Seq(r.getString(0), r.getString(2)), Seq(r.getString(1), r.getString(3)))))
    assert(scalaYears == Seq("2023/2024", "2022/2023", "[Data Saknas]"))
    assert(Normalize.yearCoalesceStr(Seq("", "70")) == "70")
  }
}
