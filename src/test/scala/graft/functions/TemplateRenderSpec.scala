package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Mirrors the reference doctests for P7/F1
  * (`src/program1_generate_markdowns.py:126-148`, `:254-319`) on both
  * plain-Scala render paths, and holds the school row renderer to the Column
  * oracle ([[ColumnRender]]).
  */
class TemplateRenderSpec extends SparkSpec {
  import spark.implicits._

  test("P7 placeholder extraction: sorted unique, allows _ and /") {
    val tpl = "Hello {SchoolName}! Code: {SchoolCode}. {SurveyAnswerCategory_Math} {X_2023/2024} {SchoolName}"
    assert(TemplateRender.extractPlaceholders(tpl) ==
      Seq("SchoolCode", "SchoolName", "SurveyAnswerCategory_Math", "X_2023/2024"))
    // non-matching braces stay literal
    assert(TemplateRender.extractPlaceholders("{bad name} {}") == Seq.empty)
  }

  test("F1 render doctests (string path)") {
    val tpl = "Name: {SchoolName}, Code: {SchoolCode}, Score: {Score}"
    assert(TemplateRender.renderString(tpl,
      Map("SchoolName" -> "Alpha", "SchoolCode" -> "A-01", "Score" -> "10.0")) ==
      "Name: Alpha, Code: A-01, Score: 10")
    assert(TemplateRender.renderString(tpl, Map("SchoolName" -> "Beta")) ==
      "Name: Beta, Code: [Data Saknas], Score: [Data Saknas]")
    // unknown placeholders resolve to the sentinel; non-matching braces literal
    assert(TemplateRender.renderString("{Unknown} {bad one}", Map.empty) ==
      "[Data Saknas] {bad one}")
  }

  test("F1 Column render path agrees with the string path") {
    val tpl = "# {SchoolName}\nCode: {SchoolCode}\nScore: {Score}\nMissing: {Nope}\nLiteral: {not a ph}"
    val df = Seq(("Alpha", "A-01", "10.0"), ("Beta", "B-02", "31.6"))
      .toDF("SchoolName", "SchoolCode", "Score")
    val ctx = Map(
      "SchoolName" -> col("SchoolName"),
      "SchoolCode" -> col("SchoolCode"),
      "Score" -> col("Score"))
    val got = df.select(ColumnRender.renderColumn(tpl, ctx)).as[String].collect()
    val want = df.collect().map { r =>
      TemplateRender.renderString(tpl, Map(
        "SchoolName" -> r.getString(0), "SchoolCode" -> r.getString(1),
        "Score" -> r.getString(2)))
    }
    assert(got.toSeq == want.toSeq)
  }

  test("schoolContext: SchoolCode normalized, survey placeholders year-coalesced") {
    val df = Seq(("  abc  ", "Medel", "", "Namn"))
      .toDF("SchoolCode", "SurveyAnswerCategoryQ_2023/2024", "SurveyAnswerCategoryR_2023/2024", "SchoolName")
    val tpl = "{SchoolCode}|{SurveyAnswerCategoryQ}|{SurveyAnswerCategoryR}|{SurveySchoolYear}|{SchoolName}|{NumberOfNearbySchools}"
    val ctx = ColumnRender.schoolContext(df.schema, TemplateRender.extractPlaceholders(tpl))
    val got = df.select(ColumnRender.renderColumn(tpl, ctx)).as[String].collect().head
    assert(got == "abc|Medel|[Data Saknas]|2023/2024|Namn|[Data Saknas]")
  }

  test("SchoolRenderer agrees with the Column oracle on P1/P4/P5/F2 edge cells") {
    val cols = Seq("SchoolCode", "SchoolName", "Score", "Neg",
      "SurveyAnswerCategoryQ_2023/2024", "SurveyAnswerCategoryQ_2022/2023",
      "SurveyAnswerCategoryR_2022/2023")
    val rows = Seq(
      Seq(" a1 ", "\tTab\t", "007.0", "-0.0", "", "Medel", "n/a"),
      Seq("a2", " \u00a0 ", "10.00", "-3.0", " N/A ", "", ""),
      Seq("a3", null, "\n", "1e3.0", "Hög", null, "Låg"),
      Seq("a4", "[Data Saknas]", " 12.0 ", "x.0", null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq)),
      org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType))))
    val tpl = "{SchoolCode}|{SchoolName}|{Score}|{Neg}|{SurveyAnswerCategoryQ}|" +
      "{SurveyAnswerCategoryR}|{SurveyAnswerCategoryS}|{SurveySchoolYear}|{Absent}|{bad one}"
    val ctx = ColumnRender.schoolContext(df.schema, TemplateRender.extractPlaceholders(tpl))
    val want = df.select(ColumnRender.renderColumn(tpl, ctx)).as[String].collect().toSeq
    val renderer = new TemplateRender.SchoolRenderer(cols, tpl)
    assert(renderer.columns.toSet == cols.toSet)
    assert(rows.map(r => renderer.render(i => r(cols.indexOf(renderer.columns(i))))) == want)
  }
}
