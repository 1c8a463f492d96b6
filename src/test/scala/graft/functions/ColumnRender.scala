package graft.functions

import graft.core.RefConfig
import graft.sources.SchoolCsv
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The Column render path — P1/P4/P5 context projection (P6) and the F1
  * template as ONE `concat` expression — kept as the parity oracle for the
  * plain-Scala render pass ([[TemplateRender.SchoolRenderer]]) that
  * `MarkdownJob` runs.
  */
object ColumnRender {
  import Normalize.{Missing, nullIfMissing}

  /** P1 on a column that may not exist in the schema (unknown → sentinel). */
  def normalizeMissing(schema: StructType, name: String): Column =
    if (schema.fieldNames.contains(name)) Normalize.normalizeMissing(col(s"`$name`"))
    else lit(Missing)

  private def nullableIn(schema: StructType, name: String): Column =
    if (schema.fieldNames.contains(name)) nullIfMissing(col(s"`$name`"))
    else lit(null).cast("string")

  /** P4: first non-missing value across year-suffixed columns, in preference
    * order; all missing → sentinel.
    */
  def yearCoalesce(schema: StructType, base: String,
      suffixes: Seq[String] = RefConfig.SurveyYearSuffixes): Column =
    coalesce(suffixes.map(suf => nullableIn(schema, base + suf)) :+ lit(Missing): _*)

  /** P5: newest suffix for which ANY SurveyAnswerCategory* placeholder has
    * data — an individual P4 value may still fall back to the older year
    * (reference quirk, preserved).
    */
  def surveyYear(schema: StructType, surveyPlaceholders: Seq[String],
      suffixes: Seq[String] = RefConfig.SurveyYearSuffixes): Column = {
    val branches = suffixes.map { suf =>
      val any = surveyPlaceholders.map(p => nullableIn(schema, p + suf))
        .foldLeft(lit(null).cast("string"))((acc, c) => coalesce(acc, c))
      (any.isNotNull, lit(suf.stripPrefix("_")))
    }
    branches.foldRight(lit(Missing): Column) { case ((cond, value), els) =>
      when(cond, value).otherwise(els)
    }
  }

  /** F1 as a single concat Column. `context` maps placeholder name → Column;
    * unresolved placeholders render as the missing sentinel; every
    * substitution passes through F2 number formatting.
    */
  def renderColumn(template: String, context: Map[String, Column]): Column = {
    val (pairs, tail) = TemplateRender.segments(template)
    val parts = pairs.flatMap { case (seg, name) =>
      Seq(lit(seg), Normalize.formatNumber(context.getOrElse(name, lit(Missing))))
    } :+ lit(tail)
    concat(parts: _*)
  }

  /** P6: the reference's context projection for a school row — SchoolCode via
    * P1, SurveySchoolYear via P5, SurveyAnswerCategory* via P4, everything
    * else via P1 (absent columns → sentinel).
    */
  def schoolContext(schema: StructType, placeholders: Seq[String]): Map[String, Column] = {
    val surveyPs = placeholders.filter(_.startsWith("SurveyAnswerCategory"))
    placeholders.map { p =>
      val c =
        if (p == "SurveySchoolYear") surveyYear(schema, surveyPs)
        else if (p.startsWith("SurveyAnswerCategory")) yearCoalesce(schema, p)
        else normalizeMissing(schema, p)
      p -> c
    }.toMap
  }

  /** Code → document as the Column-rendered markdown chain produces them:
    * P2 filter, last-row-wins dedup, one `concat` render.
    */
  def markdownDocs(spark: SparkSession, csvPath: String, template: String): Map[String, String] = {
    val rows = SchoolCsv.read(spark, csvPath)
    val schema = rows.schema
    val code = Normalize.normalizeMissing(col("SchoolCode"))
    val keyed = rows.filter(code =!= Missing).withColumn("_graft_code", code)
    val winners = keyed.groupBy(col("_graft_code")).agg(max(col("_file_order")).as("_file_order"))
    val context = schoolContext(schema, TemplateRender.extractPlaceholders(template))
    keyed.join(winners, Seq("_graft_code", "_file_order"))
      .select(col("_graft_code"), renderColumn(template, context))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }
}
