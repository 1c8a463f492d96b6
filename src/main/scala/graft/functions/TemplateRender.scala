package graft.functions

import graft.core.RefConfig

import scala.collection.mutable
import scala.util.matching.Regex

/** Template rendering (SURVEY.md §2.2 P6/P7, §2.6 F1/F2).
  *
  * Reference semantics: `extract_placeholders_from_template`
  * (`src/program1_generate_markdowns.py:126-148`), `render_template`
  * (`:254-319`), `build_template_context` (`:151-180`).
  *
  * The static template is split on the driver into literal segments and
  * placeholder slots bound to row indexes ([[SchoolRenderer]]); a row then
  * renders in one plain-Scala pass. One Column `concat` of the same render
  * is the specs' parity oracle only: it takes seconds to plan, and whole-
  * stage codegen never engages on its ~123-column rows (> maxFields).
  */
object TemplateRender {
  val PlaceholderPattern: Regex = "\\{([a-zA-Z0-9_/]+)\\}".r
  val Missing: String = RefConfig.MissingDataPlaceholder

  /** P7: sorted distinct placeholder names. */
  def extractPlaceholders(template: String): Seq[String] =
    PlaceholderPattern.findAllMatchIn(template).map(_.group(1)).toSeq.distinct.sorted

  /** Template split into (literal segment, following placeholder) pairs plus
    * the trailing literal. Non-matching `{...}` stays literal text.
    */
  def segments(template: String): (Seq[(String, String)], String) = {
    val pairs = mutable.ArrayBuffer.empty[(String, String)]
    var last = 0
    for (m <- PlaceholderPattern.findAllMatchIn(template)) {
      pairs += ((template.substring(last, m.start), m.group(1)))
      last = m.end
    }
    (pairs.toSeq, template.substring(last))
  }

  /** P6 + F1 for one school row, planned once on the driver: each
    * placeholder slot holds the indexes (into [[columns]]) its value is
    * read from. `SurveySchoolYear` is P5; a `SurveyAnswerCategory*` slot is
    * P4 over its year-suffixed columns; any other slot is P1, which is P4
    * over at most one column (absent → the missing sentinel). Every
    * substitution passes through F2.
    */
  final class SchoolRenderer(fieldNames: Seq[String], template: String) extends Serializable {
    private val (pairs, tail) = segments(template)
    private val literals = (pairs.map(_._1) :+ tail).toArray
    private val suffixes = RefConfig.SurveyYearSuffixes
    private val surveyPs = extractPlaceholders(template).filter(_.startsWith("SurveyAnswerCategory"))
    private def present(names: Seq[String]) = names.filter(fieldNames.contains)
    private val yearNames = suffixes.map(suf => present(surveyPs.map(_ + suf)))
    // None: the P5 year; Some: P4 candidates, newest year first
    private val slotNames = pairs.map { case (_, p) =>
      if (p == "SurveySchoolYear") None
      else Some(present(if (surveyPs.contains(p)) suffixes.map(p + _) else Seq(p)))
    }

    /** The present columns a render reads; `render`'s `value(i)` is column `i`. */
    val columns: Seq[String] = (slotNames.flatten.flatten ++ yearNames.flatten).distinct
    private def indexes(names: Seq[String]) = names.map(columns.indexOf(_)).toArray
    private val yearColumns = yearNames.map(indexes)
    private val slots = slotNames.map(_.map(indexes)).toArray

    /** Renders the row whose column `i` reads as `value(i)` (null for null). */
    def render(value: Int => String): String = {
      lazy val year = Normalize.surveyYearStr(yearColumns.map(_.map(value).toSeq))
      val sb = new java.lang.StringBuilder(literals(0))
      for (k <- slots.indices) {
        val v = slots(k).fold(year)(is => Normalize.yearCoalesceStr(is.map(value).toSeq))
        sb.append(Normalize.formatNumberStr(v)).append(literals(k + 1))
      }
      sb.toString
    }
  }

  /** Plain-Scala render (driver-side + parity tests with the Column path). */
  def renderString(template: String, context: Map[String, String]): String =
    PlaceholderPattern.replaceAllIn(
      template,
      m =>
        Regex.quoteReplacement(
          Normalize.formatNumberStr(context.getOrElse(m.group(1), Missing))))
}
