package graft.functions

import graft.core.RefConfig
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Null/missing normalization and numeric formatting (SURVEY.md §2.2 P1/P4/P5,
  * §2.6 F2): pure `Column` expressions (codegen'd, no UDFs) for the registry
  * queries, and the plain-Scala twins the markdown render pass runs.
  *
  * Reference semantics: `get_value_from_row`
  * (`src/program1_generate_markdowns.py:92-123`), `format_number_string`
  * (`:282-297`), `get_survey_answer_value` (`:222-251`),
  * `determine_survey_year_for_report` (`:183-219`).
  */
object Normalize {
  val Missing: String = RefConfig.MissingDataPlaceholder

  /** P1: trim; null / "" / "N/A" (case-insensitive) → the missing sentinel. */
  def normalizeMissing(c: Column): Column = {
    val t = trim(c)
    when(c.isNull || t === "" || upper(t) === "N/A", lit(Missing)).otherwise(t)
  }

  /** F2: a full-match `-?\d+\.0` string renders as its integer part.
    * `int(float(v))` ≡ cast double→long (handles "-0.0" → "0").
    */
  def formatNumber(c: Column): Column =
    when(c.rlike("^-?\\d+\\.0$"), c.cast("double").cast("long").cast("string"))
      .otherwise(c)

  /** P1 normalization result as nullable: sentinel → null (coalesce fuel). */
  def nullIfMissing(c: Column): Column = {
    val n = normalizeMissing(c)
    when(n === Missing, lit(null)).otherwise(n)
  }

  /** Generic P4 over already-derived columns (used by the oracle query). */
  def yearCoalesce(candidates: Seq[Column]): Column =
    coalesce(candidates.map(nullIfMissing) :+ lit(Missing): _*)

  // ------------------------------------------------------- plain-Scala twins

  /** P1 twin. Strips spaces (U+0020) only, as Spark's `trim` does;
    * `String.trim` would also strip tabs and other control chars.
    */
  def normalizeMissingStr(v: String): String = {
    if (v == null) return Missing
    val t = v.substring(v.indexWhere(_ != ' ') max 0, v.lastIndexWhere(_ != ' ') + 1)
    if (t.isEmpty || t.equalsIgnoreCase("N/A")) Missing else t
  }

  def formatNumberStr(v: String): String =
    if (v != null && v.matches("-?\\d+\\.0")) v.toDouble.toLong.toString else v

  /** P4 twin: the first non-missing candidate (newest year first), else the sentinel. */
  def yearCoalesceStr(candidates: Seq[String]): String =
    candidates.iterator.map(normalizeMissingStr).find(_ != Missing).getOrElse(Missing)

  /** P5 twin: the newest year whose candidates (one list per year) hold data. */
  def surveyYearStr(candidates: Seq[Seq[String]]): String =
    RefConfig.SurveyYearSuffixes.zip(candidates).collectFirst {
      case (suf, vs) if yearCoalesceStr(vs) != Missing => suf.stripPrefix("_")
    }.getOrElse(Missing)
}
