package graft.pipeline

import graft.functions.{Normalize, TemplateRender}
import graft.sinks.KeyedFileSink
import graft.sources.SchoolCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Program 1 equivalent (SURVEY.md §3.1): CSV → one rendered Markdown file
  * per school.
  *
  * Spark plan: `read.csv → filter(SchoolCode present) → last-wins dedup →
  * map(render)` then a keyed-file sink; the render is one plain-Scala pass
  * per winner row ([[TemplateRender.SchoolRenderer]]). The only shuffle is
  * the 2-column winner aggregation; scales linearly with input splits.
  */
object MarkdownJob {

  final case class Result(written: Long)

  /** @return count of markdown files written (reference A1 semantics). */
  def run(spark: SparkSession, csvPath: String, templatePath: String,
      outDir: String): Result = {
    import spark.implicits._
    // S5: template is driver data, loaded once; ≥1 placeholder required
    // (`src/program1_generate_markdowns.py:322-341`).
    val template = new String(
      Files.readAllBytes(Paths.get(templatePath)), StandardCharsets.UTF_8)
    val placeholders = TemplateRender.extractPlaceholders(template)
    require(placeholders.nonEmpty, s"No placeholders found in template: $templatePath")

    val rows = SchoolCsv.read(spark, csvPath)
    val fields = rows.schema.fieldNames.toSeq
    if (!fields.contains("SchoolCode")) return Result(0)

    // internal name that cannot case-insensitively collide with (and
    // replace) a real CSV column — render must see the RAW row values
    val code = Normalize.normalizeMissing(col("SchoolCode"))
    val keyed = rows.filter(code =!= Normalize.Missing).withColumn("_graft_code", code)

    // Reference: each row overwrites `{code}.md` in file order, so the LAST
    // duplicate's content survives (`program1_generate_markdowns.py:382-388`).
    // Under local[32] an arbitrary task would win the rename race; dedup to
    // the deterministic winner BEFORE rendering: the winner set is a 2-column
    // map-side-combined aggregation (not a shuffle of rendered docs), the
    // join back broadcasts when keys are few (AQE), and losers are never
    // rendered at all. (The reference's returned count includes overwrites;
    // ours counts distinct files — identical whenever SchoolCodes are
    // unique, as in the shipped dataset.)
    val winners = keyed
      .groupBy(col("_graft_code"))
      .agg(max(col("_file_order")).as("_file_order"))
    val renderer = new TemplateRender.SchoolRenderer(fields, template)
    // only the rendered columns cross the join; renderer column i is row
    // field i + 1, read as InternalRows (no Row deserializer to compile)
    val rendered = keyed
      .join(winners, Seq("_graft_code", "_file_order"))
      .select(col("_graft_code") +: renderer.columns.map(f =>
        col("`" + f.replace("`", "``") + "`").cast("string")): _*)
      .queryExecution.toRdd.map { r =>
        (r.getUTF8String(0).toString, renderer.render { i =>
          val v = r.getUTF8String(i + 1)
          if (v == null) null else v.toString
        })
      }.toDF("school_code", "doc")

    Result(KeyedFileSink.write(rendered, "school_code", "doc", outDir, ".md"))
  }
}
