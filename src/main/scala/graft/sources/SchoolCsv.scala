package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources for the school pipeline (SURVEY.md §2.1 S1-S4).
  *
  * Reference semantics: `process_csv_and_generate_markdowns` reads a
  * `;`-delimited, BOM-tolerant, all-string CSV
  * (`src/program1_generate_markdowns.py:344-389`); Program 3 reads a
  * 2-column projection (`src/program3_generate_website.py:71-106`); Program 2
  * scans a directory of Markdown docs keyed by filename stem
  * (`src/program2_ai_processor.py:628`, `:542`).
  */
object SchoolCsv {

  /** S1: the full wide table, every column a string. A `_file_order` column
    * captures physical row order at scan time so first-wins dedup (O1) stays
    * deterministic under parallel reads.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("delimiter", ";")
      .option("header", "true")
      .option("inferSchema", "false")
      .option("encoding", "UTF-8")
      .csv(path)
      .withColumn("_file_order", monotonically_increasing_id())

  /** S2: projected read; missing required columns → IllegalArgumentException
    * (the reference raises on absent `usecols`); nulls → "".
    */
  def readProjection(spark: SparkSession, path: String,
      columns: Seq[String] = Seq("SchoolCode", "SchoolName")): DataFrame = {
    val df = read(spark, path)
    val missing = columns.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty, s"CSV is missing required columns: ${missing.mkString(", ")}")
    df.select((columns.map(col) :+ col("_file_order")): _*).na.fill("", columns)
  }

  /** S3/S4: directory of per-key documents → DataFrame[key, content].
    * `suffix` is stripped from the filename to recover the key (e.g.
    * `_ai_description.md` or `.md`). A missing dir yields an empty frame
    * (the reference treats it as "no descriptions"), checked driver-side so
    * the lazy read can't explode at action time; an empty dir reads empty.
    *
    * The dir itself is read with `pathGlobFilter`: ONE root path, listed on
    * the driver (a `*suffix` glob is a root path per file, listed past 32
    * by a job of one task per file). `_`/`.`-prefixed files are skipped.
    * The listing recurses (`recursiveFileLookup` only stops partition
    * inference), so keys are anchored at the dir: subfolder files drop out.
    * Files are read by the `binaryFile` source, whose bytes are cast to a
    * string unchanged, as `wholetext` did: the `wholetext` reader copies the
    * Hadoop configuration once per file, a fifth of the school chain's
    * executor CPU, and made that chain's run time vary.
    */
  def readDocumentDir(spark: SparkSession, dir: String, suffix: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty[(String, String)].toDF("key", "content")
    val root = fs.makeQualified(path).toUri.toString.stripSuffix("/") + "/"
    import java.util.regex.Pattern.quote
    val keyPattern = "^" + quote(root) + "([^/]+)" + quote(suffix) + "$"
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", s"*$suffix")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        regexp_extract(input_file_name(), keyPattern, 1).as("key"),
        col("content").cast("string").as("content"))
      .filter(col("key") =!= "")
  }
}
