package graft.sources

import graft.SparkSpec
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `SchoolCsv.readDocumentDir` reads a directory with a driver-side
  * listing: the same (key, content) rows as a glob read of `*suffix` inside
  * the dir, without the Spark listing job of one task per file that the
  * glob's root paths cost.
  */
class DocumentDirSpec extends SparkSpec {
  import spark.implicits._

  private val nFiles = 40 // above the 32 root paths that start a listing job
  // read back byte for byte: the BOM and the CRLFs are kept
  private val bom = "bom" -> "\uFEFF# skola\r\nrad\r\n"

  private def write(p: Path, content: String): Unit =
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))

  /** The glob read `readDocumentDir` did before it listed on the driver. */
  private def globRead(spark: SparkSession, dir: String, suffix: String): DataFrame = {
    val glob = new org.apache.hadoop.fs.Path(s"$dir/*$suffix")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = try fs.globStatus(glob) catch { case _: java.io.IOException => null }
    if (matches == null || matches.isEmpty)
      return Seq.empty[(String, String)].toDF("key", "content")
    val quoted = java.util.regex.Pattern.quote(suffix)
    spark.read.option("wholetext", "true").text(s"$dir/*$suffix")
      .select(regexp_extract(input_file_name(), s"([^/]+)$quoted$$", 1).as("key"),
        col("value").as("content"))
      .filter(col("key") =!= "")
  }

  private def rows(df: DataFrame): Set[(String, String)] =
    df.as[(String, String)].collect().toSet

  private def docDir(): Path = {
    val dir = Files.createTempDirectory("docdir")
    (0 until nFiles).foreach(i => write(dir.resolve(f"s$i%03d.md"), s"# skola $i\nrad två\n"))
    write(dir.resolve(s"${bom._1}.md"), bom._2)
    write(dir.resolve("empty.md"), "") // file scans skip empty files
    write(dir.resolve("notes.txt"), "another suffix")
    write(dir.resolve(".graft123.tmp"), "sink orphan")
    write(dir.resolve("_hidden.md"), "underscore-prefixed")
    // nested folders: a glob of `dir/*suffix` reads none of their files
    for (sub <- Seq("backup", "year=2024")) {
      Files.createDirectory(dir.resolve(sub))
      write(dir.resolve(sub).resolve("s007.md"), "nested copy")
      write(dir.resolve(sub).resolve("nested.md"), "nested only")
    }
    dir
  }

  test("same rows as the glob read, for a full, a missing and an empty directory") {
    val dir = docDir()
    val got = rows(SchoolCsv.readDocumentDir(spark, dir.toString, ".md"))
    assert(got.size == nFiles + 1)
    assert(got.contains(("s007", "# skola 7\nrad två\n")))
    assert(got.contains(bom))
    assert(got == rows(globRead(spark, dir.toString, ".md")))

    val missing = dir.resolve("absent").toString
    assert(rows(SchoolCsv.readDocumentDir(spark, missing, ".md")).isEmpty)
    assert(rows(globRead(spark, missing, ".md")).isEmpty)
    val empty = Files.createTempDirectory("docdir-empty").toString
    assert(rows(SchoolCsv.readDocumentDir(spark, empty, ".md")).isEmpty)
    assert(rows(globRead(spark, empty, ".md")).isEmpty)
  }

  test("building and counting the frame starts no job of one task per file") {
    val dir = docDir().toString
    val tasksPerJob = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tasksPerJob.add(e.stageInfos.map(_.numTasks).sum)
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(SchoolCsv.readDocumentDir(spark, dir, ".md").count() == nFiles + 1)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val seen = tasksPerJob.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ < nFiles), s"task counts per job: $seen")
  }
}
