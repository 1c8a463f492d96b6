package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared ledger layer ([[IndexLedger]]) under each of its four
  * ledgers: past the file budget every writer folds its table to ONE file
  * holding exactly its fold of the rows before, a crashed swap heals on
  * the next read, and the write verbs start a pinned number of Spark jobs
  * (an inferring read that comes back adds one).
  */
class IndexLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def files(dir: String): Int =
    IndexFs.fileNames(dir).count(_.endsWith(".parquet"))

  private def rowsOf(dir: String): Seq[Row] =
    spark.read.parquet(dir).collect().toSeq

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** 16 one-file batches through `write`, then the 17th: the fold fires
    * there, leaving one file of `fold(rows before ++ 17th batch)`; the
    * 18th lands as a second file.
    */
  private def foldCase(dir: String, write: Int => Unit,
      fold: (Seq[Row], Int) => Seq[Row]): Unit = {
    (0 until 16).foreach(write)
    assert(files(dir) == 16, s"$dir: ${files(dir)} files before the budget")
    val before = rowsOf(dir)
    write(16)
    assert(files(dir) == 1, s"$dir: ${files(dir)} files after the fold")
    assert(sorted(rowsOf(dir)) == sorted(fold(before, 16)), dir)
    write(17)
    assert(files(dir) == 2, s"$dir: ${files(dir)} files after the 18th batch")
  }

  test("each ledger kind folds past 16 one-file batches to one file holding its fold of the rows before") {
    val base = tmp("ledger_fold")

    // admission tombstones: distinct keys
    val fpDir = s"$base/fp"
    def fpKeys(i: Int) = Seq(s"k$i", s"k${i + 1}")
    foldCase(s"$fpDir/_tombstones",
      i => IncrementalDedup.deleteFingerprints(spark, fpDir, fpKeys(i).toDF("fp")),
      (before, i) => (before.map(_.getString(0)) ++ fpKeys(i)).distinct.map(Row(_)))

    // sig floors: the highest floor per id
    val floorsDir = s"$base/sig/_floors"
    def floors(i: Int) = Seq((i % 5L, i.toLong), ((i + 2) % 5L, (i / 2).toLong))
    foldCase(floorsDir,
      i => IncrementalDedup.appendFloors(spark, floorsDir,
        floors(i).toDF("id", "below")),
      (before, i) => (before.map(r => (r.getLong(0), r.getLong(1))) ++ floors(i))
        .groupBy(_._1).map { case (id, es) => Row(id, es.map(_._2).max) }.toSeq)

    // ANN tombstones: distinct keys (ivfDelete needs no built layout)
    val annDir = s"$base/ann"
    def annIds(i: Int) = Seq(i.toLong, (i + 3).toLong)
    foldCase(s"$annDir/tombstones",
      i => Similarity.ivfDelete(spark, annDir, annIds(i).toDF("vec_id"), "vec_id"),
      (before, i) => (before.map(_.getLong(0)) ++ annIds(i)).distinct.map(Row(_)))

    // lexical tombstones: the latest (at, below) per id. Even batches are
    // version floors written as an upsert writes them, odd ones deletions
    val lexDir = s"$base/lex"
    val lexTs = s"$lexDir/tombstones"
    def lexIds(i: Int) = Seq((i % 4).toLong, (i + 10).toLong)
    def lexWrite(i: Int): Unit =
      if (i % 2 == 0 && i < 16)
        IndexLedger.append(lexIds(i).map(id => (id, i.toLong,
          IndexLedger.nextStamp(lexTs, "at"))).toDF("id", "below", "at"),
          lexTs)
      else LexIndex.delete(spark, lexDir, lexIds(i).toDF("doc_id"), "doc_id")
    foldCase(lexTs, lexWrite, { (before, i) =>
      val es = before.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val at = es.map(_._3).max + 1L
      (es ++ lexIds(i).map(id => (id, Long.MaxValue, at)))
        .groupBy(_._1).map { case (id, g) =>
          val (_, below, a) = g.maxBy(e => (e._3, e._2)); Row(id, below, a)
        }.toSeq
    })

    // drift log: identity (it folds in AnnMaintenance.maintain, not on
    // append, so the fold is driven here directly)
    val logDir = s"$base/drift_log"
    (0 until 18).foreach { i =>
      IndexLedger.append(Seq((i.toLong, 1L, 0.5, Option(0.5), Option(1.0),
          Option.empty[Double])).toDF(AnnMaintenance.DriftLogSchema.fieldNames: _*),
        logDir)
    }
    val logBefore = rowsOf(logDir)
    assert(files(logDir) == 18)
    IndexLedger.fold(spark, logDir, AnnMaintenance.DriftLogSchema, identity)
    assert(files(logDir) == 1)
    assert(sorted(rowsOf(logDir)) == sorted(logBefore))
    assert(IndexLedger.nextStamp(logDir, "seq") == 18L)

    // a `.old` left beside a missing live dir (a crash between the swap's
    // two renames) is rolled back by the next read, rows intact
    for (dir <- Seq(s"$fpDir/_tombstones", floorsDir, s"$annDir/tombstones",
        lexTs, logDir)) {
      val schema = spark.read.parquet(dir).schema
      val rows = sorted(rowsOf(dir))
      IndexFs.rename(dir, s"$dir.old")
      val healed = IndexLedger.read(spark, dir, schema)
      assert(healed.isDefined, s"$dir: the crashed swap was not healed")
      assert(sorted(healed.get.collect().toSeq) == rows, dir)
      assert(IndexFs.exists(dir) && !IndexFs.exists(s"$dir.old"), dir)
    }
    // and through the public surfaces: a write after the crash keeps the
    // rolled-back keys, and the live view still hides them
    IndexFs.rename(s"$fpDir/_tombstones", s"$fpDir/_tombstones.old")
    IncrementalDedup.deleteFingerprints(spark, fpDir, Seq("k99").toDF("fp"))
    val live = IncrementalDedup.liveIndex(spark, fpDir,
      Seq("k0", "k18", "k99", "zz").toDF("fp"), "fp")
    assert(live.as[String].collect().toSeq == Seq("zz"))
  }

  test("LexIndex.delete past 16 batches still scores like the bm25TopK scan over the live docs") {
    val words = Seq("spark", "merge", "window", "index", "query", "ledger")
    val docs = (0L until 40L).map { i =>
      (i, (0 until (3 + (i % 5).toInt))
        .map(j => words(((i * 7 + j * 3) % words.size).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val dir = s"${tmp("ledger_lex")}/lex"
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 4)
    val deleted = (0L until 18L).map(_ * 2L)
    deleted.foreach(id =>
      LexIndex.delete(spark, dir, Seq(id).toDF("doc_id"), "doc_id"))
    assert(files(s"$dir/tombstones") == 2, "the 17th delete did not fold")
    val terms = Seq("spark", "ledger", "window")
    val live = docs.where(!$"doc_id".isin(deleted: _*))
    def rows(df: DataFrame) =
      df.orderBy($"score".desc, $"id").collect().toSeq
    // k past the live count: every live document, no tie at a cut
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 40)
    val fromScan = TextSearch.bm25TopK(live, $"doc_id", $"text", terms, k = 40)
    assert(fromIndex.columns.toSeq == fromScan.columns.toSeq)
    assert(rows(fromIndex) == rows(fromScan))
  }

  test("delete verbs on an index whose ledger exists start a pinned number of jobs, none inferring a schema") {
    val lex = s"${tmp("ledger_jobs")}/lex"
    val docs = graft.core.Tables.documents(spark, sf0001).where($"doc_id" < 60)
    LexIndex.build(docs, "doc_id", "text", lex, nBuckets = 4)
    LexIndex.delete(spark, lex, Seq(1L).toDF("doc_id"), "doc_id")
    val ann = s"${tmp("ledger_jobs")}/ann"
    val emb = graft.core.Tables.embeddings(spark, sf0001).where($"vec_id" < 60)
    Similarity.ivfBuild(emb, "vec_id", "embedding", 2, ann)
    Similarity.ivfDelete(spark, ann, Seq(1L).toDF("vec_id"), "vec_id")

    def jobsOf(body: => Unit): Seq[String] = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.map(_.name).mkString("; "))
      }
      val sc = spark.sparkContext
      org.apache.spark.TestBus.drain(sc)
      sc.addSparkListener(listener)
      try { body; org.apache.spark.TestBus.drain(sc) }
      finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq
    }
    val lexJobs = jobsOf(LexIndex.delete(spark, lex,
      Seq(2L, 3L).toDF("doc_id"), "doc_id"))
    val annJobs = jobsOf(Similarity.ivfDelete(spark, ann,
      Seq(2L, 3L).toDF("vec_id"), "vec_id"))
    // a `parquet at` job other than the ledger append's write is started
    // from inside DataFrameReader.parquet: schema inference
    for (j <- Seq(lexJobs, annJobs))
      assert(!j.exists(c => c.contains("parquet at ") &&
        !c.contains("parquet at IndexLedger.scala")), s"reader jobs: $j")
    assert(lexJobs.size == LexDeleteJobs,
      s"LexIndex.delete: ${lexJobs.size} jobs $lexJobs")
    assert(annJobs.size == IvfDeleteJobs,
      s"Similarity.ivfDelete: ${annJobs.size} jobs $annJobs")
  }

  test("footer stamps equal the max(coalesce) aggregation on mixed-null, multi-file ledgers") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, at BIGINT")
    def aggregated(dir: String): Long = {
      val m = spark.read.schema(schema).parquet(dir)
        .agg(max(coalesce($"at", lit(0L)))).head()
      if (m.isNullAt(0)) 0L else m.getLong(0) + 1L
    }
    val dir = s"${tmp("ledger_stamp")}/ts"
    def add(rows: Seq[(Long, Option[Long])]): Unit =
      IndexLedger.append(rows.toDF("id", "at"), dir)
    def same(): Unit = assert(IndexLedger.nextStamp(dir, "at") == aggregated(dir))

    assert(IndexLedger.nextStamp(dir, "at") == 0L) // absent
    add(Seq.empty); same() // a file of zero rows
    add(Seq((1L, None), (2L, None))); same() // all null reads as 0: stamp 1
    assert(IndexLedger.nextStamp(dir, "at") == 1L)
    add(Seq((3L, Some(4L)), (4L, None))); same() // mixed nulls in one file
    add(Seq((5L, Some(2L)))); same() // a lower max in a later file
    // a file without the column (an older layout) reads as null
    Seq(6L).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    same()
    assert(IndexLedger.nextStamp(dir, "at") == 5L)
    // several row groups in one file: each row group's statistics count
    spark.range(0, 20000).select($"id", ($"id" % 7000).as("at")).coalesce(1)
      .write.mode("append").option("parquet.block.size", 4096L).parquet(dir)
    val rowGroups = IndexFs.fileNames(dir).filter(_.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/$f"), spark.sessionState.newHadoopConf()))
      try r.getRowGroups.size finally r.close()
    }
    assert(rowGroups.max > 1, "one row group per file only")
    same()
    assert(IndexLedger.nextStamp(dir, "at") == 7000L)

    // a file that holds values of the column but no statistics for it
    val bare = s"${tmp("ledger_bare")}/ts"
    Seq((1L, 9L)).toDF("id", "at").coalesce(1).write
      .option("parquet.column.statistics.enabled", "false").parquet(bare)
    val err = intercept[IllegalStateException](IndexLedger.nextStamp(bare, "at"))
    val file = IndexFs.fileNames(bare).find(_.endsWith(".parquet")).get
    assert(err.getMessage.contains(file), err.getMessage)
  }

  /** The jobs each delete verb starts on an index whose ledger exists:
    * LexIndex.delete mints its stamp from the footers (no aggregation).
    */
  private val LexDeleteJobs = 5
  private val IvfDeleteJobs = 5
}
