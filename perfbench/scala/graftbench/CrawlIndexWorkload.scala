package graftbench

import graft.operators.{IncrementalDedup, LexIndex, ProductQuantizer, Similarity}
import graft.pipeline.CrawlPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Path, Paths}

/** Recall of an approximate top-k against the exact one. */
object Recall {
  /** How many of `want` the answer `got` holds. */
  def hits(got: Seq[Long], want: Seq[Long]): Double = got.distinct.count(want.toSet).toDouble

  /** Found share of the exact answers, pooled over (got, want) pairs. */
  def atK(pairs: Seq[(Seq[Long], Seq[Long])]): Double =
    pairs.map { case (g, w) => hits(g, w) }.sum / pairs.map(_._2.size).sum
}

/** The crawl chain and the index families: a residual IVF-PQ index and
  * one append/delete batch on it, a WARC snapshot through
  * `CrawlPipeline.run` with admission indexes and a lexical index, one
  * append/delete batch on that lexical index, and two closed-loop pairs of
  * query batches (`ivfPqQuery`, `bm25TopKFromIndexMany`).
  *
  * The IVF-PQ side runs before the crawl and the lexical side after it, and
  * the first IVF-PQ query comes before the crawl too, so that the update and
  * query samples fall at times about 40 s apart. On a shared host a slow
  * stretch lasts tens of seconds; samples taken back to back all share it.
  */
final class CrawlIndexWorkload(spark: SparkSession, seed: Long, work: Path, nPages: Int,
    nHosts: Int, nVectors: Int) extends Workload {
  import spark.implicits._
  private val in = work.resolve("inputs")
  private var expectedCounts: Option[Seq[(String, Long)]] = None

  private val copiesFrom = nVectors / 2L
  private val corpusIds = (0L until nVectors).toIndexedSeq
  private val appendIds = (nVectors.toLong until nVectors + nVectors / 20L).toIndexedSeq
  private val deleteIds = corpusIds.filter(i => Gen.hash(seed + 11, i.toString) % 40 == 0)
  private val liveIds = (corpusIds ++ appendIds).filterNot(deleteIds.toSet)
  // documents appended to the crawl's lexical index; crawl ids are url hashes
  private val docAppend = (1L to 6L)
  private val batch = 4
  val recallFloor = 0.8

  private def vec(id: Long) = VecGen.vector(seed, id, copiesFrom)

  def prepare(): Unit = {
    val (files, _) = WarcGen.snapshot(seed, 0, nPages, nHosts, nFiles = 2)
    files.zipWithIndex.foreach { case (b, f) => Files2.write(in.resolve(s"warc/part-$f.warc"), b) }
    def vecs(ids: Seq[Long]) = ids.map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")
    vecs(corpusIds).coalesce(1).write.parquet(in.resolve("vectors").toString)
    vecs(appendIds).coalesce(1).write.parquet(in.resolve("vectors_append").toString)
    deleteIds.toDF("vec_id").coalesce(1).write.parquet(in.resolve("vectors_delete").toString)
    docAppend.map(i => (i, WarcGen.doc(seed, i))).toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("docs_append").toString)
  }

  private def read(name: String): DataFrame = spark.read.parquet(in.resolve(name).toString)

  /** Exact cosine top-10 over the live corpus, computed here. */
  private def bruteTop10(q: Array[Float]): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    liveIds.map(i => (i, cos(q, vec(i)))).sortBy(x => (-x._2, x._1)).take(10).map(_._1)
  }

  def iteration(iter: Int, tr: Tracer): IterResult = {
    val out = work.resolve(s"iter-$iter")
    Files2.deleteTree(out)
    val ix = out.resolve("index").toString
    val lex = out.resolve("lex").toString
    val pq = out.resolve("pq").toString
    val recallPairs = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]

    val (_, pqBuildS) = tr.phase(iter, "pq_build")(ProductQuantizer.ivfPqBuildResidual(
      read("vectors"), "vec_id", "embedding", nCells = 8, m = 2, nCodes = 16, pq))
    val (_, pqUpS) = tr.phase(iter, "pq_update") {
      ProductQuantizer.ivfPqAppend(spark, pq, read("vectors_append"), "vec_id", "embedding")
      Similarity.ivfDelete(spark, pq, read("vectors_delete"), "vec_id")
    }
    val pq1S = pqQuery(iter, tr, pq, 0, recallPairs)
    val (counts, crawlS) = tr.phase(iter, "crawl")(CrawlPipeline.run(spark,
      in.resolve("warc/*.warc").toString, out.resolve("crawl").toString,
      indexDir = Some(ix), lexDir = Some(lex)))
    checkCounts(counts)
    // the lexical index holds the crawl's curated documents
    val lexDeletes = spark.read.parquet(out.resolve("crawl/07_para_dedup").toString)
      .select($"doc_id").as[Long].collect().toSet
      .filter(i => Gen.hash(seed + 13, i.toString) % 8 == 0)
    val (_, lexUpS) = tr.phase(iter, "lex_update") {
      LexIndex.append(spark, lex, read("docs_append"), "doc_id", "text")
      LexIndex.delete(spark, lex, lexDeletes.toSeq.toDF("doc_id"), "doc_id")
    }
    val lex1S = lexQuery(iter, tr, lex, batch, lexDeletes)
    val queryS = pq1S + lex1S + pqQuery(iter, tr, pq, 2 * batch, recallPairs) +
      lexQuery(iter, tr, lex, 3 * batch, lexDeletes)
    val recall = Recall.atK(recallPairs.toSeq)
    Check(recall >= recallFloor, f"recall_at_10 $recall%.3f below floor $recallFloor")

    val buildS = crawlS + pqBuildS
    val updateS = pqUpS + lexUpS
    val (files, bytes) = Seq(ix, lex, pq).map(p => Files2.usage(Paths.get(p)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    tr.set("", counts.filter(_.seconds >= 0).map(c => s"crawl.${c.stage}_s" -> c.seconds) ++
      Seq("pq_query.recall_at_10" -> recall, "index.files" -> files.toDouble,
      "index.mb" -> bytes / 1048576.0,
      "index.generations" -> Seq(ix, lex, pq).map(IncrementalDedup.generations(_).size).sum
        .toDouble))
    // the first result: both index families have answered a batch
    IterResult(buildS, updateS, 4L * batch, queryS, buildS + updateS + pq1S + lex1S,
      attempted = 8)
  }

  /** Every stage keeps rows, and each stage's count repeats across iterations. */
  private def checkCounts(stages: Seq[CrawlPipeline.StageCount]): Unit = {
    val counts = stages.map(c => c.stage -> c.rows)
    counts.foreach { case (stage, rows) => Check(rows > 0, s"crawl stage $stage kept no rows") }
    expectedCounts match {
      case None => expectedCounts = Some(counts)
      case Some(want) => Check.same("stage row counts vs first iteration", counts, want)
    }
  }

  /** One `ivfPqQuery` batch of queries `q0 until q0 + batch`, checked; the
    * first query probes a vector the update appended. Returns its seconds.
    */
  private def pqQuery(iter: Int, tr: Tracer, pq: String, q0: Int,
      recallPairs: scala.collection.mutable.Buffer[(Seq[Long], Seq[Long])]): Double = {
    val appended = appendIds(q0 % appendIds.size)
    val qs = (0 until batch).map { j =>
      val v = if (j == 0) vec(appended) else VecGen.query(seed, q0 + j, corpusIds, copiesFrom)
      (q0 + j, v)
    }
    val qdf = qs.map { case (i, v) => (i.toLong, v.toSeq) }.toDF("qid", "qv")
    val (rows, callS) = tr.phase(iter, "pq_query")(ProductQuantizer.ivfPqQuery(spark, pq,
      qdf, "qid", "qv", k = 10, nProbe = 8, rerank = 100).collect())
    def num(r: Row, c: String) = r.getAs[Number](c).longValue
    val got = rows.groupBy(num(_, "query_id")).map { case (k, rs) =>
      k -> rs.sortBy(num(_, "rank")).map(num(_, "neighbor_id")).toSeq
    }
    val deleted = deleteIds.toSet
    qs.foreach { case (i, v) =>
      val ids = got.getOrElse(i.toLong, Nil)
      Check(!ids.exists(deleted), s"ivfPqQuery returned a deleted id for query $i")
      if (i == q0) Check(ids.headOption.contains(appended),
        s"appended vector $appended not found first")
      else recallPairs += ids -> bruteTop10(v)
    }
    callS
  }

  /** One `bm25TopKFromIndexMany` batch of queries `q0 until q0 + batch`,
    * checked; the first query is the own term of a document the update
    * appended. Returns its seconds.
    */
  private def lexQuery(iter: Int, tr: Tracer, lex: String, q0: Int,
      deletedDocs: Set[Long]): Double = {
    val want = docAppend(q0 % docAppend.size)
    val qs = (0 until batch).map { j =>
      val terms = if (j == 0) Seq(WarcGen.token(want)) else WarcGen.queryTerms(seed, q0 + j)
      (s"q${q0 + j}", terms)
    }
    val (rows, callS) = tr.phase(iter, "lex_query")(
      LexIndex.bm25TopKFromIndexMany(spark, lex, qs, k = 10).collect())
    val ids = rows.map(r => r.getAs[Number]("id").longValue)
    Check(!ids.exists(deletedDocs), "bm25TopKFromIndexMany returned a deleted document")
    def answers(qid: String) = rows.filter(_.getAs[String]("query_id") == qid)
      .map(_.getAs[Number]("id").longValue)
    Check(answers(qs.head._1).contains(want), s"appended document $want not found")
    qs.tail.foreach { case (qid, terms) =>
      Check(answers(qid).nonEmpty, s"lexical query ${terms.mkString(" ")} matched nothing")
    }
    callS
  }
}
