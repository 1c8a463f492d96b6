package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-query scoring recipe [[LexIndex.bm25TopKFromIndexMany]] used
  * before its one-pass scoring, kept as the parity oracle: over the same
  * checkpointed slice union, each query full-outer-joins its terms'
  * slices on id (absent tf → 0), adds its term scores left to right with
  * `reduceLeft`, and the per-query plans are unioned and ranked per query.
  * Its plan grows with the batch — one join chain per query and term.
  */
object Bm25PerQueryRecipe {
  def apply(spark: SparkSession, indexDir: String,
      queries: Seq[(String, Seq[String])], k: Int, k1: Double = 1.5,
      b: Double = 0.75, allowed: Option[DataFrame] = None): DataFrame = {
    val sl = LexIndex.slices(spark, indexDir, queries.map(_._2))
    val served = allowed match {
      case Some(a) => sl.union.join(LexIndex.allowedIds(a), Seq("id"), "left_semi")
      case None => sl.union
    }
    val perQuery = queries.map(_._1).zip(sl.terms).map { case (qid, terms) =>
      val named = terms.zipWithIndex.map { case (t, i) =>
        served.where(col("term") === lit(t))
          .select(col("id"), col("dl").as(s"__dl$i"), col("tf").as(s"tf$i"))
      }
      val joined = named.reduce((a, c) => a.join(c, Seq("id"), "full_outer"))
      val dlCol = coalesce(terms.indices.map(i => col(s"__dl$i")): _*).as("dl")
      val base = joined.select(col("id") +: dlCol +:
        terms.indices.map(i =>
          coalesce(col(s"tf$i"), lit(0L)).cast("bigint").as(s"tf$i")): _*)
      val rel = col("dl").cast("double") / lit(sl.avgdl)
      def termScore(i: Int): Column = {
        val tf = col(s"tf$i").cast("double")
        lit(sl.idf(terms(i))) *
          ((tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * rel)))
      }
      val score = terms.indices.map(termScore).reduceLeft(_ + _)
      base.select(lit(qid).as("query_id"), col("id"), col("dl"),
        score.as("score"))
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    perQuery.reduce(_ unionAll _)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
  }
}
