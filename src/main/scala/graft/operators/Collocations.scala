package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** Bigram collocation mining — the phrase-discovery signal (e.g. "new
  * york", "machine learning") used to build tokenizer merge seeds, query
  * expansions, and stop-phrase lists over a training corpus.
  *
  * Association is scored by LIFT = N * c(ab) / (c(a) * c(b)) rather than
  * PMI: PMI is log(lift) and `log` is libm-unstable across engines (the
  * house rule — see the LM operators), while lift is two exact integer
  * products (decimal(38,0), overflow-free) cast to double and divided
  * ONCE — bit-identical cross-engine and monotone in PMI, so top-k by
  * lift IS top-k by PMI.
  *
  * Scale shape: bigrams come from zipping each token array with its own
  * tail (slice + arrays_zip + explode — native, codegen'd, no
  * lambda-HOFs), counts are partially-aggregated groupBys on (w1, w2) /
  * (w), the three count tables join on token keys, and the final top-k is
  * TakeOrdered (per-partition heaps + driver merge), never a global sort.
  */
object Collocations {

  /** Top `k` bigrams by lift among those occurring at least `minCount`
    * times. Tokens are lowercased whitespace splits (the t03 baseline
    * tokenizer). Returns (w1, w2, n_ab, n_a, n_b, lift), ordered lift
    * DESC with a (w1, w2) tiebreak so the cut is total and rerun-stable.
    */
  def topBigrams(df: DataFrame, textCol: Column, minCount: Long = 5,
      k: Int = 20): DataFrame = {
    val toks = split(lower(trim(textCol)), "\\s+")
    val pairs = df
      .select(arrays_zip(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))).as("w1"),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))).as("w2")).as("__ps"))
      .select(explode(col("__ps")).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val bigrams = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
    val unigrams = df
      .select(explode(split(lower(trim(textCol)), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = df.select(size(split(lower(trim(textCol)), "\\s+")).as("n"))
      .agg(sum(col("n")).as("total"))
    bigrams
      .where(col("n_ab") >= minCount)
      .join(unigrams.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a"), "w1")
      .join(unigrams.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b"), "w2")
      .crossJoin(broadcast(total))
      // exact integer products (decimal(38,0) cannot overflow for corpus
      // counts), one IEEE division — deterministic and engine-identical
      .withColumn("lift",
        (col("total").cast("decimal(19,0)") * col("n_ab").cast("decimal(19,0)"))
          .cast("double") /
          (col("n_a").cast("decimal(19,0)") * col("n_b").cast("decimal(19,0)"))
            .cast("double"))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
