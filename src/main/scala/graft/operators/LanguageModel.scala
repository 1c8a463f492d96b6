package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** Corpus-trained n-gram language-model fluency scoring — the CCNet-style
  * "perplexity filter" slot in a training-data pipeline: score every document
  * by how typical its word transitions are under a model trained on the
  * corpus itself, then drop/bucket the tail. (CCNet uses a KenLM 5-gram;
  * the operator shape — train counts, broadcast-free join back, per-doc
  * reduce — is the same at any order.)
  *
  * Scores are engineered for cross-engine exactness, like the rest of the
  * text layer (t50/t56/t64 house style): perplexity itself needs `log`,
  * whose last-ulp differs between libms, so every emitted statistic is
  * either an exact integer, a single IEEE division of exact integers, or an
  * order-invariant `min` — no floating-point accumulation anywhere:
  *
  *   - `n_bigrams`   — transitions in the doc (exact count)
  *   - `known_frac`  — share of transitions seen >= `minCount` times in the
  *                     corpus (exact counts, ONE division)
  *   - `avg_count`   — mean corpus frequency of the doc's transitions
  *                     (exact integer sum, ONE division)
  *   - `min_p`       — smoothed probability of the doc's RAREST transition
  *                     (per-row exact arithmetic; `min` is order-invariant)
  *                     = min over bigrams of (c12 + a) / (c1 + a*V),
  *                     add-a smoothing, a = 1/2 (binary-exact)
  *
  * `min_p` is the parity-safe stand-in for max surprise (the thing
  * perplexity is most sensitive to); `known_frac`/`avg_count` capture
  * overall typicality. Monotone transforms of the per-transition
  * probabilities don't change the induced ranking of any of these.
  *
  * Scale shape (100 TB): tokenization and bigram formation are one narrow
  * projection + a per-doc window (state bounded by document length — never
  * a global window). Counts shuffle WORD PAIRS, never text. The model
  * (distinct bigrams with context counts attached) joins back to the
  * per-doc distinct-bigram table on the pair key — one equi-join, AQE
  * handles the Zipf skew of frequent pairs; the final reduce is an
  * ordinary partial-aggregated groupBy on doc id.
  */
object LanguageModel {

  /** Per-document bigram table: one row per (doc, w1, w2) with its
    * within-doc multiplicity `m`. Tokens are lowercased whitespace splits
    * (the corpus tokenizer baseline, [[TextAnalysis.tokenCount]] parity).
    * Documents with fewer than two tokens have no transitions and no row.
    */
  def docBigrams(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    // widen a single-row-group scan BEFORE tokenization: the split+explode
    // otherwise runs on one task under the window shuffle (identity at scale)
    val toks = graft.core.Fanout.spread(
        df.select(idCol.as("doc_id"), textCol.as("__t")))
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("__t"))), "\\s+")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .groupBy(col("doc_id"), col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).cast("bigint").as("m"))
  }

  /** A fitted bigram LM: transition counts, context counts, and the
    * context-vocabulary size. Everything stays a DataFrame (the model is
    * corpus-sublinear but can still be large — it joins, it is never
    * collected; `vocab` is one row and broadcasts at score time), so
    * fitting is lazy and free until a scoring query executes.
    */
  final case class BigramLm(transitions: DataFrame, contexts: DataFrame,
      vocab: DataFrame, alpha: Double, minCount: Int)

  /** Fit the bigram model on a corpus. The fit corpus and the scored corpus
    * need not be the same — training on a trusted reference corpus and
    * scoring a crawl with it is the standard CCNet deployment.
    *
    * Context counts and V derive from the distinct-bigram table
    * (corpus-sublinear — the corpus is tokenized for c12 and nothing else;
    * sum over w2 of c12 = occurrences of w1 as a context).
    */
  def fit(df: DataFrame, idCol: Column, textCol: Column,
      minCount: Int = 2, alpha: Double = 0.5): BigramLm = {
    val c12 = docBigrams(df, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("m")).cast("bigint").as("c12"))
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("bigint").as("c1"))
    val v = c12.select(countDistinct(col("w1")).as("v"))
    BigramLm(c12, c1, v, alpha, minCount)
  }

  /** Score a corpus with a fitted model (see object doc for the four
    * statistics). Transitions/contexts the model never saw smooth to
    * `(0 + a) / (0 + a·V)` via the same exact arithmetic — left joins +
    * coalesce, so scoring a disjoint corpus is total, never a dropped row.
    *
    * @return DataFrame[doc_id, n_bigrams, known_frac, avg_count, min_p]
    */
  def score(df: DataFrame, idCol: Column, textCol: Column,
      model: BigramLm): DataFrame = {
    val perDoc = docBigrams(df, idCol, textCol)
    perDoc
      .join(model.transitions, Seq("w1", "w2"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("c12", coalesce(col("c12"), lit(0L)))
      .withColumn("c1", coalesce(col("c1"), lit(0L)))
      .withColumn("p",
        (col("c12").cast("double") + lit(model.alpha)) /
          (col("c1").cast("double") + lit(model.alpha) * col("v").cast("double")))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("m")).cast("bigint").as("n_bigrams"),
        (sum(when(col("c12") >= model.minCount, col("m")).otherwise(lit(0L))).cast("double") /
          sum(col("m"))).as("known_frac"),
        (sum(col("m") * col("c12")).cast("double") / sum(col("m"))).as("avg_count"),
        min(col("p")).as("min_p"))
  }

  /** Self-scored fluency: fit on the corpus, score the corpus — equivalent
    * to the t66 oracle's single-query formulation (on the fit corpus every
    * transition is found, so the left joins degenerate to inner).
    * `alpha` must be binary-exact (default 1/2) so the smoothing arithmetic
    * carries no decimal-literal rounding into the oracle.
    *
    * @return DataFrame[doc_id, n_bigrams, known_frac, avg_count, min_p]
    */
  def bigramFluency(df: DataFrame, idCol: Column, textCol: Column,
      minCount: Int = 2, alpha: Double = 0.5): DataFrame =
    score(df, idCol, textCol, fit(df, idCol, textCol, minCount, alpha))

  // ------------------------------------------------------------------
  // Trigram model with interpolated ABSOLUTE DISCOUNTING (Ney/Essen/
  // Kneser 1994) — the order CCNet's KenLM actually exploits, in the
  // same log-free parity-safe style: every model quantity is an exact
  // integer count; a probability is a FIXED expression tree of correctly-
  // rounded double ops (+, -, *, /, max) evaluated identically by any
  // IEEE engine; aggregates are exact sums and an order-invariant min.
  //
  //   p_uni(w3)      = c(w3) / T                     (trigram-final MLE)
  //   p_bi(w3 | w2)  = (max(c23 - D, 0) + D·N1+(w2·)·p_uni) / c2
  //   p_tri(w3|w1w2) = (max(c123 - D, 0) + D·N1+(w1w2·)·p_bi) / c12
  //
  // with discount D = 3/4 (binary-exact) and N1+ = the distinct-
  // continuation counts that make the discount mass sum to exactly 1.
  // Unseen contexts back off a level (c12 = 0 → p_bi; c2 = 0 → p_uni),
  // so scoring a disjoint corpus is total.
  // ------------------------------------------------------------------

  /** Per-document trigram table: one row per (doc, w1, w2, w3) with its
    * within-doc multiplicity `m`. Same tokenizer as [[docBigrams]]; two
    * leads over one doc-bounded window.
    */
  def docTrigrams(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    // widen a single-row-group scan BEFORE tokenization (see docBigrams)
    val toks = graft.core.Fanout.spread(
        df.select(idCol.as("doc_id"), textCol.as("__t")))
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("__t"))), "\\s+")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .withColumn("w3", lead(col("w"), 2).over(byPos))
      .filter(col("w2").isNotNull && col("w3").isNotNull)
      .groupBy(col("doc_id"), col("w").as("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).cast("bigint").as("m"))
  }

  /** A fitted trigram LM. All count tables derive from the ONE corpus
    * tokenization that builds the trigram table (everything else is
    * corpus-sublinear re-aggregation of it); `total` is one row.
    */
  final case class TrigramLm(tri: DataFrame, ctx12: DataFrame, bi23: DataFrame,
      ctx2: DataFrame, uni: DataFrame, total: DataFrame, d: Double, minCount: Int)

  def fitTrigram(df: DataFrame, idCol: Column, textCol: Column,
      minCount: Int = 2, d: Double = 0.75): TrigramLm = {
    val tri = docTrigrams(df, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("m")).cast("bigint").as("c123"))
    val ctx12 = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).cast("bigint").as("c12"),
        count(lit(1)).cast("bigint").as("n1p12"))
    val bi23 = tri.groupBy(col("w2"), col("w3"))
      .agg(sum(col("c123")).cast("bigint").as("c23"))
    val ctx2 = bi23.groupBy(col("w2"))
      .agg(sum(col("c23")).cast("bigint").as("c2"),
        count(lit(1)).cast("bigint").as("n1p2"))
    val uni = tri.groupBy(col("w3"))
      .agg(sum(col("c123")).cast("bigint").as("c3"))
    val total = uni.select(sum(col("c3")).cast("bigint").as("t"))
    TrigramLm(tri, ctx12, bi23, ctx2, uni, total, d, minCount)
  }

  /** Score a corpus with a fitted trigram model.
    * @return DataFrame[doc_id, n_trigrams, known3_frac, avg_c123, min_p3]
    */
  def scoreTrigram(df: DataFrame, idCol: Column, textCol: Column,
      model: TrigramLm): DataFrame = {
    val d = model.d
    val perDoc = docTrigrams(df, idCol, textCol)
    val joined = perDoc
      .join(model.tri, Seq("w1", "w2", "w3"), "left")
      .join(model.ctx12, Seq("w1", "w2"), "left")
      .join(model.bi23, Seq("w2", "w3"), "left")
      .join(model.ctx2, Seq("w2"), "left")
      .join(model.uni, Seq("w3"), "left")
      .crossJoin(broadcast(model.total))
      .withColumn("c123", coalesce(col("c123"), lit(0L)))
      .withColumn("c12", coalesce(col("c12"), lit(0L)))
      .withColumn("n1p12", coalesce(col("n1p12"), lit(0L)))
      .withColumn("c23", coalesce(col("c23"), lit(0L)))
      .withColumn("c2", coalesce(col("c2"), lit(0L)))
      .withColumn("n1p2", coalesce(col("n1p2"), lit(0L)))
      .withColumn("c3", coalesce(col("c3"), lit(0L)))
    val pUni = col("c3").cast("double") / col("t").cast("double")
    val pBi = when(col("c2") > 0,
      (greatest(col("c23").cast("double") - d, lit(0.0)) +
        lit(d) * col("n1p2").cast("double") * col("p_uni")) /
        col("c2").cast("double")).otherwise(col("p_uni"))
    val pTri = when(col("c12") > 0,
      (greatest(col("c123").cast("double") - d, lit(0.0)) +
        lit(d) * col("n1p12").cast("double") * col("p_bi")) /
        col("c12").cast("double")).otherwise(col("p_bi"))
    joined
      .withColumn("p_uni", pUni)
      .withColumn("p_bi", pBi)
      .withColumn("p_tri", pTri)
      .groupBy(col("doc_id"))
      .agg(
        sum(col("m")).cast("bigint").as("n_trigrams"),
        (sum(when(col("c123") >= model.minCount, col("m")).otherwise(lit(0L))).cast("double") /
          sum(col("m"))).as("known3_frac"),
        (sum(col("m") * col("c123")).cast("double") / sum(col("m"))).as("avg_c123"),
        min(col("p_tri")).as("min_p3"))
  }

  /** Self-scored trigram fluency (fit and score the same corpus).
    * @return DataFrame[doc_id, n_trigrams, known3_frac, avg_c123, min_p3]
    */
  def trigramFluency(df: DataFrame, idCol: Column, textCol: Column,
      minCount: Int = 2, d: Double = 0.75): DataFrame =
    scoreTrigram(df, idCol, textCol, fitTrigram(df, idCol, textCol, minCount, d))
}
