package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** Byte-pair-encoding tokenizer TRAINING at corpus scale — the step that
  * turns a cleaned corpus into the tokenizer its training run will use
  * (Sennrich et al. 2016; the GPT-2/LLaMA vocabularies are this algorithm
  * over bytes). Classic BPE trains on the word-frequency dictionary, not
  * the corpus: count adjacent symbol pairs weighted by word frequency,
  * merge the most frequent pair everywhere, repeat.
  *
  * Scale shape (100 TB): the corpus is scanned ONCE (word-frequency
  * groupBy, materialized by an eager localCheckpoint); every merge round
  * then runs on the distinct-word table — corpus-sublinear — as one
  * partial-aggregated pair count plus a driver-side `TakeOrdered(1)`
  * (driver state: ONE pair per round). Nothing is ever collected but the
  * winning pair; the dictionary stays distributed throughout.
  *
  * Merge application is a single literal `replace` per round on a
  * symbol string where every symbol is WRAPPED in its own NUL pair —
  * `␀s1␀␀s2␀…` — and the pair `(a,b)` rewrites `␀a␀␀b␀` → `␀ab␀`.
  * The wrapping matters: symbols never contain NUL, so a match cannot
  * start mid-symbol, and because adjacent symbols share NO boundary byte,
  * the left-to-right non-overlapping scan of `replace` merges every
  * disjoint occurrence in one pass — exactly BPE's greedy step
  * (`aaaa` + merge (a,a) → `[aa, aa]`; a single shared separator would
  * consume the boundary and mis-produce `[aa, a, a]`). No UDF anywhere;
  * training is `replace`/`split`/`transform` columns, and [[encode]] is a
  * pure projection (the merge list folds into a chain of literal
  * replaces).
  *
  * Determinism: pair counts are exact integer sums and the argmax
  * tie-breaks on the pair string, so the learned merge list is a pure
  * function of the corpus — repartition-invariant (spec-asserted), and
  * the t67 gate re-verifies the first argmax and the decode round-trip
  * against the corpus itself.
  */
object Bpe {

  private val SEP = "\u0000"

  /** The learned tokenizer: merge pairs in rank order. */
  final case class BpeModel(merges: Seq[(String, String)])

  /** Lower-cased whitespace words of a text column (the corpus tokenizer
    * baseline — [[TextAnalysis.tokenCount]] parity), empties dropped.
    */
  def words(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), w => length(w) > 0)

  /** `word` → its initial symbol string `␀c1␀␀c2␀…` (one wrapped symbol
    * per char; astral code points split into surrogate halves — acceptable
    * for a tokenizer that would train on bytes in production anyway).
    */
  private def symInit(word: Column): Column =
    regexp_replace(word, "(.)", SEP + "$1" + SEP)

  /** Adjacent symbol pairs of a symbol string, each as `a␀b`. */
  private def pairsOf(s: Column): Column = {
    val syms = filter(split(s, SEP), x => x =!= "")
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => concat(element_at(syms, i), lit(SEP), element_at(syms, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** One merge step applied to a symbol string: `␀a␀␀b␀` → `␀ab␀`,
    * left-to-right non-overlapping (SQL `replace` is literal, not regex).
    */
  private def applyMerge(s: Column, a: String, b: String): Column =
    call_function("replace", s,
      lit(SEP + a + SEP + SEP + b + SEP), lit(SEP + a + b + SEP))

  /** Train `numMerges` BPE merges over a corpus text column. Stops early
    * when the best remaining pair falls below `minCount` total occurrences.
    * One corpus scan; then one distinct-word aggregation + a 1-row collect
    * per round, with a localCheckpoint every 8 rounds to cap lineage.
    */
  def train(df: DataFrame, textCol: Column, numMerges: Int,
      minCount: Long = 2L): BpeModel = {
    require(numMerges >= 1, s"need at least 1 merge, got $numMerges")
    val dict = df.select(explode(words(textCol)).as("w"))
      // a word containing the NUL separator (binary debris, not text) would
      // corrupt its symbol string and poison pair counts — keep it out of
      // the MODEL; at encode time such a word just fails its round-trip,
      // which the t67 gate counts
      .filter(!col("w").contains(SEP))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("s", symInit(col("w")))
      .localCheckpoint() // materialize the ONE corpus scan
    var wd = dict
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val top = wd
        .select(col("freq"), explode(pairsOf(col("s"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("pair")) // exact counts + total tiebreak
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < minCount) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(SEP, 2)
        merges += ((a, b))
        wd = wd.withColumn("s", applyMerge(col("s"), a, b))
        if (merges.size % 8 == 0) wd = wd.localCheckpoint()
      }
    }
    BpeModel(merges.toSeq)
  }

  /** Frequency-weighted adjacent-pair counts over the INITIAL character
    * symbols, as `DataFrame[pair, c]` — the quantity the first training
    * round maximizes, exposed so the t67 gate can re-verify the argmax
    * independently of [[train]]'s loop state.
    */
  def initialPairCounts(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(words(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(pairsOf(symInit(col("w")))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("c"))

  /** The `a␀b` composite key for a merge pair (the tiebreak/groupBy key). */
  def pairKey(a: String, b: String): String = a + SEP + b

  /** Encode a text column with a trained model: array of per-word symbol
    * arrays. A pure projection — the merge list folds into a static chain
    * of literal replaces, no state, no shuffle, no UDF.
    */
  def encode(text: Column, model: BpeModel): Column =
    transform(words(text), w => {
      val merged = model.merges.foldLeft(symInit(w)) {
        case (acc, (a, b)) => applyMerge(acc, a, b)
      }
      filter(split(merged, SEP), x => x =!= "")
    })

  /** REAL tokenizer token count of a text column under a trained model —
    * the packing/budget weight a training run actually consumes. Whitespace
    * counts ([[TextAnalysis.tokenCount]]) are wrong by the whitespace↔BPE
    * ratio, which varies by language and script; bins sized with this column
    * hold what the model will see. Same plan shape as [[encode]]: a pure
    * projection (static replace chain + splits), no shuffle, no UDF.
    */
  def tokenCount(text: Column, model: BpeModel): Column =
    size(flatten(encode(text, model))).cast("long")

  /** Serialize a merge list, one `a b` pair per line (symbols come from
    * whitespace-split words, so the space separator is unambiguous) — the
    * artifact format [[loadMerges]] reads back and the CLI ships between
    * `bpe --out` and `pipeline --bpe-merges`. I/O goes through [[IndexFs]]
    * (Hadoop FileSystem), so the tokenizer model the pipeline consumes can
    * live on the cluster store (HDFS/S3/`file:` URIs) beside the data it
    * tokenizes — a `java.nio` path here silently pinned the artifact to
    * the driver's local disk.
    */
  def saveMerges(model: BpeModel, path: String): Unit =
    IndexFs.writeUtf8(path,
      model.merges.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n"))

  def loadMerges(path: String): BpeModel =
    BpeModel(IndexFs.readUtf8(path).split("\n", -1).toSeq
      .filter(_.nonEmpty).map { line =>
        val i = line.indexOf(' ')
        require(i > 0 && i < line.length - 1, s"bad merge line: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      })
}
