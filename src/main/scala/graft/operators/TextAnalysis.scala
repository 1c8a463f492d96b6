package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting, n-gram
  * profiles. All pure Column expressions (codegen'd, no UDFs, no shuffles
  * beyond the final aggregations), so they scale linearly with the corpus.
  */
object TextAnalysis {

  /** Whitespace token count (the `split`-based baseline tokenizer). */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish subword proxy: alternating letter/digit/punctuation runs —
    * `\p{L}+|\p{N}+|[^\p{L}\p{N}\s]` matches roughly what byte-level BPE
    * merges cross.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(
      split(regexp_replace(text, "(\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s])", "$1\u0000"), "\u0000"),
      t => trim(t) =!= "")).cast("long")

  /** Ratio of sentence/clause punctuation to total characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") / length(text)

  def upperRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Z]", "")).cast("double") / length(text)

  /** Non-overlapping occurrences of `needle` (replace-length trick — exactly
    * reproducible in ANSI SQL for the oracle).
    */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(call_function("replace", text, lit(needle), lit(""))))
      / needle.length).cast("long")

  /** Composite quality score in [0,1]: stopword signal + low punctuation +
    * length-in-range, mirroring the heuristics of public corpus filters.
    */
  def qualityScore(text: Column, stopHits: Column): Column =
    when(stopHits > 0, 0.4).otherwise(0.0) +
      lit(0.3) * (lit(1.0) - punctRatio(text)) +
      when(length(text).between(100, 20000), 0.3).otherwise(0.0)

  /** N-gram-free heuristic language ID over function-word markers. The
    * marker lists are tiny on purpose: deterministic and SQL-mirrorable.
    */
  def langId(text: Column): Column = {
    def has(w: String): Column = instr(text, s" $w ") > 0
    when(has("och") || has("att"), "sv")
      .when(has("the") || has("and"), "en")
      .when(has("und") || has("der"), "de")
      .when(has("le") || has("et"), "fr")
      .when(has("el") || has("la"), "es")
      .otherwise("und")
  }

  /** Content fingerprint: md5 over lowercased alphanumeric-only text —
    * whitespace/punctuation-insensitive exact-dup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Unicode-safe text normalization — the pass that makes dedup and
    * fingerprint keys see `é` and `e`+COMBINING ACUTE as the same bytes:
    * NFC canonical composition (native codegen'd [[graft.expressions
    * .NfcNormalize]] expression, quick-check fast path), control-character
    * strip (C0 minus tab/newline/CR, DEL, and all format chars like
    * ZERO WIDTH SPACE), whitespace collapse, trim. Every step is also
    * expressible in DuckDB (`nfc_normalize` + the same RE2-safe patterns),
    * so the whole pipeline is oracle-checkable byte-for-byte.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      graft.expressions.GraftFunctions.nfc(text),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]|\\p{Cf}", ""),
      "\\s+", " "))

  /** Character n-grams as an array column (requires length(text) >= n).
    * Native one-pass expression; the built-in-functions equivalent it
    * replaced is the parity spec's twin (ArrayTransform is interpreted —
    * CodegenFallback — and was the cost center of the n-gram profile query).
    */
  def charNgrams(text: Column, n: Int): Column =
    graft.expressions.GraftFunctions.charNgrams(text, n)

  /** TF-IDF top term per document, with a rational idf (N/df instead of
    * log(N/df)) so the score is a chain of exact IEEE divisions — Java's
    * Math.log and C libm disagree in the last bit (e.g. ln(3.0)), which
    * would make a log-based score oracle-unstable. Ranking is unchanged for
    * any monotone idf transform.
    *
    * @return DataFrame[doc_id, top_term, score]
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // NOT spread (round-20 driver record: widening regressed t20 1 s -> 2 s
    // at 32 cores): split+explode is cheap codegen'd string work, and the
    // round-robin shuffle of the text payload plus 32-task scheduling never
    // amortizes before the three aggregations shuffle anyway
    val tok = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"), explode(split(trim(col("__t")), "\\s+")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
    val tot = tok.groupBy($"doc_id").agg(count(lit(1)).as("total"))
    val dfreq = tok.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("nd"))
    val scored = tf
      .join(tot, "doc_id")
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        ($"cnt".cast("double") / $"total") * ($"nd".cast("double") / $"df"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"term".as("top_term"), $"score")
  }

  /** Word shingles (arrays of `n` consecutive tokens joined by a space). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
  }

  /** Count of characters of `text` matching a regex character class —
    * `length(text) - length(regexp_replace(text, cls, ""))`, two codegen'd
    * string ops, no explode. Both engines count Unicode code points.
    */
  def charClassCount(text: Column, cls: String): Column =
    (length(text) - length(regexp_replace(text, cls, ""))).cast("bigint")

  /** Per-script character counts + dominant script — the multilingual-
    * curation complement of [[langId]] (script is decided by exact
    * character ranges, not stopword heuristics, so it is robust on short
    * or mixed documents; CJK is the unified-ideograph BMP block, which
    * both Java and RE2 regexes address identically).
    * Returns columns (n_latin, n_cyrillic, n_cjk, n_digit, dominant);
    * dominance tie-breaks latin > cyrillic > cjk so the label is total.
    */
  def scriptCounts(text: Column): Seq[(String, Column)] = {
    val latin = charClassCount(text, "[A-Za-z]")
    val cyr = charClassCount(text, "[\\u0400-\\u04FF]")
    val cjk = charClassCount(text, "[\\u4E00-\\u9FFF]")
    val digit = charClassCount(text, "[0-9]")
    val dominant = when(latin >= cyr && latin >= cjk, lit("latin"))
      .when(cyr >= cjk, lit("cyrillic"))
      .otherwise(lit("cjk"))
    Seq("n_latin" -> latin, "n_cyrillic" -> cyr, "n_cjk" -> cjk,
      "n_digit" -> digit, "dominant" -> dominant)
  }
}
