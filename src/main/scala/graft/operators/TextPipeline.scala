package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-preparation operators for LLM training pipelines: context-window
  * chunking and PII redaction.
  *
  * Both are narrow per-row transformations built entirely from codegen'd
  * built-ins (split/slice/sequence/explode, regexp_replace), so they scale
  * embarrassingly: no shuffle, no state, predicates and projections still
  * push past them to the scan.
  */
object TextPipeline {

  /** Splits each document into overlapping token-window chunks — the
    * standard prep for embedding/training models with a bounded context:
    * chunk `i` covers tokens `[i·stride, i·stride + window)` of the
    * whitespace tokenization, and every document yields at least one chunk
    * (short docs yield exactly one). The final chunk may be shorter than
    * `window`; with `stride < window` consecutive chunks overlap by
    * `window - stride` tokens so no span falls across a chunk boundary
    * unseen.
    *
    * Output: `id` (= `idCol`), `chunk_id` (0-based), `chunk_text`,
    * `n_tokens`.
    */
  def chunk(df: DataFrame, idCol: Column, textCol: Column, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window)
    val tokens = split(trim(textCol), "\\s+")
    // nChunks = 1 + ceil((n - window) / stride) for n > window, else 1;
    // integer `div` keeps the arithmetic exact (no FP floor hazards).
    val nChunks = when(size(col("__toks")) <= window, lit(1L))
      .otherwise(expr(s"((size(__toks) - $window + ${stride - 1}) div $stride) + 1"))
    df.select(idCol.as("__id"), tokens.as("__toks"))
      .select(col("__id"), col("__toks"), nChunks.as("__nc"))
      .select(col("__id"), col("__toks"),
        explode(sequence(lit(0L), col("__nc") - 1L)).as("chunk_id"))
      .select(
        col("__id").as("id"),
        col("chunk_id"),
        array_join(slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"), lit(window)))
          .cast("bigint").as("n_tokens"))
  }

  /** Sequence packing — the GPT-style "concatenate everything in a fixed
    * shuffle order and cut every `capacity` tokens" batch-prep step. Each
    * document gets its position in the packed token stream: a global
    * sequence number, its start offset, and the first/last training bin it
    * lands in (a doc may straddle a bin boundary — that is the point of this
    * packing style: zero padding waste).
    *
    * The order is the deterministic md5 shuffle (`md5(id), id`), so the
    * result is a pure function of the data — same packing on any cluster.
    *
    * Scale: a naive `sum(...).over(Window.orderBy(...))` global running sum
    * funnels the whole table through ONE window partition. This is the
    * textbook two-phase distributed scan instead: range-partition by the
    * order key (contiguous, sorted ranges), cumsum WITHIN each partition
    * (that window is per-partition, parallel), then broadcast-join each
    * partition's prefix offset — computed from one `numPartitions`-row
    * aggregate — on `spark_partition_id()`. The one materialization
    * (`localCheckpoint`) pins partition identity so both subplans read the
    * SAME shuffle output; everything after it is embarrassingly parallel.
    *
    * Output: `id`, `seq` (1-based global rank), `n_tokens`, `start_token`,
    * `bin_first`, `bin_last`, `offset_in_bin`.
    */
  def packSequences(df: DataFrame, idCol: Column, nTokensCol: Column, capacity: Long): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val keyed = df.select(
      idCol.as("id"),
      nTokensCol.cast("bigint").as("n_tokens"),
      md5(idCol.cast("string")).as("__h"),
      idCol.cast("string").as("__t"))
    // Contiguous sorted ranges; eager localCheckpoint fixes the partition
    // boundaries AND spark_partition_id() so the totals branch and the
    // cumsum branch below cannot see two different shuffles.
    val parted = keyed.repartitionByRange(col("__h"), col("__t")).localCheckpoint()
    val withPid = parted.withColumn("__pid", spark_partition_id())
    val inPart = Window.partitionBy(col("__pid")).orderBy(col("__h"), col("__t"))
    val cum = withPid
      .withColumn("__cin", sum(col("n_tokens")).over(inPart))
      .withColumn("__rin", row_number().over(inPart).cast("bigint"))
    // Prefix offsets over partition ids: numPartitions rows — the single-
    // partition window here is over driver-sized data by construction.
    val prefix = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withPid.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptot"), count(lit(1)).as("__pcnt"))
      .select(col("__pid"),
        coalesce(sum(col("__ptot")).over(prefix), lit(0L)).as("__toff"),
        coalesce(sum(col("__pcnt")).over(prefix), lit(0L)).as("__roff"))
    val start = col("__toff") + col("__cin") - col("n_tokens")
    cum.join(broadcast(offsets), "__pid")
      .select(
        col("id"),
        (col("__roff") + col("__rin")).as("seq"),
        col("n_tokens"),
        start.as("start_token"),
        expr(s"(__toff + __cin - n_tokens) div $capacity").as("bin_first"),
        expr(s"(__toff + __cin - n_tokens + greatest(n_tokens, 1L) - 1L) div $capacity")
          .as("bin_last"),
        pmod(start, lit(capacity)).as("offset_in_bin"))
  }

  /** PII patterns chosen to mean the same thing in Java regex and RE2
    * (no backtracking-dependent constructs), so the DuckDB oracle can apply
    * the byte-identical patterns.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** Replaces URLs, then emails, then IPv4 literals with typed placeholder
    * tokens. URL first: a URL may embed an email-shaped or IP-shaped
    * substring, and redacting the containing span first makes the pass
    * order-insensitive for the remaining patterns.
    */
  def redactPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    regexp_replace(noEmail, Ipv4Re, "<IP>")
  }

  /** Count of non-overlapping matches of `pattern` — redaction audit data. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("bigint")

  /** Gopher-style repetition score: the fraction of a document's word
    * n-grams that are DISTINCT (low ratio = heavy internal repetition, the
    * classic low-quality signal boilerplate/keyword-stuffed pages show).
    * Distinct counting rides the native one-pass `shingle_hashes`
    * expression; the total is pure token arithmetic — no per-row HOF in
    * the plan, so this is scan-speed at any corpus size.
    *
    * Output: `id`, `n_shingles` (total including repeats), `distinct_ratio`
    * (null for docs shorter than n tokens).
    */
  def repetitionScore(df: DataFrame, idCol: Column, textCol: Column, n: Int = 3): DataFrame = {
    val total = greatest(size(split(trim(textCol), "\\s+")) - (n - 1), lit(0)).cast("bigint")
    val distinctN = size(graft.expressions.GraftFunctions.shingleHashes(textCol, n)).cast("bigint")
    df.select(
      idCol.as("id"),
      total.as("n_shingles"),
      when(total === 0, lit(null).cast("double"))
        .otherwise(distinctN.cast("double") / total.cast("double")).as("distinct_ratio"))
  }

  /** Benchmark-contamination check: for every corpus document, the fraction
    * of its distinct word n-grams that appear ANYWHERE in the benchmark
    * corpus — the train/test overlap scan every serious dataset release
    * runs. Shingles are hashed to longs natively before the explode, so
    * only 8-byte keys cross the shuffle, and the benchmark side reduces to
    * a distinct hash set (broadcastable whenever the benchmark is
    * dimension-sized, which it is by definition).
    *
    * Output: `id`, `n_shingles` (distinct), `overlap_ratio` (null for docs
    * shorter than n tokens).
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: Column, textCol: Column, n: Int = 3): DataFrame = {
    // A doc shorter than n tokens has ZERO n-gram shingles. shingle_hashes
    // intentionally emits one partial (tail) shingle for such docs — the
    // right behavior for MinHash signatures, where a degenerate all-MaxValue
    // signature would band-collide every short doc with every other — but
    // contamination's contract (and its range-based oracle) counts full
    // n-grams only, so short docs are gated to an empty set here: they score
    // n_shingles = 0 / null ratio, and a short BENCHMARK doc contributes
    // nothing to the benchmark shingle set.
    val nToks = size(split(trim(textCol), "\\s+"))
    val sh = when(nToks < n, array().cast("array<bigint>"))
      .otherwise(graft.expressions.GraftFunctions.shingleHashes(textCol, n))
    val corpusSh = corpus.select(idCol.as("id"), sh.as("__sh"))
    val benchSet = benchmark.select(explode(sh).as("__s")).distinct()
    val exploded = corpusSh.select(col("id"), explode(col("__sh")).as("__s"))
    val overlap = exploded.join(benchSet, Seq("__s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("__hits"))
    corpusSh.select(col("id"), size(col("__sh")).cast("bigint").as("n_shingles"))
      .join(overlap, Seq("id"), "left_outer")
      .select(
        col("id"),
        col("n_shingles"),
        when(col("n_shingles") === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("__hits"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("overlap_ratio"))
  }

  /** CCNet-style line-level boilerplate removal: a line that occurs (as an
    * exact string) in at least `minDf` DISTINCT documents is boilerplate —
    * navigation bars, cookie banners, license footers — and is dropped from
    * every document; each document's remaining lines are reassembled in
    * their original order. This is the cross-document complement of
    * [[repetitionScore]] (which measures within-document repetition).
    *
    * Scale shape: lines are hashed to 8-byte longs natively before anything
    * shuffles, so the document-frequency aggregation and the boilerplate
    * anti join move hashes, not text. Two shuffles total (the df groupBy and
    * the per-document reassembly), both on keys with partial aggregation;
    * the per-doc reassembly state is bounded by document size. Line identity
    * is the exact split token — no trimming — so the operator composes
    * losslessly: `concat_ws(delim, kept-lines)` round-trips.
    *
    * Output: `id`, `clean_text` (empty string when every line was
    * boilerplate), `n_lines`, `n_removed`.
    */
  def dedupLines(df: DataFrame, idCol: Column, textCol: Column,
      delim: String = "\n", minDf: Long = 2): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would remove every line, got $minDf")
    val lines = df
      .select(idCol.as("id"), split(textCol, java.util.regex.Pattern.quote(delim)).as("__ls"))
      .select(col("id"), posexplode(col("__ls")).as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
    // df per line hash: distinct (hash, doc) pairs first so a line repeated
    // WITHIN one doc counts once — partial aggregation applies to both steps.
    val boiler = lines.select(col("__h"), col("id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__h"))
    val kept = lines.join(boiler, Seq("__h"), "left_anti")
    // sort_array + GetArrayStructFields, NOT transform(array_sort(...), λ):
    // the lambda-free formulation is fully codegen'd — the interpreted-HOF
    // version cost 3.6 s cold-JVM / 0.5 s steady at sf0.1 vs 0.5/0.4 here
    // (a micro-bench of the three reassembly formulations), and its
    // interpreter profiles were the documented deopt-storm source on
    // warmed JVMs (Bench.scala header)
    val reassembled = kept.groupBy(col("id"))
      .agg(
        concat_ws(delim,
          sort_array(collect_list(struct(col("__pos"), col("__line"))))
            .getField("__line")).as("clean_text"),
        count(lit(1)).as("__n_kept"))
    df.select(idCol.as("id"),
        size(split(textCol, java.util.regex.Pattern.quote(delim))).cast("bigint").as("n_lines"))
      .join(reassembled, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact-substring duplication scan (the token-window formulation of
    * "deduplicating training data" span dedup): every `k`-token window whose
    * exact text occurs in at least `minDocs` DISTINCT documents is a
    * duplicated window; per document, overlapping/adjacent duplicated
    * windows merge into maximal duplicated spans. The per-doc summary
    * (duplicated-token fraction) is the standard removal signal: drop or
    * trim docs whose content is mostly copied from elsewhere in the corpus.
    *
    * Scale shape: windows are hashed to longs before the shuffle (the gram
    * text never leaves the scan stage); the document-frequency aggregation
    * and the duplicated-window semi join move `(hash)` / `(id, pos, hash)`
    * rows only. The span merge is a per-document window over the FLAGGED
    * positions — state bounded by document length, partitioned by doc id,
    * so no global sort and no skew beyond the longest single document.
    *
    * Output: `id`, `n_tokens`, `n_windows`, `n_dup_windows`, `n_dup_spans`,
    * `dup_tokens` (tokens covered by merged spans), `dup_frac`
    * (null when the doc has no windows, i.e. fewer than `k` tokens).
    */
  def duplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 20, minDocs: Long = 2): DataFrame = {
    val (base, spans) = dupSpanTables(df, idCol, textCol, k, minDocs)
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__e") - col("__s") + 1L).as("dup_tokens"),
        sum(col("__nw")).as("n_dup_windows"))
    base.select(col("id"), col("n_tokens"), col("n_windows"))
      .join(perDoc, Seq("id"), "left_outer")
      .select(col("id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_windows") === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** Shared core of [[duplicateSpans]] / [[removeDuplicateSpans]]: tokenize,
    * hash every `k`-token window, keep windows whose gram occurs in >=
    * `minDocs` distinct documents, and merge flagged windows into maximal
    * disjoint spans per document (gaps-and-islands over flagged positions).
    *
    * Returns `(base, spans)`: `base` = (id, __toks, n_tokens, n_windows),
    * `spans` = (id, __isl, __s, __e, __nw) with token ranges [__s, __e]
    * inclusive. Only window hashes cross the document-frequency shuffle;
    * the island window is partitioned by doc id, so per-partition state is
    * bounded by the longest single document.
    */
  private def dupSpanTables(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Long): (DataFrame, DataFrame) = {
    require(k >= 1 && minDocs >= 2)
    // NOT spread (round-20 driver record: widening regressed t54 2 s -> 3 s
    // and t85 3 s -> 4 s at 32 cores): tokenize + xxhash64 window hashing is
    // cheap codegen'd work, and `base` is consumed by several downstream
    // branches — each replay re-reads the round-robin exchange, so the
    // widened plan shuffles the token arrays where the unwidened one
    // re-scans a KB-scale parquet file
    val base = df.select(idCol.as("id"), textCol.as("__t"))
      .select(col("id"), split(trim(col("__t")), "\\s+").as("__toks"))
      .select(col("id"), col("__toks"),
        size(col("__toks")).cast("bigint").as("n_tokens"),
        greatest(size(col("__toks")) - (k - 1), lit(0)).cast("bigint").as("n_windows"))
    // sequence(0, -1) would step BACKWARD in Spark; guard the short-doc case
    // with an explicit empty array so docs under k tokens emit no windows.
    val wins = base
      .select(col("id"), col("__toks"),
        explode(when(col("n_windows") > 0, sequence(lit(0L), col("n_windows") - 1L))
          .otherwise(array().cast("array<bigint>"))).as("__pos"))
      .select(col("id"), col("__pos"),
        xxhash64(array_join(
          slice(col("__toks"), (col("__pos") + 1L).cast("int"), lit(k)), " ")).as("__h"))
    val dupHashes = wins.select(col("__h"), col("id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("__h"))
    val flagged = wins.join(dupHashes, Seq("__h"), "left_semi")
    val w = Window.partitionBy(col("id")).orderBy(col("__pos"))
    val prevEnd = max(col("__pos") + (k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = flagged
      .withColumn("__new", when(prevEnd.isNull || col("__pos") > prevEnd + 1L, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col("id"), col("__isl"))
      .agg(min(col("__pos")).as("__s"),
        (max(col("__pos")) + (k - 1)).as("__e"),
        count(lit(1)).as("__nw"))
    (base, spans)
  }

  /** Exact-substring span REMOVAL (the enforcement half of
    * [[duplicateSpans]], i.e. the ExactSubstr recipe of "Deduplicating
    * Training Data Makes Language Models Better"): every token covered by a
    * duplicated span — a maximal merge of `k`-token windows whose text
    * occurs in >= `minDocs` distinct documents — is cut from EVERY
    * occurrence, and each document is reassembled from its surviving tokens
    * in original order. Where [[duplicateSpans]] emits a report, this emits
    * a corpus.
    *
    * Scale shape: detection is [[dupSpanTables]] (hashes-only shuffle);
    * removal explodes each span once into its covered positions (output
    * volume = duplicated tokens, not windows x k, because merged spans are
    * disjoint), anti-joins the per-doc token table on (id, position), and
    * reassembles with one groupBy(id) — the same reassembly shuffle shape
    * as [[ParagraphDedup]]. Nothing global: every join and window is keyed
    * by doc id or a hash.
    *
    * Output: `id`, `clean_text` (surviving tokens joined by a single
    * space; empty when the whole document was duplicated), `n_tokens`,
    * `removed_tokens`.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 20, minDocs: Long = 2): DataFrame = {
    val (base, spans) = dupSpanTables(df, idCol, textCol, k, minDocs)
    // merged spans are disjoint per doc, so each covered position appears
    // exactly once — no distinct needed before the anti join
    val covered = spans.select(col("id"),
      explode(sequence(col("__s"), col("__e"))).as("__tp"))
    val toks = base.select(col("id"),
        posexplode(col("__toks")).as(Seq("__tp", "__tok")))
      .select(col("id"), col("__tp").cast("bigint").as("__tp"), col("__tok"))
    val kept = toks.join(covered, Seq("id", "__tp"), "left_anti")
    // lambda-free reassembly (see dedupLines: same measured deopt rationale)
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(
          sort_array(collect_list(struct(col("__tp"), col("__tok"))))
            .getField("__tok"), " ").as("clean_text"),
        count(lit(1)).as("kept_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(rebuilt, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"))
  }

  /** Stateless formulation of [[contamination]] — identical output, no
    * aggregation on the corpus side, so it runs unchanged on a STREAMING
    * corpus in append mode (the batch version's per-doc groupBy would need
    * watermarked state). The benchmark's distinct shingle hashes collapse to
    * a single array row (dimension-sized by definition) cross-joined in as a
    * broadcast; per-doc overlap is then one `array_intersect` — a narrow
    * projection, which is exactly what makes it stream-safe. Prefer the
    * join-based [[contamination]] for batch at scale (the semi join prunes
    * shuffle volume); use this one under `readStream`.
    */
  /** Within-document main-content extraction by line density — the
    * readability/trafilatura-class heuristic over crawl body text, reduced
    * to deterministic arithmetic (see
    * [[graft.expressions.ContentExtractImpl]]): a line survives iff it has
    * at least `minLineChars` characters AND at least `minAlnumPct` percent
    * of them are ASCII alphanumerics. Complements [[dedupLines]], which
    * removes lines frequent ACROSS documents: chrome that appears once per
    * site still dies here on shape alone, without any corpus statistics.
    *
    * Scale shape: ONE narrow codegen'd projection — no explode, no
    * reassembly shuffle, no cross-doc state. At 100 TB this is a pure
    * map stage that pipelines into whatever runs next.
    *
    * Output: `id`, `content` ('' when no line survives), `n_kept`,
    * `n_total`.
    */
  def extractContent(df: DataFrame, idCol: Column, textCol: Column,
      minLineChars: Int = 30, minAlnumPct: Int = 50,
      keepBlank: Boolean = false): DataFrame =
    df.select(idCol.as("id"),
        graft.expressions.GraftFunctions
          .extractContent(textCol, minLineChars, minAlnumPct, keepBlank).as("__x"))
      .select(col("id"), col("__x.content").as("content"),
        col("__x.n_kept").as("n_kept"), col("__x.n_total").as("n_total"))

  def contaminationStateless(corpus: DataFrame, benchmark: DataFrame,
      idCol: Column, textCol: Column, n: Int = 3): DataFrame = {
    val nToks = size(split(trim(textCol), "\\s+"))
    val sh = when(nToks < n, array().cast("array<bigint>"))
      .otherwise(graft.expressions.GraftFunctions.shingleHashes(textCol, n))
    val benchSet = benchmark.select(explode(sh).as("__s")).distinct()
      .agg(collect_list(col("__s")).as("__bench"))
    corpus.select(idCol.as("id"), sh.as("__sh"))
      .crossJoin(broadcast(benchSet))
      .select(
        col("id"),
        size(col("__sh")).cast("bigint").as("n_shingles"),
        when(size(col("__sh")) === 0, lit(null).cast("double"))
          .otherwise(size(array_intersect(col("__sh"), col("__bench"))).cast("double") /
            size(col("__sh")).cast("double")).as("overlap_ratio"))
  }
}
