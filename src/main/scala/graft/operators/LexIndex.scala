package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower
import org.apache.spark.sql.types._

/** Persisted LEXICAL (BM25) index tier — the posting-slice analog of the
  * IVF layouts, so full-text retrieval stops re-scanning the corpus per
  * query ([[TextSearch.bm25TopK]] recomputes every document's term
  * frequencies and the corpus statistics on EVERY call — the exact
  * asymmetry hybrid retrieval exposed: its dense pool read probed cells of
  * a persisted index while its lexical pool re-aggregated the corpus).
  *
  * Layout under `indexDir` (all tables parquet, every filesystem touch
  * through [[IndexFs]] so the index can live on the cluster store):
  *
  *  - `postings/` — one row per (document, term): `(term, id, tf, dl)`,
  *    PARTITIONED BY `bucket = pmod(hash(term), nBuckets)` so a query's
  *    term-literal predicates prune to the terms' bucket partitions at the
  *    SCAN — on a 100 TB corpus a query reads posting slices (df rows per
  *    query term), never the corpus. `dl` is denormalized onto the posting
  *    row so scoring needs no doc-length join.
  *  - `doclens/` — `(id, dl)`, one row per document: the N/Σdl authority
  *    that covers documents containing no query term (needed for exact
  *    tombstone corrections and the zero-score fill).
  *  - `stats/` — APPEND-ONLY `(n, sumdl)` rows, one per build/append batch;
  *    readers SUM them (both are additive — the same fold-on-read
  *    discipline as the delta indexes, so appends never read-modify-write
  *    shared state). `sumdl` is the decimal(30,0) sum of decimal(20,0)
  *    lengths: exact, order-insensitive.
  *  - `meta/` — one row `(nbuckets)`: the partitioning constant queries
  *    must reproduce to prune.
  *  - `tombstones/` — the VERSIONED takedown/replace ledger (round 19):
  *    one entry per event, `(id, below, at)` — rows of the id with
  *    `batch < below` are hidden, `below = Long.MaxValue` is a full
  *    deletion, and the LATEST entry per id wins (so [[upsert]]
  *    resurrects and [[delete]] outranks stored versions). An
  *    [[IndexLedger]] folded to latest-per-id, physically resolved by
  *    [[compact]]; legacy id-only rows read as full deletions.
  *
  * Numeric contract: index-served scores are BIT-IDENTICAL to
  * [[TextSearch.bm25TopK]] over the live corpus (spec-pinned, and the
  * registry carries a full DuckDB value oracle). The per-term df, N and
  * Σdl that feed the rational-idf formula are collected driver-side as
  * exact longs/decimals (they are a handful of scalars), then folded into
  * the same IEEE double expression tree `bm25TopK` evaluates — identical
  * operands, identical operations, identical doubles. Tombstones keep this
  * EXACT, not approximate: a takedown's contribution to N/Σdl is
  * subtracted via one narrow `doclens` pass, and each term's df is counted
  * from its LIVE posting slice (the slice the query reads anyway), so a
  * tombstoned corpus scores exactly as if the documents never existed.
  *
  * Lifecycle discipline (identical to the ANN tiers): every writer holds
  * the [[IndexLease]]; every entry point heals crashed swaps via
  * `recoverDir` first; deletes are tombstone appends with a loud re-add
  * guard; [[compact]] physically resolves tombstones behind a staged
  * whole-dir swap; [[maintain]] fires the compact on tombstone pressure
  * from parquet-footer counts alone.
  */
object LexIndex {

  /** The shared tokenization — TOKEN-FOR-TOKEN the [[TextSearch.bm25TopK]]
    * expression, so index-served tf/dl can never diverge from the scan
    * path (including its quirks: no lowercasing under the `raw` analyzer,
    * and an all-whitespace document tokenizes to one empty token, so its
    * dl is 1).
    */
  private def toks(textCol: Column, analyzer: String): Column =
    split(trim(analyze(textCol, analyzer)), "\\s+")

  /** The declared ANALYZER, applied identically at build, append, query
    * and phrase time (persisted in `meta`, so a query can never tokenize
    * differently from the layout it reads):
    *  - `raw` (default): no transformation — "Spark" and "spark" are
    *    distinct terms (bit-matching the t50/t137 scan formula).
    *  - `folded`: NFC normalization then lowercase — the first thing
    *    every real retrieval corpus needs ("Spark" ≡ "spark", composed ≡
    *    decomposed accents). Both steps are engine expressions
    *    (graft_nfc + lower), and query TERMS are folded through the SAME
    *    expressions in one local projection, so index and query can
    *    never disagree on an edge case of the fold itself.
    */
  private[operators] def analyze(c: Column, analyzer: String): Column =
    analyzer match {
      case "raw" => c
      case "folded" => lower(graft.expressions.GraftFunctions.nfc(c))
      case other => throw new IllegalArgumentException(
        s"unknown analyzer '$other' (raw | folded)")
    }

  /** Fold query terms through the index's analyzer — the same engine
    * expressions the build applied, evaluated in one local projection.
    */
  private[operators] def analyzeTerms(spark: SparkSession, terms: Seq[String],
      analyzer: String): Seq[String] =
    if (analyzer == "raw") terms
    else {
      val row = spark.range(1)
        .select(terms.map(t => analyze(lit(t), analyzer)): _*).head()
      terms.indices.map(row.getString)
    }

  private[operators] def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(hash(term), lit(nBuckets))

  /** [[bucketOf]] for a query term, evaluated on the driver: the same
    * Catalyst expressions (`pmod` of the seed-42 Murmur3 `hash`) over a
    * literal, so no Spark job computes a query's buckets.
    */
  private[operators] def bucketOfTerm(term: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal(term))), Literal(nBuckets)).eval()
      .asInstanceOf[Int]
  }

  /** Batch → its `(bucket, term, id, tf, dl, positions)` posting rows +
    * `(id, dl)` doc lengths. One posexplode, one map-side-combining
    * aggregation on (id, term); text never shuffles, only (id, term,
    * counts, positions). Positions are the token's 0-based offsets in
    * the document's token array — the POSITIONAL postings phrase and
    * proximity queries need ([[phraseCountFromIndex]]), stored sorted so
    * files are deterministic.
    */
  private def derive(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, analyzer: String,
      withPositions: Boolean): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("id"),
        toks(col(textCol), analyzer).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("bigint"))
    val doclens = base.select(col("id"), col("dl"))
    val aggs =
      if (withPositions) Seq(count(lit(1)).cast("bigint").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      else Seq(count(lit(1)).cast("bigint").as("tf"))
    val postings = base
      .select(col("id"), col("dl"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .where(col("term") =!= "")
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
    (postings, doclens)
  }

  /** One batch's tables land under their own `batch=<id>` partition dir
    * (build = -1, appends ascending or caller-pinned), OVERWRITING that
    * batch's previous contents — so a replayed micro-batch rewrites the
    * same files instead of double-counting postings/doclens/stats (the
    * admission-index delta discipline). Readers discover `batch` as one
    * more partition column and ignore it; bucket pruning is unaffected.
    */
  private def writeBatch(postings: DataFrame, doclens: DataFrame,
      indexDir: String, batchId: Long): Unit = {
    // co-locate each bucket before the partitioned write — without the
    // repartition every task writes a file into every bucket dir
    // (tasks × buckets small files); with it each bucket lands in one
    // task, so a batch writes at most one file per bucket dir. No fixed
    // partition count: AQE coalesces a by-column shuffle to the batch's
    // size, so a 6-document append does not run a 64-task stage
    postings.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/postings/batch=$batchId")
    doclens.write.mode("overwrite").parquet(s"$indexDir/doclens/batch=$batchId")
    val stats = doclens.agg(count(lit(1)).cast("bigint").as("n"),
      sum(col("dl").cast("decimal(20,0)")).as("sumdl"))
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/stats/batch=$batchId")
  }

  /** The schemas [[writeBatch]] writes, for readers that must not infer
    * them (inference is a Spark job per read). `id` keeps the caller's id
    * type ([[idTypeOf]]); `batch` and `bucket` are the partition columns.
    */
  private def postingsSchema(id: DataType, withPositions: Boolean) =
    StructType(Seq(StructField("id", id), StructField("dl", LongType),
      StructField("term", StringType), StructField("tf", LongType)) ++
      (if (withPositions)
        Seq(StructField("positions", ArrayType(IntegerType)))
      else Nil) ++
      Seq(StructField("batch", LongType), StructField("bucket", IntegerType)))
  private def doclensSchema(id: DataType) = StructType(Seq(
    StructField("id", id), StructField("dl", LongType),
    StructField("batch", LongType)))
  private val StatsSchema = StructType(Seq(StructField("n", LongType),
    StructField("sumdl", DecimalType(30, 0)), StructField("batch", LongType)))

  /** The id type the index stores: the caller's id column, written as-is,
    * read from one doclens footer on the driver.
    */
  private def idTypeOf(root: String): DataType =
    IndexFs.footerSchema(s"$root/doclens")("id").dataType

  /** Build the index over `docs` into `indexDir` (fresh-dir contract, like
    * `ivfBuild`). `nBuckets` trades partition-pruning granularity against
    * directory count — 64 keeps per-term slices one-partition reads while
    * bounding the layout at 64 dirs regardless of vocabulary size.
    */
  /** @param analyzer `raw` (default, the scan formula's tokenization) or
    *        `folded` (NFC + lowercase) — persisted in `meta` and applied
    *        identically at every read/write surface (see [[analyze]])
    *  @param withPositions store per-term position arrays (the
    *        [[phraseCountFromIndex]] tier). `false` skips the
    *        collect_list — measured ~30% of build cost — for corpora
    *        that never phrase-search; BM25 is unaffected, and a phrase
    *        query against a tf-only index fails loudly naming the
    *        rebuild. Persisted in `meta`.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = 64, analyzer: String = "raw",
      withPositions: Boolean = true): Unit =
    IndexLease.withLease(indexDir) {
      require(nBuckets >= 1)
      analyze(lit(""), analyzer) // validate the name loudly up front
      val spark = docs.sparkSession
      import spark.implicits._
      IncrementalDedup.recoverDir(indexDir)
      val (postings, doclens) =
        derive(docs, idCol, textCol, nBuckets, analyzer, withPositions)
      writeBatch(postings, doclens, indexDir, batchId = -1L)
      Seq((nBuckets, analyzer, withPositions))
        .toDF("nbuckets", "analyzer", "positions")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    }

  /** The schema [[build]] writes `meta` with. */
  private val MetaSchema = StructType(Seq(StructField("nbuckets", IntegerType),
    StructField("analyzer", StringType), StructField("positions", BooleanType)))

  /** Append a batch of NEW documents (ids unique across the index's
    * lifetime — the caller contract every index here shares). df, N and
    * Σdl are all additive, so the append writes its own `batch=<id>`
    * posting/doclen/stats delta and touches nothing existing. Re-adding a
    * TOMBSTONED id is a loud error until a compact resolves the deletion
    * — clearing the tombstone here would unhide the id's OLD postings
    * beside the new ones (the [[Similarity.ivfDelete]] re-add semantics)
    * (unlike the fp index, which is a SET, the lexical rows are per-doc
    * DATA: clearing the tombstone at append time would make both copies
    * visible and double-count N/Σdl/tf — the continuous-ingest caller
    * splits those ids out via [[splitTombstoned]] and defers them to the
    * crawl after the next compact).
    *
    * @param batchId pins the delta's identity for REPLAY-IDEMPOTENT
    *        appends (a replayed micro-batch overwrites its own delta
    *        instead of double-counting); None = next ascending id.
    * @return number of documents appended
    */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame,
      idCol: String, textCol: String, batchId: Option[Long] = None): Long =
    IndexLease.withLease(indexDir) {
      // resolve the live generation once: an append extends the
      // generation it reads, never creates one
      val root = IncrementalDedup.readRoot(indexDir)
      require(IndexFs.exists(s"$root/meta"),
        s"$indexDir is not a lexical index (no meta table) — build first")
      val (nBuckets, analyzer, withPositions) = readMeta(spark, root)
      requireNotTombstoned(spark, root, docs, idCol)
      val bid = batchId.getOrElse {
        val existing = IndexFs.subdirNames(s"$root/postings")
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
        if (existing.isEmpty) 0L else existing.max + 1L
      }
      val (postings, doclens) =
        derive(docs, idCol, textCol, nBuckets, analyzer, withPositions)
      val n = doclens.count()
      if (n > 0) writeBatch(postings, doclens, root, bid)
      n
    }

  /** Rebuild the index over `docs` behind the staged whole-dir swap: the
    * new generation is fully written BESIDE the live one, then one
    * `replaceDir` commits — at every instant at least one complete index
    * serves, and a killed rebuild is healed by `recoverDir` (the batch
    * crawl pipeline's per-run lexical build goes through this; a plain
    * [[build]] into a live dir would leave mixed generations on a crash
    * between its table writes).
    */
  def rebuild(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = 64, analyzer: String = "raw",
      withPositions: Boolean = true, keepGenerations: Int = 2): Unit =
    IndexLease.withLease(indexDir) {
      IncrementalDedup.recoverDir(indexDir)
      val next = s"$indexDir.next"
      IncrementalDedup.clearStaging(next)
      build(docs, idCol, textCol, next, nBuckets, analyzer, withPositions)
      IncrementalDedup.commitGeneration(indexDir, next, keepGenerations)
    }

  /** Partition a continuous-ingest batch into (appendable, deferred):
    * ids with a PENDING lex tombstone are deferred — appending them now
    * would either unhide their old rows (double-count) or hide the new
    * ones, so the caller skips them this snapshot and logs the count; the
    * next compact ([[maintain]]'s pressure or an operator's) physically
    * resolves the tombstones, after which the page's next crawl re-admits
    * cleanly. One broadcast anti/semi-join pair, only when a tombstone
    * table exists.
    */
  def splitTombstoned(spark: SparkSession, indexDir: String,
      docs: DataFrame, idCol: String): (DataFrame, DataFrame) = {
    // heal a crashed WHOLE-DIR swap first: after a compact crash that left
    // only `indexDir.old`, recovering just the tombstones subdir would
    // report "no tombstones" here and the subsequent append (which does
    // heal the dir) would then throw the re-add guard mid-batch
    val t = s"${IncrementalDedup.readRoot(indexDir)}/tombstones"
    ledger(spark, t, docs.schema(idCol).dataType) match {
      case None => (docs, docs.limit(0))
      case Some(ts) =>
        // only FULL deletions (latest entry = delete) defer — an id whose
        // latest entry is an UPSERT version floor is alive and re-ingests
        // through [[upsert]]
        val tomb = broadcast(latestTs(ts)
          .where(col("below") === Long.MaxValue).select(col("id")).distinct())
        (docs.join(tomb.withColumnRenamed("id", idCol), Seq(idCol), "left_anti"),
          docs.join(tomb.withColumnRenamed("id", idCol), Seq(idCol), "left_semi"))
    }
  }

  private def requireNotTombstoned(spark: SparkSession, indexDir: String,
      docs: DataFrame, idCol: String): Unit = {
    ledger(spark, s"$indexDir/tombstones", docs.schema(idCol).dataType)
      .foreach { ts =>
        val sample = docs.select(col(idCol).as("id")).distinct()
          .join(broadcast(ts.select(col("id")).distinct()), Seq("id"), "left_semi")
          .limit(4).collect().map(_.get(0))
        require(sample.isEmpty,
          s"append batch re-uses ids with tombstone entries " +
            s"(${sample.mkString(", ")} …): deleted or replaced documents go " +
            "through upsert (which versions them) or wait for a compact; " +
            "append is for NEW ids only")
      }
  }

  /** The tombstone LEDGER, versioned (round 19): one entry per event,
    * `(id, below, at)` — `below` is the VERSION FLOOR (rows of the id
    * with `batch < below` are hidden; `Long.MaxValue` = full deletion),
    * `at` a monotonically increasing stamp so the LATEST entry per id
    * wins (that is how [[upsert]] resurrects a deleted id: its new entry
    * outranks the deletion). Read with its known schema, the key typed
    * like the data's `id`; legacy id-only rows read their missing columns
    * as null, which maps to (below = MaxValue, at = 0) — exactly what
    * those deletes meant.
    */
  private def ledger(spark: SparkSession, tsDir: String,
      idType: => DataType): Option[DataFrame] =
    IndexLedger.read(spark, tsDir, tombstoneSchema(idType))

  /** The ledger's fold: the latest entry per id, `(id, below, at)` — max
    * (at, below), where `at` strictly increases under the writer lease
    * and the `below` tiebreak only orders legacy all-at-0 rows (all
    * deletions) deterministically.
    */
  private def latestEntries(ts: DataFrame): DataFrame =
    ts.groupBy(col("id"))
      .agg(max(struct(coalesce(col("at"), lit(0L)).as("at"),
        coalesce(col("below"), lit(Long.MaxValue)).as("below"))).as("__e"))
      .select(col("id"), col("__e.below").as("below"), col("__e.at").as("at"))

  /** The latest version floor per id, `(id, below)`. */
  private[operators] def latestTs(ts: DataFrame): DataFrame =
    latestEntries(ts).select(col("id"), col("below"))

  /** The schema [[writeTsEntries]] writes the ledger with. */
  private def tombstoneSchema(id: DataType) = StructType(Seq(
    StructField("id", id), StructField("below", LongType),
    StructField("at", LongType)))

  /** Hide rows their id's latest version floor excludes. `df` must carry
    * the `batch` partition column; a no-op plan when no table exists.
    */
  private def applyVersionedTs(spark: SparkSession, tsDir: String,
      df: DataFrame): DataFrame =
    ledger(spark, tsDir, df.schema("id").dataType).fold(df)(ts =>
      df.join(broadcast(latestTs(ts)), Seq("id"), "left")
        .where(col("below").isNull || col("batch") >= col("below"))
        .drop("below"))

  /** Append versioned tombstone entries stamped `at` = the ledger's next
    * stamp. Runs under the caller's index lease.
    */
  private def writeTsEntries(spark: SparkSession, tsDir: String,
      entries: DataFrame): Long = {
    val batch = entries.select(col("id"), col("below")).distinct()
      .withColumn("at", lit(IndexLedger.nextStamp(tsDir, "at")))
      .localCheckpoint()
    val n = batch.count()
    if (n > 0) {
      IndexLedger.append(batch, tsDir)
      IndexLedger.fold(spark, tsDir,
        tombstoneSchema(entries.schema("id").dataType), latestEntries)
    }
    n
  }

  /** Tombstone-DELETE document ids (takedowns). Queries subtract the
    * deleted documents EXACTLY (scores as if they never existed) until
    * [[compact]] resolves them physically. A deletion entry outranks any
    * stored [[upsert]] version (latest entry wins).
    *
    * @return number of distinct ids in this delete batch
    */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    writeTsEntries(spark, s"$root/tombstones",
      ids.select(col(idCol).as("id"), lit(Long.MaxValue).as("below")))
  }

  /** UPSERT: replace documents by id (and/or add new ones) in ONE leased
    * commit — the re-crawl verb: a changed page re-ingests NOW instead of
    * deferring to the next compact ([[splitTombstoned]]'s posture), and a
    * previously-deleted id resurrects. The batch's rows land as a normal
    * `batch=<bid>` delta; ids that already hold OLDER rows get a version
    * floor entry `(id, below = bid)` in the ledger — the latest entry per
    * id wins, so rows of batch < bid are hidden exactly and df/N/Σdl stay
    * EXACT (the hidden doclens rows are subtracted by the same narrow
    * correction pass deletions use). Fresh ids get NO entry (the ledger
    * stays takedown+replace-scale, never corpus-scale). Write order is
    * entries-then-delta: a crash between hides the old version and the
    * replay lands the new one — temporary absence, never a double count.
    *
    * Replay-idempotent like [[append]]: a re-run with the same pinned
    * `batchId` overwrites its own delta and its duplicate ledger entry is
    * absorbed by latest-wins. The pinned id must be >= every existing
    * batch id (guarded loudly) — an older pin would leave newer rows
    * visible beside the "new" version.
    *
    * @return number of documents upserted
    */
  def upsert(spark: SparkSession, indexDir: String, docs: DataFrame,
      idCol: String, textCol: String,
      batchId: Option[Long] = None): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    require(IndexFs.exists(s"$root/meta"),
      s"$indexDir is not a lexical index (no meta table) — build first")
    val (nBuckets, analyzer, withPositions) = readMeta(spark, root)
    val existing = IndexFs.subdirNames(s"$root/postings")
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
    val bid = batchId.getOrElse(if (existing.isEmpty) 0L else existing.max + 1L)
    require(existing.isEmpty || bid >= existing.max,
      s"upsert batch id $bid is below an existing batch " +
        s"(${existing.max}) — newer rows would stay visible beside the " +
        "replacement; pin the crashed attempt's own batch id only when " +
        "replaying that same batch, otherwise let it auto-assign")
    val dup = docs.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch carries duplicate id ${dup.headOption.map(_.get(0))} " +
        "— one version per id per commit")
    // the upsert batch's ids — delta-scale by contract, so it rides
    // every membership join below as the BROADCAST side
    val batchIds = docs.select(col(idCol).as("id")).distinct()
    if (existing.nonEmpty && bid == existing.max) {
      // pinning the CURRENT batch id is the replay verb and nothing
      // else: writeBatch replaces batch=<bid> wholesale, so if that
      // batch holds any document this upsert does not carry, "replaying"
      // would silently destroy its rows and stats — fail loudly first
      // (one delta-scale anti-join; auto-assign never lands here)
      val destroyed = spark.read.parquet(s"$root/doclens")
        .where(col("batch") === bid).select(col("id"))
        .join(broadcast(batchIds), Seq("id"), "left_anti")
        .limit(4).collect().map(_.get(0))
      require(destroyed.isEmpty,
        s"upsert pinned to EXISTING batch $bid, which holds document(s) " +
          s"${destroyed.mkString(", ")} absent from this upsert — " +
          "overwriting the batch would destroy their rows; pinning the " +
          "current id is only for replaying the identical batch " +
          "(the crash-retry shape), otherwise let the id auto-assign")
    }
    val entries = upsertFloorEntries(spark, root, batchIds, bid)
    writeTsEntries(spark, s"$root/tombstones", entries)
    val (postings, doclens) =
      derive(docs, idCol, textCol, nBuckets, analyzer, withPositions)
    val n = doclens.count()
    if (n > 0) writeBatch(postings, doclens, root, bid)
    n
  }

  /** [[upsert]]'s version-floor candidate set: entries for batch ids that
    * hold OLDER rows (one narrow doclens pass) OR any existing ledger
    * entry — the latter covers resurrection (the new floor must outrank
    * a prior DELETION even when the id's only physical rows sit in this
    * very batch, the replay-after-takedown shape). Fresh ids need none:
    * the ledger stays takedown+replace-scale, never corpus-scale.
    *
    * JOIN DIRECTION (plan-pinned): the delta-scale batch ids are the
    * BROADCAST build side and each semi-join runs BEFORE any distinct,
    * so the corpus-scale doclens id column never rides a shuffle — the
    * original formulation (`batchIds LEFT SEMI needFloor` with the
    * corpus-scale union-distinct on the right) shuffled ~N skinny rows
    * on EVERY re-crawl commit for the same delta-scale answer. The one
    * exchange left in the plan is the distinct over the delta-scale
    * survivors that feeds the ledger write.
    */
  private[operators] def upsertFloorEntries(spark: SparkSession,
      root: String, batchIds: DataFrame, bid: Long): DataFrame = {
    val older = spark.read.parquet(s"$root/doclens")
      .where(col("batch") < bid).select(col("id"))
      .join(broadcast(batchIds), Seq("id"), "left_semi")
    val needFloor = ledger(spark, s"$root/tombstones",
        batchIds.schema("id").dataType)
      .fold(older)(ts => older.unionByName(ts.select(col("id"))
        .join(broadcast(batchIds), Seq("id"), "left_semi")))
    needFloor.distinct().select(col("id"), lit(bid).as("below"))
  }

  /** Physically resolve tombstones and fold the append ledgers: live
    * postings re-written bucket-clustered, doclens re-written, stats
    * folded to ONE exact row recomputed from the live doclens, the
    * tombstone table dying with the old dir — all behind the staged
    * whole-dir swap ([[IncrementalDedup.replaceDir]]), so a killed
    * compaction never leaves less than one complete index on disk.
    * Queries before and after are row-identical (spec-pinned).
    *
    * @param preserveBatchIds deltas carried into the new generation
    *        VERBATIM instead of folded — the [[IncrementalDedup.compactDeltaIndex]]
    *        replay guard: a daemon compacting at the START of a
    *        micro-batch preserves that batch's id, so a crashed earlier
    *        attempt's delta stays overwritable by the replay (folding it
    *        into batch=-1 would make the replay double-count). Preserved
    *        deltas are REWRITTEN into staging (never renamed out of the
    *        live dir — the live index stays complete until the swap),
    *        and the tombstone table is carried rather than cleared when
    *        anything is preserved (harmless for folded rows, which
    *        already dropped their tombstoned ids; still binding for
    *        preserved rows).
    * @return number of live documents in the FOLDED generation (preserved
    *         deltas not counted)
    */
  def compact(spark: SparkSession, indexDir: String,
      targetRows: Long = 16_000_000L,
      preserveBatchIds: Set[Long] = Set.empty,
      keepGenerations: Int = 2): Long =
    IndexLease.withLease(indexDir) {
      val root = IncrementalDedup.readRoot(indexDir)
      def scoped(table: String) = {
        val raw = spark.read.parquet(s"$root/$table")
        if (preserveBatchIds.isEmpty) raw
        else raw.where(!col("batch").isin(preserveBatchIds.toSeq: _*))
      }
      def live(table: String) =
        applyVersionedTs(spark, s"$root/tombstones", scoped(table))
      // the delta ledgers fold to ONE batch=-1 generation (partition-style
      // like every index layout here: root-level files would be invisible
      // to discovery once the next delta lands)
      val postings = live("postings").drop("batch").localCheckpoint()
      val doclens = live("doclens").drop("batch").localCheckpoint()
      val meta = spark.read.schema(MetaSchema).parquet(s"$root/meta")
        .localCheckpoint()
      val n = doclens.count()
      val next = s"$indexDir.compact"
      IncrementalDedup.clearStaging(next)
      postings.repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$next/postings/batch=-1")
      doclens.coalesce(math.max(1L, n / targetRows + 1).toInt)
        .write.parquet(s"$next/doclens/batch=-1")
      doclens.agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("dl").cast("decimal(20,0)")).as("sumdl"))
        .coalesce(1).write.parquet(s"$next/stats/batch=-1")
      meta.write.parquet(s"$next/meta")
      // preserved deltas: rewritten verbatim into staging (raw rows, NOT
      // tombstone-filtered — a preserved delta must replay byte-faithful)
      for (bid <- preserveBatchIds; table <- Seq("postings", "doclens", "stats")) {
        val src = s"$root/$table/batch=$bid"
        if (IndexFs.exists(src)) {
          val raw = spark.read.parquet(src)
          val w = raw.write
          (if (table == "postings") w.partitionBy("bucket") else w)
            .parquet(s"$next/$table/batch=$bid")
        }
      }
      if (preserveBatchIds.nonEmpty &&
          IndexFs.exists(s"$root/tombstones")) {
        // carry ONLY the entries still binding: full deletions (their
        // preserved-delta rows must stay hidden) and version floors
        // pointing AT a preserved delta (the visible version is still in
        // delta form). A version floor whose batch was FOLDED is fully
        // materialized — carrying it would hide the folded rows
        // (batch=-1 < below) and silently lose the documents; one whose
        // id also has rows in a preserved delta would resurface those —
        // guarded loudly below (convention: operator upserts do not run
        // mid-stream between a delta landing and its compact)
        val ts = latestTs(ledger(spark, s"$root/tombstones",
          doclens.schema("id").dataType).get).localCheckpoint()
        val keep = ts.where(col("below") === Long.MaxValue ||
          col("below").isin(preserveBatchIds.toSeq: _*))
        val dropped = ts.where(col("below") =!= Long.MaxValue &&
          !col("below").isin(preserveBatchIds.toSeq: _*))
        val preservedIds = preserveBatchIds.toSeq.map { b =>
            val src = s"$root/doclens/batch=$b"
            if (IndexFs.exists(src)) spark.read.parquet(src).select(col("id"))
            else spark.range(0).select(col("id"))
          }.reduce(_ unionAll _).distinct()
        val leak = dropped.join(preservedIds, Seq("id"), "left_semi")
          .limit(1).collect()
        require(leak.isEmpty,
          s"compact(preserveBatchIds=$preserveBatchIds) would resurface " +
            s"stale rows of id ${leak.headOption.map(_.get(0))}: a " +
            "materialized version floor covers rows inside a preserved " +
            "delta — compact without preserving, or preserve the " +
            "replacing batch too")
        keep.select(col("id"), col("below"), lit(0L).as("at"))
          .coalesce(1).write.parquet(s"$next/tombstones")
      }
      IncrementalDedup.commitGeneration(indexDir, next, keepGenerations)
      n
    }

  /** Tombstone-pressure maintenance — the [[AnnMaintenance.maintain]]
    * sensor applied to the lexical layout: past `maxTombstoneFraction` of
    * the LIVE documents (tombstones / (indexed − tombstones)), run
    * [[compact]]; below it, nothing. Both counts are parquet-footer
    * reads. The fraction can only overcount: a tombstone naming an id the
    * index never held inflates the numerator AND deflates the live
    * denominator, both of which fire the compact early, never miss it.
    *
    * @return true iff pressure fired and the index was compacted
    */
  def maintain(spark: SparkSession, indexDir: String,
      maxTombstoneFraction: Double = 0.25,
      keepGenerations: Int = 2): Boolean =
    IndexLease.withLease(indexDir) {
      require(maxTombstoneFraction > 0 && maxTombstoneFraction < 1)
      val root = IncrementalDedup.readRoot(indexDir)
      val tsDir = s"$root/tombstones"
      val nEntries = IndexLedger.rows(tsDir)
      if (nEntries == 0) false
      else {
        // pressure = HIDDEN rows (deleted docs + superseded upsert
        // versions — each is join work every query pays) over the LIVE
        // count; one narrow doclens pass, exact under versioning (a raw
        // entry count would undercount once the ledger folds)
        val idType = idTypeOf(root)
        val doclens = spark.read.schema(doclensSchema(idType))
          .parquet(s"$root/doclens")
        val nDocs = doclens.count()
        val nHidden = doclens.join(broadcast(
            latestTs(ledger(spark, tsDir, idType).get)), Seq("id"), "left")
          .where(col("batch") < col("below")).count()
        val nLive = nDocs - nHidden
        if (nLive <= 0 ||
            math.max(nHidden, nEntries).toDouble / nLive >
              maxTombstoneFraction) {
          compact(spark, indexDir, keepGenerations = keepGenerations)
          true
        } else false
      }
    }

  /** (nBuckets, analyzer, positions) from `meta`, read with its known
    * schema: a legacy meta written before the analyzer/positions columns
    * reads them as null, which maps to (raw, positional) — exactly what
    * those indexes are.
    */
  private def readMeta(spark: SparkSession,
      indexDir: String): (Int, String, Boolean) = {
    val row = spark.read.schema(MetaSchema).parquet(s"$indexDir/meta").head()
    (row.getInt(0), if (row.isNullAt(1)) "raw" else row.getString(1),
      row.isNullAt(2) || row.getBoolean(2))
  }

  /** Exact LIVE corpus statistics (N, Σdl). The append-only stats ledger
    * is a handful of footer-scale rows (one per batch), so its rows are
    * collected and summed on the driver — exact long/decimal sums, no
    * aggregation job. Pending tombstones/versions are then subtracted via
    * one narrow (id, dl) pass over doclens (paid only while tombstones
    * pend; compact restores ledger-only reads).
    */
  private def liveStats(spark: SparkSession, indexDir: String,
      tsDir: String): (Long, java.math.BigDecimal) = {
    val stats = spark.read.schema(StatsSchema).parquet(s"$indexDir/stats")
      .select(col("n"), col("sumdl")).collect()
    var nLive: Long = stats.filterNot(_.isNullAt(0)).map(_.getLong(0)).sum
    var sumdlLive: java.math.BigDecimal = stats.filterNot(_.isNullAt(1))
      .map(_.getDecimal(1)).reduceOption(_ add _).orNull
    lazy val idType = idTypeOf(indexDir)
    if (nLive > 0) ledger(spark, tsDir, idType).foreach { ts =>
      // subtract exactly the HIDDEN doclens rows (a deletion hides all of
      // an id's rows; an upsert version floor hides the old versions
      // while the replacement's own row stays counted by its batch's
      // stats ledger entry)
      val corr = spark.read.schema(doclensSchema(idType))
        .parquet(s"$indexDir/doclens")
        .join(broadcast(latestTs(ts)), Seq("id"), "left")
        .where(col("batch") < col("below"))
        .agg(count(lit(1)).as("nd"),
          coalesce(sum(col("dl").cast("decimal(20,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(20,0)")).as("sd"))
        .head()
      nLive -= corr.getLong(0)
      sumdlLive = sumdlLive.subtract(corr.getDecimal(1))
    }
    // an index whose only stats rows come from empty batches (the daemon's
    // bootstrap build over zero docs stores n=0, sumdl=NULL) or whose every
    // document is tombstoned has NO defined avgdl — fail with the real
    // reason instead of an NPE at sumdl.doubleValue()
    require(nLive > 0 && sumdlLive != null,
      s"lexical index at $indexDir holds no live documents — BM25 corpus " +
        "statistics (N, Σdl) are undefined on an empty index: append " +
        "documents before querying")
    (nLive, sumdlLive)
  }

  /** The posting rows of `terms`, read from the `bucket=` dirs the terms
    * hash to and no others: each `batch=` dir is listed once on the
    * driver, and only the probed bucket dirs reach the reader (with
    * `basePath`, so `batch` and `bucket` still read as columns). A
    * whole-tree read would list all of a batch's bucket dirs, and past 32
    * of them Spark lists with a parallel listing job on every query. No
    * probed dir on disk → an empty frame of the same schema.
    */
  private def postingsOf(spark: SparkSession, root: String, nBuckets: Int,
      withPositions: Boolean, terms: Seq[String]): DataFrame = {
    val base = s"$root/postings"
    val probed = terms.map(t => s"bucket=${bucketOfTerm(t, nBuckets)}").toSet
    val dirs = IndexFs.subdirNames(base).filter(_.startsWith("batch="))
      .flatMap(b => IndexFs.subdirNames(s"$base/$b").filter(probed)
        .map(d => s"$base/$b/$d"))
    val schema = postingsSchema(idTypeOf(root), withPositions)
    val raw =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).option("basePath", base).parquet(dirs: _*)
    raw.where(col("term").isin(terms: _*))
  }

  /** What every BM25 read shares: the pinned live generation, its exact
    * live (N, avgdl), the query terms through the index's analyzer (ONE
    * projection for the whole batch), and the checkpointed LIVE union of
    * their posting slices with every term's df counted from it in ONE
    * grouped count — tombstone/version-exactness is free here (these are
    * the rows the query reads anyway).
    */
  private[operators] final case class Slices(root: String, tsDir: String,
      nLive: Long, avgdl: Double, terms: Seq[Seq[String]], union: DataFrame,
      df: Map[String, Long]) {
    def idf(term: String): Double =
      ((nLive - df(term)).toDouble + 0.5) / (df(term).toDouble + 0.5)
  }

  private[operators] def slices(spark: SparkSession, indexDir: String,
      queries: Seq[Seq[String]]): Slices = {
    // pin the live generation for the whole call (reader-vs-swap safety)
    val root = IncrementalDedup.readRoot(indexDir)
    require(IndexFs.exists(s"$root/meta"),
      s"$indexDir is not a lexical index (no meta table)")
    val (nBuckets, analyzer, withPositions) = readMeta(spark, root)
    val tsDir = s"$root/tombstones"
    val (nLive, sumdlLive) = liveStats(spark, root, tsDir)
    // the same operations bm25TopK's expression tree applies: decimal →
    // double cast, long → double cast, one IEEE division
    val avgdl = sumdlLive.doubleValue() / nLive.toDouble
    // the index's persisted analyzer applies to the query terms — the
    // layout decides, so query and index can never tokenize differently
    val flat = analyzeTerms(spark, queries.flatten, analyzer)
    val offsets = queries.scanLeft(0)(_ + _.size)
    val termsA = queries.indices.map(i => flat.slice(offsets(i), offsets(i + 1)))
    val union = applyVersionedTs(spark, tsDir,
        postingsOf(spark, root, nBuckets, withPositions, flat.distinct)
          .select(col("term"), col("id"), col("dl"), col("tf"), col("batch")))
      .drop("batch")
      .localCheckpoint()
    val df = union.groupBy(col("term"))
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    Slices(root, tsDir, nLive, avgdl, termsA, union, df)
  }

  /** The id set of a retrieval filter: its FIRST column, distinct. */
  private[operators] def allowedIds(allowed: DataFrame): DataFrame =
    allowed.select(col(allowed.columns.head).as("id")).distinct()

  /** Exact PHRASE match counts served FROM the index — the positional
    * tier: an n-term phrase is an (n-1)-fold position-offset EQUI-join
    * over the phrase terms' LIVE posting slices (each slice bucket-pruned
    * to df rows), `p_k = p_0 + k` on the same document. Overlapping
    * matches count separately, order matters — the bag-of-words BM25 path
    * cannot tell "hash table" from "table hash". Same tokenization as the
    * rest of the index (whitespace, no case folding); tombstoned
    * documents are exactly absent.
    *
    * @return (id, n_matches) for live documents with >= 1 occurrence
    */
  def phraseCountFromIndex(spark: SparkSession, indexDir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty),
      "phrase must have at least one nonempty term")
    // pin the live generation for the whole query (reader-vs-swap safety)
    val root = IncrementalDedup.readRoot(indexDir)
    val (nBuckets, analyzer, withPositions) = readMeta(spark, root)
    require(withPositions,
      s"$indexDir stores tf-only postings (built with withPositions = " +
        "false) — phrase search needs the positional tier: rebuild the " +
        "index with withPositions = true")
    val tsDir = s"$root/tombstones"
    // the index's own analyzer applies to the phrase terms (a folded
    // index phrase-matches case-insensitively; a raw index is
    // case-sensitive — unlike TextSearch.phraseCount, which always
    // lowercases: the divergence is pinned by t139's oracle)
    val phraseA = analyzeTerms(spark, phrase, analyzer)
    val slices = phraseA.zipWithIndex.map { case (t, k) =>
      val raw = postingsOf(spark, root, nBuckets, withPositions, Seq(t))
        .select(col("id"), col("batch"), explode(col("positions")).as("__p"))
        .select(col("id"), col("batch"), (col("__p") - k).as("p0"))
      applyVersionedTs(spark, tsDir, raw).drop("batch")
    }
    slices.reduceLeft((a, b) => a.join(b, Seq("id", "p0")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("bigint").as("n_matches"))
  }

  /** BATCHED phrase search — MANY phrases from ONE pass over the union
    * of their terms' posting slices (the [[bm25TopKFromIndexMany]] recipe
    * on the positional tier): one bucket-pruned read of the distinct
    * terms' slices with positions exploded once (checkpointed), then per
    * phrase the (n-1)-fold position-offset equi-join over checkpointed
    * slices, unioned into one output plan keyed by `query_id` — the
    * driver pays a FIXED number of jobs regardless of the phrase count.
    * Each phrase's (id, n_matches) rows are value-identical to its own
    * [[phraseCountFromIndex]] call (spec-pinned); the index's analyzer
    * applies to every phrase's terms.
    *
    * @return (query_id, id, n_matches), live documents with >= 1
    *         occurrence per phrase
    */
  def phraseCountFromIndexMany(spark: SparkSession, indexDir: String,
      phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty &&
      phrases.forall(p => p._2.nonEmpty && p._2.forall(_.nonEmpty)),
      "every phrase must have at least one nonempty term")
    require(phrases.map(_._1).distinct.size == phrases.size,
      "duplicate query ids")
    val root = IncrementalDedup.readRoot(indexDir)
    val (nBuckets, analyzer, withPositions) = readMeta(spark, root)
    require(withPositions,
      s"$indexDir stores tf-only postings (built with withPositions = " +
        "false) — phrase search needs the positional tier: rebuild the " +
        "index with withPositions = true")
    val tsDir = s"$root/tombstones"
    val phrasesA = phrases.map { case (qid, p) =>
      qid -> analyzeTerms(spark, p, analyzer)
    }
    // ONE pruned read of the slice union, positions exploded once
    val union = applyVersionedTs(spark, tsDir,
        postingsOf(spark, root, nBuckets, withPositions,
            phrasesA.flatMap(_._2).distinct)
          .select(col("term"), col("id"), col("batch"),
            explode(col("positions")).as("__p")))
      .drop("batch")
      .localCheckpoint()
    val perPhrase = phrasesA.map { case (qid, terms) =>
      val slices = terms.zipWithIndex.map { case (t, k) =>
        union.where(col("term") === lit(t))
          .select(col("id"), (col("__p") - k).as("p0"))
      }
      slices.reduceLeft((a, b) => a.join(b, Seq("id", "p0")))
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("bigint").as("n_matches"))
        .select(lit(qid).as("query_id"), col("id"), col("n_matches"))
    }
    perPhrase.reduce(_ unionAll _)
  }

  /** BM25 top-k served FROM the index: ONE read of the union of the
    * query terms' posting slices (only their bucket dirs are listed and
    * read — df rows per term, never the corpus), ONE grouped count
    * deriving every df from the live union, N/Σdl summed from the stats
    * ledger on the driver (corrected exactly for pending
    * tombstones/versions via one narrow doclens pass), and the scalars
    * folded into the [[TextSearch.bm25TopK]] IEEE expression tree —
    * bit-identical scores, posting-slice-scale reads, and a driver-job
    * count that is CONSTANT in the term count (the batched path's reads,
    * shared since round 19).
    *
    * Output matches `bm25TopK` exactly: `(id, dl, tf0..tfN, score)`, top
    * `k` by `(score desc, id)`, including its zero-score fill semantics —
    * when fewer than `k` documents match any term, the remaining slots
    * are the smallest-id non-matching live documents at score 0.0 (what
    * the full scan's total order produces).
    *
    * @param allowed optional retrieval filter: only ids in this frame can
    *        surface, but scores stay CORPUS-calibrated (df/N/Σdl are
    *        unfiltered) — the filtered-retrieval semantics, matching
    *        [[TextSearch.bm25TopK]]'s `allowed` parameter.
    */
  def bm25TopKFromIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int, k1: Double = 1.5, b: Double = 0.75,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty) && k >= 1)
    val sl = slices(spark, indexDir, Seq(terms))
    val termsA = sl.terms.head
    val idfs = termsA.map(sl.idf)

    // union of slices: full-outer on id, dl coalesced across slices
    // (every slice row of a doc carries the same dl), absent tfs → 0 —
    // slice-union scale, never corpus scale
    val named = termsA.zipWithIndex.map { case (t, i) =>
      sl.union.where(col("term") === lit(t))
        .select(col("id"), col("dl").as(s"__dl$i"), col("tf").as(s"tf$i"))
    }
    val joined = named.reduce((a, c) => a.join(c, Seq("id"), "full_outer"))
    val dlCol = coalesce(terms.indices.map(i => col(s"__dl$i")): _*).as("dl")
    val matchedBase = joined.select(col("id") +: dlCol +:
      terms.indices.map(i =>
        coalesce(col(s"tf$i"), lit(0L)).cast("bigint").as(s"tf$i")): _*)
    val matchedFiltered = allowed match {
      case Some(a) => matchedBase.join(allowedIds(a), Seq("id"), "left_semi")
      case None => matchedBase
    }

    val rel = col("dl").cast("double") / lit(sl.avgdl)
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      lit(idfs(i)) *
        ((tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * rel)))
    }
    val score = terms.indices.map(termScore).reduceLeft(_ + _)
    val outCols = col("id") +: col("dl") +:
      terms.indices.map(i => col(s"tf$i")) :+ score.as("score")
    val matched = matchedFiltered.select(outCols: _*).localCheckpoint()

    val nMatched = matched.count()
    val top = matched.orderBy(col("score").desc, col("id")).limit(k)
    if (nMatched >= k) top
    else {
      // zero-score fill: the full scan ranks EVERY document, so slots the
      // matches cannot fill go to the smallest-id non-matching live docs
      // at exactly 0.0 (a no-term doc's score is idf·0 summed — 0.0)
      val liveDl = applyVersionedTs(spark, sl.tsDir,
        spark.read.schema(doclensSchema(idTypeOf(sl.root)))
          .parquet(s"${sl.root}/doclens")).drop("batch")
      val allowedDl = allowed match {
        case Some(a) => liveDl.join(allowedIds(a), Seq("id"), "left_semi")
        case None => liveDl
      }
      val fills = allowedDl
        .join(matched.select(col("id")), Seq("id"), "left_anti")
        .orderBy(col("id")).limit((k - nMatched).toInt)
        .select(col("id") +: col("dl") +:
          terms.indices.map(i => lit(0L).as(s"tf$i")) :+
          lit(0.0).as("score"): _*)
      top.unionAll(fills).orderBy(col("score").desc, col("id")).limit(k)
    }
  }

  /** BATCHED BM25: serve MANY queries from ONE pass over the union of
    * their term slices — the production retrieval shape
    * ([[bm25TopKFromIndex]] is one-query-at-a-time: a handful of tiny
    * driver actions per call, which at 10k queries/s is 10k tiny jobs).
    * The driver pays a FIXED number of jobs regardless of the query count
    * (spec-pinned at Q=2 vs Q=8): one read of the distinct terms' slices
    * from their probed bucket dirs (checkpointed once), ONE grouped count
    * deriving every term's df, the stats ledger summed on the driver (+
    * the tombstone correction pass when pending), and ONE scoring pass
    * for the whole batch.
    *
    * The scoring pass broadcasts one `(query_id, term, slot, idf)` row
    * per query term and joins it to the slice union on `term`, so every
    * (query, document) pair sees the postings of its query's terms; a
    * group by (query, document) then adds the term scores in SLOT order
    * from 0.0 (`sort_array(collect_list(struct(slot, s)))` folded by
    * `aggregate`). Each term score is the [[TextSearch.bm25TopK]]
    * expression tree, and a term the document lacks would add exactly
    * +0.0 to the per-term sum (k1 > 0, 0 ≤ b ≤ 1), so each query's
    * (id, score) rows are bit-identical to its own
    * [[bm25TopKFromIndex]] call (spec-pinned, duplicate terms included:
    * each slot adds its own score). Ranking uses a window PARTITIONED BY
    * query (per-query partition-local sort — parallel across queries,
    * slice-union scale).
    *
    * Batch semantics (deliberately NOT the single-query output shape):
    * only MATCHING documents rank (no zero-score fill — a query with
    * fewer than k matching docs returns just its matches), and the
    * output is normalized to `(query_id, id, dl, score, rank)` because
    * per-query term counts vary.
    *
    * @param allowed optional retrieval filter shared by every query in
    *        the batch (a frame whose FIRST column is the allowed id set):
    *        only these ids can surface, but scores stay CORPUS-calibrated
    *        (df/N/Σdl unfiltered) — [[bm25TopKFromIndex]]'s `allowed`
    *        semantics, applied once to the checkpointed slice union.
    */
  def bm25TopKFromIndexMany(spark: SparkSession, indexDir: String,
      queries: Seq[(String, Seq[String])], k: Int, k1: Double = 1.5,
      b: Double = 0.75, allowed: Option[DataFrame] = None): DataFrame = {
    require(queries.nonEmpty && k >= 1 &&
      queries.forall(q => q._2.nonEmpty && q._2.forall(_.nonEmpty)))
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"k1 must be > 0 and b in [0, 1] (got k1=$k1, b=$b)")
    val sl = slices(spark, indexDir, queries.map(_._2))
    // the retrieval filter restricts CANDIDATES only (one semi-join on
    // the union ≡ the single path's semi-join on each query's matched
    // set, since both commute with the id join) — AFTER the df count:
    // scores stay corpus-calibrated like the single path
    val served = allowed match {
      case Some(a) =>
        sl.union.join(allowedIds(a), Seq("id"), "left_semi").localCheckpoint()
      case None => sl.union
    }
    import spark.implicits._
    val probe = queries.map(_._1).zip(sl.terms).flatMap { case (qid, terms) =>
      terms.zipWithIndex.map { case (t, slot) => (qid, t, slot, sl.idf(t)) }
    }.toDF("query_id", "term", "slot", "idf")
    val tf = col("tf").cast("double")
    val rel = col("dl").cast("double") / lit(sl.avgdl)
    val termScore = col("idf") *
      ((tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * rel)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    served.join(broadcast(probe), Seq("term"))
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("dl")).as("dl"),
        sort_array(collect_list(struct(col("slot"), termScore.as("s"))))
          .as("__s"))
      .select(col("query_id"), col("id"), col("dl"),
        aggregate(col("__s"), lit(0.0), (acc, x) => acc + x.getField("s"))
          .as("score"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
  }
}
