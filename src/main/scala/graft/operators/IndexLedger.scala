package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The append-and-fold LEDGER layer every persisted index family shares:
  * the admission indexes' `_tombstones` and `_floors`, the ANN and
  * lexical `tombstones`, and the ANN `drift_log`. A ledger is a small,
  * flat parquet table beside the index that grows one file per write and
  * is read whole by every query or maintenance decision that consults it.
  *
  *  - File budget: every [[append]] lands ONE coalesced file, and every
  *    read pays the listing and a footer per file forever. Past
  *    [[FileBudget]] files, [[fold]] rewrites the table as one file of
  *    `f(rows)`, where `f` is the ledger's own fold (distinct keys, max
  *    floor per id, latest entry per id, or identity), so reads stay
  *    bounded however many write batches a daemon lands.
  *  - Lease: a fold or [[rewrite]] is a read-modify-write of a table other
  *    writers append to, so it runs only under the index writer lease
  *    ([[IndexLease]]) that every public write surface holds. Files that
  *    still appear between the snapshot listing and the swap are carried
  *    into the new table verbatim, never dropped.
  *  - Replay: each fold is idempotent over the ledger's read semantics
  *    (`f(f(rows))` reads like `f(rows)`, and like `rows`), so a retried
  *    write, or a fold replayed after a crash, changes no answer.
  *  - Crash healing: rewrites commit through the staged `.next` +
  *    [[IncrementalDedup.replaceDir]] swap, and every entry point here
  *    first runs [[IncrementalDedup.recoverDir]]: a crash between the
  *    swap's two renames leaves only `dir.old`, which is rolled back
  *    before anything reads the ledger — without it every deleted key
  *    would silently resurface.
  *
  * Reads use the schema the ledger's writer defines beside itself, so no
  * read starts a schema-inference job. Columns an older layout lacks read
  * as null, and each ledger maps null to what those rows meant.
  */
object IndexLedger {

  /** Part files a ledger may hold before [[fold]] rewrites it as one. */
  val FileBudget = 16

  private def parquetFiles(dir: String): Seq[String] =
    IndexFs.fileNames(dir).filter(_.endsWith(".parquet"))

  /** The ledger at `dir` read with its known `schema` (evaluated only
    * when the ledger exists), healed first; None when no ledger exists.
    */
  def read(spark: SparkSession, dir: String,
      schema: => StructType): Option[DataFrame] = {
    IncrementalDedup.recoverDir(dir)
    if (IndexFs.exists(dir)) Some(spark.read.schema(schema).parquet(dir))
    else None
  }

  /** Number of rows in the ledger (0 when absent), summed from the parquet
    * footers on the driver: no Spark job.
    */
  def rows(dir: String): Long = {
    IncrementalDedup.recoverDir(dir)
    IndexFs.parquetRowsUnder(dir)
  }

  /** Append `entries` as one file, healed first (appending beside a
    * crashed swap's `dir.old` would make the roll-back discard it).
    */
  def append(entries: DataFrame, dir: String): Unit = {
    IncrementalDedup.recoverDir(dir)
    entries.coalesce(1).write.mode("append").parquet(dir)
  }

  /** Past [[FileBudget]] files, rewrite the ledger as one file of
    * `f(rows)`; below it, nothing. Runs under the caller's index lease.
    */
  def fold(spark: SparkSession, dir: String, schema: StructType,
      f: DataFrame => DataFrame): Unit = {
    IncrementalDedup.recoverDir(dir)
    if (parquetFiles(dir).size > FileBudget) rewrite(spark, dir, schema, f)
  }

  /** Rewrite the ledger as one file of `f(rows)` behind the staged swap.
    * The rows are those of the files listed at the start; files appended
    * after that listing are carried into the new table as they are. An
    * empty result with nothing carried removes the ledger, so reads keep
    * their no-op plan. Runs under the caller's index lease.
    */
  def rewrite(spark: SparkSession, dir: String, schema: StructType,
      f: DataFrame => DataFrame): Unit = {
    IncrementalDedup.recoverDir(dir)
    val snapFiles = parquetFiles(dir)
    if (snapFiles.isEmpty) return
    val kept = f(spark.read.schema(schema)
      .parquet(snapFiles.map(p => s"$dir/$p"): _*)).localCheckpoint()
    val next = s"$dir.next"
    IncrementalDedup.clearStaging(next)
    kept.coalesce(1).write.parquet(next)
    val late = parquetFiles(dir).filterNot(snapFiles.contains)
    late.foreach(p => IndexFs.rename(s"$dir/$p", s"$next/$p"))
    if (late.isEmpty && kept.isEmpty) {
      IncrementalDedup.clearStaging(next)
      IndexFs.deleteRecursive(dir)
    } else IncrementalDedup.replaceDir(dir, next)
  }

  /** `max + 1` over the long column `c` (a null reads as 0); 0 when the
    * ledger is absent or empty. Stamps minted under the writer lease are
    * therefore strictly increasing across appends and folds. Read from the
    * parquet footers' column statistics on the driver: no Spark job.
    */
  def nextStamp(dir: String, c: String): Long = {
    IncrementalDedup.recoverDir(dir)
    parquetFiles(dir).flatMap(f => IndexFs.footerMaxOrZero(s"$dir/$f", c))
      .maxOption.fold(0L)(_ + 1L)
  }
}
