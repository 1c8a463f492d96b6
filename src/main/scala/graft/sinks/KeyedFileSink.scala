package graft.sinks

import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Keyed-filename sinks (SURVEY.md §2.8 K1/K2): one file per row, named
  * `{key}{suffix}`.
  *
  * Reference semantics: Program 1 writes `{SchoolCode}.md` per row
  * (`src/program1_generate_markdowns.py:382-388`), Program 2 writes
  * `{id}_ai_description.md` / `{id}_gpt4o_response.json`
  * (`src/program2_ai_processor.py:587-613`).
  *
  * Executed with `foreachPartition`: each task writes its rows to a temp file
  * and atomically renames — idempotent under task retries (last rename wins,
  * content is deterministic per key), which is the distributed analogue of
  * the reference's skip-if-exists semantics. Write failures are counted, not
  * fatal (reference logs and skips the row).
  */
object KeyedFileSink {

  /** One file per row of `column` with a non-null value, `dir/{key}{suffix}`. */
  final case class Output(column: String, dir: String, suffix: String)

  /** What a [[writeAll]] pass did: the rows it saw, and the files written
    * for each output, in the order the outputs were given.
    */
  final case class Written(rows: Long, files: Seq[Long])

  /** Writes `contentCol` of each row to `outDir/{keyCol}{suffix}`.
    * @return number of files successfully written
    */
  def write(df: DataFrame, keyCol: String, contentCol: String, outDir: String,
      suffix: String = ""): Long =
    writeAll(df, keyCol, Seq(Output(contentCol, outDir, suffix))).files.head

  /** Writes every output of each row in ONE pass over `df`: its rows are
    * computed once, however many files each row yields.
    */
  def writeAll(df: DataFrame, keyCol: String, outputs: Seq[Output]): Written = {
    val sc = df.sparkSession.sparkContext
    val dirs = outputs.map(o => Paths.get(o.dir).toAbsolutePath.normalize())
    dirs.foreach(Files.createDirectories(_))
    val dirNames = dirs.map(_.toString)
    val suffixes = outputs.map(_.suffix)
    val seen = sc.longAccumulator("keyed_rows_seen")
    val written = outputs.map(_ => sc.longAccumulator("keyed_files_written"))
    val projected = df.selectExpr(s"cast(`$keyCol` as string) as k" +:
      outputs.zipWithIndex.map { case (o, i) => s"`${o.column}` as v$i" }: _*)
    projected.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val targets = dirNames.map(Paths.get(_))
      rows.foreach { row =>
        seen.add(1)
        val key = row.getString(0)
        // Keys are data-derived (e.g. CSV SchoolCode): reject anything that
        // could resolve outside a dir (separators, '..') instead of writing
        // it. The RAW key is validated, before suffixing — so key ".." is
        // rejected even though ".." + ".md" would be a legal in-dir name.
        if (key != null && safeKey(key)) {
          for (i <- targets.indices) {
            val content = row.getString(i + 1)
            if (content != null && writeFile(targets(i), key + suffixes(i), content))
              written(i).add(1)
          }
        }
      }
    }
    // All tasks have finished (the action returned): any `.graft*.tmp` left
    // in an output directory is an orphan from a crashed task attempt —
    // readers must only ever see fully-renamed files, so sweep them here.
    dirs.distinct.foreach(sweepOrphans)
    Written(seen.value, written.map(_.value))
  }

  /** Temp file, then atomic rename onto `dir/name`; false if either failed. */
  private def writeFile(dir: Path, name: String, content: String): Boolean = {
    var tmp: Path = null
    try {
      val target = dir.resolve(name)
      tmp = Files.createTempFile(dir, ".graft", ".tmp")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      true
    } catch {
      case _: java.io.IOException | _: java.nio.file.InvalidPathException =>
        // a failed row must not leave its temp behind
        if (tmp != null) try Files.deleteIfExists(tmp) catch {
          case _: java.io.IOException => ()
        }
        false
    }
  }

  private def sweepOrphans(dir: Path): Unit = {
    val sweep = Files.newDirectoryStream(dir, ".graft*.tmp")
    try {
      sweep.forEach(p => try { Files.deleteIfExists(p); () } catch {
        case _: java.io.IOException => ()
      })
    } finally sweep.close()
  }

  /** Lexical-only validation of a raw key: no path separators (either
    * platform's), no NULs, and not a bare `.`/`..`. A name passing this
    * cannot leave `outDir` once a fixed suffix is appended.
    *
    * Deliberately string-based — no `Path` round-trip. `dir.resolve(name)`
    * throws `InvalidPathException` for ANY non-ASCII name when the JVM runs
    * with an ASCII `sun.jnu.encoding`, which would silently drop every row
    * with e.g. a Swedish key — a correctness regression vs the reference,
    * whose Python `open()` writes such filenames
    * (`src/program1_generate_markdowns.py:382-388`). Encoding must never be
    * a validity criterion; the forked JVMs additionally run with
    * `-Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8` (build.sbt) so the
    * physical write succeeds too.
    */
  private[sinks] def safeKey(name: String): Boolean =
    name.nonEmpty &&
    !name.contains('/') && !name.contains('\\') && !name.contains('\u0000') &&
      name != ".." && name != "."
}
