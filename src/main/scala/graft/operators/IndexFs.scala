package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The filesystem layer of every persisted-index lifecycle operation
  * (swap/recover/stage probes, layout-dispatch markers, delta listings),
  * resolved through the Hadoop FileSystem API — the same resolution
  * [[graft.sinks.DatasetManifest.hasManifest]] and the shard readers use —
  * so the ANN/admission index lifecycle works on ANY filesystem an index
  * dir can live on (HDFS, S3A, `file:` URIs), not just the local disk a
  * `java.nio.file` call would see.
  *
  * Why this matters at 100 TB: a production index lives on the cluster
  * store. With local-only probes, `recoverDir` silently no-ops on an
  * HDFS URI (crash windows stop self-healing), the `pq_model` layout
  * dispatch reads false so a composed index takes the PLAIN append path
  * and writes rows WITHOUT codes (silent corruption), and rename-based
  * swaps throw. Routing every touch through `Path.getFileSystem` makes
  * the lifecycle URI-faithful; a dedicated spec drives
  * build→append→maintain→rebuild→compact→query through `file:`-scheme
  * URIs (which local-path code cannot resolve), and a grep gate keeps
  * `java.nio.file` out of the lifecycle sources.
  *
  * Resolution uses the active Spark session's Hadoop configuration when
  * one exists (so `fs.defaultFS`, S3 credentials, etc. apply) and falls
  * back to a plain `Configuration` (local + `file:` still resolve) so the
  * swap helpers keep working in non-Spark contexts like test teardown.
  */
object IndexFs {

  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def resolve(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(hadoopConf()), path)
  }

  def exists(p: String): Boolean = {
    val (fs, path) = resolve(p)
    fs.exists(path)
  }

  /** Recursive delete; a no-op when `p` does not exist, LOUD on failure
    * (a swap that silently kept its stale `.old` would corrupt the next
    * crash recovery's rollback decision).
    */
  def deleteRecursive(p: String): Unit = {
    val (fs, path) = resolve(p)
    if (fs.exists(path))
      require(fs.delete(path, true), s"failed to delete $p")
  }

  /** Rename `src` to `dst` on src's filesystem. The swap discipline
    * guarantees `dst` does not exist (Hadoop rename semantics differ per
    * store when it does), and a false return is an error, not a warning —
    * every caller is a commit point.
    */
  def rename(src: String, dst: String): Unit = {
    val (fs, s) = resolve(src)
    require(fs.rename(s, new Path(dst)), s"rename $src -> $dst failed")
  }

  /** Names of the immediate child DIRECTORIES of `p` (empty when `p` is
    * absent) — the delta-index `batch=` listing.
    */
  def subdirNames(p: String): Seq[String] = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Names of the immediate child FILES of `p` (empty when `p` is absent)
    * — the snapshot a read-modify-write rewrite diffs against to detect
    * (and carry) appends that landed during the rewrite.
    */
  def fileNames(p: String): Seq[String] = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** The visible parquet data files under `root`, depth-first through
    * partition dirs in name order, listed lazily. Names starting with `_`
    * or `.` are hidden, as Spark's reader hides them.
    */
  private def dataFiles(fs: FileSystem, root: Path): Iterator[Path] = {
    def visible(s: org.apache.hadoop.fs.FileStatus) =
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    val (files, dirs) = fs.listStatus(root).toSeq.filter(visible)
      .sortBy(_.getPath.getName).partition(_.isFile)
    files.iterator.map(_.getPath).filter(_.getName.endsWith(".parquet")) ++
      dirs.iterator.flatMap(d => dataFiles(fs, d.getPath))
  }

  private def footer[A](file: Path, conf: org.apache.hadoop.conf.Configuration)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try f(reader)
    finally reader.close()
  }

  /** The Spark schema that Spark's writer stored in the footer of the
    * first parquet data file under `p` (depth-first through partition
    * dirs), read on the driver — no Spark job. Index readers take the
    * columns whose type the CALLER chose (the id and vector columns) from
    * it; every other column of an index table has a type fixed by its
    * writer.
    */
  def footerSchema(p: String): org.apache.spark.sql.types.StructType = {
    val conf = hadoopConf()
    val root = new Path(p)
    val file = dataFiles(root.getFileSystem(conf), root).nextOption().getOrElse(
      throw new IllegalStateException(s"no parquet data file under $p"))
    footer(file, conf)(r => org.apache.spark.sql.types.DataType.fromJson(r.getFooter
        .getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The rows of every parquet data file under `p` (through partition
    * dirs), summed from their footers on the driver — no Spark job; the
    * count a Spark read of the dir returns. 0 when `p` is absent or holds
    * no data file (an empty write leaves none).
    */
  def parquetRowsUnder(p: String): Long = {
    val conf = hadoopConf()
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) 0L
    else dataFiles(fs, root).map(f => footer(f, conf)(_.getRecordCount)).sum
  }

  /** `max(coalesce(c, 0))` over the rows of the parquet file `p` for the
    * long column `c`, from the footer's column statistics on the driver —
    * no Spark job; None when the file holds no rows. A file without the
    * column reads as all null. A row group that holds values of `c` but
    * carries no statistics for it is an error naming the file.
    */
  def footerMaxOrZero(p: String, c: String): Option[Long] =
    footer(new Path(p), hadoopConf()) { r =>
      val path = org.apache.parquet.hadoop.metadata.ColumnPath.get(c)
      import scala.jdk.CollectionConverters._
      r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
        b.getColumns.asScala.find(_.getPath == path) match {
          case None => 0L
          case Some(chunk) =>
            val st = chunk.getStatistics
            if (st == null || st.isEmpty)
              throw new IllegalStateException(
                s"$p: column $c holds ${chunk.getValueCount} values but no statistics")
            // an unrecorded null count may hide nulls
            val nullFloor =
              if (!st.isNumNullsSet || st.getNumNulls > 0) 0L else Long.MinValue
            if (st.hasNonNullValue)
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue.max(nullFloor)
            else 0L
        }
      }.maxOption
    }

  /** Write a small UTF-8 text artifact (tokenizer merges, lease markers),
    * overwriting any existing file — resolved through the path's
    * filesystem like every other lifecycle touch, so the artifact can
    * live on the cluster store beside the data it describes.
    */
  def writeUtf8(p: String, content: String): Unit = {
    val (fs, path) = resolve(p)
    val out = fs.create(path, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** CREATE-EXCLUSIVE variant of [[writeUtf8]]: returns false (writing
    * nothing) when the file already exists — the lease-acquire primitive.
    * Atomic on HDFS and local FS (create-no-overwrite is a namenode/
    * syscall-level check); object stores without atomic create degrade to
    * check-then-write, which the lease contract documents.
    */
  def createUtf8(p: String, content: String): Boolean = {
    val (fs, path) = resolve(p)
    val out =
      try fs.create(path, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: java.io.IOException if fs.exists(path) => return false
      }
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    true
  }

  /** Read a small UTF-8 text artifact written by [[writeUtf8]]/
    * [[createUtf8]]. Loud when absent — every caller treats a missing
    * artifact as a distinct branch before reading.
    */
  def readUtf8(p: String): String = {
    val (fs, path) = resolve(p)
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** The store's modification time for `p` (epoch millis) — the
    * stale-lease clock. The STORE's clock, not the writer's: cross-writer
    * skew collapses to one authority.
    */
  def modificationTime(p: String): Long = {
    val (fs, path) = resolve(p)
    fs.getFileStatus(path).getModificationTime
  }

  /** Delete a single file if present (lease release); false when absent. */
  def deleteFile(p: String): Boolean = {
    val (fs, path) = resolve(p)
    fs.exists(path) && fs.delete(path, false)
  }

  /** Advance `p`'s modification time to now (lease renewal heartbeat);
    * false when the file is gone — the caller treats that as "my lease
    * was taken over", never an error to swallow silently.
    */
  def touch(p: String): Boolean = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) false
    else { fs.setTimes(path, System.currentTimeMillis(), -1); true }
  }
}
