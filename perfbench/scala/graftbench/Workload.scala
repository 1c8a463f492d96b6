package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One measured iteration: a from-empty pass and an incremental pass;
  * `attempted` counts the calls into the program it timed.
  */
final case class IterResult(buildS: Double, updateS: Double, items: Long, loopS: Double,
    firstResultS: Double, attempted: Long)

/** A benchmark workload. `prepare` writes the seeded inputs; `iteration`
  * runs the program on them from empty state and checks every output,
  * throwing [[CheckFailed]] on the first mismatch.
  */
trait Workload {
  def prepare(): Unit
  def iteration(iter: Int, tr: Tracer): IterResult
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
  def same[T](label: String, got: T, want: T): Unit =
    apply(got == want, s"$label: got ${show(got)}, want ${show(want)}")
  private def show(x: Any): String = x match {
    case s: Set[_] if s.size > 8 => s"${s.size} items incl. ${s.take(8).mkString(",")}"
    case other => String.valueOf(other)
  }
}

object Files2 {
  def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
  def write(p: Path, s: String): Unit = write(p, s.getBytes(UTF_8))
  def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
    finally s.close()
  }

  def names(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }

  /** (regular files, bytes) under `p`, recursively. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  /** Watches `dir` from a background thread for the first entry whose name
    * ends with `suffix`; `close()` stops watching and returns the seconds
    * from construction to that sighting (NaN if there was none).
    */
  final class FirstFile(dir: Path, suffix: String) {
    private val t0 = System.nanoTime()
    @volatile private var seenAt = -1L
    @volatile private var stop = false
    private val thread = new Thread(() => {
      while (!stop && seenAt < 0) {
        if (Files.isDirectory(dir)) {
          val ds = try Files.newDirectoryStream(dir) catch { case _: java.io.IOException => null }
          if (ds != null) try {
            val it = ds.iterator()
            while (seenAt < 0 && it.hasNext)
              if (it.next().getFileName.toString.endsWith(suffix)) seenAt = System.nanoTime()
          } catch { case _: java.io.IOException | _: java.nio.file.DirectoryIteratorException => ()
          } finally ds.close()
        }
        if (seenAt < 0) Thread.sleep(2)
      }
    }, "first-file-watch")
    thread.setDaemon(true)
    thread.start()
    def close(): Double = {
      stop = true
      thread.join()
      if (seenAt < 0) Double.NaN else (seenAt - t0) / 1e9
    }
  }
}
