package graft.sinks

import graft.SparkSpec

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** K1/K2 sink hardening: data-derived keys must not escape the output
  * directory (keys come straight from CSV SchoolCode values), and validation
  * is purely lexical — a non-ASCII key (Swedish school names) must never be
  * rejected or dropped on encoding grounds (reference parity:
  * `src/program1_generate_markdowns.py:382-388` writes such filenames).
  */
class KeyedFileSinkSpec extends SparkSpec {
  import spark.implicits._

  test("safeKey rejects traversal, separators and NUL; accepts plain and non-ASCII names") {
    assert(KeyedFileSink.safeKey("A100.md"))
    assert(KeyedFileSink.safeKey("skola åäö 12.json"))
    assert(KeyedFileSink.safeKey("..md")) // legal in-dir name, not a traversal
    assert(!KeyedFileSink.safeKey("../evil.md"))
    assert(!KeyedFileSink.safeKey("a/b.md"))
    assert(!KeyedFileSink.safeKey("a\\b.md"))
    assert(!KeyedFileSink.safeKey(".."))
    assert(!KeyedFileSink.safeKey("."))
    assert(!KeyedFileSink.safeKey("x\u0000y.md"))
    assert(!KeyedFileSink.safeKey("/etc/passwd"))
    assert(!KeyedFileSink.safeKey(""))
  }

  test("write skips unsafe keys and never writes outside outDir") {
    val parent = Files.createTempDirectory("sink_safe")
    val out = parent.resolve("out").toString
    val df = Seq(
      ("GOOD1", "fine"),
      ("../escape", "evil"),
      ("sub/dir", "evil"),
      ("..", "evil")).toDF("k", "v")
    // the raw key ".." is validated BEFORE the suffix is appended, so it is
    // rejected even though ".." + ".md" == "..md" would be a legal filename
    val written = KeyedFileSink.write(df, "k", "v", out, ".md")
    assert(written == 1)
    assert(Files.exists(Paths.get(out, "GOOD1.md")))
    assert(!Files.exists(parent.resolve("escape.md")))
    // nothing but the good file (and no stray temp files) in the tree
    val all = Files.walk(parent).filter(Files.isRegularFile(_))
      .map[String](_.getFileName.toString).toArray.toSeq
    assert(all == Seq("GOOD1.md"))
  }

  test("exactly-once under task retries: attempt-0 crash mid-partition leaves " +
      "no torn, missing or duplicate files") {
    // The test session runs local[4, 2] (one retry). A udf crashes the FIRST
    // attempt of two of the four tasks partway through their row stream —
    // after some files are already renamed into place — then the retry
    // replays the whole partition. Exactly-once here means: every key's file
    // exists with its full content (last rename wins, content deterministic
    // per key), no temp droppings are visible afterwards, and the written
    // accumulator counts only the successful attempts.
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("sink_retry").resolve("out").toString
    val n = 40
    val crashOnFirstAttempt = udf { (k: String) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && k.toLong % 20 == 19)
        throw new RuntimeException("injected task failure (spec)")
      k
    }
    val df = spark.range(0, n).select(
      crashOnFirstAttempt(col("id").cast("string")).as("k"),
      concat(lit("content-"), col("id")).as("v"))
    val written = KeyedFileSink.write(df, "k", "v", out, ".md")
    assert(written == n, s"accumulator double- or under-counted: $written")
    val files = new java.io.File(out).listFiles().map(_.getName).toSeq
    assert(files.count(_.endsWith(".md")) == n, s"expected $n files, got $files")
    assert(!files.exists(_.contains(".tmp")), s"temp droppings visible: $files")
    for (i <- 0 until n) {
      val content = new String(
        Files.readAllBytes(Paths.get(out, s"$i.md")), StandardCharsets.UTF_8)
      assert(content == s"content-$i", s"torn write for key $i: '$content'")
    }
  }

  test("write physically writes files for non-ASCII keys") {
    val parent = Files.createTempDirectory("sink_utf8")
    val out = parent.resolve("out").toString
    val key = "skola åäö 12"
    val df = Seq((key, "svensk skola éü")).toDF("k", "v")
    val written = KeyedFileSink.write(df, "k", "v", out, ".md")
    assert(written == 1)
    val target = Paths.get(out).resolve(key + ".md")
    assert(Files.exists(target))
    val content = new String(Files.readAllBytes(target), StandardCharsets.UTF_8)
    assert(content == "svensk skola éü")
  }

  test("writeAll: one pass, per-output counts; a null value skips only its output") {
    val parent = Files.createTempDirectory("sink_multi")
    val md = parent.resolve("md").toString
    val json = parent.resolve("json").toString
    val df = Seq[(String, String, String, String)](
      ("A", "a-md", "a-ok", null),
      ("B", null, null, "b-fail"),
      ("C", "c-md", null, null),
      ("D", null, null, null)).toDF("k", "md", "ok", "fail")
    val w = KeyedFileSink.writeAll(df, "k", Seq(
      KeyedFileSink.Output("md", md, ".md"),
      KeyedFileSink.Output("ok", json, ".json"),
      KeyedFileSink.Output("fail", json, "_FAILED.json")))
    assert(w == KeyedFileSink.Written(4, Seq(2, 1, 1)))
    def names(d: String) = new java.io.File(d).listFiles().map(_.getName).toSet
    assert(names(md) == Set("A.md", "C.md"))
    assert(names(json) == Set("A.json", "B_FAILED.json"))
    assert(new String(Files.readAllBytes(Paths.get(json, "B_FAILED.json")),
      StandardCharsets.UTF_8) == "b-fail")
  }

  test("writeAll rejects an unsafe key for every output, and still counts its row") {
    val parent = Files.createTempDirectory("sink_multi_safe")
    val a = parent.resolve("a").toString
    val b = parent.resolve("b").toString
    val df = Seq(("GOOD", "x", "y"), ("../escape", "x", "y"), ("..", "x", "y"))
      .toDF("k", "va", "vb")
    val w = KeyedFileSink.writeAll(df, "k", Seq(
      KeyedFileSink.Output("va", a, ".md"), KeyedFileSink.Output("vb", b, ".json")))
    assert(w == KeyedFileSink.Written(3, Seq(1, 1)))
    import scala.jdk.CollectionConverters._
    val all = Files.walk(parent).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => parent.relativize(p).toString).toSeq.sorted
    assert(all == Seq("a/GOOD.md", "b/GOOD.json"))
  }

  test("writeAll sweeps orphan temp files in every output dir") {
    val parent = Files.createTempDirectory("sink_multi_sweep")
    val a = Files.createDirectories(parent.resolve("a"))
    val b = Files.createDirectories(parent.resolve("b"))
    // what a crashed task attempt leaves behind
    Seq(a, b).foreach(d => Files.createTempFile(d, ".graft", ".tmp"))
    val df = Seq(("K", "x", "y")).toDF("k", "va", "vb")
    KeyedFileSink.writeAll(df, "k", Seq(
      KeyedFileSink.Output("va", a.toString, ".md"),
      KeyedFileSink.Output("vb", b.toString, ".json")))
    assert(a.toFile.list().toSeq == Seq("K.md"))
    assert(b.toFile.list().toSeq == Seq("K.json"))
  }

  test("writeAll is exactly-once under task retries for a two-output pass") {
    // as the single-output retry spec: the first attempt of two of the four
    // tasks crashes after some of its files are renamed into place
    import org.apache.spark.sql.functions._
    val parent = Files.createTempDirectory("sink_multi_retry")
    val a = parent.resolve("a").toString
    val b = parent.resolve("b").toString
    val n = 40
    val crashOnFirstAttempt = udf { (k: String) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && k.toLong % 20 == 19)
        throw new RuntimeException("injected task failure (spec)")
      k
    }
    val df = spark.range(0, n).select(
      crashOnFirstAttempt(col("id").cast("string")).as("k"),
      concat(lit("a-"), col("id")).as("va"),
      concat(lit("b-"), col("id")).as("vb"))
    val w = KeyedFileSink.writeAll(df, "k", Seq(
      KeyedFileSink.Output("va", a, ".md"), KeyedFileSink.Output("vb", b, ".json")))
    assert(w == KeyedFileSink.Written(n, Seq(n, n)),
      s"accumulators double- or under-counted: $w")
    for ((dir, prefix, suffix) <- Seq((a, "a-", ".md"), (b, "b-", ".json"))) {
      val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
      assert(files.count(_.endsWith(suffix)) == n, s"expected $n files, got $files")
      assert(!files.exists(_.contains(".tmp")), s"temp droppings visible: $files")
      for (i <- 0 until n) {
        val content = new String(
          Files.readAllBytes(Paths.get(dir, s"$i$suffix")), StandardCharsets.UTF_8)
        assert(content == s"$prefix$i", s"torn write for key $i: '$content'")
      }
    }
  }
}
