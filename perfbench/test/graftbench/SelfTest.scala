package graftbench

import graft.enrich.{EnrichConfig, PromptTemplate, RetryingLlmCaller}
import graft.functions.TemplateRender

/** The benchmark's own tests: generator determinism, the mock LLM's exact
  * failure sets, and the recall and self-time arithmetic. No Spark session.
  *
  * {{{ python3 perfbench/test.py }}}
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("school CSV: 122 columns, same seed same bytes, other seed other bytes") {
      eq(SchoolGen.Header.size, 122)
      eq(SchoolGen.Header.distinct.size, 122)
      val a = SchoolGen.csv(SchoolGen.base(7, 44))
      eq(a.toSeq, SchoolGen.csv(SchoolGen.base(7, 44)).toSeq)
      assert(a.toSeq != SchoolGen.csv(SchoolGen.base(8, 44)).toSeq)
      eq(a.take(3).toSeq, "﻿".getBytes("UTF-8").toSeq) // BOM
    }

    test("school CSV: one duplicate code, N/A holes, quoted cells, '/' in names") {
      val rows = SchoolGen.base(3, 44)
      eq(rows.size, 45)
      eq(rows.map(_.code).distinct.size, 44)
      val text = new String(SchoolGen.csv(rows), "UTF-8")
      assert(text.contains(";N/A;") || text.contains(";n/a;"))
      assert(text.contains("\""))
      assert(SchoolGen.Header.exists(_.contains("/")))
    }

    test("appended schools do not disturb the base rows") {
      eq(SchoolGen.appended(5, 44, 3).map(_.code),
        (44 until 47).map(SchoolGen.school(5, _).code))
      eq(SchoolGen.base(5, 44).take(44), (0 until 44).map(SchoolGen.school(5, _)))
    }

    test("markdown template: 110 distinct placeholders, all rendered") {
      val t = SchoolGen.markdownTemplate
      eq(TemplateRender.extractPlaceholders(t).size, 110)
      val md = SchoolGen.expectedMarkdown(t, SchoolGen.school(1, 0))
      assert(TemplateRender.PlaceholderPattern.findFirstIn(md).isEmpty, md)
      assert(md.contains(s"Skolkod: ${SchoolGen.school(1, 0).code}"))
    }

    test("WARC, documents and vectors: same seed same bytes") {
      val (a, n) = WarcGen.snapshot(4, 0, 30, 3, 2)
      val (b, m) = WarcGen.snapshot(4, 0, 30, 3, 2)
      eq(n, m)
      eq(a.map(_.toSeq), b.map(_.toSeq))
      assert(WarcGen.snapshot(5, 0, 30, 3, 2)._1.map(_.toSeq) != a.map(_.toSeq))
      eq(WarcGen.doc(4, 17), WarcGen.doc(4, 17))
      assert(WarcGen.doc(4, 17).endsWith(" " + WarcGen.token(17)))
      eq(WarcGen.queryTerms(4, 3), WarcGen.queryTerms(4, 3))
      eq(VecGen.vector(4, 9, 5).toSeq, VecGen.vector(4, 9, 5).toSeq)
      eq(VecGen.vector(4, 9).length, VecGen.Dim)
    }

    test("fault picks: ~1% permanent (>= 1), ~3% transient (>= 2), disjoint, seeded") {
      val keys = (0 until 200).map(i => s"k$i")
      val f = Faults.pick(9, keys)
      eq(f.permanent.size, 2)
      eq(f.transient.size, 6)
      assert(f.permanent.intersect(f.transient.keySet).isEmpty)
      assert(f.transient.values.forall(n => n == 1 || n == 2))
      eq(f, Faults.pick(9, keys.reverse))
      val small = Faults.pick(9, keys.take(45))
      eq((small.permanent.size, small.transient.size), (1, 2))
    }

    test("mock transport: exact failure sets, retries and recorded backoff") {
      val faults = Faults(Set("a"), Map("b" -> 1, "c" -> 2))
      val config = EnrichConfig()
      val caller = new RetryingLlmCaller(new BenchTransport(faults, 0L, config.maxRetries),
        config, BenchTransport.sleeper)
      LlmRecorder.reset()
      val ok = Seq("a", "b", "c", "d").map { k =>
        k -> caller.call(PromptTemplate.buildPayload(SchoolGen.PromptTemplate,
          s"# Skola\n\nSkolkod: $k\n")).ok
      }.toMap
      eq(ok, Map("a" -> false, "b" -> true, "c" -> true, "d" -> true))
      eq(LlmRecorder.calls.get, 10L) // 4 + 2 + 3 + 1
      eq(LlmRecorder.retries.get, 6L)
      eq(LlmRecorder.backoffSleepMs.get, 7000L + 1000L + 3000L)
      eq(LlmRecorder.limiterSleepMs.get, 0L)
      eq(LlmRecorder.calledKeys, Set("a", "b", "c", "d"))
    }

    test("interval union and self time") {
      near(Intervals.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10), 4.0)
      near(Intervals.unionLength(Seq((-1.0, 1.0), (9.0, 12.0)), 0, 10), 2.0)
      near(Intervals.unionLength(Seq((2.0, 3.0), (0.0, 8.0)), 0, 10), 8.0)
      near(Intervals.unionLength(Nil, 0, 10), 0.0)
      near(Intervals.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 4.0))), 7.0)
      near(Intervals.selfTime(0, 10, Seq((11.0, 12.0))), 10.0)
    }

    test("recall at 10") {
      near(Recall.hits(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 5L, 6L)), 2.0)
      near(Recall.hits(Nil, Seq(1L)), 0.0)
      near(Recall.atK(Seq(Seq(1L, 2L) -> Seq(1L, 3L), Seq(7L) -> Seq(7L))), 2.0 / 3.0)
    }

    test("median") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      near(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
