package perfbench

import scala.util.control.NonFatal

/**
 * The benchmark's own tests: arithmetic, failure accounting, oracles and
 * input determinism. No Spark session is needed. Run with
 * `python3 perfbench/run.py --self-test`; exits non-zero on any failure.
 */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case NonFatal(e) => failures += 1; println(s"FAIL $name: $e") }

  private def eq(got: Any, want: Any): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  private def throws(body: => Any): Unit = {
    val threw = try { body; false } catch { case NonFatal(_) => true }
    if (!threw) throw new AssertionError("expected an exception")
  }

  def main(args: Array[String]): Unit = {
    test("percentile interpolates between the closest ranks") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      near(Stats.percentile(xs, 0), 1.0)
      near(Stats.percentile(xs, 50), 2.5)
      near(Stats.percentile(xs, 90), 3.7)
      near(Stats.percentile(xs, 100), 4.0)
      near(Stats.median(Seq(7.0)), 7.0)
      near(Stats.percentile((1 to 100).map(_.toDouble), 90), 90.1)
    }
    test("percentile rejects an empty sample and an out-of-range rank") {
      throws(Stats.percentile(Nil, 50))
      throws(Stats.percentile(Seq(1.0), 101))
    }
    test("rates are per second of measured time") {
      near(Stats.perSecond(10, 2000000000L), 5.0)
      near(Stats.perSecond(3, 500000000L), 6.0)
      throws(Stats.perSecond(1, 0L))
    }
    test("slope is the least-squares fit and 0 without spread in x") {
      near(Stats.slope(Seq(1.0 -> 3.0, 2.0 -> 5.0, 4.0 -> 9.0)), 2.0)
      near(Stats.slope(Seq(1.0 -> 3.0, 1.0 -> 5.0)), 0.0)
    }
    test("an operation that throws is counted as failed and not timed") {
      val ops = new Ops
      val r = ops.timed("boom")(throw new IllegalStateException("boom"))(_ => None)
      eq(r, None)
      eq((ops.attempted, ops.failed), (1L, 1L))
      if (!ops.failures.head.contains("boom")) throw new AssertionError(ops.failures.toString)
    }
    test("an operation whose check fails is counted as failed and not timed") {
      val ops = new Ops
      eq(ops.timed("wrong")(42)(x => if (x == 42) Some("wrong answer") else None), None)
      eq((ops.attempted, ops.failed), (1L, 1L))
    }
    test("a passing operation is timed") {
      val ops = new Ops
      val Some((v, ns)) = ops.timed("sleep") { Thread.sleep(20); "done" }(_ => None)
      eq(v, "done")
      if (ns < 20000000L) throw new AssertionError(s"timed $ns ns for a 20 ms sleep")
      eq((ops.attempted, ops.failed), (1L, 0L))
    }
    test("brute force ranks by distance, ties to the smaller id") {
      val vecs = Array(Array(0f, 0f), Array(3f, 0f), Array(1f, 0f), Array(-1f, 0f))
      val ids = Array(10L, 11L, 12L, 13L)
      eq(Oracle.topK(Array(0f, 0f), ids, vecs, 3).toSeq, Seq(10L, 12L, 13L))
      eq(Oracle.topK(Array(0f, 0f), ids, vecs, 2, _ != 10L).toSeq, Seq(12L, 13L))
      near(Oracle.recall(Seq(10L, 99L), Array(10L, 12L)), 0.5)
    }
    test("the same seed gives identical inputs; another seed does not") {
      Main.workloads.foreach { w =>
        val a = w.inputsFingerprint(7L)
        eq(w.inputsFingerprint(7L), a)
        if (w.inputsFingerprint(8L) == a) throw new AssertionError(s"${w.name}: seeds 7 and 8 agree")
      }
    }
    test("curate plants every duplicate kind and a low-quality share") {
      val in = Curate.inputs(3L)
      eq(in.planted.map(_.kind).distinct.sorted.toSeq, Seq("exact", "near", "semantic"))
      in.planted.filter(_.kind == "exact").foreach(p => eq(in.texts(p.id.toInt), in.texts(p.source.toInt)))
      eq(in.texts.count(_.startsWith("spam spam")) > 0, true)
    }
    test("metric names are unique and within the contract's alphabet") {
      val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
      eq(names.distinct.length, names.length)
      names.foreach(n => if (!n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")) throw new AssertionError(n))
    }
    test("JSON rendering escapes strings and refuses non-finite numbers") {
      eq(Json.render(Map("a\"b" -> Seq(1, 2.5, true))), "{\"a\\\"b\": [1, 2.5, true]}")
      throws(Json.render(Double.NaN))
    }
    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
