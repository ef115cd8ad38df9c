package graftbench

import org.scalatest.funsuite.AnyFunSuite

class CallsSpec extends AnyFunSuite {
  test("a throwing call is counted as failed and the run continues") {
    val calls = new Calls(new Tracer)
    val first = calls.call("operators:boom")(throw new IllegalStateException("planted"))
    val second = calls.call("operators:ok")(41 + 1)
    assert(first.isEmpty)
    assert(second.contains(42))
    assert(calls.attempted == 2)
    assert(calls.failed == 1)
    assert(calls.errors.head.contains("planted"))
    assert(calls.samples.map(_._1).toList == List("operators:ok"))
  }

  test("a failed output check counts as a failure but not as an attempt") {
    val calls = new Calls(new Tracer)
    calls.call("ml:fit")(())
    calls.check("auc", ok = false, "AUC 0.4 below floor 0.8")
    calls.check("rows", ok = true, "unused")
    assert(calls.attempted == 1)
    assert(calls.failed == 1)
    assert(calls.errors == Seq("check auc failed: AUC 0.4 below floor 0.8"))
  }

  test("ROC AUC counts ties half") {
    assert(EhrClassify.auc(Seq(1 -> 0.9, 0 -> 0.1)) == 1.0)
    assert(EhrClassify.auc(Seq(1 -> 0.1, 0 -> 0.9)) == 0.0)
    assert(EhrClassify.auc(Seq(1 -> 0.5, 0 -> 0.5)) == 0.5)
    assert(EhrClassify.auc(Seq(1 -> 0.8, 1 -> 0.4, 0 -> 0.6, 0 -> 0.2)) == 0.75)
  }
}
