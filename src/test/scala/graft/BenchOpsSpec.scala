package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the headline-ops timing of [[Bench]]: an op that throws
  * is reported under `op_errors` and never as a time.
  */
class BenchOpsSpec extends AnyFunSuite {

  test("an op that throws gets no time: it goes to op_errors, out of the " +
      "total") {
    var cpu = 0.0
    val (times, errors) = Bench.timeOps(Seq("ok1", "bad", "ok2"),
        () => { cpu += 0.5; cpu }) {
      case "bad" => throw new IllegalStateException("no such \"table\"\n")
      case _     => Thread.sleep(5)
    }
    assert(times.map(_._1) == Seq("ok1", "ok2"))
    assert(times.forall(_._2.wall >= 0.005), s"times=$times")
    assert(times.forall(_._2.cpu == 0.5), s"times=$times")
    assert(errors == Seq("bad" ->
      "java.lang.IllegalStateException: no such \"table\"\n"))
    // quotes and the newline escaped: the record stays one JSON line
    val bs = "\\"
    assert(Bench.opErrorsJson(errors) == "\"op_errors\":{\"bad\":\"" +
      "java.lang.IllegalStateException: no such " + bs + "\"table" + bs +
      "\"" + bs + "u000a\"}")
  }

  test("no failed op: no errors") {
    val (times, errors) = Bench.timeOps(Seq("a", "b"), () => 0.0)(_ => ())
    assert(times.map(_._1) == Seq("a", "b"))
    assert(errors.isEmpty)
  }
}
