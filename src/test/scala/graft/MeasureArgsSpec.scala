package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Measure`'s command line is checked whole before a session starts: a
  * run count below 1 or not an integer, and an unknown query, are refused. */
class MeasureArgsSpec extends AnyFunSuite {
  private def parse(args: String) = Measure.parse(args.split(" ").toList)

  test("time: --runs N, comma-separated dirs, named or all queries") {
    assert(parse("time --runs 2 /a,/b walread waldecode") ==
      Right(Measure.Time(Seq("/a", "/b"), Seq("walread", "waldecode"), 2)))
    assert(parse("time /a") == Right(Measure.Time(Seq("/a"), SparkEntry.queries.keys.toSeq.sorted, 3)))
    assert(parse("explain /a walread") == Right(Measure.Explain("/a", Seq("walread"))))
    assert(parse("amplify /s /o 10 events part") ==
      Right(Measure.Amplify("/s", "/o", 10, Seq("events", "part"))))
  }

  test("a run count below 1 or not an integer is refused") {
    for (n <- Seq("0", "-1", "x", "1.5", "")) {
      val got = Measure.parse(List("time", "--runs", n, "/a", "walread"))
      assert(got.left.exists(_.contains("--runs")), s"--runs '$n': $got")
    }
    assert(parse("time --runs 2").isLeft)
    assert(parse("amplify /s /o 0 events").isLeft)
  }

  test("an unknown query or verb is refused") {
    assert(parse("time /a walread q_no_such").left.exists(_.contains("unknown query q_no_such")))
    assert(parse("explain /a q_no_such").isLeft)
    assert(parse("frobnicate /a").isLeft)
  }
}
