package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def op(s: Long, e: Long) = Span(1, 0, "op", "search", s, e)
  private def job(s: Long, e: Long) = Span(-1, 1, "job", "job", s, e)

  test("self time without children is the whole span") {
    assert(Span.selfMs(op(100, 400), Nil) == 300)
  }

  test("disjoint child jobs are subtracted one by one") {
    assert(Span.selfMs(op(0, 1000), Seq(job(100, 200), job(500, 800))) == 600)
  }

  test("overlapping child jobs count once") {
    // [100,400) ∪ [300,600) ∪ [550,700) = [100,700): 600 ms covered
    assert(Span.selfMs(op(0, 1000), Seq(job(300, 600), job(100, 400), job(550, 700))) == 400)
    // nested and identical intervals
    assert(Span.selfMs(op(0, 1000), Seq(job(100, 900), job(200, 300), job(100, 900))) == 200)
    // touching intervals merge without double counting
    assert(Span.coveredMs(0, 1000, Seq((100L, 200L), (200L, 300L))) == 200)
  }

  test("children are clipped to the parent") {
    assert(Span.selfMs(op(100, 200), Seq(job(50, 150), job(190, 400))) == 40)
    assert(Span.selfMs(op(100, 200), Seq(job(0, 50), job(300, 400))) == 100)
  }
}
