package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("lineitem rows are a pure function of (seed, order key)") {
    assert(Gen.lines(7, 42) == Gen.lines(7, 42))
    assert((1L to 200L).map(Gen.lines(7, _)) != (1L to 200L).map(Gen.lines(8, _)))
    Gen.lines(7, 42).zipWithIndex.foreach { case (l, i) =>
      assert(l.l_orderkey == 42 && l.l_linenumber == i + 1)
      assert(l.l_quantity >= 1 && l.l_quantity <= 50)
      assert(l.l_extendedprice >= 900 && l.l_extendedprice < 105000)
    }
    assert((1L to 500L).map(k => Gen.lines(7, k).size).toSet == (1 to 7).toSet)
  }

  test("topics are a pure function of the seed") {
    assert(Gen.topics(3, 1, "b", 64) == Gen.topics(3, 1, "b", 64))
    assert(Gen.topics(3, 1, "b", 64) != Gen.topics(4, 1, "b", 64))
    assert(Gen.topics(3, 1, "b", 64) != Gen.topics(3, 2, "b", 64))
    assert(Gen.topic(3, 2, "q", 17) == Gen.topics(3, 2, "q", 18).last)
  }

  test("every aligned group of 4 topics has 10 terms: 2 hot, 4 mid, 4 rare") {
    val hot = Gen.Hot.toSet; val mid = Gen.Mid.toSet; val rare = Gen.Rare.toSet
    for (seed <- 1L to 5L; g <- 0 until 8) {
      val terms = (0 until 4).flatMap(j => Gen.topic(seed, 1, "b", g * 4L + j).text.split(" "))
      assert(terms.size == 10)
      assert(terms.count(hot) == 2 && terms.count(mid) == 4 && terms.count(rare) == 4)
    }
    assert((0L until 8L).map(i => Gen.topic(1, 1, "b", i).text.split(" ").length) ==
      Seq(1, 2, 3, 4, 1, 2, 3, 4))
  }

  test("delta slices are disjoint and contiguous") {
    val slices = (0 until 5).map(Gen.deltaSlice(1, 1000, _))
    assert(slices.head == ((1L, 1001L)))
    slices.sliding(2).foreach { case Seq(a, b) => assert(a._2 == b._1) }
  }

  test("the rare class covers the corpus vocabulary's month and price terms") {
    assert(Gen.Rare.contains("m199501") && Gen.Rare.contains("m200111"))
    assert(Gen.Rare.contains("price9") && Gen.Rare.contains("price1049"))
  }
}
