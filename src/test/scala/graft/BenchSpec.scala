package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver harness's subset filter, shared by Verify, Bench,
  * ScaleBench and Explain: a typo'd name must fail the run instead of
  * filtering everything away and exiting green.
  */
class BenchSpec extends AnyFunSuite {
  private val universe = Seq("q_c", "q_a", "q_b")

  test("no requested subset gives None: the caller runs its whole universe") {
    assert(Bench.only(universe, None).isEmpty)
  }

  test("known names come back in universe order") {
    assert(Bench.only(universe, Some(Seq("q_b", "q_c", "q_b"))) == Some(Seq("q_c", "q_b")))
  }

  test("unknown names fail and are named") {
    val e = intercept[IllegalArgumentException] {
      Bench.only(universe, Some(Seq("q_a", "q_typo", "q_nope")))
    }
    assert(e.getMessage.contains("q_nope, q_typo"), e.getMessage)
    // a registered query outside a driver's own universe is rejected too
    intercept[IllegalArgumentException](Bench.only(Seq("q_a"), Some(Seq("q_b"))))
  }
}
