package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every harness main that takes query names fails before its session
  * starts when a name is not registered, and says which names were
  * unknown: a typo must not time or print an empty basket.
  */
class QueryNamesSpec extends AnyFunSuite {

  test("Bench fails loudly on an unregistered query name") {
    val e = intercept[IllegalArgumentException] {
      Bench.main(Array("q_pricing_summary", "q_typo"))
    }
    assert(e.getMessage.contains("q_typo"))
    assert(!e.getMessage.contains("q_pricing_summary"))
  }

  test("Show fails loudly on an unregistered query name in both modes") {
    for (mode <- Seq("plan", "rows")) {
      val e = intercept[IllegalArgumentException] {
        Show.main(Array(mode, TestSpark.sf0001, "q_typo", "q_other_typo"))
      }
      assert(e.getMessage.contains("q_typo, q_other_typo"), mode)
    }
    intercept[IllegalArgumentException](Show.main(Array("q_pricing_summary")))
  }

  test("the default baskets name only registered queries") {
    assert(SparkEntry.registered(Bench.headline) == Bench.headline)
    assert(Show.parse(Array("plan"))._3 == Bench.headline)
    val (plan, _, rows) = Show.parse(Array("rows"))
    assert(!plan && rows == Seq("q_pricing_summary"))
  }
}
