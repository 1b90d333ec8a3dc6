package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  /** An A/B whose one arm always ran first would inherit a warmer JIT
    * and "win" a null test; the pair order must balance the arms. */
  test("abba pair order: an even count, each arm first in half the pairs") {
    val order = Measure.PairOrder
    assert(order.nonEmpty && order.size % 2 === 0)
    assert(order.count(identity) === order.size / 2)
  }
}
