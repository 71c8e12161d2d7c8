package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pool

class PoolSpec extends AnyFunSuite {

  test("Pool.runAll returns results in task order") {
    assert(Pool.runAll(2)((1 to 5).map(i => () => i * i)) == Seq(1, 4, 9, 16, 25))
  }

  test("a failing pool task surfaces its own exception class after every task ran") {
    val finished = new AtomicInteger
    val slow = () => { Thread.sleep(200); finished.incrementAndGet(); () }
    val e = intercept[IllegalStateException] {
      Pool.runAll(3)(Seq(slow, () => throw new IllegalStateException("boom"), slow))
    }
    assert(e.getMessage == "boom")
    assert(finished.get == 2)
  }
}
