package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Eager

class EagerSpec extends AnyFunSuite {

  test("a failed body 1 is rethrown only after every sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Eager.all[Int](
        () => throw new IllegalStateException("body 1"),
        () => { Thread.sleep(300); siblingDone.set(true); 2 },
        () => throw new IllegalArgumentException("body 3"))
    }
    assert(e.getMessage == "body 1")
    assert(siblingDone.get, "all() rethrew while a sibling was still running")
  }

  test("an interrupt during the join is not lost") {
    val siblingStarted = new CountDownLatch(1)
    @volatile var result: Seq[Int] = Nil
    @volatile var flagAfter = false
    val caller = new Thread(() => {
      result = Eager.all(() => 1, () => { siblingStarted.countDown(); Thread.sleep(500); 2 })
      flagAfter = Thread.interrupted()
    })
    caller.start()
    siblingStarted.await()
    Thread.sleep(50)
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(result == Seq(1, 2), "the join gave up on the sibling")
    assert(flagAfter, "the interrupt flag was not restored")
  }

  test("results come back in argument order") {
    // later bodies finish first
    val bodies = (0 until 5).map(i => () => { Thread.sleep(40L * (5 - i)); i })
    assert(Eager.all(bodies: _*) == (0 until 5))
    assert(Eager.both("a", 1) == (("a", 1)))
    assert(Eager.all[Int]().isEmpty)
  }
}
