package graft

import graft.operators.Endgame
import org.scalatest.funsuite.AnyFunSuite

/** The one endgame gate: the budget boundary, and the forced distributed
  * scope's nesting, exception safety and thread confinement. */
class EndgameSpec extends AnyFunSuite {

  test("local() admits sizes up to the budget, and Budget + 1 is distributed") {
    assert(Endgame.local())
    assert(Endgame.local(0L, Endgame.Budget))
    assert(!Endgame.local(Endgame.Budget + 1))
    assert(!Endgame.local(0L, Endgame.Budget + 1))
  }

  test("the forced scope nests and restores after an exception") {
    Endgame.distributed {
      assert(!Endgame.local() && !Endgame.local(0L))
      Endgame.distributed(assert(!Endgame.local()))
      assert(!Endgame.local(), "leaving the inner scope reopened the gate")
    }
    assert(Endgame.local())
    intercept[IllegalStateException] {
      Endgame.distributed(throw new IllegalStateException("boom"))
    }
    assert(Endgame.local(), "an exception left the gate forced")
  }

  test("a thread running alongside the forced scope keeps the default gate") {
    val inside = new java.util.concurrent.CountDownLatch(1)
    val checked = new java.util.concurrent.CountDownLatch(1)
    @volatile var seen: Option[Boolean] = None
    Endgame.distributed {
      // created inside the scope: an inheritable thread-local would leak
      val other = new Thread(() => {
        inside.await()
        seen = Some(Endgame.local(1L))
        checked.countDown()
      })
      other.start()
      inside.countDown()
      assert(checked.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!Endgame.local(1L))
      other.join()
    }
    assert(seen.contains(true), s"the other thread saw the forced scope: $seen")
  }
}
