package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchPhasesSpec extends AnyFunSuite {

  test("withPhases enables phase attribution only inside its scope, even when the body throws") {
    assert(!BenchPhases.enabled)
    assert(BenchPhases.withPhases(BenchPhases.enabled))
    assert(!BenchPhases.enabled, "the flag outlived its scope")
    intercept[IllegalStateException] {
      BenchPhases.withPhases(throw new IllegalStateException("measurement failed"))
    }
    assert(!BenchPhases.enabled, "a failed measurement left the flag on")
    // nested scopes restore the enclosing setting, not a blanket off
    BenchPhases.withPhases {
      BenchPhases.withPhases(())
      assert(BenchPhases.enabled)
    }
    assert(!BenchPhases.enabled)
  }
}
