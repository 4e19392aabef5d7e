package graft

import org.scalacheck.{Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.Assertions

/** Runs a ScalaCheck property inside a ScalaTest test: fixed seed (a
  * failure reproduces on rerun), one worker, and the shrunk
  * counterexample in the assertion message. */
object PropCheck extends Assertions {
  def check(p: Prop, minSuccessful: Int, seed: Long = 1L): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(seed)
      .withWorkers(1)
    val r = Test.check(params, p)
    assert(r.passed, Pretty.pretty(r, Pretty.Params(2)))
  }
}
