package graft.util

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.ExecutionContext.Implicits.global

class ParallelSpec extends AnyFunSuite {

  test("all returns every value in order") {
    assert(Parallel.all(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
  }

  test("a failure is raised only after every sibling has finished") {
    val done = new AtomicBoolean
    val e = intercept[IllegalStateException](Parallel.all(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); done.set(true) }))
    assert(e.getMessage == "first" && done.get)
  }

  test("of several failures the lowest index is raised") {
    val e = intercept[RuntimeException](Parallel.all[Unit](
      () => (),
      () => { Thread.sleep(200); throw new RuntimeException("second") },
      () => throw new RuntimeException("third")))
    assert(e.getMessage == "second")
  }

  test("settle reports every outcome") {
    val out = Parallel.settle(Seq(() => 1, () => sys.error("boom"), () => 3))
    assert(out(0).get == 1 && out(1).failed.get.getMessage == "boom" && out(2).get == 3)
  }
}
