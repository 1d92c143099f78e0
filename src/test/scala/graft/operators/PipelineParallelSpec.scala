package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class PipelineParallelSpec extends AnyFunSuite {

  test("inParallel runs every task, throws the first failure and suppresses the rest") {
    val ran = new AtomicBoolean(false)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val e = intercept[IllegalStateException] {
      Pipeline.inParallel(
        () => { names.add(Thread.currentThread.getName); throw new IllegalStateException("a") },
        () => { names.add(Thread.currentThread.getName); throw new IllegalStateException("b") },
        () => { names.add(Thread.currentThread.getName); ran.set(true) })
    }
    assert(ran.get)
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
    assert(names.toArray.toSet == Set("graft-parallel-0", "graft-parallel-1", "graft-parallel-2"))
  }
}
