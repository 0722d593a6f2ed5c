package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The `distributedOnly` scope alone — no SparkSession: a size that fits
  * every bound reads as "local" outside the scope and "distributed"
  * inside it. */
class LocalDispatchSpec extends AnyFunSuite {

  private def local: Boolean = LocalDispatch.fitsEdges(1L)

  test("the previous state comes back after the body throws") {
    assert(local)
    intercept[IllegalStateException] {
      LocalDispatch.distributedOnly(throw new IllegalStateException("boom"))
    }
    assert(local)
    LocalDispatch.distributedOnly {
      intercept[IllegalStateException] {
        LocalDispatch.distributedOnly(throw new IllegalStateException("x"))
      }
      assert(!local, "an inner throw must leave the outer scope in force")
    }
    assert(local)
  }

  test("nested scopes restore in order") {
    val seen = LocalDispatch.distributedOnly {
      val outer = local
      val inner = LocalDispatch.distributedOnly(local)
      (outer, inner, local)
    }
    assert(seen === ((false, false, false)))
    assert(local)
  }

  test("another thread does not see the scope") {
    @volatile var other = false
    LocalDispatch.distributedOnly {
      val t = new Thread(() => other = local)
      t.start()
      t.join()
      assert(!local)
    }
    assert(other, "the scope leaked into another thread")
  }
}
