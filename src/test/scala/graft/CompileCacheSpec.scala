package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.contracts.CompileCache
import org.scalatest.funsuite.AnyFunSuite

/** `CompileCache.memo` runs builds outside the map's lock: concurrent
  * misses on different keys build in parallel, and a build may itself
  * call `memo`. */
class CompileCacheSpec extends AnyFunSuite {

  test("memo: builds of different keys run concurrently") {
    val bothBuilding = new CountDownLatch(2)
    def build(): java.lang.Boolean = {
      bothBuilding.countDown()
      bothBuilding.await(10, TimeUnit.SECONDS)
    }
    val (k1, k2) = (new Object, new Object)
    val other = new Thread(() => { CompileCache.memo(k2)(build()); () })
    other.start()
    val sawOther = CompileCache.memo(k1)(build())
    other.join()
    assert(sawOther, "the second build never started while the first ran")
    assert(CompileCache.memo[java.lang.Boolean](k2)(false))
  }

  test("memo: a build may memoize another key") {
    val (outer, inner) = (new Object, new Object)
    val v = CompileCache.memo(outer) {
      CompileCache.memo(inner)("inner") + "+outer"
    }
    assert(v == "inner+outer")
    assert(CompileCache.memo(inner)("rebuilt") == "inner")
    assert(CompileCache.memo(outer)("rebuilt") == "inner+outer")
  }
}
