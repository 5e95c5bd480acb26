package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.contracts.CompileCache
import graft.engine.SpanDocs
import graft.functions.ContractCheck
import graft.gen.SpanGen
import org.apache.spark.sql.internal.SQLConf

/** `CompileCache.memo` runs builds outside the map's lock: concurrent
  * misses on different keys build in parallel, and a build may itself
  * call `memo`. A compile is keyed by the conf its folds depend on. */
class CompileCacheSpec extends SparkTestBase {

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

  test("rowFirstViolation: repeated calls miss 0 times; toggling ANSI " +
       "adds one entry") {
    val docs = SpanGen.docs(spark, 10, 1)
    def call(): Unit =
      ContractCheck.rowFirstViolation(docs, SpanDocs.contract)
    CompileCache.clear() // below the LRU bound, so a miss grows the size
    call()
    val warm = CompileCache.size
    call(); call()
    assert(CompileCache.size == warm)
    val key = SQLConf.ANSI_ENABLED.key
    val saved = spark.conf.get(key)
    spark.conf.set(key, (!saved.toBoolean).toString)
    try {
      call(); call()
      assert(CompileCache.size == warm + 1)
    } finally spark.conf.set(key, saved)
    call()
    assert(CompileCache.size == warm + 1)
  }
}
