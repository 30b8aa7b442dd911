package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** [[Frames]] owns every cache: `cached` releases when its block ends,
  * `deferred` at the enclosing [[DeferredCleanup.scoped]] exit or, outside
  * any scope, at [[DeferredCleanup.drain]].
  */
class FramesSpec extends SparkSpec {

  private def frame(seed: Int): DataFrame =
    spark.range(40).selectExpr(s"id * $seed AS v")

  private def isCached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("cached holds the frame inside `use` and releases it on return") {
    val df = frame(3)
    val n = Frames.cached(df) { c =>
      assert(isCached(df), "the frame must be cached inside `use`")
      c.count()
    }
    assert(n === 40L)
    assert(!isCached(df), "cached must release the frame on return")
  }

  test("cached releases the frame when `use` throws") {
    val df = frame(5)
    val e = intercept[IllegalStateException] {
      Frames.cached(df) { c =>
        c.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(!isCached(df), "cached must release the frame on failure")
  }

  test("deferred keeps the frame cached until drain()") {
    DeferredCleanup.drain()
    val df = frame(7)
    assert(Frames.deferred(df).count() === 40L)
    assert(isCached(df), "deferred must not release before drain")
    DeferredCleanup.drain()
    assert(!isCached(df), "drain() must release the deferred frame")
  }

  test("a deferred release inside scoped runs at scope exit, not at " +
      "drain(); releases outside the scope stay queued") {
    DeferredCleanup.drain()
    val (inner, outer) = (frame(11), frame(13))
    Frames.deferred(outer).count()
    DeferredCleanup.scoped {
      Frames.deferred(inner).count()
      assert(isCached(inner))
    }
    assert(!isCached(inner), "the scope must release what it deferred")
    assert(isCached(outer), "a scope must not run the global queue")
    DeferredCleanup.drain()
    assert(!isCached(outer))
  }

  test("scoped releases when its body throws, and nested scopes keep " +
      "their own releases") {
    DeferredCleanup.drain()
    val (a, b) = (frame(17), frame(19))
    intercept[IllegalStateException] {
      DeferredCleanup.scoped {
        Frames.deferred(a).count()
        DeferredCleanup.scoped { Frames.deferred(b).count() }
        assert(!isCached(b), "the inner scope releases at its own exit")
        assert(isCached(a), "the outer scope's release waits for it")
        throw new IllegalStateException("boom")
      }
    }
    assert(!isCached(a), "scoped must release on failure")
  }
}
