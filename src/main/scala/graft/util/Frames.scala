package graft.util

import org.apache.spark.sql.DataFrame

/** The one owner of every cached frame in the engine, plus the
  * small-frame materialization helper for eager query builders.
  *
  * A cache has exactly one owner, and the owner is named by the form
  * that made it:
  *  - [[cached]] scopes it to one block: `use` must materialize what it
  *    returns (collect, write, [[localized]], `localCheckpoint(true)`);
  *  - [[deferred]] hands its release to [[DeferredCleanup]], for a
  *    function that returns a lazy plan over its own cache. The release
  *    runs at the enclosing [[DeferredCleanup.scoped]] exit (one
  *    micro-batch) or, outside any scope, at the caller's
  *    [[DeferredCleanup.drain]].
  * Releases never block: the blocks go asynchronously.
  */
object Frames {

  /** Persist `df`, run `use` on it, release it when `use` returns or
    * throws.
    */
  def cached[T](df: DataFrame)(use: DataFrame => T): T = {
    val c = df.persist()
    try use(c) finally { c.unpersist(blocking = false); () }
  }

  /** Persist `df` and enqueue its release with [[DeferredCleanup]]. */
  def deferred(df: DataFrame): DataFrame = {
    val c = df.persist()
    DeferredCleanup.enqueue(() => { c.unpersist(blocking = false); () })
    c
  }

  /** Collect a REPORT-SIZED frame into a local relation. Used by query
    * builders that persist intermediates: materializing the (small)
    * result first lets them release every cache before returning, so
    * nothing persisted outlives the build. Never call on data-sized
    * frames.
    */
  def localized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
