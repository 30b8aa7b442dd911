package graft.util

/** Post-measurement cleanup queue.
  *
  * Some teardown work protects the NEXT query, not the one that ran —
  * the canonical case is unloading finished streaming queries' state
  * stores ([[org.apache.spark.sql.graft.StateStoreShim]]): the retained
  * provider maps tax LATER batch queries' GC, but `StateStore.stop()`
  * itself costs a few hundred ms of thread-pool shutdown. Running it
  * inside a timed gate query charges that cost to the wrong query
  * (measured +0.4-0.5s on every composed streaming gate in r6).
  *
  * The other producer is [[Frames.deferred]]: the release of a cache
  * under a lazily returned plan, which only the consumer knows is done.
  *
  * So producers `enqueue` the teardown and the measurement harnesses
  * ([[graft.Bench]], [[graft.Verify]], the spec base) `drain` it AFTER
  * their timing/compare boundary. Draining is idempotent and re-entrant
  * (concurrent drains each pop distinct thunks); a thunk that throws is
  * dropped, not retried — cleanup is best-effort by definition.
  *
  * A library caller that consumes a lazily returned result drains after
  * consuming it; until then the pending releases hold their caches.
  *
  * A release enqueued inside [[scoped]] belongs to that scope instead
  * and runs when the scope exits, on the same thread: a micro-batch runs
  * in one scope, so it leaves no cache behind however long the stream
  * runs. Outside a scope a release goes to the global queue.
  */
object DeferredCleanup {
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  private val scope =
    new ThreadLocal[java.util.ArrayDeque[() => Unit]]

  def enqueue(f: () => Unit): Unit = scope.get match {
    case null => pending.add(f); ()
    case s => s.add(f); ()
  }

  /** Run `body`; every release it enqueues runs when it returns or
    * throws.
    */
  def scoped[T](body: => T): T = {
    val outer = scope.get
    val mine = new java.util.ArrayDeque[() => Unit]()
    scope.set(mine)
    try body
    finally { scope.set(outer); runAll(mine) }
  }

  /** Run and clear every pending thunk. */
  def drain(): Unit = runAll(pending)

  private def runAll(q: java.util.Queue[() => Unit]): Unit = {
    var t = q.poll()
    while (t != null) {
      try t() catch { case _: Exception => () }
      t = q.poll()
    }
  }
}
