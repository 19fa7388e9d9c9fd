package graft.sources

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** Once-per-JVM, once-per-key memo: guard statistics (pair prices,
  * candidate counts, worst-key state products), the floor decisions of
  * [[Tables.floored]] and the artifact writes of [[ArtifactCache]] all
  * run their compute through [[once]].
  *
  * Why not `ConcurrentHashMap.computeIfAbsent`: the compute here is
  * typically a multi-second Spark aggregate, and `computeIfAbsent`
  * holds the map BIN lock for the compute's whole duration — concurrent
  * sessions in one JVM serialize on unrelated keys that hash to the
  * same bin, and any re-entrant compute on the same map throws
  * `IllegalStateException` ("recursive update"). Here the future is
  * installed with a lock-free `putIfAbsent` and the Spark job runs
  * outside any map lock; racing callers on one key share one run, and
  * a failed compute clears the slot so a retry recomputes.
  *
  * Re-entrancy contract (ADVICE r13): different-key nesting on one map
  * is fine (each key has its own slot); SAME-key re-entrancy inside the
  * compute would `join()` the caller's own incomplete future — a
  * deadlock no timeout breaks — so the installing thread is recorded
  * per slot and a same-thread wait on an incomplete slot throws
  * `IllegalStateException` instead, matching what `computeIfAbsent`
  * would have surfaced.
  */
object Memo {
  /** One key's slot: the shared future plus the thread that owns the
    * in-flight compute (for the same-key re-entrancy check). */
  final class Slot[V](val fut: CompletableFuture[V], val owner: Thread)

  type Cache[K, V] = ConcurrentHashMap[K, Slot[V]]

  def newCache[K, V]: Cache[K, V] = new ConcurrentHashMap()

  /** Return the memoized value for `key`, running `compute` at most
    * once per JVM (absent failures). Blocks racers until the one
    * in-flight compute finishes; a failure propagates to every waiter
    * as the ORIGINAL exception (a guard's domain refusal must surface
    * as itself in the racing session too, not as the
    * `CompletionException` that `join` wraps around it — ADVICE r13). */
  def once[K, V](cache: Cache[K, V], key: K)(compute: => V): V = {
    val slot = new Slot(new CompletableFuture[V](), Thread.currentThread())
    val prev = cache.putIfAbsent(key, slot)
    if (prev == null) {
      try slot.fut.complete(compute): Unit
      catch { case e: Throwable =>
        cache.remove(key, slot): Unit
        slot.fut.completeExceptionally(e): Unit
        throw e
      }
      slot.fut.join()
    } else {
      if (!prev.fut.isDone && (prev.owner eq Thread.currentThread()))
        throw new IllegalStateException(
          s"re-entrant Memo.once on in-flight key $key: the compute for " +
            "this key called Memo.once on the same key — joining its own " +
            "future would deadlock")
      try prev.fut.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    }
  }

  /** Non-blocking peek: the completed value for `key`, if any. */
  def peek[K, V](cache: Cache[K, V], key: K): Option[V] = {
    val slot = cache.get(key)
    if (slot != null && slot.fut.isDone && !slot.fut.isCompletedExceptionally)
      Some(slot.fut.join())
    else None
  }
}
