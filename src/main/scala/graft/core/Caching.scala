package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-wide registry of DataFrames persisted inside operators, so
  * long-lived sessions can reclaim storage memory deterministically.
  *
  * Operators that must persist an intermediate (LSH signatures, IVF
  * assignments, shingle sets) register it here via `persistTracked`;
  * harness loops (Bench / Verify, or any caller running many one-shot
  * queries) call `releaseAll()` after materializing each result. Without
  * this, every near-dup/ANN query leaks its cached blocks for the
  * lifetime of the session (spillable, but storage memory still shrinks
  * run over run).
  */
object Caching {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Per-thread stack of active `scopedRelease` collectors: a frame
    * tracked while a scope is open on THIS thread also registers with
    * that scope, so the scope releases exactly its own persists even
    * when other threads (concurrent streaming queries) track frames at
    * the same time. */
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[Dataset[_]]]] {
      override def initialValue: List[scala.collection.mutable.ArrayBuffer[Dataset[_]]] = Nil
    }

  /** Persist `ds` at `level` and register it for later `releaseAll`. */
  def persistTracked[T](
      ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val p = ds.persist(level)
    tracked.add(p)
    scopes.get() match {
      case head :: _ => head += p
      case Nil =>
    }
    p
  }

  /** [[persistTracked]] + immediate materialization. Use when the
    * cached frame feeds SEVERAL consumers whose jobs are submitted
    * concurrently (broadcast-exchange futures, AQE stage submission):
    * a lazily-persisted frame gives every concurrent consumer a cache
    * MISS and each recomputes the full uncached plan in parallel —
    * observed as "Block rdd_N already exists" warnings and N× the
    * compute (stage profiles showed the same signature/shingle pass
    * running 4–6 times side by side). The count() pays one extra
    * (parallel) pass over the plan and every consumer then reads the
    * cache. Not the default: for a frame with one consumer, or
    * consumers that run strictly sequentially, the extra job is pure
    * overhead. */
  def persistEager[T](
      ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val p = persistTracked(ds, level)
    p.count()
    p
  }

  /** Register an ALREADY-persisted frame for `releaseAll` (for callers
    * that manage persist timing themselves, e.g. iterative loops). */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    tracked.add(ds)
    ds
  }

  /** Run `f`, then unpersist ONLY the frames THIS THREAD tracked
    * during it, leaving every other tracked frame — earlier persists
    * and concurrent work on other threads alike — untouched. The
    * polite form of `releaseAll` for long-running hosts of one-shot
    * work: [[graft.streaming.MicroBatch]] opens one scope per
    * micro-batch and owns its persist, probe and release, so two ingest
    * streams sharing a session (text + embedding tiers over the same
    * crawl) never drop each other's in-flight caches. Scopes nest; an
    * inner scope's frames are not double-released by the outer
    * (unpersist on a released frame is a no-op anyway). */
  def scopedRelease[T](f: => T): T = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    scopes.set(mine :: scopes.get())
    try f
    finally {
      scopes.set(scopes.get().tail)
      mine.foreach { d => tracked.remove(d); d.unpersist(false) }
    }
  }

  /** Unpersist every tracked frame; returns how many were released.
    * Harness-loop API: call BETWEEN one-shot queries (Bench/Verify do),
    * not concurrently with work that still wants its cache — releasing
    * is always safe for correctness (plans recompute) but a release
    * mid-computation silently costs the recompute the persist was
    * avoiding. Long-lived caches (e.g. a reused IVF index) should
    * persist untracked and be released by their owner. */
  def releaseAll(blocking: Boolean = false): Int = {
    var n = 0
    var d = tracked.poll()
    while (d != null) { d.unpersist(blocking); n += 1; d = tracked.poll() }
    n
  }
}
