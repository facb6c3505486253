package graft.core

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.storage.StorageLevel

/** The lifetime of the caches that ops take while a query is built and
  * run.
  *
  * Ops cache through [[Scope.persist]]. Inside a scope the cache is
  * registered with it, and closing the scope unpersists, without
  * blocking, every cache it registered. A query's result is a lazy frame
  * that may still read those caches, so the caller closes the scope once
  * it has consumed the result; a later re-evaluation stays correct and
  * only recomputes. Outside any scope [[Scope.persist]] is a plain
  * persist that nothing releases.
  *
  * The current scope lives in an inheritable thread-local, as Spark's
  * local properties (the job group among them) do: a thread started
  * inside a scope registers with that scope too.
  *
  * Identical plans share one `CacheManager` entry, so scopes count their
  * holds: an entry goes when the last open scope that holds it closes. A
  * cache that was there before a scope asked for it (persisted outside
  * any scope) is not the scope's to release. Local checkpoints are not
  * registered; Spark's `ContextCleaner` frees them once their frames are
  * unreachable.
  */
final class Scope private () extends AutoCloseable {
  private val held = mutable.ArrayBuffer.empty[Scope.Entry]
  @volatile private var closed = false

  /** Gives up this scope's hold on each cache it registered; a cache
    * that no other open scope holds is unpersisted without blocking.
    * Closing twice does nothing.
    */
  def close(): Unit = Scope.synchronized {
    if (!closed) {
      closed = true
      held.foreach(Scope.drop)
      held.clear()
    }
  }
}

object Scope {
  private final class Entry(val df: DataFrame, val plan: LogicalPlan) {
    var holders = 1
  }

  /** Every cache that some open scope holds. */
  private val entries = mutable.ArrayBuffer.empty[Entry]
  private val current = new InheritableThreadLocal[Scope]

  private def active: Option[Scope] = Option(current.get).filterNot(_.closed)

  /** Runs `body` in a new scope and closes the scope afterwards, also
    * when `body` throws.
    */
  def within[T](body: => T): T = {
    val s = new Scope
    try enter(s)(body) finally s.close()
  }

  /** Runs `body` in a new scope and returns the scope still open; the
    * caller closes it once it has consumed the result.
    */
  def open[T](body: => T): (T, Scope) = {
    val s = new Scope
    try (enter(s)(body), s)
    catch { case e: Throwable => s.close(); throw e }
  }

  private def enter[T](s: Scope)(body: => T): T = {
    val prev = current.get
    current.set(s)
    try body finally current.set(prev)
  }

  /** `df.persist(MEMORY_AND_DISK)`, registered with the current scope if
    * there is one. The persist (which plans the query) runs outside the
    * lock that guards the registry; a race on whether the cache was
    * there before at worst leaves one cache unregistered.
    */
  def persist(df: DataFrame): DataFrame = {
    val scope = active
    val fresh = scope.nonEmpty && Bridge.cachedPlan(df).isEmpty
    df.persist(StorageLevel.MEMORY_AND_DISK)
    scope.foreach(s => Bridge.cachedPlan(df).foreach(register(s, df, _, fresh)))
    df
  }

  private def register(s: Scope, df: DataFrame, plan: LogicalPlan, fresh: Boolean): Unit =
    synchronized {
      // a scope closed since `active` read it registers nothing
      if (!s.closed) find(df, plan) match {
        case Some(e) =>
          if (!s.held.contains(e)) { e.holders += 1; s.held += e }
        case None =>
          if (fresh) { val e = new Entry(df, plan); entries += e; s.held += e }
      }
    }

  /** Gives back, ahead of its scope's close, a cache that an op
    * persisted and no longer reads: the current scope drops its hold,
    * and the cache is unpersisted without blocking unless another open
    * scope still holds it. Outside any scope the cache is unpersisted at
    * once. Inside a scope, a cache that the scope does not hold (one
    * persisted outside any scope, or one that only other scopes hold) is
    * left to its owner.
    */
  def release(df: DataFrame): Unit = synchronized {
    Bridge.cachedPlan(df).flatMap(find(df, _)) match {
      case None => if (active.isEmpty) df.unpersist(blocking = false)
      case Some(e) => active.filter(_.held.contains(e)).foreach { s =>
        s.held -= e
        drop(e)
      }
    }
  }

  private def find(df: DataFrame, plan: LogicalPlan): Option[Entry] =
    entries.find(e => (e.df.sparkSession.sharedState eq df.sparkSession.sharedState) &&
      e.plan.sameResult(plan))

  /** One hold fewer on `e`; the last one unpersists it. */
  private def drop(e: Entry): Unit = {
    e.holders -= 1
    if (e.holders == 0) {
      entries -= e
      e.df.unpersist(blocking = false)
    }
  }
}
