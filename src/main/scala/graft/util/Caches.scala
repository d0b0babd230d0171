package graft.util

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Registry for DataFrames persisted inside operators whose plans are
 * evaluated more than once (e.g. a shingle projection feeding both a
 * document-frequency aggregate and the LSH band join). Operators register
 * the persist here instead of leaking it; entry points (Bench, Verify,
 * long-running streams) release between units of work so cached blocks
 * don't accumulate for the life of the JVM — disk-spilled blocks are not
 * LRU-evicted, so an unbounded registry grows executor disk without bound
 * in a stream.
 *
 * Entries are scoped by an OWNER token: a streaming epoch wraps its work in
 * `scoped(root) { ... }` and calls `release(root)` when the epoch commits,
 * so it releases only its own frames — a JVM-global release would unpersist
 * frames registered by concurrent work (a second stream on another root,
 * interactive queries whose memoized twins live here), silently defeating
 * their persist strategy. Code that doesn't scope registers under "global"
 * and is released by `releaseAll()`.
 *
 * Memo registries that hand out these persisted frames (DedupTwins, the
 * Engine pipeline family) register an `onRelease` hook so a release also
 * drops the memo entries pointing at the now-unpersisted frames.
 */
object Caches {

  val GlobalOwner = "global"

  private val registry = mutable.Map.empty[String, mutable.ArrayBuffer[DataFrame]]
  private val owner = new DynamicVariable[String](GlobalOwner)
  private val releaseHooks = mutable.ArrayBuffer.empty[String => Unit]

  /** Run `f` with persists registered under `token` (thread-scoped). */
  def scoped[A](token: String)(f: => A): A = owner.withValue(token)(f)

  /** The calling thread's owner token. A pooled thread inherits the owner of
    * whoever first started it, so work handed to a pool must capture this
    * and re-enter `scoped` with it. */
  private[graft] def currentOwner: String = owner.value

  /** The frames registered under `token` (empty when none). */
  private[graft] def registered(token: String): Seq[DataFrame] =
    synchronized(registry.get(token).fold(Seq.empty[DataFrame])(_.toSeq))

  /** Persist `df` (idempotent per frame) and remember it under the current
    * scope's owner for release. */
  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): DataFrame =
    synchronized {
      registry.getOrElseUpdate(owner.value, mutable.ArrayBuffer.empty) += df.persist(level)
      df
    }

  /** Register a hook run on every release with the owner released ("" for
    * releaseAll) — memo registries clear their entries here. */
  def onRelease(hook: String => Unit): Unit = synchronized { releaseHooks += hook }

  /** Unpersist every frame registered under `token` (non-blocking). */
  def release(token: String): Unit = {
    val hooks = synchronized {
      registry.remove(token).foreach(_.foreach(_.unpersist(false)))
      releaseHooks.toSeq
    }
    hooks.foreach(_(token))
  }

  /** Unpersist every registered frame in every scope and clear all memos. */
  def releaseAll(): Unit = {
    val hooks = synchronized {
      registry.valuesIterator.foreach(_.foreach(_.unpersist(false)))
      registry.clear()
      releaseHooks.toSeq
    }
    hooks.foreach(_(""))
  }

  /** Stable per-session identity for memo keys: `identityHashCode` can
    * collide after a session is GC'd, handing back frames bound to a stopped
    * session; a weak map of random UUIDs cannot, and dead sessions drop out. */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()

  def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    Option(sessionIds.get(spark)).getOrElse {
      val id = java.util.UUID.randomUUID.toString
      sessionIds.put(spark, id)
      id
    }
  }
}
