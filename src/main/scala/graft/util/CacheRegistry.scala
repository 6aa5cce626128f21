package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for persisted intermediates that feed multiple plan branches
  * (Catalyst does not CSE across branches, so an unpersisted shared frame
  * re-executes its whole upstream plan per branch). Operators persist
  * through [[track]]. Every registry records itself with the companion
  * when it is constructed, so [[CacheRegistry.releaseAll]] frees every
  * operator's frames at once: Bench's per-query cleanup and
  * `graft.queries.Domain.clearCache` (long-lived drivers, and the
  * session-close backstop) call it. One-shot Verify runs never need to
  * release. */
final class CacheRegistry {
  private val live = scala.collection.mutable.ListBuffer.empty[DataFrame]
  CacheRegistry.record(this)

  def track(df: DataFrame): DataFrame = synchronized {
    val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    live += persisted
    persisted
  }

  /** Registers an ALREADY-persisted frame (e.g. one persisted inside an
    * iterative loop) for release without re-persisting it. */
  def register(df: DataFrame): Unit = synchronized { live += df }

  def releaseAll(): Unit = synchronized {
    live.foreach(df => try df.unpersist() catch { case _: Throwable => () })
    live.clear()
  }
}

object CacheRegistry {
  private val all = scala.collection.mutable.ListBuffer.empty[CacheRegistry]

  private def record(r: CacheRegistry): Unit = synchronized { all += r }

  /** Releases the frames of every registry constructed so far. */
  def releaseAll(): Unit = synchronized { all.foreach(_.releaseAll()) }
}
