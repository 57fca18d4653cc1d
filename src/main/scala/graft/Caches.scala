package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of cache lifetimes: every frame the engine materializes
  * for reuse goes through [[hold]] (a cache-manager entry) or
  * [[checkpoint]] (local-checkpoint RDD blocks, lineage truncated), and is
  * released by [[release]] or by the [[scoped]] block it was held in.
  *
  * Scopes are per thread and nest: closing one releases, in `finally`,
  * exactly the frames held inside it (not those of an enclosing or an
  * inner scope), so a failed action leaves nothing behind. Outside any
  * scope a held frame is registered nowhere and lives until the session's
  * `spark.catalog.clearCache()` — which is what Bench and Verify run
  * between queries. (`clearCache` does not free checkpoint blocks; the
  * ContextCleaner reclaims those once the frame is unreachable.)
  *
  * An operator releases what dies inside its own call; whatever the lazy
  * plan it returns reads stays held in the caller's scope.
  */
object Caches {

  /** The open scopes of this thread, innermost first. */
  private val scopes = ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)

  /** Ids of the RDDs [[checkpoint]] materialized and [[release]] has not
    * yet dropped: the only RDDs this module ever unpersists.
    */
  private val checkpointed = ConcurrentHashMap.newKeySet[Int]()

  private def record(df: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_ += df)
    df
  }

  /** `df.cache()`, recorded in the innermost open scope. */
  def hold(df: DataFrame): DataFrame = record(df.cache())

  /** `df.localCheckpoint()` (eager), recorded in the innermost open scope.
    * The frame is recorded before its blocks are filled, so a fill that
    * fails is still released by the scope.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    val rdd = c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    checkpointed.add(rdd.id)
    record(c)
    rdd.count() // the eager fill: every partition's blocks, then the checkpoint mark
    c
  }

  /** Drops `df`'s cache-manager entry and, if [[checkpoint]] made it, its
    * checkpoint RDD blocks. Idempotent and non-blocking, like
    * `Dataset.unpersist()`. Never touches an RDD a caller materialized,
    * even one `df`'s plan reads.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case lr: LogicalRDD if checkpointed.remove(lr.rdd.id) => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Runs `body` and then releases every frame held inside it (but not in
    * a scope nested inside it), also when `body` throws. Frames go last
    * held first, so no released frame is still read by a cached one.
    */
  def scoped[A](body: => A): A = {
    val frames = ArrayBuffer.empty[DataFrame]
    scopes.set(frames :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      frames.reverseIterator.foreach(release)
    }
  }
}
