package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one way to pin a frame and the one way to release it (CLAUDE.md
  * invariant 7). Operators pin with [[pin]]; the caller that materializes
  * a unit of work (a bench or verify entry, a streaming trigger) wraps it
  * in [[scoped]], which releases every pin made on its thread meanwhile.
  * No operator that returns a DataFrame opens a scope, and a frame built
  * on a pin must not be executed after its scope exits: the truncated
  * lineage cannot recompute. With no scope open a pin lives until Spark's
  * ContextCleaner frees it, as a plain `localCheckpoint` does. */
object Pins {
  // plain, not inheritable: Spark starts some thread pools lazily, and a
  // scope inherited by one of their threads would stay on it for life
  private val scopes =
    ThreadLocal.withInitial[List[collection.mutable.Buffer[DataFrame]]](() => Nil)

  /** `df` materialized now (an eager `localCheckpoint`), registered with
    * this thread's innermost open scope. */
  def pin(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint()
    scopes.get.headOption.foreach(_ += pinned)
    pinned
  }

  /** `body`, then the release of the pins it made on this thread, also
    * when it throws; an enclosing scope keeps its own. `Dataset.unpersist`
    * is a no-op for checkpoints (they live as RDD storage, not in the
    * CacheManager), so each checkpointed RDD is unpersisted directly,
    * without blocking. */
  def scoped[T](body: => T): T = {
    val mine = collection.mutable.Buffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd
      }.foreach(_.unpersist(false)))
    }
  }
}
