package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.jdk.CollectionConverters._

/** Session-scoped registry of frames the operator pipelines cache
  * (persisted LSH/SimHash signature bases, checkpointed CC labels,
  * checkpointed salted join inputs). The cached blocks are what make
  * each pipeline single-scan (or retry-deterministic), and they survive
  * the caller's action on purpose — the SAME lazy result may be
  * consumed more than once. Caller contract for long-running processes:
  * call [[release]] once the results of a batch are consumed; one-shot
  * sessions can skip it (session teardown / `catalog.clearCache` covers
  * persists, and checkpoint blocks die with the executors).
  */
object FrameCaches {

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.Queue[Dataset[_]]]()

  def track[T](ds: Dataset[T]): Dataset[T] = {
    registry.computeIfAbsent(ds.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]())
      .add(ds)
    ds
  }

  /** Free every frame tracked in this session — persisted bases AND
    * localCheckpoint block storage (which `unpersist` alone does not
    * release).
    */
  def release(spark: SparkSession): Unit = {
    val q = registry.remove(spark)
    if (q != null)
      q.forEach(ds => org.apache.spark.sql.GraftColumnBridge.freeStorage(ds))
  }

  /** Read-only snapshot of the frames tracked in this session. */
  def tracked(spark: SparkSession): Seq[Dataset[_]] = {
    val q = registry.get(spark)
    if (q == null) Nil else q.asScala.toVector
  }

  /** Runs `body`, then frees (and untracks) every frame tracked while it
    * ran — a SCOPED drain: a framework step (a silver transform, a store
    * fold) frees only the frames ITS work tracked, not caches owned by
    * earlier callers of the same session (whose localCheckpoint blocks
    * cannot be recomputed once freed). Frames tracked before the scope
    * opened stay live.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val marked = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]())
    tracked(spark).foreach(marked.add)
    try body finally releaseSince(spark, marked)
  }

  private def releaseSince(spark: SparkSession,
      marked: java.util.Set[Dataset[_]]): Unit = {
    val q = registry.get(spark)
    if (q != null) {
      val it = q.iterator()
      while (it.hasNext) {
        val d = it.next()
        if (!marked.contains(d)) {
          it.remove()
          org.apache.spark.sql.GraftColumnBridge.freeStorage(d)
        }
      }
    }
  }
}
