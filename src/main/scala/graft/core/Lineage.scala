package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftinternal.GraftSql
import org.apache.spark.storage.StorageLevel

/**
 * Lineage barrier for iterative loops.
 *
 * `cut` materializes the DataFrame (localCheckpoint, cached at
 * MEMORY_AND_DISK) and rebuilds it from the checkpointed internal RDD so
 * that NEITHER the logical plan NOR the plan statistics survive the
 * barrier. Plain `localCheckpoint` truncates only the plan; Spark 4 copies
 * the source statistics into the new LogicalRDD, and in a loop whose step
 * references the state twice the inherited sizeInBytes estimate squares
 * per iteration — exponential planning time, then
 * "BigInteger would overflow supported range" (see GraftSql docs).
 *
 * Every iterative driver in this engine MUST cut lineage through this
 * helper once per superstep ([[cutLazily]] when the superstep's own
 * checkpoint write is the job that materializes it).
 *
 * The blocks behind a cut frame live in the block manager only (a local
 * checkpoint has no recompute path), and the rebuilt DataFrame is not
 * registered in the cache manager, so `DataFrame.unpersist` on it is a
 * no-op. `cut` therefore records the persisted RDD per returned frame;
 * [[release]] drops those blocks explicitly once a loop no longer needs
 * the frame — without it every superstep's state lingers until GC.
 */
object Lineage {

  // returned cut frame -> the persisted RDD backing it. Weak keys: frames
  // dropped without release() stop pinning the entry (ContextCleaner then
  // reclaims the blocks as before).
  private val backing = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, RDD[_]]())

  def cut(df: DataFrame): DataFrame = register(df.localCheckpoint(eager = true))

  /**
   * [[cut]] without its job: marks `df`'s rows for local checkpoint at
   * `level` (Spark adds disk to it) and returns the frame over them. The
   * first job that reads the returned frame computes `df` once, fills the
   * blocks and truncates the lineage; every later plan reads the blocks.
   * Release `df`'s inputs only after that job has run.
   */
  def cutLazily(df: DataFrame, level: StorageLevel): DataFrame =
    register(df.localCheckpoint(eager = false, level))

  private def register(ckpt: DataFrame): DataFrame = {
    val rdd = ckpt.queryExecution.toRdd
    val out = GraftSql.fromInternalRdd(ckpt.sparkSession, rdd, ckpt.schema)
    backing.put(out, findPersisted(rdd).getOrElse(rdd))
    out
  }

  /** True iff `df` came out of [[cut]] (already materialized + plan-free). */
  def isCut(df: DataFrame): Boolean = backing.containsKey(df)

  /**
   * Drop the block-manager copy backing a cut frame. A locally-checkpointed
   * RDD's blocks are its ONLY copy — call this strictly after every plan
   * that reads `df` has executed (e.g. the next superstep's state is
   * materialized). No-op for frames not produced by [[cut]].
   */
  def release(df: DataFrame): Unit = {
    val rdd = backing.remove(df)
    if (rdd != null) rdd.unpersist(blocking = false)
  }

  // localCheckpoint persists an internal RDD; the scan RDD we get back may
  // wrap it, so walk the (narrow) dependency chain to the cached one.
  private def findPersisted(rdd: RDD[_]): Option[RDD[_]] =
    if (rdd.getStorageLevel != StorageLevel.NONE) Some(rdd)
    else rdd.dependencies.iterator
      .map(d => findPersisted(d.rdd))
      .collectFirst { case Some(r) => r }
}
