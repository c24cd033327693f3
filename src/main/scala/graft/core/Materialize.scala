package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

/** Lifecycle management for `localCheckpoint`'d intermediates.
  *
  * A `localCheckpoint` pins its blocks in the executor block manager
  * and truncates lineage; nothing releases those blocks until the
  * driver GC happens to collect the RDD reference and the
  * ContextCleaner notices. In a long-lived session (a notebook, a
  * pipeline app, the driver's single-JVM 172-query bench sweep) every
  * re-invocation of an operator that checkpoints adds a new block set
  * while the old ones linger — observed as late-suite memory pressure
  * evicting ACTIVE checkpoints, whose consumers then replay the whole
  * materialized subtree (the round-10 q154 regression: its
  * fingerprint table's pre-materialization cost reappeared mid-sweep).
  *
  * Two usage shapes:
  *  - [[withMaterialized]] — checkpoint → consume → release, for call
  *    sites whose consumption COMPLETES inside the function (iterative
  *    model fits, export loops). The body must run its actions before
  *    returning; lazy plans escaping the body would fail after release
  *    (lineage is gone by design).
  *  - [[scoped]] / [[releaseAll]] — session-level bulk release, for
  *    drivers of many independent queries (Bench, Verify, any REPL
  *    loop). Operators whose RETURNED frame is backed by a checkpoint
  *    (an inverted index, an LSH signature table) cannot release
  *    internally — the caller decides when the frame is dead. `scoped`
  *    snapshots the persisted-RDD set, runs the body, and releases
  *    everything the body added; blocks that existed before (a shared
  *    dimension cache) survive.
  */
object Materialize {

  /** Ids of every RDD currently holding block-manager state. */
  def liveIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Release every persisted/checkpointed RDD except `keep`.
    * Non-blocking: removal proceeds asynchronously on the executors.
    */
  def releaseAll(spark: SparkSession, keep: Set[Int] = Set.empty): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) { rdd.unpersist(blocking = false); () }
    }

  /** Run `body`, then release every RDD it left persisted — the
    * per-query hygiene wrapper for long-lived sessions running many
    * independent queries. Pre-existing persisted RDDs survive.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = liveIds(spark)
    try body finally releaseAll(spark, before)
  }

  /** The block-manager-backed RDD of a checkpointed/persisted frame:
    * the `LogicalRDD` a `localCheckpoint` leaves behind, or the
    * `ExternalRDD` of a pinned RDD turned into a frame (the result of
    * an RDD fixpoint loop, see [[KeyedRdds.fixpoint]]).
    */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
      case er: ExternalRDD[_] => er.rdd
    }

  /** Release one checkpointed frame's blocks (no-op for plans that
    * carry no checkpoint). Only call once every consumer of the frame
    * has EXECUTED — the truncated lineage cannot recompute it.
    */
  def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach { rdd => rdd.unpersist(blocking = false); () }

  /** checkpoint → consume → release: materialize `df`, hand the
    * pinned frame to `body`, release its blocks when `body` returns.
    */
  def withMaterialized[T](df: DataFrame)(body: DataFrame => T): T = {
    val m = df.localCheckpoint()
    try body(m) finally release(m)
  }
}
