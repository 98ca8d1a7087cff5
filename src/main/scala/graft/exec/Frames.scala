package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The one owner of a loop's materialized frames — the analogue of
  * Cascading ending a node's materializations when its flow completes.
  * Written `Frames { f => … }`: every frame made through `f` is recorded,
  * and the scope's `finally` releases whatever it still holds, so a
  * frame is released on every exit path — normal return, a directed
  * non-convergence failure, or any other exception.
  *
  * RELEASE RULE (root-only): releasing a persisted frame drops its
  * CacheManager entry; releasing a checkpointed frame drops the blocks of
  * its plan ROOT's `LogicalRDD` (it has no CacheManager entry). Each
  * frame is released the way it was materialized, so persisting a
  * DataFrame that is itself a checkpoint never drops that checkpoint.
  * Release never walks the plan: a deeper `LogicalRDD` is another frame —
  * e.g. the lineage-truncated edge table inside a round's plan — whose
  * blocks later rounds still read and which, being checkpointed, can
  * never be recomputed once dropped.
  *
  * OWNERSHIP RULE: a function's result is either materialized eagerly
  * inside the scope ([[result]]) or a frame the returned DataFrame reads
  * lazily, handed over with [[keep]]. Both stay caller-owned: the scope
  * does not release them, and the caller releases them (or leaves them
  * to garbage collection). Everything else a scope materializes is
  * released by the time it exits.
  *
  * A lazy frame's blocks fill on the first action that reads it; release
  * a frame only after an action has materialized every frame that reads
  * it lazily. */
final class Frames private[graft] () {
  /** Each held frame with whether it is cached (else checkpointed). */
  private val held = mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

  private def track(df: DataFrame, cached: Boolean): DataFrame = {
    held += df -> cached
    df
  }

  /** Lazy localCheckpoint: truncates the lineage; blocks fill on the
    * first action that reads the frame. */
  def lazily(df: DataFrame): DataFrame =
    track(df.localCheckpoint(false), cached = false)

  /** Eager localCheckpoint: one job materializes the frame now. */
  def eagerly(df: DataFrame): DataFrame =
    track(df.localCheckpoint(true), cached = false)

  /** Cache the frame MEMORY_AND_DISK (plan kept, blocks fill lazily). */
  def persist(df: DataFrame): DataFrame =
    track(df.persist(StorageLevel.MEMORY_AND_DISK), cached = true)

  /** Lazy localCheckpoint hash-partitioned on `keys` into exactly `n`
    * partitions and sorted within them, whose LogicalRDD DECLARES that
    * partitioning and order, so every later join/aggregate on those
    * keys consumes the frame with NO exchange and NO sort (the r17
    * loop-input discipline; the PlanAuditSpec propagation-round audit
    * pins the shape). Reads and writes no conf: see
    * `PlanBridge.partitionedCheckpoint`. */
  def partitioned(df: DataFrame, n: Int, keys: Column*): DataFrame =
    track(PlanBridge.partitionedCheckpoint(df, n, keys), cached = false)

  /** Eager localCheckpoint the caller owns (not recorded): the
    * function's result, or a frame its result reads. */
  def result(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Hand a recorded frame to the caller: the returned DataFrame reads
    * it lazily, so the scope must not release it. */
  def keep(df: DataFrame): DataFrame = { forget(df); df }

  /** Record a frame materialized elsewhere (a callee's caller-owned
    * result, cached or checkpointed) so this scope releases it. */
  def adopt(df: DataFrame): DataFrame =
    track(df, cached = df.storageLevel != StorageLevel.NONE)

  /** Release one recorded frame now (root-only). A frame this scope
    * does not hold — never recorded, already released, or null — is
    * left alone. */
  def release(df: DataFrame): Unit = forget(df).foreach(Frames.drop(df, _))

  /** Release every frame the scope still holds. */
  def close(): Unit = {
    held.foreach { case (df, cached) => Frames.drop(df, cached) }
    held.clear()
  }

  private def forget(df: DataFrame): Option[Boolean] = {
    val i = held.indexWhere(_._1 eq df)
    if (i >= 0) Some(held.remove(i)._2) else None
  }
}

object Frames {
  def apply[A](body: Frames => A): A = {
    val f = new Frames
    try body(f) finally f.close()
  }

  private def drop(df: DataFrame, cached: Boolean): Unit =
    if (cached) df.unpersist()
    else df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
