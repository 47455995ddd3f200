package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place a relation is materialised and freed. Nothing else in the
  * engine persists, checkpoints or unpersists (StageSpec checks the sources).
  *
  *  - [[keep]]: lazy MEMORY_AND_DISK persist, the form an
  *    `Artifact.relation` fill takes unless its build staged it with
  *    [[now]] (the page cache: rows without a retained plan).
  *  - [[now]]: eager local checkpoint, for a relation read by several
  *    branches of one query or by the next round of a loop; it cuts lineage.
  *  - [[free]]: drop a relation's persist and the blocks of every
  *    checkpoint under its plan.
  *  - [[using]]: a scratch persist held for one block of code.
  *
  * The free rule: a staged relation is freed by one of
  *  - the artifact that holds it (its eviction runs [[free]] on the value,
  *    which reaches every checkpoint the build staged under it);
  *  - the loop that supersedes it (propagation rounds, BPE checkpoints);
  *  - the build that staged it as scratch, once the build's own staged
  *    result no longer reads it (the verified-pair memo's candidates);
  *  - the ContextCleaner, once the query frame that reads it is dropped.
  *
  * One mode, local checkpoint: staged blocks live in executor storage only.
  * A lost block fails the action that needs it with Spark's
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never with wrong rows. Reliable
  * (checkpoint-dir) staging waits for a workload that would exercise it.
  */
object Stage {

  /** Persist `df` lazily at MEMORY_AND_DISK. A frame already cached, or
    * already staged by [[now]] (a checkpointed RDD under projections
    * only), is returned as it is: its blocks exist, a second copy would
    * only cost. A frame over a plain RDD (`createDataFrame`) is persisted.
    */
  def keep(df: DataFrame): DataFrame =
    if (held(df)) df else df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Materialise `df` now into executor storage and cut its lineage. */
  def now(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Unpersist `df` and every checkpoint RDD under its plan: a checkpointed
    * plan is a LogicalRDD whose RDD holds the blocks directly, which
    * `Dataset.unpersist` does not reach.
    */
  def free(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Run `body` over `df` persisted, and unpersist it afterwards, also when
    * `body` throws. Only a persist made here is dropped: a frame that was
    * already cached or staged belongs to its owner.
    */
  def using[T](df: DataFrame)(body: DataFrame => T): T =
    if (held(df)) body(df)
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try body(df) finally df.unpersist()
    }

  /** Does `df` hold its blocks: persisted, or staged by [[now]]? */
  private[graft] def held(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || staged(df.queryExecution.analyzed)

  private def staged(p: LogicalPlan): Boolean = p match {
    case l: LogicalRDD => l.rdd.isCheckpointed
    case Project(_, child) => staged(child)
    case _ => false
  }
}
