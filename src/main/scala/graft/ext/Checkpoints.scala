package graft.ext

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint lifecycle management. `Dataset.localCheckpoint()` pins
  * the materialized blocks (MEMORY_AND_DISK) and TRUNCATES lineage —
  * the blocks can never be recomputed, and Spark never drops them on
  * its own. A long-lived session that runs many pipeline stages
  * therefore accumulates pinned storage without bound, squeezing
  * execution memory until everything downstream spills. Operators in
  * this engine release provably-dead checkpoints inline (superseded
  * loop states, intermediates whose only consumers are themselves
  * eagerly materialized); session owners reclaim the rest with
  * [[releaseAll]] once a stage's results are consumed ([[graft.Verify]]
  * does, between queries, so a long dump never accumulates pinned
  * storage).
  */
object Checkpoints {

  /** Unpersist the storage blocks behind localCheckpoint'd Datasets.
    * Lineage was truncated at checkpoint time, so a released Dataset
    * must NOT be read again — call only once every consumer (a
    * downstream eager checkpoint, a collect, a write) has finished.
    * No-op on Datasets that are not checkpoint-backed. */
  def release(ds: Dataset[_]*): Unit = ds.foreach { d =>
    d.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Drop EVERY persistent RDD block in the context — the
    * between-pipeline-stages reclaim for long-lived sessions. Safe
    * whenever no still-needed checkpointed Dataset is pending another
    * read (results already collected/written). */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Number of RDDs currently pinned in the context (test/diagnostic
    * surface for the zero-leak contract). */
  def pinnedCount(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size
}
