package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Stats hygiene for checkpointed loop frames.
  *
  * Spark 4's `Dataset.localCheckpoint` builds its result via
  * `LogicalRDD.fromDataset`, which carries the ORIGIN plan's size
  * estimate forward (`originStats`) so broadcast decisions keep working
  * across the checkpoint. For iterative operators that is a trap: the
  * size-only estimator multiplies child sizes at every inner join
  * (`SizeInBytesOnlyStatsPlanVisitor.visitJoin` → product of children),
  * so a loop whose round output joins the previous round's checkpoint
  * several times compounds the estimate MULTIPLICATIVELY round over
  * round — the BigInt's bit-width roughly quadruples per round, and by
  * round ~15 Catalyst spends minutes per plan inside
  * `BigInteger.multiplyToomCook3` on numbers of millions of bits
  * (observed: Louvain's level-1 rounds went 0.1 s → 0.3 → 1.7 → 7.8 →
  * 29 s of pure driver-side planning on a 40-node graph).
  *
  * The fix is a clamp at the checkpoint boundary: keep small estimates
  * (broadcast eligibility survives), cap the runaway ones at
  * `Long.MaxValue` — the same "unknown" a stats-free leaf would report.
  * Lives in the `org.apache.spark.sql` namespace because
  * `classic.Dataset.ofRows` is `private[sql]` (and
  * `SparkContext.unpersistRDD` is `private[spark]`).
  */
object CheckpointBridge {
  private val MaxSize = BigInt(Long.MaxValue)

  /** Clamp the size/rowCount estimate that `df` (a just-checkpointed
    * frame whose plan is a `LogicalRDD`) carried over from its origin
    * plan. No-op for frames with sane estimates or non-checkpoint
    * plans.
    */
  def clampCheckpointStats(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val st = lr.stats
        if (st.sizeInBytes <= MaxSize &&
            st.rowCount.forall(_ <= MaxSize)) df
        else {
          val capped = Statistics(
            sizeInBytes = st.sizeInBytes.min(MaxSize),
            rowCount = st.rowCount.map(_.min(MaxSize)))
          val session = df.sparkSession.asInstanceOf[classic.SparkSession]
          classic.Dataset.ofRows(session,
            lr.copy()(session, Some(capped), None))
        }
      case _ => df
    }

  /** Free a checkpointed RDD's blocks now, as `RDD.unpersist` does
    * (`SparkContext.unpersistRDD`), without its WARN that a locally
    * checkpointed RDD cannot be recomputed: the caller frees the
    * checkpoint on purpose, once nothing reads it again.
    */
  def releaseCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
