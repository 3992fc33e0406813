package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for driver-sequenced iterative loops (PageRank, BPE
  * training): each round `localCheckpoint`s its state frame to cut the
  * lineage, and the PREVIOUS round's blocks must be freed eagerly — the
  * ContextCleaner only reclaims them after a driver GC, so a long loop
  * would otherwise accumulate O(rounds × |state|) executor storage.
  */
object CheckpointUtil {

  /** Frees the block-manager storage behind a `localCheckpoint`ed frame.
    * A checkpointed Dataset's plan is a bare [[LogicalRDD]] over the
    * cached RDD; unpersisting that RDD is the only handle —
    * `Dataset.unpersist` only consults the cache manager, which never saw
    * a checkpoint. No-op on frames that are not checkpoint roots.
    */
  def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eager `localCheckpoint` at FULL cluster width. AQE coalesces shuffle
    * output by BYTES (advisory partition size), which is right for
    * I/O-bound stages but starves a cached frame that downstream
    * CPU-bound stages re-read every loop round: a ~10 MB join output
    * coalesces to 1-2 partitions, and every subsequent map stage over the
    * cached blocks then runs 1-2 wide no matter how many slots the
    * cluster has (measured: the PageRank contrib stage ran 2-wide on 32
    * cores, ~1 s/round of single-threaded decimal aggregation). The
    * round-robin repartition pins the cached width to
    * `defaultParallelism` — scale-adaptive by definition (total cluster
    * slots), one wave of tasks per downstream stage. Use for
    * loop-invariant frames that hot per-round stages scan repeatedly;
    * plain `localCheckpoint` remains right for frames read once or
    * reduced to near-nothing.
    */
  def checkpointWide(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(slots).localCheckpoint()
  }
}
