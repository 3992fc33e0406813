package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.broadcast

/** The engine's two data-dependent plan decisions, each made from what is
  * already known and never by running the input to find out.
  */
object Adaptive {

  /** Cap on the per-round node frames (ranks, in-mass) that the PageRank
    * loops broadcast, compared against the measured node count.
    */
  val BroadcastNodesMax = "spark.graft.graph.broadcastNodesMax"

  /** Cap on edge-bounded state — `triangleCount`'s probe sides, the
    * `bfsHops` loop state it keeps on the driver, the `dupClusters` label
    * frames — compared against the measured edge count.
    */
  val BroadcastEdgesMax = "spark.graft.graph.broadcastEdgesMax"

  /** Default for both caps: two id columns at 2M rows frame far under
    * Spark's 8 GB / 512M-row broadcast limit. Set a cap to 0 to force the
    * shuffle join.
    */
  private val DefaultBroadcastRows = 2000000L

  /** Fans `df` out to cluster width (`defaultParallelism`, round robin)
    * when its source delivers fewer splits than half the cluster's slots:
    * a single unsplittable file or one row group, the small-corpus case,
    * runs CPU-heavy map work single-threaded however many cores exist.
    * When the scan already splits (thousands of splits at scale) `df` is
    * returned as is. Project to the needed columns before calling, so only
    * they cross the shuffle.
    *
    * Deciding does not run `df`. An adaptive plan learns its partition
    * count only by running its shuffle stages, so it always fans out. Any
    * other plan's width is read off the RDD it builds, which for a scan, a
    * checkpoint or local rows launches no job.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val narrow = df.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => true
      case _ => df.queryExecution.toRdd.getNumPartitions < slots / 2
    }
    if (narrow) df.repartition(slots) else df
  }

  /** `broadcast` when `rows` is at most the cap set under `key`, identity
    * otherwise. `rows` is a count the caller has already measured, from a
    * frame it materialized anyway: the frames these gates guard are
    * checkpointed RDDs, which give Catalyst no size statistics, so without
    * the hint it plans sort-merge joins that re-shuffle the loop-invariant
    * side every round. Past the cap the shuffle join stays, which spills
    * rather than failing at Spark's broadcast limit. The join strategy
    * never changes a result.
    */
  def broadcastIf(spark: SparkSession, rows: Long, key: String): DataFrame => DataFrame =
    if (underCap(spark, rows, key)) (df: DataFrame) => broadcast(df) else identity

  /** The [[broadcastIf]] gate as a Boolean: `rows` is at most the cap set
    * under `key`, so a frame that many rows bounds may also be held on the
    * driver.
    */
  def underCap(spark: SparkSession, rows: Long, key: String): Boolean =
    rows <= spark.conf.getOption(key).map(_.toLong).getOrElse(DefaultBroadcastRows)
}
