package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.types.LongType

/** The reference's distributed pipeline — scatter → local hybrid sort →
  * k-way merge (`/root/reference/QuickInsertionHeap.c:197-215`) — restated
  * as Spark's declarative sort surface.
  *
  * Scale notes (the whole point of the restatement):
  *  - `globalSort` = `ShuffleExchange(RangePartitioning)` + per-partition
  *    sort. Spark's range partitioner samples split points, so every
  *    executor merges only its own key range — there is no equivalent of
  *    the reference's rank-0 serial k-way merge bottleneck
  *    (`QuickInsertionHeap.c:215` merges the ENTIRE dataset on one node;
  *    at 100 TB that single node is the job).
  *  - `partitionSort` keeps the data distributed: range-scatter then sort
  *    within partitions. Concatenating partitions in index order yields a
  *    total order without ever collecting — this is exactly the
  *    scatter/local-sort phase of the reference, minus the gather.
  *  - `topK` maps the reference's heap-merge "emit first N" semantics
  *    (`quickThreshold.c:109,116`) to `TakeOrderedAndProject`, which keeps
  *    a bounded heap per partition and merges only K elements per task —
  *    O(K) driver memory regardless of input size.
  */
object Sorts {

  /** Global total-order sort. One line subsumes the reference's EP2. */
  def globalSort(df: DataFrame, keys: Column*): DataFrame =
    df.orderBy(keys: _*)

  /** Range-scatter + sort-within-partitions, data stays distributed.
    * Reading partitions in index order yields the global order.
    */
  def partitionSort(df: DataFrame, numPartitions: Int, keys: Column*): DataFrame =
    df.repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)

  /** Bounded top-k — plans as TakeOrderedAndProject (per-partition heap +
    * driver merge of k·P elements), never a full sort.
    */
  def topK(df: DataFrame, k: Int, keys: Column*): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** Ordered parquet sink (the reference's `sorted.txt` file sink,
    * `QuickInsertionHeap.cu:118-131`). Written distributed: file N holds
    * key range N, so readers get global order from (file, offset) order.
    */
  def sortedSink(df: DataFrame, path: String, keys: Column*): Unit =
    globalSort(df, keys: _*).write.mode("overwrite").parquet(path)

  /** Contiguous global row index 0..N-1 in key order — the scale-safe form
    * of `ROW_NUMBER() OVER (ORDER BY …)`. The window form plans as a
    * SINGLE-partition sort (every row through one task — the same
    * bottleneck as the reference's rank-0 merge); this one range-scatters
    * ONCE and sorts ONCE:
    *  1. `repartitionByRange` runs the sample and the shuffle map stage;
    *  2. a count job over that same shuffle output (a plain read, no sort)
    *     brings ONE COUNT PER PARTITION to the driver — O(P), not O(N);
    *  3. each partition is sorted within itself and each row gets
    *     `offset(partition) + position` prepended as an `UnsafeRow`.
    * The map stage is never rerun: the sort and every later action read
    * the shuffle files step 1 wrote.
    *
    * The result declares `RangePartitioning(idx ASC)` over its actual
    * partition count and `idx ASC` as its ordering. Both hold by
    * construction (partition i holds exactly the indices
    * `[off_i, off_{i+1})`, in order), so `orderBy("idx")` on it plans with
    * no exchange and no sort. The input columns keep their attributes:
    * `df("x")` resolves on the result as it does on `df`.
    *
    * `keys` must pin a TOTAL order (include a tiebreaker): rows tied on
    * all keys may land in either partition of a range boundary, making
    * their relative index nondeterministic.
    */
  def globalIndex(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(spark.sparkContext.defaultParallelism, keys: _*)
    val output = ranged.queryExecution.analyzed.output
    val scattered = ranged.queryExecution.toRdd
    val offsets = scattered.mapPartitions(rows => Iterator.single(rows.size.toLong))
      .collect().scanLeft(0L)(_ + _)
    val sorted = GraftColumnBridge.ofRdd(spark, output, scattered)
      .sortWithinPartitions(keys: _*).queryExecution.toRdd
    val types = (LongType +: output.map(_.dataType)).toArray
    val indexed = sorted.mapPartitionsWithIndex[InternalRow] { (p, rows) =>
      val idx = new GenericInternalRow(1)
      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create(types)
      var next = offsets(p)
      rows.map { r =>
        idx.setLong(0, next)
        next += 1
        toUnsafe(joined(idx, r))
      }
    }
    val idxAttr = AttributeReference("idx", LongType, nullable = false)()
    val order = Seq(SortOrder(idxAttr, Ascending))
    GraftColumnBridge.ofRdd(spark, idxAttr +: output, indexed,
      RangePartitioning(order, indexed.getNumPartitions), order)
  }

  /** Global sort through the engine's OWN physical operator
    * ([[graft.plans.HybridSortExec]]): its own chunked range scatter
    * (`RangePartitioner` bounds; each map task ships its rows to their
    * ranges as a few byte chunks, one sample job and one sort job, no
    * Exchange node) + per-partition hybrid quicksort/insertion-sort — the
    * reference's algorithm planned as a first-class Catalyst node instead
    * of `orderBy`. Keys are resolved by name against the input and sorted
    * ascending (the reference's only order). Like Tungsten's SortExec, the
    * operator spills sorted runs past a per-task budget and heap-merges
    * them; see [[graft.plans.HybridSortPlan]]'s scale contract.
    */
  def hybridSortExec(df: DataFrame, threshold: Int, keys: String*): DataFrame = {
    require(keys.nonEmpty)
    val spark = df.sparkSession
    GraftColumnBridge.addStrategy(spark, graft.plans.HybridSortStrategy)
    val analyzed = df.queryExecution.analyzed
    val order = keys.map { k =>
      val attr = analyzed.output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"hybridSortExec: no column '$k' in [${analyzed.output.map(_.name).mkString(", ")}]"))
      SortOrder(attr, Ascending)
    }
    GraftColumnBridge.ofRows(spark,
      graft.plans.HybridSortPlan(order, threshold, analyzed))
  }

  /** Print sink (reference O14: the stdout dumps at
    * `/root/reference/SequentialQuickInsert.c:89-93` etc.) — bounded by
    * design: at scale a full-table print is a driver OOM, so this takes n.
    * Returns the printed rows (the bounded head) so the print is
    * verifiable: what went to stdout is exactly what the caller can
    * compare against an ORDER BY … LIMIT n oracle.
    *
    * The head is computed ONCE (localCheckpoint) and both the print and
    * the returned frame read the materialized blocks — without that,
    * `show` and the caller would execute the limit independently, and a
    * `limit` without a total order may pick different rows each time.
    */
  def printSink(df: DataFrame, n: Int = 20): DataFrame = {
    val head = df.limit(n).localCheckpoint()
    head.show(n, truncate = false)
    head
  }

  /** Read a [[sortedSink]] directory back in (file, offset) order WITHOUT
    * re-sorting: part files are named in partition-index order, which is
    * range order, so reading each file as its own (order-preserving) scan
    * and concatenating in filename order reproduces the global order iff
    * the sink really wrote one. This is the verification read for the
    * reference's file sink (`/root/reference/QuickInsertionHeap.cu:118-131`)
    * — comparing it against an ORDER BY oracle proves sink order, which a
    * plain `read.parquet(dir)` (unordered file listing) could not.
    */
  def readSortedSink(spark: SparkSession, path: String): DataFrame = {
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"no part files under $path")
    files.map(f => spark.read.parquet(f)).reduce(_ unionAll _)
  }
}
