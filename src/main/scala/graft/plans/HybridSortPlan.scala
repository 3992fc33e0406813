package graft.plans

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftSpillUtil
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import graft.ops.HybridSort

/** The reference's whole pipeline — scatter → per-node hybrid
  * quicksort+insertion sort → ordered gather
  * (`/root/reference/QuickInsertionHeap.c:197-215`) — as a first-class
  * Catalyst *physical operator*, not just a rewrite to `orderBy`.
  *
  * `global = true` declares `OrderedDistribution(order)` as the required
  * child distribution, so `EnsureRequirements` inserts a range-partitioning
  * shuffle: Spark's sampled range scatter standing in for the reference's
  * root-computed `Scatterv` counts (`QuickInsertionHeap.c:164-187`). Each
  * task then runs the reference's hybrid structure
  * (`SequentialQuickInsert.c:40-52`: quicksort, insertion sort below the
  * threshold knob of `quickThreshold.c:188-191`) with a worst-case-safe
  * partition step (see [[graft.ops.HybridSort]]) over its partition,
  * comparator supplied by Catalyst's generated row ordering — so the
  * operator sorts ANY schema by ANY key set, not just the reference's bare
  * ints. Downstream consumption in partition-index order is the
  * gather/merge; no single-node k-way merge exists anywhere (the
  * reference's rank-0 merge is its scale ceiling).
  *
  * Scale contract: unlike the reference (which `malloc`s the full chunk,
  * `QuickInsertionHeap.c:181`, and dies past node memory), this operator
  * is an EXTERNAL hybrid sort. Rows accumulate as UnsafeRow copies up to a
  * per-task run budget (`spark.graft.hybridSort.spillRows` /
  * `.spillBytes`, default 4M rows / 128 MB); a full run is sorted
  * in-memory with the hybrid algorithm and spilled to a local sorted-run
  * file, and the partition's output is a k-way min-heap merge of the
  * spilled runs plus the final in-memory run — the reference's own O8
  * heap merge (`QuickInsertionHeap.cu:199-206`), applied where it belongs
  * at 100 TB: per-task run reconciliation, never a single-node gather. A
  * partition that fits the budget never touches disk (the common case
  * when `spark.sql.shuffle.partitions` is sized to the data); a skewed
  * range partition degrades to sequential spill I/O instead of an
  * executor OOM. Heap footprint is hard-bounded by the byte budget —
  * independent of partition size — so AQE partition coalescing (which
  * merges by serialized shuffle bytes) can no longer push the operator
  * past the heap. `spillRuns`/`spillBytes` SQL metrics surface the
  * behavior in the UI and in tests.
  *
  * Executor sizing rule: the run buffer is plain heap (UnsafeRow copies
  * in an ArrayBuffer), NOT registered with Spark's TaskMemoryManager, so
  * Spark can neither account for it nor ask it to spill under pressure —
  * each task is individually bounded, and the budget ledger counts
  * `getSizeInBytes` PLUS a fixed 64 B/row object overhead
  * ([[ExternalHybridSorter.RowOverhead]]) so accounted bytes track
  * RESIDENT bytes even for narrow rows (where raw payload undercounts
  * ~5×). `concurrent tasks per executor × spillBytes` must fit the
  * executor's non-storage heap: at the defaults (128 MB budget, 8
  * tasks/executor) that is ~1 GiB — well inside a standard 8 GiB
  * executor; shrink `spark.graft.hybridSort.spillBytes` before raising
  * task concurrency on small-heap executors. The production default remains
  * [[graft.ops.Sorts.globalSort]]; this operator exists for
  * algorithm-level parity and as the engine's planner-extension showcase
  * (logical node + strategy + exec, injected via [[graft.GraftExtensions]]).
  */
case class HybridSortPlan(order: Seq[SortOrder], threshold: Int,
                          global: Boolean, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): HybridSortPlan =
    copy(child = newChild)
}

/** Planner strategy: maps the logical node to its physical operator.
  * Injected cluster-wide by `graft.GraftExtensions`
  * (`injectPlannerStrategy`) or per-session via
  * `spark.experimental.extraStrategies`.
  */
object HybridSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case HybridSortPlan(order, threshold, global, child) =>
      HybridSortExec(order, threshold, global, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical hybrid sort: requires a range-partitioned child when `global`,
  * external-sorts each partition (hybrid quicksort per run, heap merge of
  * spilled runs — see [[HybridSortPlan]]'s scale contract).
  */
case class HybridSortExec(order: Seq[SortOrder], threshold: Int,
                          global: Boolean, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String = "GraftHybridSort"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "spillRuns" -> SQLMetrics.createMetric(sparkContext, "spilled sorted runs"),
    "spillBytes" -> SQLMetrics.createSizeMetric(sparkContext, "spill bytes"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (global) OrderedDistribution(order) :: Nil
    else UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    // LazilyGeneratedOrdering is serializable and regenerates its codegen'd
    // comparator on each executor after deserialization.
    val ord = new LazilyGeneratedOrdering(order, child.output)
    val t = threshold
    val attrs = child.output
    val maxRunRows = conf.getConfString(
      "spark.graft.hybridSort.spillRows", "4194304").toLong.max(1L)
    val maxRunBytes = conf.getConfString(
      "spark.graft.hybridSort.spillBytes", (128L << 20).toString).toLong.max(1L)
    val runsMetric = longMetric("spillRuns")
    val bytesMetric = longMetric("spillBytes")
    child.execute().mapPartitions({ iter =>
      new ExternalHybridSorter(attrs.length,
        UnsafeProjection.create(attrs, attrs), ord, t,
        maxRunRows, maxRunBytes, runsMetric, bytesMetric).sort(iter)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): HybridSortExec =
    copy(child = newChild)
}

private[plans] object ExternalHybridSorter {
  /** Accounted per-row JVM overhead beyond `getSizeInBytes`: UnsafeRow
    * object (~40 B: header + baseObject ref + offset/size fields) +
    * backing byte[] header (~16 B) + buffer slot (~8 B amortized). For a
    * narrow row (one int: 16 payload bytes) the RESIDENT size is ~5× the
    * payload — budgeting on payload alone let a 32-task 200M-row run
    * OOM an 8 GiB heap without ever reaching its spill line. With the
    * overhead in the ledger, accounted ≈ resident, and
    * `tasks × spillBytes` is an honest heap bound.
    */
  val RowOverhead = 64L
}

/** Per-task external sort: hybrid quicksort over bounded in-memory runs,
  * length-prefixed UnsafeRow spill files, min-heap merge of runs. Spill
  * files live in the executor's Spark local dir and are deleted on task
  * completion (success or failure).
  */
private[plans] final class ExternalHybridSorter(
    numFields: Int, toUnsafe: UnsafeProjection, ord: Ordering[InternalRow],
    threshold: Int, maxRunRows: Long, maxRunBytes: Long,
    runsMetric: SQLMetric, bytesMetric: SQLMetric) {

  private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
  private var bufBytes = 0L
  private val spills = scala.collection.mutable.ArrayBuffer.empty[File]
  private val openRuns = scala.collection.mutable.ArrayBuffer.empty[FileRun]
  private val writeBuffer = new Array[Byte](4096)

  def sort(iter: Iterator[InternalRow]): Iterator[InternalRow] = {
    val ctx = TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit] { _ =>
      // Close before delete: a consumer that stopped early (LIMIT above
      // the sort) leaves runs mid-file, and deleting a still-open file
      // fails on non-POSIX filesystems (and leaks the handle until GC
      // everywhere).
      openRuns.foreach(_.close())
      spills.foreach(f => if (f.exists()) f.delete())
    }
    while (iter.hasNext) {
      // rows from the shuffle reader are reused mutable buffers — copy
      val u = toUnsafe(iter.next()).copy()
      buf += u
      bufBytes += u.getSizeInBytes + ExternalHybridSorter.RowOverhead
      if (buf.length >= maxRunRows || bufBytes >= maxRunBytes) spillRun()
    }
    val arr = buf.toArray
    if (arr.length > 1) HybridSort.sortRangeO(arr, 0, arr.length - 1, ord, threshold)
    if (spills.isEmpty) arr.iterator
    else mergeRuns(arr)
  }

  private def spillRun(): Unit = {
    val arr = buf.toArray
    if (arr.length > 1) HybridSort.sortRangeO(arr, 0, arr.length - 1, ord, threshold)
    val file = GraftSpillUtil.newSpillFile("graft-hybrid-sort-")
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(file), 1 << 16))
    try {
      var i = 0
      while (i < arr.length) {
        val u = arr(i).asInstanceOf[UnsafeRow]
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, writeBuffer)
        i += 1
      }
    } finally out.close()
    spills += file
    runsMetric.add(1)
    bytesMetric.add(file.length())
    buf.clear()
    bufBytes = 0L
  }

  /** One sorted run — a spilled file or the final in-memory array. Readers
    * materialize each record into a FRESH byte array, so a row handed to
    * the merge consumer is never overwritten by a later advance. */
  private sealed trait Run {
    var current: InternalRow = _
    def advance(): Boolean
  }

  private final class FileRun(file: File) extends Run {
    private val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(file), 1 << 16))
    private var closed = false
    openRuns += this
    def close(): Unit = if (!closed) { closed = true; in.close() }
    override def advance(): Boolean = {
      if (closed) return false
      val size = try in.readInt() catch { case _: EOFException => -1 }
      if (size < 0) { close(); false }
      else {
        val bytes = new Array[Byte](size)
        in.readFully(bytes)
        val r = new UnsafeRow(numFields)
        r.pointTo(bytes, size)
        current = r
        true
      }
    }
  }

  private final class MemRun(arr: Array[InternalRow]) extends Run {
    private var i = 0
    override def advance(): Boolean =
      if (i >= arr.length) false else { current = arr(i); i += 1; true }
  }

  /** Reference O8: k-way min-heap merge (`QuickInsertionHeap.cu:199-206`),
    * here merging this task's sorted runs. */
  private def mergeRuns(lastRun: Array[InternalRow]): Iterator[InternalRow] = {
    val heap = new java.util.PriorityQueue[Run](
      (a: Run, b: Run) => ord.compare(a.current, b.current))
    (spills.map(new FileRun(_)) :+ new MemRun(lastRun)).foreach { r =>
      if (r.advance()) heap.add(r)
    }
    new Iterator[InternalRow] {
      override def hasNext: Boolean = !heap.isEmpty
      override def next(): InternalRow = {
        val r = heap.poll()
        val row = r.current
        if (r.advance()) heap.add(r)
        row
      }
    }
  }
}
