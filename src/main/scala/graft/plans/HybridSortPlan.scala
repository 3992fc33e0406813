package graft.plans

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftSpillUtil
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, NullsFirst, SortOrder, SortPrefix, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.{SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators.RadixSortSupport

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
  * partition step (see [[graft.ops.HybridSort]]) over its partition. The
  * kernel sorts primitive `Long`s, as the reference sorts plain ints: each
  * row's key is packed with its index, and only rows whose packed key
  * prefixes tie are compared by Catalyst's generated row ordering — so the
  * operator sorts ANY schema by ANY key set, not just the reference's bare
  * ints. Downstream consumption in partition-index order is the
  * gather/merge; no single-node k-way merge exists anywhere (the
  * reference's rank-0 merge is its scale ceiling).
  *
  * Scale contract: unlike the reference (which `malloc`s the full chunk,
  * `QuickInsertionHeap.c:181`, and dies past node memory), this operator
  * is an EXTERNAL hybrid sort. A run is one growable byte page holding its
  * rows back to back (each as its `Int` length, then its UnsafeRow bytes)
  * plus, per row, an `Int` page offset and a `Long` packing a 32-bit
  * order-preserving prefix of the leading sort key (high half) with the
  * row's index (low half). A full run — per-task budget
  * `spark.graft.hybridSort.spillRows` / `.spillBytes`, default 4M rows /
  * 128 MB — is sorted by the hybrid kernel's `Long` copy over its packed
  * keys and written straight from the page to a local sorted-run file;
  * the partition's output is a k-way min-heap merge of the spilled runs
  * plus the final in-memory run — the reference's own O8 heap merge
  * (`QuickInsertionHeap.cu:199-206`), applied where it belongs at 100 TB:
  * per-task run reconciliation, never a single-node gather. A partition
  * that fits the budget never touches disk (the common case when
  * `spark.sql.shuffle.partitions` is sized to the data) and is emitted as
  * UnsafeRow views into its page; a skewed range partition degrades to
  * sequential spill I/O instead of an executor OOM. Heap footprint is
  * hard-bounded by the byte budget — independent of partition size — so
  * AQE partition coalescing (which merges by serialized shuffle bytes)
  * can no longer push the operator past the heap. `spillRuns`/`spillBytes`
  * SQL metrics surface the behavior in the UI and in tests.
  *
  * Executor sizing rule: a run (page, offsets, packed keys) is plain heap,
  * NOT registered with Spark's TaskMemoryManager, so Spark can neither
  * account for it nor ask it to spill under pressure — each task is
  * individually bounded. The budget ledger counts what a run measurably
  * holds: the page bytes written (each row's bytes plus its 4-byte length)
  * plus 12 B/row for its offset and packed key. A run holds no per-row
  * object, so no per-object estimate is added. The page grows by doubling
  * but not past the byte budget (except to fit one row), so `concurrent
  * tasks per executor × spillBytes` bounds the operator's heap: at the
  * defaults (128 MB budget, 8 tasks/executor) that is ~1 GiB — well inside
  * a standard 8 GiB executor; shrink `spark.graft.hybridSort.spillBytes`
  * before raising task concurrency on small-heap executors. The row index
  * is 32 bits and offsets are `Int`, so `spillRows` must be below 2^31 and
  * `spillBytes` at most [[ExternalHybridSorter.MaxPageBytes]]; the
  * operator rejects larger values. The production default remains
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
    val maxRunRows = budget("spark.graft.hybridSort.spillRows", 4194304L,
      Int.MaxValue, "the row index packed beside each key is 32 bits")
    val maxRunBytes = budget("spark.graft.hybridSort.spillBytes", 128L << 20,
      ExternalHybridSorter.MaxPageBytes, "a run's rows live in one byte array")
    val key = KeyPrefix(order, attrs)
    val runsMetric = longMetric("spillRuns")
    val bytesMetric = longMetric("spillBytes")
    child.execute().mapPartitions({ iter =>
      new ExternalHybridSorter(attrs.length,
        UnsafeProjection.create(attrs, attrs), ord, key, t,
        maxRunRows, maxRunBytes, runsMetric, bytesMetric).sort(iter)
    }, preservesPartitioning = true)
  }

  /** A run budget conf value, at least 1 and at most `max`. */
  private def budget(key: String, default: Long, max: Long, why: String): Long = {
    val v = conf.getConfString(key, default.toString).toLong
    if (v > max) throw new IllegalArgumentException(
      s"$key = $v exceeds its limit $max: $why")
    v.max(1L)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): HybridSortExec =
    copy(child = newChild)
}

/** How a run keys its rows: Spark's 64-bit `SortPrefix` of the leading
  * sort order (`key`, bound to the input; 0 for key types Spark has no
  * prefix for), mapped so that signed `Long` order is output order.
  * `unsigned` says Spark compares this prefix unsigned (strings, binary,
  * floating point); `exact` says the prefix IS the key (a single integral,
  * date or timestamp sort key), so a run with no nulls whose key range
  * fits 32 bits needs no row comparison at all.
  */
private[plans] final case class KeyPrefix(key: SortOrder, unsigned: Boolean, exact: Boolean)

private[plans] object KeyPrefix {
  def apply(order: Seq[SortOrder], input: Seq[Attribute]): KeyPrefix = {
    val key = BindReferences.bindReference(order.head, input)
    val unsigned = SortPrefixUtils.getPrefixComparator(key) match {
      case r: RadixSortSupport => !r.sortSigned
      case _ => false // no prefix: every row's is 0
    }
    val exactType = key.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    KeyPrefix(key, unsigned, exact = order.length == 1 && exactType)
  }
}

private[graft] object ExternalHybridSorter {
  /** The largest run page: the largest byte array the JVM allocates. */
  val MaxPageBytes: Long = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong

  /** Accounted bytes per row beside its page bytes: `Int` offset + `Long` key. */
  val RowBytes = 12L

  /** Packs a rebased prefix `r` (`0 <= r < 2^32`) with row index `i` so
    * that signed `Long` order is (prefix, index) order.
    */
  def pack(r: Long, i: Int): Long = ((r << 32) ^ Long.MinValue) | i
}

/** Per-task external sort: hybrid quicksort of packed keys over bounded
  * in-memory runs, length-prefixed UnsafeRow spill files, min-heap merge of
  * runs. Spill files live in the executor's Spark local dir and are deleted
  * on task completion (success or failure).
  */
private[plans] final class ExternalHybridSorter(
    numFields: Int, toUnsafe: UnsafeProjection, ord: Ordering[InternalRow],
    key: KeyPrefix, threshold: Int, maxRunRows: Long, maxRunBytes: Long,
    runsMetric: SQLMetric, bytesMetric: SQLMetric) {
  import ExternalHybridSorter._

  private val prefixOf = UnsafeProjection.create(Seq(SortPrefix(key.key)))
  private val nullKey =
    if (key.key.nullOrdering == NullsFirst) Long.MinValue else Long.MaxValue
  private val descending = !key.key.isAscending

  // The run: rows back to back in `page`, row i at `offsets(i)` as its Int
  // length then its bytes; `keys(i)` its normalized prefix while buffering,
  // its packed (prefix, index) once the run is sorted.
  private var page = new Array[Byte](1 << 16)
  private var pageUsed = 0
  private var offsets = new Array[Int](1 << 10)
  private var keys = new Array[Long](1 << 10)
  private var rows = 0
  private var minKey = Long.MaxValue // over non-null keys
  private var maxKey = Long.MinValue
  private var hasNull = false
  private val maxIndexRows = maxRunRows.min(maxRunBytes / (4 + RowBytes) + 1)

  private val spills = scala.collection.mutable.ArrayBuffer.empty[File]
  private val openRuns = scala.collection.mutable.ArrayBuffer.empty[FileRun]

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
      // the row's bytes are copied into the page, so a reused input row is fine
      append(iter.next() match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      })
      if (rows >= maxRunRows || pageUsed + RowBytes * rows >= maxRunBytes) spillRun()
    }
    sortRun()
    if (spills.isEmpty) runIterator()
    else mergeRuns(runIterator())
  }

  private def append(u: UnsafeRow): Unit = {
    val size = u.getSizeInBytes
    if (pageUsed.toLong + 4 + size > page.length) growPage(4 + size)
    if (rows == offsets.length) {
      val n = (2L * rows).min(maxIndexRows).max(rows + 1L).toInt
      offsets = java.util.Arrays.copyOf(offsets, n)
      keys = java.util.Arrays.copyOf(keys, n)
    }
    Platform.putInt(page, Platform.BYTE_ARRAY_OFFSET + pageUsed, size)
    u.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + pageUsed + 4)
    offsets(rows) = pageUsed
    keys(rows) = prefix(u)
    rows += 1
    pageUsed += 4 + size
  }

  /** Grows the page to fit `need` more bytes, spilling the run first if one
    * page cannot hold them.
    */
  private def growPage(need: Int): Unit = {
    if (pageUsed.toLong + need > MaxPageBytes && rows > 0) spillRun()
    if (pageUsed.toLong + need > page.length) {
      val want = pageUsed.toLong + need
      val cap = want.max((2L * page.length).min(maxRunBytes)).min(MaxPageBytes)
      if (cap < want) throw new IllegalStateException(
        s"a $need-byte row does not fit one $MaxPageBytes-byte run page")
      page = java.util.Arrays.copyOf(page, cap.toInt)
    }
  }

  /** The row's leading-key prefix, mapped so signed order is output order. */
  private def prefix(u: UnsafeRow): Long = {
    val p = prefixOf(u)
    if (p.isNullAt(0)) { hasNull = true; nullKey }
    else {
      var v = p.getLong(0)
      if (key.unsigned) v ^= Long.MinValue
      if (descending) v = ~v
      if (v < minKey) minKey = v
      if (v > maxKey) maxKey = v
      v
    }
  }

  /** Rebases the run's prefixes to its minimum, shifts them until its range
    * fits 32 bits, packs each with its row index and sorts the packed keys.
    */
  private def sortRun(): Unit = {
    val (lo, hi) = if (minKey <= maxKey) (minKey, maxKey) else (0L, 0L)
    val shift = (32 - java.lang.Long.numberOfLeadingZeros(hi - lo)).max(0)
    val top = (hi - lo) >>> shift
    var i = 0
    while (i < rows) {
      val k = keys(i) // a null key lies outside [lo, hi] or ties its end
      val r = if (k <= lo) 0L else if (k >= hi) top else (k - lo) >>> shift
      keys(i) = pack(r, i)
      i += 1
    }
    val exact = key.exact && !hasNull && shift == 0
    if (rows > 1) {
      if (exact) HybridSort.sortRangeL(keys, 0, rows - 1, threshold)
      else new TieKernel().sort(keys, 0, rows - 1, threshold, HybridSort.depthBudget(rows))
    }
  }

  /** Orders packed keys by prefix, and keys whose prefixes tie by their rows. */
  private final class TieKernel extends HybridSort.Kernel[Long] {
    private val a = new UnsafeRow(numFields)
    private val b = new UnsafeRow(numFields)
    def lt(x: Long, y: Long): Boolean =
      if ((x ^ y) >>> 32 != 0) x < y
      else { view(a, x.toInt); view(b, y.toInt); ord.compare(a, b) < 0 }
  }

  private def view(r: UnsafeRow, i: Int): Unit = {
    val at = Platform.BYTE_ARRAY_OFFSET + offsets(i)
    r.pointTo(page, at + 4, Platform.getInt(page, at))
  }

  /** The sorted run as UnsafeRow views into its page. */
  private def runIterator(): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var i = 0
    override def hasNext: Boolean = i < rows
    override def next(): InternalRow = {
      val r = new UnsafeRow(numFields)
      view(r, keys(i).toInt)
      i += 1
      r
    }
  }

  private def spillRun(): Unit = {
    sortRun()
    val file = GraftSpillUtil.newSpillFile("graft-hybrid-sort-")
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(file), 1 << 16))
    try {
      var i = 0
      while (i < rows) {
        val at = offsets(keys(i).toInt)
        val size = Platform.getInt(page, Platform.BYTE_ARRAY_OFFSET + at)
        out.writeInt(size)
        out.write(page, at + 4, size)
        i += 1
      }
    } finally out.close()
    spills += file
    runsMetric.add(1)
    bytesMetric.add(file.length())
    rows = 0
    pageUsed = 0
    minKey = Long.MaxValue
    maxKey = Long.MinValue
    hasNull = false
  }

  /** One sorted run — a spilled file or the final in-memory run. Each row
    * a run hands the merge is a fresh object, so a row handed to the merge
    * consumer is never overwritten by a later advance. */
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

  private final class MemRun(it: Iterator[InternalRow]) extends Run {
    override def advance(): Boolean =
      if (!it.hasNext) false else { current = it.next(); true }
  }

  /** Reference O8: k-way min-heap merge (`QuickInsertionHeap.cu:199-206`),
    * here merging this task's sorted runs. */
  private def mergeRuns(lastRun: Iterator[InternalRow]): Iterator[InternalRow] = {
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
