package graft.ops

/** The one place the reference's *algorithm* (not just its semantics)
  * survives in this engine: quicksort that hands runs shorter than a
  * threshold to insertion sort, as in the reference's
  * `SequentialQuickInsert.c`: insertion sort over `arr[left..right]`
  * (`:8-18`) wherever `high - low < threshold` (`:40-52`, default 25 per
  * `:5`, CLI-tunable in `quickThreshold.c:188-191`). The cutoff is kept
  * exactly, so `t = 1` is pure quicksort and a huge `t` pure insertion sort.
  *
  * Differences by design, each against `SequentialQuickInsert.c:21-52`:
  *  - pivot: the reference takes `arr[high]` (`:21-37`), which makes presorted
  *    and reverse input quadratic. Here it is the median of three below 40
  *    elements and Tukey's ninther above (Bentley & McIlroy, "Engineering
  *    a Sort Function", SP&E 1993);
  *  - partition: the reference's Lomuto scan (`:21-37`) puts every key
  *    equal to the pivot on one side, so all-equal and few-distinct input
  *    is quadratic. Here it is the two-way Hoare/Sedgewick scan that stops
  *    on keys equal to the pivot, which splits runs of equal keys evenly;
  *  - recursion: the reference recurses into both sides (`:40-52`) and can
  *    overflow its stack (its CUDA variant needs a 4096-slot manual stack,
  *    `QuickInsertionHeap.cu:6,40-72`). Here it recurses into the smaller
  *    side and loops on the larger, so stack depth is O(log n);
  *  - depth bound: a range still above the threshold after `2·⌊log2 n⌋`
  *    partition levels is heapsorted in place (Musser's introsort, SP&E
  *    1997), so no input costs more than O(n log n) compares;
  *  - no `INT_MAX` padding sentinel (`quickThreshold.c:171` corrupts data
  *    that legitimately contains `INT_MAX`): arrays are sorted as-is.
  *
  * At cluster scale this code only ever sees one *run* at a time (an array
  * column value, or a partition handed to it by a custom physical operator);
  * the distributed scatter/sort/merge of the reference maps to Spark's
  * `RangePartitioning` + per-partition sort (see ops.Sorts).
  */
object HybridSort {

  val DefaultThreshold = 25

  /** The algorithm, written once; `lt` is its only abstract member.
    * `@specialized` compiles the Int and Long copies, which read and write
    * primitive arrays without boxing. [[graft.plans.HybridSortExec]] sorts
    * its rows through the `Long` copy, as packed (key prefix, row index)
    * keys; the `Ordering` entry point runs the generic copy.
    */
  private[graft] abstract class Kernel[@specialized(Int, Long) T] {
    def lt(x: T, y: T): Boolean

    /** Sorts `a[low..high]`, heapsorting any range above the threshold that
      * is still unsorted after `depth` partition levels.
      */
    def sort(a: Array[T], low0: Int, high0: Int, threshold: Int, depth0: Int): Unit = {
      var low = low0
      var high = high0
      var depth = depth0
      while (low < high) {
        if (high - low < threshold) {
          insertionSort(a, low, high)
          low = high // done
        } else if (depth == 0) {
          heapSort(a, low, high)
          low = high
        } else {
          depth -= 1
          val p = partition(a, low, high)
          // recurse into smaller side, loop on larger: O(log n) stack
          if (p - low < high - p) {
            sort(a, low, p - 1, threshold, depth)
            low = p + 1
          } else {
            sort(a, p + 1, high, threshold, depth)
            high = p - 1
          }
        }
      }
    }

    def insertionSort(a: Array[T], left: Int, right: Int): Unit = {
      var i = left + 1
      while (i <= right) {
        val key = a(i)
        var j = i - 1
        while (j >= left && lt(key, a(j))) { a(j + 1) = a(j); j -= 1 }
        a(j + 1) = key
        i += 1
      }
    }

    /** Hoare/Sedgewick partition around the median pivot, moved to `low`:
      * both scans stop on keys equal to it. Returns the pivot's final slot
      * `p`, with `a[low..p-1] <= a(p) <= a[p+1..high]`.
      */
    def partition(a: Array[T], low: Int, high: Int): Int = {
      swap(a, low, pivotIndex(a, low, high))
      val v = a(low)
      var i = low + 1
      var j = high
      while (i <= high && lt(a(i), v)) i += 1
      while (lt(v, a(j))) j -= 1 // `a(low) = v` stops this scan
      while (i < j) {
        swap(a, i, j)
        // after a swap, `a(j) >= v` and `a(i) <= v` stop the scans
        i += 1
        while (lt(a(i), v)) i += 1
        j -= 1
        while (lt(v, a(j))) j -= 1
      }
      swap(a, low, j)
      j
    }

    def pivotIndex(a: Array[T], low: Int, high: Int): Int = {
      val n = high - low + 1
      val mid = low + (n >>> 1)
      if (n < 40) median3(a, low, mid, high)
      else {
        val e = n >>> 3
        median3(a, median3(a, low, low + e, low + 2 * e),
          median3(a, mid - e, mid, mid + e),
          median3(a, high - 2 * e, high - e, high))
      }
    }

    def median3(a: Array[T], i: Int, j: Int, k: Int): Int =
      if (lt(a(i), a(j))) { if (lt(a(j), a(k))) j else if (lt(a(i), a(k))) k else i }
      else { if (lt(a(k), a(j))) j else if (lt(a(k), a(i))) k else i }

    def heapSort(a: Array[T], low: Int, high: Int): Unit = {
      val n = high - low + 1
      var i = (n >>> 1) - 1
      while (i >= 0) { siftDown(a, low, i, n); i -= 1 }
      var end = n - 1
      while (end > 0) {
        swap(a, low, low + end)
        siftDown(a, low, 0, end)
        end -= 1
      }
    }

    /** Restores the max-heap `a[base..base+n-1]` below heap node `i0`. */
    def siftDown(a: Array[T], base: Int, i0: Int, n: Int): Unit = {
      val x = a(base + i0)
      val half = n >>> 1 // nodes below `half` have a child
      var i = i0
      var done = false
      while (!done && i < half) {
        var c = 2 * i + 1
        if (c + 1 < n && lt(a(base + c), a(base + c + 1))) c += 1
        if (lt(x, a(base + c))) { a(base + i) = a(base + c); i = c }
        else done = true
      }
      a(base + i) = x
    }

    def swap(a: Array[T], i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
  }

  private[graft] object IntKernel extends Kernel[Int] { def lt(x: Int, y: Int): Boolean = x < y }
  private[graft] object LongKernel extends Kernel[Long] { def lt(x: Long, y: Long): Boolean = x < y }
  private[graft] final class OrderingKernel[T](ord: Ordering[T]) extends Kernel[T] {
    def lt(x: T, y: T): Boolean = ord.lt(x, y)
  }

  /** Introsort's partition-level budget for `n` keys: `2·⌊log2 n⌋`. */
  private[graft] def depthBudget(n: Int): Int =
    2 * (31 - Integer.numberOfLeadingZeros(n.max(1)))

  /** In-place hybrid sort of `a[low..high]`. */
  def sortRange(a: Array[Int], low: Int, high: Int,
                threshold: Int = DefaultThreshold): Unit =
    IntKernel.sort(a, low, high, threshold, depthBudget(high - low + 1))

  def sortRangeL(a: Array[Long], low: Int, high: Int,
                 threshold: Int = DefaultThreshold): Unit =
    LongKernel.sort(a, low, high, threshold, depthBudget(high - low + 1))

  def sortRangeO[T](a: Array[T], low: Int, high: Int, ord: Ordering[T],
                    threshold: Int = DefaultThreshold): Unit =
    new OrderingKernel(ord).sort(a, low, high, threshold, depthBudget(high - low + 1))

  /** Pure (copying) sorts. */
  def sorted(a: Array[Int], threshold: Int = DefaultThreshold): Array[Int] = {
    val c = a.clone()
    sortRange(c, 0, c.length - 1, threshold)
    c
  }

  def sortedL(a: Array[Long], threshold: Int = DefaultThreshold): Array[Long] = {
    val c = a.clone()
    sortRangeL(c, 0, c.length - 1, threshold)
    c
  }
}
