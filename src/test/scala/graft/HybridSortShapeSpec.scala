package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.ops.HybridSort

/** The hybrid sort on the key shapes that make a last-element-pivot Lomuto
  * quicksort quadratic: examples per shape and entry point, a deterministic
  * compares bound, the heapsort fallback forced by a zero depth budget, and
  * million-key inputs under a wall-clock limit. Random shaped inputs are in
  * [[HybridSortShapeProps]].
  */
class HybridSortShapeSpec extends AnyFunSuite with TimeLimits {
  import KeyShapes._

  implicit val signaler: Signaler = ThreadSignaler

  /** Runs `body` off the test thread so a quadratic sort, which never
    * polls for interruption, still fails the test at the limit.
    */
  private def within10s(body: => Unit): Unit =
    failAfter(10.seconds) { Await.result(Future(body), Duration.Inf) }

  /** Sorts `arr` through all three entry points and checks each result. */
  private def checkAll(arr: Array[Int], t: Int, clue: String): Unit = {
    val want = arr.sorted
    assert(HybridSort.sorted(arr, t).sameElements(want), s"Int $clue")
    val l = longs(arr)
    assert(HybridSort.sortedL(l, t).sameElements(l.sorted), s"Long $clue")
    val b = boxed(arr)
    HybridSort.sortRangeO(b, 0, b.length - 1, IntegerOrdering, t)
    assert(b.map(_.intValue).sameElements(want), s"Ordering $clue")
  }

  test("every shape, sizes across the threshold boundary, all entry points") {
    for (shape <- Names; n <- Seq(0, 1, 2, 3, 24, 25, 26, 27, 39, 40, 41, 100, 1000);
         t <- Seq(1, 2, 24, 25, 26, 1 << 20)) {
      checkAll(ints(shape, n, n + t), t, s"$shape n=$n t=$t")
    }
  }

  test("compares stay within 3·n·log2(n) on 100k keys of every shape") {
    val n = 100000
    val bound = 3.0 * n * math.log(n) / math.log(2)
    for (shape <- Names) {
      var compares = 0L
      val counting = new Ordering[Integer] {
        def compare(x: Integer, y: Integer): Int = { compares += 1; Integer.compare(x, y) }
      }
      val arr = ints(shape, n, 7)
      val b = boxed(arr)
      HybridSort.sortRangeO(b, 0, n - 1, counting)
      assert(b.map(_.intValue).sameElements(arr.sorted), shape)
      assert(compares <= bound, s"$shape: $compares compares > $bound")
    }
  }

  test("heapsort fallback: a spent depth budget still sorts every shape, all types") {
    for (shape <- Names; n <- Seq(26, 27, 1000, 1001); t <- Seq(1, 25); depth <- Seq(0, 1, 3)) {
      val arr = ints(shape, n, n)
      val want = arr.sorted
      val clue = s"$shape n=$n t=$t depth=$depth"
      val i = arr.clone()
      HybridSort.IntKernel.sort(i, 0, n - 1, t, depth)
      assert(i.sameElements(want), s"Int $clue")
      val l = longs(arr)
      HybridSort.LongKernel.sort(l, 0, n - 1, t, depth)
      assert(l.sameElements(longs(want)), s"Long $clue")
      val b = boxed(arr)
      new HybridSort.OrderingKernel(IntegerOrdering).sort(b, 0, n - 1, t, depth)
      assert(b.map(_.intValue).sameElements(want), s"Ordering $clue")
      // the multiset check on its own, independent of the reference sort
      assert(i.groupBy(identity).view.mapValues(_.length).toMap ==
        arr.groupBy(identity).view.mapValues(_.length).toMap, clue)
    }
  }

  test("heapsort fallback sorts only the requested range") {
    val arr = Array(9, 8, 7, 6, 5, 4, 3, 2, 1, 0)
    HybridSort.IntKernel.sort(arr, 2, 7, 1, 0)
    assert(arr.sameElements(Array(9, 8, 2, 3, 4, 5, 6, 7, 1, 0)))
  }

  for (shape <- Names) test(s"1M $shape keys sort in under 10 s, all entry points") {
    val arr = ints(shape, 1 << 20, 11)
    val want = arr.sorted
    within10s {
      val i = arr.clone()
      HybridSort.sortRange(i, 0, i.length - 1)
      assert(i.sameElements(want))
      val l = longs(arr)
      HybridSort.sortRangeL(l, 0, l.length - 1)
      assert(l.sameElements(longs(want)))
      val b = boxed(arr)
      HybridSort.sortRangeO(b, 0, b.length - 1, IntegerOrdering)
      assert(b.map(_.intValue).sameElements(want))
    }
  }
}
