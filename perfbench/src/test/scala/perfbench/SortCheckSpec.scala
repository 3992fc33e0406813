package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The sort check must accept exactly the sorted permutations of its input. */
class SortCheckSpec extends AnyFunSuite {
  private val input = Seq.tabulate(4)(p => Seq.tabulate(500)(i => ((i * 7919 + p * 31) % 1000).toLong))
  private val want = SortCheck.total(input.zipWithIndex.map { case (k, p) =>
    SortCheck.summarize(p, k.iterator) })
  private val sorted = input.flatten.sorted

  private def check(parts: Seq[Seq[Long]]): Option[String] =
    SortCheck.verify(want, parts.zipWithIndex.map { case (k, p) =>
      SortCheck.summarize(p, k.iterator) })

  private def split(xs: Seq[Long]): Seq[Seq[Long]] = xs.grouped(xs.size / 4).toSeq

  test("a range-partitioned sorted output passes") {
    assert(check(split(sorted)) === None)
  }

  test("empty partitions and partitions reported out of index order are fine") {
    val parts = Seq(Seq.empty[Long]) ++ split(sorted) :+ Seq.empty[Long]
    val summaries = parts.zipWithIndex.map { case (k, p) => SortCheck.summarize(p, k.iterator) }
    assert(SortCheck.verify(want, summaries.reverse) === None)
  }

  test("a single swapped pair of adjacent rows is rejected") {
    val i = sorted.indexWhere(_ > sorted.head) // first pair of unequal keys
    val swapped = sorted.updated(i - 1, sorted(i)).updated(i, sorted(i - 1))
    assert(check(split(swapped)).exists(_.contains("out of order")))
  }

  test("a swapped pair straddling a partition boundary is rejected") {
    val b = sorted.size / 4
    val swapped = sorted.updated(b - 1, sorted(b + 3)).updated(b + 3, sorted(b - 1))
    assert(check(split(swapped)).nonEmpty)
  }

  test("partitions concatenated in the wrong order are rejected") {
    val parts = split(sorted)
    assert(check(parts.tail :+ parts.head).exists(_.contains("boundaries")))
  }

  test("a changed, dropped or duplicated key is rejected") {
    assert(check(split(sorted.updated(10, sorted(10) + 1))).nonEmpty)
    assert(check(split(sorted.tail :+ sorted.last)).nonEmpty)
    assert(check(split(sorted.init)).exists(_.contains("row count")))
  }

  test("the digest separates multisets with equal count and sum") {
    val a = SortCheck.summarize(0, Iterator(1L, 5L))
    val b = SortCheck.summarize(0, Iterator(2L, 4L))
    assert((a.count, a.sum) === ((b.count, b.sum)))
    assert(a.digest !== b.digest)
  }
}
