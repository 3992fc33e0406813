package perfbench

/** What the sort check keeps of one partition of keys: enough to prove,
  * without collecting the rows, that the output is the input reordered
  * into non-decreasing order.
  *  - `count`, `sum` and `digest` (a sum of 64-bit mixes, so equal
  *    multisets give equal digests whatever the order) pin the multiset;
  *  - `inversions` counts adjacent pairs out of order inside the partition,
  *    and `first`/`last` let partitions be chained in index order.
  */
final case class KeySummary(part: Int, count: Long, sum: Long, digest: Long,
                            inversions: Long, first: Long, last: Long)

object SortCheck {

  /** SplitMix64's finaliser: a bijective 64-bit mix. */
  def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def summarize(part: Int, keys: Iterator[Long]): KeySummary = {
    var n = 0L; var sum = 0L; var dig = 0L; var inv = 0L
    var first = 0L; var prev = 0L
    while (keys.hasNext) {
      val k = keys.next()
      if (n == 0) first = k else if (k < prev) inv += 1
      sum += k; dig += mix(k); prev = k; n += 1
    }
    KeySummary(part, n, sum, dig, inv, first, prev)
  }

  /** The multiset of a whole input, from its partitions' summaries. */
  def total(parts: Seq[KeySummary]): (Long, Long, Long) =
    (parts.map(_.count).sum, parts.map(_.sum).sum, parts.map(_.digest).sum)

  /** None when `output` (partitions in any order) is `input` sorted
    * ascending across partitions in index order; otherwise the reason.
    */
  def verify(input: (Long, Long, Long), output: Seq[KeySummary]): Option[String] = {
    val parts = output.sortBy(_.part)
    val (n, s, d) = total(parts)
    val inv = parts.map(_.inversions).sum
    val nonEmpty = parts.filter(_.count > 0)
    val seams = nonEmpty.zip(nonEmpty.drop(1)).count { case (a, b) => b.first < a.last }
    if (n != input._1) Some(s"row count ${n} != input ${input._1}")
    else if (s != input._2 || d != input._3) Some("key multiset differs from the input")
    else if (inv > 0) Some(s"$inv adjacent pairs out of order inside partitions")
    else if (seams > 0) Some(s"$seams partition boundaries out of order")
    else None
  }
}
