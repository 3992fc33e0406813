package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.HybridSort

/** Key shapes on which a quicksort with a poor pivot or partition rule goes
  * quadratic, plus uniform keys, as Int, Long and boxed (`Ordering`) arrays.
  */
object KeyShapes {
  val Names = Seq("all_equal", "few_distinct", "presorted", "reverse", "organ_pipe", "random")

  def ints(shape: String, n: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    shape match {
      case "all_equal" => val k = rnd.nextInt(); Array.fill(n)(k)
      case "few_distinct" => // 2-4 keys
        val keys = Array.fill(2 + rnd.nextInt(3))(rnd.nextInt())
        Array.fill(n)(keys(rnd.nextInt(keys.length)))
      case "presorted" => Array.tabulate(n)(i => 2 * i - n)
      case "reverse" => Array.tabulate(n)(i => n - 2 * i)
      case "organ_pipe" => Array.tabulate(n)(i => math.min(i, n - 1 - i))
      case "random" => Array.fill(n)(rnd.nextInt())
    }
  }

  /** Order-preserving widening that also fills the high 32 bits. */
  def longs(a: Array[Int]): Array[Long] = a.map(x => (x.toLong << 31) + x)

  def boxed(a: Array[Int]): Array[Integer] = a.map(Integer.valueOf)

  val IntegerOrdering: Ordering[Integer] = new Ordering[Integer] {
    def compare(x: Integer, y: Integer): Int = Integer.compare(x, y)
  }
}

/** ScalaCheck invariants of the hybrid sort on shaped keys, through the
  * Int, Long and `Ordering` entry points: output equals the reference sort
  * of the input (ascending and a multiset permutation), for sizes on both
  * sides of the insertion-sort threshold and for thresholds from pure
  * quicksort to pure insertion sort.
  */
object HybridSortShapeProps extends Properties("HybridSortShapes") {
  import KeyShapes._

  private val shaped = for {
    shape <- Gen.oneOf(Names)
    n <- Gen.oneOf(Gen.chooseNum(0, 400), Gen.chooseNum(20, 30))
    seed <- Gen.long
    t <- Gen.oneOf(1, 2, 24, 25, 26, 1000)
  } yield (shape, ints(shape, n, seed), t)

  property("shaped keys (Int)") = forAll(shaped) { case (shape, arr, t) =>
    Prop(HybridSort.sorted(arr, t).sameElements(arr.sorted)) :| s"$shape n=${arr.length} t=$t"
  }

  property("shaped keys (Long)") = forAll(shaped) { case (shape, arr, t) =>
    val a = longs(arr)
    Prop(HybridSort.sortedL(a, t).sameElements(a.sorted)) :| s"$shape n=${arr.length} t=$t"
  }

  property("shaped keys (Ordering)") = forAll(shaped) { case (shape, arr, t) =>
    val a = boxed(arr)
    HybridSort.sortRangeO(a, 0, a.length - 1, IntegerOrdering, t)
    Prop(a.map(_.intValue).sameElements(arr.sorted)) :| s"$shape n=${arr.length} t=$t"
  }
}
