package perfbench

/** Seeded inputs as pure functions of (seed, row index), so a Spark job
  * and a plain array built from the same seed hold the same values.
  */
object Inputs {
  import SortCheck.mix

  val KeyRange = 5000000

  /** The sort key shapes: the paper's uniform ints and the shapes real key
    * columns have.
    */
  val Shapes = Seq("random", "presorted", "reverse", "few_distinct", "organ_pipe")

  private def h(seed: Long, salt: Long, i: Long): Long = mix(mix(seed * 31 + salt) ^ i)

  def key(shape: String, i: Long, n: Long, seed: Long): Int = {
    val r = h(seed, 1, i)
    val jitter = (r & 63).toInt // ties-free ascending runs: step 64 + jitter < 64
    shape match {
      case "random" => ((r >>> 1) % KeyRange).toInt
      case "presorted" => (i * 64).toInt + jitter
      case "reverse" => ((n - 1 - i) * 64).toInt + jitter
      case "few_distinct" =>
        ((h(seed, 2, (r >>> 1) % 4) >>> 1) % KeyRange).toInt
      case "organ_pipe" =>
        (if (i < n / 2) i * 64 else (n - 1 - i) * 64).toInt + jitter
    }
  }
}
