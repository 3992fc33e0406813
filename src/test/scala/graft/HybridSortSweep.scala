package graft

import graft.ops.HybridSort
import graft.plans.ExternalHybridSorter

/** The reference's insertion-threshold experiment (`quickThreshold.c`),
  * redone at the kernel layer over the keys `HybridSortExec` sorts: Int
  * keys rebased to their minimum and packed with their row index into
  * `Long`s, sorted by `HybridSort.sortRangeL`. Sweeps BASELINE.md's sizes
  * (1k to 4M), six key shapes and thresholds {5, 10, 25, 50}, and writes
  * the median ns/row of each cell plus each threshold's geometric mean
  * and win count as JSON.
  *
  * {{{
  * sbt "Test/runMain graft.HybridSortSweep THRESHOLD_SWEEP.json"
  * }}}
  *
  * Thresholds rotate inside each repetition, so JIT warm-up and host
  * drift fall on every threshold alike. Small sizes sort enough copies
  * per sample to cover about 2M keys.
  */
object HybridSortSweep {
  val Sizes = Seq(1000, 50000, 100000, 1000000, 2000000, 4000000)
  val Thresholds = Seq(5, 10, 25, 50)
  val Reps = 5

  /** `n` keys of `shape`. `KeyShapes.ints("all_equal", ...)` draws every
    * key afresh, so its keys are random; here all keys are one value.
    */
  def keys(shape: String, n: Int, seed: Long): Array[Int] =
    if (shape != "all_equal") KeyShapes.ints(shape, n, seed)
    else { val k = new scala.util.Random(seed).nextInt(); Array.fill(n)(k) }

  /** `keys` as the operator packs them: rebased prefix, then row index. */
  def packed(ks: Array[Int]): Array[Long] = {
    val lo = if (ks.isEmpty) 0L else ks.min.toLong
    Array.tabulate(ks.length)(i => ExternalHybridSorter.pack(ks(i) - lo, i))
  }

  /** Median ns/row of sorting `base` at each threshold. */
  def measure(base: Array[Long]): Map[Int, Double] = {
    val n = base.length
    val copies = (2000000 / n).max(1)
    val work = new Array[Long](n)
    val samples = Thresholds.map(_ -> Array.newBuilder[Double]).toMap
    for (rep <- 0 until Reps; k <- Thresholds.indices) {
      val t = Thresholds((k + rep) % Thresholds.length)
      var ns = 0L
      for (_ <- 0 until copies) {
        System.arraycopy(base, 0, work, 0, n)
        val t0 = System.nanoTime()
        HybridSort.sortRangeL(work, 0, n - 1, t)
        ns += System.nanoTime() - t0
      }
      var i = 1
      while (i < n) {
        if (work(i - 1) > work(i)) throw new IllegalStateException(s"t=$t left keys unsorted")
        i += 1
      }
      samples(t) += ns.toDouble / (copies.toLong * n)
    }
    samples.map { case (t, b) => val s = b.result().sorted; t -> s(s.length / 2) }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("THRESHOLD_SWEEP.json")
    // warm the kernel before the first timed cell
    for (_ <- 0 until 3) measure(packed(keys("random", 200000, 1)))
    val cells = for (n <- Sizes; shape <- KeyShapes.Names) yield {
      val ns = measure(packed(keys(shape, n, 42)))
      System.err.println(s"[sweep] n=$n $shape " +
        Thresholds.map(t => f"t$t=${ns(t)}%.2f").mkString(" "))
      (n, shape, ns)
    }
    val geo = Thresholds.map { t =>
      t -> math.exp(cells.map(c => math.log(c._3(t))).sum / cells.length)
    }
    val wins = Thresholds.map(t => t -> cells.count(c => c._3.minBy(_._2)._1 == t))
    def obj(kv: Seq[(Any, Any)]): String =
      kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val rows = cells.map { case (n, shape, ns) =>
      obj(Seq("rows" -> n, "shape" -> s""""$shape"""",
        "ns_per_row" -> obj(Thresholds.map(t => t -> f"${ns(t)}%.3f"))))
    }
    val json = obj(Seq(
      "kernel" -> "\"HybridSort.sortRangeL over packed (rebased Int key, row index) longs\"",
      "cpu" -> s""""${cpuModel()}"""",
      "cores" -> Runtime.getRuntime.availableProcessors,
      "reps" -> Reps,
      "thresholds" -> Thresholds.mkString("[", ", ", "]"),
      "geomean_ns_per_row" -> obj(geo.map { case (t, g) => t -> f"$g%.3f" }),
      "cells_won" -> obj(wins),
      "cells" -> rows.mkString("[\n  ", ",\n  ", "\n]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    System.err.println(s"[sweep] geomean ns/row ${obj(geo)}; cells won ${obj(wins)}")
  }

  private def cpuModel(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .collectFirst { case l if l.startsWith("model name") => l.split(":", 2)(1).trim })
      .toOption.flatten.getOrElse("unknown")
}
