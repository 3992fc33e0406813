package graft

/** Plan-audit utility: print the formatted physical plan of one or more
  * `SparkEntry.queries` entries without executing them.
  *
  *   sbt "runMain graft.Explain <sfDir> <query>[,<query>...]"
  *
  * Used to review every operator's plan shape after it goes green: filters
  * pushed to the scan, broadcasts where a side is small, no nested-loop
  * joins, no unexpected exchanges. (Streaming queries execute on
  * construction, so explain them via their batch twins instead.)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
