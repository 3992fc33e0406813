package graft

/** Ad-hoc profiling harness: runs named queries (default: all) twice each
  * with a no-op sink — run 1 includes plan+codegen+JIT warmup, run 2 is
  * steady-state. For a query's plan, see [[graft.Explain]].
  *
  * Usage: runMain graft.Profile <sfDir> [query...]
  * Extra session confs: GRAFT_CONF="k=v,k=v".
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val conf = sys.env.get("GRAFT_CONF").toSeq
      .flatMap(_.split(",").filter(_.nonEmpty))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Harness.session(conf: _*)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to 2).map(_ => Harness.time(Harness.noop(fn(spark, sfDir))))
      println(f"[profile] $n%-20s run1=${times(0)}%7.2fs run2=${times(1)}%7.2fs")
      Harness.release(spark)
    }
    spark.stop()
  }
}
