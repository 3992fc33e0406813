package graft

/** Per-round benchmark: runs every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A failed query is recorded as -1 (never as a
  * fake elapsed time) and listed in "errors"; "value" sums successful
  * queries only.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Warm the session before timing: JVM/codegen/parquet-reader init
    // otherwise lands entirely on the alphabetically-first query (~7s of
    // one-time cost misattributed to it).
    // Each warm-up action is individually isolated: a broken table read here
    // must degrade that table's queries, never kill the whole bench before a
    // single timing is recorded (round 4 lost all timings to an un-caught
    // analyzer error on this exact line).
    // NonFatal only: an OOM/LinkageError during warm-up means a corrupted
    // JVM — let it crash loudly rather than benching in that state.
    def warm(label: String)(action: => Unit): Unit =
      try action catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up '$label' failed: ${e.getMessage}")
      }
    warm("codegen")(spark.range(1000000L).selectExpr("sum(id % 7)").collect())
    Seq("lineitem", "documents", "embeddings").foreach { t =>
      warm(t)(spark.read.parquet(s"$sfDir/$t.parquet").limit(100).collect())
    }
    warm("events")(ops.Tables.events(spark, sfDir).limit(100).collect())
    // Two timed runs per query, report the MIN: the host VM occasionally
    // deschedules vCPUs for 30s+ windows, inflating whichever single
    // stage is running; min-of-2 keeps one stall from masquerading as a
    // query regression. Declared in the output ("agg":"min_of_2").
    // Optional comma-separated subset (local iteration only — the driver
    // never sets it, so per-round benches always cover every query).
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .map { case ((name, fn), qIdx) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        // noop sink, not count(): see Harness.noop
        try {
          Harness.noop(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
      }
      val a = once()
      val b = if (a < 0) -1.0 else once()
      val sec = if (a < 0) a else if (b < 0) a else math.min(a, b)
      Harness.release(spark)
      // Broadcast blocks are reaped by ContextCleaner only after their
      // weak refs GC — nudge periodically so a few hundred queries'
      // broadcasts never pile up to a GC wall inside someone's timed
      // run. Runs BETWEEN timings, so the cost lands on no query.
      if ((qIdx + 1) % 20 == 0) System.gc()
      (name, a, b, sec)
    }
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, _, _, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // BOTH raw runs per query, so a reader can separate a one-off VM
    // stall (a >> b or b >> a) from a genuine plan regression (a ≈ b,
    // both slow) without needing a local re-run.
    val runs = results.map { case (k, a, b, _) =>
      "\"" + k + "\":[" + r3(a) + "," + r3(b) + "]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, _, _, v) if v >= 0 => v }.sum
    // The harness that records this output keeps only the LAST ~2000 chars;
    // with ~90 queries the line is longer than that. The summary fields are
    // therefore REPEATED at the end of the object so a front-truncated tail
    // still shows the total and the error list.
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","agg":"min_of_2","sf":"$sfDir","queries":$qs,"runs":$runs,"errors":$errs,"n_queries":${results.size},"n_errors":${results.count(_._4 < 0)},"total_sec":${r3(total)}}"""
    println(line)
    // Durable copy for post-hoc inspection (stdout interleaves with sbt noise).
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
