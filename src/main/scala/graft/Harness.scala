package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session and the between-query hygiene every graft main runs with
  * (`Bench`, `Verify`, `Profile`, `Explain`, `Scale`).
  */
object Harness {

  /** The one harness session: `local[cpus]` with `cpus` shuffle
    * partitions, UTC session time, the events reader prerequisite
    * ([[graft.ops.Tables.NanosAsLongConf]]), no UI, ERROR-level logs.
    * `cpus` is `SPARK_GRAFT_CPUS`, else every processor the JVM sees.
    * `conf` pairs go to the builder after these, so they can override
    * any of them.
    */
  def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(ops.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Frees what one query leaves behind in the session, before the next
    * one runs:
    *
    *  - its `localCheckpoint` blocks. Several queries checkpoint
    *    multi-referenced subplans, and without this the blocks accumulate
    *    in the BlockManager across a whole suite; the GC pressure inflated
    *    late-alphabet queries up to 10× (hll_merge: 19 s in-suite vs 2.1 s
    *    isolated) before this cleanup.
    *  - the per-partition state-store providers streaming queries leave
    *    loaded in the JVM (HDFSBackedStateStoreProvider keeps recent
    *    version maps in memory; local mode has no executor decommission to
    *    shed them), and the terminated query objects the
    *    StreamingQueryManager pins. Across 21 `stream_*` queries × 2 runs ×
    *    32 partitions that is the same slow heap squeeze (winsorize read
    *    15.6 s in a memory-tighter harness while isolated runs stayed at
    *    ~1 s). Both releases are public API and take milliseconds.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    try {
      org.apache.spark.sql.GraftSqlShims.unloadStateStores()
      spark.streams.resetTerminated()
    } catch { case NonFatal(_) => () }
  }

  /** Wall seconds `body` takes. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Runs `df` to the noop sink, which consumes every row of every column
    * at zero sink cost. `count()` would time less than the query: under an
    * aggregate Catalyst removes the `orderBy` (EliminateSorts) and prunes
    * unused projections, leaving little more than the scan.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
