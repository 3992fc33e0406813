package graft

import java.nio.file.{Files, Path}

import org.apache.spark.GraftTestShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Snapshots
import graft.streaming.StreamOps

/** The bounded streaming runners' housekeeping: `stageDir` stages a file
  * once, `fileStream` opens it without a job, `runToParquet` refuses a
  * plan whose output it would truncate, and every runner scopes its
  * session settings to the run and records its state operators.
  */
class StreamRunnersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-stream-runners-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = Files.createTempDirectory("graft_runners_test")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (work != null) org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("stageDir stages a file once, as one link, and returns a directory as is") {
    val file = Files.write(work.resolve("one.parquet"), Array[Byte](1, 2, 3))
    val a = StreamOps.stageDir(file.toString)
    val b = StreamOps.stageDir(file.toString)
    assert(a == b, "the same file must map to the same staged directory")
    val entries = Files.list(java.nio.file.Paths.get(a)).toArray.toSeq
      .map(_.asInstanceOf[Path])
    assert(entries.size == 1, s"staged directory holds $entries")
    assert(Files.isSymbolicLink(entries.head))
    assert(entries.head.toRealPath() == file.toRealPath())
    assert(StreamOps.stageDir(work.toString) == work.toString)
  }

  test("runToParquet refuses a watermarked windowed count") {
    val sp = spark; import sp.implicits._
    val src = work.resolve("events").toString
    Seq((1L, "click", 1.0), (2L, "view", 2.0)).toDF("sec", "event_type", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("event_type"),
        col("value"))
      .write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
    val err = intercept[IllegalArgumentException] {
      StreamOps.runToParquet(spark, StreamOps.hourlyStatsStream(stream))
    }
    assert(err.getMessage.contains("runToParquet") &&
      err.getMessage.contains("aggregate"), err.getMessage)
    assert(spark.streams.active.isEmpty, "no query may have started")
  }

  test("fileStream reads the inferred schema from the footer, with no job") {
    val written = work.resolve("docs_dir").toString
    spark.range(0, 50).selectExpr("id AS doc_id", "concat('t', id) AS text",
        "CAST(id AS DOUBLE) / 4 AS score")
      .coalesce(1).write.parquet(written)
    val part = new java.io.File(written).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val file = work.resolve("docs.parquet")
    Files.copy(part.toPath, file)
    val inferred = spark.read.parquet(file.toString).schema
    val (stream, jobs) = GraftTestShim.jobsDuring(spark.sparkContext)(
      StreamOps.fileStream(spark, file.toString))
    assert(jobs == 0, s"opening the stream ran $jobs job(s)")
    assert(stream.isStreaming)
    assert(stream.schema == inferred)
  }

  private val scoped = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")
  private def settings: Seq[Option[String]] = scoped.map(spark.conf.getOption)

  private lazy val changesDir: String = {
    val src = work.resolve("changes").toString
    val sp = spark; import sp.implicits._
    (1L to 20L).map(k => (k, s"s${k % 3}", if (k % 5 == 0) "delete" else "upsert"))
      .toDF("k", "seg", "op").write.parquet(src)
    src
  }

  /** A stream of `(k, seg, op)` rows: keys 1–20, every fifth a delete. */
  private def changes(): DataFrame =
    spark.readStream.schema("k BIGINT, seg STRING, op STRING").parquet(changesDir)

  test("each bounded runner restores the session settings and records its state operators") {
    val root = work.resolve("cdc_table").toString
    Snapshots.init(root)
    Snapshots.commit(root, spark.range(1, 21).selectExpr("id AS k",
      "concat('s', id % 3) AS seg"), "base"): Unit
    val prior = settings
    // each run records a different operator list than the run before it
    val runs = Seq[(String, () => Unit, Seq[String])](
      ("runToCompletion", () =>
        StreamOps.runToCompletion(spark, changes().groupBy("seg").count())
          .collect(): Unit, Seq("stateStoreSave")),
      ("drainToParquet", () =>
        StreamOps.drainToParquet(spark, changes().dropDuplicates("k"),
          s"$work/drain", s"$work/drain_ckpt"), Seq("dedupe")),
      ("cdcApplyStream", () =>
        StreamOps.cdcApplyStream(spark, changes(), root, "k", "op"): Unit, Nil),
      ("foreachBatchDigest", () =>
        StreamOps.foreachBatchDigest(spark,
          changes().select(col("k").as("digest")).dropDuplicates("digest"))
          .collect(): Unit,
        Seq("dedupe")))
    runs.foreach { case (name, run, ops) =>
      run()
      assert(settings == prior, s"$name left ${scoped.zip(settings)}")
      assert(StreamOps.lastStateOps == ops,
        s"$name recorded ${StreamOps.lastStateOps}")
    }
    assert(Snapshots.read(spark, root).count() == 16, "4 of 20 keys deleted")
    // the dedup state is as wide as the pinned count, not the session's 2
    assert(new java.io.File(s"$work/drain_ckpt/state/0").list()
      .count(_.forall(_.isDigit)) == 8)
  }

  test("a failed bounded run restores the session settings") {
    val prior = settings
    val missing = work.resolve("no_table").toString // never initialized
    intercept[StreamingQueryException] {
      StreamOps.cdcApplyStream(spark, changes(), missing, "k", "op")
    }
    assert(settings == prior, s"left ${scoped.zip(settings)}")
  }
}
