package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The bounded streaming runners' housekeeping: `stageDir` stages a file
  * once, and `runToParquet` refuses a plan whose output it would truncate.
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
}
