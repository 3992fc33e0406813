package graft

import java.nio.file.Files

import org.apache.spark.GraftTestShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Repartition, ResolvedHint}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.Adaptive

/** `Adaptive.fanOut` decides without running its input, fans out a narrow
  * scan and leaves a wide frame alone; `Adaptive.broadcastIf` hints up to
  * and including its cap.
  */
class AdaptiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var oneFile: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-adaptive-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    oneFile = Files.createTempDirectory("graft-adaptive").resolve("t.parquet").toString
    spark.range(0, 10000).selectExpr("id % 37 AS k", "id AS v")
      .coalesce(1).write.parquet(oneFile)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def slots: Int = spark.sparkContext.defaultParallelism

  private def jobsDuring[T](body: => T): (T, Int) =
    GraftTestShim.jobsDuring(spark.sparkContext)(body)

  private def fannedOut(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: Repartition => r.shuffle && r.numPartitions == slots
    case _ => false
  }

  test("fanOut on an aggregate launches no job and still fans out") {
    val agg = spark.read.parquet(oneFile).groupBy(col("k")).agg(sum(col("v")).as("s"))
    val (out, jobs) = jobsDuring(Adaptive.fanOut(agg))
    assert(jobs == 0, s"deciding the fan-out ran $jobs job(s)")
    assert(fannedOut(out), out.queryExecution.logical.toString)
    assert(out.rdd.getNumPartitions == slots)
    assert(out.count() == 37)
  }

  test("fanOut repartitions a one-split scan to cluster width") {
    val scan = spark.read.parquet(oneFile)
    assert(scan.rdd.getNumPartitions == 1)
    val (out, jobs) = jobsDuring(Adaptive.fanOut(scan))
    assert(jobs == 0)
    assert(fannedOut(out), out.queryExecution.logical.toString)
  }

  test("fanOut returns a frame at least half the slots wide as is") {
    assert(slots >= 4)
    Seq(slots / 2, slots).foreach { n =>
      val wide = spark.range(0, 1000, 1, n).toDF()
      assert(Adaptive.fanOut(wide) eq wide, s"$n partitions")
    }
    val narrow = spark.range(0, 1000, 1, slots / 2 - 1).toDF()
    assert(fannedOut(Adaptive.fanOut(narrow)))
  }

  test("Dedup.minhashSignatures fans out only the doc_id and text it reads") {
    val docs = spark.range(0, 200, 1, 1).selectExpr("id AS doc_id",
      "concat('w', id % 7, ' w', id % 5, ' w', id % 3) AS text",
      "id AS a", "'x' AS b", "1.0 AS c")
    val sig = graft.ops.Dedup.minhashSignatures(docs, k = 4, shingleN = 2)
    val shuffled = sig.queryExecution.analyzed.collect {
      case r: Repartition => r.child.output.map(_.name)
    }
    assert(shuffled == Seq(Seq("doc_id", "text")))
    assert(sig.count() == 200)
  }

  test("broadcastIf hints up to and including the cap") {
    val df = spark.range(0, 10).toDF()
    def hinted(f: DataFrame => DataFrame): Boolean =
      f(df).queryExecution.analyzed.collectFirst {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }.isDefined
    val key = Adaptive.BroadcastEdgesMax
    assert(hinted(Adaptive.broadcastIf(spark, 2000000L, key)), "default cap")
    assert(Adaptive.broadcastIf(spark, 2000001L, key)(df) eq df)
    spark.conf.set(key, "10")
    try {
      assert(hinted(Adaptive.broadcastIf(spark, 10L, key)))
      assert(Adaptive.broadcastIf(spark, 11L, key)(df) eq df)
      assert(!hinted(Adaptive.broadcastIf(spark, 11L, key)))
    } finally spark.conf.unset(key)
  }
}
