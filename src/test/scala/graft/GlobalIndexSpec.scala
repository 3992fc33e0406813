package graft

import scala.collection.mutable

import org.apache.spark.GraftTestShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sorts

/** `Sorts.globalIndex` against a `row_number() OVER (ORDER BY keys) - 1`
  * reference on the shapes a range scatter can get wrong (empty input, one
  * row, more partitions than rows, every row in one range, null keys), plus
  * the plan and job contract: `orderBy("idx")` on the result plans no
  * exchange and no sort, and the range shuffle's map stage runs once.
  */
class GlobalIndexSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-global-index-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The window form, one partition: the definition `globalIndex` must meet. */
  private def reference(df: DataFrame, keys: Column*): Seq[Row] =
    df.select((row_number().over(Window.orderBy(keys: _*)) - 1).cast("long").as("idx")
        +: df.columns.toSeq.map(col): _*)
      .orderBy("idx").collect().toSeq

  private def assertMatchesRowNumber(df: DataFrame, keys: Column*): Unit = {
    val out = Sorts.globalIndex(df, keys: _*)
    assert(out.columns.toSeq == "idx" +: df.columns.toSeq)
    assert(!out.schema("idx").nullable)
    val got = out.orderBy("idx").collect().toSeq
    val want = reference(df, keys: _*)
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i")
    }
  }

  test("empty input yields an empty frame with the idx column first") {
    val sp = spark; import sp.implicits._
    assertMatchesRowNumber(Seq.empty[(Int, Long)].toDF("k", "id"), col("k"), col("id"))
  }

  test("one row gets index 0") {
    val sp = spark; import sp.implicits._
    assertMatchesRowNumber(Seq((42, 7L)).toDF("k", "id"), col("k"), col("id"))
  }

  test("more partitions than rows: empty ranges take no index") {
    val sp = spark; import sp.implicits._
    assert(sp.sparkContext.defaultParallelism > 3)
    assertMatchesRowNumber(Seq((3, 0L), (1, 1L), (2, 2L)).toDF("k", "id")
      .repartition(3), col("k"), col("id"))
  }

  test("all-equal leading key: one range holds every row, the tiebreaker orders it") {
    val sp = spark; import sp.implicits._
    val df = (0 until 2000).map(i => (5, ((i * 7919L) % 2000))).toDF("k", "id")
      .repartition(5)
    assertMatchesRowNumber(df, col("k"), col("id"))
  }

  test("nulls in a key follow the key's null ordering, ascending and descending") {
    val sp = spark; import sp.implicits._
    val df = (0 until 500).map { i =>
      (if (i % 7 == 0) None else Some(i % 13), if (i % 11 == 0) null else s"s${i % 5}", i.toLong)
    }.toDF("k", "s", "id").repartition(3)
    assertMatchesRowNumber(df, col("k"), col("id"))
    assertMatchesRowNumber(df, col("k").desc_nulls_last, col("s").asc_nulls_last, col("id"))
  }

  test("keys bound to the input frame resolve, and the result keeps its columns") {
    val sp = spark; import sp.implicits._
    val df = (0 until 300).map(i => (i % 17, i.toLong, s"v$i")).toDF("k", "id", "v")
    assertMatchesRowNumber(df, df("k").desc, df("id"))
    val out = Sorts.globalIndex(df, df("k"), df("id"))
    assert(out.select(df("v")).count() == 300)
  }

  test("orderBy(idx) on the result plans no exchange and no sort") {
    val df = spark.range(0, 5000, 1, 3).selectExpr("id % 41 AS k", "id")
    val q = Sorts.globalIndex(df, col("k"), col("id")).orderBy("idx")
    def heavy = collect(q.queryExecution.executedPlan) {
      case e: Exchange => e.nodeName
      case s: SortExec => s.nodeName
    }
    assert(heavy.isEmpty, q.queryExecution.executedPlan.toString)
    q.collect()
    assert(heavy.isEmpty, q.queryExecution.executedPlan.toString)
  }

  test("the range shuffle's map stage runs once, across two collects") {
    val sc = spark.sparkContext
    val mapStages = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskType == "ShuffleMapTask") mapStages += e.stageId
      }
    }
    GraftTestShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val df = spark.range(0, 20000, 1, 3).selectExpr("id % 97 AS k", "id")
      val q = Sorts.globalIndex(df, col("k"), col("id")).orderBy("idx")
      val (first, jobsFirst) = GraftTestShim.jobsDuring(sc)(q.collect())
      val second = q.collect()
      GraftTestShim.drain(sc)
      assert(first.toSeq == second.toSeq)
      assert(first.map(_.getLong(0)).toSeq == (0L until 20000L))
      listener.synchronized(assert(mapStages.size == 1, s"map stages run: $mapStages"))
      // sample, map stage, count, result
      assert(jobsFirst <= 5, s"jobs for one globalIndex + collect: $jobsFirst")
    } finally sc.removeSparkListener(listener)
  }
}
