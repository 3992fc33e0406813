package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextStats

/** The surprisal means (`avg_surprisal` of `bigramSurprisalTk` and
  * `unigramSurprisalTk`) round `s / n` to 6 places as SQL's
  * `round(CAST(s AS DOUBLE) / n, 6)` does: the double scaled by 10^6, then
  * rounded half away from zero. The expected values are DuckDB's.
  */
class SurprisalMeanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .appName("graft-surprisal-mean-test")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("mean6 rounds 7th-decimal ties of s / n as SQL rounds the double") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      ("179.351158", 28L), // 6.4053984999999996, times 10^6 is exactly …398.5
      ("25.403475", 50L),  // 0.5080695, times 10^6 is …069.49999999999994
      ("6.773107", 2L),    // 3.3865535
      ("1.000000", 3L),
      ("2.000000", 3L)
    ).toDF("s", "n").select(col("s").cast("decimal(38,6)").as("s"), col("n"))
    val got = df.select(TextStats.mean6(col("s"), col("n"))).as[Double].collect().toSeq
    assert(got == Seq(6.405399, 0.508069, 3.386554, 0.333333, 0.666667))
    // Spark's own round of the double quotient lands on the other side of
    // both ties: the cases are real
    val viaRound = df.select(round(col("s").cast("double") / col("n"), 6))
      .as[Double].collect().toSeq
    assert(viaRound.take(2) == Seq(6.405398, 0.50807))
  }
}
