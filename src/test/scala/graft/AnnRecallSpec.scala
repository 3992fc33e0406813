package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** `Similarity.annRecall` builds its corpus side once for both legs; its
  * rows must be those of the two independent legs joined.
  */
class AnnRecallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ann-recall-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The recall table as separate [[Similarity.bruteForceTopK]] and
    * [[Similarity.ivfTopK]] legs, each building its own corpus side.
    */
  private def twoLegRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                           numCentroids: Int): DataFrame = {
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("nbr_id"))
    val approx = Similarity.ivfTopK(corpus, queries, k, numCentroids)
      .select(col("query_id").as("aq"), col("nbr_id").as("an"))
    exact.join(approx,
        col("query_id") === col("aq") && col("nbr_id") === col("an"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("an")).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 4).as("recall"))
  }

  test("annRecall equals the two-leg composition row for row") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextGaussian() * 2).toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 8)
    Seq(5, 16).foreach { k =>
      val got = Similarity.annRecall(corpus, queries, k, 16).orderBy("query_id").collect().toSeq
      val want = twoLegRecall(corpus, queries, k, 16).orderBy("query_id").collect().toSeq
      assert(got == want, s"k=$k")
      assert(got.size == 8 && got.forall(_.getLong(1) == k))
      // neither all hits nor all misses: the IVF leg is really approximate
      val hits = got.map(_.getLong(2))
      assert(hits.sum > 0 && hits.exists(_ < k), s"k=$k hits $hits")
    }
  }
}
