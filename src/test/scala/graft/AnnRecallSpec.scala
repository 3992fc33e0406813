package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** The recall probes of `Similarity` build one corpus side for all their
  * legs; their rows must be those of the independent public legs joined.
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

  /** The three-leg recall table as the probes joined their public legs:
    * `exact ⟕ p1 ⟕ pn` on (query, neighbor), hits counted per query.
    */
  private def threeLegRecall(exact: DataFrame, p1: DataFrame, pn: DataFrame,
                             nprobe: Int): DataFrame =
    exact.select(col("query_id"), col("nbr_id"))
      .join(p1.select(col("query_id").as("q1"), col("nbr_id").as("n1")),
        col("query_id") === col("q1") && col("nbr_id") === col("n1"), "left")
      .join(pn.select(col("query_id").as("qn"), col("nbr_id").as("nn")),
        col("query_id") === col("qn") && col("nbr_id") === col("nn"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("n1")).as("hit_p1"),
        count(col("nn")).as(s"hit_p$nprobe"),
        round(count(col("n1")).cast("double") / count(lit(1)), 4)
          .as("recall_p1"),
        round(count(col("nn")).cast("double") / count(lit(1)), 4)
          .as(s"recall_p$nprobe"))

  private def corpus300(): DataFrame = {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(5)
    (0 until 300).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextGaussian() * 2).toFloat))).toDF("vec_id", "embedding")
  }

  /** k-means centroids of `corpus` as the (ids, vectors) table the
    * shipped-quantizer operators take.
    */
  private def trainedCentroids(corpus: DataFrame, cells: Int)
      : (Array[Long], Array[Array[Double]]) = {
    val byCell = Similarity.kmeansTrain(corpus, cells, 3).collect()
      .groupBy(_.getAs[Long]("cell")).toSeq.sortBy(_._1)
    (byCell.map(_._1).toArray,
      byCell.map(_._2.sortBy(_.getAs[Long]("dim"))
        .map(_.getAs[Double]("mean_val"))).toArray)
  }

  /** Row-for-row equality with the composition, and a non-vacuous probe:
    * the `nprobe` leg finds every neighbor the single cell finds and,
    * summed over the queries, more.
    */
  private def assertSameAndProbing(got: Seq[org.apache.spark.sql.Row],
                                   want: Seq[org.apache.spark.sql.Row],
                                   what: String): Unit = {
    assert(got == want, what)
    assert(got.size == 8, what)
    val (h1, hn) = (got.map(_.getLong(2)), got.map(_.getLong(3)))
    assert(h1.zip(hn).forall { case (a, b) => b >= a } && hn.sum > h1.sum,
      s"$what: hits at nprobe 1 $h1, at nprobe $hn")
  }

  test("annRecallProbe and annRecallTrained equal the three-leg composition row for row") {
    val corpus = corpus300()
    val queries = corpus.where(col("vec_id") < 8)
    val (ids, embs) = trainedCentroids(corpus, 16)
    for (k <- Seq(5, 16); nprobe <- Seq(2, 3)) {
      val exact = Similarity.bruteForceTopK(corpus, queries, k)
      assertSameAndProbing(
        Similarity.annRecallProbe(corpus, queries, k, 16, nprobe)
          .orderBy("query_id").collect().toSeq,
        threeLegRecall(exact, Similarity.ivfTopK(corpus, queries, k, 16),
          Similarity.ivfTopKProbe(corpus, queries, k, 16, nprobe), nprobe)
          .orderBy("query_id").collect().toSeq,
        s"annRecallProbe k=$k nprobe=$nprobe")
      assertSameAndProbing(
        Similarity.annRecallTrained(corpus, queries, k, ids, embs, nprobe)
          .orderBy("query_id").collect().toSeq,
        threeLegRecall(exact,
          Similarity.ivfTopKWith(corpus, queries, k, ids, embs),
          Similarity.ivfTopKProbeWith(corpus, queries, k, ids, embs, nprobe),
          nprobe)
          .orderBy("query_id").collect().toSeq,
        s"annRecallTrained k=$k nprobe=$nprobe")
    }
  }

  test("annRecallIvfPq equals the three-leg composition row for row") {
    val corpus = corpus300()
    val queries = corpus.where(col("vec_id") < 8)
    val (ids, embs) = trainedCentroids(corpus, 16)
    val cents = Similarity.pqCodebook(corpus, 16)
    for (k <- Seq(5, 16); nprobe <- Seq(2, 3)) {
      assertSameAndProbing(
        Similarity.annRecallIvfPq(corpus, queries, k, ids, embs, 4, cents,
            nprobe)
          .orderBy("query_id").collect().toSeq,
        threeLegRecall(Similarity.pqTopKWith(corpus, queries, k, 4, cents),
          Similarity.ivfPqTopK(corpus, queries, k, ids, embs, 4, cents, 1),
          Similarity.ivfPqTopK(corpus, queries, k, ids, embs, 4, cents, nprobe),
          nprobe)
          .orderBy("query_id").collect().toSeq,
        s"annRecallIvfPq k=$k nprobe=$nprobe")
    }
  }
}
