package graft

import org.apache.spark.GraftTestShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tables

/** `Tables.parquet` reads the schema Spark would infer, from the footer
  * Spark would pick, without a Spark job.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tables-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("every corpus table: the footer schema is the inferred one, read with no job") {
    tables.foreach { t =>
      val p = s"$sfDir/$t.parquet"
      val inferred = spark.read.parquet(p).schema
      assert(GraftParquetShims.footerSchema(spark, p).contains(inferred), t)
      assert(Tables.parquet(spark, p).schema == inferred, t)
      assert(GraftTestShim.jobsDuring(spark.sparkContext)(
        Tables.read(spark, sfDir, t).schema)._2 == 0, t)
    }
  }

  test("a written directory reads its first data file; a partitioned one falls back") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tables_spec").toString
    try {
      val flat = s"$root/flat"
      (0 until 40).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "s", "x")
        .repartition(3).write.parquet(flat)
      assert(GraftParquetShims.footerSchema(spark, flat)
        .contains(spark.read.parquet(flat).schema))
      assert(Tables.parquet(spark, flat).count() == 40)
      val parted = s"$root/parted"
      (0 until 10).map(i => (i.toLong, i % 2)).toDF("id", "p")
        .write.partitionBy("p").parquet(parted)
      assert(GraftParquetShims.footerSchema(spark, parted).isEmpty)
      assert(Tables.parquet(spark, parted).schema == spark.read.parquet(parted).schema)
      assert(GraftParquetShims.footerSchema(spark, s"$root/missing").isEmpty)
    } finally graft.ops.SnapIO.deleteTree(root)
  }
}
