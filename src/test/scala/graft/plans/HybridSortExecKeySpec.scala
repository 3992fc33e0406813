package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sorts

/** `HybridSortExec` keys each row by a 32-bit prefix of its leading sort
  * key, exact for one integral key and broken by the row comparator
  * otherwise. Every key type here must sort exactly as `orderBy`, row for
  * row, with the default run budget (one in-memory run per task) and with a
  * 7-row budget (many spilled runs heap-merged back). The exact case is
  * checked to need no row comparison at all, and the budget confs to
  * reject values the packed layout cannot index.
  */
class HybridSortExecKeySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hybrid-key-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def render(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  /** `df` sorted on `keys` by the operator equals `orderBy`, row for row,
    * with the default budget and with 7-row runs.
    */
  private def checkSorted(df: DataFrame, keys: String*): Unit = {
    val want = render(df.orderBy(keys.map(col): _*))
    assert(render(Sorts.hybridSortExec(df, 25, keys: _*)) == want, "default budget")
    spark.conf.set("spark.graft.hybridSort.spillRows", "7")
    try assert(render(Sorts.hybridSortExec(df, 25, keys: _*)) == want, "7-row runs")
    finally spark.conf.unset("spark.graft.hybridSort.spillRows")
  }

  /** 2000 rows with a unique `id` and a scrambled `h` in [0, 2^31). */
  private def base: DataFrame =
    spark.range(2000).selectExpr("id", "cast(id * 2654435761 % 2147483647 as bigint) as h")

  test("int keys spanning Int.MinValue to Int.MaxValue, with negatives") {
    val df = base.selectExpr("id",
      """case id % 10 when 0 then -2147483648 when 1 then 2147483647
        | else cast(h - 1073741824 as int) end as k""".stripMargin)
    checkSorted(df, "k", "id")
    checkSorted(df.selectExpr("k"), "k")
  }

  test("long keys: a range under 2^32 (exact) and over 2^32 (shifted, ties by row)") {
    checkSorted(base.selectExpr("id", "h - 2000000000 as k"), "k", "id")
    checkSorted(base.selectExpr("h - 2000000000 as k"), "k")
    // clusters 2^40 apart: prefixes keep the cluster, the row order the rest
    val wide = base.selectExpr("id", "(id % 5 - 2) * 1099511627776 + h % 1000 as k")
    checkSorted(wide, "k", "id")
    checkSorted(wide.selectExpr("k"), "k")
    checkSorted(base.selectExpr("id",
      "case id % 3 when 0 then -9223372036854775808 when 1 then 9223372036854775807 else h end as k"),
      "k", "id")
  }

  test("a nullable key that holds nulls") {
    val df = base.selectExpr("id",
      "case when id % 5 = 0 then null else cast(h % 100 - 50 as int) end as k")
    checkSorted(df, "k", "id")
    checkSorted(df.selectExpr("k"), "k")
    checkSorted(base.selectExpr("cast(null as int) as k", "id"), "k", "id")
  }

  test("date, string (binary and case-insensitive) and double keys, doubles with NaN and -0.0") {
    checkSorted(base.selectExpr("id",
      "date_add(date'1970-01-01', cast(h % 200000 - 100000 as int)) as k"), "k", "id")
    checkSorted(base.selectExpr("id",
      """case id % 4 when 0 then '' when 1 then concat('common-prefix-', h % 50)
        | when 2 then concat('é', h % 7) else cast(h as string) end as k""".stripMargin),
      "k", "id")
    checkSorted(base.selectExpr("id",
      "collate(concat(case id % 3 when 0 then 'Ab' when 1 then 'aB' else 'b' end, h % 5), 'UTF8_LCASE') as k"),
      "k", "id")
    val doubles = base.selectExpr("id",
      """case id % 8 when 0 then double('NaN') when 1 then -0.0d when 2 then 0.0d
        | when 3 then double('-Infinity') when 4 then double('Infinity')
        | else (h - 1073741824) / 3.0d end as k""".stripMargin)
    // -0.0 and 0.0 are equal keys, so only the `id` tiebreaker fixes their order
    checkSorted(doubles, "k", "id")
  }

  test("two keys, the first heavily tied") {
    checkSorted(base.selectExpr("id % 3 as a", "cast(h % 1000 as int) as b", "id"),
      "a", "b", "id")
    checkSorted(base.selectExpr("'same' as a", "h as b"), "a", "b")
    // a struct key has no Spark sort prefix: every row goes to the comparator
    checkSorted(base.selectExpr("named_struct('a', id % 3, 'b', h % 10) as k", "id"), "k", "id")
  }

  test("an empty partition and a one-row partition") {
    checkSorted(spark.range(0).selectExpr("cast(id as int) as k"), "k")
    checkSorted(spark.range(1).selectExpr("cast(id as int) as k", "id"), "k", "id")
    // three rows over four range partitions: at least one task sorts nothing
    checkSorted(spark.range(3).selectExpr("cast(id * 7 as int) as k"), "k")
  }

  /** Sorts `keys` (one column of type `dt`) through the sorter directly,
    * with an ordering that counts its calls; returns the sorted keys and
    * the calls. It runs as a Spark task, whose completion deletes the
    * sorter's spill files.
    */
  private def sortCounting(dt: DataType, keys: Seq[Any], runRows: Long): (Seq[Any], Long) =
    spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val attrs = Seq(AttributeReference("k", dt, nullable = true)())
      val order = Seq(SortOrder(attrs.head, Ascending))
      val inner = new InterpretedOrdering(order, attrs)
      var calls = 0L
      val counting = new Ordering[InternalRow] {
        def compare(x: InternalRow, y: InternalRow): Int = { calls += 1; inner.compare(x, y) }
      }
      val toUnsafe = UnsafeProjection.create(attrs, attrs)
      val sorter = new ExternalHybridSorter(1, toUnsafe, counting, KeyPrefix(order, attrs), 25,
        runRows, 128L << 20, new SQLMetric("sum"), new SQLMetric("size"))
      val in = keys.iterator.map(k => toUnsafe(new GenericInternalRow(Array[Any](k))))
      val out = sorter.sort(in).map(r => if (r.isNullAt(0)) null else r.get(0, dt)).toList
      (out, calls)
    }.collect().head

  test("the exact case never calls the row comparator; other cases do, only on ties") {
    val rnd = new scala.util.Random(11)
    val ints = Seq.fill(50000)(rnd.nextInt()) ++ Seq(Int.MinValue, Int.MaxValue)
    val (sortedInts, intCalls) = sortCounting(IntegerType, ints, 1L << 22)
    assert(sortedInts == ints.sorted)
    assert(intCalls == 0, s"an exact int key made $intCalls row comparisons")
    // eight clusters 2^40 apart: the prefix drops the low 11 bits
    val longs = Seq.fill(50000)((rnd.nextInt(8).toLong << 40) + rnd.nextInt(1 << 20))
    val (sortedLongs, longCalls) = sortCounting(LongType, longs, 1L << 22)
    assert(sortedLongs == longs.sorted)
    assert(longCalls > 0, "a shifted long prefix ties, and ties need the row comparator")
    // a comparator sort needs about n·log2(n), 15.6 calls a row here
    assert(longCalls < 50000L * 8, s"$longCalls row comparisons: more than ties need")
    // spilled runs are merged through the comparator
    val (spilled, _) = sortCounting(IntegerType, ints, 1000)
    assert(spilled == ints.sorted)
    val withNulls: Seq[Any] = ints.take(1000) ++ Seq.fill(10)(null)
    val (sortedNulls, _) = sortCounting(IntegerType, withNulls, 1L << 22)
    assert(sortedNulls == Seq.fill(10)(null) ++ ints.take(1000).sorted)
  }

  /** Whether running `body` fails with an IllegalArgumentException naming `key`. */
  private def rejects(key: String)(body: => Unit): Boolean =
    try { body; false } catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
          case iae: IllegalArgumentException => iae.getMessage.contains(key)
          case _ => false
        }
    }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def sortSmall(): Unit =
    Sorts.hybridSortExec(spark.range(100).selectExpr("cast(id as int) as k"), 25, "k").collect()

  test("spark.graft.hybridSort.spillRows at or above 2^31 is rejected") {
    val key = "spark.graft.hybridSort.spillRows"
    withConf(key, (1L << 31).toString) { assert(rejects(key)(sortSmall())) }
    withConf(key, Int.MaxValue.toString) { sortSmall() }
  }

  test("spark.graft.hybridSort.spillBytes beyond one page is rejected") {
    val key = "spark.graft.hybridSort.spillBytes"
    withConf(key, (1L << 31).toString) { assert(rejects(key)(sortSmall())) }
    withConf(key, ExternalHybridSorter.MaxPageBytes.toString) { sortSmall() }
  }
}
