package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sorts

/** The engine's custom physical operator (HybridSortPlan → HybridSortExec):
  * value parity with orderBy, true global output order (collected in
  * partition-index order), and plan shape — the strategy must plan our
  * exec node and EnsureRequirements must insert the range scatter.
  */
class HybridSortPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hybrid-plan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("hybridSortExec equals orderBy row-for-row, in order") {
    val sp = spark; import sp.implicits._
    val df = sp.range(10000).selectExpr(
      "cast(id * 2654435761 % 1000 as bigint) as k",
      "id as payload",
      "cast(id % 7 as string) as tag")
    val got = Sorts.hybridSortExec(df, 25, "k", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val want = df.orderBy($"k", $"payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.sameElements(want))
  }

  test("plans GraftHybridSort with its own range scatter: no Exchange, no SortExec") {
    val sp = spark
    val df = sp.range(1000).selectExpr("cast(id % 13 as bigint) as k", "id as v")
    val q = Sorts.hybridSortExec(df, 25, "k", "v")
    val exec = findHybridExec(q.queryExecution.executedPlan).get
    val plan = q.queryExecution.executedPlan.toString
    exec.outputPartitioning match {
      case RangePartitioning(order, 4) =>
        assert(order.map(_.child.references.head.name) == Seq("k", "v"), plan)
      case p => fail(s"the operator states $p, not its range partitioning:\n$plan")
    }
    assert(plan.contains("RangeScatter 4"), plan)
    assert(!plan.contains("Exchange"), s"no exchange below the operator:\n$plan")
    assert("""\+- Sort \[""".r.findFirstIn(plan).isEmpty,
      s"built-in SortExec must not appear:\n$plan")
  }

  test("a child already range-partitioned on the order is sorted in place") {
    val sp = spark; import sp.implicits._
    val df = sp.range(0, 3000, 1, 3).selectExpr("cast(id * 7919 % 1000 as bigint) as k")
    val ranged = df.repartitionByRange(3, $"k")
    val q = Sorts.hybridSortExec(ranged, 25, "k")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("RangeScatter"), plan)
    assert("(?<![A-Za-z])Exchange ".r.findAllIn(plan).length == 1, plan)
    val got = q.collect().map(_.getLong(0))
    assert(got.sameElements(df.collect().map(_.getLong(0)).sorted))
  }

  test("one sort launches two jobs: the bounds' sample and the sort") {
    val sp = spark
    val df = sp.range(0, 20000, 1, 4).selectExpr("cast(id * 2654435761 % 9973 as bigint) as k")
    val (n, jobs) = org.apache.spark.GraftTestShim.jobsDuring(sp.sparkContext)(
      Sorts.hybridSortExec(df, 25, "k").queryExecution.toRdd.count())
    assert(n == 20000)
    assert(jobs == 2, s"one hybrid sort launched $jobs jobs")
  }

  /** The scatter's adversarial inputs: each equals `orderBy` row for row. */
  private def adversarial(sp: SparkSession): Seq[(String, DataFrame, Seq[String])] = {
    val base = sp.range(0, 4000, 1, 4)
    Seq(
      ("presorted", base.selectExpr("id as k", "id as v"), Seq("k", "v")),
      ("reverse", base.selectExpr("4000 - id as k", "id as v"), Seq("k", "v")),
      ("all-equal", base.selectExpr("7L as k", "id as v"), Seq("k", "v")),
      ("3 distinct", base.selectExpr("id % 3 as k", "id as v"), Seq("k", "v")),
      ("90% one key", base.selectExpr(
        "case when id % 10 = 0 then id else 42 end as k", "id as v"), Seq("k", "v")),
      ("one row", sp.range(0, 1, 1, 1).selectExpr("id as k", "id as v"), Seq("k", "v")),
      ("empty", base.selectExpr("id as k", "id as v").where("k < 0"), Seq("k", "v")),
      ("null keys", base.selectExpr(
        "case when id % 5 = 0 then null else id % 97 end as k", "id as v"), Seq("k", "v")),
      ("null exact key", base.selectExpr(
        "case when id % 5 = 0 then null else cast(id % 97 as int) end as k"), Seq("k")),
      ("string-led", base.selectExpr(
        "concat('key', cast(id % 37 as string)) as s", "id % 11 as k", "id as v"),
        Seq("s", "k", "v")),
      ("double-led", base.selectExpr(
        "case when id % 9 = 0 then null else (id % 53) / 7.0 end as d",
        "cast(id as double) as x", "id as v"), Seq("d", "x", "v")))
  }

  test("adversarial inputs equal orderBy at 1, 4 and 7 partitions, with one page and with many") {
    val sp = spark
    // A 4 KiB budget bounds each target's page to 4096 / n bytes, so each
    // map task (about 28 KiB of rows) ships several chunks per target.
    for (parts <- Seq(1, 4, 7); pageBytes <- Seq(None, Some("4096"))) {
      sp.conf.set("spark.sql.shuffle.partitions", parts.toString)
      pageBytes.foreach(sp.conf.set("spark.graft.hybridSort.spillBytes", _))
      try adversarial(sp).foreach { case (name, df, keys) =>
        val got = Sorts.hybridSortExec(df, 25, keys: _*).collect().toSeq
        val want = df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
        assert(got == want, s"$name at $parts partitions, page bound $pageBytes")
      } finally {
        sp.conf.set("spark.sql.shuffle.partitions", "4")
        sp.conf.unset("spark.graft.hybridSort.spillBytes")
      }
    }
  }

  test("past 200 partitions (the sort-based shuffle writer) the scatter equals orderBy") {
    val sp = spark
    sp.conf.set("spark.sql.shuffle.partitions", "201")
    sp.conf.set("spark.graft.hybridSort.spillBytes", "40000")
    try adversarial(sp).filter(a => Set("reverse", "null keys", "string-led")(a._1)).foreach {
      case (name, df, keys) =>
        val got = Sorts.hybridSortExec(df, 25, keys: _*).collect().toSeq
        val want = df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
        assert(got == want, s"$name at 201 partitions")
    } finally {
      sp.conf.set("spark.sql.shuffle.partitions", "4")
      sp.conf.unset("spark.graft.hybridSort.spillBytes")
    }
  }

  test("ties across a partition boundary stay a multiset permutation") {
    val sp = spark; import sp.implicits._
    // heavy duplication (the reference's regime: 4M values in a 5M space)
    val df = sp.range(5000).selectExpr("cast(id % 3 as bigint) as k")
    val got = Sorts.hybridSortExec(df, 5, "k").collect().map(_.getLong(0))
    assert(got.sameElements(got.sorted))
    assert(got.groupBy(identity).view.mapValues(_.length).toMap ==
      Map(0L -> 1667, 1L -> 1667, 2L -> 1666))
  }

  test("threshold extremes: pure insertion sort and pure quicksort agree") {
    val sp = spark
    val df = sp.range(2000).selectExpr("cast(id * 48271 % 997 as bigint) as k")
    val a = Sorts.hybridSortExec(df, 1, "k").collect().map(_.getLong(0))
    val b = Sorts.hybridSortExec(df, 1000000, "k").collect().map(_.getLong(0))
    assert(a.sameElements(b) && a.sameElements(a.sorted))
  }

  private def findHybridExec(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[graft.plans.HybridSortExec] = p match {
    case h: graft.plans.HybridSortExec => Some(h)
    case other => other.children.view.flatMap(findHybridExec).headOption
  }

  test("partitions past the run budget spill sorted runs and heap-merge back to exact order") {
    val sp = spark
    // Drive every partition far past a tiny run budget: 60k rows over 4
    // partitions with a 1000-row budget → ≥14 spilled runs per task. The
    // non-adaptive plan keeps HybridSortExec findable for metric checks.
    sp.conf.set("spark.graft.hybridSort.spillRows", "1000")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = sp.range(60000).selectExpr(
        "cast(id * 2654435761 % 50000 as bigint) as k",
        "id as payload",
        "repeat(cast(id % 97 as string), 3) as tag")
      val q = Sorts.hybridSortExec(df, 25, "k", "payload")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val want = df.orderBy(org.apache.spark.sql.functions.col("k"),
          org.apache.spark.sql.functions.col("payload"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(got.sameElements(want),
        "external (spilling) hybrid sort must equal orderBy row-for-row")
      val exec = findHybridExec(q.queryExecution.executedPlan)
      assert(exec.isDefined, q.queryExecution.executedPlan.toString)
      val runs = exec.get.metrics("spillRuns").value
      val bytes = exec.get.metrics("spillBytes").value
      assert(runs >= 4 * 14,
        s"expected every task to spill many runs, got spillRuns=$runs")
      assert(bytes > 0, "spillBytes metric must record the spilled volume")
    } finally {
      sp.conf.unset("spark.graft.hybridSort.spillRows")
      sp.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("byte budget alone also triggers spill; in-budget partitions never spill") {
    val sp = spark
    sp.conf.set("spark.graft.hybridSort.spillBytes", "8192")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = sp.range(20000).selectExpr(
        "cast(id * 48271 % 7919 as bigint) as k",
        "repeat('x', 40) as pad")
      val q = Sorts.hybridSortExec(df, 25, "k")
      val got = q.collect().map(_.getLong(0))
      assert(got.sameElements(got.sorted))
      val exec = findHybridExec(q.queryExecution.executedPlan).get
      assert(exec.metrics("spillRuns").value > 0,
        "a 40-byte pad over an 8 KiB byte budget must spill")
    } finally {
      sp.conf.unset("spark.graft.hybridSort.spillBytes")
    }
    // and with default budgets the same data never spills
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = sp.range(20000).selectExpr(
        "cast(id * 48271 % 7919 as bigint) as k", "repeat('x', 40) as pad")
      val q = Sorts.hybridSortExec(df, 25, "k")
      q.collect()
      val exec = findHybridExec(q.queryExecution.executedPlan).get
      assert(exec.metrics("spillRuns").value == 0,
        "in-budget partitions must take the zero-IO fast path")
    } finally sp.conf.unset("spark.sql.adaptive.enabled")
  }

  test("early-stopping consumer: spill files are closed and deleted at task end") {
    val sp = spark
    // Tiny budget → many spilled runs per task; a LIMIT far below the
    // partition size stops the merge mid-run, so every run file is still
    // open when the task finishes. The completion listener must close
    // them BEFORE deleting (the close-then-delete contract) — asserted by
    // the executor local dir holding zero graft spill files afterwards.
    sp.conf.set("spark.graft.hybridSort.spillRows", "500")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = sp.range(40000).selectExpr(
        "cast(id * 2654435761 % 50000 as bigint) as k")
      val got = Sorts.hybridSortExec(df, 25, "k").limit(5)
        .collect().map(_.getLong(0))
      assert(got.length == 5 && got.sameElements(got.sorted))
      val probe = org.apache.spark.sql.GraftSpillUtil.newSpillFile("probe-")
      val localDir = new java.io.File(probe.getParent)
      probe.delete()
      val leaked = localDir.listFiles()
        .filter(_.getName.startsWith("graft-hybrid-sort-"))
      assert(leaked.isEmpty,
        s"early-stopped merge leaked spill files: ${leaked.map(_.getName).toSeq}")
    } finally {
      sp.conf.unset("spark.graft.hybridSort.spillRows")
      sp.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
