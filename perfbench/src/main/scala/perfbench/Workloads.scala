package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.ops.Sorts

/** One operation of a workload. `run` is the timed region and returns the
  * output; `check` runs after the clock stops and returns the reason the
  * output is wrong, if it is.
  */
final case class Op(name: String, family: String, rows: Long,
                    run: () => AnyRef, check: AnyRef => Option[String])

/** What a sort operation's plan said about itself (HybridSortExec's SQL
  * metrics), keyed by operation.
  */
final case class SortPlanStats(op: String, spillRuns: Long, spillBytes: Long)

abstract class Workload(val spark: SparkSession, val seed: Long, val spans: Spans) {
  /** Operations of one pass, in order. */
  def ops: Seq[Op]
  /** Nominal seconds of one measured pass: a run makes `--seconds` divided
    * by this many passes (at least one), a count fixed by the arguments so
    * every run of a workload has the same number of samples.
    */
  def passSeconds: Double
  /** The operations of the unmeasured pass that runs first, so the measured
    * ones start with the JIT and codegen caches warm.
    */
  def warmOps: Seq[Op] = ops
  /** Whether the single measured pass is the process's first, cold one, with
    * no unmeasured pass before it. */
  def coldOnly: Boolean = false
  /** Key shapes the traced run's kernel probe sorts. */
  def probeShapes: Seq[String] = Nil
  /** Input rows one pass consumes. */
  def rows: Long = ops.map(_.rows).sum
  val sortPlans = new java.util.concurrent.ConcurrentLinkedQueue[SortPlanStats]()
  /** Told about plans the benchmark executes itself (no listener sees them). */
  @volatile var planHook: (String, QueryExecution) => Unit = (_, _) => ()

  protected def stage(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  /** Cached inputs: what is persisted once staging is done. */
  private lazy val staged: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Call once the constructor has staged the inputs. */
  def sealInputs(): Unit = staged

  /** Drop what operations left cached, as `graft.Bench` does between
    * queries, but keep the staged inputs.
    */
  def cleanup(): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!staged.contains(id)) r.unpersist(false)
    }

  def release(): Unit = spark.catalog.clearCache()
}

/** The sort operations both sort workloads share. */
abstract class SortWorkload(spark0: SparkSession, seed0: Long, spans0: Spans)
    extends Workload(spark0, seed0, spans0) {

  protected def keys(shape: String, n: Long): DataFrame =
    stage(SortWorkload.keys(spark, shape, n, seed))

  protected def summaryOf(df: DataFrame): Seq[KeySummary] =
    df.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      Iterator(SortCheck.summarize(p, it.map(_.getInt(0).toLong)))
    }.collect().toSeq

  private val inputTotals = mutable.Map.empty[DataFrame, (Long, Long, Long)]

  /** A sort call, timed from plan to the last row consumed; the sink folds
    * each partition into a [[KeySummary]] (the noop sink's cost plus a hash
    * per row), and the comparison with the input happens after the clock.
    */
  protected def sortOp(name: String, family: String, input: DataFrame,
                       sort: DataFrame => DataFrame,
                       conf: Map[String, String] = Map.empty): Op = {
    val want = inputTotals.getOrElseUpdate(input, SortCheck.total(summaryOf(input)))
    Op(name, family, want._1, () => {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = sort(input)
        val qe = df.queryExecution
        spans("plan", "catalyst")(qe.executedPlan)
        val out = spans("execute", "execute")(summaryOf(df))
        planHook(name, qe)
        if (family == "hybrid_sort") recordPlan(name, qe)
        out
      } finally conf.keys.foreach(spark.conf.unset)
    }, out => SortCheck.verify(want, out.asInstanceOf[Seq[KeySummary]]))
  }

  private def recordPlan(name: String, qe: QueryExecution): Unit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => Nil
      }
      (if (p.isInstanceOf[graft.plans.HybridSortExec]) Seq(p) else Nil) ++ inner ++
        p.children.flatMap(walk)
    }
    walk(qe.executedPlan).foreach { h =>
      sortPlans.add(SortPlanStats(name, h.metrics("spillRuns").value,
        h.metrics("spillBytes").value))
    }
  }

  protected def hybrid(df: DataFrame): DataFrame = Sorts.hybridSortExec(df, 25, "value")
  protected def global(df: DataFrame): DataFrame = Sorts.globalSort(df, col("value"))
}

object SortWorkload {
  def keys(spark: SparkSession, shape: String, n: Long, s: Long): DataFrame =
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => Inputs.key(shape, i, n, s))(Encoders.scalaInt).toDF("value")
}

/** The paper's experiment and the key shapes real tables have, in one
  * workload. The paper's part is the hybrid sort of uniform ints swept over
  * sizes (256k to 4M rows, insertion threshold 25) and over the insertion
  * threshold (1 to 200, at 1M rows), the 1M sort again with the per-task
  * run budget lowered to 64k rows so the spill and heap-merge path runs,
  * and the engine's production sort at 1M and 4M. The shapes part is the
  * hybrid sort and the production sort of `shapeRows` keys of each skewed
  * shape, where the kernel's partition step is quadratic today.
  *
  * The parts share one workload, and the sweep is part of it, so that one
  * pass holds more than 20 operations and `op_tail_s` is a percentile with
  * ten operations beyond it. A workload of the four shape sorts alone has
  * its tail set by the single presorted call, which moved by a quarter
  * between runs on a shared 4-core host. The unmeasured pass runs the 1M
  * sorts and the production sort of each shape: that compiles the kernel
  * and the plans' code, which a hybrid sort of a skewed shape would only
  * run again for many seconds.
  */
final class SortMix(spark0: SparkSession, seed0: Long, spans0: Spans, shapeRows: Long)
    extends SortWorkload(spark0, seed0, spans0) {
  def passSeconds: Double = 30.0
  override def probeShapes: Seq[String] = Inputs.Shapes
  val SpillRows = 1L << 16
  val Sizes = Seq("256k" -> (1L << 18), "512k" -> (1L << 19), "1m" -> (1L << 20),
    "2m" -> (1L << 21), "4m" -> (1L << 22))
  val Thresholds = Seq(1, 5, 10, 50, 100, 200)
  private val random = Sizes.map { case (label, n) => label -> keys("random", n) }.toMap
  private val sizeOps = Sizes.map { case (label, _) =>
    sortOp(s"hybrid_$label", "hybrid_sort", random(label), hybrid)
  }
  private val spill1m = sortOp("hybrid_1m_spill", "hybrid_sort", random("1m"), hybrid,
    Map("spark.graft.hybridSort.spillRows" -> SpillRows.toString))
  private val shapeOps = Inputs.Shapes.filter(_ != "random").map { shape =>
    val input = keys(shape, shapeRows)
    (sortOp(s"hybrid_$shape", "hybrid_sort", input, hybrid),
      sortOp(s"global_$shape", "global_sort", input, global))
  }

  val ops: Seq[Op] = sizeOps ++
    Thresholds.map { t =>
      sortOp(s"hybrid_1m_t$t", "hybrid_sort", random("1m"), Sorts.hybridSortExec(_, t, "value"))
    } ++
    Seq(spill1m, sortOp("global_1m", "global_sort", random("1m"), global),
      sortOp("global_4m", "global_sort", random("4m"), global)) ++
    shapeOps.flatMap { case (h, g) => Seq(h, g) }
  override val warmOps: Seq[Op] =
    Seq(sizeOps(Sizes.indexWhere(_._1 == "1m")), spill1m) ++ shapeOps.map(_._2)
}

/** A fixed systematic sample of the engine's registered queries, each run
  * once, cold, in the fresh process: the one measured pass. `families` maps
  * each sampled query to its operator family; `limits.json` holds the
  * sample. Its check writes each result for the DuckDB oracle comparison
  * run afterwards; the traced run's warm passes must return exactly the
  * rows it returned.
  */
final class QueryMix(spark0: SparkSession, seed0: Long, spans0: Spans,
                     sfDir: String, outDir: String, families: Map[String, String])
    extends Workload(spark0, seed0, spans0) {
  def passSeconds: Double = 16.0
  override def coldOnly: Boolean = true
  private val coldRows = mutable.Map.empty[String, Seq[Row]]
  val names: Seq[String] = families.keys.toSeq.sorted
  names.filterNot(graft.SparkEntry.queries.contains).foreach { n =>
    throw new IllegalArgumentException(s"limits.json samples $n, which is not a registered query")
  }
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
  java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
    Json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
  override lazy val rows: Long = QueryMix.corpusRows(spark, sfDir)

  /** The timed region builds the query and collects its result, which for
    * these queries is small, so it costs what `graft.Bench`'s noop sink does
    * while keeping the rows for the check: writing them out for the oracle
    * then needs no second execution.
    */
  val ops: Seq[Op] = names.map { name =>
    val fn = graft.SparkEntry.queries(name)
    Op(name, families(name), 0L, () => {
      val df = spans("build", "builder")(fn(spark, sfDir))
      (df.schema, spans("execute", "execute")(df.collect()))
    }, out => {
      val (schema, rows) = out.asInstanceOf[(StructType, Array[Row])]
      coldRows.get(name) match {
        case None =>
          coldRows(name) = rows.toSeq
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          None
        case Some(first) =>
          if (first == rows.toSeq) None
          else Some(s"${rows.length} rows differ from the cold pass's ${first.length}")
      }
    })
  }

  override def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    try {
      org.apache.spark.sql.GraftSqlShims.unloadStateStores()
      spark.streams.resetTerminated()
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

object QueryMix {
  def corpusRows(spark: SparkSession, sfDir: String): Long =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }.sum
}
