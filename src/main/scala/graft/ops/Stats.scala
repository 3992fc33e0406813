package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multi-column statistical moments in ONE pass.
  *
  * The scale shape: a correlation matrix over k columns needs only the
  * k(k+1)/2 + 2k + 1 sufficient statistics (n, Σx, Σx², Σxy per pair) — a
  * single map-side-combined aggregate with O(k²) state per task and ONE
  * 1-row shuffle, never a per-pair pass or a `crossJoin` of columns.
  *
  * Determinism across engines: float summation is order-sensitive, so the
  * sums are accumulated as EXACT decimals of 2-dp-quantized inputs
  * (addition is associative/commutative in decimal); the final Pearson
  * formula is evaluated in double from those exact sums — identical IEEE
  * inputs, identical operation order, identical result in any engine.
  */
object Stats {

  private val Dec = DecimalType(18, 2)

  /** Pairwise Pearson correlations of `cols` (upper triangle, a < b by
    * position). Output: `(col_a, col_b, corr)` with corr rounded to 6 dp.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val base = df.select(cols.map(c => col(c).cast(Dec).as(c)): _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => sum(col(c)).as(s"s_$c")) ++
      cols.map(c => sum(col(c) * col(c)).as(s"ss_$c")) ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_${b}") }
    val m = base.agg(count(lit(1)).as("n"), aggs: _*)
    val corrCols = pairs.map { case (a, b) =>
      val n = col("n").cast("double")
      val sa = col(s"s_$a").cast("double")
      val sb = col(s"s_$b").cast("double")
      val ssa = col(s"ss_$a").cast("double")
      val ssb = col(s"ss_$b").cast("double")
      val sp = col(s"sp_${a}_${b}").cast("double")
      round((n * sp - sa * sb) /
        sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb)), 6)
    }
    // unpivot the single stats row into (col_a, col_b, corr) rows
    m.select(explode(array(pairs.zip(corrCols).map { case ((a, b), c) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"), c.as("corr"))
      }: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.corr").as("corr"))
  }

  /** Per-column data-quality profile — the table-profiling pass every
    * ingest pipeline runs first: row count, null count, exact distinct
    * count, lexicographic min/max, one row per column.
    *
    * Shape: columns are stacked into (col_name, value-as-string) rows —
    * a map-only ×k row expansion — then ONE aggregate keyed on col_name.
    * The exact distinct count makes Spark plan a two-level aggregate
    * (partial distinct on (col_name, value) map-side, so duplicate values
    * collapse before the shuffle); min/max/counts combine map-side as
    * usual. At 100 TB this is one scan + one shuffle whose row count is
    * bounded by Σ per-task distinct values, the standard profiling cost —
    * swap the distinct leg for an HLL sketch when estimates suffice.
    *
    * Callers pass each column pre-rendered to a STRING with an
    * engine-portable format (e.g. `date_format` for timestamps, a
    * decimal cast for doubles) so min/max compare identically everywhere.
    */
  def columnProfile(df: DataFrame, cols: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(cols.nonEmpty)
    // Fan the scan out first: the ×k stack + string rendering + partial
    // distinct aggregate is the heavy map leg of this pass, and a
    // 1-split source would run all of it on one core (measured: one
    // 2 s single-task stage at sf0.1; see Adaptive.fanOut).
    val stacked = graft.spark.Adaptive.fanOut(df)
      .select(explode(array(cols.map { case (n, c) =>
        struct(lit(n).as("col_name"), c.cast("string").as("v"))
      }: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
    // native lex_min/lex_max: built-in min/max over STRINGS cannot live
    // in a hash-agg buffer (varlen) and drag the whole multi-aggregate
    // into SortAggregate — every partition of the stacked frame sorted
    // just to take a min. The typed-imperative form keeps the profile
    // one ObjectHashAggregate with map-side combine.
    graft.functions.GraftFunctions.register(df.sparkSession)
    stacked.groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col("v")).as("n_distinct"),
      expr("lex_min(v)").as("min_val"),
      expr("lex_max(v)").as("max_val"))
  }

  /** 2-D skyline (Pareto frontier, minimize both columns): rows for which
    * no other row is ≤ in both dimensions with at least one strict. The
    * textbook formulation is a quadratic NOT-EXISTS self-join; this is
    * the linear restatement — a per-x min(y) aggregate collapses the
    * input to |distinct x| rows (for equal x only the min y can be on
    * the frontier), then ONE ordered window keeps rows whose y undercuts
    * the running min over all smaller x. Output columns: (x, y).
    *
    * The window is unpartitioned but runs over the REDUCED x axis —
    * domain-bounded, never the input row count. For an x domain too
    * large even reduced, pre-bucket x and skyline per bucket, then
    * re-skyline the concatenated per-bucket frontiers (same op twice).
    */
  def skyline2dMin(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pp = df.groupBy(col(xCol).as("x")).agg(min(col(yCol)).as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    pp.withColumn("prev_min", min(col("y")).over(w))
      .where(col("prev_min").isNull || col("y") < col("prev_min"))
      .select(col("x"), col("y"))
  }
}
