package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic data sources — the reference's only "scan" operator.
  *
  * The reference materializes a single int column three ways (see
  * `/root/reference/SequentialQuickInsert.c:66-70` product distribution,
  * `/root/reference/quickThreshold.c:147,166-168` uniform %1e6 with fixed
  * seed 42, `/root/reference/QuickInsertionHeap.cu:142-145` uniform %5e6).
  * Spark restatement: `spark.range(n)` is an embarrassingly parallel,
  * partitioned long source — it scales linearly with executors and never
  * materializes on the driver, so the same code serves 1e3 rows and 1e12.
  * One generator serves the engine: [[lcgInts]], whose rows an oracle can
  * regenerate (the partitioned `graft-gen` source covers scale runs).
  */
object Gen {

  /** Deterministic multiplicative-congruential values — identical in any
    * engine with 64-bit integer arithmetic, so a DuckDB oracle can
    * regenerate the exact rows. The id is reduced mod 2^31-1 *before* the
    * Knuth multiply so the product stays under 2^63 for any id (2^31-1 ·
    * 2654435761 ≈ 5.7e18 < Long.MaxValue): no silent Spark wraparound, no
    * DuckDB i64-overflow error, at any scale. Spark's `rand` stream is
    * implementation-defined and not reproducible elsewhere — this is the
    * generator used for cross-engine sort-parity checks.
    */
  val LcgDomain = 2147483647L // 2^31 - 1: LcgDomain * 2654435761 < 2^63

  def lcgInts(spark: SparkSession, n: Long, bound: Long = 5000000L): DataFrame =
    spark.range(n).select(
      (((col("id") % LcgDomain) * 2654435761L) % bound).as("value"),
      col("id"))
}
