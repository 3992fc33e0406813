package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet scans of the driver-generated corpus (see TESTDATA.md). Plain
  * parquet reads so Catalyst keeps full pushdown/pruning freedom — every
  * filter and projection in the queries below reaches the parquet reader
  * (`PushedFilters` / `ReadSchema` in explain output).
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema comes from the footer Spark would read, read on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims]]).
    * The schema is still read, not declared — `events.ts` has shipped in
    * two encodings and [[normalizeTs]] branches on the one on disk. Paths
    * the shim does not cover (globs, partitioned or summarized
    * directories) fall back to the inferring read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
      .footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  /** The one session conf the events reader depends on: the corpus has
    * shipped `ts` as parquet TIMESTAMP(NANOS), which Spark's reader
    * rejects by default ([PARQUET_TYPE_ILLEGAL]) unless this legacy flag
    * maps it to a raw long. Set it AT SESSION BUILD (`Bench`, `Verify`,
    * `Profile`, `Explain`, and the test fixtures all do; `Scale` only
    * generates synthetic frames and never reads the events parquet) —
    * [[events]] is a pure reader and never mutates session state.
    */
  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** `events.ts` has shipped in two physical encodings across corpus
    * regenerations: parquet TIMESTAMP(NANOS) — readable only with
    * [[NanosAsLongConf]] set at session build — and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to Spark's session-TZ TimestampType so
    * every downstream query and oracle sees one stable µs timestamp type
    * regardless of which corpus generation is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(read(s, d, "events"))

  /** Schema-adaptive `ts` normalization shared by the batch and streaming
    * events readers. Branches on the type the parquet reader produced:
    *   - LongType (nanos-as-long corpus): floor-divide to µs. `div`, not
    *     `/`: Column `/` is double division, and ns epochs (~1.7e18) exceed
    *     double's 2^53 exact range — `/ 1000` would drift ±1µs on ~12% of
    *     rows, flipping formatted seconds / as-of boundaries.
    *   - TimestampNTZType (µs corpus): the NTZ wall time is the UTC
    *     rendering of the instant, so anchor the conversion to UTC
    *     EXPLICITLY — shift the wall clock from UTC to the session zone,
    *     then cast (a session-TZ interpretation) back to an instant. The
    *     two zone hops cancel, making the result independent of
    *     `spark.sql.session.timeZone`; a bare `cast(NTZ as timestamp)`
    *     would silently shift every event for a non-UTC caller.
    *   - TimestampType: already the target type, pass through.
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          convert_timezone(lit("UTC"), current_timezone(), col("ts"))
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
