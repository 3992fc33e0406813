package org.apache.spark.sql

/** The one `private[sql]` door the graft engine needs: Spark's v1
  * streaming `Source.getBatch` contract requires the returned frame to
  * carry `isStreaming = true` (MicroBatchExecution asserts it), and the
  * only constructor for such a frame — `SparkSession
  * .internalCreateDataFrame(rdd, schema, isStreaming)` — is
  * `private[sql]`. Every production v1 connector (Delta included)
  * bridges this the same way: one tiny object inside the
  * `org.apache.spark.sql` namespace. The repo reaches Spark internals
  * only through shims like this one (`GraftParquetShims` is the parquet
  * package's); keep it that way.
  */
object GraftSqlShims { // public only so graft.sources can call it

  /** Re-tag an already-planned BATCH frame as a streaming one: the
    * batch plan (vectorized parquet scan included) runs unchanged as
    * the micro-batch's input RDD.
    */
  def asStreamingFrame(spark: classic.SparkSession,
                       batch: classic.DataFrame): classic.DataFrame =
    spark.internalCreateDataFrame(
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)

  /** The inverse, for v1 `Sink.addBatch`: the micro-batch frame Spark
    * hands a sink is streaming-tagged (batch writers refuse it); its
    * already-planned RDD re-tags as a batch frame unchanged. A frame
    * built by [[asStreamingFrame]] (a bare streaming-tagged LogicalRDD —
    * what the snapshot sources return from `getBatch`) unwraps to its
    * RDD directly: its fresh QueryExecution is a BATCH one whose
    * `toRdd` would trip the streaming-source check.
    */
  def asBatchFrame(spark: classic.SparkSession,
                   streaming: classic.DataFrame): classic.DataFrame =
    streaming.queryExecution.logical match {
      case l: execution.LogicalRDD if l.isStreaming =>
        spark.internalCreateDataFrame(l.rdd, streaming.schema,
          isStreaming = false)
      case _ =>
        spark.internalCreateDataFrame(
          streaming.queryExecution.toRdd, streaming.schema,
          isStreaming = false)
    }

  /** HARNESS hygiene only (graft.Bench between timed queries), never an
    * engine code path: unload every state-store provider a finished
    * streaming query left loaded in this JVM. `StateStore.unloadAll` is
    * `private[sql]`; in local mode nothing else sheds the providers'
    * in-memory version maps between queries, and a few hundred of them
    * is a real heap squeeze on a memory-tight host.
    */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()
}
