package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, Trigger, ValueState}

import graft.functions._
import graft.spark.SessionConf

/** Structured Streaming surface: the batch operators of [[graft.ops.Events]]
  * restated incrementally. The transforms are IDENTICAL plan shapes — a
  * windowed aggregate is the same Catalyst node in batch and streaming —
  * so a pipeline developed against the batch corpus runs on a live stream
  * by swapping `read` for `readStream` and adding a watermark.
  *
  * Scale notes: streaming state (window partials, open sessions) lives in
  * the executor state store keyed by group — it shuffles once per
  * micro-batch on the group key and is bounded by the watermark (closed
  * windows / timed-out sessions are evicted). No driver-side state.
  */
object StreamOps {

  /** Watermarked tumbling-window stats — the streaming twin of
    * [[graft.ops.Events.hourlyStats]]. Append-mode emits each (hour, type)
    * row exactly once, when the watermark passes the window end.
    */
  def hourlyStatsStream(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the incremental twin of
    * [[graft.ops.Dedup.exactByDigest]]: keep the first occurrence of each
    * key, with the seen-keys state BOUNDED by the event-time watermark
    * (`dropDuplicates` alone would grow state forever on an unbounded
    * corpus stream). The state store holds only the key columns — dedup a
    * document stream on its digest, never on the body.
    */
  def dedupStream(rows: DataFrame, keyCols: Seq[String], tsCol: String,
                  watermarkDelay: String = "1 hour"): DataFrame =
    rows.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming incremental near-dup — the streaming twin of
    * [[graft.ops.Dedup.incrNearDup]]: each micro-batch of incoming docs
    * is MinHash-banded map-side (the same native signature expressions —
    * pure projections, streaming-safe) and stream-static joined against
    * the persisted base signature store. The store side is a plain batch
    * frame, re-probed per micro-batch with its hot-bucket guard as a
    * static filter; candidate pairs dedupe across bands through
    * `dropDuplicates` state (bounded: O(flagged pairs), and a pair's
    * band rows always arrive in the doc's own batch). Output schema and
    * values equal the batch `incr_neardup` exactly — arrival slicing
    * cannot change which (doc, base) pairs share a bucket.
    */
  def nearDupProbeStream(docs: DataFrame, store: DataFrame, k: Int,
                         bands: Int, shingleN: Int,
                         maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sig = docs
      .select(col("doc_id"), shingles(tokens(col("text")), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), minhash31(col("sh"), k).as("sig"))
    val incBuckets = graft.ops.Dedup.bandBuckets(sig, bands, k / bands)
    store.where(col("bkt_n") <= maxBucket)
      .select(col("band"), col("bucket"), col("doc_id").as("dup_of"))
      .join(incBuckets, Seq("band", "bucket"))
      .select(col("doc_id"), col("dup_of"))
      .dropDuplicates("doc_id", "dup_of")
  }

  /** Streaming per-source heavy hitters — the `misra_gries` sketch AS
    * STREAMING STATE: a complete-mode `groupBy(source)` aggregation keeps
    * one bounded ≤ k-entry summary per source in the state store, folding
    * each micro-batch's partials in through the aggregate's merge path
    * (the mergeability the batch two-pass relies on, exercised here
    * inside the state store across micro-batch boundaries). O(sources·k)
    * state regardless of vocabulary size — a `groupBy(source, term)`
    * running count would grow state with every distinct term seen.
    *
    * The final candidates then take the SAME exact pass-2 as the batch
    * [[graft.ops.TextStats.heavyHittersBySource]]
    * (`exactBySourceFromSketch`): broadcast-join the candidates against a
    * batch re-scan and count exactly, so the output is exact counts —
    * independent of how the stream was micro-batched — and
    * oracle-checkable against plain SQL.
    */
  def streamHeavyHittersBySource(spark: SparkSession, dir: String,
                                 k: Int = 4096, minCount: Long = 50): DataFrame = {
    GraftFunctions.register(spark)
    val path = s"$dir/documents.parquet"
    val schema = graft.ops.Tables.parquet(spark, path).schema
    def toksOf(df: DataFrame): DataFrame =
      df.select(col("source"), explode(tokens(col("text"))).as("term"))
    val sketch = toksOf(spark.readStream.schema(schema).parquet(stageDir(path)))
      .groupBy(col("source"))
      .agg(expr(s"misra_gries(term, $k)").as("cand"),
        count(lit(1)).as("n_source"))
    val candidates = runToCompletion(spark, sketch)
    graft.ops.TextStats.exactBySourceFromSketch(
      toksOf(graft.ops.Tables.documents(spark, dir)), candidates, k, minCount)
  }

  /** Streaming quantile sketches, exact answers: the native `kll_sketch`
    * aggregate accumulates per-event-type in the streaming STATE STORE
    * (serialize/deserialize across micro-batch commits — the mergeability
    * the sketch certifies, exercised on the streaming surface), the
    * bounded stream runs to completion in complete mode, and the final
    * summaries' certified brackets steer ONE batch exact pass
    * ([[graft.ops.Quantiles.exactFromSketches]]). The output is the exact
    * per-type order statistic — independent of how the source was
    * micro-batched — and oracle-checkable against plain SQL.
    */
  def streamQuantilesByType(spark: SparkSession, dir: String,
                            qs: Seq[(String, Double)],
                            k: Int = 1024): DataFrame = {
    GraftFunctions.register(spark)
    val sk = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr(s"kll_sketch(cast(value as double), $k)").as("sk"))
    val sketches = runToCompletion(spark, sk)
    graft.ops.Quantiles.exactFromSketches(
      graft.ops.Tables.events(spark, dir).select(col("event_type"), col("value")),
      "value", sketches, qs, Seq("event_type"))
  }

  /** HLL registers AS streaming state — the third sketch family on the
    * streaming surface (Misra-Gries: [[streamHeavyHittersBySource]], KLL:
    * [[streamQuantilesByType]]). The per-(type, bucket) register maxes
    * accumulate across micro-batch commits; registers are DETERMINISTIC
    * functions of the input set (max of per-value hash ranks), so the
    * final estimate is independent of micro-batching and byte-identical
    * to the batch `approx_distinct` query — one oracle serves both.
    */
  def streamApproxDistinctByType(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir).select(col("event_type"), col("user_id"))
    val regs = graft.ops.Sketches.hllRegisters(ev, Seq("event_type"), "user_id")
    val finalRegs = runToCompletion(spark, regs)
    val exact = graft.ops.Tables.events(spark, dir)
      .groupBy(col("event_type").as("key"))
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    graft.ops.Sketches.hllEstimate(finalRegs, Seq("key"))
      .join(exact, "key")
      .select(col("key").as("event_type"), col("exact_distinct"),
        col("hll_estimate"))
  }

  // ------------------------------------------- bounded-stream execution

  /** Stage a path as a file-stream source directory. The file source
    * monitors a DIRECTORY of arriving files (the landing-dir contract);
    * the test corpus is a single parquet file, so link it into a
    * directory of its own — zero-copy, and the same shape a production
    * ingest sees. A directory path is returned as is. A file is staged
    * once per JVM (memoised by absolute path), and its directory and link
    * are deleted when the JVM exits.
    */
  def stageDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else staged.computeIfAbsent(p.toAbsolutePath.toString, { abs =>
      val dir = java.nio.file.Files.createTempDirectory("graft_src")
      dir.toFile.deleteOnExit() // registered first, so deleted last
      val link = java.nio.file.Files.createSymbolicLink(
        dir.resolve(p.getFileName), java.nio.file.Paths.get(abs))
      link.toFile.deleteOnExit()
      dir.toString
    })
  }

  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Open the events parquet directory as a STREAM with the same
    * schema-adaptive µs timestamp normalization
    * [[graft.ops.Tables.normalizeTs]] applies on the batch path (the corpus
    * has shipped `ts` both as nanos-as-long and as TIMESTAMP(MICROS)/NTZ —
    * see the batch-side comment). Pure reader: a NANOS-encoded corpus
    * needs [[graft.ops.Tables.NanosAsLongConf]] set at session build.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = graft.ops.Tables.parquet(spark, path).schema // ts: long (nanos) or ntz µs
    graft.ops.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(stageDir(path)))
  }

  /** A stateful streaming query creates one state-store instance per
    * shuffle partition PER stateful operator, each with its own checkpoint
    * files every micro-batch — at a bounded test volume that fixed cost
    * dwarfs the data. The partition count is frozen into the checkpoint at
    * FIRST start, so the bounded runners below pin a small count for the
    * query's lifetime and restore the session setting afterwards. A
    * production deployment sizes this to the live key cardinality instead
    * (state partitions, unlike batch shuffles, cannot be changed later
    * without rebuilding state — size generously there).
    */
  /** Streaming-leg fingerprint: the state-operator names of the LAST
    * completed graft streaming run, captured from the final micro-batch's
    * progress by every `runTo*` helper. The streaming analog of the batch
    * plan-fingerprint snapshot — a silent switch from, say, a streaming
    * dedup to a full aggregation (or a stateful operator appearing in a
    * supposedly stateless stream-static join) shows up here as a changed
    * name list. Names are Spark's own (`stateStoreSave`, `dedupe`,
    * `symmetricHashJoin`, `transformWithStateExec`, …).
    */
  def lastStateOps: Seq[String] = lastStateOpsRef.get
  private val lastStateOpsRef =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
  private def recordStateOps(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val p = q.lastProgress
    lastStateOpsRef.set(
      if (p == null) Nil else p.stateOperators.map(_.operatorName).toSeq)
  }

  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    SessionConf.withConf(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with trailing NO-DATA micro-batches disabled
    * (`spark.sql.streaming.noDataMicroBatches.enabled=false`): after the
    * last data batch of a bounded (`AvailableNow`) run, Spark would
    * schedule one extra empty batch purely to act on the advanced
    * watermark — a state-store load/commit round trip per stateful
    * operator per partition (measured: 0.65 s of stream_join's 1.7 s
    * batch wall). The bounded runners' sinks do not need it
    * (complete/update mode re-emits final state with the last data
    * batch; see [[runToParquet]]'s guard for the append-mode runner).
    */
  private def withoutNoDataBatches[T](spark: SparkSession)(body: => T): T =
    SessionConf.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** Run a streaming aggregate over the bounded file source to completion
    * (`Trigger.AvailableNow`) and return the final result table.
    *
    * Output goes through the memory sink in COMPLETE mode: the final state
    * covers every input row regardless of how the source split the files
    * into micro-batches, so the result equals the batch aggregate — the
    * determinism the driver's oracle needs. The memory sink is the test
    * transport only: it materializes the (aggregated, small) result on the
    * driver, exactly like any `collect()`-based check; a production run
    * writes the same query to a real sink in update/append mode.
    */
  def runToCompletion(spark: SparkSession, agg: DataFrame,
                      statePartitions: Int = 8): DataFrame = {
    val name = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    withoutNoDataBatches(spark) { withStatePartitions(spark, statePartitions) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordStateOps(q)
    } }
    spark.table(name)
  }

  /** Run a streaming (append-mode) transform over a bounded file source to
    * completion, writing PARQUET — the production sink shape: exactly-once
    * file commits via the checkpoint/commit log, resumable by checkpoint.
    * Returns the written rows read back.
    *
    * Append mode emits a streaming aggregate's window only once the
    * watermark passes it, which takes a no-data batch this runner does not
    * run, so the final windows would be dropped silently: a plan with a
    * streaming `Aggregate` is refused with an `IllegalArgumentException`.
    * Run those through [[runToCompletion]]. Deduplication, inner joins
    * and stateless transforms emit on arrival or match; a state function
    * whose event-time timeouts must fire needs the no-data batch too, which
    * is why the sessionization builders set a watermark delay past the
    * corpus span.
    */
  def runToParquet(spark: SparkSession, out: DataFrame,
                   statePartitions: Int = 8): DataFrame = {
    require(out.queryExecution.analyzed.find {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.isStreaming
        case _ => false
      }.isEmpty,
      "runToParquet runs append mode without no-data batches, so a " +
        "streaming aggregate's final windows would never be emitted; " +
        "use runToCompletion")
    val base = graft.ops.ModelStore.scratchDir("graft_stream")
    withoutNoDataBatches(spark) { withStatePartitions(spark, statePartitions) {
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordStateOps(q)
    } }
    spark.read.schema(out.schema).parquet(s"$base/data")
  }

  /** Crash/recovery proof — the RESUME half of the checkpoint contract
    * every other `runTo*` helper only exercises the write half of:
    *
    *  1. a checkpointed stateful streaming dedup (`dropDuplicates` on
    *     `event_id mod keyMod`) runs to completion over HALF the
    *     keyspace (keys < keyMod/2) and stops — the query object is
    *     gone, exactly as after a process death;
    *  2. the source keeps producing while the pipeline is down: a second
    *     file arrives carrying the FULL event set — new keys AND
    *     re-sends of every already-emitted key;
    *  3. a NEW query object (fresh `writeStream.start()`, same
    *     checkpoint + output directories — the process-restart shape)
    *     resumes: the file-source offset log skips the already-committed
    *     file, the RESTORED dedup state suppresses the re-sent keys, and
    *     only the genuinely new keys append.
    *
    * The returned frame is the parquet sink read back; it equals
    * `SELECT DISTINCT event_id mod keyMod` over the full input iff BOTH
    * recovery legs held — lost state re-emits every key < keyMod/2
    * (duplicate rows), a lost source log re-delivers files. The
    * correctness gate compares exactly that; `StreamResumeSpec` also
    * pins the per-phase split (phase 1 emits only the low keys, the
    * resumed query emits only the high ones).
    */
  def runResumedDedup(spark: SparkSession, dir: String,
                      keyMod: Int): DataFrame = {
    val ev = graft.ops.Tables.events(spark, dir)
      .select(col("event_id").cast("long").as("event_id"))
    val base = graft.ops.ModelStore.scratchDir("graft_resume")
    val src = s"$base/src"
    new java.io.File(src).mkdirs(): Unit
    def addFile(df: DataFrame, name: String): Unit = {
      val stage = s"$base/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet")): Unit
    }
    def runOnce(): Unit = withoutNoDataBatches(spark) { withStatePartitions(spark, 8) {
      val out = spark.readStream.schema("event_id BIGINT").parquet(src)
        .select(pmod(col("event_id"), lit(keyMod.toLong)).as("k"))
        .dropDuplicates("k")
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordStateOps(q)
    } }
    addFile(ev.where(pmod(col("event_id"), lit(keyMod.toLong)) <
      keyMod / 2), "phase1")
    runOnce() // ...process dies here: this query object is never reused
    addFile(ev, "phase2") // the world moved on while the pipeline was down
    runOnce() // NEW query object, SAME checkpoint — the restart
    spark.read.schema("k BIGINT").parquet(s"$base/data")
  }

  /** The STREAMING consumer half of the snapshot format's incremental
    * read ([[graft.ops.Snapshots.changesBetween]] is the batch half): a
    * tailing publisher links each append commit's data files into a
    * LANDING DIRECTORY that a standard file-stream source monitors —
    * so the consumer inherits the file source's offset log (exactly-once
    * across restarts, the property `stream_resume` proves) without any
    * custom Source implementation.
    *
    * Idempotent and monotone: every call links whatever committed files
    * the latest (or pinned) version lists that the landing dir lacks —
    * names are deterministic (`v<seq>_<relpath>`), links are zero-copy
    * and atomic, a lost race with a concurrent sync is benign. Files of
    * a commit only appear AFTER its manifest published (the sync reads
    * the manifest, never lists `data/`), so a half-written commit is
    * invisible — the publish-then-visible ordering a landing-dir ingest
    * contract needs. Replace commits are REJECTED like changesBetween
    * rejects them: a replace drops files the stream already consumed —
    * reprocess from the replace version with a fresh landing dir.
    * Returns the version synced through.
    */
  def syncSnapshotSource(root: String, stage: String,
                         version: Option[Long] = None): Long = {
    import java.nio.file.{Files, Paths}
    val latest = graft.ops.Snapshots.latestVersion(root).getOrElse(0L)
    if (latest == 0L) return 0L
    val v = version.getOrElse(latest)
    Files.createDirectories(Paths.get(stage)): Unit
    def names(files: Seq[graft.ops.Snapshots.FileEntry]) =
      files.map(f => f"v${f.seq}%08d_" + f.path.replace('/', '_'))
    val staged = Option(new java.io.File(stage).listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    // append-shape check — ALWAYS against the latest version: everything
    // already staged must still be listed there (a replace commit would
    // have dropped consumed files); a sync pinned to an EARLIER version
    // (a replayed phase after a crash) legitimately finds the dir ahead
    val latestSnap = graft.ops.Snapshots.snapshot(root, latest)
    require(latestSnap.rules.isEmpty,
      s"$root has live rename/drop schema rules — raw file links would " +
        "stream pre-rule shapes as NULLs; compact the table to " +
        "materialize the shape, then stream")
    require(staged.subsetOf(names(latestSnap.files).toSet),
      s"$root took a replace commit since this landing dir last synced — " +
        "the increment stream is broken; reprocess with a fresh landing dir")
    val files = if (v == latest) latestSnap.files
                else graft.ops.Snapshots.snapshot(root, v).files
    files.zip(names(files)).foreach { case (f, name) =>
      if (!staged.contains(name)) {
        try Files.createLink(Paths.get(stage, name), Paths.get(root, f.path)): Unit
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
    v
  }

  /** The snapshot-table change stream: a file-stream source over the
    * landing dir [[syncSnapshotSource]] maintains. Standard streaming
    * frame — watermark/aggregate/join/sink like any other source.
    */
  def snapshotSource(spark: SparkSession, stage: String,
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(stage)

  /** Drain `src` to a checkpointed parquet sink once (AvailableNow) —
    * the consumer leg of the snapshot change stream; each call is one
    * "process lifetime" (a fresh query object on the same checkpoint is
    * the restart shape). Records the state-operator fingerprint like
    * every other bounded runner.
    */
  def drainToParquet(spark: SparkSession, src: DataFrame,
                     path: String, ckpt: String): Unit = {
    val q = src.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStateOps(q)
  }

  /** Drain a bounded stream INTO a graft-snap snapshot table through the
    * front door's streaming sink ([[graft.sources.SnapshotDataSource]]):
    * one append commit per micro-batch, batch markers in the commit
    * notes making replays exactly-once. Same one-call-per-process-
    * lifetime shape as [[drainToParquet]]; records the state-operator
    * fingerprint like every other bounded runner.
    */
  def drainToSnap(spark: SparkSession, src: DataFrame,
                  dstRoot: String, ckpt: String): Unit = {
    val q = src.writeStream
      .outputMode(OutputMode.Append)
      .format("graft-snap")
      .option("path", dstRoot)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStateOps(q)
  }

  /** `foreachBatch` with an idempotent side sink — the bridge to writers
    * that only exist for batch (here the engine's own `graft-digest` V2
    * sink). Each micro-batch commits into a directory KEYED BY batchId, so
    * a replayed batch (failure recovery re-runs the last epoch) overwrites
    * its own directory instead of double-counting — idempotence is what
    * upgrades foreachBatch's at-least-once delivery to exactly-once
    * results. The per-batch digests then combine associatively (sum of
    * counts, xor of xors), exactly like the sink's own task-level commit
    * messages — a two-level version of the same distributed-commit shape.
    * Returns the combined (n_rows, xor_digest) row.
    */
  def foreachBatchDigest(spark: SparkSession, digests: DataFrame): DataFrame = {
    val base = graft.ops.ModelStore.scratchDir("graft_fbd")
    val q = digests.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.format("graft-digest")
          .option("path", s"$base/batch_$batchId")
          .mode("overwrite").save()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStateOps(q)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("xor_digest", LongType, nullable = false)))
    spark.read.schema(schema).json(s"$base/batch_*/digest.json")
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        expr("bit_xor(xor_digest)").as("xor_digest"))
  }

  /** Streaming CDC APPLY into a snapshot table — `foreachBatch` as the
    * bridge from a change stream to [[graft.ops.Reconcile.mergeApply]]
    * under [[graft.ops.Snapshots]] isolation: each micro-batch reads the
    * table's LATEST version, merges the batch (upserts replace/insert,
    * deletes drop), and publishes a REPLACE commit pinned (`basedOn`) to
    * the version it read — so a concurrent writer surfaces as a commit
    * conflict instead of a lost update, and a reader pinned to any
    * version never observes a half-applied batch. Exactly-once RESULT
    * semantics come from merge idempotence (a replayed epoch re-merges
    * the same keys to the same values), the same upgrade-path
    * `foreachBatchDigest` gets from batchId-keyed commit dirs. At 100 TB
    * the inner merge swaps for [[graft.ops.Reconcile.mergeTouched]]'s
    * partition-footprint rewrite; the commit protocol is unchanged.
    * Bounded-stream execution (`Trigger.AvailableNow`); returns the
    * number of commits published.
    */
  def cdcApplyStream(spark: SparkSession, changes: DataFrame, root: String,
                     keyCol: String, opCol: String): Long = {
    val ckpt = graft.ops.ModelStore.scratchDir("graft_cdc")
    val before = graft.ops.Snapshots.latestVersion(root).getOrElse(0L)
    val q = changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val base = graft.ops.Snapshots.latestVersion(root)
          val merged = graft.ops.Reconcile.mergeApply(
            graft.ops.Snapshots.read(spark, root), batch.toDF(), keyCol, opCol)
          graft.ops.Snapshots.commit(root, merged, s"cdc-$id",
            replace = true, basedOn = base): Unit
        }
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStateOps(q)
    graft.ops.Snapshots.latestVersion(root).getOrElse(0L) - before
  }

  /** [[cdcApplyStream]]'s merge-on-read twin — the shape a 100 TB CDC
    * sink actually ships: each micro-batch publishes ONE
    * [[graft.ops.Snapshots.commitChanges]] (upsert rows append, affected
    * keys tombstone), so per-batch cost is O(batch) — no target read, no
    * merge join, no rewrite — and the merged view materializes lazily at
    * read time ([[graft.ops.Snapshots.readMerged]]) until a scheduled
    * [[graft.ops.Snapshots.compactMerged]] retires the tombstones (the
    * read-amplification trade is priced in SCALE.md's `mor` leg).
    * Append commits REBASE past concurrent writers, so unlike the
    * replace-commit variant this sink coexists with other committers
    * without conflicts. A batch carrying several versions of one key
    * must be collapsed first ([[graft.ops.Reconcile.cdcLatest]] inside
    * a `transform`) — `commitChanges`'s one-row-per-key contract.
    * Returns the number of commits published.
    */
  def cdcApplyStreamMor(spark: SparkSession, changes: DataFrame,
                        root: String, keyCol: String,
                        opCol: String): Long = {
    val ckpt = graft.ops.ModelStore.scratchDir("graft_cdcm")
    val before = graft.ops.Snapshots.latestVersion(root).getOrElse(0L)
    val q = changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Snapshots.commitChanges(root,
            upserts = batch.toDF().where(col(opCol) =!= lit("delete"))
              .drop(opCol),
            deleteKeys = batch.toDF().where(col(opCol) === lit("delete"))
              .select(col(keyCol)),
            keyCol, s"cdc-mor-$id"): Unit
        }
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStateOps(q)
    graft.ops.Snapshots.latestVersion(root).getOrElse(0L) - before
  }

  /** Stream-stream INNER join with event-time range bounds — the
    * enrichment join of a live pipeline (each purchase picks up the same
    * user's clicks from the preceding hour). Both sides carry watermarks
    * and the join condition bounds the click time relative to the
    * purchase time, so each side's buffered state is EVICTED once the
    * other side's watermark passes the bound — bounded state on an
    * unbounded stream. Inner join emits on match (no watermark wait), so
    * a bounded run produces exactly the batch join's row set.
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("c_event_id"),
        col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("interval 1 hour") &&
      col("c_ts") <= col("p_ts"))
  }

  // ------------------------------------------- transformWithState surface

  /** Emitted running total per user: monotone `n_events`, money kept as
    * EXACT cents (a Double accumulator would make the total depend on
    * micro-batch arrival order; a Long sum is associative, so any batching
    * produces the same final state).
    */
  final case class UserAgg(user_id: Long, n_events: Long, total_cents: Long)

  /** Per-user running aggregate on Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes `flatMapGroupsWithState`: typed
    * state handles (`ValueState`/`ListState`/`MapState`) with per-state
    * TTL, timers decoupled from output mode, and state living in the
    * per-partition store (RocksDB provider required) — O(1) state per
    * user, shuffled once per micro-batch on the group key.
    *
    * Update-mode contract: every input batch emits the key's NEW
    * cumulative state, so the last emission per key (the one with the
    * largest `n_events`) equals the batch aggregate regardless of how the
    * source split the stream into micro-batches.
    */
  final class UserAggProcessor extends StatefulProcessor[Long, Evt, UserAgg] {
    @transient private var agg: ValueState[UserAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[UserAgg]("agg", Encoders.product[UserAgg],
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Evt],
                                 tv: TimerValues): Iterator[UserAgg] = {
      var cur = if (agg.exists()) agg.get() else UserAgg(key, 0L, 0L)
      rows.foreach { e =>
        cur = UserAgg(key, cur.n_events + 1,
          cur.total_cents + math.round(e.value * 100))
      }
      agg.update(cur)
      Iterator.single(cur)
    }
  }

  def runningUserTotals(events: Dataset[Evt]): Dataset[UserAgg] = {
    implicit val enc = Encoders.product[UserAgg]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new UserAggProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Run an update-mode stateful stream to completion through the memory
    * sink. `transformWithState` requires the RocksDB state store provider;
    * it is pinned for this query and the previous provider restored after
    * (state-store provider, like partition count, freezes into a
    * checkpoint at first start — per-query scoping keeps the other
    * streaming queries on the default provider).
    */
  def runToCompletionUpdate(spark: SparkSession, out: Dataset[_],
                            statePartitions: Int = 8): DataFrame =
    SessionConf.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val name = s"graft_tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withoutNoDataBatches(spark) { withStatePartitions(spark, statePartitions) {
        val q = out.writeStream
          .outputMode(OutputMode.Update)
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        recordStateOps(q)
      } }
      spark.table(name)
    }

  // ----------------------------------------------------- sessionization

  final case class Evt(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session accumulator kept in the state store (per user). */
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long, sum: Double)

  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Long,
                               total_value: Double)

  /** Gap-based sessionization with `flatMapGroupsWithState` — the
    * incremental twin of [[graft.ops.Events.sessionize]]. A session closes
    * (and is emitted, append-mode) when a later event of the same user
    * arrives past the gap, or when the event-time watermark passes
    * `last event + gap` (timeout). State per user is O(1): one open
    * session.
    *
    * Input must carry a watermark on `ts` (EventTimeTimeout requires it).
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def close(uid: Long, s: OpenSession): UserSession =
      UserSession(uid, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.sum)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(uid, s))
          } else {
            val sorted = evts.toArray.sortBy(_.ts.getTime)
            val out = new ArrayBuffer[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  Some(OpenSession(s.startMs, math.max(s.lastMs, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += close(uid, s)
                  Some(OpenSession(t, t, 1L, e.value))
                case None =>
                  Some(OpenSession(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            out.iterator
          }
      }
  }

  /** The same inactivity-closed sessions through Spark 4's
    * `transformWithState` with EVENT-TIME TIMERS — the arbitrary-state
    * API's replacement for `GroupStateTimeout`: instead of one implicit
    * timeout per key, the processor OWNS its timers (`registerTimer` /
    * `deleteTimer` / `listTimers` on the handle) and closes a session from
    * `handleExpiredTimer` when the watermark passes last-event + gap.
    * Within-batch gaps emit directly from `handleInputRows`; each batch
    * re-arms exactly ONE live timer per key (stale timers deleted first),
    * so timer state is O(1) per key like the session state itself.
    */
  final class InactivitySessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Evt, UserSession] {
    @transient private var open: ValueState[OpenSession] = _

    private def close(uid: Long, s: OpenSession): UserSession =
      UserSession(uid, new Timestamp(s.startMs), new Timestamp(s.lastMs),
        s.n, s.sum)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Evt],
                                 tv: TimerValues): Iterator[UserSession] = {
      val out = new ArrayBuffer[UserSession]
      // event-time order within a micro-batch is not guaranteed
      val sorted = rows.toArray.sortBy(_.ts.getTime)
      var cur = if (open.exists()) Some(open.get()) else None
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur = cur match {
          case Some(s) if t - s.lastMs <= gapMs =>
            Some(OpenSession(s.startMs, math.max(s.lastMs, t), s.n + 1,
              s.sum + e.value))
          case Some(s) =>
            out += close(key, s)
            Some(OpenSession(t, t, 1L, e.value))
          case None =>
            Some(OpenSession(t, t, 1L, e.value))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // one live timer per key: drop whatever an earlier batch armed
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.lastMs + gapMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[UserSession] =
      if (open.exists()) {
        val s = open.get()
        open.clear()
        Iterator.single(close(key, s))
      } else Iterator.empty
  }

  /** [[sessionize]] restated on the `transformWithState` timer surface —
    * emissions are identical (within-batch gap closes + watermark-driven
    * inactivity closes); input must carry a watermark on `ts`
    * (`TimeMode.EventTime` requires it).
    */
  def inactivitySessions(events: Dataset[Evt], gapMinutes: Int): Dataset[UserSession] = {
    implicit val enc = Encoders.product[UserSession]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new InactivitySessionProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Update())
  }
}
